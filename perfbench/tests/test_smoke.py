"""Each workload at a tiny size: one iteration passes its correctness
check, and the check catches a wrong output."""

import json
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, Op, QueryMix

TINY = {"el": (2_000, 200), "query_mix": 0.001}


@pytest.fixture
def make(spark, tmp_path, tmp_path_factory):
    cache = tmp_path_factory.getbasetemp() / "inputs"

    def build(name):
        wl = WORKLOADS[name](spark, cache, tmp_path, seed=3, size=TINY[name])
        wl.prepare()
        return wl

    return build


def _drop_docs(dataset, ids) -> None:
    """Rewrite a written ``docs.parquet`` dataset without ``ids``."""
    table = pq.read_table(dataset)
    table = table.filter(pc.invert(pc.is_in(table["doc_id"], pa.array(ids))))
    shutil.rmtree(dataset)
    dataset.mkdir()
    pq.write_table(table, dataset / "part-0.parquet")


def test_el_iteration_is_correct_and_wrong_outputs_are_caught(make):
    wl = make("el")
    wl.reset()
    ops = wl.iterate(Tracer())
    wl.check(ops)
    assert [op.ok for op in ops] == [True] * 4, [op.error for op in ops]
    stats = wl.out_stats()
    assert stats["el_files"] >= len(wl.dirty.input.extra["sources"])
    assert stats["rows_dropped"] >= len(wl.store.input.extra["kinds"]["repeat"])
    assert stats["store_files"] > 0

    # a lost F1 partition: rows and partition dirs no longer match
    lost = sorted(p for p in wl.dirty.dataset().iterdir() if p.is_dir())[0]
    for f in lost.iterdir():
        f.unlink()
    lost.rmdir()
    # a written new document claimed as a verbatim repeat: the check
    # must report it as not dropped
    written_b = wl.store._written("b").column("doc_id").to_pylist()
    wl.store.input.extra["kinds"]["repeat"].append(written_b[0])
    broken = [Op(op.name) for op in ops]
    wl.check(broken)
    assert [op.ok for op in broken] == [False, True, False, False]
    assert "rows" in broken[0].error and "repeats" in broken[2].error

    # a store that drops documents that are no duplicates: one of
    # generation A, and one of B's new documents on the replay
    _drop_docs(wl.store.outs["a"] / "docs.parquet", [sorted(wl.store.ids["a"])[0]])
    new_doc = wl.store.input.extra["kinds"]["new"][0]
    _drop_docs(wl.store.outs["replay"] / "docs.parquet", [new_doc])
    broken = [Op(op.name) for op in ops]
    wl.check(broken)
    assert [op.ok for op in broken] == [False, False, False, False]
    assert "no duplicates were dropped" in broken[1].error
    assert "no duplicates were dropped" in broken[3].error


def test_query_mix_oracle_pass_is_correct_and_a_wrong_value_is_caught(make):
    wl = make("query_mix")
    ops, spark_s = wl.oracle_pass(Tracer())
    assert all(op.ok for op in ops), [(op.name, op.error) for op in ops]
    assert spark_s > 0 and wl.out_stats()["out_bytes"] > 0
    assert wl.rows_per_iteration() > wl.input.rows  # tables read more than once

    import duckdb

    spec = dict(wl._specs())["q1_pricing_summary"]
    con = duckdb.connect()
    for table, path in wl.input.files.items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    good = con.sql(spec.oracle).arrow()
    if hasattr(good, "read_all"):
        good = good.read_all()
    op = Op("q1_pricing_summary")
    QueryMix._compare(op, spec, good, con)
    assert op.ok, op.error
    bad = good.set_column(
        good.column_names.index("count_order"),
        "count_order",
        pa.array([v + 1 for v in good.column("count_order").to_pylist()]),
    )
    op = Op("q1_pricing_summary")
    QueryMix._compare(op, spec, bad, con)
    assert not op.ok and "values differ" in op.error
    con.close()


def test_benchmark_json_names_every_metric():
    from perfbench import layers
    from perfbench.run import ROOT, SIZES

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in bench["workloads"]} == set(SIZES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
