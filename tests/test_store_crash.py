"""Crash matrix for the batch-keyed persisted stores.

Every store on ``plans/bandstore_core.py::BatchStore`` is driven
through one commit (or ingest) and one consolidate, with a crash
injected before each filesystem step the protocol takes: every
``os.rename`` / ``os.replace`` / ``shutil.rmtree`` of an existing path,
every parquet write, and every done marker, as ``bandstore_core``
performs them. After each crash the store is reopened (which
recovers) and must read, tree by tree, as either its complete state
before the step or its complete state after it; a consolidate crash
must read as the unchanged content. Retrying the step must then
converge to exactly what the uncrashed step produced.

Reads go through pyarrow over the partitions Spark's readers would
see (``batch=*`` directories), folded into each store's probe view,
so checking a crash point costs no Spark job.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from mongo2pq_spark.plans import bandstore_core


class Crash(Exception):
    pass


def _fault(monkeypatch, crash_at: int | None) -> list[int]:
    """Patch the filesystem steps as ``bandstore_core`` sees them to
    count themselves and raise ``Crash`` at step ``crash_at`` (before
    the step runs). Returns the live step counter."""
    count = [0]
    real_os, real_shutil = bandstore_core.os, bandstore_core.shutil
    real_write = bandstore_core.write_parquet
    real_mark = bandstore_core.RunLog.mark_done

    def step() -> None:
        count[0] += 1
        if count[0] == crash_at:
            raise Crash(f"crash before step {crash_at}")

    class FaultyOs:
        def __getattr__(self, name):
            return getattr(real_os, name)

        def rename(self, src, dst):
            step()
            real_os.rename(src, dst)

        def replace(self, src, dst):
            step()
            real_os.replace(src, dst)

    class FaultyShutil:
        def __getattr__(self, name):
            return getattr(real_shutil, name)

        def rmtree(self, path, ignore_errors=False):
            if real_os.path.exists(path):
                step()
            real_shutil.rmtree(path, ignore_errors=ignore_errors)

    def write(df, path):
        step()
        real_write(df, path)

    def mark_done(self, token):
        step()
        real_mark(self, token)

    monkeypatch.setattr(bandstore_core, "os", FaultyOs())
    monkeypatch.setattr(bandstore_core, "shutil", FaultyShutil())
    monkeypatch.setattr(bandstore_core, "write_parquet", write)
    monkeypatch.setattr(bandstore_core.RunLog, "mark_done", mark_done)
    return count


# -- reads -------------------------------------------------------------------


def _rows(tree: Path) -> list[dict]:
    return [
        row
        for part in sorted(tree.glob("batch=*"))
        for f in sorted(part.glob("*.parquet"))
        for row in pq.read_table(f).to_pylist()
    ]


def _row_set(tree: Path) -> frozenset:
    return frozenset(tuple(sorted(r.items())) for r in _rows(tree))


def _span_view(tree: Path) -> frozenset:
    """The history each probing token sees: hashes not contributed
    by that token alone."""
    rows = _rows(tree)
    tokens = {r["src_token"] for r in rows} | {"fresh"}
    return frozenset(
        (t, r["h"])
        for t in tokens
        for r in rows
        if r["multi"] or r["src_token"] != t
    )


def _summed(tree: Path, keys: tuple[str, ...], value: str) -> frozenset:
    sums: dict = {}
    for r in _rows(tree):
        key = tuple(r[k] for k in keys)
        sums[key] = sums.get(key, 0) + r[value]
    return frozenset(sums.items())


def _postings(tree: Path) -> frozenset:
    out = set()
    for r in _rows(tree):
        doc = 0
        for delta, tf in zip(r["doc_id_deltas"], r["tfs"]):
            doc += delta
            out.add((r["term"], doc, tf))
    return frozenset(out)


def _layout(store_dir: Path) -> dict:
    """Relative paths (Spark part-file names ignored) and the content
    of every JSON file."""
    out = {}
    for p in sorted(store_dir.rglob("*")):
        if "part-" in p.name or p.name.endswith(".crc"):
            continue
        rel = str(p.relative_to(store_dir))
        out[rel] = json.loads(p.read_text()) if p.suffix == ".json" else None
    return out


# -- the five stores -----------------------------------------------------------

WORDS = [
    "amber", "basil", "cedar", "delta", "ember", "fjord", "grove", "harbor",
    "indigo", "juniper", "kelp", "lumen", "maple", "nectar", "onyx", "prism",
]


def _texts(batch: int, n: int = 2) -> list[tuple[int, str]]:
    """Documents whose only overlap is one shared 8-word span: far
    from near-dups of each other, but with span history to probe."""
    rows = []
    for i in range(n):
        doc = 10 * batch + i
        words = " ".join(f"{w}{doc}" for w in WORDS[:12])
        shared = "alpha beta gamma delta epsilon zeta eta theta"
        rows.append((doc, f"{shared} {words}"))
    return rows


def _docs(spark, batch: int):
    return spark.createDataFrame(_texts(batch), "doc_id long, text string")


def _near_ingest(spark, d: Path, batch: int) -> None:
    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    store = NearDedupStore(d, "docs", text_col="text")
    df = _docs(spark, batch)
    token = store.batch_token(df)
    store.filter_new(df, token)
    store.commit(token)


def _near_open(d: Path):
    from mongo2pq_spark.plans.neardedup_store import NearDedupStore

    return NearDedupStore(d, "docs", text_col="text")


def _images(spark, batch: int):
    import hashlib

    import numpy as np

    from mongo2pq_spark.operators.multimodal import encode_png

    rng = np.random.default_rng(batch)
    rows = []
    for _ in range(2):
        payload = encode_png(rng.integers(0, 256, (8, 9, 3), dtype="uint8"))
        rows.append((hashlib.md5(payload).hexdigest(), payload, "image/png"))
    return spark.createDataFrame(
        rows, "payload_md5 string, payload binary, mime string"
    )


def _media_ingest(spark, d: Path, batch: int) -> None:
    store = _media_open(d)
    df = _images(spark, batch)
    token = store.batch_token(df)
    store.filter_new(df, token)
    store.commit(token)


def _media_open(d: Path):
    from mongo2pq_spark.plans.mediadedup_store import ImageDedupStore

    return ImageDedupStore(d, "imgs")


def _span_ingest(spark, d: Path, batch: int) -> None:
    _span_open(d).process_increment(spark, _docs(spark, batch))


def _span_open(d: Path):
    from mongo2pq_spark.plans.spanstore import SpanHashStore

    return SpanHashStore(d, "docs")


def _nb_ingest(spark, d: Path, batch: int) -> None:
    from mongo2pq_spark.operators.classifier import ingest_nb_counts

    df = _docs(spark, batch).selectExpr(
        "text", "if(doc_id % 2 = 0, 'even', 'odd') AS label"
    )
    ingest_nb_counts(df, str(d), f"w{batch}", "label")


def _nb_open(d: Path):
    from mongo2pq_spark.operators.classifier import NBCountStore

    return NBCountStore(str(d), "label", None)


def _index_ingest(spark, d: Path, batch: int) -> None:
    from mongo2pq_spark.operators.text import write_inverted_index

    write_inverted_index(
        _docs(spark, batch), str(d), n_shards=2, batch_token=f"t{batch}"
    )


def _index_open(d: Path):
    from mongo2pq_spark.operators.text import InvertedIndexStore

    return InvertedIndexStore(str(d))


#: name -> (ingest, open, {tree (relative to the store root): view})
STORES = {
    "near_dedup": (
        _near_ingest, _near_open,
        {"docs/sigs": _row_set, "docs/bands": _row_set},
    ),
    "media": (_media_ingest, _media_open, {"imgs/fps": _row_set}),
    "span": (_span_ingest, _span_open, {"docs/spans": _span_view}),
    "nb": (
        _nb_ingest, _nb_open,
        {
            "term_counts": lambda t: _summed(t, ("label", "term"), "c"),
            "doc_counts": lambda t: _summed(t, ("label",), "n_docs"),
        },
    ),
    "index": (_index_ingest, _index_open, {"": _postings}),
}


@pytest.fixture(scope="module")
def base_states(spark, tmp_path_factory):
    """Per store: batches 1 and 2 folded into c0, batch 3 committed
    next to it — so a fold also swaps out an existing c0 and extends
    an existing absorbed record."""
    cache: dict[str, Path] = {}

    def get(name: str) -> Path:
        if name not in cache:
            ingest, open_store, _ = STORES[name]
            d = tmp_path_factory.mktemp(f"base_{name}") / "store"
            ingest(spark, d, 1)
            ingest(spark, d, 2)
            open_store(d).consolidate(spark)
            ingest(spark, d, 3)
            cache[name] = d
        return cache[name]

    return get


@pytest.mark.parametrize("phase", ["commit", "consolidate"])
@pytest.mark.parametrize("name", sorted(STORES))
def test_store_survives_crash_at_every_step(
    spark, base_states, tmp_path, monkeypatch, name, phase
):
    ingest, open_store, trees = STORES[name]

    def run_step(d: Path) -> None:
        if phase == "commit":
            ingest(spark, d, 4)
        else:
            open_store(d).consolidate(spark)

    def views(d: Path) -> dict:
        return {t: view(d / t) for t, view in trees.items()}

    base = base_states(name)
    ref = tmp_path / "ref"
    shutil.copytree(base, ref)
    before = views(ref)
    with monkeypatch.context() as m:
        count = _fault(m, None)
        run_step(ref)
    n_steps = count[0]
    after, after_layout = views(ref), _layout(ref)
    if phase == "consolidate":
        assert after == before  # a fold preserves every probe answer
    assert n_steps >= 1

    for crash_at in range(1, n_steps + 1):
        d = tmp_path / f"crash{crash_at}"
        shutil.copytree(base, d)
        with monkeypatch.context() as m:
            _fault(m, crash_at)
            with pytest.raises(Crash):
                run_step(d)
        open_store(d)  # reopening recovers
        got = views(d)
        for tree, rows in got.items():
            assert rows in (before[tree], after[tree]), (crash_at, tree)
        run_step(d)  # the retry
        assert views(d) == after, crash_at
        assert _layout(d) == after_layout, crash_at
        shutil.rmtree(d)
