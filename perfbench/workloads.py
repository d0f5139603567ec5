"""The workloads: inputs, one iteration, and its correctness check.

Each workload runs as a closed loop with one client: one ``cli.main``
call or one query at a time, ``parallel_collections=1``. An iteration
returns one ``Op`` per operation (one collection's extract-load, or one
query); ``check`` then marks operations whose output is wrong. Nothing
in ``check`` or ``reset`` is timed.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

from perfbench import inputs


@dataclass
class Op:
    name: str
    ok: bool = True
    error: str = ""

    def fail(self, why: str) -> None:
        self.ok = False
        self.error = self.error or why


def _tree_size(root: Path) -> tuple[int, int]:
    """(files, bytes) under ``root``; (0, 0) if it does not exist."""
    if not root.exists():
        return 0, 0
    files = [p for p in root.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def _parquet_parts(dataset: Path) -> list[Path]:
    return sorted(p for p in dataset.rglob("*.parquet") if p.is_file())


def _parquet_rows(dataset: Path) -> int:
    return sum(pq.read_metadata(p).num_rows for p in _parquet_parts(dataset))


class Workload:
    """Common shape: ``prepare`` makes the inputs, ``reset`` clears the
    last iteration's outputs, ``iterate`` runs one iteration and
    ``check`` marks wrong outputs."""

    name = ""

    def __init__(self, spark, cache_root: Path, work: Path, seed: int, size):
        self.spark = spark
        self.cache_root = cache_root
        self.work = work
        self.seed = seed
        self.size = size
        self.input: inputs.InputSet | None = None

    def prepare(self) -> inputs.InputSet:
        raise NotImplementedError

    def reset(self) -> None:
        """Untimed clean-up before an iteration."""

    def iterate(self, tracer) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> None:
        """Untimed: mark wrong outputs as failed operations."""

    def rows_per_iteration(self) -> int:
        """Input rows one iteration reads."""
        return self.input.rows

    def in_bytes_per_iteration(self) -> int:
        """Input bytes one iteration reads."""
        return self.input.bytes

    def out_stats(self) -> dict:
        """Bytes and files the last iteration left on disk."""
        return {}


def _call_cli(spark, tracer, op_name: str, **kwargs) -> Op:
    from mongo2pq_spark import cli

    op = Op(op_name)
    try:
        with tracer.span("cli.main"):
            rc = cli.main(parallel_collections=1, spark=spark, **kwargs)
        if rc != 0:
            op.fail(f"cli.main returned {rc}")
    except Exception as err:  # one failed collection must not end the run
        op.fail(f"{type(err).__name__}: {err}"[:300])
    return op


# -- el_dirty ------------------------------------------------------------

#: Spark types of the F1 dataset as re-read after the EL run: inferred
#: from the sample, then retyped and renamed by F3. ``source_datapoint``
#: is the hive partition column, read back from directory names.
EL_DIRTY_TYPES = {
    "_id": "string",
    "active_is": "boolean",
    "chaos_mixed": "string",
    "count_plain": "int",
    "day_event": "date",
    "field_ghost": "string",
    "field_sparse": "string",
    "id_big": "string",
    "id_huge": "string",
    "id_numeric": "int",
    "note": "string",
    "orientation_flap": "float",
    "source_datapoint": "string",
    "temp_engine": "float",
    "time_telemetry_snapshot": "timestamp",
    "ts_recorded": "timestamp",
    "val_zero": "int",
}


class ElDirty(Workload):
    """F1 telemetry JSONL through ``cli.main`` with sampled inference,
    the F3 config and ``-p source_datapoint``."""

    name = "el_dirty"
    partition_key = "source_datapoint"

    def prepare(self) -> inputs.InputSet:
        self.input = inputs.telemetry(self.cache_root, self.seed, self.size)
        self.out = self.work / "el_dirty_out"
        return self.input

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def iterate(self, tracer) -> list[Op]:
        return [
            _call_cli(
                self.spark,
                tracer,
                inputs.F1_COLLECTION,
                uri=f"file:{self.input.files['src']}",
                outdir=self.out,
                config_file=self.input.files["config"],
                partition_key=self.partition_key,
            )
        ]

    def dataset(self) -> Path:
        return self.out / f"{inputs.F1_COLLECTION}.parquet"

    def check(self, ops: list[Op]) -> None:
        op = ops[0]
        if not op.ok:
            return
        ds = self.dataset()
        rows = _parquet_rows(ds)
        if rows != self.input.rows:
            op.fail(f"wrote {rows} rows of {self.input.rows}")
        types = dict(self.spark.read.parquet(str(ds)).dtypes)
        if types != EL_DIRTY_TYPES:
            diff = sorted(set(types.items()) ^ set(EL_DIRTY_TYPES.items()))
            op.fail(f"re-read schema differs from the pinned F1 types: {diff}")
        parts = {p.name for p in ds.iterdir() if p.is_dir()}
        want = {f"{self.partition_key}={s}" for s in self.input.extra["sources"]}
        if parts != want:
            op.fail(f"partition dirs {sorted(parts)} != {sorted(want)}")

    def out_stats(self) -> dict:
        files = len(_parquet_parts(self.dataset()))
        _, size = _tree_size(self.out)
        return {"out_bytes": size, "el_files": files}


# -- el_store ------------------------------------------------------------


class ElStore(Workload):
    """Two document generations through the near-dedup store, then a
    replay of generation B with ``--near-dedup-consolidate``."""

    name = "el_store"

    def prepare(self) -> inputs.InputSet:
        self.input = inputs.store_generations(self.cache_root, self.seed, self.size)
        self.store = self.work / "el_store_store"
        self.outs = {k: self.work / f"el_store_{k}" for k in ("a", "b", "replay")}
        gen_a = pq.read_table(self.input.files["gen_a"] / "docs.parquet")
        gen_b = pq.read_table(self.input.files["gen_b"] / "docs.parquet")
        self.rows = {"a": gen_a.num_rows, "b": gen_b.num_rows}
        self.bytes = {
            k: _tree_size(self.input.files[f"gen_{k}"])[1] for k in ("a", "b")
        }
        self.ids = {
            "a": set(gen_a.column("doc_id").to_pylist()),
            "b": set(gen_b.column("doc_id").to_pylist()),
        }
        return self.input

    def reset(self) -> None:
        for path in (self.store, *self.outs.values()):
            shutil.rmtree(path, ignore_errors=True)

    def iterate(self, tracer) -> list[Op]:
        common = dict(
            use_source_types=True,
            dedup_text_col="text",
            dedup_id_col="doc_id",
            near_dedup_store=self.store,
        )
        runs = (("a", "gen_a", False), ("b", "gen_b", False), ("replay", "gen_b", True))
        return [
            _call_cli(
                self.spark,
                tracer,
                f"store_{out}",
                uri=f"file:{self.input.files[gen]}",
                outdir=self.outs[out],
                near_dedup_consolidate=consolidate,
                **common,
            )
            for out, gen, consolidate in runs
        ]

    def _written(self, key: str):
        return pq.read_table(self.outs[key] / "docs.parquet")

    def check(self, ops: list[Op]) -> None:
        written = {}
        for op, key, gen in zip(ops, ("a", "b", "replay"), ("a", "b", "b")):
            if not op.ok:
                continue
            table = self._written(key)
            ids = table.column("doc_id").to_pylist()
            written[key] = table
            if len(set(ids)) != len(ids):
                op.fail("duplicate doc_id in the written rows")
            # a duplicate-free subset of the input: written plus
            # dropped is then exactly the input
            if not set(ids) <= self.ids[gen]:
                op.fail("written rows that are not in the input")
            # generation A goes into an empty store and B's new documents
            # share almost no word trigrams with A: all of them must stay
            must_keep = self.ids["a"] if gen == "a" else set(self.input.extra["kinds"]["new"])
            lost = must_keep - set(ids)
            if lost:
                op.fail(f"{len(lost)} documents that are no duplicates were dropped")
            if gen == "b":
                kept = set(self.input.extra["kinds"]["repeat"]) & set(ids)
                if kept:
                    op.fail(f"{len(kept)} verbatim repeats were not dropped")
        if "b" in written and "replay" in written:

            def rows(t):
                return sorted(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

            if rows(written["b"]) != rows(written["replay"]):
                ops[2].fail("the replay wrote a different row set than run B")

    def rows_per_iteration(self) -> int:
        return self.rows["a"] + 2 * self.rows["b"]

    def in_bytes_per_iteration(self) -> int:
        return self.bytes["a"] + 2 * self.bytes["b"]

    def out_stats(self) -> dict:
        el_bytes = sum(_tree_size(p)[1] for p in self.outs.values())
        el_files = sum(len(_parquet_parts(p)) for p in self.outs.values())
        store_files, store_bytes = _tree_size(self.store)
        written = sum(_parquet_rows(p) for p in self.outs.values())
        probed = self.rows_per_iteration()
        return {
            "out_bytes": el_bytes + store_bytes,
            "el_files": el_files,
            "store_files": store_files,
            "store_bytes": store_bytes,
            "rows_probed": probed,
            "rows_dropped": probed - written,
        }


# -- el: both EL parts in one iteration -----------------------------------


class El(Workload):
    """``ElDirty``'s collection, then ``ElStore``'s three store runs, as
    one iteration of four ``cli.main`` calls. ``size`` is (F1 rows,
    documents per store generation)."""

    name = "el"

    def __init__(self, spark, cache_root: Path, work: Path, seed: int, size):
        super().__init__(spark, cache_root, work, seed, size)
        self.dirty = ElDirty(spark, cache_root, work, seed, size[0])
        self.store = ElStore(spark, cache_root, work, seed, size[1])
        self.parts = (self.dirty, self.store)

    def prepare(self) -> inputs.InputSet:
        for part in self.parts:
            part.prepare()
        self.input = inputs.InputSet(
            root=self.cache_root,
            rows=sum(p.input.rows for p in self.parts),
            bytes=sum(p.input.bytes for p in self.parts),
            extra={p.name: p.input.describe() for p in self.parts},
        )
        return self.input

    def reset(self) -> None:
        for part in self.parts:
            part.reset()

    def iterate(self, tracer) -> list[Op]:
        return [op for part in self.parts for op in part.iterate(tracer)]

    def check(self, ops: list[Op]) -> None:
        self.dirty.check(ops[:1])
        self.store.check(ops[1:])

    def rows_per_iteration(self) -> int:
        return sum(p.rows_per_iteration() for p in self.parts)

    def in_bytes_per_iteration(self) -> int:
        return sum(p.in_bytes_per_iteration() for p in self.parts)

    def out_stats(self) -> dict:
        dirty, store = self.dirty.out_stats(), self.store.out_stats()
        return {
            **store,
            "out_bytes": dirty["out_bytes"] + store["out_bytes"],
            "el_files": dirty["el_files"] + store["el_files"],
        }


# -- query_mix -----------------------------------------------------------

#: the six registry queries, with the tables each reads
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q9_product_profit": ("lineitem", "part", "supplier", "orders", "nation"),
    "dedup_near_clusters": ("documents",),
    "embedding_near_dup": ("embeddings",),
    "pipeline_tokens_to_shards": ("documents",),
    "corpus_perplexity_buckets": ("documents",),
}


class QueryMix(Workload):
    """Six registry queries, each built and run to a ``noop`` sink. The
    correctness pass (the cold pass) collects each result instead and
    compares it with the query's DuckDB oracle."""

    name = "query_mix"

    def prepare(self) -> inputs.InputSet:
        self.input = inputs.query_tables(self.cache_root, self.seed, self.size)
        self.sf_dir = str(self.input.root)
        self.table_rows = {
            t: pq.read_metadata(p).num_rows for t, p in self.input.files.items()
        }
        self.table_bytes = {t: p.stat().st_size for t, p in self.input.files.items()}
        self.result_bytes = 0
        return self.input

    def _specs(self):
        from mongo2pq_spark.queries.registry import load_all

        specs = load_all()
        return [(name, specs[name]) for name in QUERY_TABLES]

    def iterate(self, tracer) -> list[Op]:
        ops = []
        for name, spec in self._specs():
            op = Op(name)
            try:
                with tracer.span(f"query.{name}"):
                    with tracer.span(f"query.{name}.build"):
                        df = spec.fn(self.spark, self.sf_dir)
                    with tracer.span(f"query.{name}.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as err:
                op.fail(f"{type(err).__name__}: {err}"[:300])
            ops.append(op)
        return ops

    def oracle_pass(self, tracer) -> tuple[list[Op], float]:
        """Cold pass: build and collect every query, then compare with
        DuckDB. Returns the ops and the Spark-side seconds."""
        import duckdb

        con = duckdb.connect()
        for table, path in self.input.files.items():
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        ops, spark_s, self.result_bytes = [], 0.0, 0
        try:
            for name, spec in self._specs():
                op = Op(name)
                ops.append(op)
                start = time.perf_counter()
                try:
                    with tracer.span(f"query.{name}"):
                        with tracer.span(f"query.{name}.build"):
                            df = spec.fn(self.spark, self.sf_dir)
                        with tracer.span(f"query.{name}.action"):
                            result = df.toArrow()
                except Exception as err:
                    op.fail(f"{type(err).__name__}: {err}"[:300])
                    continue
                finally:
                    spark_s += time.perf_counter() - start
                self.result_bytes += result.nbytes
                try:
                    self._compare(op, spec, result, con)
                except duckdb.Error as err:
                    op.fail(f"oracle failed: {err}"[:300])
        finally:
            con.close()
        return ops, spark_s

    @staticmethod
    def _compare(op: Op, spec, result, con) -> None:
        """Columns, row count, then canonical values, as
        ``tests/oracle_harness.py::compare_query`` compares them."""
        from tests.oracle_harness import canonical_rows

        if spec.oracle is None:
            op.fail("query has no oracle")
            return
        rel = con.sql(spec.oracle)
        duck_cols, duck_rows = list(rel.columns), rel.fetchall()
        spark_cols = result.column_names
        spark_rows = [tuple(r.values()) for r in result.to_pylist()]
        if sorted(spark_cols) != sorted(duck_cols):
            op.fail(f"columns {sorted(spark_cols)} != oracle {sorted(duck_cols)}")
        elif len(spark_rows) != len(duck_rows):
            op.fail(f"{len(spark_rows)} rows != oracle {len(duck_rows)}")
        elif canonical_rows(spark_cols, spark_rows) != canonical_rows(duck_cols, duck_rows):
            op.fail("values differ from the oracle")

    def rows_per_iteration(self) -> int:
        return sum(self.table_rows[t] for ts in QUERY_TABLES.values() for t in ts)

    def in_bytes_per_iteration(self) -> int:
        return sum(self.table_bytes[t] for ts in QUERY_TABLES.values() for t in ts)

    def out_stats(self) -> dict:
        return {"out_bytes": self.result_bytes}


WORKLOADS = {w.name: w for w in (El, QueryMix)}
