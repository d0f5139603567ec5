"""Metric names and units, and the per-layer metrics of a traced run.

Wrapped functions (see ``install``) record spans named after the
engine module they belong to. A traced iteration's per-layer metrics
are the spans' wall time plus the executor work the event log
attributes to their job groups, summed over the span and its
descendants. Each metric is the median over the traced warm
iterations.
"""

from __future__ import annotations

import statistics

from perfbench.eventlog import GroupStats
from perfbench.trace import Span, Tracer, self_times, subtree
from perfbench.workloads import QUERY_TABLES

END_TO_END = {
    "setup_s": "s",
    "run_s_p50": "s",
    "rows_per_s": "rows/s",
    "out_bytes_per_in_byte": "ratio",
    "peak_rss_mb": "MB",
}

_QUERY_METRICS = {
    "build_s": "s",
    "action_s": "s",
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "shuffle_bytes": "bytes",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "deploy.ensure_shipped_s": "s",
    "sources.read_table_s": "s",
    "sources.read_table_jobs": "count",
    "sources.input_bytes": "bytes",
    "schema.infer_s": "s",
    "schema.infer_jobs": "count",
    "schema.infer_tasks": "count",
    "schema.infer_cpu_s": "s",
    "config.parse_s": "s",
    "schema.use_config_s": "s",
    "schema.apply_s": "s",
    "schema.yaml_dump_s": "s",
    "pipeline.write_s": "s",
    "pipeline.write_jobs": "count",
    "pipeline.write_tasks": "count",
    "pipeline.cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "bytes",
    "dedup.exact_s": "s",
    "store.batch_token_s": "s",
    "store.filter_new_s": "s",
    "store.commit_s": "s",
    "store.consolidate_s": "s",
    "store.rows_probed": "count",
    "store.rows_dropped": "count",
    "store.drop_ratio": "ratio",
    "store.files": "count",
    "store.bytes": "bytes",
    "cli.main_s": "s",
    "cli.self_s": "s",
    "cli.jobs": "count",
    "cli.cold_extra_s": "s",
    **{
        f"query.{q}.{m}": unit
        for q in QUERY_TABLES
        for m, unit in _QUERY_METRICS.items()
    },
    "cache.calls": "count",
    "cache.hits": "count",
    "cache.evicted_unmaterialized": "count",
    "trace.overhead_frac": "fraction",
    "error_rate": "fraction",
}


def install(tracer: Tracer) -> list[str]:
    """Wrap the engine's public functions; returns the targets that do
    not exist in this version of the engine (their spans stay empty)."""
    import importlib

    targets = [
        ("mongo2pq_spark.deploy", "ensure_shipped", "deploy.ensure_shipped"),
        ("mongo2pq_spark.sources.registry", "read_table", "sources.read_table"),
        ("mongo2pq_spark.schema.inference", "infer_schema_from_df", "schema.infer"),
        ("mongo2pq_spark.config", "parse_config", "config.parse"),
        ("mongo2pq_spark.schema.model:Schema", "use_config", "schema.use_config"),
        ("mongo2pq_spark.schema.model:Schema", "apply", "schema.apply"),
        ("mongo2pq_spark.schema.yaml_io", "dump_schema_to_file", "schema.yaml_dump"),
        ("mongo2pq_spark.plans.pipeline", "extract_load_collection", "pipeline.write"),
        ("mongo2pq_spark.operators.dedup", "drop_exact_duplicates", "dedup.exact"),
        ("mongo2pq_spark.plans.neardedup_store:NearDedupStore", "batch_token", "store.batch_token"),
        ("mongo2pq_spark.plans.neardedup_store:NearDedupStore", "filter_new", "store.filter_new"),
        ("mongo2pq_spark.plans.neardedup_store:NearDedupStore", "commit", "store.commit"),
        ("mongo2pq_spark.plans.neardedup_store:NearDedupStore", "consolidate", "store.consolidate"),
    ]
    # load every query module first, so aliases of wrapped functions
    # bound at their import time are found and rebound too
    from mongo2pq_spark.queries.registry import load_all

    load_all()
    missing = []
    for where, attr, span in targets:
        mod_name, _, cls = where.partition(":")
        try:
            owner = importlib.import_module(mod_name)
            owner = getattr(owner, cls) if cls else owner
        except (ImportError, AttributeError):
            owner = None
        if owner is None or not tracer.patch(owner, attr, span):
            missing.append(f"{where}.{attr}")

    from mongo2pq_spark.operators import cache

    def cache_hit(span: Span, args, result) -> None:
        # cache_stream returns its argument, persisted, on a miss and
        # the live cached frame of the same plan on a hit
        span.attrs["hit"] = bool(args) and result is not args[0]

    if not tracer.patch(cache, "cache_stream", "cache.stream", on_call=cache_hit):
        missing.append("mongo2pq_spark.operators.cache.cache_stream")
    return missing


def evicted_unmaterialized() -> int:
    """The cache registry's eviction counter, or 0 once it is gone."""
    from mongo2pq_spark.operators import cache

    counter = getattr(cache, "evicted_unmaterialized_count", None)
    return counter() if counter else 0


class Attribution:
    """Spans of one run joined with the event log's job-group totals."""

    def __init__(self, spans: list[Span], stats: dict[str | None, GroupStats]):
        self.spans = spans
        self.stats = stats
        self.self_s = self_times(spans)

    def _top(self, spans: list[Span], name: str) -> list[Span]:
        """Spans named ``name`` not nested in another span of that name."""
        by_id = {s.sid: s for s in self.spans}
        out = []
        for s in spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and by_id[p].name != name:
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def inclusive(self, span: Span) -> GroupStats:
        total = GroupStats()
        for s in subtree(self.spans, span.sid):
            total.add(self.stats.get(s.group, GroupStats()))
        return total

    def iteration(self, i: int, extra: dict) -> dict[str, float]:
        """Per-layer metrics of traced iteration ``i``; ``extra`` holds
        the workload's on-disk observations after that iteration."""
        spans = [s for s in self.spans if s.iteration == i]

        def secs(name: str) -> float:
            return sum(s.duration for s in self._top(spans, name))

        def work(name: str) -> GroupStats:
            total = GroupStats()
            for s in self._top(spans, name):
                total.add(self.inclusive(s))
            return total

        out: dict[str, float] = {}
        read, infer, write = work("sources.read_table"), work("schema.infer"), work("pipeline.write")
        own = GroupStats()
        for s in spans:
            own.add(self.stats.get(s.group, GroupStats()))
        out.update(
            {
                "sources.read_table_s": secs("sources.read_table"),
                "sources.read_table_jobs": read.jobs,
                "sources.input_bytes": own.input_bytes,
                "schema.infer_s": secs("schema.infer"),
                "schema.infer_jobs": infer.jobs,
                "schema.infer_tasks": infer.tasks,
                "schema.infer_cpu_s": infer.cpu_s,
                "config.parse_s": secs("config.parse"),
                "schema.use_config_s": secs("schema.use_config"),
                "schema.apply_s": secs("schema.apply"),
                "schema.yaml_dump_s": secs("schema.yaml_dump"),
                "pipeline.write_s": secs("pipeline.write"),
                "pipeline.write_jobs": write.jobs,
                "pipeline.write_tasks": write.tasks,
                "pipeline.cpu_s": write.cpu_s,
                "pipeline.gc_s": write.gc_s,
                "pipeline.shuffle_write_bytes": write.shuffle_write_bytes,
                "pipeline.spill_bytes": write.spill_bytes,
                "pipeline.files_written": extra.get("el_files", 0),
                "pipeline.bytes_written": write.output_bytes,
                "dedup.exact_s": secs("dedup.exact"),
                "store.batch_token_s": secs("store.batch_token"),
                "store.filter_new_s": secs("store.filter_new"),
                "store.commit_s": secs("store.commit"),
                "store.consolidate_s": secs("store.consolidate"),
                "store.rows_probed": extra.get("rows_probed", 0),
                "store.rows_dropped": extra.get("rows_dropped", 0),
                "store.drop_ratio": (
                    extra["rows_dropped"] / extra["rows_probed"]
                    if extra.get("rows_probed")
                    else 0.0
                ),
                "store.files": extra.get("store_files", 0),
                "store.bytes": extra.get("store_bytes", 0),
            }
        )
        cli_spans = self._top(spans, "cli.main")
        out["cli.main_s"] = sum(s.duration for s in cli_spans)
        out["cli.self_s"] = sum(self.self_s[s.sid] for s in cli_spans)
        out["cli.jobs"] = sum(self.inclusive(s).jobs for s in cli_spans)
        for q in QUERY_TABLES:
            total = work(f"query.{q}")
            out.update(
                {
                    f"query.{q}.build_s": secs(f"query.{q}.build"),
                    f"query.{q}.action_s": secs(f"query.{q}.action"),
                    f"query.{q}.jobs": total.jobs,
                    f"query.{q}.tasks": total.tasks,
                    f"query.{q}.cpu_s": total.cpu_s,
                    f"query.{q}.shuffle_bytes": total.shuffle_write_bytes,
                }
            )
        caches = [s for s in spans if s.name == "cache.stream"]
        out["cache.calls"] = len(caches)
        out["cache.hits"] = sum(1 for s in caches if s.attrs.get("hit"))
        out["cache.evicted_unmaterialized"] = extra.get("evicted_unmaterialized", 0)
        return out

    def deploy_s(self, i: int) -> float:
        return sum(
            s.duration
            for s in self.spans
            if s.iteration == i and s.name == "deploy.ensure_shipped"
        )


def median_dict(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
