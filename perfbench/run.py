"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload el --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``). The line before it is a report with the inputs, sample
counts, host-contention bookends and any failures. Everything the run
writes goes under ``.perfbench_work/`` in the checkout. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import asdict, dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"

#: input size per workload: (F1 rows, documents per store generation);
#: scale factor of the query tables
SIZES = {"el": (40_000, 2_000), "query_mix": 0.01}

#: seconds of one warm iteration on a 4-core host; ``--seconds`` is
#: turned into a fixed iteration count with it, so every run of a
#: workload takes the same number of samples
NOMINAL_S = {"el": 15.0, "query_mix": 10.5}

#: JVM heap of Spark's driver, fixed (initial = maximum) so peak RSS does
#: not depend on when the collector chose to grow the heap, and so the
#: run stays small on a shared host
DRIVER_HEAP = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(run_dir: Path) -> dict[str, str]:
    """Keep every temporary write of the engine, Spark and the JVM inside
    ``run_dir``; size Spark's local master to the usable cores. Returns
    the Spark conf entries that carry the same settings."""
    tmp = run_dir / "tmp"
    for sub in ("tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    import tempfile

    tempfile.tempdir = str(tmp)
    return {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP}",
    }


def prepare_inputs(workload: str, seed: str) -> None:
    """Make one workload's inputs, or find them cached."""
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload](None, WORK_ROOT / "inputs", WORK_ROOT, int(seed), SIZES[workload])
    wl.prepare()


def generate_inputs(args) -> float:
    """Run ``prepare_inputs`` in a child process, so the generator's
    memory never shows in this process's resident size; returns the
    seconds it took."""
    import subprocess

    code = "import sys; from perfbench.run import prepare_inputs; prepare_inputs(*sys.argv[1:])"
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, "-c", code, args.workload, str(args.seed)],
        cwd=ROOT,
        stdout=sys.stderr,
        check=True,
    )
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


@dataclass
class Measured:
    """What one workload run observed, before it becomes metrics."""

    report: dict
    ops: list
    times: dict[int, tuple[float, bool]]  # iteration → (seconds, traced)
    extras: dict[int, dict]  # iteration → the workload's out_stats
    tracer: object

    def warm(self, traced: bool) -> list[float]:
        return [s for i, (s, tr) in self.times.items() if i > 0 and tr == traced]

    @property
    def run_s_p50(self) -> float:
        return statistics.median(self.warm(traced=False))


def run(args, conf: dict[str, str], run_dir: Path) -> tuple[dict, dict]:
    """Set up, run the workload and stop; returns (report, result)."""
    from perfbench import host, layers

    trace = bool(args.trace)
    eventlog = run_dir / "eventlog"
    if trace:
        eventlog.mkdir()
        conf = {
            **conf,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
        }
    gen_s = generate_inputs(args)
    with host.RssSampler() as rss:
        from mongo2pq_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        spark.range(1).count()
        setup_s = host.process_age_s() - gen_s
        try:
            m = run_workload(args, spark, run_dir, rss)
        finally:
            started = host.descendants()  # the JVM and its Python workers
            stop_spark(spark)
    leftover = host.wait_gone(started | host.descendants())
    if leftover:
        print(f"# processes still alive after stop: {sorted(leftover)}", file=sys.stderr)

    report = m.report
    failed = [op for op in m.ops if not op.ok]
    report["setup"] = {"setup_s": setup_s, "get_spark_s": get_spark_s}
    report["input"]["generate_s"] = gen_s
    report["failures"] = [f"{op.name}: {op.error}" for op in failed]
    report["error_rate"] = len(failed) / len(m.ops)
    if trace:
        from perfbench import eventlog as ev

        spans_out = WORK_ROOT / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
        values = layer_metrics(m, ev.group_stats(ev.read_events(eventlog)), spans_out)
        values["session.get_spark_s"] = get_spark_s
        values["error_rate"] = report["error_rate"]
        report["spans"] = str(spans_out)
        units = layers.PER_LAYER
    else:
        last = max(m.times)
        values = {
            "setup_s": setup_s,
            "run_s_p50": m.run_s_p50,
            "rows_per_s": report["rows_per_iteration"] / m.run_s_p50,
            "out_bytes_per_in_byte": m.extras[last]["out_bytes"]
            / report["in_bytes_per_iteration"],
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        units = layers.END_TO_END
    result = {
        "correct": not failed,
        "attempted": len(m.ops),
        "failed": len(failed),
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }
    return report, result


def run_workload(args, spark, run_dir: Path, rss) -> Measured:
    """Cold iteration, then the warm ones; checks run after each."""
    from perfbench import host, layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    trace = bool(args.trace)
    tracer = Tracer(spark.sparkContext if trace else None)
    missing = layers.install(tracer) if trace else []
    wl = WORKLOADS[args.workload](
        spark, WORK_ROOT / "inputs", run_dir, args.seed, SIZES[args.workload]
    )
    bookend_pre = host.host_bookend()
    inp = wl.prepare()  # generated already; this reads the cache
    rss.take_window()  # iteration windows start here
    m = Measured({}, [], {}, {}, tracer)

    def iteration(i: int, traced: bool) -> None:
        wl.reset()
        tracer.active, tracer.iteration = traced, i
        evicted = layers.evicted_unmaterialized()
        try:
            if i == 0 and hasattr(wl, "oracle_pass"):
                ops, secs = wl.oracle_pass(tracer)
            else:
                start = time.perf_counter()
                ops = wl.iterate(tracer)
                secs = time.perf_counter() - start
                tracer.active = False
                wl.check(ops)
        finally:
            tracer.active = False
        m.extras[i] = {
            **wl.out_stats(),
            "evicted_unmaterialized": layers.evicted_unmaterialized() - evicted,
            "peak_rss_mb": rss.take_window() / 2**20,
        }
        m.ops.extend(ops)
        m.times[i] = (secs, traced)

    iteration(0, trace)
    warm_n = max(1, math.ceil(args.seconds / NOMINAL_S[args.workload]))
    # traced mode alternates untraced and traced iterations, starting
    # and ending untraced, so warm-up drift cannot favour either kind
    plan = [j % 2 == 1 for j in range(2 * warm_n + 1)] if trace else [False] * warm_n
    for i, traced in enumerate(plan, start=1):
        iteration(i, traced)
    tracer.unpatch()

    m.report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(trace),
        "input": inp.describe(),
        "rows_per_iteration": wl.rows_per_iteration(),
        "in_bytes_per_iteration": wl.in_bytes_per_iteration(),
        "cold_s": m.times[0][0],
        "warm_s": m.warm(traced=False),
        "warm_samples": len(m.warm(traced=False)),
        "traced_warm_s": m.warm(traced=True),
        "traced_samples": len(m.warm(traced=True)),
        "host_pre": bookend_pre,
        "host_post": host.host_bookend(),
        "peak_rss_mb_by_iteration": [m.extras[i]["peak_rss_mb"] for i in sorted(m.extras)],
        "untraceable": missing,
    }
    return m


def layer_metrics(m: Measured, stats, spans_out: Path) -> dict[str, float]:
    """Per-layer metrics of a traced run; the spans, with the executor
    work of their own job groups, are written to ``spans_out``."""
    from perfbench.layers import Attribution, median_dict

    att = Attribution(m.tracer.spans, stats)
    spans_out.parent.mkdir(parents=True, exist_ok=True)
    with open(spans_out, "w") as fh:
        for span in att.spans:
            own = stats.get(span.group)
            record = {**asdict(span), "self_s": att.self_s[span.sid]}
            record["work"] = asdict(own) if own else None
            fh.write(json.dumps(record) + "\n")
    traced = [i for i, (_, tr) in m.times.items() if i > 0 and tr]
    values = median_dict([att.iteration(i, m.extras[i]) for i in traced])
    values["trace.overhead_frac"] = statistics.median(m.warm(traced=True)) / m.run_s_p50 - 1
    values["cli.cold_extra_s"] = m.times[0][0] - m.run_s_p50
    values["deploy.ensure_shipped_s"] = att.deploy_s(0)
    return values


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not (ROOT / "mongo2pq_spark").is_dir():
        print(f"error: no mongo2pq_spark package under {ROOT}", file=sys.stderr)
        return 2
    # in place of this script's directory, whose tests/ package would
    # shadow the repo's tests/ (the oracle canonicalization lives there)
    sys.path[0] = str(ROOT)
    run_dir = WORK_ROOT / f"run-{os.getpid()}"
    conf = configure_env(run_dir)
    # the engine prints progress to stdout; keep stdout for the result
    stdout, sys.stdout = sys.stdout, sys.stderr
    try:
        report, result = run(args, conf, run_dir)
    finally:
        sys.stdout = stdout
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
