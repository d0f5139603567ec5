"""Executor work attributed to job groups, from a real event log."""

import time

from perfbench.eventlog import GroupStats, group_stats, read_events
from perfbench.layers import Attribution
from perfbench.trace import Tracer


def test_group_stats_from_synthetic_events():
    events = [
        {"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "pb-1"}},
        {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
            "Properties": {"spark.jobGroup.id": "pb-1"},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Stage Attempt ID": 0,
            "Task Metrics": {
                "Executor Run Time": 1500,
                "Executor CPU Time": 2_000_000_000,
                "JVM GC Time": 100,
                "Memory Bytes Spilled": 5,
                "Disk Bytes Spilled": 6,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 70},
                "Shuffle Read Metrics": {"Local Bytes Read": 8, "Remote Bytes Read": 1},
                "Input Metrics": {"Bytes Read": 900},
                "Output Metrics": {"Bytes Written": 40, "Records Written": 4},
            },
        },
        {"Event": "SparkListenerJobStart", "Properties": {}},
    ]
    stats = group_stats(events)
    assert stats["pb-1"] == GroupStats(
        jobs=1, tasks=1, run_s=1.5, cpu_s=2.0, gc_s=0.1,
        shuffle_write_bytes=70, shuffle_read_bytes=9, spill_bytes=11,
        input_bytes=900, output_bytes=40, output_records=4,
    )
    assert stats[None].jobs == 1 and stats[None].tasks == 0


def _wait_for_groups(eventlog, groups, timeout_s=60):
    """The listener bus writes the log asynchronously; poll until every
    group's job has ended."""
    deadline = time.monotonic() + timeout_s
    while True:
        ended = set()
        jobs = {}
        for ev in read_events(eventlog):
            if ev["Event"] == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif ev["Event"] == "SparkListenerJobEnd":
                ended.add(jobs.get(ev["Job ID"]))
        if groups <= ended or time.monotonic() > deadline:
            return
        time.sleep(0.5)


def test_job_group_attribution_of_a_tiny_job(spark, spark_env):
    _, _, eventlog = spark_env
    tracer = Tracer(spark.sparkContext)
    tracer.active = True
    with tracer.span("outer") as outer:
        spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
        with tracer.span("inner") as inner:
            spark.range(0, 100, 1, 3).selectExpr("count(*)").collect()
    tracer.active = False
    spark.range(5).collect()  # outside every span
    _wait_for_groups(eventlog, {outer.group, inner.group})

    stats = group_stats(read_events(eventlog))
    assert stats[outer.group].jobs >= 1 and stats[outer.group].tasks >= 4
    assert stats[inner.group].jobs >= 1 and stats[inner.group].tasks >= 3
    assert stats[outer.group].run_s > 0
    # the inner span's work is not the outer span's own, but it is in
    # the outer span's inclusive total
    att = Attribution(tracer.spans, stats)
    both = att.inclusive(outer)
    assert both.tasks == stats[outer.group].tasks + stats[inner.group].tasks
    # the job group is cleared when the outermost span ends
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
