"""Process-tree memory and waiting for processes to exit."""

import os
import subprocess
import sys
import time

from perfbench import host


def test_counted_skips_a_jvm_child_that_has_not_run_its_own_program():
    table = {
        10: (1, "python3.11"),  # the benchmark
        11: (10, "java"),  # its JVM
        12: (11, "java"),  # the JVM mid-spawn: still the JVM's pages
        13: (11, "python3.11"),  # a Python worker daemon the JVM started
        14: (13, "python3.11"),  # a worker the daemon forked: counted
        15: (11, "jspawnhelper"),  # spawned and exec'd: counted
        20: (1, "java"),  # not in this tree
    }
    assert sorted(host.counted(table, 10)) == [10, 11, 13, 14, 15]


def test_tree_rss_counts_this_process_and_its_children():
    child = subprocess.Popen(
        [sys.executable, "-c", "b = bytearray(100 << 20); import time; time.sleep(60)"]
    )
    try:
        page = os.sysconf("SC_PAGE_SIZE")
        deadline = time.monotonic() + 30
        child_rss = 0
        while child_rss < 90 << 20 and time.monotonic() < deadline:
            time.sleep(0.05)
            with open(f"/proc/{child.pid}/statm") as fh:
                child_rss = int(fh.read().split()[1]) * page
        assert child_rss >= 90 << 20
        assert host.tree_rss_bytes() > child_rss
    finally:
        child.kill()
        child.wait(timeout=30)
    assert host.wait_gone({child.pid}) == set()
