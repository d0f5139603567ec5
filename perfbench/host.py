"""Host observations from /proc: contention bookends, the resident
memory of this process tree, and waiting for that tree to exit."""

from __future__ import annotations

import glob
import os
import threading
import time

#: seconds between two samples of ``RssSampler``
RSS_INTERVAL_S = 0.2

#: seconds ``wait_gone`` waits for the processes to exit by themselves
EXIT_WAIT_S = 60.0


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, executable name) of every live process; the
    name is empty where the executable cannot be read."""
    table: dict[int, tuple[int, str]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        pid = int(stat.split("/")[2])
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] == "Z":
            continue  # exited; only its parent's wait remains
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            exe = ""
        table[pid] = (int(fields[1]), exe)
    return table


def descendants(
    table: dict[int, tuple[int, str]] | None = None, root: int | None = None
) -> set[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in (_proc_table() if table is None else table).items():
        kids.setdefault(ppid, []).append(pid)
    found: set[int] = set()
    stack = [os.getpid() if root is None else root]
    while stack:
        for child in kids.get(stack.pop(), []):
            if child not in found:
                found.add(child)
                stack.append(child)
    return found


def host_bookend() -> dict:
    """One contention snapshot, taken as the repo's bench.py takes it:
    load averages plus the thread count of processes outside this
    benchmark's own process tree."""
    snap: dict = {}
    with open("/proc/loadavg") as fh:
        parts = fh.read().split()
    snap["load1"], snap["load5"], snap["load15"] = map(float, parts[:3])
    own = {str(p) for p in descendants()} | {str(os.getpid())}
    foreign = 0
    for task_dir in glob.glob("/proc/[0-9]*"):
        pid = os.path.basename(task_dir)
        if pid not in own:
            foreign += len(glob.glob(f"{task_dir}/task/[0-9]*"))
    snap["threads_foreign"] = foreign
    return snap


def counted(table: dict[int, tuple[int, str]], root: int) -> list[int]:
    """``root`` and its descendants, less any child of a JVM that is
    still the JVM's executable: between fork and exec such a child
    shares the JVM's pages, and counting it would count them twice."""
    out = [root]
    for pid in descendants(table, root):
        ppid, exe = table[pid]
        if exe == "java" and table.get(ppid, (0, ""))[1] == "java":
            continue
        out.append(pid)
    return out


def tree_rss_bytes() -> int:
    """Resident bytes of this process plus its descendants (``counted``)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in counted(_proc_table(), os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue  # exited between listing and reading
    return total


class RssSampler:
    """Background thread sampling ``tree_rss_bytes`` to track its peak."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._window_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes()
            self.peak_bytes = max(self.peak_bytes, rss)
            self._window_peak = max(self._window_peak, rss)
            self._stop.wait(RSS_INTERVAL_S)

    def take_window(self) -> int:
        """Peak since the previous call (or the start), then reset."""
        peak, self._window_peak = self._window_peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: set[int]) -> set[int]:
    """Wait until every process in ``pids`` has exited; they may include
    grandchildren re-parented when their parent exited. Escalates to
    SIGTERM, then SIGKILL; returns whatever is still alive after that."""
    import signal

    def alive() -> set[int]:
        return {p for p in pids if _alive(p)}

    deadline = time.monotonic() + EXIT_WAIT_S
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in alive():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            _reap()
            if not alive():
                return set()
            time.sleep(0.1)
    return alive()


def _reap() -> None:
    """Collect exited direct children so they do not linger as zombies."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
