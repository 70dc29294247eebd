"""Process-tree memory sampling and the Spark UI's REST metrics."""

from __future__ import annotations

import json
import os
import statistics
import threading
import urllib.request


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it, from ``/proc``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the tree, counting each shared page once: the
    proportional set size (Pss).  Plain RSS would count the JVM's heap
    again for every short-lived child it forks (the local filesystem
    forks shell commands), which share its pages copy-on-write."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU time (user + system) used so far by the tree's live processes
    and the children they have reaped.  Unlike wall time, it does not
    grow while the host runs another guest on this machine's cores."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_cpu_times() -> list[int]:
    """The machine-wide CPU time counters (``/proc/stat``'s first line:
    user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(f) for f in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPUs' time between two ``host_cpu_times`` readings
    that the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class RssSampler:
    """Samples the resident memory of the process tree under ``root``
    (the driver JVM, whose children are the Python workers) until
    ``stop``."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


EXEC_KEYS = (
    "exec.cpu_s", "exec.run_s", "exec.gc_s", "exec.tasks", "exec.task_skew",
    "exec.spill_bytes", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_s", "io.scan_bytes",
)


# Stages whose task-time summary is fetched, one request each.
MAX_SKEW_STAGES = 300


def exec_metrics(ui_url: str, app_id: str, groups: dict[str, str]) -> dict[str, float]:
    """Stage metrics of every job whose job group is in ``groups``,
    summed, from the Spark UI's ``/api/v1``.  ``exec.task_skew`` is the
    median over multi-task stages of max over median task run time."""
    base = f"{ui_url}/api/v1/applications/{app_id}"
    stage_ids = {
        sid for job in _get(f"{base}/jobs")
        if job.get("jobGroup") in groups for sid in job.get("stageIds", [])
    }
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    skews = []
    for st in _get(f"{base}/stages?status=complete"):
        if st["stageId"] not in stage_ids:
            continue
        out["exec.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        out["exec.run_s"] += st.get("executorRunTime", 0) / 1e3
        out["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
        out["exec.tasks"] += st.get("numCompleteTasks", 0)
        out["exec.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        out["shuffle.write_bytes"] += st.get("shuffleWriteBytes", 0)
        out["shuffle.read_bytes"] += st.get("shuffleReadBytes", 0)
        out["shuffle.fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1e3
        out["io.scan_bytes"] += st.get("inputBytes", 0)
        if st.get("numTasks", 0) >= 2 and len(skews) < MAX_SKEW_STAGES:
            q = _get(f"{base}/stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            if med > 0:
                skews.append(mx / med)
    out["exec.task_skew"] = statistics.median(skews) if skews else 1.0
    return out
