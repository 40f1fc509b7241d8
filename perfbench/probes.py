"""Measurements taken from outside the engine: process-tree CPU and host
contention from ``/proc``, JVM GC and RSS, and Spark job-group counts.

Nothing here changes what the engine does; every probe reads state the
OS, the JVM or Spark's status store already keeps.
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_start_age_s() -> float:
    """Seconds since this process was started (``/proc/self/stat``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds incl. reaped children, comm)."""
    out: dict[int, tuple[int, float, str]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # the process exited while we listed /proc
        comm = raw[raw.find("(") + 1 : raw.rfind(")")]
        st = raw.rsplit(")", 1)[1].split()
        # post-comm fields: 1=ppid 11=utime 12=stime 13=cutime 14=cstime
        cpu = sum(int(st[i]) for i in (11, 12, 13, 14)) / CLK_TCK
        out[int(p)] = (int(st[1]), cpu, comm)
    return out


def _tree(table: dict[int, tuple[int, float, str]]) -> set[int]:
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _, _) in table.items():
            if pid not in mine and ppid in mine:
                mine.add(pid)
                grew = True
    return mine


def _start_ticks(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks since boot, or None once it
    has exited (a zombie counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if st[0] in "ZX" else int(st[19])


def descendants() -> dict[int, int]:
    """Live processes below this one: pid -> start time.  The start time
    tells a pid that is reused after its process exited from the process."""
    table = _proc_table()
    out = {}
    for pid in _tree(table) - {os.getpid()}:
        ticks = _start_ticks(pid)
        if ticks is not None:
            out[pid] = ticks
    return out


def reap(procs: dict[int, int], timeout_s: float = 30.0) -> None:
    """Wait until every process of ``procs`` (from ``descendants``) has
    exited; SIGKILL the ones still alive after ``timeout_s`` and wait for
    them too.  Processes whose parent exited are no longer in this tree,
    so they are followed by pid and start time."""

    def alive():
        return [p for p, t in procs.items() if _start_ticks(p) == t]

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10.0
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)


def tree_cpu_s() -> float:
    """CPU seconds of this process, the JVM it launched and the Python
    workers the JVM forks (live ones plus those already reaped)."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table))


class RequestCpu:
    """Process-tree CPU less the JVM's JIT compiler threads.

    A short warm-up leaves compilations queued that finish during the
    timed pass; on a 4-core host they are most of the JVM's CPU there,
    and they vary from run to run with the JIT's own decisions.  The JVM
    stops idle compiler threads, and an exited thread's CPU stays in the
    process total, so each compiler thread's last reading is kept."""

    def __init__(self) -> None:
        self._jit: dict[tuple[int, str], float] = {}

    def _read_jit(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    raw = f.read()
            except OSError:
                continue  # the thread exited while we listed it
            if raw[raw.find("(") + 1 : raw.rfind(")")].startswith(("C1 Compi", "C2 Compi")):
                st = raw.rsplit(")", 1)[1].split()
                self._jit[(pid, tid)] = (int(st[11]) + int(st[12])) / CLK_TCK

    def sample(self) -> float:
        table = _proc_table()
        mine = _tree(table)
        for pid in mine:
            if table[pid][2] == "java":
                self._read_jit(pid)
        return sum(table[p][1] for p in mine) - sum(self._jit.values())


def jvm_peak_rss_mb() -> float:
    """Peak resident set (``VmHWM``) of the java process in this tree."""
    table = _proc_table()
    peak = 0.0
    for pid in _tree(table):
        if table[pid][2] != "java":
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return peak


def host_cpu() -> tuple[float, float, float]:
    """(total, busy, steal) host CPU seconds from the first ``/proc/stat``
    line; busy excludes idle, iowait and steal."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals[:8])  # guest time is already counted in user/nice
    steal = vals[7] if len(vals) > 7 else 0
    busy = total - vals[3] - vals[4] - steal
    return total / CLK_TCK, busy / CLK_TCK, steal / CLK_TCK


class HostWindow:
    """Host contention over one interval: the share of host CPU time the
    hypervisor stole, and the share other processes used."""

    def __init__(self) -> None:
        self.host0 = host_cpu()
        self.tree0 = tree_cpu_s()

    def close(self) -> dict[str, float]:
        total1, busy1, steal1 = host_cpu()
        tree1 = tree_cpu_s()
        total = max(total1 - self.host0[0], 1e-9)
        ext = max(0.0, (busy1 - self.host0[1]) - (tree1 - self.tree0))
        return {
            "host.steal_frac": (steal1 - self.host0[2]) / total,
            "host.ext_cpu_frac": ext / total,
        }


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def drain_listener_bus(spark) -> None:
    """Wait until Spark's status store has seen every event posted so far,
    so counts read afterwards are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks run under one job group.

    Read right after the group's work finishes: the status store evicts
    old stages, so a later read undercounts.  Skipped stages (shuffle
    output reused) are not counted as run stages."""
    drain_listener_bus(spark)
    st = spark.sparkContext.statusTracker()
    counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        if info is None:
            continue
        counts["jobs"] += 1
        for stage_id in info.stageIds:
            stage = st.getStageInfo(stage_id)
            if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                continue
            counts["stages"] += 1
            counts["tasks"] += stage.numCompletedTasks + stage.numFailedTasks
            counts["failed_tasks"] += stage.numFailedTasks
    return counts
