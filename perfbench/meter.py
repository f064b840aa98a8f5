"""Measurement helpers that read the program from outside.

- ``Spans``: an in-memory span recorder (name, start, end, parent),
  written out once at the end of a traced run; ``union_length`` measures
  how much of a stretch a set of possibly overlapping spans covers.
- ``/proc`` readers: Python-worker peak RSS (reset through
  ``clear_refs``, read as ``VmHWM``), CPU seconds of a process tree, host
  steal, and the share of wanted CPU time that steal took.
- Spark readers: SQL metrics off the final adaptive plan, and per-stage
  wall, run time, shuffle and spill from the status store, both found
  through a job group.
"""

from __future__ import annotations

import contextlib
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Spans:
    """Spans kept in memory; timestamps are ``time.time()`` seconds."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.items.append({"id": len(self.items), "name": name, "start": start, "end": end,
                           "parent": parent, **attrs})
        return len(self.items) - 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, time.time(), None, self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield self.items[sid]
        finally:
            self._stack.pop()
            self.items[sid]["end"] = time.time()


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------- /proc

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on


def _processes():
    """(pid, stat fields from 'state' on) of every live process."""
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))):
            yield int(name), st


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, st in _processes():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def group_alive(pgid: int) -> bool:
    """Whether a process of group ``pgid`` still runs (zombies do not count)."""
    return any(st[2] == str(pgid) and st[0] != "Z" for _, st in _processes())


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_workers(root: int) -> list[int]:
    """Spark's Python worker processes (the daemon and its forks)."""
    return [p for p in descendants(root) if "pyspark.daemon" in _cmdline(p)]


def jvm_pids(root: int) -> list[int]:
    """The JVMs below ``root``."""
    return [p for p in descendants(root) if "java" in _cmdline(p).split(" ")[0]]


def reset_hwm(pids) -> None:
    """Reset each process's peak RSS to its current RSS."""
    for pid in pids:
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")


def hwm_mb(pid: int) -> float:
    """Peak RSS (VmHWM) in MiB, 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def tree_cpu(root: int) -> dict[int, float]:
    """CPU seconds (user + system) per live process of the tree."""
    out = {}
    for pid in descendants(root):
        st = _stat(pid)
        if st:
            out[pid] = (int(st[11]) + int(st[12])) / CLK_TCK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def host_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the time the host's CPUs wanted to run (every tick but idle
    and iowait) that the hypervisor gave to other guests. A CPU-bound call
    that took ``wall`` seconds would have taken about ``wall * (1 - share)``
    on CPUs of its own."""
    d = [b - a for a, b in zip(before, after)]
    runnable = sum(d) - d[3] - d[4]
    return d[7] / runnable if runnable > 0 else 0.0


class RunProbe:
    """Per-run host readings around one call: worker peak RSS, tree CPU
    seconds, steal share and stolen share. ``root`` is the driver's pid."""

    def __init__(self, root: int) -> None:
        self.root = root

    def __enter__(self):
        reset_hwm(python_workers(self.root))
        self._cpu, self._host = tree_cpu(self.root), host_cpu()
        return self

    def __exit__(self, *exc) -> None:
        self.tree_cpu_s = cpu_delta(self._cpu, tree_cpu(self.root))
        host = host_cpu()
        self.steal_share = steal_share(self._host, host)
        self.stolen_share = stolen_share(self._host, host)
        self.worker_rss_mb = max((hwm_mb(p) for p in python_workers(self.root)), default=0.0)


# ---------------------------------------------------------------- Spark

def plan_nodes(jplan):
    """Nodes of an executed plan, descending into adaptive plans and query
    stages. A ``ReusedExchange`` is not descended, so each exchange is
    counted once."""
    name = jplan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from plan_nodes(jplan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from plan_nodes(jplan.plan())
        return
    yield jplan
    if name == "ReusedExchangeExec":
        return
    kids = jplan.children()
    for i in range(kids.size()):
        yield from plan_nodes(kids.apply(i))


def plan_metrics(df) -> list[tuple[str, dict[str, int]]]:
    """(node name, {metric: value}) for every node of the final plan."""
    out = []
    for node in plan_nodes(df._jdf.queryExecution().executedPlan()):
        metrics, it = {}, node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((node.nodeName(), metrics))
    return out


def sum_metric(nodes, node_name: str, metric: str) -> int:
    return sum(m.get(metric, 0) for n, m in nodes if n == node_name)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the jobs started inside the block with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_jobs(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def group_stages(spark, group: str) -> list[dict]:
    """Completed stages of the group's jobs, from the status store."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for jid in group_jobs(spark, group):
        info = sc.statusTracker().getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = []
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, gw.new_array(jvm.double, 0))
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if not (s.submissionTime().isDefined() and s.completionTime().isDefined()):
                continue  # skipped (reused) stage
            out.append({
                "stage": sid,
                "start": s.submissionTime().get().getTime() / 1000,
                "end": s.completionTime().get().getTime() / 1000,
                "run_s": s.executorRunTime() / 1000,
                "input_bytes": s.inputBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled(),
            })
    return out
