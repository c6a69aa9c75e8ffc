"""Readers that observe the program from outside: Spark's status store,
the Python workers' memory in /proc, and the checkpoint output on disk.

Nothing here runs inside the program; every reading is taken after a
timed pass has ended, outside its clock.
"""
from __future__ import annotations

import os
import signal
import statistics
import time


def _items(seq) -> list:
    """A Scala Seq (as py4j returns it) as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def _ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


class StageCollector:
    """Per-pass stage metrics from ``SparkContext.statusStore()``.

    Each pass runs under its own job group; ``pass_metrics`` gathers the
    jobs of that group and the stages they ran. The UI stays off: the
    live status store is populated either way."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = cores
        self._n = 0

    def start(self, label: str) -> str:
        self._n += 1
        group = "perfbench-%s-%d" % (label, self._n)
        self.sc.setJobGroup(group, group)
        return group

    def _stage_ops(self, stage_id: int) -> set:
        names = set()
        todo = [self.store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            c = todo.pop()
            names.add(c.name())
            names.update(n.name() for n in _items(c.childNodes()))
            todo.extend(_items(c.childClusters()))
        return names

    def _task_run_ms(self, stage) -> list:
        tasks = _items(self.store.taskList(stage.stageId(), stage.attemptId(),
                                           100000))
        return [t.taskMetrics().get().executorRunTime() for t in tasks
                if t.taskMetrics().isDefined()]

    def pass_metrics(self, groups: list, wall_s: float) -> dict:
        """spark.pipeline.* for the jobs of ``groups`` (one timed pass)."""
        jobs = [j for j in _items(self.store.jobsList(None))
                if j.jobGroup().isDefined() and j.jobGroup().get() in groups]
        stage_ids = {int(s) for j in jobs for s in _items(j.stageIds())}
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = [s for s in _items(self.store.stageList(None, False, False,
                                                         empty, None))
                  if s.stageId() in stage_ids
                  and str(s.status()) != "SKIPPED"]
        job_s = sum((_ms(j.completionTime()) - _ms(j.submissionTime()))
                    for j in jobs if _ms(j.completionTime())) / 1e3
        udf_s = order_s = 0.0
        run_ms = 0
        udf_tasks: list = []
        for s in stages:
            run_ms += s.executorRunTime()
            wall = (_ms(s.completionTime()) or 0) - (_ms(s.submissionTime())
                                                     or 0)
            ops = self._stage_ops(s.stageId())
            if "MapInPandas" in ops:
                udf_s += wall / 1e3
                udf_tasks += self._task_run_ms(s)
            if "Window" in ops:
                order_s += wall / 1e3
        skew = (max(udf_tasks) / statistics.median(udf_tasks)
                if udf_tasks and statistics.median(udf_tasks) > 0 else 0.0)
        return {
            "job_s": job_s,
            "udf_stage_run_s": udf_s,
            "shuffle_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
            "tasks": float(sum(s.numTasks() for s in stages)),
            "failed_tasks": float(sum(s.numFailedTasks() for s in stages)),
            "order_s": order_s,
            "task_skew": skew,
            "core_idle_share": 1.0 - run_ms / 1e3 / (wall_s * self.cores),
        }


# -- processes ---------------------------------------------------------------

def _proc_table() -> dict:
    """pid -> (ppid, cmdline) for every visible process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry, "rb") as fp:
                stat = fp.read()
            with open("/proc/%s/cmdline" % entry, "rb") as fp:
                cmd = fp.read().replace(b"\0", b" ")
        except OSError:
            continue  # exited while we looked
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        table[int(entry)] = (ppid, cmd)
    return table


def descendants(root: int) -> dict:
    """pid -> (ppid, cmdline) for every live descendant of ``root``."""
    table = _proc_table()
    out: dict = {}
    frontier = [root]
    while frontier:
        parent = frontier.pop()
        for (pid, (ppid, cmd)) in table.items():
            if ppid == parent and pid not in out:
                out[pid] = (ppid, cmd)
                frontier.append(pid)
    return out


def worker_rss_peak_mb(jvm_pid: int) -> float:
    """Largest VmHWM (peak resident set) among live Python workers: the
    processes the pyspark.daemon under the JVM forked. 0 when none is
    alive."""
    procs = descendants(jvm_pid)
    peak = 0
    for (pid, (ppid, cmd)) in procs.items():
        if b"pyspark.daemon" not in cmd or ppid not in procs:
            continue  # the daemon itself is the JVM's child
        try:
            with open("/proc/%d/status" % pid) as fp:
                for line in fp:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue  # exited while we looked
    return peak / 1024.0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        os.waitpid(pid, os.WNOHANG)  # reap it if it is our child
    except ChildProcessError:
        pass
    try:
        with open("/proc/%d/stat" % pid, "rb") as fp:
            return fp.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False


def reap(pids) -> list:
    """SIGKILL whichever of ``pids`` still run and wait (10 s at most)
    until they are gone; returns the ones that would not go."""
    live = []
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
            live.append(pid)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while live and time.monotonic() < deadline:
        time.sleep(0.05)
        live = [pid for pid in live if _alive(pid)]
    return live


# -- checkpoint output --------------------------------------------------------

def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for (dirpath, _, names) in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return (files, size)
