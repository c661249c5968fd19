"""Spark-layer counters read from the driver's in-process status store,
plus the memory sampler.

Jobs and stages of one run are the IDs between two watermarks (the
DAG scheduler's next job and stage IDs), not a job group:
``profile_all`` submits jobs from pool threads. The benchmark session
raises ``spark.ui.retainedJobs``/``retainedStages`` so a run's stages
are still in the store when they are read.
"""

from __future__ import annotations

import os
import threading

from evaporate_spark.plans.metrics import _walk

#: status-store retention for the benchmark session only
SESSION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")


class StatusStore:
    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()

    def watermark(self) -> tuple[int, int]:
        """(next job ID, next stage ID)."""
        dag = self._jsc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the metrics of every finished stage."""
        self._jsc.listenerBus().waitUntilEmpty()

    def counters(self, start: tuple[int, int], end: tuple[int, int]) -> dict[str, float]:
        """Totals over the jobs and completed stages between two
        watermarks. Skipped stages (reused shuffle output) do no work
        and are not counted."""
        self.drain()
        jvm = self._sc._jvm
        stages = self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = {
            "spark.jobs": end[0] - start[0],
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.jvm_gc_s": 0.0,
            "spark.shuffle_read_bytes": 0,
            "spark.shuffle_write_bytes": 0,
            "spark.spill_bytes": 0,
        }
        for i in range(stages.size()):
            s = stages.apply(i)
            if not start[1] <= s.stageId() < end[1] or s.status().toString() != "COMPLETE":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.executor_run_s"] += s.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.jvm_gc_s"] += s.jvmGcTime() / 1e3
            out["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def plan_summary(df) -> dict[str, int]:
    """Exchanges and Python-boundary rows/bytes in ``df``'s executed
    plan; call after an action on ``df`` itself."""
    out = {"spark.exchanges": 0, "spark.python_rows": 0, "spark.python_bytes": 0}
    for node in _walk(df._jdf.queryExecution().executedPlan(), []):
        name = node.nodeName()
        if "Exchange" in name and "Reused" not in name:
            out["spark.exchanges"] += 1
        if name.startswith(PYTHON_NODES):
            metrics = node.metrics()
            for key, col in (
                ("pythonNumRowsReceived", "spark.python_rows"),
                ("pythonDataSent", "spark.python_bytes"),
                ("pythonDataReceived", "spark.python_bytes"),
            ):
                m = metrics.get(key)
                if m.isDefined():
                    out[col] += m.get().value()
    return out


def python_rows_out(df) -> int:
    """Rows that ``MapInPandas`` nodes of ``df``'s executed plan
    received back from Python (0 when ``df`` itself never ran)."""
    total = 0
    for node in _walk(df._jdf.queryExecution().executedPlan(), []):
        if node.nodeName().startswith("MapInPandas"):
            m = node.metrics().get("pythonNumRowsReceived")
            if m.isDefined():
                total += m.get().value()
    return total


def _descendants(root: int, depth: int) -> list[int]:
    """Processes at most ``depth`` generations below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, level = [], [root]
    for _ in range(depth):
        level = [c for pid in level for c in children.get(pid, [])]
        out.extend(level)
    return out


def _rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def cpu_seconds() -> float:
    """CPU seconds (user + system) this process and the three
    generations below it have used, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *_descendants(os.getpid(), RssSampler.DEPTH)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / tick


class RssSampler:
    """Peak summed RSS of the driver JVM, the Python worker daemon and
    its workers (the three generations below this process), sampled
    every ``INTERVAL_S`` on one background thread.

    The sandbox's forked children, one generation further down, are
    left out: they are many (one per synthesized function and task) and
    share nearly all their pages with their worker, so adding their RSS
    would count those pages once per child."""

    #: JVM → Python daemon → Python workers
    DEPTH = 3
    INTERVAL_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.INTERVAL_S):
            self.peak = max(self.peak, _rss_bytes(_descendants(root, self.DEPTH)))

    def reset(self) -> None:
        self.peak = 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
