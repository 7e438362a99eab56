"""Host and Spark measurement: CPU and steal from /proc/stat, peak memory
of the process tree, per-pass load/steal through the repository's
``bench._timed_leg``, spans kept in memory, and stage/SQL metrics read
from Spark's status stores.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")


def _tree_stats(root: int) -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields (from the state on) of ``root`` and all
    its live descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        stats[int(entry.name)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry.name))
    out, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        frontier.extend(children.get(pid, []))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and its descendants: the live ones, and through each live
    process's cutime/cstime the ones it has reaped. Other processes on the
    machine are not counted."""
    ticks = 0
    for fields in _tree_stats(root or os.getpid()).values():
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / _HZ


def _tree_pss_kb(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants:
    pages shared between forked Python workers are split, not counted once
    per process."""
    total = 0
    for pid in _tree_stats(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Samples the summed PSS of this process tree (driver, JVM, Python
    workers) on a background thread. ``take()`` returns the peak in MB
    since the previous ``take()``."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            kb = _tree_pss_kb(pid)
            with self._lock:
                self._peak_kb = max(self._peak_kb, kb)
            self._stop.wait(self._interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def take(self) -> float:
        with self._lock:
            peak, self._peak_kb = self._peak_kb, 0
        return peak / 1024

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def timed_pass(fn) -> dict:
    """Run one pass: wall seconds (full precision), CPU seconds of this
    process tree, and steal and loadavg at start/end from
    ``bench._timed_leg``."""
    out: dict = {}

    def inner():
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        fn()
        out["wall_s"] = time.perf_counter() - t0
        out["cpu_s"] = tree_cpu_s() - c0

    import bench
    leg = bench._timed_leg(inner)
    out["load_start"], out["load_end"] = leg[1], leg[2]
    out["steal_s"] = leg[3] * leg[0]
    return out


def median(xs) -> float:
    return float(statistics.median(xs))


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent) kept in memory; ``dump`` writes
    them as JSON lines at the end of the run. Disabled tracers record
    nothing and cost one branch per span."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# Spark status stores (read from outside the engine)
# --------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
          "h": 3600.0}
_TOTAL = re.compile(r"([\d.,]+)\s*([A-Za-z]+)?")


def _metric_total(text: str) -> float:
    """'total (min, med, max ...)\\n12.1 s (...)' -> 12.1 (base units:
    bytes or seconds); '40,000' -> 40000."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkStats:
    """Stage and SQL metrics of the jobs run under one job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def execution_ids(self) -> set[int]:
        execs = self._sql.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    @contextmanager
    def group(self, name: str):
        """Tag the jobs run inside with a job group; yields a dict that
        gets the group's stage ids and SQL execution ids on exit."""
        info: dict = {"stages": [], "executions": []}
        before = self.execution_ids()
        self.sc.setJobGroup(name, name)
        try:
            yield info
        finally:
            self.sc.setJobGroup("", "")
            # the status stores are fed asynchronously by the listener bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(name):
                job = tracker.getJobInfo(jid)
                if job is not None:
                    info["stages"].extend(job.stageIds)
            info["executions"] = sorted(self.execution_ids() - before)

    def stage_totals(self, stage_ids) -> dict:
        out = {"shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stages have no data
                continue
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / 1e6
        return out

    def task_seconds(self, stage_ids) -> list[float]:
        """Durations of every successful task of the given stages."""
        out = []
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
                tasks = self._store.taskList(sid, st.attemptId(), 1 << 20)
            except Exception:  # noqa: BLE001
                continue
            for i in range(tasks.size()):
                t = tasks.apply(i)
                if t.status() == "SUCCESS" and t.duration().isDefined():
                    out.append(t.duration().get() / 1000.0)
        return out

    def python_metrics(self, execution_ids) -> dict:
        """Summed SQL metrics of every MapInPandas node."""
        names = {"data sent to Python workers": "py_sent_mb",
                 "data returned from Python workers": "py_returned_mb",
                 "time to run Python workers": "py_run_s",
                 "time to initialize Python workers": "worker_init_s"}
        out = {v: 0.0 for v in names.values()}
        for eid in execution_ids:
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if node.name() != "MapInPandas":
                    continue
                metrics = node.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    key = names.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        out[key] += _metric_total(v.get())
        for k in ("py_sent_mb", "py_returned_mb"):
            out[k] /= 1e6
        return out

    def cached_mb(self) -> float:
        """Memory + disk held by persisted RDD blocks right now."""
        infos = self._store.rddList(True)
        total = 0
        for i in range(infos.size()):
            r = infos.apply(i)
            total += r.memoryUsed() + r.diskUsed()
        return total / 1e6


# --------------------------------------------------------------------------
# host-speed reference
# --------------------------------------------------------------------------

class Reference:
    """A fixed plain-Spark job that uses none of the engine's code: a scan
    of generated rows, a hash shuffle, a ``mapInPandas`` that tokenises
    text in the Python workers and the noop sink. The same layers (JVM,
    shuffle, Arrow hand-off, Python) carry the benchmark's passes, so its
    wall and CPU time track how fast the shared host runs at that moment;
    the engine cannot change them."""

    ROWS = 80_000

    def __init__(self, spark, partitions: int):
        from pyspark.sql import functions as F

        # nested, so the workers get it by value (they cannot import this
        # module)
        def words(batches):
            import re

            import pandas as pd
            word = re.compile(r"\w+")
            for b in batches:
                yield pd.DataFrame({"k": b["k"], "n": b["t"].map(
                    lambda s: len(word.findall(s.upper() * 4)))})

        n = partitions
        self.df = (
            spark.range(0, self.ROWS, numPartitions=n)
            .select(F.col("id").alias("k"), F.concat_ws(
                " ", F.lit("lorem ipsum dolor sit amet"),
                F.col("id").cast("string"),
                F.sha2(F.col("id").cast("string"), 256)).alias("t"))
            .repartition(2 * n, F.pmod(F.xxhash64("k"), F.lit(2 * n)))
            .mapInPandas(words, "k long, n long"))

    def run(self) -> dict:
        def job():
            self.df.write.format("noop").mode("overwrite").save()
        return timed_pass(job)
