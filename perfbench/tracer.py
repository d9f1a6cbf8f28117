"""Outside-in instrumentation for the product benchmark.

Nothing here edits package code. Layer times come from two sources:

- spans the benchmark records around its own calls into the package's
  public functions (``registry.QUERIES[name]``, ``run_pipeline.run``),
  plus wrappers installed on module attributes for the duration of a
  traced unit (``textops.materialize``, ``streaming.jobs`` entry points);
- Spark's own status APIs: the DAG scheduler's job/stage id counters,
  the application status store (stage and task metrics), the block
  manager's storage info, and a ``StreamingQueryListener`` for
  micro-batch progress.

Process-level figures (RSS, Python worker CPU) are read from ``/proc``.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- /proc ---------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, fields after comm) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        out[int(name)] = (int(rest[1]), comm, rest)
    return out


def descendants(root: int | None = None) -> dict[int, tuple[str, list[str]]]:
    """Every live descendant of `root` (default: this process)."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root or os.getpid()]
    while stack:
        for c in children.get(stack.pop(), []):
            out[c] = (table[c][1], table[c][2])
            stack.append(c)
    return out


def tree_rss_mb() -> float:
    """Resident memory of the JVM and its Python workers: every
    descendant of this Python process."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 1e6


def python_worker_cpu_s() -> float:
    """CPU seconds of the PySpark worker processes: user+system time of
    every live Python descendant plus what they reaped from exited
    workers (cutime/cstime), so a worker that dies between two reads
    still counts once."""
    # fields after comm: utime=11, stime=12, cutime=13, cstime=14
    return sum(
        int(f[i]) for comm, f in descendants().values()
        if comm.startswith("python") for i in (11, 12, 13, 14)
    ) / _CLK



class RssSampler:
    """Background peak-RSS sampler for the timed window."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# --- Spark status --------------------------------------------------------

class _ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report of the session's queries."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {"rows": p.numInputRows, "ms": dict(p.durationMs or {})}
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


#: StreamingQueryProgress.durationMs keys -> per-layer metric names
STREAM_PHASES = {
    "addBatch": "stream.add_batch_ms",
    "getBatch": "stream.get_batch_ms",
    "latestOffset": "stream.latest_offset_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}


class SparkProbe:
    """Reads scheduler, executor, shuffle and storage figures for one
    stage-id range from the application status store."""

    def __init__(self, spark, slots: int):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.slots = slots
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def drain(self) -> None:
        """Wait until every queued listener event (stage completions,
        streaming progress) has reached the status store."""
        self.jsc.listenerBus().waitUntilEmpty()

    def ids(self) -> tuple[int, int]:
        dag = self.jsc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def stages(self, lo: int, hi: int) -> dict:
        store = self.jsc.statusStore()
        out = dict.fromkeys(
            ["sched.stages", "sched.tasks", "exec.run_s", "exec.cpu_s",
             "exec.gc_s", "shuffle.write_mb", "shuffle.read_mb",
             "spill.disk_mb"], 0.0,
        )
        skew = 1.0
        for sid in range(lo, hi):
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped (reused shuffle output) stages ran nothing
            run_ms = s.executorRunTime()
            out["sched.stages"] += 1
            out["sched.tasks"] += s.numCompleteTasks()
            out["exec.run_s"] += run_ms / 1e3
            out["exec.cpu_s"] += s.executorCpuTime() / 1e9
            out["exec.gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle.write_mb"] += s.shuffleWriteBytes() / 1e6
            out["shuffle.read_mb"] += s.shuffleReadBytes() / 1e6
            out["spill.disk_mb"] += s.diskBytesSpilled() / 1e6
            # skew = slowest task / median task, on stages with enough
            # work for the ratio to mean something
            if s.numCompleteTasks() >= 2 and run_ms >= 200:
                summ = store.taskSummary(sid, s.attemptId(), self._q)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    if rt.apply(0) > 0:
                        skew = max(skew, rt.apply(1) / rt.apply(0))
        out["task.skew_max"] = skew
        return out

    def pins(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        infos = self.jsc.getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) for i in infos) / 1e6
        return self.sc._jsc.getPersistentRDDs().size(), mb


# --- the tracer ----------------------------------------------------------

class Tracer:
    """Spans plus per-unit layer counters for one traced run.

    A *unit* is the repeatable piece of a workload (one ingest drain,
    one dashboard lap, one batch pass); every per-layer figure is
    reported per unit so counts can be compared exactly across units
    and runs."""

    def __init__(self, spark, slots: int):
        self.probe = SparkProbe(spark, slots)
        self.spans: list[dict] = []
        self.units: list[dict] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._pin_calls = 0
        self._phase_t: dict[str, float] = {}
        self.spark = spark
        self.listener = _ProgressListener()

    # spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()

    # hooks ---------------------------------------------------------------
    @contextlib.contextmanager
    def hooks(self):
        """Wrap the package entry points whose calls the trace counts,
        for the duration of one traced unit; restore them afterwards."""
        import sys

        from weather_bigdata_project_spark.operators import textops
        from weather_bigdata_project_spark.streaming import jobs

        tracer = self
        orig_mat = textops.materialize
        orig_src = jobs.wire_file_stream
        orig_sink = jobs.start_lake_sink

        def materialize(*a, **kw):
            tracer._pin_calls += 1
            return orig_mat(*a, **kw)

        def wire_file_stream(*a, **kw):
            tracer._phase_t.setdefault("feed_end", time.perf_counter())
            return orig_src(*a, **kw)

        class _Query:
            """Streaming query handle that notes when the drain ends."""

            def __init__(self, q):
                self._q = q

            def __getattr__(self, name):
                return getattr(self._q, name)

            def awaitTermination(self, *a):
                r = self._q.awaitTermination(*a)
                tracer._phase_t["stream_end"] = time.perf_counter()
                return r

        def start_lake_sink(*a, **kw):
            return _Query(orig_sink(*a, **kw))

        # `from ..operators.textops import materialize` binds the
        # function into each query module; rebind every such name
        swap = {orig_mat: materialize, orig_src: wire_file_stream,
                orig_sink: start_lake_sink}
        patched = []
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(
                "weather_bigdata_project_spark"
            ):
                continue
            for attr, val in list(vars(mod).items()):
                if any(val is f for f in swap):
                    patched.append((mod, attr, val))
                    setattr(mod, attr, swap[val])
        try:
            yield
        finally:
            for mod, attr, val in patched:
                setattr(mod, attr, val)

    # units ---------------------------------------------------------------
    @contextlib.contextmanager
    def unit(self, name: str):
        """Trace one unit: spans, stage range, pins, Python CPU, stream
        progress. Yields the unit record; the workload adds its own
        fields (op walls, phase times, result rows) to it."""
        t = time.perf_counter()
        self.probe.drain()
        job0, stage0 = self.probe.ids()
        n_progress = len(self.listener.progress)
        self._pin_calls = 0
        self._phase_t = {}
        py0 = python_worker_cpu_s()
        self.spark.streams.addListener(self.listener)
        self.self_s += time.perf_counter() - t
        rec: dict = {"name": name, "ops": [], "wall_s": 0.0}
        with self.span(name) as sp, self.hooks():
            rec["span"] = sp["id"]
            t_unit = time.perf_counter()
            yield rec
            rec["wall_s"] = time.perf_counter() - t_unit
        t = time.perf_counter()
        self.probe.drain()
        self.spark.streams.removeListener(self.listener)
        job1, stage1 = self.probe.ids()
        rec.update(self.probe.stages(stage0, stage1))
        rec["sched.jobs"] = job1 - job0
        rec["python.cpu_s"] = python_worker_cpu_s() - py0
        rec["pin.calls"] = self._pin_calls
        rec["pin.live_rdds"], rec["pin.live_mb"] = self.probe.pins()
        prog = self.listener.progress[n_progress:]
        rec["stream.batches"] = len(prog)
        rec["stream.rows_read"] = sum(p["rows"] for p in prog)
        for key, metric in STREAM_PHASES.items():
            rec[metric] = sum(p["ms"].get(key, 0) for p in prog)
        rec["phase_t"] = dict(self._phase_t)
        slots = self.probe.slots
        wall = rec["wall_s"]
        rec["sched.overhead_share"] = (
            max(0.0, wall - rec["exec.run_s"] / slots) / wall if wall else 0.0
        )
        self.units.append(rec)
        self.self_s += time.perf_counter() - t

    def write(self, path: str, extra: dict) -> None:
        t = time.perf_counter()
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "units": self.units, **extra},
                      fh, indent=1, default=str)
        self.self_s += time.perf_counter() - t
