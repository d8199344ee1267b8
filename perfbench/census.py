"""Outside-in measurement: spans around calls into the program, and a
census of what Spark did during each span, read from Spark's own stores.

* Job/stage census — the SparkContext status store
  (``statusStore().jobsList`` / ``lastStageAttempt``). Every span sets a
  job group; jobs Spark runs on a stream's query thread carry the
  stream's ``runId`` as group and ``batch = N`` in their description.
* Python and file metrics, plan shape and planning time — the SQL
  status store (``executionMetrics``, ``planGraph``, submission time)
  of every SQL execution that ran in the span. The plan is the one the
  span's own action executed (the final adaptive plan), so reading it
  costs no second planning.
* Streaming progress — a ``StreamingQueryListener`` (see ``StreamLog``).

Nothing here reaches into the program's own modules.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: Census keys, in emission order. Tests pin this tuple.
CENSUS_KEYS: tuple[str, ...] = (
    "jobs",
    "stages",
    "stages_skipped",
    "tasks",
    "cpu_ms",
    "run_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_s",
    "slot_busy_frac",
    "python_bytes_sent",
    "python_bytes_returned",
    "python_worker_start_ms",
    "python_worker_init_ms",
    "python_run_ms",
    "files_read",
    "files_written",
    "plan_s",
    "exchanges",
    "broadcast_joins",
    "smj",
)

#: Plan-graph node name -> census key (the executed, final plan).
_PLAN_NODES = {
    "Exchange": "exchanges",
    "BroadcastHashJoin": "broadcast_joins",
    "BroadcastNestedLoopJoin": "broadcast_joins",
    "SortMergeJoin": "smj",
}

#: SQL metric name -> census key. Sizes and timings arrive formatted.
_SQL_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to start Python workers": "python_worker_start_ms",
    "time to initialize Python workers": "python_worker_init_ms",
    "time to run Python workers": "python_run_ms",
    "number of files read": "files_read",
    "number of written files": "files_written",
}

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
}


def parse_metric(text: str) -> float:
    """A SQL UI metric string -> number (bytes for sizes, ms for times).
    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n")[-1].split(" (")[0].strip().replace(",", "")
    m = re.match(r"^(-?[\d.]+)\s*([A-Za-z]*)$", line)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


def _opt(o):
    return o.get() if o.isDefined() else None


class Census:
    """Reads what Spark ran since the previous ``collect``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.slots = self.sc.defaultParallelism
        self._last_job = self._max_job()
        self._last_exec = self._max_exec()
        self._seen_stages: set[int] = set()

    def _settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        try:
            self._jsc.listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - fall back to a short pause
            time.sleep(0.2)

    def _new_jobs(self):
        """Jobs newer than the last collect, newest first (the store
        lists jobs by descending id)."""
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= self._last_job:
                return
            yield j

    def _max_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _new_executions(self) -> list:
        """SQL executions newer than the last collect."""
        n = self._sql.executionsCount()
        k = 64
        while True:
            batch = self._sql.executionsList(max(0, n - k), k)
            found = [batch.apply(i) for i in range(batch.size())]
            if n - k <= 0 or not found or found[0].executionId() <= self._last_exec:
                return [e for e in found if e.executionId() > self._last_exec]
            k *= 4

    def _max_exec(self) -> int:
        n = self._sql.executionsCount()
        last = self._sql.executionsList(max(0, n - 1), 1)
        return last.apply(0).executionId() if last.size() else -1

    def mark(self) -> None:
        """Forget everything Spark ran so far."""
        self._settle()
        self._last_job = self._max_job()
        self._last_exec = self._max_exec()

    def collect(self, t0_ms: float, t1_ms: float) -> tuple[dict, list[dict]]:
        """Census of the jobs and SQL executions since the last call, for
        a span from ``t0_ms`` to ``t1_ms`` (epoch ms). Returns the totals
        and one record per job (id, group, batch, its own counts)."""
        self._settle()
        out = dict.fromkeys(CENSUS_KEYS, 0)
        records = []
        top = self._last_job
        for j in self._new_jobs():
            jid = j.jobId()
            top = max(top, jid)
            desc = _opt(j.description()) or ""
            m = re.search(r"batch = (\d+)", desc)
            rec = dict.fromkeys(("stages", "stages_skipped", "tasks", "cpu_ms",
                                 "run_ms", "shuffle_read_bytes",
                                 "shuffle_write_bytes", "spill_bytes"), 0)
            rec.update(job=jid, group=_opt(j.jobGroup()),
                       batch=int(m.group(1)) if m else None,
                       start=_opt(j.submissionTime()), end=_opt(j.completionTime()))
            rec["start"] = rec["start"].getTime() if rec["start"] else None
            rec["end"] = rec["end"].getTime() if rec["end"] else None
            rec["stages_skipped"] = j.numSkippedStages()
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["cpu_ms"] += st.executorCpuTime() / 1e6
                rec["run_ms"] += st.executorRunTime()
                rec["shuffle_read_bytes"] += (st.shuffleRemoteBytesRead()
                                              + st.shuffleLocalBytesRead())
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            records.append(rec)
            for k in ("stages", "stages_skipped", "tasks", "cpu_ms", "run_ms",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                out[k] += rec[k]
        self._last_job = top
        out["jobs"] = len(records)

        # driver-side time: span wall minus the union of job spans
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((r["start"], r["end"]) for r in records
                           if r["start"] and r["end"]):
            s, e = max(s, t0_ms), min(e, t1_ms)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        wall_ms = max(t1_ms - t0_ms, 1e-9)
        out["driver_s"] = max(wall_ms - busy, 0.0) / 1e3
        out["slot_busy_frac"] = out["run_ms"] / (wall_ms * self.slots)

        first_exec_ms = None
        for e in self._new_executions():
            eid = e.executionId()
            self._last_exec = max(self._last_exec, eid)
            sub = e.submissionTime()
            first_exec_ms = sub if first_exec_ms is None else min(first_exec_ms, sub)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                key = _PLAN_NODES.get(nodes.apply(k).name())
                if key:
                    out[key] += 1
            values = self._sql.executionMetrics(eid)
            ms = e.metrics()
            for k in range(ms.size()):
                pm = ms.apply(k)
                key = _SQL_METRICS.get(pm.name())
                if key and values.contains(pm.accumulatorId()):
                    out[key] += parse_metric(values.apply(pm.accumulatorId()))
        # Spark posts an execution's start once its physical plan is
        # built: from span start to there is analysis + optimization +
        # planning of the span's first action
        if first_exec_ms is not None:
            out["plan_s"] = max(first_exec_ms - t0_ms, 0.0) / 1e3
        return out, records


class StreamLog(StreamingQueryListener):
    """Progress of every streaming query, kept in memory."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({"run": str(p.runId), "batch": p.batchId,
                              "rows": p.numInputRows, **dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.runId))

    def wait_terminated(self, run_ids, timeout: float = 30.0) -> None:
        end = time.monotonic() + timeout
        while not set(run_ids) <= self.terminated and time.monotonic() < end:
            time.sleep(0.02)


class Tracer:
    """Spans around calls into the program.

    Untraced, a span is a timer plus a job group. Traced, each span that
    asks for it also gets a census of the jobs it ran, and every span is
    kept (name, layer, op id, parent, start/end) for the trace file."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.census = Census(spark) if traced else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0
        self.overhead_s = 0.0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, layer: str, name: str, census: bool = True):
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self.spark.sparkContext.setJobGroup(f"bench-{self._op}-{sid}", f"{layer}:{name}")
        take = self.traced and census
        if take:
            c0 = time.perf_counter()
            self.census.mark()
            self.overhead_s += time.perf_counter() - c0
        self._stack.append(sid)
        rec["t0_ms"] = time.time() * 1e3
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["t1_ms"] = time.time() * 1e3
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if take:
                c0 = time.perf_counter()
                rec["counts"], rec["jobs"] = self.census.collect(rec["t0_ms"], rec["t1_ms"])
                self.overhead_s += time.perf_counter() - c0


# ---------------------------------------------------------------------------
# process-level measures
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so the peak
    read later leaves out what input generation used."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_by_process() -> dict[str, float]:
    """Peak RSS (VmHWM, MB) of every live process in this process's
    tree — the Python driver, the JVM and its Python workers — keyed
    ``<pid>:<command>``."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            out[f"{pid}:{status['Name'].strip()}"] = int(status["VmHWM"].split()[0]) / 1024.0
    return out


def heap_live_mb(spark) -> float:
    """JVM heap in use right after a full collection (MB): what the
    program keeps live, apart from the fixed heap the JVM reserves.

    Python's collector runs first, so py4j proxies the driver no longer
    holds release their JVM objects. The JVM then collects until two
    collections in a row each free less than 1 MB: Spark's context
    cleaner drops broadcast blocks, shuffle state and accumulators only
    after a collection has cleared the weak references to them, and
    does so on its own thread, so what it releases goes with a later
    collection (a second one freed 30-130 MB, a third 10-20 MB)."""
    import gc

    gc.collect()
    lang = spark._jvm.java.lang
    mem = lang.management.ManagementFactory.getMemoryMXBean()
    prev, quiet = float("inf"), 0
    for _ in range(16):
        lang.System.gc()
        time.sleep(0.25)
        used = mem.getHeapMemoryUsage().getUsed() / 2**20
        quiet = quiet + 1 if prev - used < 1.0 else 0
        if quiet == 2:
            break
        prev = used
    return used


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (kept alive for the
    whole run by ``-XX:-UseDynamicNumberOfCompilerThreads``, so none of
    their time is folded into the process total by an exiting thread)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if "CompilerThre" in name:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def tree_cpu() -> tuple[float, float]:
    """(CPU, JIT CPU) seconds of this process's tree. CPU is user +
    system time of the Python driver, the JVM and the Python workers,
    plus children they reaped, less the JVM's JIT compiler threads, whose
    time is the second figure. The kernel leaves time stolen by the
    hypervisor out of these clocks; the JIT is kept apart because in a
    run this short it is still compiling, and how much it compiles in a
    given cycle swings from run to run."""
    ticks = jit = 0
    for pid in process_tree():
        try:
            name, fields = _stat(f"/proc/{pid}/stat")
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            if name == "java":
                jit += _jit_ticks(pid)
        except OSError:  # exited meanwhile
            continue
    hz = os.sysconf("SC_CLK_TCK")
    return (ticks - jit) / hz, jit / hz


def tree_cpu_s() -> float:
    """CPU seconds of this process's tree, less JIT (see ``tree_cpu``)."""
    return tree_cpu()[0]


def cpu_steal_jiffies() -> int:
    """Cumulative CPU time the hypervisor gave to others (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def tree_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
    return total


def data_files(root: str) -> dict[str, tuple[int, int]]:
    """Visible data files under ``root`` -> (size, mtime_ns)."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out
