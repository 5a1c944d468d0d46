"""Per-layer counters read from Spark's own status stores.

``Layers.mark()`` snapshots the counters before a call into the program
and ``Layers.delta(mark)`` returns what the call added:

- jobs, stages, tasks, executor run/CPU/GC time, shuffle and spill bytes
  of the jobs started since the mark (the core status store);
- Janino compile time and count (``CodeGenerator``, ``CodegenMetrics``);
- Catalyst analysis / optimization / planning time of every query
  execution that finished (a ``QueryExecutionListener``);
- rows and bytes through Python-worker plan nodes (SQL status store);
- micro-batches, input rows, trigger and commit time and state rows of
  streaming queries (a ``StreamingQueryListener``).

Every job is attributed to the call it started in: the benchmark makes
one call at a time and Spark numbers jobs in order, so the jobs of a call
are the ids the status store gained during it (it keeps the last 1000
jobs, more than one run starts). Each call also runs
under its own job group, which labels the work in Spark's logs.
"""

from __future__ import annotations

import os
import re
import time

_PY_NODE = re.compile(r"Python|Pandas|InArrow")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_METRICS = {
    "number of output rows": "python.rows_out",
    "data sent to Python workers": "python.bytes_in",
    "data returned from Python workers": "python.bytes_out",
}
COUNTERS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "compile_s", "compiles", "analysis_s", "optimization_s", "planning_s",
    "python.rows_out", "python.bytes_in", "python.bytes_out",
    "streaming.queries", "streaming.batches", "streaming.input_rows",
    "streaming.trigger_s", "streaming.commit_s", "streaming.state_rows",
)


def parse_metric(text: str) -> float:
    """Total of a rendered SQL metric: ``'1,024'``, ``'3.2 MiB'`` or the
    ``'total (min, med, max ...)\\n3.2 MiB (...)'`` form."""
    line = text.split("\n")[-1].split(" (")[0].strip().replace(",", "")
    parts = line.split()
    if len(parts) == 2 and parts[1] in _SIZE:
        return float(parts[0]) * _SIZE[parts[1]]
    try:
        return float(parts[0])
    except (IndexError, ValueError):
        return 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
                files += 1
            except FileNotFoundError:
                pass
    return total, files


class _PhaseListener:
    """QueryExecutionListener: Catalyst phase times per finished execution."""

    def __init__(self):
        self.events: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.events.append(_phases(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.events.append(_phases(qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(qe) -> dict[str, float]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def _stream_listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        """Progress of every streaming query, in arrival order."""

        def __init__(self):
            self.started = 0
            self.progress: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802
            self.started += 1

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            d = p.durationMs
            self.progress.append({
                "query": str(p.id),
                "rows": p.numInputRows,
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return StreamListener()


class Layers:
    """Status-store deltas around calls; listeners only while attached."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext
        self._ctx = self._sc._jsc.sc()
        jvm = self._sc._jvm
        self._store = self._ctx.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._phases = _PhaseListener()
        self._streams = None
        self._attached = False
        self._group = 0
        self._next_job = 0

    def attach(self) -> None:
        """Register the listeners (and py4j's callback server on first use)."""
        from pyspark.java_gateway import ensure_callback_server_started

        if not self._attached:
            ensure_callback_server_started(self._sc._gateway)
            if self._streams is None:
                self._streams = _stream_listener_class()
            self._spark._jsparkSession.listenerManager().register(self._phases)
            self._spark.streams.addListener(self._streams)
            self._attached = True

    def detach(self) -> None:
        if self._attached:
            self.flush()
            self._spark._jsparkSession.listenerManager().unregister(self._phases)
            self._spark.streams.removeListener(self._streams)
            self._attached = False

    def flush(self) -> None:
        """Wait until every posted Spark event reached the status stores."""
        self._ctx.listenerBus().waitUntilEmpty(30_000)

    def label(self, name: str) -> None:
        """Run the next jobs under a fresh job group named after the call."""
        self._group += 1
        self._sc.setJobGroup(f"perfbench-{self._group}", name)

    def _new_jobs(self) -> list:
        """Job infos the status store gained since the last call."""
        tracker = self._sc.statusTracker()
        out = []
        while (info := tracker.getJobInfo(self._next_job)) is not None:
            out.append(info)
            self._next_job += 1
        return out

    def mark(self) -> dict:
        self.flush()
        self._new_jobs()
        return {
            "t": time.perf_counter(),
            "sql": self._sql.executionsCount(),
            "compile_ns": self._codegen.compileTime(),
            "compiles": self._codegen_metrics.METRIC_COMPILATION_TIME().getCount(),
            "phases": len(self._phases.events),
            "started": self._streams.started,
            "progress": len(self._streams.progress),
        }

    def delta(self, mark: dict) -> dict[str, float]:
        wall = time.perf_counter() - mark["t"]
        self.flush()
        out = dict.fromkeys(COUNTERS, 0.0)
        out["wall_s"] = wall
        jobs = self._new_jobs()
        stage_ids = {sid for info in jobs for sid in info.stageIds}
        out["jobs"] = len(jobs)
        for sid in stage_ids:
            s = self._store.lastStageAttempt(sid)
            if s.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["run_s"] += s.executorRunTime() / 1000.0
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1000.0
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["compile_s"] = (self._codegen.compileTime() - mark["compile_ns"]) / 1e9
        out["compiles"] = (
            self._codegen_metrics.METRIC_COMPILATION_TIME().getCount() - mark["compiles"]
        )
        for ph in self._phases.events[mark["phases"]:]:
            for phase in ("analysis", "optimization", "planning"):
                out[f"{phase}_s"] += ph.get(phase, 0.0)
        self._python_nodes(mark["sql"], out)
        self._streaming(mark, out)
        return out

    def add_analysis(self, df, out: dict[str, float]) -> None:
        """Add the analysis time of the DataFrame a build returned."""
        out["analysis_s"] += _phases(df._jdf.queryExecution()).get("analysis", 0.0)

    def _python_nodes(self, first: int, out: dict[str, float]) -> None:
        count = self._sql.executionsCount()
        if count <= first:
            return
        execs = self._sql.executionsList(first, count - first)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not _PY_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = _PY_METRICS.get(metric.name())
                    value = values.get(metric.accumulatorId())
                    if key and value.isDefined():
                        out[key] += parse_metric(value.get())

    def _streaming(self, mark: dict, out: dict[str, float]) -> None:
        progress = self._streams.progress[mark["progress"]:]
        out["streaming.queries"] = self._streams.started - mark["started"]
        out["streaming.batches"] = len(progress)
        last_state: dict[str, float] = {}
        for p in progress:
            out["streaming.input_rows"] += p["rows"]
            out["streaming.trigger_s"] += p["trigger_s"]
            out["streaming.commit_s"] += p["commit_s"]
            last_state[p["query"]] = p["state_rows"]
        out["streaming.state_rows"] = sum(last_state.values())

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self._ctx.getRDDStorageInfo())

    def jvm_peak_rss_mb(self) -> float:
        pid = self._sc._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")
