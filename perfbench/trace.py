"""Tracing for the benchmark's traced run.

Spans are recorded only around the benchmark's own calls into each repo
layer; nothing inside the package is instrumented. Spark's layers are read
from Spark's own counters through py4j after each op:

- ``spark.catalyst``: the phase tracker of the op's final DataFrame;
- ``spark.scheduler`` and ``spark.exec``: the status store's job and stage
  data for every job the op launched (job ids are sequential, and ops run
  one at a time, so an op's jobs are the ids handed out while it ran);
- ``pipeline.python_*``: the SQL metrics of the Python-evaluating plan nodes;
- ``streaming.*``: a StreamingQueryListener's progress events.

An untraced run uses ``NullTracer`` and reads none of this.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from datetime import datetime

PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "MapInArrow", "FlatMapGroupsInPandasWithState")
PY_METRICS = {
    "pythonTotalTime": "python_total_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
    "pythonNumRowsReceived": "python_rows_received",
}
LAYERS = ("session", "queries", "pipeline", "functions", "sources.snapshots", "streaming", "spark.action")


class NullTracer:
    traced = False
    _null = contextlib.nullcontext()

    def span(self, layer, sub=None):
        return self._null

    def note_df(self, df):
        pass

    def note(self, key, value):
        pass


class Tracer:
    """Keeps spans ``[layer, sub, start, end, parent, op_id, job0, job1]``
    in memory and one counter record per traced op."""

    traced = True

    def __init__(self, spark, cpus: int):
        self.spark = spark
        self.cpus = cpus
        self.jsc = spark.sparkContext._jsc.sc()
        self.spans: list[list] = []
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._op_id = None
        self._df = None
        self._progress: list[tuple[str, object]] = []
        self._listener = None
        self._notes: dict = {}

    # -- spans ---------------------------------------------------------------

    def _next_job(self) -> int:
        return self.jsc.dagScheduler().nextJobId()

    @contextlib.contextmanager
    def span(self, layer, sub=None):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append([layer, sub, time.perf_counter(), None, parent, self._op_id, self._next_job(), None])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec = self.spans[idx]
            rec[3], rec[7] = time.perf_counter(), self._next_job()

    def note_df(self, df):
        self._df = df

    def note(self, key, value):
        self._notes[key] = value

    def self_times(self, op_id) -> dict[str, float]:
        """Seconds per layer, each span minus what its child spans cover."""
        out = dict.fromkeys(LAYERS, 0.0)
        spans = [(i, s) for i, s in enumerate(self.spans) if s[5] == op_id]
        for i, s in spans:
            child = sum(c[3] - c[2] for _, c in spans if c[4] == i)
            out[s[0]] += (s[3] - s[2]) - child
        return out

    # -- per-op counters ---------------------------------------------------------

    def watch_streams(self):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self._progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                progress.append(("start", event.timestamp))

            def onQueryProgress(self, event):
                progress.append(("progress", event.progress))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        self.spark.streams.addListener(self._listener)

    def close(self):
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def write(self, path: str) -> None:
        """The spans and per-op counter records, as one JSON file."""
        keys = ("layer", "sub", "start_s", "end_s", "parent", "op", "job0", "job1")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(keys, s)) for s in self.spans], "ops": self.records}, f)

    def begin_op(self, op_id):
        self._op_id, self._df, self._notes = op_id, None, {}
        self._progress.clear()
        self._job0 = self._next_job()

    def end_op(self, op: dict, wall_s: float) -> dict:
        """Read Spark's counters for the op that just ended."""
        job1 = self._next_job()
        self.jsc.listenerBus().waitUntilEmpty(10_000)
        rec = {"op": op["id"], "kind": op["kind"], "wall_s": wall_s}
        rec.update(self._jobs(self._job0, job1, wall_s))
        rec.update(self._phases())
        rec.update(self._python_metrics())
        rec.update(self._streams())
        rec.update(self._notes)
        rec["self"] = self.self_times(op["id"])
        rec["spans"] = [
            (s[0], s[1], s[3] - s[2], s[7] - s[6]) for s in self.spans if s[5] == op["id"] and s[4] == -1
        ]
        self.records.append(rec)
        self._op_id = None
        return rec

    def _jobs(self, j0: int, j1: int, wall_s: float) -> dict:
        store = self.jsc.statusStore()
        intervals, stages, tasks = [], 0, 0
        run_ms = cpu_ns = inb = sw = sr = spill = 0
        for j in range(j0, j1):
            try:
                jd = store.job(j)
            except Exception:  # noqa: BLE001 - a job the store no longer holds
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = jd.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Exception:  # noqa: BLE001 - stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += st.numTasks()
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                inb += st.inputBytes()
                sw += st.shuffleWriteBytes()
                sr += st.shuffleReadBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        busy = _union(intervals)
        return {
            "jobs": j1 - j0,
            "stages": stages,
            "tasks": tasks,
            "driver_gap_s": max(wall_s - busy, 0.0),
            "slot_use": (run_ms / 1e3) / (self.cpus * busy) if busy > 0 else 0.0,
            "run_s": run_ms / 1e3,
            "cpu_s": cpu_ns / 1e9,
            "input_bytes": inb,
            "shuffle_write_bytes": sw,
            "shuffle_read_bytes": sr,
            "spill_bytes": spill,
        }

    def _phases(self) -> dict:
        out = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0}
        if self._df is None:
            return out
        phases = self._df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                out[f"{name}_ms"] = float(p.get().durationMs())
        return out

    def _python_metrics(self) -> dict:
        out = dict.fromkeys(PY_METRICS.values(), 0.0)
        if self._df is None:
            return out
        for node in _plan_nodes(self._df._jdf.queryExecution().executedPlan()):
            if node.nodeName() not in PY_NODES:
                continue
            metrics = node.metrics()
            for key, name in PY_METRICS.items():
                m = metrics.get(key)
                if m.isDefined():
                    out[name] += float(m.get().value())
        return out

    def _streams(self) -> dict:
        starts = [_iso(v) for k, v in self._progress if k == "start"]
        progs = [p for k, p in self._progress if k == "progress"]
        out = {"triggers": len(progs)}
        if not progs:
            return out

        def med(key):
            return statistics.median(float(p.durationMs.get(key, 0)) for p in progs)

        out.update(
            trigger_ms=med("triggerExecution"),
            add_batch_ms=med("addBatch"),
            query_planning_ms=med("queryPlanning"),
            wal_commit_ms=med("walCommit"),
            latest_offset_ms=med("latestOffset"),
        )
        last = progs[-1]
        out["state_rows"] = sum(s.numRowsTotal for s in last.stateOperators)
        out["state_bytes"] = sum(s.memoryUsedBytes for s in last.stateOperators)
        if starts:
            out["start_gap_s"] = max(_iso(progs[0].timestamp) - starts[0], 0.0)
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _plan_nodes(node):
    """Every node of a physical plan, through adaptive and query-stage
    wrappers."""
    cls = node.getClass().getSimpleName()
    yield node
    if cls == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for k in kids:
        yield from _plan_nodes(k)
