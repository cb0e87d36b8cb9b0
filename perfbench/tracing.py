"""The traced run's instruments, all applied from outside the engine.

* :class:`Tracer` records spans (name, start, end, parent, query id) in
  memory around the calls the benchmark makes into each layer, and
  writes them out once at exit.
* :class:`JobLedger` reads Spark's own status store: every job id the
  scheduler handed out since the last snapshot, its group, duration and
  stages, and each stage's task counters. A job or stage of the window
  that the store no longer holds (``spark.ui.retainedJobs`` or
  ``retainedStages`` evicted it) raises instead of being undercounted.
* :func:`udf_metrics` and :func:`stream_batches` read the Python-worker
  SQLMetrics of an executed plan and the progress of a streaming query.

With tracing off the benchmark uses :data:`NO_TRACE`, whose spans record
nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import Counter

from py4j.protocol import Py4JJavaError

from benchstats import self_times


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, qid: str | None = None):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            # a child span belongs to its parent's query
            "qid": qid if qid is not None or parent is None else self.spans[parent]["qid"],
            "parent": parent,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, qid: str | None):
        """Record a finished span measured elsewhere (a job, a stream
        batch)."""
        self.spans.append({
            "id": len(self.spans), "name": name, "qid": qid,
            "parent": parent, "start": start, "end": end,
        })

    def self_time_by_name(self) -> dict[str, float]:
        out: Counter = Counter()
        st = self_times(self.spans)
        for s in self.spans:
            out[s["name"]] += st[s["id"]]
        return dict(out)

    def total_by_name(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {**header, "self_s": self.self_time_by_name(), "spans": self.spans},
                fh,
            )


class _NoTrace:
    @contextlib.contextmanager
    def span(self, name, qid=None):
        yield None


NO_TRACE = _NoTrace()


def _opt(o):
    return o.get() if o.isDefined() else None


class JobLedger:
    """Snapshots of the status store, one per traced operation."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next, self._next_stage = self._counters()

    def _counters(self) -> tuple[int, int]:
        """The scheduler's next job id and next stage id."""
        dag = self._sc.dagScheduler()
        return int(dag.numTotalJobs()), int(dag.nextStageId())

    def snapshot(self) -> list[dict]:
        """Every job submitted since the previous snapshot, with the stages
        it ran. Waits for the listener bus first so finished jobs are in
        the store."""
        self._sc.listenerBus().waitUntilEmpty()
        first, first_stage = self._next, self._next_stage
        self._next, self._next_stage = self._counters()
        jobs = []
        for jid in range(first, self._next):
            try:
                job = self._store.job(jid)
            except Py4JJavaError as exc:  # NoSuchElementException
                raise RuntimeError(
                    f"job {jid} is missing from the status store (ids "
                    f"{first}..{self._next - 1} expected): it was evicted "
                    "before it could be counted"
                ) from exc
            sub, end = _opt(job.submissionTime()), _opt(job.completionTime())
            stage_ids = job.stageIds()
            stages = []
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                st = self._stage(sid, required=sid >= first_stage)
                if st is not None:
                    stages.append(st)
            jobs.append({
                "id": jid,
                "group": _opt(job.jobGroup()),
                # epoch seconds; a job the store has not closed yet ends now
                "start": sub.getTime() / 1e3 if sub else time.time(),
                "end": end.getTime() / 1e3 if end else time.time(),
                "stages": stages,
            })
        return jobs

    def _stage(self, sid: int, required: bool) -> dict | None:
        """A stage's task counters. A stage created before the previous
        snapshot, which a later job lists but skips because its shuffle
        output already exists, may have been evicted: it is not this
        window's work, so it returns None. Any other missing stage raises."""
        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError as exc:
            if not required:
                return None
            raise RuntimeError(f"stage {sid} is missing from the status store") from exc
        return {
            "id": sid,
            "tasks": int(st.numCompleteTasks()),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_read_bytes": int(st.shuffleReadBytes()),
            "shuffle_write_bytes": int(st.shuffleWriteBytes()),
            "spill_bytes": int(st.memoryBytesSpilled() + st.diskBytesSpilled()),
        }


#: Python-worker SQLMetrics (``PythonSQLMetrics``) → reported names.
_UDF_KEYS = {
    "pythonTotalTime": "udf.python_total_s",
    "pythonBootTime": "udf.python_boot_s",
    "pythonDataSent": "udf.bytes_sent",
    "pythonDataReceived": "udf.bytes_received",
}


def udf_metrics(qe) -> Counter:
    """Python-worker time and bytes summed over the executed plan's
    ``*Python*Exec`` / ``*InPandas*Exec`` nodes, found with the plan
    descent ``plans.metrics`` uses for its counters."""
    from hadoop_coded_wordcount_spark.plans.metrics import _walk

    out: Counter = Counter()
    for node in _walk(qe.executedPlan()):
        cls = node.getClass().getSimpleName()
        if "Python" not in cls and "InPandas" not in cls:
            continue
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = _UDF_KEYS.get(kv._1())
            if key is None:
                continue
            metric = kv._2()
            value = metric.value()
            mtype = metric.metricType()
            if mtype == "nsTiming":
                value /= 1e9
            elif mtype == "timing":
                value /= 1e3
            out[key] += value
    return out


def stream_batches(query, seen: set) -> list[dict]:
    """The streaming query's progress entries not seen before, as dicts."""
    out = []
    for p in query.recentProgress or []:
        p = json.loads(p.json) if hasattr(p, "json") else p
        if p["batchId"] in seen:
            continue
        seen.add(p["batchId"])
        out.append(p)
    return out


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the JVM")
