#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 27 --trace 0

Run it from the root of a checkout of the repository. It writes only under
``.perfbench_work/`` there: the generated sf0.1 tables (built on the first
run), Spark's local dirs, stream spool files and, with ``--trace 1``, the
span file.

One process, one SparkSession on ``local[nproc]``, one client: each
operation (a query, or a stream wave) starts only after the previous one
finished. A pass runs the workload's operations once (``workloads.py``).
A run makes one untimed warm-up pass, then ``round(seconds / PASS_S)``
timed passes, so its work depends only on ``--seconds``. ``--seed`` draws
where the stream replay cuts its documents into waves; every pass of a
run replays the same waves.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics:

* ``setup_s``: process start until the session is up and the warm-up pass
  is done, less the benchmark's own input and oracle preparation. The
  warm-up pass is each operation's first run in the JVM: class loading,
  code generation and Python worker start-up;
* ``wall_s``: wall time of a typical timed pass, the sum over its
  operations of each one's median latency across the timed passes. A
  query is timed from its build call until its rows are collected, a wave
  from its file landing in the source directory until
  ``processAllAvailable()`` returns.

``--trace 1`` repeats the same work with layer instruments on and reports
the per-layer metrics of the timed passes instead (see ``tracing.py``),
flows as per-pass means, among them the median and p90 latency of one
operation, reported and not gated.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from collections import Counter  # noqa: E402

import workloads as wl  # noqa: E402
from benchstats import covered, failed_share, median_pass, percentile  # noqa: E402
from tracing import NO_TRACE, JobLedger, Tracer, jvm_peak_rss_mb  # noqa: E402
from tracing import stream_batches, udf_metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
#: Nominal seconds of one warm pass over a workload's operations on 4
#: cores (about 6 s on iterative, 10 s on exec_heavy).
PASS_S = 9.0
#: An operation still running after this long has its jobs cancelled and
#: counts as failed.
OP_TIMEOUT_S = 60.0
DOC_SCHEMA = "doc_id bigint, text string, source string"
#: Job group of the benchmark's own reads for output checks.
CHECK_GROUP = "perfbench:check"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: the session, the instruments and the
    tallies every operation adds to."""

    def __init__(self, spark, sf_dir: str, nproc: int, traced: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.nproc = nproc
        self.tracer = Tracer() if traced else NO_TRACE
        self.ledger = JobLedger(spark) if traced else None
        self.layers: Counter = Counter()
        #: latencies in the timed passes, by operation (query or wave)
        self.times: dict[str, list[float]] = {}
        self.timing = False
        self.attempted = 0
        self.failed = 0

    def start_timing(self) -> None:
        """End the warm-up pass: from here on latencies are recorded, and
        layer tallies and spans start over, so the per-layer numbers cover
        the timed passes only."""
        self.timing = True
        self.layers.clear()
        if self.ledger is not None:
            self.tracer = Tracer()

    def record(self, op: str, elapsed: float) -> None:
        if self.timing:
            self.times.setdefault(op, []).append(elapsed)

    def fail(self, what: str, reason: str) -> None:
        self.failed += 1
        log(f"FAILED {what}: {reason}")

    def _watchdog(self, *groups: str) -> threading.Timer:
        def cancel() -> None:
            for g in groups:
                self.sc.cancelJobGroup(g)

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.daemon = True
        timer.start()
        return timer

    def account_jobs(self, groups: dict[str, tuple[str, dict]]) -> None:
        """Add the jobs since the last snapshot to the layer tallies.
        ``groups`` maps a job group to its layer ('build' or 'exec') and the
        span its jobs ran under; each job becomes a child span there, and
        the layer's job time is the part of that span some job covered.
        Jobs of any other group count under 'other'."""
        offset = time.perf_counter() - time.time()
        covered_by: dict[str, list] = {}
        stages_seen: set[int] = set()
        for job in self.ledger.snapshot():
            if job["group"] == CHECK_GROUP:
                continue
            layer, span = groups.get(job["group"], ("other", None))
            self.layers[f"{layer}.jobs"] += 1
            if span is None:
                continue
            start, end = job["start"] + offset, job["end"] + offset
            self.tracer.add(f"{layer}_job", start, end, span["id"], span["qid"])
            covered_by.setdefault(job["group"], []).append((start, end))
            if layer != "exec":
                continue
            for st in job["stages"]:
                if st["id"] in stages_seen or st["tasks"] == 0:
                    continue
                stages_seen.add(st["id"])
                self.layers["exec.stages"] += 1
                self.layers["exec.tasks"] += st["tasks"]
                self.layers["exec.task_run_s"] += st["run_s"]
                self.layers["exec.task_cpu_s"] += st["cpu_s"]
                self.layers["exec.gc_s"] += st["gc_s"]
                for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                    self.layers[f"exec.{k}"] += st[k]
        for group, intervals in covered_by.items():
            layer, span = groups[group]
            self.layers[f"{layer}.job_s"] += covered(intervals, span["start"], span["end"])

    # -- batch workloads ---------------------------------------------------

    def query(self, name: str, qid: str, fn, checker) -> None:
        """One timed query: build the frame, plan it, collect it. The
        output check and every trace read happen after the clock stops."""
        tr, sc = self.tracer, self.sc
        build_g, exec_g = f"{qid}:build", f"{qid}:exec"
        self.attempted += 1
        timer = self._watchdog(build_g, exec_g)
        t0 = time.perf_counter()
        try:
            with tr.span("query", qid):
                sc.setJobGroup(build_g, name)
                with tr.span("build") as build_span:
                    df = fn(self.spark, self.sf_dir)
                with tr.span("plan"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                sc.setJobGroup(exec_g, name)
                with tr.span("exec") as exec_span:
                    rows = df.collect()
            elapsed = time.perf_counter() - t0
        except Exception as exc:  # one failed query must not end the run
            self.fail(qid, f"{type(exc).__name__}: {str(exc)[:300]}")
            return
        finally:
            timer.cancel()
            sc._jsc.clearJobGroup()
            self.spark.catalog.clearCache()
        log(f"{qid} {elapsed:.3f} s")
        self.record(name, elapsed)
        if elapsed > OP_TIMEOUT_S:
            self.fail(qid, f"took {elapsed:.1f} s, over the {OP_TIMEOUT_S:.0f} s limit")
            return
        if self.ledger is not None:
            self.account_jobs(
                {build_g: ("build", build_span), exec_g: ("exec", exec_span)}
            )
            self.trace_plan(df, qe)
        reason = checker.check(name, rows, df.columns)
        if reason is not None:
            self.fail(qid, f"output differs from the oracle: {reason}")

    def trace_plan(self, df, qe) -> None:
        from hadoop_coded_wordcount_spark.plans.metrics import collect_plan_metrics

        phases = qe.tracker().phases()
        for phase in ("optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                self.layers[f"plan.{phase}_s"] += summary.get().durationMs() / 1e3
        for k, v in collect_plan_metrics(df).items():
            self.layers[f"plans.{k}"] += v
        self.layers.update(udf_metrics(qe))

    def one_pass(self, label: str, work: wl.Workload, waves: list, checks) -> None:
        """The workload's queries in their listed order, then the stream
        replay, if it has one."""
        from hadoop_coded_wordcount_spark.registry import QUERIES

        checker, pairs = checks
        for name in work.queries:
            self.query(name, f"{label}.{name}", QUERIES[name], checker)
        if waves:
            self.stream_pass(label, waves, pairs)

    # -- stream replay -----------------------------------------------------

    def stream_pass(self, label: str, waves: list, expected: set) -> None:
        """One fresh streaming query fed every wave in turn. A wave is
        timed from its file landing in the source directory until
        ``processAllAvailable()`` returns."""
        import pyarrow.parquet as pq

        from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
            ingest_neardup_stream,
        )

        tr = self.tracer
        base = os.path.join(WORK, "stream", label)
        shutil.rmtree(base, ignore_errors=True)
        src, stage = os.path.join(base, "src"), os.path.join(base, "stage")
        os.makedirs(src)
        os.makedirs(stage)
        for i, wave in enumerate(waves):
            pq.write_table(wave, os.path.join(stage, f"wave{i:03d}.parquet"))
        name = f"perfbench_ingest_{label}"
        stream = self.spark.readStream.schema(DOC_SCHEMA).parquet(src)
        query = (
            ingest_neardup_stream(stream, cap=64)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        seen_batches: set = set()
        emitted: set = set()
        try:
            for i, wave in enumerate(waves):
                qid = f"{label}.w{i}"
                self.attempted += 1
                wave_ids = set(wave.column("doc_id").to_pylist())
                # a hung wave stops the query, which fails processAllAvailable
                timer = threading.Timer(OP_TIMEOUT_S, query.stop)
                timer.daemon = True
                timer.start()
                t0 = time.perf_counter()
                try:
                    with tr.span("wave", qid) as span:
                        os.rename(
                            os.path.join(stage, f"wave{i:03d}.parquet"),
                            os.path.join(src, f"wave{i:03d}.parquet"),
                        )
                        query.processAllAvailable()
                except Exception as exc:
                    self.fail(qid, f"{type(exc).__name__}: {str(exc)[:300]}")
                    break
                finally:
                    timer.cancel()
                elapsed = time.perf_counter() - t0
                log(f"{qid} {len(wave_ids)} docs {elapsed:.3f} s")
                self.record(f"wave{i}", elapsed)
                if self.ledger is not None:
                    self.trace_wave(query, span, qid, seen_batches)
                self.sc.setJobGroup(CHECK_GROUP, "output check")
                rows = self.spark.table(name).select(
                    "doc_id", "matched_doc_id", "est_jaccard", "band", "bucket"
                ).collect()
                self.sc._jsc.clearJobGroup()
                got = {tuple(r) for r in rows}
                new = got - emitted
                want = {e for e in expected if e[0] in wave_ids}
                if len(rows) != len(got) or not emitted <= got:
                    self.fail(qid, "the sink repeated or lost an emitted pair")
                elif new != want:
                    self.fail(
                        qid,
                        f"{len(new - want)} pairs not in the batch screen, "
                        f"{len(want - new)} screen pairs missing",
                    )
                emitted = got
                if elapsed > OP_TIMEOUT_S:
                    self.fail(qid, f"took {elapsed:.1f} s")
        finally:
            query.stop()
            if self.ledger is not None:
                self.layers["stream.emitted_rows"] += len(emitted)
                self.account_jobs({str(query.runId): ("exec", None)})
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(base, ignore_errors=True)

    def trace_wave(self, query, span, qid: str, seen: set) -> None:
        self.account_jobs({str(query.runId): ("exec", span)})
        # Python-worker metrics of the wave's last micro-batch plan
        last = query._jsq.streamingQuery().lastExecution()
        if last is not None:
            self.layers.update(udf_metrics(last))
        offset = time.perf_counter() - time.time()
        for b in stream_batches(query, seen):
            d = b.get("durationMs", {})
            trig = d.get("triggerExecution", 0) / 1e3
            start = _epoch(b["timestamp"]) + offset
            self.tracer.add("stream_batch", start, start + trig, span["id"], qid)
            self.layers["stream.batches"] += 1
            self.layers["stream.trigger_s"] += trig
            self.layers["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
            self.layers["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
            self.layers["stream.commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ) / 1e3
            ops = b.get("stateOperators") or []
            if ops:
                # levels, not flows: the state size after the latest batch
                self.layers["stream.state_rows"] = sum(o["numRowsTotal"] for o in ops)
                self.layers["stream.state_mem_bytes"] = sum(
                    o["memoryUsedBytes"] for o in ops
                )
            for o in ops:
                self.layers["stream.state_update_s"] += o.get("allUpdatesTimeMs", 0) / 1e3
                self.layers["stream.state_commit_s"] += o.get("commitTimeMs", 0) / 1e3


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def per_layer(run: Run, setup: dict, passes: int) -> dict:
    """The per-layer metrics of the timed passes: flows (times, counts,
    bytes) as per-pass means, levels and ratios as they stand."""
    lay, tracer = run.layers, run.tracer
    exec_s = tracer.total_by_name("exec") + tracer.total_by_name("wave")
    latencies = [t for ts in run.times.values() for t in ts]
    flows = {
        "sources.load_calls": tracer.count("load_table"),
        "sources.load_s": tracer.total_by_name("load_table"),
        "build.s": tracer.total_by_name("build"),
        "build.jobs": lay["build.jobs"],
        "build.job_s": lay["build.job_s"],
        # build time not under a table load or a job: Python and py4j
        "build.py_s": tracer.self_time_by_name().get("build", 0.0),
        "plan.s": tracer.total_by_name("plan"),
        "plan.optimization_s": lay["plan.optimization_s"],
        "plan.planning_s": lay["plan.planning_s"],
        "exec.s": exec_s,
        **{
            k: lay[k]
            for k in wl.PER_LAYER_UNITS
            if k.split(".")[0] in ("exec", "plans", "udf", "stream")
            and k not in ("exec.s", "exec.busy_share")
            and k not in LEVELS
        },
    }
    vals = {k: v / passes for k, v in flows.items()}
    vals.update({
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "session.jvm_peak_rss_mb": setup["jvm_peak_rss_mb"],
        "exec.busy_share": (
            lay["exec.task_run_s"] / (exec_s * run.nproc) if exec_s else 0.0
        ),
        **{k: lay[k] for k in LEVELS},
        "query_p50_s": percentile(latencies, 50),
        "query_p90_s": percentile(latencies, 90),
        "failed_share": failed_share(run.failed, run.attempted),
        "trace.wall_s": median_pass(run.times),
    })
    if lay["other.jobs"]:
        log(f"{lay['other.jobs']} jobs ran outside any traced group")
    return {k: {"value": vals[k], "unit": u} for k, u in wl.PER_LAYER_UNITS.items()}


#: Per-layer metrics that are levels, not flows: the stream state's size
#: after the latest micro-batch.
LEVELS = ("stream.state_rows", "stream.state_mem_bytes")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = wl.WORKLOADS[args.workload]

    nproc = len(os.sched_getaffinity(0))
    local_dir = os.path.join(WORK, "local")
    tmp_dir = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    sys.path.insert(0, ROOT)
    try:
        from hadoop_coded_wordcount_spark.session import get_spark
        # importing the registry loads every operator module: part of setup
        import hadoop_coded_wordcount_spark.registry  # noqa: F401
    except ImportError as exc:
        log(f"the engine package is not importable from {ROOT}: {exc}")
        return 2
    import_s = time.perf_counter() - T_PROC

    import datagen

    shutil.rmtree(local_dir, ignore_errors=True)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(local_dir)
    os.makedirs(tmp_dir)
    sf_dir = datagen.ensure(os.path.join(WORK, "sf0.1"))
    checks = prepare_checks(sf_dir, work)
    waves = stream_waves(sf_dir, work, random.Random(args.seed))
    passes = max(1, round(args.seconds / PASS_S))
    print(
        f"perfbench workload={args.workload} seed={args.seed} nproc={nproc} "
        f"sf=0.1 passes={passes} trace={args.trace}",
        flush=True,
    )

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            # keep the JVM's temp files and perf counters inside the checkout
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        start_s = import_s + t1 - t0
        run = Run(spark, sf_dir, nproc, traced=bool(args.trace))
        if args.trace:
            _trace_load_table(run)
        run.one_pass("warm", work, waves, checks)
        t2 = time.perf_counter()
        warmup_s = t2 - t1
        run.start_timing()
        if args.trace:
            run.tracer.add("session", t0, t1, None, None)
            run.tracer.add("warmup", t1, t2, None, None)
        for p in range(passes):
            run.one_pass(f"p{p}", work, waves, checks)
        setup = {
            "start_s": start_s,
            "warmup_s": warmup_s,
            "jvm_peak_rss_mb": jvm_peak_rss_mb(spark) if args.trace else 0.0,
        }
    finally:
        _stop(spark)
    if not run.times:
        log(f"no operation of the timed passes succeeded ({run.failed} failed)")
        return 1
    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        run.tracer.write(
            os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "nproc": nproc,
             "passes": passes},
        )
        metrics = per_layer(run, setup, passes)
    else:
        metrics = {
            "setup_s": {"value": start_s + warmup_s, "unit": "s"},
            "wall_s": {"value": median_pass(run.times), "unit": "s"},
        }
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    log(f"done in {time.perf_counter() - T_PROC:.1f} s")
    return 0


def _stop(spark) -> None:
    """Stop the session, then end the JVM pyspark launched and wait for it,
    so the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def prepare_checks(sf_dir: str, work: wl.Workload):
    """Compute, on the first run in a checkout, the oracle answers of every
    workload, so no later run pays for them; then return what this
    workload checks against: an OracleChecker for its queries and the
    pair set its stream replay must emit (None without one)."""
    import datagen
    from checks import OracleChecker, screen_pairs
    from hadoop_coded_wordcount_spark.registry import ORACLES

    cache = os.path.join(WORK, "expected")
    checker = OracleChecker(ROOT, sf_dir, cache, datagen.VERSION, ORACLES)
    checker.build(q for w in wl.WORKLOADS.values() for q in w.queries)
    pairs = {
        w.docs: screen_pairs(
            cache, datagen.VERSION, os.path.join(sf_dir, "documents.parquet"),
            w.docs, ORACLES["ingest_neardup_screen"],
        )
        for w in wl.WORKLOADS.values()
        if w.waves
    }
    checker.load(work.queries)
    return checker, pairs.get(work.docs) if work.waves else None


def stream_waves(sf_dir: str, work: wl.Workload, rng: random.Random) -> list:
    """The stream replay's input, cut into waves by the seed's draw."""
    if not work.waves:
        return []
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text", "source"]
    )
    return wl.waves(docs.filter(pc.less(docs["doc_id"], work.docs)), work.waves, rng)


def _trace_load_table(run: Run) -> None:
    """Wrap the public ``sources.catalog.load_table`` wherever the engine's
    modules imported it, so each table load records a span in the run's
    current tracer."""
    from hadoop_coded_wordcount_spark.sources import catalog

    orig = catalog.load_table

    def load_table(*args, **kwargs):
        with run.tracer.span("load_table"):
            return orig(*args, **kwargs)

    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("hadoop_coded_wordcount_spark") and (
            getattr(mod, "load_table", None) is orig
        ):
            mod.load_table = load_table


if __name__ == "__main__":
    sys.exit(main())
