#!/usr/bin/env python
"""Benchmark harness: wall-clock every registry query at a given scale factor.

Run: ``python bench.py``. Env knobs:

* ``SPARK_GRAFT_SF_DIR`` — parquet dir (default ``/root/testdata/sf0.1``)
* ``SPARK_GRAFT_CPUS``   — local[] core count (default 32)
* ``SPARK_GRAFT_BENCH_METRICS=1`` — also record each query's executed-plan
  communication profile (shuffle records/bytes — the reference's
  PACKETS_SENT counter surface) into ``bench_detail.json``. Materializes
  through the plan's own QueryExecution instead of the noop sink, so the
  default timing path is untouched when the knob is off.

Each query is materialized through the ``noop`` sink — full execution of
every operator and row on the executors, zero driver-side collection — so
the number measures the plan, not the network to the driver.

Stdout carries exactly ONE compact JSON line (everything else goes to
stderr) so it survives tail-truncated capture whole — rounds 1-2 emitted
the full per-query dict inline and the ~2.2 KB capture window cut the line,
losing the total:

``{"metric": "total_query_wall_sec", "value": N, "unit": "sec", "sf": 0.1,
   "n_queries": N, "queries": {10 heaviest only}, "detail_file": ...}``

The full per-query detail is written to ``bench_detail_last.json``
(gitignored) next to this script and echoed to stderr; the COMMITTED
``bench_detail.json`` is the idle-box min+median BASELINE the regression
gate reads, and a default run never writes it (two consecutive rounds of
driver runs clobbered it in the working tree). Re-record deliberately:
``SPARK_GRAFT_BENCH_RECORD=1`` with ``SPARK_GRAFT_BENCH_REPEAT=N`` on an
idle box, or point ``SPARK_GRAFT_BENCH_DETAIL`` at the baseline path.

The reference publishes no throughput numbers (SURVEY.md §6); the operative
baseline is the driver's recorded BENCH per round, so keeping this harness
stable across rounds is what makes numbers comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

from hadoop_coded_wordcount_spark.registry import QUERIES
from hadoop_coded_wordcount_spark.session import get_spark, warm_up

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def _box_factor(base: dict, timings: dict) -> float:
    """Shared slowdown factor of this run vs the stored baseline: the
    median per-query ratio. A loaded box slows everything uniformly;
    dividing it out leaves only per-query plan changes. Floored at 1.0 —
    a faster box never excuses a slowdown."""
    ratios = sorted(
        now / old
        for name, now in timings.items()
        for old in [base.get(name)]
        if old
    )
    box = ratios[len(ratios) // 2] if ratios else 1.0
    return max(box, 1.0)


def _regresses(old: float, now: float, box: float) -> bool:
    """True when `now` is both 1.5× slower box-adjusted AND slower by an
    absolute floor — 0.5 s normally, 1.0 s when the baseline is under
    0.4 s (VERDICT r9 item 3: sub-0.4 s medians are scheduler jitter, so
    a 1.5× ratio is one unlucky task away; a genuinely broken tiny query
    — say one that starts scanning an unpruned table — blows through 1 s
    absolute and still flags)."""
    return now > 1.5 * box * old and now - box * old > (
        1.0 if old < 0.4 else 0.5
    )


def find_regressions(
    prior: dict, timings: dict, sf: float
) -> dict[str, list[float]]:
    """Box-factor-normalized regression gate (VERDICT r5 item 2 on the
    bench): a loaded box slows every query by a shared factor, so each
    query's now/old ratio is divided by the run's median ratio before
    the (1.5× AND +0.5 s) test — uniform slowdowns report ~nothing,
    real per-query plan regressions still flag.

    The baseline leg prefers the stored per-query MEDIAN over the min
    (VERDICT r7 item 9): an elementwise best-of-N baseline reads ~1.5×
    low against any single fresh run — and non-uniformly so (high-
    variance queries read lower), which the shared-factor normalization
    cannot remove; r7 flagged 4 regressions that idle-box re-runs
    adjudicated as exactly this artifact. The FRESH leg must be the
    run's median too (with repeat=1 min and median coincide): gating
    the fresh min against the stored median is biased low on the fresh
    side and can mask real regressions when repeat>1."""
    if prior.get("sf") != sf:
        return {}
    base = prior.get("queries_median") or prior.get("queries", {})
    box = _box_factor(base, timings)
    return {
        name: [old, now]
        for name, now in timings.items()
        for old in [base.get(name)]
        if old is not None and _regresses(old, now, box)
    }


def adjudicate_regressions(
    regressions: dict,
    base: dict,
    box: float,
    medians: dict,
    rerun,
    sentinel: tuple | None = None,
) -> tuple[dict, dict]:
    """Self-adjudicating retest (VERDICT r9 item 3): host CPU-steal bursts
    hit a few RANDOM queries per sweep (measured on the r10 box: ~16 CPUs'
    worth stolen in 5 s bursts), and every one of r9's 16 flags cleared on
    the judge's min-of-3 re-runs. Build that adjudication in: re-run each
    candidate up to twice and keep the flag only if the BEST time still
    regresses. A real plan regression reproduces on every run; a steal
    burst doesn't.

    ``rerun(name)`` executes the query once and returns elapsed seconds
    (or None on error, which keeps the flag — an erroring retest never
    clears one). Returns ``(confirmed_regressions, retests)``; recorded
    timings stay the first-run values, only the flag decision changes.

    ``sentinel`` (ADVICE r10): the original sweep's box factor can be
    ≫1 on a loaded box, and judging an IDLE retest against it would
    clear a genuine regression of up to 1.5×box. Pass an unflagged
    ``(name, baseline_median)`` pair and the retest phase re-times it
    once to estimate the RETEST-time box factor; flags are then judged
    at ``min(box, retest_box)`` — idle retests get the honest 1.0,
    while a still-loaded retest keeps the original normalization (the
    adjudicator only ever CLEARS flags, so erring toward the larger
    factor errs toward noise flags, never toward masking).
    """
    retest_box = box
    if sentinel is not None and regressions:
        s_name, s_old = sentinel
        took = rerun(s_name)
        if took is not None and s_old:
            retest_box = min(box, max(1.0, took / s_old))
    retests: dict[str, float] = {}
    for name in sorted(regressions):
        old = base[name]
        best = medians[name]
        for _ in range(2):
            if not _regresses(old, best, retest_box):
                break
            took = rerun(name)
            if took is None:
                break
            best = min(best, round(took, 3))
        retests[name] = best
    confirmed = {
        name: [base[name], retests[name]]
        for name in regressions
        if _regresses(base[name], retests[name], retest_box)
    }
    return confirmed, retests


def materialize(df) -> None:
    """Execute the full plan with no driver-side result transfer."""
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    spark = get_spark(app_name="hcw-spark-bench")
    warm_up(spark, SF_DIR)

    # SPARK_GRAFT_BENCH_REPEAT > 1 records min-of-N per query — local
    # noise control on a shared box; the driver default (1) is untouched
    # so recorded rounds stay comparable.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))
    with_metrics = os.environ.get("SPARK_GRAFT_BENCH_METRICS") == "1"
    # SPARK_GRAFT_BENCH_ONLY="q1,q2" restricts the sweep — scaling runs
    # (e.g. the sf1 decade proof) time a heavy subset, not all 350+.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    queries = QUERIES
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        queries = {n: QUERIES[n] for n in names if n in QUERIES}

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    comm: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    for name, fn in queries.items():
        runs: list[float] = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            try:
                df = fn(spark, SF_DIR)
                if with_metrics:
                    from hadoop_coded_wordcount_spark.plans.metrics import (
                        run_with_metrics,
                    )

                    comm[name] = run_with_metrics(df)
                else:
                    materialize(df)
                runs.append(time.perf_counter() - t0)
            except Exception as exc:  # keep benching the rest
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"{name}: ERROR {errors[name]}", file=sys.stderr)
                break
            finally:
                # operators that persist() an intermediate must not
                # subsidize (or GC-tax) later queries — every timing is
                # self-contained
                spark.catalog.clearCache()
        if runs and name not in errors:
            timings[name] = round(min(runs), 3)
            # the median is the honest BASELINE leg for future regression
            # checks (a single fresh run compares like-for-like against
            # it, unlike the min); with repeat=1 they coincide
            medians[name] = round(sorted(runs)[len(runs) // 2], 3)
            print(f"{name}: {timings[name]:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = _sf_from_dir(SF_DIR)
    # Round-over-round regression gate: diff against the COMMITTED
    # baseline (bench_detail.json, idle-box min+median legs). Each
    # query's now/old ratio is first normalized by the run's MEDIAN
    # ratio — a loaded box slows every query by a shared factor
    # (measured: median ratio 2.04 across 338 untouched queries on the
    # round-5 driver box, flagging 155 false "regressions"), and
    # dividing it out leaves only per-query plan changes. A query then
    # regresses when it is both 1.5× slower box-adjusted and past the
    # absolute floor — and survives the retest adjudication.
    #
    # READ/WRITE SPLIT (VERDICT r9 hygiene item 1, second offence): the
    # baseline is READ for the gate but a default run writes its fresh
    # detail to bench_detail_last.json (gitignored) — the driver's
    # single per-round run overwrote the committed min+median baseline
    # in the working tree in BOTH r8 and r9, and the round commit then
    # baked the noisy single run in as the next round's baseline.
    # Re-recording the baseline is now deliberate only:
    # SPARK_GRAFT_BENCH_RECORD=1 (or point SPARK_GRAFT_BENCH_DETAIL at
    # the baseline path) with idle-box min+median-of-N via
    # SPARK_GRAFT_BENCH_REPEAT.
    here = os.path.dirname(os.path.abspath(__file__))
    baseline_path = os.environ.get(
        "SPARK_GRAFT_BENCH_BASELINE"
    ) or os.path.join(here, "bench_detail.json")
    if os.environ.get("SPARK_GRAFT_BENCH_RECORD") == "1":
        detail_path = baseline_path
    else:
        detail_path = os.environ.get(
            "SPARK_GRAFT_BENCH_DETAIL"
        ) or os.path.join(here, "bench_detail_last.json")
    regressions: dict[str, list[float]] = {}
    try:
        with open(baseline_path) as fh:
            prior = json.load(fh)
        # median-vs-median: the stored baseline leg is the per-query
        # median, so the fresh leg must be too (min-vs-median reads
        # ~uniformly low and can hide a real regression at repeat>1)
        regressions = find_regressions(prior, medians, sf)
    except (OSError, ValueError):
        prior = {}
    retests: dict[str, float] = {}
    if regressions:
        base = prior.get("queries_median") or prior.get("queries", {})

        def _rerun(name: str) -> float | None:
            # elapsed captured immediately after materialize(); the cache
            # clear is hygiene BETWEEN timings, not part of one (ADVICE
            # r10: timing it biased retests high, and skipping it on the
            # exception path let a failed retest's persisted intermediates
            # tax the next one)
            t0 = time.perf_counter()
            try:
                materialize(queries[name](spark, SF_DIR))
                return time.perf_counter() - t0
            except Exception:
                return None
            finally:
                spark.catalog.clearCache()

        # retest-time box-factor sentinel (ADVICE r10): the unflagged
        # mid-weight query closest to the baseline's median median —
        # stable, representative, and cheap to re-time once
        cands = sorted(
            (name, old)
            for name, old in base.items()
            if name in queries
            and name in medians
            and name not in regressions
            and old >= 0.4
        )
        sentinel = None
        if cands:
            mid = sorted(old for _, old in cands)[len(cands) // 2]
            sentinel = min(cands, key=lambda kv: (abs(kv[1] - mid), kv[0]))
        regressions, retests = adjudicate_regressions(
            regressions,
            base,
            _box_factor(base, medians),
            medians,
            _rerun,
            sentinel=sentinel,
        )
        for name, best in sorted(retests.items()):
            if name not in regressions:
                print(
                    f"RETEST {name}: cleared at {best:.3f}s "
                    f"(first run {medians[name]:.3f}s)",
                    file=sys.stderr,
                )
    for name, (old, now) in sorted(regressions.items()):
        print(f"REGRESSION {name}: {old:.3f}s -> {now:.3f}s", file=sys.stderr)
    detail = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "sf": sf,
    }
    if errors:
        detail["errors"] = errors
    if comm:
        detail["communication"] = comm
    if retests:
        detail["retests"] = retests
    if regressions:
        detail["regressions"] = regressions
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"bench_detail.json not written: {exc}", file=sys.stderr)
    heaviest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    summary = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_regressions": len(regressions),
        "queries": heaviest,
        "detail_file": os.path.basename(detail_path),
    }
    # Exactly ONE compact JSON line on stdout: rounds 1-2 emitted the full
    # per-query dict inline and the capture window (~2.2 KB, keeps the tail)
    # truncated it mid-line — "parsed: null", total lost. The compact
    # summary always fits; full detail lives in bench_detail.json + stderr.
    print(json.dumps(detail), file=sys.stderr)
    print(json.dumps(summary))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
