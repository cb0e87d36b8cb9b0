"""Relational sweep vs DuckDB oracle at sf0.01 (the driver's gate, locally)."""

from __future__ import annotations

from conftest import SF001

from hadoop_coded_wordcount_spark.operators.relational import approx_distinct
from hadoop_coded_wordcount_spark.sources.catalog import load_table

# The per-name oracle sweep moved to tests/test_oracle_sweep.py, which
# parametrizes over the ENTIRE registry (all oracled + rows-only entries)
# so coverage no longer depends on a hand-maintained name list.


def test_approx_distinct_within_rsd(spark):
    rows = approx_distinct(load_table(spark, SF001, "lineitem")).collect()
    assert rows
    for r in rows:
        # rsd=0.02 → generous 10% tolerance for small-cardinality wobble
        assert abs(r.approx_suppliers - r.exact_suppliers) <= max(
            3, 0.10 * r.exact_suppliers
        )


def test_approx_percentile_tracks_exact(spark):
    """Sketch percentiles must land within a tight relative band of the
    exact values at this accuracy setting."""
    from hadoop_coded_wordcount_spark.operators import relational as rel
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    exact = {r.l_returnflag: r for r in rel.percentile_agg(li).collect()}
    approx = {r.l_returnflag: r for r in rel.approx_percentile_agg(li).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a.median_qty_approx - e.median_qty) <= max(1.0, 0.05 * e.median_qty)
        assert abs(a.p75_price_approx - e.p75_price) <= 0.05 * e.p75_price


def test_concurrent_registry_queries_are_isolated(spark):
    """Registry queries must be safe to run concurrently on one session —
    no shared temp-view names, no conf races (the round-1 grouping_sets
    global view would have failed this)."""
    from concurrent.futures import ThreadPoolExecutor

    from hadoop_coded_wordcount_spark.registry import QUERIES

    names = [
        "grouping_sets",
        "sql_api_priority_counts",
        "wordcount",
        "join_broadcast",
        "sql_api_priority_counts",
        "grouping_sets",
    ]

    def run(name):
        return name, QUERIES[name](spark, "/root/testdata/sf0.001").count()

    with ThreadPoolExecutor(max_workers=6) as ex:
        results = list(ex.map(run, names))
    by_name = {}
    for name, cnt in results:
        assert cnt > 0
        assert by_name.setdefault(name, cnt) == cnt  # same query, same count


def test_recursive_cte_sql_frontend(spark):
    """Spark 4 WITH RECURSIVE: acyclic path expansion terminates and
    produces every prefix path. (Deduplicating UNION inside the recursion
    is not supported yet — UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE — which
    is why cyclic transitive closure lives in
    dedup.connected_components_star rather than the SQL front-end.)"""
    spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["src", "dst"]
    ).createOrReplaceTempView("chain_edges")
    rows = spark.sql(
        """
        WITH RECURSIVE paths(node, depth) AS (
          SELECT src, 0 FROM chain_edges WHERE src = 0
          UNION ALL
          SELECT e.dst, p.depth + 1
          FROM paths p JOIN chain_edges e ON e.src = p.node
        )
        SELECT node, depth FROM paths ORDER BY depth
        """
    ).collect()
    assert [(r.node, r.depth) for r in rows] == [(i, i) for i in range(11)]


def test_q13_includes_zero_order_customers(spark):
    """The exclusion filter must ride the join condition: customers with
    no qualifying orders appear in the c_count=0 bucket."""
    from hadoop_coded_wordcount_spark.operators.relational import (
        q13_customer_distribution,
    )
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    cust = load_table(spark, SF001, "customer")
    orders = load_table(spark, SF001, "orders")
    dist = {
        r["c_count"]: r["custdist"]
        for r in q13_customer_distribution(cust, orders).collect()
    }
    assert 0 in dist and dist[0] > 0
    assert sum(dist.values()) == cust.count()


def test_incremental_merge_handles_empty_delta(spark):
    """Cutoff past the data's max date → the delta side is empty; the
    merged state must equal the state alone (monoid identity)."""
    from hadoop_coded_wordcount_spark.operators.relational import (
        incremental_agg_update,
    )

    orders = load_table(spark, SF001, "orders")
    far = incremental_agg_update(orders, cutoff="2999-01-01").collect()
    near = incremental_agg_update(orders, cutoff="1000-01-01").collect()
    assert sorted(map(tuple, far)) == sorted(map(tuple, near))


def test_mixture_weights_normalize_and_cap(spark):
    from hadoop_coded_wordcount_spark.operators.pipeline import mixture_weights

    docs = load_table(spark, SF001, "documents")
    rows = mixture_weights(docs, budget=10_000).collect()
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert 0.0 < r["sampling_rate"] <= 1.0
        assert r["budget_tokens"] >= 0
    # tiny budget → every source undersampled, rates strictly < 1
    assert all(r["sampling_rate"] < 1.0 for r in rows)


def test_sessionize_splits_on_gap(spark):
    """Known stream: events 10 min apart stay in one session; a 31-min
    gap opens a new one; per-session bounds and counts are exact."""
    from datetime import datetime, timedelta

    from hadoop_coded_wordcount_spark.operators import relational as rel

    t0 = datetime(2025, 1, 1, 12, 0, 0)
    rows = [
        # user 1: three events 10 min apart, then a 31-min gap, then one
        (1, 1, t0, 1.0),
        (2, 1, t0 + timedelta(minutes=10), 1.0),
        (3, 1, t0 + timedelta(minutes=20), 1.0),
        (4, 1, t0 + timedelta(minutes=51), 5.0),
        # user 2: a single event
        (5, 2, t0, 2.0),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    out = {
        (r.user_id, r.session_seq): r
        for r in rel.sessionize_events(ev, gap_minutes=30).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11 = out[(1, 1)]
    assert s11.n_events == 3 and s11.duration_sec == 1200
    s12 = out[(1, 2)]
    assert s12.n_events == 1 and s12.duration_sec == 0 and s12.sum_value == 5.0
    # exactly-30-min gap does NOT split (strict > gap)
    ev2 = spark.createDataFrame(
        [(1, 1, t0, 0.0), (2, 1, t0 + timedelta(minutes=30), 0.0)],
        ["event_id", "user_id", "ts", "value"],
    )
    assert rel.sessionize_events(ev2, gap_minutes=30).count() == 1


def test_rolling_anomaly_flags_planted_spike(spark):
    """Flat hourly traffic with one 100× spike: only the spike hour is
    flagged, and warm-up hours (<12 reference hours) are excluded."""
    from datetime import datetime, timedelta

    from hadoop_coded_wordcount_spark.operators import relational as rel

    t0 = datetime(2025, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for h in range(48):
        # slight alternation so the reference window has nonzero variance
        n = 4 if h % 2 == 0 else 5
        v = 100.0 if h == 40 else 1.0
        for k in range(n):
            eid += 1
            rows.append((eid, t0 + timedelta(hours=h, minutes=k), 7, "view", v))
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = rel.rolling_anomaly(ev).collect()
    flagged = {r.hour.hour + 24 * (r.hour.day - 1) for r in out if r.is_anomaly}
    assert flagged == {40 + (t0.day - 1) * 24}
    # warm-up exclusion: first 12 hours never scored
    assert min(r.hour for r in out) >= t0 + timedelta(hours=12)


def test_exact_percentiles_by_group_bit_identical_to_builtin(spark):
    """The histogram formulation (bounded state, parallel count phase)
    must reproduce the builtin percentile's doubles EXACTLY — same
    floor/ceil ranks, same (ceil-pos)*lo + (pos-floor)*hi interpolation."""
    from pyspark.sql import functions as F

    from hadoop_coded_wordcount_spark.operators import relational as rel
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    ref = sorted(
        map(
            tuple,
            li.groupBy("l_returnflag")
            .agg(
                F.percentile("l_extendedprice", F.lit(0.05)).alias("p0"),
                F.percentile("l_extendedprice", F.lit(0.25)).alias("p1"),
                F.percentile("l_extendedprice", F.lit(0.5)).alias("p2"),
                F.percentile("l_extendedprice", F.lit(0.95)).alias("p3"),
            )
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            rel.exact_percentiles_by_group(
                li, "l_returnflag", "l_extendedprice", [0.05, 0.25, 0.5, 0.95]
            ).collect(),
        )
    )
    assert got == ref  # exact equality, not approx


def test_global_row_number_matches_naive_window(spark):
    """The range-partition + offset formulation must equal the naive
    single-task window exactly, and survive a different input layout."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hadoop_coded_wordcount_spark.operators import relational as rel
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    naive = {
        (r.o_orderkey, r.rn)
        for r in orders.select(
            "o_orderkey",
            F.row_number().over(Window.orderBy("o_orderkey")).alias("rn"),
        ).collect()
    }
    got = {
        (r.o_orderkey, r.rn)
        for r in rel.global_row_number(orders, n_parts=7).collect()
    }
    assert got == naive
    again = {
        (r.o_orderkey, r.rn)
        for r in rel.global_row_number(
            orders.repartition(13), n_parts=7
        ).collect()
    }
    assert again == naive


def test_table_profile_single_scan(spark):
    """All 4x5 profile aggregates must come from ONE scan/aggregate —
    profiling must never cost a pass per column."""
    from hadoop_coded_wordcount_spark.operators import relational as rel
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    df = rel.table_profile(li)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    rows = {r.col: r for r in df.collect()}
    assert set(rows) == {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
    for r in rows.values():
        assert r.n_null == 0 and r.ndv > 0 and r.vmin <= r.vmax


def test_equidepth_histogram_covers_all_rows(spark):
    """Bins partition the table: counts sum to the row count, bins are
    0..9, and each bin's [vmin, vmax] is within its neighbors' order."""
    from hadoop_coded_wordcount_spark.operators import relational as rel
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    rows = sorted(rel.equidepth_histogram(orders).collect(), key=lambda r: r.bin)
    assert [r.bin for r in rows] == list(range(10))
    assert sum(r.n for r in rows) == orders.count()
    for a, b in zip(rows, rows[1:]):
        assert a.vmax <= b.vmin


def test_ewma_recurrence_hand_values(spark):
    """alpha=1/2 pandas adjust=False semantics: E1=v1, E=(E+v)/2."""
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import ewma_values

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, i, t0 + dt.timedelta(minutes=i), float(v))
        for i, v in enumerate([8.0, 4.0, 2.0])
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, value double"
    )
    got = {r.event_id: r.ewma for r in ewma_values(df).collect()}
    assert got == {0: 8.0, 1: 6.0, 2: 4.0}  # 8; (8+4)/2; (6+2)/2
    # constant series is a fixed point
    cdf = spark.createDataFrame(
        [(2, i, t0 + dt.timedelta(minutes=i), 5.0) for i in range(40)],
        "user_id long, event_id long, ts timestamp_ntz, value double",
    )
    assert {r.ewma for r in ewma_values(cdf).collect()} == {5.0}


def test_pareto_front_is_mutually_nondominated(spark):
    from hadoop_coded_wordcount_spark.operators.relational import pareto_front

    orders = load_table(spark, SF001, "orders")
    front = pareto_front(orders).collect()
    assert front
    # no front member dominates another
    for a in front:
        for b in front:
            if a.o_orderkey == b.o_orderkey:
                continue
            dominates = (
                a.o_totalprice >= b.o_totalprice
                and a.o_orderdate >= b.o_orderdate
                and (
                    a.o_totalprice > b.o_totalprice
                    or a.o_orderdate > b.o_orderdate
                )
            )
            assert not dominates, (a, b)
    # and the global max-price order is always on the front
    import pyspark.sql.functions as F2

    top = orders.orderBy(F2.desc("o_totalprice"), F2.desc("o_orderdate")).first()
    assert any(r.o_orderkey == top.o_orderkey for r in front) or any(
        r.o_totalprice == top.o_totalprice for r in front
    )


def test_concurrency_profile_hand_case(spark):
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import (
        concurrency_profile,
    )

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0),                                 # holds 10:00-10:05
        (2, t0 + dt.timedelta(minutes=1)),       # 10:01-10:06 (peak 2)
        (3, t0 + dt.timedelta(minutes=30)),      # 10:30-10:35 (back to 1)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp_ntz")
    got = {r.hour: r.peak_concurrency for r in concurrency_profile(df).collect()}
    assert got["2024-01-01 10:00:00"] == 2
    # carried-in occupancy: an event at 10:59 holds into hour 11 with no
    # delta point of its own inside that hour — the boundary probe must
    # still report it (the bug the r5 review caught)
    late = spark.createDataFrame(
        [(9, dt.datetime(2024, 1, 1, 10, 59))],
        "event_id long, ts timestamp_ntz",
    )
    got2 = {
        r.hour: r.peak_concurrency for r in concurrency_profile(late).collect()
    }
    assert got2["2024-01-01 11:00:00"] == 1


def test_keyset_pagination_equals_offset_every_page(spark):
    """Seek-method pages must tile the offset-sorted relation exactly —
    including page 1 (no boundary) and the ragged last page."""
    import pyspark.sql.functions as F2

    from hadoop_coded_wordcount_spark.operators.relational import keyset_page

    orders = load_table(spark, SF001, "orders").limit(95)
    full = [
        r.o_orderkey
        for r in orders.orderBy(
            F2.desc("o_orderdate"), F2.asc("o_orderkey")
        ).collect()
    ]
    seen = []
    for page in range(1, 7):  # 5 pages of 20 over 95 rows + one empty
        got = [r.o_orderkey for r in keyset_page(orders, 20, page).collect()]
        assert got == full[(page - 1) * 20 : page * 20], page
        seen += got
    assert seen == full


def test_entity_resolution_transitive_merge_and_singletons(spark):
    """A→B and B→C within edit distance 3 (A→C farther) must still
    land in ONE entity via transitivity; the canonical name is the
    minimum-partkey member's; unmatched names form singletons."""
    from hadoop_coded_wordcount_spark.operators.relational import (
        entity_resolution,
    )

    rows = [
        # one chain: dist(a,b)=2, dist(b,c)=2, dist(a,c)=4 > 3
        (10, "azure metal rod xx"),
        (20, "azure metal rod xxzz"),
        (30, "azure metal rod xxzzqq"),
        # duplicate name rows collapse to one entity member
        (40, "azure metal rod xx"),
        # different block (first token differs) — never a candidate
        (50, "green metal rod xx"),
    ]
    part = spark.createDataFrame(rows, ["p_partkey", "p_name"])
    out = {r.p_name: r for r in entity_resolution(part).collect()}
    assert len(out) == 4  # distinct names
    chain = [
        out["azure metal rod xx"],
        out["azure metal rod xxzz"],
        out["azure metal rod xxzzqq"],
    ]
    assert {r.entity_id for r in chain} == {10}
    assert all(r.canonical_name == "azure metal rod xx" for r in chain)
    assert all(r.n_members == 3 for r in chain)
    green = out["green metal rod xx"]
    assert green.entity_id == 50 and green.n_members == 1
    assert green.canonical_name == "green metal rod xx"


def test_kaplan_meier_hand_curve(spark):
    """Four customers with hand-computable life table: churners at t=0
    and t=2, censoring at t=0 and t=12; survival steps 0.75 -> 0.375
    and stays flat through the censored-only time."""
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import (
        kaplan_meier_churn,
    )

    def d(s):
        return dt.datetime.fromisoformat(s)

    rows = [
        (1, 1, d("2020-01-01")),  # churned, t=0
        (2, 2, d("2020-01-01")),
        (3, 2, d("2020-03-01")),  # churned, t=2
        (4, 3, d("2020-01-01")),
        (5, 3, d("2020-12-01")),  # censored (30d gap), t=12
        (6, 4, d("2020-12-31")),  # censored at window end, t=0
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp"
    )
    got = {
        r.t_months: r for r in kaplan_meier_churn(orders).collect()
    }
    assert set(got) == {0, 2, 12}
    assert (got[0].n_at_risk, got[0].d_churned, got[0].c_censored) == (4, 1, 1)
    assert got[0].survival == 0.75
    assert (got[2].n_at_risk, got[2].d_churned, got[2].c_censored) == (2, 1, 0)
    assert got[2].survival == 0.375
    assert (got[12].n_at_risk, got[12].d_churned, got[12].c_censored) == (1, 0, 1)
    assert got[12].survival == 0.375  # censored-only time: curve is flat


def test_holt_forecast_locks_linear_trend(spark):
    """On an exactly linear daily series (one event on day 1, two on
    day 2, ...) Holt with alpha=beta=1/2 reproduces level=y_t, trend=k,
    forecast=y_{t+1} exactly; day 1 has undefined (NULL) state; a
    nonlinear reference series matches a Python replay bit for bit."""
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import (
        holt_forecast,
    )

    rows = []
    eid = 0
    # type 'lin': k events on day k (y = 1,2,3,4,5)
    for day in range(1, 6):
        for _ in range(day):
            eid += 1
            rows.append(
                (eid, dt.datetime(2020, 1, day), 1, "lin", 0.0, "{}")
            )
    # type 'ref': counts 10, 14, 12, 20
    for day, cnt in enumerate([10, 14, 12, 20], start=1):
        for _ in range(cnt):
            eid += 1
            rows.append(
                (eid, dt.datetime(2020, 1, day), 1, "ref", 0.0, "{}")
            )
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    out = {
        (r.event_type, r.day): r for r in holt_forecast(events).collect()
    }
    first = out[("lin", "2020-01-01")]
    assert first.level is None and first.trend is None
    assert first.forecast_next is None
    for day in range(2, 6):
        r = out[("lin", f"2020-01-0{day}")]
        assert (r.level, r.trend, r.forecast_next) == (
            float(day), 1.0, float(day + 1),
        )
    # python replay of the alpha=beta=1/2 recurrence
    ys = [10.0, 14.0, 12.0, 20.0]
    l, b = ys[1], ys[1] - ys[0]
    expect = {2: (l, b)}
    for t, x in enumerate(ys[2:], start=3):
        nl = (x + (l + b)) * 0.5
        b = ((nl - l) + b) * 0.5
        l = nl
        expect[t] = (l, b)
    for t in range(2, 5):
        r = out[("ref", f"2020-01-0{t}")]
        assert (r.level, r.trend) == expect[t]
        assert r.forecast_next == expect[t][0] + expect[t][1]


def test_interval_coverage_hand_islands(spark):
    """Supplier 1: [0,5] and [3,8] overlap (one island, 9 days),
    [20,22] stands alone; touching intervals [8,...] would merge but a
    1-day gap does not. Supplier 2: nested interval stays one island."""
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import (
        interval_coverage,
    )

    def d(offset):
        return dt.datetime(1995, 1, 1) + dt.timedelta(days=offset)

    # (orderkey, orderdate-offset, suppkey, shipdate-offset)
    spans = [
        (1, 0, 1, 5),
        (2, 3, 1, 8),
        (3, 20, 1, 22),
        (4, 10, 2, 30),
        (5, 12, 2, 15),  # nested inside [10,30]
    ]
    orders = spark.createDataFrame(
        [(k, d(s)) for k, s, _, _ in spans],
        "o_orderkey bigint, o_orderdate timestamp",
    )
    lineitem = spark.createDataFrame(
        [(k, sup, d(e)) for k, _, sup, e in spans],
        "l_orderkey bigint, l_suppkey bigint, l_shipdate timestamp",
    )
    got = {
        r.l_suppkey: r for r in interval_coverage(orders, lineitem).collect()
    }
    s1, s2 = got[1], got[2]
    assert (s1.n_intervals, s1.n_islands) == (3, 2)
    assert s1.covered_days == 9 + 3  # [0,8] and [20,22]
    assert s1.max_island_days == 9
    assert (s2.n_intervals, s2.n_islands) == (1 + 1, 1)
    assert s2.covered_days == 21 and s2.max_island_days == 21


def test_time_decay_scores_hand_values(spark):
    """Ages 0,1,2 -> 1 + 0.5 + 0.25 = 1.75 exactly; same event count
    further in the past scores strictly less."""
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import (
        time_decay_scores,
    )

    def ev(eid, uid, day):
        return (eid, dt.datetime(2020, 1, day, 12), uid, "click", 1.0, "{}")

    rows = [
        ev(1, 1, 10), ev(2, 1, 9), ev(3, 1, 8),   # ages 0,1,2
        ev(4, 2, 3), ev(5, 2, 2), ev(6, 2, 1),    # ages 7,8,9
    ]
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    got = {r.user_id: r for r in time_decay_scores(events).collect()}
    assert got[1].n_events == 3 and got[1].decay_score == 1.75
    assert got[2].n_events == 3
    assert got[2].decay_score == round(2 ** -7 + 2 ** -8 + 2 ** -9, 6)
    assert got[2].decay_score < got[1].decay_score


def test_cuped_removes_covariate_imbalance(spark):
    """Y = 2X with no noise: pooled theta = 2 exactly, within-variant
    variance reduction = 1, and both variants' adjusted means land on
    the same value (the imbalance was all covariate)."""
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import (
        cuped_adjustment,
    )

    rows = []
    eid = 0
    for uid, x in [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]:
        eid += 1
        rows.append((eid, dt.datetime(2020, 1, 1), uid, "pre", x, "{}"))
        eid += 1
        rows.append((eid, dt.datetime(2020, 1, 20), uid, "post", 2 * x, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    got = {r.variant: r for r in cuped_adjustment(events).collect()}
    assert set(got) == {0, 1}
    for v in got.values():
        assert v.theta == 2.0
        assert v.var_reduction == 1.0
        assert v.n_users == 2
    assert got[0].mean_y == 6.0 and got[1].mean_y == 4.0
    assert got[0].mean_y_adj == got[1].mean_y_adj == 5.0


def test_topn_with_other_preserves_totals(spark):
    """The OTHER bucket must carry exactly the tail's mass: per nation,
    bucket revenues sum to the nation's total supplier revenue, ranked
    buckets are the top-3 by revenue, and supplier counts add up."""
    from collections import defaultdict

    from hadoop_coded_wordcount_spark.operators.relational import (
        topn_with_other,
    )
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    SF001 = "/root/testdata/sf0.01"
    nation = load_table(spark, SF001, "nation")
    supplier = load_table(spark, SF001, "supplier")
    lineitem = load_table(spark, SF001, "lineitem")
    out = topn_with_other(nation, supplier, lineitem).collect()
    by_nation = defaultdict(list)
    for r in out:
        by_nation[r.n_name].append(r)
    import pyspark.sql.functions as F

    totals = {
        r.n_name: (float(r.total), r.n_sup)
        for r in lineitem.join(
            supplier, F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (
                    F.lit(1).cast("decimal(18,2)")
                    - F.col("l_discount").cast("decimal(18,2)")
                )
            ).alias("total"),
            F.countDistinct("s_suppkey").alias("n_sup"),
        )
        .collect()
    }
    for nat, rows in by_nation.items():
        ranked = sorted(
            [r for r in rows if r.rank_pos > 0], key=lambda r: r.rank_pos
        )
        assert [r.rank_pos for r in ranked] == list(range(1, len(ranked) + 1))
        assert all(r.n_suppliers == 1 for r in ranked)
        other = [r for r in rows if r.rank_pos == 0]
        assert len(other) <= 1
        revs = [r.revenue for r in ranked]
        assert revs == sorted(revs, reverse=True)
        if other:
            assert all(r.revenue >= other[0].revenue / other[0].n_suppliers
                       for r in ranked)
        total_rev, n_sup = totals[nat]
        assert abs(sum(r.revenue for r in rows) - total_rev) < 1e-6
        assert sum(r.n_suppliers for r in rows) == n_sup


def test_gini_lorenz_known_distributions(spark):
    """Perfect equality -> Gini 0 and a linear Lorenz curve; an extreme
    concentration (one customer holds almost everything) -> Gini near
    its sample maximum (n-1)/n, convex curve."""
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import (
        gini_lorenz,
    )

    def orders_for(revs):
        rows = [
            (i, cust + 1, dt.datetime(2020, 1, 1), float(r))
            for i, (cust, r) in enumerate(
                [(c, r) for c, r in enumerate(revs)]
            )
        ]
        return spark.createDataFrame(
            rows,
            "o_orderkey bigint, o_custkey bigint, o_orderdate timestamp, "
            "o_totalprice double",
        )

    equal = gini_lorenz(orders_for([100.0] * 10)).collect()
    assert all(r.gini == 0.0 for r in equal)
    shares = {r.decile: r.cum_revenue_share for r in equal}
    for d in range(1, 11):
        assert shares[d] == round(d / 10, 6)

    skewed = gini_lorenz(orders_for([1.0] * 9 + [9991.0])).collect()
    g = skewed[0].gini
    # sample-max Gini for n=10 is 0.9; nine 1.0s pull it slightly below
    assert 0.88 < g <= 0.9
    shares = {r.decile: r.cum_revenue_share for r in skewed}
    assert shares[9] < 0.001 and shares[10] == 1.0


def test_revenue_bridge_hand_decomposition(spark):
    """Two segments, two months: deltas +10 and -4 -> total +6, shares
    10/6 and -4/6; first month has NULL prev and zero delta."""
    import datetime as dt

    from hadoop_coded_wordcount_spark.operators.relational import (
        revenue_bridge,
    )

    rows = [
        (1, dt.datetime(2020, 1, 5), "A", 100.0),
        (2, dt.datetime(2020, 1, 6), "B", 50.0),
        (3, dt.datetime(2020, 2, 5), "A", 110.0),
        (4, dt.datetime(2020, 2, 6), "B", 46.0),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_orderdate timestamp, "
        "o_orderpriority string, o_totalprice double",
    )
    got = {(r.mo, r.segment): r for r in revenue_bridge(orders).collect()}
    m1, m2 = 2020 * 12 + 1, 2020 * 12 + 2
    assert got[(m1, "A")].prev_revenue is None
    assert got[(m1, "A")].delta == 0.0 and got[(m1, "A")].total_delta == 0.0
    assert got[(m1, "A")].share_of_delta is None  # zero-delta month guard
    a2, b2 = got[(m2, "A")], got[(m2, "B")]
    assert (a2.delta, b2.delta) == (10.0, -4.0)
    assert a2.total_delta == 6.0
    assert a2.share_of_delta == round(10 / 6, 6)
    assert b2.share_of_delta == round(-4 / 6, 6)


def test_lateral_topn_per_nation_fixture(spark):
    from hadoop_coded_wordcount_spark.operators import relational as rel

    nation = spark.createDataFrame(
        [(0, "A"), (1, "B")], "n_nationkey int, n_name string"
    )
    customer = spark.createDataFrame(
        [
            (1, "c1", 0, 50.0),
            (2, "c2", 0, 90.0),
            (3, "c3", 0, 70.0),
            (4, "c4", 1, 10.0),
        ],
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double",
    )
    got = {
        (r.n_name, r.c_name)
        for r in rel.lateral_topn_per_nation(nation, customer).collect()
    }
    # top-2 by balance per nation; nation B has only one customer
    assert got == {("A", "c2"), ("A", "c3"), ("B", "c4")}


def test_running_distinct_types_first_occurrence_trick(spark):
    import datetime

    from hadoop_coded_wordcount_spark.operators import relational as rel

    d = datetime.datetime
    events = spark.createDataFrame(
        [
            (1, d(2024, 1, 1, 0, 0), 7, "view", 0.0, ""),
            (2, d(2024, 1, 1, 0, 1), 7, "click", 0.0, ""),
            (3, d(2024, 1, 1, 0, 2), 7, "view", 0.0, ""),
            (4, d(2024, 1, 1, 0, 3), 7, "purchase", 0.0, ""),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    got = {
        r.event_id: r.distinct_types_so_far
        for r in rel.running_distinct_types(events).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 3}


def test_session_bounce_rate_fixture(spark):
    import datetime

    from hadoop_coded_wordcount_spark.operators import relational as rel

    d = datetime.datetime
    rows = [
        # session 1: two events 5 min apart (not a bounce)
        (1, d(2024, 1, 1, 10, 0), 7, "view", 0.0, ""),
        (2, d(2024, 1, 1, 10, 5), 7, "click", 0.0, ""),
        # >30 min gap -> session 2: single event (bounce)
        (3, d(2024, 1, 1, 12, 0), 7, "view", 0.0, ""),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    r = rel.session_bounce_rate(events).collect()[0]
    assert (r.n_sessions, r.n_bounces) == (2, 1)
    assert r.bounce_rate == 0.5
    assert r.mean_events_per_session == 1.5


def test_eb_shrinkage_pulls_small_brands_harder(spark):
    """Two big brands pin the prior near 0.5; a tiny brand with a raw
    rate of 1.0 must shrink far toward 0.5 while the big brands barely
    move."""
    from hadoop_coded_wordcount_spark.operators import relational as rel

    part_rows = [(1, "p", "BIG_A", "t", 1, 1.0), (2, "p", "BIG_B", "t", 1, 1.0),
                 (3, "p", "TINY", "t", 1, 1.0)]
    part = spark.createDataFrame(
        part_rows,
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    line_rows = []
    ln = 0

    def add(pk, flag, times):
        nonlocal ln
        for _ in range(times):
            line_rows.append(
                (ln, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, flag, "O", None)
            )
            ln += 1

    add(1, "R", 60); add(1, "N", 40)   # BIG_A rate 0.6, n=100
    add(2, "R", 40); add(2, "N", 60)   # BIG_B rate 0.4, n=100
    add(3, "R", 2)                     # TINY rate 1.0, n=2
    lineitem = spark.createDataFrame(
        line_rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    got = {r.p_brand: r for r in rel.eb_shrunk_return_rates(lineitem, part).collect()}
    tiny, a, b = got["TINY"], got["BIG_A"], got["BIG_B"]
    assert tiny.rate == 1.0
    # hand-checked MoM prior: m=2/3, v=0.062222 → α+β=2.571429,
    # α=1.714286 → tiny shrinks to (2+α)/(2+α+β) = 0.8125 exactly
    assert tiny.shrunk_rate == 0.8125
    # shrinkage orders by evidence: tiny moves most, big brands least
    assert abs(tiny.shrunk_rate - tiny.rate) > 0.15
    assert abs(a.shrunk_rate - a.rate) < 0.05
    assert abs(b.shrunk_rate - b.rate) < 0.05
    # all shrunk rates remain probabilities
    for rr in got.values():
        assert 0.0 <= rr.shrunk_rate <= 1.0


def test_croston_dyadic_recurrence_by_hand(spark):
    """Demand days 0, 2, 6 with sizes 4, 8, 2: z = ((8+4)/2 + 2)/2 = 4,
    intervals (2, 4): p = (2+4)/2 = 3 → rate 4/3."""
    import datetime
    from hadoop_coded_wordcount_spark.operators import relational as rel

    d0 = datetime.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(k, 1, "O", 1.0, d0 + datetime.timedelta(days=d), "x")
         for k, d in [(1, 0), (2, 2), (3, 6)]],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [(1, 7, 1, 1, 4.0, 1.0, 0.0, 0.0, "N", "O", None),
         (2, 7, 1, 1, 8.0, 1.0, 0.0, 0.0, "N", "O", None),
         (3, 7, 1, 1, 2.0, 1.0, 0.0, 0.0, "N", "O", None)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    r = rel.croston_intermittent(orders, lineitem).collect()
    assert len(r) == 1
    row = r[0]
    assert row.n_demand_days == 3
    assert row.size_smooth == 4.0
    assert row.interval_smooth == 3.0
    assert row.demand_rate == round(4.0 / 3.0, 6)


def test_matrix_profile_finds_planted_motif_and_discord(spark):
    """Hourly series: a repeating daily pattern everywhere except one
    planted anomalous day. The motif pair must be two clean days
    (distance 0) and the discord window must cover the anomaly."""
    import datetime
    from hadoop_coded_wordcount_spark.operators import relational as rel

    t0 = datetime.datetime(2024, 5, 1)
    rows, eid = [], 0
    for h in range(24 * 6):  # six days
        base = 2 + (h % 24 == 12)  # daily pattern: lunch-hour bump
        n = 30 if (72 <= h < 96 and h % 24 == 3) else base  # day-4 3am spike
        for k in range(n):
            rows.append((eid, t0 + datetime.timedelta(hours=h, minutes=k % 60), 1, "view", 1.0))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double",
    )
    r = rel.matrix_profile_hourly(ev).collect()[0]
    assert r.motif_dist == 0.0           # two identical clean days exist
    # discord window must overlap hour index 76 (3am of day 4; windows
    # are 1-based start indexes of 24-hour spans)
    assert r.discord_i <= 76 <= r.discord_i + 23
    assert r.discord_dist > 20.0


def test_correlation_matrix_perfect_and_zero(spark):
    """qty == 2·price per row → r = 1 for that pair; a constant tax
    column yields NULL r (zero variance guard)."""
    from hadoop_coded_wordcount_spark.operators import relational as rel

    rows = [
        (i, 1, 1, 1, float(i + 1), 2.0 * (i + 1), 0.1 * (i % 3), 5.0, "N", "O", None)
        for i in range(12)
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    got = {(r.col_a, r.col_b): r.pearson_r for r in rel.correlation_matrix(li).collect()}
    assert got[("l_quantity", "l_extendedprice")] == 1.0
    assert got[("l_quantity", "l_tax")] is None  # constant column
    assert len(got) == 6


def test_mann_kendall_monotone_series_maxes_s(spark):
    """Strictly increasing daily counts: S = C(n,2) exactly and the
    trend flag fires."""
    import datetime
    from hadoop_coded_wordcount_spark.operators import relational as rel

    d0 = datetime.datetime(2024, 1, 1)
    rows, k = [], 0
    for d in range(10):
        for _ in range(d + 1):  # day d has d+1 orders
            rows.append((k, 1, "O", 1.0, d0 + datetime.timedelta(days=d), "x"))
            k += 1
    orders = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    r = rel.mann_kendall_trend(orders).collect()[0]
    assert r.n == 10 and r.s == 45  # all 45 pairs increasing
    assert r.trending_5pct


def test_markov_removal_effect_sole_converting_channel(spark):
    """click is the only route to purchase (5 click→purchase sessions,
    5 view-only sessions): removing click kills all conversions
    (effect 1.0); removing view changes nothing (effect 0.0)."""
    import datetime
    from hadoop_coded_wordcount_spark.operators import relational as rel

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    rows, eid = [], 0
    for u in range(5):
        rows.append((eid, t0, u, "click", 1.0)); eid += 1
        rows.append((eid, t0 + datetime.timedelta(minutes=1), u, "purchase", 9.0)); eid += 1
    for u in range(5, 10):
        rows.append((eid, t0, u, "view", 1.0)); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double",
    )
    got = {r.channel: r for r in rel.markov_removal_attribution(ev).collect()}
    assert got["click"].p_conv_full == 0.5
    assert got["click"].removal_effect == 1.0
    assert got["view"].removal_effect == 0.0
    assert got["view"].p_conv_removed == 0.5
