"""Relational operator sweep — the engine surface from SURVEY.md §2.3.

The reference implements only scan → flatMap → partial/final SUM → text sink
(reference WordCount.java; inventory SURVEY.md §2.1). This module is the full
relational surface a user of a general engine needs, each operator expressed
so Catalyst picks the right physical strategy:

* filters/projections reach the parquet scan (PushedFilters / ReadSchema);
* small dims join with an explicit ``F.broadcast`` hint (no shuffle of the
  big side);
* fact-fact joins shuffle once on the join key (sort-merge; AQE converts to
  broadcast when a side turns out small and splits skewed partitions);
* aggregations are partial-before-exchange (map-side combine — the
  reference's combiner, reference WordCount.java:95-114, for free);
* top-k compiles to TakeOrderedAndProject (per-partition heaps, no global
  sort).

Determinism discipline (for the DuckDB oracle value-hash): money arithmetic
is cast to DECIMAL before aggregation — decimal sums are exact and
order-independent, so Spark's partial-agg order vs DuckDB's scan order can't
produce ULP drift — then cast to DOUBLE at the end for a uniform output
type. Averages are computed as exact-decimal-sum / count in both engines.
Transcendentals (pow/ln) are rounded to 6 dp because JVM Math and libm may
legally differ in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

DEC = "decimal(18,2)"


def _dec(col: str):
    return F.col(col).cast(DEC)


# ---------------------------------------------------------------------------
# Scans, filters, projections
# ---------------------------------------------------------------------------

def filter_project(part: DataFrame) -> DataFrame:
    """Filtered, pruned scan: both the predicate and the 4-column projection
    reach the parquet reader (verify via .explain: PushedFilters=[GreaterThan
    (p_size,30), ...], ReadSchema with 4 fields)."""
    return (
        part.where((F.col("p_size") > 30) & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey", "p_name", "p_brand", "p_size")
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

def join_broadcast(nation: DataFrame, region: DataFrame, customer: DataFrame) -> DataFrame:
    """Customer count + balance per region via two broadcast joins.

    region (5 rows) and nation (25 rows) stay tiny at any SF — broadcasting
    them means the customer table never shuffles for the join; the only
    exchange is the final groupBy on r_name (5 groups).
    """
    dim = nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        customer.join(F.broadcast(dim), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("num_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


def join_sortmerge(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Fact-fact equi-join: one shuffle per side on the join key, then
    sort-merge. At 100 TB this is the shape to bucket both tables on
    orderkey so the exchange disappears entirely; AQE handles skew here.
    """
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("num_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
        )
    )


def join_semi(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customers with >=1 order. left_semi never materializes the right side
    into the output — half the shuffle width of join+distinct."""
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def join_anti(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customers with no orders — the NOT EXISTS shape."""
    return customer.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def join_range(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Equi + range predicate: lineitems shipped within 90 days of their
    order date. The equi key keeps this a sort-merge join with a residual
    range filter — NOT a cross product — so it scales like join_sortmerge.
    """
    joined = lineitem.join(
        orders,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("num_shipped_90d"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


def join_cross_theta(nation: DataFrame, region: DataFrame) -> DataFrame:
    """Cross join with a theta (non-equi) predicate. Only sane when at
    least one side is tiny — here both are bounded dims, so the product is
    25×5 and Spark broadcasts it (BroadcastNestedLoopJoin). A fact-fact
    theta join must be rewritten around an equi or range key instead
    (see join_range) — never shipped as a cartesian product. The predicate
    (nation not in region — a pure inequality) admits no equi-key, which
    is what makes this the theta shape."""
    return (
        nation.crossJoin(region)
        .where(F.col("n_regionkey") != F.col("r_regionkey"))
        .select("n_name", "r_name")
    )


def join_asof(events: DataFrame) -> DataFrame:
    """As-of join: for every click, the most recent view at-or-before it
    per user (the trades/quotes shape).

    Spark has no ASOF JOIN operator; the scalable formulation is
    union-then-window: tag both streams, sort per user by (ts, tag) —
    views before clicks at equal ts, making the match inclusive — and
    carry the last non-null view forward. ONE shuffle on user_id, linear
    scan, bounded state: this is the 100 TB shape (a range join would
    explode; a per-click subquery would be quadratic).

    "Most recent" under timestamp ties resolves to the max view event_id:
    the window orders by (ts, tag, event_id), so among equal-ts views the
    last one carried forward is the max id — no pre-dedup aggregation, no
    second shuffle; the whole operator is exactly ONE exchange on user_id.
    Clicks with no prior view drop (inner-asof semantics, matching
    DuckDB's ASOF JOIN oracle).
    """
    views = events.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
        F.col("event_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("view_id"),
        F.lit(None).cast("timestamp_ntz").alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = views.unionByName(clicks).select(
        "user_id",
        "ts",
        "tag",
        "event_id",
        F.last("view_id", ignorenulls=True).over(w).alias("matched_view_id"),
        F.last("view_ts", ignorenulls=True).over(w).alias("matched_view_ts"),
    )
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    return (
        merged.where((F.col("tag") == 1) & F.col("matched_view_id").isNotNull())
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("matched_view_id").alias("view_id"),
            (epoch("ts") - epoch("matched_view_ts")).alias("gap_sec"),
        )
    )


def join_left_outer(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: customer LEFT OUTER orders with an ON-clause filter
    (non-'F' orders), per-customer order count — non-buyers kept at 0 —
    then the count-of-counts distribution.

    The ON-clause filter is applied to the *right* side before the join
    (equivalent for LEFT OUTER, and it shrinks the shuffled build side).
    Two aggregations: the first shuffles on c_custkey; the second groups
    ~50 distinct counts — AQE coalesces it to a near-free exchange.
    At 100 TB the left-outer shuffle on custkey is the cost driver;
    bucketing both tables on custkey removes it entirely.
    """
    per_cust = (
        customer.join(
            orders.where(F.col("o_orderstatus") != "F"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # nulls don't count
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def join_full_outer(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """FULL OUTER join: per-nation distressed-customer vs distressed-
    supplier counts. The sides genuinely mismatch (every nation has a
    negative-balance customer; only a few have such a supplier), so the
    null-padding + COALESCE path is exercised on both sides.

    Both inputs are pre-aggregated to ≤25 rows before the join — the
    full-outer exchange moves group counts, never fact rows. That
    aggregate-then-outer-join order is the scale rule: outer joins can't
    broadcast the null-producing side, so shrink both sides first."""
    c = (
        customer.where(F.col("c_acctbal") < 0)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("neg_customers"))
    )
    s = (
        supplier.where(F.col("s_acctbal") < 0)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("neg_suppliers"))
    )
    return c.join(
        s, F.col("c_nationkey") == F.col("s_nationkey"), "full_outer"
    ).select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("neg_customers", F.lit(0)).alias("neg_customers"),
        F.coalesce("neg_suppliers", F.lit(0)).alias("neg_suppliers"),
    )


# ---------------------------------------------------------------------------
# Aggregation battery
# ---------------------------------------------------------------------------

def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape — the canonical multi-aggregate scan. Partial
    HashAggregate before the exchange keeps shuffle rows == group count,
    not input count (the reference's combiner, as Catalyst gives it)."""
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(DEC) + _dec("l_tax"))
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


def agg_multi(lineitem: DataFrame) -> DataFrame:
    """min/max/sum/count/exact-distinct in one pass per group."""
    return lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"),
        F.min(_dec("l_quantity")).cast("double").alias("min_qty"),
        F.max(_dec("l_quantity")).cast("double").alias("max_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
    )


def distinct_count(lineitem: DataFrame) -> DataFrame:
    """Exact COUNT(DISTINCT) — expands to a two-phase aggregate on
    (group, value) then (group); exact but double-shuffle. See
    approx_distinct for the 100 TB path."""
    return lineitem.groupBy("l_linestatus").agg(
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
    )


def approx_distinct(lineitem: DataFrame) -> DataFrame:
    """HyperLogLog++ distinct: single-pass, fixed-size sketch per group —
    the scale path for distinct over 100 TB. No oracle (DuckDB's HLL is a
    different sketch); accuracy asserted in unit tests vs exact counts."""
    return lineitem.groupBy("l_linestatus").agg(
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("approx_suppliers"),
        F.countDistinct("l_suppkey").alias("exact_suppliers"),
    )


def rollup_agg(lineitem: DataFrame) -> DataFrame:
    """ROLLUP (returnflag, linestatus): hierarchy subtotals + grand total."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


def cube_agg(orders: DataFrame) -> DataFrame:
    """CUBE (status, priority): all 4 grouping combinations."""
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
    )


def grouping_sets(spark: SparkSession, orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS via the DataFrame API (Spark >= 4.0) — no temp
    view, no session-global name to collide when queries run concurrently."""
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
    )


def q5_region_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5 shape: five-way join, dims broadcast, facts sort-merged.

    The join tree Catalyst should (and does) pick: region→nation filters
    to a handful of keys and broadcasts; customer and supplier broadcast
    after their nation filter; the only real shuffles are
    lineitem⋈orders on orderkey. Filter pushdown puts r_name at the
    region scan. At 100 TB, bucketing orders+lineitem on orderkey removes
    the last exchange (proven in tests/test_bucketing.py).
    """
    dim = nation.join(
        F.broadcast(region.where(F.col("r_name") == region_name)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust = customer.join(
        F.broadcast(dim), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey")
    supp = supplier.join(
        F.broadcast(dim), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


def q3_shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem with
    date predicates on both fact scans, top-10 orders by revenue.

    The segment filter reaches the customer scan, both date filters push
    to their parquet scans, the filtered customer side broadcasts, and the
    final top-10 is TakeOrderedAndProject over the aggregated (not raw)
    rows — the order of operations that keeps every stage minimal."""
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    cutoff = F.lit("1997-06-01").cast("timestamp_ntz")
    cust = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        lineitem.where(F.col("l_shipdate") > cutoff)
        .join(
            orders.where(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q18_large_volume(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q18 shape: GROUP BY + HAVING on an aggregate. The having
    predicate is a post-aggregation filter — it cannot push below the agg,
    but the aggregation itself is still partial-before-exchange, so the
    filter sees one row per order, not per lineitem."""
    qty = F.sum(_dec("l_quantity"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey")
        .agg(qty.cast("double").alias("total_qty"))
        .where(F.col("total_qty") > 180.0)
    )


def q4_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a *correlated non-equi* condition —
    orders having at least one lineitem shipped >90 days after the order
    date (the late-shipment flavor; this dataset has no commit/receipt
    dates). EXISTS compiles to a left-semi join: the equi part
    (l_orderkey = o_orderkey) drives a sort-merge semi join, the date
    comparison rides along as a residual — never a per-order subquery.
    Semi-join output carries only the left side, so the shuffle width is
    orders' 3 columns, and each order short-circuits on first match."""
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(
            lineitem.select("l_orderkey", "l_shipdate"), cond, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q10_returned_items(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. The scale-critical ordering: aggregate lineitem⋈orders down
    to one row per customer FIRST, then join the customer/nation dims
    onto the (small) aggregate, then TakeOrderedAndProject the top 20 —
    dims never touch the fact-sized stream, and the final sort sees
    |customers| rows, not |lineitems|."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    quarter = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    per_cust = (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(quarter, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    return (
        per_cust.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q6_forecast_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6: the pure-pushdown query — one scan, zero joins, zero
    shuffles (partial sums merge at the single-row result). All four
    predicates reach the parquet reader as PushedFilters, and only the
    four referenced columns are read; at 100 TB with date-partitioned
    layout the year predicate prunes whole partitions before any I/O."""
    year = F.col("l_shipdate").between(
        F.lit("1996-01-01").cast("timestamp_ntz"),
        F.lit("1996-12-31 23:59:59").cast("timestamp_ntz"),
    )
    return (
        lineitem.where(
            year
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (promo share of revenue)
    over a part⋈lineitem join. No broadcast hint: part grows with SF, so
    the plan is left to AQE — at bench scale it broadcasts part's 2-column
    projection; at 100 TB it becomes a shuffle join that bucketing on
    partkey would erase. Both sums are exact decimal; the single final
    division is the only double op, rounded to 6dp for cross-engine
    determinism."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    month = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        month.join(
            part.select("p_partkey", "p_type"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_pct")
        )
    )


def q19_disjunctive_brackets(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: an OR of three conjunct brackets over both join
    sides. The trap: a naive planner sees no single conjunctive equi-pred
    and falls back to a nested-loop join. Catalyst factors the common
    l_partkey = p_partkey out of every bracket, keeps the join hash-based,
    and pushes each side's OR-residue (brand/size, quantity) to its own
    scan. The plan to verify: a broadcast/sort-merge hash join with the
    disjunction as post-join filter — never BroadcastNestedLoopJoin."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(bracket)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q22_dormant_accounts(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery + NOT EXISTS. The global
    positive-balance average is computed once (a 1-row aggregate,
    broadcast to every partition — the uncorrelated-scalar-subquery
    plan), rich customers filter against it, and NOT EXISTS(recent
    orders) compiles to a left-anti join on custkey — the date predicate
    pushes into the anti side's scan before the join. Per-nation rollup
    of the dormant rich accounts. Threshold compare is decimal-exact on
    the subquery side; the fact side stays a plain column compare."""
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")) / F.count(F.lit(1))).alias("avg_pos_bal")
    )
    rich = customer.join(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_pos_bal")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    dormant = rich.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
    )


def approx_percentile_agg(lineitem: DataFrame) -> DataFrame:
    """Sketch-based percentiles: single-pass, mergeable, fixed memory —
    the 100 TB counterpart of percentile_agg the same way approx_distinct
    pairs with distinct_count. No oracle (sketch internals differ across
    engines); accuracy is bounded against the exact values in unit tests."""
    return lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias(
            "median_qty_approx"
        ),
        F.percentile_approx("l_extendedprice", F.lit(0.75), F.lit(10000)).alias(
            "p75_price_approx"
        ),
    )


def q7_nation_volume(
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: revenue flows between two nations, either
    direction. The disjunction ((a,b) OR (b,a)) can't be an equi-join key;
    the scalable form keeps all joins equi on the surrogate keys, filters
    both nation dims to the two names *before* broadcasting, and leaves
    the disjunction as a residual filter over the two broadcast-joined
    name columns — so the OR never turns a join into a product."""
    nations = nation.where(F.col("n_name").isin(nation_a, nation_b))
    n1 = nations.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nations.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(
                supplier.join(
                    F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey")
                ).select("s_suppkey", "supp_nation")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(
                customer.join(
                    F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
                ).select("c_custkey", "cust_nation")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where(
            ((F.col("supp_nation") == nation_a) & (F.col("cust_nation") == nation_b))
            | ((F.col("supp_nation") == nation_b) & (F.col("cust_nation") == nation_a))
        )
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


def argmin_supplier(supplier: DataFrame) -> DataFrame:
    """Per-nation argmin — the row with the minimum value per group —
    via ``min(struct(...))``: one partial-aggregable pass, shuffle of one
    struct per group. The window formulation (row_number + filter) sorts
    every group; the struct-min doesn't, and at 100 TB that's the
    difference between a partial agg and a full per-group sort. The
    struct's leading fields (acctbal, suppkey) totally order rows, so
    ties are deterministic."""
    best = F.min(
        F.struct(
            F.col("s_acctbal").alias("bal"),
            F.col("s_suppkey").alias("key"),
            F.col("s_name").alias("name"),
        )
    )
    return (
        supplier.groupBy("s_nationkey")
        .agg(best.alias("b"))
        .select(
            "s_nationkey",
            F.col("b.key").alias("cheapest_suppkey"),
            F.col("b.name").alias("cheapest_name"),
            F.col("b.bal").alias("cheapest_bal"),
        )
    )


def struct_json_funcs(nation: DataFrame, region: DataFrame) -> DataFrame:
    """Struct battery: build a nested struct, access fields, serialize to
    JSON and parse it back — the column-nesting round-trip. to_json
    output is canonical enough to value-compare across engines when the
    field order is fixed by construction."""
    packed = F.struct(
        F.col("n_name").alias("nation"),
        F.struct(
            F.col("r_regionkey").alias("id"), F.col("r_name").alias("name")
        ).alias("region"),
    )
    j = F.to_json(packed)
    return (
        nation.join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        )
        .select("n_nationkey", packed.alias("s"), j.alias("as_json"))
        .select(
            "n_nationkey",
            F.col("s.nation").alias("nation"),
            F.col("s.region.name").alias("region_name"),
            "as_json",
            F.get_json_object("as_json", "$.region.id")
            .cast("int")
            .alias("parsed_region_id"),
        )
    )


def scd2_intervals(orders: DataFrame) -> DataFrame:
    """SCD-2 effective ranges from an event log: each order's price is
    "current" for its customer until the next order supersedes it —
    valid_from/valid_to derived with one lead() over (custkey, date).
    One shuffle on the dimension key; the open-ended current row keeps a
    NULL valid_to. The pattern that turns an append-only log into a
    temporal dimension without any mutable storage."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def histogram_prices(orders: DataFrame, width: float = 25000.0) -> DataFrame:
    """Equi-width histogram of order totals: one projection computes the
    bucket id, one partial-agg shuffle counts — the fixed-memory
    distribution profile (exact per-bucket counts; for data-dependent
    bucket EDGES at scale, use approx percentiles to pick edges first)."""
    bucket = F.floor(F.col("o_totalprice") / F.lit(width)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            (F.col("bucket") * width).alias("lo"),
            ((F.col("bucket") + 1) * width).alias("hi"),
            "cnt",
        )
    )


def upsert_snapshot(
    base: DataFrame, updates: DataFrame, key: str
) -> DataFrame:
    """MERGE-emulation over plain parquet: next snapshot = updates ∪
    (base ⟕anti updates on the key). The incremental-ingest pattern when
    no transactional table format is available — updates win on key
    collision, unmatched base rows carry over.

    Scale: ONE anti-join shuffle on the key (updates are usually small →
    broadcast) + a union that's pure concatenation. At 100 TB the base
    never rewrites except through this narrowing anti-join, and
    partitioning the snapshot by ingest date turns the rewrite into a
    partition-scoped operation."""
    survivors = base.join(updates, on=key, how="left_anti")
    return survivors.unionByName(updates)


def q8_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_3",
    target_region: str = "ASIA",
    part_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's yearly order volume
    for a part type — the deepest join tree in the suite (6 tables, the
    nation dim used twice under different roles).

    Scale shape: all five dims prune BEFORE broadcasting (part filtered to
    the type, customer-side nations to the region, supplier-side nation
    carried as a name), so the only big-table work is lineitem ⋈ orders;
    the share divides two exact DECIMAL sums (conditional numerator via
    CASE) cast to double at the very end — no float accumulation anywhere.
    """
    volume = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    n_cust = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == target_region)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        lineitem.join(
            F.broadcast(
                part.where(F.col("p_type") == part_type).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(
                customer.join(
                    F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key")
                ).select("c_custkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                supplier.join(
                    F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key")
                ).select("s_suppkey", "supp_nation")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            F.col("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == target_nation, F.col("volume"))
                .otherwise(F.lit(0).cast(DEC))
            ).alias("nation_volume"),
            F.sum("volume").alias("total_volume"),
        )
        .select(
            "o_year",
            F.round(
                F.col("nation_volume").cast("double")
                / F.col("total_volume").cast("double"),
                6,
            ).alias("mkt_share"),
        )
    )


def q15_top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    period_start: str = "1996-01-01",
    period_end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the maximum quarterly
    revenue — a reused aggregate (the revenue "view") consumed twice: once
    as the join input, once reduced to a 1-row global max that returns as
    a broadcast scalar filter. Exact DECIMAL revenue so the equality
    against the max is well-defined cross-engine (a float sum would make
    "= max" engine-dependent).
    """
    revenue = (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(period_start).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(period_end).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey", "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


def q17_small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#13"
) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders of less than 20% of a part's
    average quantity — the correlated-scalar-aggregate pattern,
    decorrelated into a per-part aggregate joined back to the fact (never
    a per-row subquery).

    Determinism note: the per-part average is computed as
    exact-DECIMAL-sum / count and only then divided in double — a naive
    ``avg(double)`` is partition-order-dependent in its last ulp, which
    would make the ``quantity < 0.2*avg`` boundary engine-dependent.
    """
    per_part = lineitem.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        lineitem.join(
            F.broadcast(
                part.where(F.col("p_brand") == brand).select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(per_part, F.col("l_partkey") == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


def q21_waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    late_days: int = 60,
    topn: int = 20,
) -> DataFrame:
    """TPC-H Q21 shape — the hardest reference subquery pattern: for
    finalized multi-supplier orders, suppliers who were the ONLY late
    shipper (EXISTS another supplier's line + NOT EXISTS another
    supplier's LATE line, both correlated on the order). Adapted to this
    dataset's columns: "late" = shipped > ``late_days`` after the order
    date (no commit/receipt dates exist).

    Plan shape: the late-line set is computed ONCE and reused as both the
    driving side and the NOT-EXISTS probe; EXISTS/NOT EXISTS compile to
    one left-semi and one left-anti sort-merge join on l_orderkey with
    the supplier-inequality as a residual — never a per-row subquery.
    The supplier dim rides a broadcast hash join; output is a bounded
    top-N (TakeOrderedAndProject), fully deterministic via the
    (numwait desc, s_name) total order.
    """
    late = (
        lineitem.join(
            F.broadcast(
                orders.where(F.col("o_orderstatus") == "F").select(
                    "o_orderkey", "o_orderdate"
                )
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = lineitem.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late_others = late.select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
    )
    only_late = late.join(
        others,
        (F.col("o2_orderkey") == F.col("l_orderkey"))
        & (F.col("o2_suppkey") != F.col("l_suppkey")),
        "left_semi",
    ).join(
        late_others,
        (F.col("l3_orderkey") == F.col("l_orderkey"))
        & (F.col("l3_suppkey") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        only_late.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(topn)
    )


def repriced_updates(orders: DataFrame) -> DataFrame:
    """The deterministic update set for the upsert demo: every pending
    ('P') order re-priced at 2×. Lives here (not inline in the registry)
    so the derivation the oracle SQL mirrors is a named, testable unit."""
    return orders.where(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )


def skewed_join_rollup(lineitem: DataFrame, nation: DataFrame) -> DataFrame:
    """Deliberately skewed shuffle join: ~90% of lineitem rows land on one
    join key, the classic straggler shape (one hot customer/session/URL).

    The fact side derives a key where ``l_quantity <= 45`` (≈90% of rows)
    collapses to key 0 and the tail spreads over ``l_suppkey % 25``; it
    then joins nation on that key. The ``merge`` hint forces the
    sort-merge path — at 25 rows the dim would broadcast, and a broadcast
    join cannot demonstrate shuffle-skew handling; the query models the
    case where BOTH sides are too big to broadcast. Under AQE the hot
    partition is split at runtime (``skew=true`` on the SMJ — asserted
    with lowered thresholds in tests/test_bucketing.py; at 100 TB the
    default 256 MB threshold fires the same mechanism). The salting
    alternative for when AQE can't help (e.g. the skewed side feeds an
    aggregation) is demonstrated in dedup/similarity's quadratic cells.

    ``ensure_parallelism`` on the fact scan is load-bearing for the skew
    split, not just for scan parallelism: AQE splits a skewed reduce
    partition at MAPPER granularity, so a single-file scan (1 map task)
    leaves nothing to split — verified: same plan, same sizes, no
    ``skew=true`` without it. A production-scale scan has thousands of
    mappers and the helper is a no-op there.
    """
    from ..sources.catalog import ensure_parallelism

    lineitem = ensure_parallelism(
        lineitem.select("l_quantity", "l_suppkey"), key="l_suppkey"
    )
    fact = lineitem.select(
        F.when(F.col("l_quantity") <= 45, F.lit(0))
        .otherwise(F.pmod("l_suppkey", F.lit(25)))
        .cast("bigint")
        .alias("k"),
        "l_quantity",
    )
    joined = fact.join(
        nation.hint("merge"), fact["k"] == nation["n_nationkey"]
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .select("n_name", "n_items", "sum_qty")
    )


def stats_moments(lineitem: DataFrame) -> DataFrame:
    """Statistical aggregates — mean/variance/stddev/correlation — from
    EXACT decimal moments (Σx, Σx², Σxy in DECIMAL, the closed forms in
    double at the end).

    Spark's streaming ``stddev``/``corr`` use order-dependent one-pass
    updates whose last-ulp output varies with partitioning — fine for
    analytics, unusable under a bit-exact cross-engine oracle. Moment
    sums in decimal are associative and exact, so the derived statistics
    are bit-identical on any engine and any partitioning; the moments are
    also partial-aggregable, so this costs ONE map-combined shuffle, same
    as any sum. (The textbook caveat — catastrophic cancellation of
    Σx² − (Σx)²/n in floats — doesn't apply: the sums are exact decimals.)
    """
    x = _dec("l_quantity")
    y = _dec("l_extendedprice")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_x = (sxx - sx * sx / n) / (n - 1)
    cov = (sxy - sx * sy / n) / (n - 1)
    var_y = (syy - sy * sy / n) / (n - 1)
    return agg.select(
        "l_returnflag",
        "n",
        F.round(sx / n, 6).alias("mean_qty"),
        F.round(var_x, 6).alias("var_qty"),
        F.round(F.sqrt(var_x), 6).alias("stddev_qty"),
        F.round(cov / F.sqrt(var_x * var_y), 6).alias("corr_qty_price"),
    )


def pivot_status(orders: DataFrame) -> DataFrame:
    """Pivot: order counts per priority × status. Explicit pivot values
    keep the plan single-pass (no distinct-scan to discover columns) and
    the output schema stable — which is also the 100 TB rule: never let
    pivot infer unbounded columns."""
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


def unpivot_metrics(lineitem: DataFrame) -> DataFrame:
    """Unpivot (melt): three numeric columns → (metric, value) long form,
    then aggregate per metric. The inverse of pivot_status; rows triple
    but stay narrow, and the aggregation is partial-before-exchange as
    ever."""
    long = lineitem.unpivot(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("cnt"),
        F.sum(_dec("val")).cast("double").alias("total"),
    )


def sql_api_priority_counts(spark: SparkSession, orders: DataFrame) -> DataFrame:
    """The spark.sql() path: register a uniquely-named temp view, query it
    with SQL, drop the view (the analyzed plan keeps the relation — the
    name is only needed at analysis time). Demonstrates that every
    DataFrame query here is equally reachable through the SQL front end.
    """
    import uuid

    view = f"orders_{uuid.uuid4().hex[:12]}"
    orders.createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
                   CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS total
            FROM {view}
            GROUP BY o_orderpriority, o_orderstatus
            """
        )
    finally:
        spark.catalog.dropTempView(view)


def percentile_agg(lineitem: DataFrame) -> DataFrame:
    """Exact percentiles (continuous interpolation) per group, computed
    with the bounded-state histogram formulation
    (:func:`exact_percentiles_by_group`, bit-identical to the builtin —
    asserted in tests). The builtin ``percentile`` aggregate ships every
    raw value into one per-group in-memory map — unbounded state, an
    OOM-bound reducer per group at 100 TB — so it remains only as the
    unit-test cross-check and the DuckDB oracle's formulation; the sketch
    counterpart is :func:`approx_percentile_agg`.

    Two value columns → two histogram aggregations joined on the 3-row
    group key (broadcast, negligible)."""
    qty = exact_percentiles_by_group(
        lineitem, "l_returnflag", "l_quantity", [0.5]
    ).select("l_returnflag", F.round(F.col("p0"), 6).alias("median_qty"))
    price = exact_percentiles_by_group(
        lineitem, "l_returnflag", "l_extendedprice", [0.25, 0.75]
    ).select(
        "l_returnflag",
        F.round(F.col("p0"), 6).alias("p25_price"),
        F.round(F.col("p1"), 6).alias("p75_price"),
    )
    return qty.join(price, "l_returnflag")


def string_agg_sorted(nation: DataFrame, region: DataFrame) -> DataFrame:
    """Ordered string aggregation per group (list-collect + sort + join —
    deterministic regardless of shuffle arrival order; an unsorted
    collect_list would be nondeterministic by partitioning)."""
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


def case_null_battery(customer: DataFrame) -> DataFrame:
    """Conditional/null scalar surface: CASE tiers, nullif, coalesce,
    least/greatest — all codegen'd row expressions."""
    tier = (
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
    )
    return customer.select(
        "c_custkey",
        tier.alias("tier"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nonbuilding"),
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(masked)")
        ).alias("seg_masked"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_capped"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
    )


def correlated_above_nation_avg(customer: DataFrame) -> DataFrame:
    """Customers above their nation's average balance — the correlated-
    subquery shape, decorrelated by hand into groupBy + broadcast join
    (exactly what Catalyst's RewriteCorrelatedScalarSubquery does; doing
    it explicitly keeps the decimal-exact average the oracle needs).
    One aggregate over 25 groups, broadcast back: no second fact shuffle.
    """
    avgs = customer.groupBy("c_nationkey").agg(
        (
            F.sum(_dec("c_acctbal")).cast("double") / F.count("*")
        ).alias("nation_avg")
    )
    return (
        customer.join(F.broadcast(avgs), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

def window_rank(orders: DataFrame) -> DataFrame:
    """Top-3 orders per customer by price: row_number/rank/dense_rank over a
    partitioned window. One shuffle on the partition key; the per-partition
    sort is local. Ties broken by orderkey for determinism."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .where(F.col("rn") <= 3)
    )


def window_running(orders: DataFrame) -> DataFrame:
    """Running total per customer over order date — the frame-spec shape
    (rowsBetween unboundedPreceding → currentRow). Decimal keeps the
    running sum exact and engine-order-independent."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
        F.count("*").over(w).alias("running_cnt"),
    )


def window_range_frame(orders: DataFrame) -> DataFrame:
    """Trailing-30-day spend per customer — the RANGE frame (value-based
    window, vs window_running's ROWS frame). The frame key must be
    numeric for rangeBetween, so the timestamp becomes epoch seconds;
    date ties are *peers* and always aggregate together, making the
    result deterministic even for same-day orders. Same shuffle shape as
    any window: one exchange on the partition key, local sort, single
    pass with a sliding frame."""
    epoch = F.col("o_orderdate").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("trailing_30d"),
        F.count("*").over(w).alias("orders_30d"),
    )


def window_lag_lead(events: DataFrame) -> DataFrame:
    """Per-user event sequence: lag/lead + inter-event gap in seconds."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return events.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (
            F.col("ts").cast("timestamp").cast("long")
            - prev_ts.cast("timestamp").cast("long")
        ).alias("gap_sec"),
    )


def window_distribution(orders: DataFrame) -> DataFrame:
    """Distribution window tier: ntile / percent_rank / cume_dist plus
    first/last/nth value — per order-status, ordered by price with the
    orderkey tiebreak that makes every function deterministic.

    first_value uses the default running frame; last/nth need the
    whole-partition frame (unboundedPreceding→unboundedFollowing) or
    they'd just echo the current row. All six functions share ONE window
    sort — a single exchange on o_orderstatus + local sort serves the
    entire select list. Low-cardinality partition keys (3 statuses) cap
    parallelism at 3 tasks at any scale — fine for a report; for a hot
    path, re-key the window (e.g. per customer) or pre-aggregate."""
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_cheapest_key"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops
# ---------------------------------------------------------------------------

def global_sort(customer: DataFrame) -> DataFrame:
    """Total ordering of a full table — the one shape that genuinely needs
    a range-partitioned exchange (sampled split points, then per-partition
    sort; partitions concatenate into the total order). Use only when the
    *output* must be totally ordered, e.g. writing a sorted export; for
    top-k use topk_orders (TakeOrderedAndProject, no range exchange)."""
    return customer.select("c_custkey", "c_name", "c_acctbal").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )


def global_row_number(orders: DataFrame, n_parts: int = 32) -> DataFrame:
    """Global dense row numbering over a total order — the distributed
    ``zipWithIndex`` pattern, and the one window shape you must NEVER
    write naively at scale: ``row_number() OVER (ORDER BY ...)`` with no
    PARTITION BY is a single-task window (all rows through one reducer).

    The scale formulation:

    1. range-partition on the order key (sampled split points — the same
       exchange a global sort uses); partition index order == key order;
    2. count rows per partition (a ``spark_partition_id`` groupBy — tiny,
       one row per partition) and turn the counts into per-partition
       *offsets* on the driver (bounded: n_parts scalars, not data);
    3. number rows *within* each partition (parallel window, one
       partition per task) and add the broadcast offset.

    Output is identical to the naive window (oracled), but every stage
    runs at full parallelism and no task ever sees more than its slice.

    The ranged frame is materialized (localCheckpoint) BEFORE the count
    pass: RangePartitioner samples its split points with a per-execution
    seed, so two separate jobs over the same lazy plan can draw
    *different* partition boundaries — the offsets would then be computed
    against a different pid assignment than the one that numbers the
    rows. Pinning the partitioning once makes pid a stable fact. (On a
    cluster, reliable ``checkpoint()`` for the same reason plus executor
    loss.)
    """
    with_pid = (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(n_parts, F.col("o_orderkey"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # Driver-side: n_parts (pid, count) rows -> cumulative offsets. This
    # is a bounded control-plane collect (one scalar per partition), the
    # same class as a convergence probe — not a data collect.
    sizes = {
        r["pid"]: r["cnt"]
        for r in with_pid.groupBy("pid").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    spark = orders.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], "pid int, off long"
        )
    )
    w = Window.partitionBy("pid").orderBy("o_orderkey")
    return (
        with_pid.join(off_df, "pid")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            (F.row_number().over(w) + F.col("off")).alias("rn"),
        )
    )


def topk_orders(orders: DataFrame, k: int = 10) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, not a full sort."""
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


def set_union(customer: DataFrame) -> DataFrame:
    """UNION (distinct) of two predicate-defined key sets."""
    a = customer.where(F.col("c_acctbal") > 9000).select("c_custkey")
    b = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.unionByName(b).distinct()


def set_intersect(customer: DataFrame) -> DataFrame:
    a = customer.where(F.col("c_acctbal") > 9000).select("c_custkey")
    b = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.intersect(b)


def set_except(customer: DataFrame) -> DataFrame:
    a = customer.where(F.col("c_acctbal") > 9000).select("c_custkey")
    b = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# Scalar function batteries (all JVM-side, inside whole-stage codegen)
# ---------------------------------------------------------------------------

def string_funcs(part: DataFrame) -> DataFrame:
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 3).alias("name_pfx"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.size(F.split("p_name", " ")).alias("name_words"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_vowels_up"),
    )


def fuzzy_string_funcs(part: DataFrame) -> DataFrame:
    """Edit-distance battery: Levenshtein between each part name and its
    lexicographic neighbor (sorted-neighborhood blocking — the classic
    cheap candidate generator for string dedup: near-identical strings
    sort adjacent, so one window pass surfaces most typo pairs without
    any O(n²) comparison)."""
    w = Window.orderBy("p_name", "p_partkey")
    prev = F.lag("p_name").over(w)
    return (
        part.select("p_partkey", "p_name")
        .withColumn("prev_name", prev)
        .where(F.col("prev_name").isNotNull())
        .select(
            "p_partkey",
            "p_name",
            "prev_name",
            F.levenshtein("p_name", "prev_name").alias("edit_dist"),
            (F.levenshtein("p_name", "prev_name") <= 3).alias("near_match"),
        )
    )


def regexp_funcs(part: DataFrame) -> DataFrame:
    """Regexp battery: match test, extract, extract-all, replace, count.
    All RE2-compatible patterns (no backrefs/lookahead) so any engine —
    and the oracle — agrees; regexps are codegen'd with the compiled
    pattern cached per task."""
    return part.select(
        "p_partkey",
        F.col("p_name").rlike("^[a-z]+ [a-z]+$").alias("two_words"),
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("last_word"),
        # NB: regexp_extract_all/regexp_count take the pattern as a Column
        # (a bare string is read as a column NAME) — hence F.lit
        F.array_join(
            F.regexp_extract_all("p_name", F.lit(r"([aeiou]{2,})"), F.lit(1)),
            ",",
        ).alias("vowel_runs"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.regexp_count("p_name", F.lit(r"\ba\w*")).alias("a_words"),
    )


def conditional_funcs(customer: DataFrame) -> DataFrame:
    """Conditional/bitwise battery: nullif/nvl2/greatest/least plus bit
    ops on the key — all single-projection, codegen'd."""
    return customer.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_or_null"),
        F.nvl2(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
            F.lit("other"),
            F.lit("building"),
        ).alias("seg_class"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor0"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_cap1k"),
        F.col("c_custkey").bitwiseAND(F.lit(255)).alias("key_low8"),
        F.col("c_custkey").bitwiseXOR(F.col("c_nationkey")).alias("key_xor_nat"),
        F.shiftleft(F.col("c_nationkey"), 2).alias("nat_shl2"),
    )


def date_funcs(orders: DataFrame) -> DataFrame:
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
        F.datediff(
            F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_y2k"),
    )


def math_funcs(lineitem: DataFrame) -> DataFrame:
    """Per-row double math is IEEE-deterministic; pow/ln are rounded to 6 dp
    (JVM Math vs libm may differ in the last ulp)."""
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        # exact decimal product, not round(double*double): Spark rounds the
        # shortest decimal repr while DuckDB rounds the binary value, so
        # half-way cases (x.xx5) would disagree between engines
        (_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("discount_amt"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_discount", F.lit(2)), 6).alias("disc_sq"),
        (F.col("l_partkey").bitwiseXOR(F.col("l_suppkey"))).alias("xor_keys"),
    )


def array_funcs(embeddings: DataFrame) -> DataFrame:
    """Array battery over the embedding column — all built-in higher-order
    functions, no Python. Float accumulation is done in DOUBLE left-to-right
    (F.aggregate), matching DuckDB's list_sum fold order."""
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    return embeddings.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.round(
            F.aggregate(emb_d, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("elem_sum"),
        F.round(
            F.sqrt(F.aggregate(emb_d, F.lit(0.0), lambda acc, x: acc + x * x)), 4
        ).alias("l2_norm"),
        F.array_max("embedding").cast("double").alias("elem_max"),
        F.array_min("embedding").cast("double").alias("elem_min"),
    )


def provenance_scan(documents: DataFrame) -> DataFrame:
    """Row provenance: which file each row came from — the engine-level
    analog of the reference's byte-offset input key (reference
    WordCount.java:53) and split locations. ``input_file_name()`` is
    populated by the scan itself, costs nothing, and survives projection;
    normalized to a basename so the value is layout-independent."""
    return documents.select(
        "doc_id",
        F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias("src_file"),
    )


def funnel_view_click(events: DataFrame) -> DataFrame:
    """View→click conversion funnel: ONE shuffle on user_id with
    conditional aggregates (min view ts, max click ts), then a scalar
    rollup. The naive formulation — self-join views×clicks per user —
    is quadratic per user; conditional aggregation is linear and
    partial-aggregates map-side."""
    first_view = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).alias("first_view")
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).alias("last_click")
    per_user = events.groupBy("user_id").agg(first_view, last_click)
    return per_user.agg(
        F.count(F.lit(1)).alias("users"),
        F.count("first_view").alias("viewed"),
        F.sum(
            F.when(F.col("last_click") > F.col("first_view"), 1).otherwise(0)
        ).alias("converted"),
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    again if still active ≥14 days later. Two aggregations — per-user
    (first + last active day), then per-cohort — both partial-aggregated;
    no self-join of the event log against itself (the usual retention
    query trap, quadratic in events per user)."""
    day = lambda c: F.date_trunc("day", F.col(c))  # noqa: E731
    per_user = events.groupBy("user_id").agg(
        F.min(day("ts")).alias("cohort_day"),
        F.max(day("ts")).alias("last_day"),
    )
    retained = F.when(
        F.col("last_day") >= F.col("cohort_day") + F.expr("INTERVAL 14 DAYS"),
        1,
    ).otherwise(0)
    return per_user.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day")
    ).agg(
        F.count(F.lit(1)).alias("cohort_size"),
        F.sum(retained).alias("retained_2w"),
    )


def map_funcs(events: DataFrame) -> DataFrame:
    """Map-type scalar battery: construct, size, access, key listing — the
    map counterpart of array_funcs, all codegen'd."""
    m = F.create_map(
        F.lit("t"),
        F.col("event_type"),
        F.lit("u"),
        F.col("user_id").cast("string"),
    )
    return events.select(
        "event_id",
        F.size(m).alias("map_size"),
        F.element_at(m, "t").alias("m_type"),
        F.element_at(m, "u").alias("m_user"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_str"),
        F.concat_ws(",", F.array_sort(F.map_values(m))).alias("values_str"),
    )


def json_funcs(events: DataFrame) -> DataFrame:
    """JSON extraction over events.props (the reference has no JSON at all;
    this is the semi-structured surface).

    The document is parsed once: ``from_json`` with an explicit schema
    yields a struct, and the three output columns are derived from its
    field. (A per-column ``get_json_object`` would re-parse the string per
    output — schema-driven ``from_json`` is also the 100 TB shape, since a
    typed struct column prunes/pushes like any other.)"""
    k = F.from_json("props", "k STRING").getField("k")
    return events.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_int"),
        (k.cast("bigint") % 10).alias("k_mod10"),
    )


def variant_funcs(events: DataFrame) -> DataFrame:
    """VARIANT semi-structured surface (Spark 4): ``parse_json`` once into
    an open-schema VARIANT value, then typed path extraction with
    ``variant_get``.

    vs ``json_funcs``' schema-on-read ``from_json``: VARIANT keeps the
    full document in a binary-encoded form (no fixed struct), so one
    ingested column serves queries whose paths aren't known at write time
    — the modern lake shape for event properties. Extractions below are
    deliberately cast to standard types so a JSON-function oracle can
    reproduce them; ``schema_of_variant`` / ``is_variant_null`` are
    exercised (typed per-row schema, JSON-null detection) but the schema
    string itself is engine-specific so it stays out of the compare.
    """
    v = F.parse_json("props")
    k_int = F.variant_get(v, "$.k", "bigint")
    return events.select(
        "event_id",
        k_int.alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        (k_int % 10).alias("k_mod10"),
        F.is_variant_null(v).alias("props_is_json_null"),
        F.variant_get(v, "$.missing", "string").alias("missing_path"),
    )


def generator_funcs(nation: DataFrame) -> DataFrame:
    """Generator (table-valued) expression surface: a per-row computed
    sequence exploded with OUTER semantics — rows whose array is empty
    still emit one (NULL, NULL) row instead of disappearing, the
    LEFT-JOIN-shaped explode every fan-out pipeline (chunking, n-gram
    expansion, retry schedules) needs to avoid silently dropping parents.

    ``posexplode_outer`` also surfaces the element ordinal, which is what
    keeps downstream order-sensitive logic (position-weighted scores,
    chunk indices) deterministic without a window.
    """
    m = F.pmod("n_nationkey", F.lit(4)).cast("bigint")
    arr = F.when(m == 0, F.array().cast("array<bigint>")).otherwise(
        F.sequence(F.lit(1).cast("bigint"), m)
    )
    return nation.select(
        "n_nationkey", F.posexplode_outer(arr).alias("pos", "val")
    )


def q13_customer_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: the distribution of per-customer order counts,
    INCLUDING zero-order customers — the left-outer join + conditional
    count + histogram-of-counts pattern (no reference analog; Q13 is the
    canonical "count the counts" query).

    Adapted to this corpus: TPC-H excludes orders by comment pattern;
    ``orders`` has no comment column, so '5-LOW'-priority orders are
    excluded instead. The exclusion rides the JOIN CONDITION (not a
    WHERE after the join) so customers whose every order is excluded
    still appear with c_count = 0 — the classic Q13 trap.

    Scale: customer ⋈ orders shuffles both sides on the customer key
    once; the follow-on groupBy(c_custkey) reuses that exchange (Catalyst
    sees the child partitioning satisfies the agg distribution — no
    second shuffle of the fact), and the final histogram aggregates
    |distinct counts| rows (~tens), partial-agg'd map-side.
    """
    qualifying = orders.where(
        ~F.col("o_orderpriority").startswith("5")
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        customer.select("c_custkey")
        .join(qualifying, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def events_time_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: one pass over the event
    stream producing hour, day, month, year, and grand-total aggregates
    simultaneously (``ROLLUP`` on the calendar decomposition) — the batch
    twin of a timeseries store's continuous aggregate ladder.

    Determinism: ``value`` is cast to DECIMAL(18,6) BEFORE summing (the
    module-wide money discipline) — double sums differ in the last ulp
    between Spark's partial-agg order and DuckDB's scan order; decimal
    sums are exact and order-free.

    Scale: Spark expands ROLLUP into a single Expand + one partial-agg'd
    shuffle keyed on (grouping-set id, keys) — 5 output ladders for one
    scan and one exchange, vs 5 separate jobs if each granularity were
    its own query. Cardinality after partial agg is bounded by
    |distinct hours| × 5, tiny at any corpus size.
    """
    t = F.col("ts")
    base = events.select(
        F.year(t).alias("yr"),
        F.month(t).alias("mo"),
        F.dayofmonth(t).alias("dy"),
        F.hour(t).alias("hr"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    return base.rollup("yr", "mo", "dy", "hr").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").cast("double").alias("sum_value"),
    )


def snapshot_cdc(orders: DataFrame) -> DataFrame:
    """Change-data-capture diff between two snapshots of a table: emit
    one row per INSERT / UPDATE / DELETE, suppressing the unchanged
    majority — the incremental-pipeline primitive (feeding a MERGE, an
    audit log, or a downstream recompute trigger).

    The "new" snapshot is derived deterministically inside the query so
    both engines diff identical inputs: pending orders reprice 2×
    (updates), every 97th key disappears (deletes), every 101st key
    re-enters under a shifted key (inserts).

    Scale: a single full-outer sort-merge join on the primary key — both
    sides shuffle once on o_orderkey; with both snapshots bucketed by key
    on disk (`sources/io.py` bucketed writes) the exchange disappears
    entirely and CDC becomes a zip of co-located files. The change filter
    runs post-join, so the output is |changes|, not |table|.
    """
    old = orders.select("o_orderkey", F.col("o_totalprice").alias("old_price"))
    new = (
        orders.where(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderstatus") == "P", F.col("o_totalprice") * 2
            )
            .otherwise(F.col("o_totalprice"))
            .alias("new_price"),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.col("o_totalprice").alias("new_price"),
            )
        )
    )
    diff = old.join(new, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("old_price").isNull(), "insert")
        .when(F.col("new_price").isNull(), "delete")
        .when(F.col("old_price") != F.col("new_price"), "update")
    )
    return (
        diff.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select("o_orderkey", "change_type", "old_price", "new_price")
    )


def incremental_agg_update(orders: DataFrame, cutoff: str = "1997-01-01") -> DataFrame:
    """Materialized-view maintenance: fold a delta into a pre-aggregated
    state ALGEBRAICALLY — merge partial aggregates (sum of counts, sum of
    sums, min of mins, max of maxes; avg re-derived at read) instead of
    rescanning the base. This is Catalyst's own partial/final aggregation
    contract (the reference's combiner, reference WordCount.java:95-114)
    lifted to pipeline level: because the agg state is a commutative
    monoid, `agg(base ∪ delta) == merge(agg(base), agg(delta))`, and a
    100-TB nightly refresh touches only the delta partitions.

    Here "state" and "delta" are derived from the same table split at
    ``cutoff`` so the DuckDB oracle (a plain full-table aggregate) proves
    the merge is lossless.
    """
    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).alias("sum_price"),
            F.min(_dec("o_totalprice")).alias("min_price"),
            F.max(_dec("o_totalprice")).alias("max_price"),
        )

    cut = F.col("o_orderdate") < F.lit(cutoff)
    state = partial(orders.where(cut))
    delta = partial(orders.where(~cut))
    return (
        state.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("sum_price").alias("s"),
            F.min("min_price").alias("mn"),
            F.max("max_price").alias("mx"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("s").cast("double").alias("sum_price"),
            F.col("mn").cast("double").alias("min_price"),
            F.col("mx").cast("double").alias("max_price"),
            (F.col("s").cast("double") / F.col("n_orders")).alias("avg_price"),
        )
    )


def gap_fill_locf(events: DataFrame) -> DataFrame:
    """Time-series regularization: project an irregular event stream onto
    a dense hourly grid per user and carry the last observation forward
    (LOCF) across the gaps — the timeseries-store "continuous view"
    primitive (locf/interpolate) a feature pipeline needs before joining
    event data against anything sampled on a clock.

    Semantics: per (user, hour) the observed value is the LATEST event's
    value in that hour (``max_by(value, event_id)`` — deterministic,
    event_id is unique); grid bounds are the global [min, max] hour;
    hours before a user's first observation stay NULL (LOCF has nothing
    to carry).

    Scale: the grid is |users| × |hours| rows built from an exploded
    ``sequence`` against a broadcast 1-row bounds aggregate — no data
    shuffle creates it. The per-hour pre-aggregate shrinks the event
    stream BEFORE the grid join (events never meet the grid row-for-row),
    and the LOCF window sorts each user's grid slice — bounded by grid
    width, not event volume.
    """
    ts = F.col("ts").cast("timestamp")
    hourly = (
        events.select(
            "user_id", F.date_trunc("hour", ts).alias("hr"), "event_id", "value"
        )
        .groupBy("user_id", "hr")
        .agg(F.max_by("value", "event_id").alias("v"))
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min(ts)).alias("lo"),
        F.date_trunc("hour", F.max(ts)).alias("hi"),
    )
    grid = (
        events.select("user_id")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("hr"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.last("v", ignorenulls=True).over(w).alias("value_locf"),
            F.col("v").isNotNull().alias("observed"),
        )
    )


def try_funcs(lineitem: DataFrame) -> DataFrame:
    """Safe-arithmetic battery: the ``try_*`` surface that keeps a 100-TB
    job alive when one row in a trillion is malformed — failed casts,
    zero divides, and bigint overflow yield NULL instead of killing the
    stage (the difference between quarantining bad rows and re-running a
    six-hour job under ANSI semantics).

    Every nullable output here is DATA-dependent (nulls mixed with
    values): an all-NULL column is a cross-engine comparison trap —
    Spark collects it as a typeless None column while DuckDB emits typed
    NaN, and stringified frames disagree ('None' vs 'nan') even though
    both are "all null".

    Perf note (measured): a *failing* ``try_cast(string → int)`` costs a
    JVM exception per row — at ~50% malformed rows that was 5.5 s of the
    query's 3.5-5 s total at sf0.1. The mixed-cast column therefore
    gates the cast behind a cheap codegen regexp (``^\\s*[+-]?\\d+\\s*$``,
    a subset of what the ANSI int cast accepts — anything the regexp
    rejects, ``try_cast`` would NULL anyway, asserted result-identical):
    malformed rows short-circuit to NULL without ever entering the
    exception path. 10× on this column; the same pattern is what keeps a
    quarantine pass cheap when a 100-TB corpus is 10% dirty.
    """
    nine = F.lit(9223372036854775807)
    odd = F.col("l_linenumber") % 2 == 1
    mixed = F.when(odd, F.col("l_returnflag")).otherwise(
        F.col("l_linenumber").cast("string")
    )
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity")).alias(
            "safe_div"
        ),
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - F.lit(25.0)
        ).alias("div_maybe"),
        F.when(mixed.rlike(r"^\s*[+-]?\d+\s*$"), mixed.try_cast("int"))
        .alias("cast_mixed"),
        F.concat(F.lit("4"), F.col("l_linenumber").cast("string"))
        .try_cast("int")
        .alias("cast_num"),
        F.try_add(F.col("l_orderkey"), F.lit(1)).alias("add_ok"),
        F.try_add(
            nine, F.when(F.col("l_orderkey") % 2 == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("add_overflow"),
    )

def ordered_set_aggs(orders: DataFrame) -> DataFrame:
    """Ordered-set aggregate surface — ``percentile_disc`` / ``mode`` /
    ``listagg`` (the ISO ``WITHIN GROUP`` family, new as first-class
    functions in Spark 4).

    ``percentile_disc`` returns an actual element of the group (smallest
    value whose cume_dist ≥ p) — no interpolation, so it is bit-exact
    cross-engine by construction, unlike ``percentile``'s arithmetic.
    ``mode`` is made deterministic under ties by the ``deterministic``
    flag (lowest value wins); ``listagg DISTINCT … WITHIN GROUP`` pins an
    explicit order so the concatenation is partitioning-independent (an
    unordered listagg would be nondeterministic by shuffle arrival, same
    trap as ``collect_list``). All three are single partial-agg'd
    shuffles over 3 groups.
    """
    return orders.groupBy("o_orderstatus").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("median_price_disc"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p90_price_disc"),
        F.expr("mode(o_orderpriority, true)").alias("mode_priority"),
        F.expr(
            "listagg(DISTINCT o_orderpriority, '|') "
            "WITHIN GROUP (ORDER BY o_orderpriority)"
        ).alias("priorities"),
        F.count(F.lit(1)).alias("n"),
    )


def exact_percentiles_by_group(
    df: DataFrame, group_col: str, value_col: str, pcts: list[float]
) -> DataFrame:
    """Exact ``percentile_cont`` per group via a value-frequency
    histogram — the 100-TB-safe formulation of exact percentiles.

    The builtin ``percentile`` aggregate ships EVERY raw value into one
    per-group in-memory map (its state is unbounded in row count): with
    few, huge groups that is one OOM-bound reducer per group. This
    formulation instead:

    1. ``groupBy(group, value).count()`` — map-side combined, fully
       parallel; state is bounded by *distinct values*, not rows;
    2. per-group running ``cum``/total ``n`` over the distinct values
       (the window sees only the histogram, orders of magnitude smaller
       than the data);
    3. picks the floor/ceil rank values and interpolates with the exact
       arithmetic of Spark's ``Percentile`` evaluator —
       ``(ceil-pos)*lo + (pos-floor)*hi``, doubles throughout — so the
       result is bit-identical to the builtin (asserted in tests).

    Measured at sf0.1: 2.0 s vs 3.7 s builtin on the same bounds query —
    and unlike the builtin it cannot OOM a reducer at scale.

    Returns one row per group: (group_col, p0, p1, ... one column per
    requested percentile).
    """
    # The builtin percentile IGNORES nulls; an unfiltered histogram would
    # count the null bucket in n and sort it first in the cumulative
    # window, shifting every rank — filter to keep the bit-identical
    # contract on nullable inputs too.
    freq = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(group_col)
    cum = freq.select(
        group_col,
        F.col(value_col).cast("double").alias("v"),
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    aggs = []
    for i, p in enumerate(pcts):
        pos_row = F.lit(p) * (F.col("n") - 1).cast("double")
        lo_v = F.min(F.when(F.col("cum") >= F.floor(pos_row) + 1, F.col("v")))
        hi_v = F.min(F.when(F.col("cum") >= F.ceil(pos_row) + 1, F.col("v")))
        nn = F.max("n")
        pos = F.lit(p) * (nn - 1).cast("double")
        lo_i, hi_i = F.floor(pos), F.ceil(pos)
        interp = (hi_i.cast("double") - pos) * lo_v + (
            pos - lo_i.cast("double")
        ) * hi_v
        aggs.append(F.when(lo_i == hi_i, lo_v).otherwise(interp).alias(f"p{i}"))
    return cum.groupBy(group_col).agg(*aggs)


def winsorized_stats(lineitem: DataFrame) -> DataFrame:
    """Winsorized (clamped-tail) robust statistics per group: clamp
    values to their group's exact [p05, p95] band, then mean/stddev of
    the clamped column — the standard way to stop a handful of corrupt
    outliers from dragging a 100-TB quality metric.

    Two aggregations, no row explosion: pass 1 computes the exact
    percentile bounds per group via the histogram formulation
    (:func:`exact_percentiles_by_group` — bounded state, bit-identical
    to the builtin), which broadcast-join back
    onto the fact scan; pass 2 aggregates the clamped expression. The
    stddev comes from exact decimal moments (Σv, Σv² of the clamped
    decimal), not the order-dependent streaming ``stddev`` — same
    bit-exactness discipline as :func:`stats_moments`. Clamped values
    are quantized to DECIMAL(28,10) BEFORE the moment sums on both
    engines, so interpolated bounds can't smuggle ulp drift into Σv².
    """
    bounds = exact_percentiles_by_group(
        lineitem, "l_returnflag", "l_extendedprice", [0.05, 0.95]
    ).select(
        "l_returnflag", F.col("p0").alias("lo"), F.col("p1").alias("hi")
    )
    v = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    vd = v.cast("decimal(28,10)")
    agg = (
        lineitem.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(vd).alias("sv"),
            F.sum(vd * vd).alias("svv"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
        )
    )
    n = F.col("n").cast("double")
    sv, svv = F.col("sv").cast("double"), F.col("svv").cast("double")
    return agg.select(
        "l_returnflag",
        "n",
        F.round(F.col("lo"), 6).alias("p05"),
        F.round(F.col("hi"), 6).alias("p95"),
        F.round(sv / n, 6).alias("wins_mean"),
        F.round(F.sqrt((svv - sv * sv / n) / (n - 1)), 6).alias("wins_std"),
    )


def hierarchy_rollup(spark: SparkSession, customer: DataFrame) -> DataFrame:
    """Recursive-CTE graph walk (``WITH RECURSIVE``, new in Spark 4):
    every customer key walks its binary-ancestor chain ``k → k DIV 2``
    down to the root and the result rolls up per depth — the shape of
    org-chart / BOM / category-tree traversals that classic engines do
    with iterative self-joins.

    Physically Spark executes the recursion as a UnionLoop: each step is
    a distributed self-join of the previous frontier, so the walk
    parallelizes like any join and needs O(log maxkey) rounds here —
    the declarative twin of ``dedup.connected_components_star``'s hand-rolled
    iteration (which predates this syntax and keeps checkpoint control).
    The rollup output is |depths| rows regardless of input size.
    """
    import uuid

    view = f"hier_src_{uuid.uuid4().hex[:12]}"
    customer.select("c_custkey").createOrReplaceTempView(view)
    try:
        return spark.sql(
            f"""
            WITH RECURSIVE walk(k, step) AS (
              SELECT c_custkey, 0 FROM {view}
              UNION ALL
              SELECT k DIV 2, step + 1 FROM walk WHERE k > 0
            )
            SELECT step AS depth, COUNT(*) AS n_on_level,
                   MIN(k) AS min_key, MAX(k) AS max_key
            FROM walk GROUP BY step
            """
        )
    finally:
        spark.catalog.dropTempView(view)


def url_funcs(documents: DataFrame) -> DataFrame:
    """URL scalar surface — ``parse_url`` component extraction (HOST /
    PATH / QUERY / per-key query param) plus ``url_encode`` /
    ``url_decode`` — over URLs synthesized deterministically from
    document fields (the corpus has no real URL column). Web-curation
    pipelines lean on exactly this family for domain-level filtering,
    canonicalization, and per-domain mixture stats; all of it is
    codegen'd JVM string work, no UDF.
    """
    u = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&rank="),
        F.col("doc_id") % 7,
    )
    enc = F.url_encode(F.concat(F.col("source"), F.lit(" x/"), F.col("lang")))
    return documents.select(
        "doc_id",
        F.parse_url(u, F.lit("HOST")).alias("host"),
        F.parse_url(u, F.lit("PATH")).alias("path"),
        F.parse_url(u, F.lit("QUERY")).alias("query"),
        F.parse_url(u, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        enc.alias("enc"),
        F.url_decode(enc).alias("dec"),
    )


def sessionize_events(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: split each user's event stream into sessions
    at >``gap_minutes`` inactivity gaps — the batch twin of the streaming
    session window (streaming/windows.py), and the standard first step of
    any clickstream/behavior pipeline.

    Gap detection is the lag-then-cumsum idiom: a row opens a new session
    iff it is the user's first event or follows its predecessor by more
    than the gap; the running sum of that flag numbers the sessions.
    Both windows AND the final per-session aggregation cluster on
    ``user_id`` (session_seq is a refinement of the user partition), so
    Catalyst plans ONE exchange for the whole query — lag, cumsum, and
    the groupBy all reuse the same hash(user_id) partitioning. At 100 TB
    that single user-keyed shuffle is the irreducible cost; everything
    else is per-partition.

    Gap arithmetic is integer epoch-seconds end to end, so the oracle
    comparison is exact (no timestamp-diff FP).
    """
    gap_s = gap_minutes * 60
    # ts is TIMESTAMP_NTZ (load_table's nanos conversion); NTZ has no
    # direct long cast — hop through timestamp (session tz pinned UTC
    # makes it value-preserving), then to epoch seconds (floor).
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(sec).over(w)
    opens = (prev.isNull() | (sec - prev > F.lit(gap_s))).cast("int")
    numbered = events.select(
        "user_id", "event_id", "ts", "value", opens.alias("opens")
    ).withColumn(
        "session_seq",
        F.sum("opens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            F.max(F.col("ts").cast("timestamp").cast("long"))
            - F.min(F.col("ts").cast("timestamp").cast("long"))
        ).alias("duration_sec"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def rolling_anomaly(events: DataFrame, z_thresh: float = 3.0) -> DataFrame:
    """Rolling z-score anomaly detection: hourly metric per event_type,
    scored against the trailing 24 observed hours (current hour held
    out). The streaming-adjacent monitoring query every event pipeline
    runs; in Spark it is hourly-rollup → ordered window, two shuffles
    total, both on low-cardinality keys with map-side partial agg doing
    the heavy lifting on the first.

    FP discipline (the part that makes this oracle-exact): the hourly
    metric is an integer (sum of millivalue = round(value*1000)), and the
    rolling mean/std are computed from integer sums (Σx, Σx²) carried
    through the window as BIGINTs — the only float ops are the final
    mean/std/z division and sqrt, the same closed-form expression both
    engines evaluate from identical integers. Frame-summation order, the
    usual cross-engine float killer in windowed stats, never touches a
    float here.
    """
    hourly = (
        events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("x")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum("x").over(w)
    ss = F.sum(F.col("x") * F.col("x")).over(w)
    mean = s.cast("double") / n
    var = (ss.cast("double") - s.cast("double") * s.cast("double") / n) / (
        n - 1
    )
    z = (F.col("x").cast("double") - mean) / F.sqrt(var)
    scored = hourly.select(
        "event_type",
        "hour",
        "x",
        n.alias("n_ref"),
        F.round(z, 6).alias("zscore"),
    )
    return scored.where(F.col("n_ref") >= 12).select(
        "event_type",
        "hour",
        "x",
        "n_ref",
        "zscore",
        (F.abs(F.col("zscore")) > F.lit(z_thresh)).alias("is_anomaly"),
    )


def table_profile(lineitem: DataFrame) -> DataFrame:
    """Column-profile statistics — the data-quality pass a pipeline runs
    before trusting a new drop: per numeric column, row count, null
    count, min/max, and exact distinct count, in ONE scan.

    All 4×5 aggregates are computed in a single Aggregate operator
    (one pass, map-side partial), then pivoted to long form with
    ``stack`` — profiling must never cost one scan per column.
    """
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls"),
            F.min(F.col(c).cast("double")).alias(f"{c}_min"),
            F.max(F.col(c).cast("double")).alias(f"{c}_max"),
            F.count_distinct(F.col(c)).alias(f"{c}_ndv"),
        ]
    wide = lineitem.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_nulls, {c}_min, {c}_max, {c}_ndv" for c in cols
    )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col, n_null, vmin, vmax, ndv)"
        ),
    ).select("col", "n_rows", "n_null", "vmin", "vmax", "ndv")


def equidepth_histogram(orders: DataFrame, n_bins: int = 10) -> DataFrame:
    """Equi-depth (quantile) histogram of o_totalprice: bin boundaries
    are exact percentile_cont cuts, bins are assigned by boundary
    comparison — NOT by ``ntile`` over a global ORDER BY, which is a
    single-task window (the same anti-pattern :func:`global_row_number`
    exists to avoid). Boundaries come from
    :func:`exact_percentiles_by_group` (bounded state, parallel), the
    binning is a codegen'd sum of comparisons on the scan, and the
    per-bin stats are one partial-agg shuffle of ``n_bins`` rows.
    """
    pcts = [i / n_bins for i in range(1, n_bins)]
    bounds = exact_percentiles_by_group(
        orders.select(F.lit(1).alias("g"), "o_totalprice"),
        "g",
        "o_totalprice",
        pcts,
    )
    v = F.col("o_totalprice").cast("double")
    bin_expr = sum(
        (v > F.col(f"p{i}")).cast("int") for i in range(len(pcts))
    )
    return (
        orders.select("o_totalprice")
        .join(F.broadcast(bounds.drop("g")))
        .select(v.alias("v"), bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("v"), 6).alias("vmin"),
            F.round(F.max("v"), 6).alias("vmax"),
        )
    )


def iqr_outliers(lineitem: DataFrame) -> DataFrame:
    """Tukey-fence outlier report per group: count values beyond
    [Q1 - 1.5·IQR, Q3 + 1.5·IQR] — the robust data-quality screen that,
    unlike z-scores, is not itself dragged by the outliers it hunts.

    Quartiles come from :func:`exact_percentiles_by_group` (bounded
    state, bit-identical to the builtin percentile); the fences
    broadcast back onto the scan and the report is one partial-agg
    shuffle of |groups| rows. Only always-defined outputs (counts,
    rates) are emitted — a min/max over an empty outlier set would be
    NULL, the cross-engine comparison trap ``try_funcs`` documents.
    """
    bounds = exact_percentiles_by_group(
        lineitem, "l_returnflag", "l_extendedprice", [0.25, 0.75]
    ).select(
        "l_returnflag", F.col("p0").alias("q1"), F.col("p1").alias("q3")
    )
    v = F.col("l_extendedprice").cast("double")
    iqr = F.col("q3") - F.col("q1")
    lo, hi = F.col("q1") - 1.5 * iqr, F.col("q3") + 1.5 * iqr
    out = ((v < lo) | (v > hi)).cast("int")
    return (
        lineitem.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(out).alias("n_outliers"),
            F.round(F.min("q1"), 6).alias("q1"),
            F.round(F.min("q3"), 6).alias("q3"),
        )
        .select(
            "l_returnflag",
            "n",
            "n_outliers",
            "q1",
            "q3",
            F.round(
                F.col("n_outliers").cast("double") / F.col("n"), 6
            ).alias("outlier_rate"),
        )
    )


def chi_square_independence(orders: DataFrame) -> DataFrame:
    """Pearson chi-square independence statistic for the
    (o_orderstatus × o_orderpriority) contingency table — the
    categorical-drift check a pipeline runs between corpus snapshots.

    Exactness discipline: each cell's contribution (obs - exp)²/exp is
    a fixed double expression over exact integer counts (deterministic
    per cell), ROUNDED to 6 dp and summed as DECIMAL — because a
    *double* sum over shuffled cells is order-dependent in the last
    ulp and would flap against any oracle. The decimal sum is exact and
    associative, so the statistic is reproducible bit-for-bit on both
    engines (a documented 1e-6-per-cell quantization of true chi²).
    """
    obs = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("o")
    )
    wr = Window.partitionBy("o_orderstatus")
    wc = Window.partitionBy("o_orderpriority")
    wall = Window.partitionBy()
    cells = obs.select(
        "o_orderstatus",
        "o_orderpriority",
        "o",
        F.sum("o").over(wr).alias("r"),
        F.sum("o").over(wc).alias("c"),
        F.sum("o").over(wall).alias("n"),
    )
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n").cast("double")
    )
    contrib = F.round(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e,
        6,
    ).cast("decimal(18,6)")
    return cells.agg(
        F.sum(contrib).cast("double").alias("chi2"),
        (
            (F.count_distinct("o_orderstatus") - 1)
            * (F.count_distinct("o_orderpriority") - 1)
        ).alias("dof"),
        F.max("n").alias("n"),
    )


def skew_report(lineitem: DataFrame) -> DataFrame:
    """Join-key skew diagnosis for l_suppkey — the report you run BEFORE
    deciding to salt a join or rely on AQE skew-split. Emits one row:
    distinct keys, total rows, the heaviest key's row share, and the
    p50/p99 key-frequency quantiles (a p99/p50 ratio near 1 means
    uniform; ≫1 means a skewed join ahead).

    The frequency table is a map-side-combined groupBy (shuffle rows ==
    distinct keys); the quantiles over it use the bounded-state
    histogram percentile. Nothing here scans the fact table twice.
    """
    freq = lineitem.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("f"))
    q = exact_percentiles_by_group(
        freq.select(F.lit(1).alias("g"), "f"), "g", "f", [0.5, 0.99]
    ).select(F.col("p0").alias("p50_freq"), F.col("p1").alias("p99_freq"))
    stats = freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("f").alias("n_rows"),
        F.max("f").alias("max_freq"),
    )
    return (
        stats.join(F.broadcast(q))
        .select(
            "n_keys",
            "n_rows",
            "max_freq",
            F.round(
                F.col("max_freq").cast("double") / F.col("n_rows"), 6
            ).alias("top_key_share"),
            "p50_freq",
            "p99_freq",
            F.round(F.col("p99_freq") / F.col("p50_freq"), 6).alias(
                "p99_p50_ratio"
            ),
        )
    )


def mad_stats(lineitem: DataFrame) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    companion to :func:`winsorized_stats`: MAD = median(|v − median(v)|),
    immune to any minority of corrupt values (stddev is not).

    Two bounded-state percentile passes (:func:`exact_percentiles_by_group`):
    group medians broadcast back onto the scan, then the median of the
    absolute deviations. |v − m| is a deterministic per-row double
    expression, so both engines see identical deviation sets and the
    second percentile matches exactly.
    """
    med = exact_percentiles_by_group(
        lineitem, "l_returnflag", "l_extendedprice", [0.5]
    ).select("l_returnflag", F.col("p0").alias("med"))
    dev = (
        lineitem.join(F.broadcast(med), "l_returnflag")
        .select(
            "l_returnflag",
            "med",
            F.abs(
                F.col("l_extendedprice").cast("double") - F.col("med")
            ).alias("dev"),
        )
    )
    mad = exact_percentiles_by_group(
        dev, "l_returnflag", "dev", [0.5]
    ).select("l_returnflag", F.col("p0").alias("mad"))
    n = lineitem.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    return (
        n.join(med, "l_returnflag")
        .join(mad, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            F.round(F.col("med"), 6).alias("median_price"),
            F.round(F.col("mad"), 6).alias("mad_price"),
        )
    )


def regression_by_group(lineitem: DataFrame) -> DataFrame:
    """Per-group simple linear regression (price ~ quantity) from exact
    decimal moments — "aggregate-only ML": slope and intercept need only
    Σx, Σy, Σxy, Σx², which partial-aggregate map-side like any sum.

    Exactness discipline (same as :func:`stats_moments`): the moments
    are DECIMAL sums (order-independent, no shuffle-order ulp drift);
    only the final slope/intercept arithmetic runs in double — a fixed
    expression over exact inputs, so both engines agree bit-for-bit.
    """
    x = F.col("l_quantity").cast("decimal(18,6)")
    y = F.col("l_extendedprice").cast("decimal(18,6)")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


def ohlc_hourly(events: DataFrame) -> DataFrame:
    """OHLC (open/high/low/close) bars per hour over the events stream —
    the classic downsampling shape for any metric series.

    Open/close are the values at the earliest/latest (ts, event_id) in
    the bar — the composite order key makes ties deterministic, via
    ``min_by``/``max_by`` over the (ts, event_id) struct (lexicographic
    struct ordering). That makes the whole operator ONE map-side-
    combinable aggregate: no window, no per-bar sort at all — strictly
    less work than the two-row_number formulation this replaced (opposite
    sort directions do NOT share a physical Window; they compile to two
    Window execs with a re-sort between).
    """
    hr = F.date_trunc("hour", F.col("ts")).alias("bar_hour")
    base = events.select(hr, "ts", "event_id", "value")
    ord_key = F.struct("ts", "event_id")
    return base.groupBy("bar_hour").agg(
        F.min_by("value", ord_key).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.max_by("value", ord_key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Per-user time-weighted average of ``value`` — the right mean for
    irregularly-sampled series (a value that held for an hour must weigh
    60× one that held a minute; the row-mean pretends they're equal).

    Each event's value holds until the user's next event (lead over the
    (ts, event_id) order); weights are integer microsecond gaps and the
    weighted sum accumulates in DECIMAL — exact and order-independent —
    with only the final division in double. Users with a single event
    (no gap) are excluded, keeping every output column always-defined.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros needs TIMESTAMP (LTZ); the session tz is pinned UTC
    # (sources/catalog._SCAN_CONFS), so the NTZ→LTZ cast is lossless.
    dt_us = (
        F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    ).alias("dt_us")
    seg = events.select("user_id", "ts", "event_id", "value").select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        dt_us,
    ).where(F.col("dt_us").isNotNull())
    agg = seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("v") * F.col("dt_us")).alias("sv"),
        F.sum("dt_us").alias("st"),
    ).where(F.col("st") > 0)
    return agg.select(
        "user_id",
        "n_segments",
        F.round(
            F.col("sv").cast("double") / F.col("st").cast("double"), 6
        ).alias("twa_value"),
    )


def ewma_values(events: DataFrame, span: int = 20) -> DataFrame:
    """Exponentially weighted moving average of ``value`` per user over
    the last ``span`` events (alpha = 1/2, pandas ``adjust=False``
    semantics truncated to the frame) — the smoothing layer under drift
    detectors and rate limiters.

    Engineered for cross-engine bit-exactness, which an EWMA normally
    forfeits to float pow(): alpha is exactly 0.5, so the recurrence
    ``E = (E_prev + x) * 0.5`` multiplies by a power of two (exact) and
    rounds only on the addition — and the fold runs in a FIXED
    left-to-right frame order on both engines (Spark ``aggregate`` over a
    window-collected array seeded with its head; DuckDB ``list_reduce``,
    which seeds with the head by definition). No pow(), no
    order-dependent sum, no libm.

    Scale: the window state is ``span`` doubles per partition-in-flight —
    bounded regardless of series length — and the shuffle is the one
    hash exchange on user_id every windowed series op pays. The collected
    frame array is span-bounded, not series-bounded.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(span - 1), 0)
    )
    vals = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: (acc + x) * F.lit(0.5),
    )
    return events.select(
        "user_id",
        "event_id",
        "value",
        ewma.alias("ewma"),
    )


def rolling_median(events: DataFrame, span: int = 21) -> DataFrame:
    """Exact median of ``value`` over the trailing ``span`` events per
    user — the robust twin of ewma_values (a median tracker shrugs off
    the single spike that drags any mean-based smoother).

    Shape: the window collects the bounded frame array (``span`` doubles
    of state per in-flight row, independent of series length),
    ``array_sort`` + middle element inside ONE codegen'd projection — no
    per-row Python, no second shuffle beyond the user_id exchange every
    windowed op pays. Even-length frames average the two middle elements
    ((a+b)/2 — one add, one exact halving, bit-identical cross-engine);
    sorting makes the value deterministic under any input order.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(span - 1), 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    # Column `/` is true division — cast truncates, matching DuckDB's `//`
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = F.when(n % 2 == 1, mid_lo).otherwise((mid_lo + mid_hi) * F.lit(0.5))
    return events.select(
        "user_id",
        "event_id",
        "value",
        med.alias("rolling_median"),
    )


def join_asof_nearest(events: DataFrame) -> DataFrame:
    """Nearest-asof join: for every click, the view CLOSEST in time —
    before or after — per user (backward asof answers "what did they
    last see"; nearest answers "what exposure does this action belong
    to", the attribution-with-clock-skew shape).

    Same union-then-window formulation as :func:`join_asof` — one hash
    exchange on user_id carries BOTH directions: a backward
    last(ignorenulls) over [unbounded, current] and a forward
    first(ignorenulls) over [current, unbounded] (two sorts, one
    shuffle). Equal-ts views sort before clicks, so ties count as
    "before" — and among equal-ts views both directions resolve to the
    MAX view event_id (backward: last in id-ascending order; forward:
    first in id-DESCENDING order), matching the oracle's per-(user, ts)
    max-id view dedup. The nearer side wins; exact-microsecond gap ties
    prefer the backward match. Clicks with no view at all drop.

    Output gap_us is SIGNED microseconds (view_ts − click_ts): negative
    for a view before the click.
    """
    views = events.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("tag"),
        "event_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("long").alias("view_id"),
        F.lit(None).cast("timestamp_ntz").alias("view_ts"),
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", F.desc("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = views.unionByName(clicks).select(
        "user_id",
        "ts",
        "tag",
        "event_id",
        F.last("view_id", ignorenulls=True).over(w_back).alias("b_id"),
        F.last("view_ts", ignorenulls=True).over(w_back).alias("b_ts"),
        F.first("view_id", ignorenulls=True).over(w_fwd).alias("f_id"),
        F.first("view_ts", ignorenulls=True).over(w_fwd).alias("f_ts"),
    )
    c = merged.where(F.col("tag") == 1)
    us = lambda col: F.unix_micros(F.col(col).cast("timestamp"))  # noqa: E731
    gap_b = us("ts") - us("b_ts")
    gap_f = us("f_ts") - us("ts")
    pick_back = F.col("b_id").isNotNull() & (
        F.col("f_id").isNull() | (gap_b <= gap_f)
    )
    return c.where(
        F.col("b_id").isNotNull() | F.col("f_id").isNotNull()
    ).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.when(pick_back, F.col("b_id")).otherwise(F.col("f_id")).alias("view_id"),
        F.when(pick_back, -gap_b).otherwise(gap_f).alias("gap_us"),
    )


def pareto_front(orders: DataFrame) -> DataFrame:
    """2-D skyline: orders not dominated on (o_totalprice, o_orderdate)
    — "no other order is both at-least-as-expensive AND at-least-as-
    recent, strictly better in one". The multi-objective shortlist query
    (best price/recency trade-offs) that a naive formulation answers
    with an O(n²) dominance self-join.

    The 2-D case collapses to sorting: group by price (per-group max
    date dominates its own group), order the price groups descending,
    and a row survives iff its date strictly exceeds every
    higher-price group's max date — one running-max window over the
    PRICE-DISTINCT relation (vocabulary-sized, not row-sized), then one
    join back. Equal (price, date) rows tie into the front together.
    The global-order window ranks |distinct prices| rows; at extreme
    cardinality the same prefix-max decomposes per-partition exactly
    like global_row_number.
    """
    g = orders.groupBy("o_totalprice").agg(F.max("o_orderdate").alias("gd"))
    w = Window.orderBy(F.desc("o_totalprice")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    g = g.withColumn("hmax", F.max("gd").over(w))
    front_groups = g.where(F.col("hmax").isNull() | (F.col("hmax") < F.col("gd")))
    return (
        orders.join(front_groups, "o_totalprice")
        .where(F.col("o_orderdate") == F.col("gd"))
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


def concurrency_profile(events: DataFrame, hold: str = "5 minutes") -> DataFrame:
    """Peak concurrency per hour: treat every event as holding a
    resource for ``hold`` (half-open interval), sweep +1/−1 deltas in
    time order, and report each hour's maximum running occupancy — the
    capacity-planning query behind "how many sessions were live at
    once".

    Sweep-line as ONE running-sum window over the 2n delta rows; ends
    sort before starts at the same instant (half-open semantics, the
    delta ascending tiebreak) with event_id as the final total-order
    key. The global-order window is the textbook sweep; at extreme
    scale the prefix sum decomposes per-partition with a broadcast
    offset, exactly the global_row_number technique. Peak-per-hour is a
    partial-agg'd max over the delta points falling in that hour.
    """
    iv = F.expr(f"INTERVAL {hold}")
    starts = events.select(
        F.col("ts").alias("t"), F.lit(1).alias("d"), "event_id"
    )
    ends = events.select(
        (F.col("ts") + iv).alias("t"), F.lit(-1).alias("d"), "event_id"
    )
    deltas = starts.unionByName(ends)
    # zero-delta PROBE at every hour boundary of the observed span: an
    # hour whose peak is occupancy carried in from earlier deltas (or an
    # hour fully inside a long hold, with no delta of its own) would
    # otherwise under-report or go missing entirely. Probes sort between
    # ends (-1) and starts (+1) at the same instant, preserving the
    # half-open interval semantics at the boundary itself.
    span = deltas.agg(
        F.date_trunc("hour", F.min("t")).alias("a"),
        F.date_trunc("hour", F.max("t")).alias("b"),
    )
    probes = span.select(
        F.explode(
            F.sequence(F.col("a"), F.col("b"), F.expr("INTERVAL 1 HOUR"))
        ).alias("t"),
        F.lit(0).alias("d"),
        F.lit(-1).alias("event_id"),
    )
    w = Window.orderBy("t", "d", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = deltas.unionByName(probes).select(
        "t", F.sum("d").over(w).alias("live")
    )
    return (
        swept.groupBy(F.date_trunc("hour", "t").alias("h"))
        .agg(F.max("live").alias("peak_concurrency"))
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("peak_concurrency").cast("int").alias("peak_concurrency"),
        )
    )


def funnel_sequence(events: DataFrame, within: str = "1 hour") -> DataFrame:
    """Ordered 3-step funnel with step deadlines: users who viewed, then
    clicked within ``within`` of their FIRST view, then purchased within
    ``within`` of that first qualifying click — the sequence-mining
    shape behind conversion analysis (order matters, windows matter;
    a naive 3-way event join explodes on power users).

    Each step is one filtered aggregation joined on user_id: step k's
    anchor is min(ts of step-k events inside step k−1's window) — no
    per-user event×event join ever forms, so per-user cost is linear in
    that user's events and the joins are all user-keyed equi-joins.
    Output: one row (n_viewed, n_clicked, n_purchased), monotonically
    non-increasing by construction.
    """
    iv = F.expr(f"INTERVAL {within}")
    v = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        events.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where((F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + iv))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where((F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t2") + iv))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased")))
    )


def markov_transitions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """First-order Markov model of user behavior: P(next event type |
    current event type), transitions counted only WITHIN a session
    (30-minute inactivity gap) — the navigation-pattern summary behind
    "what do users do after an error?".

    Sessionization and the next-event lookup are both windows over the
    SAME (user_id, ts, event_id) order, so the whole derivation rides
    one hash exchange; the transition count partial-aggregates into a
    |types|² relation and the row-probability normalization is a window
    over that vocabulary-sized table. Probabilities round to 6 (integer
    count ratios — a single division, but sums of counts reach the
    window in engine order).
    """
    gap_s = gap_minutes * 60
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(sec).over(w)
    opens = (prev.isNull() | (sec - prev > F.lit(gap_s))).cast("int")
    flagged = events.select(
        "user_id", "ts", "event_id", "event_type", opens.alias("opens")
    )
    sid = F.sum("opens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = flagged.withColumn("sid", sid)
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    pairs = seq.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(ws).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    counts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    wn = Window.partitionBy("cur")
    return counts.select(
        "cur",
        "nxt",
        "c",
        F.round(F.col("c").cast("double") / F.sum("c").over(wn), 6).alias("p"),
    )


def keyset_page(
    orders: DataFrame, page_size: int = 20, page: int = 3
) -> DataFrame:
    """Keyset (seek-method) pagination: page ``page`` of orders in
    (o_orderdate DESC, o_orderkey ASC) order, fetched by FILTERING past
    the previous page's boundary tuple instead of OFFSET-scanning — the
    only pagination that stays O(page) at 100 TB (OFFSET n re-sorts and
    discards n rows on every request; a keyset filter is predicate-
    pushdown-friendly and TakeOrdered-sized).

    The boundary (last tuple of the previous page) is derived without a
    driver collect: min-struct over the first ``(page−1)·page_size``
    rows in sort order (struct minimum under (−date, key) ordering IS
    the boundary), broadcast into the tuple-comparison filter. The
    oracle answers with plain OFFSET/LIMIT over the identical total
    order — keyset and offset must agree row-for-row, which is exactly
    the property that makes the seek method safe to deploy.
    """
    skip = (page - 1) * page_size
    # struct ordering is lexicographic; (-date_ordinal, key) ascending ==
    # (date DESC, key ASC), so max(struct) over the first `skip` rows in
    # page order yields the boundary tuple
    ordered = orders.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    neg_ts = -F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    head = ordered.limit(skip).select(
        F.struct(neg_ts.alias("nd"), F.col("o_orderkey").alias("k")).alias("t")
    )
    bound = head.agg(F.max("t").alias("b"))
    after_boundary = (
        F.struct(neg_ts.alias("nd"), F.col("o_orderkey").alias("k"))
        > F.col("b")
    )
    return (
        orders.crossJoin(F.broadcast(bound))
        # page 1 (or an empty table) has no boundary: NULL disables the
        # seek filter rather than dropping every row
        .where(F.col("b").isNull() | after_boundary)
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(page_size)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


def abandoned_views(events: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Temporal anti-join: per user, how many views got NO click within
    ``window`` — the negative space of click attribution (funnel
    leakage, creative fatigue). Anti-joins with a range condition are
    the shape optimizers mishandle into nested loops; here the match
    check is a user-keyed left join + per-view any-match aggregation,
    so the only shuffle is the equi-key exchange and the range predicate
    evaluates as a join residual.

    Output per user: n_views, n_abandoned, abandonment_rate (integer
    ratio rounded to 6).
    """
    iv = F.expr(f"INTERVAL {window}")
    views = events.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    j = views.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + iv),
        "left",
    )
    per_view = j.groupBy("user_id", "view_id").agg(
        F.max(F.col("c_ts").isNotNull()).alias("converted")
    )
    return per_view.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum(F.when(~F.col("converted"), 1).otherwise(0)).alias("n_abandoned"),
        F.round(
            F.sum(F.when(~F.col("converted"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("abandonment_rate"),
    )


def dwell_time_stats(events: DataFrame) -> DataFrame:
    """Time-to-next-event distribution per event type: median and p90 of
    the gap (seconds) from each event to the SAME USER's next event —
    the engagement signal behind session-timeout tuning (what gap is
    "normal" after a click vs after an error?).

    Gaps derive from one lead() over the user exchange (integer epoch
    seconds, no FP); the percentile layer reuses
    :func:`exact_percentiles_by_group` — the bounded-state histogram
    formulation, so no per-group raw-value map ever materializes.
    """
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "event_type",
        (F.lead(sec).over(w) - sec).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    out = exact_percentiles_by_group(
        gaps, "event_type", "gap_s", [0.5, 0.9]
    )
    return out.select(
        "event_type",
        F.round("p0", 6).alias("median_gap_s"),
        F.round("p1", 6).alias("p90_gap_s"),
    )


def cohort_matrix(events: DataFrame) -> DataFrame:
    """Full cohort-retention GRID: users bucketed by first-activity week
    (cohort), counted in every later week they return — the
    (cohort_week, age_weeks) heatmap behind every retention dashboard,
    generalizing the single-horizon cohort_retention rollup.

    Shape: first-week per user (one agg), distinct (user, week) activity
    pairs (one agg), one user-keyed join, then the grid count and a
    broadcast join back to cohort sizes for the rate — every stage
    partial-aggregates; the grid is |cohorts|·|ages| rows, tiny at any
    scale. Weeks are integer epoch-week ordinals (no date FP), rates are
    integer ratios rounded to 6.
    """
    week = (
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp"))
            / F.lit(604_800_000_000)
        )
    ).alias("wk")
    uw = events.select("user_id", week).distinct()
    first = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = uw.join(first, "user_id").select(
        "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_weeks")
    )
    grid = joined.groupBy("cohort_wk", "age_weeks").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    sizes = first.groupBy("cohort_wk").agg(F.count(F.lit(1)).alias("cohort_size"))
    return grid.join(F.broadcast(sizes), "cohort_wk").select(
        "cohort_wk",
        "age_weeks",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active") / F.col("cohort_size").cast("double"), 6
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# TPC-H completion set — the six query shapes (Q2, Q9, Q11, Q12, Q16, Q20)
# that round out the full 22-query suite. The testdata schema has no
# partsupp table, commit/receipt dates, ship modes, or comment columns, so
# each query keeps its canonical PLAN SHAPE (the part TPC-H exercises) with
# the part-supplier relationship derived from lineitem and the filter
# predicates adapted to existing columns. Reference provenance: the engine
# surface is the word-count job (reference src/wordcount/WordCount.java);
# these queries extend the relational family per SURVEY.md §2.3.
# ---------------------------------------------------------------------------


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_region: str = "EUROPE",
    part_type: str = "LARGE",
    part_size: int = 15,
    topn: int = 100,
) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier offering the
    minimum cost within a region — the correlated-MIN subquery pattern,
    decorrelated into a per-part MIN aggregate joined back on equality.

    Adaptation (no partsupp): supplier cost for a part = exact DECIMAL
    SUM(l_extendedprice) per (partkey, suppkey) over that supplier's
    shipments of the part. Exact decimal makes ``cost = min(cost)``
    well-defined cross-engine (float sums would tie-break on ulps).

    Scale shape: part (filtered: broadcast) prunes lineitem FIRST, the
    region-restricted supplier dim is a second broadcast, the per-pair agg
    shuffles only qualifying rows, and the per-part MIN is a partial-agg
    over the pair agg's output (tiny). Output bounded by TakeOrdered.
    """
    regional_supp = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.where(F.col("r_name") == target_region)
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    qual_parts = part.where(
        (F.col("p_type") == part_type) & (F.col("p_size") <= part_size)
    ).select("p_partkey", "p_type", "p_size")
    pair_cost = (
        lineitem.join(
            F.broadcast(qual_parts.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(regional_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_extendedprice")).alias("supply_cost"))
    )
    min_cost = pair_cost.groupBy(
        F.col("l_partkey").alias("m_partkey")
    ).agg(F.min("supply_cost").alias("min_cost"))
    return (
        pair_cost.join(
            min_cost,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("supply_cost") == F.col("min_cost")),
        )
        .join(
            F.broadcast(regional_supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(
            F.broadcast(qual_parts), F.col("l_partkey") == F.col("p_partkey")
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("p_partkey").alias("p_partkey"),
            "p_type",
            F.col("supply_cost").cast("double").alias("supply_cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"),
            F.asc("p_partkey"),
        )
        .limit(topn)
    )


def q9_product_type_profit(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    name_fragment: str = "cold",
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    whose name contains a fragment — the 5-way join with a LIKE filter on
    the part dim and a two-column rollup.

    Adaptation (no ps_supplycost): unit cost = p_retailprice, so
    profit = l_extendedprice·(1−l_discount) − p_retailprice·l_quantity,
    computed in exact DECIMAL and cast to double only at output.

    Scale shape: the LIKE-filtered part dim broadcasts (with its retail
    price riding along), supplier→nation collapses to a broadcast
    (suppkey, nation) map, and the only big-big join is lineitem ⋈ orders
    on orderkey; the (nation, year) agg is partial-everywhere.
    """
    amount = (
        _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
        - _dec("p_retailprice") * _dec("l_quantity")
    )
    return (
        lineitem.join(
            F.broadcast(
                part.where(F.col("p_name").contains(name_fragment)).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "n_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


def q11_important_stock(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    target_nation: str = "NATION_7",
    fraction: float = 0.001,
) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value within one nation
    exceeds a fraction of that nation's total — GROUP BY + HAVING against
    a scalar subquery over the SAME aggregate input.

    Adaptation (no partsupp): per-part value = exact DECIMAL
    SUM(l_extendedprice · l_quantity) over lines shipped by the nation's
    suppliers.

    Scale shape: the value base is computed ONCE (nation-filtered
    suppliers broadcast into lineitem, one partial-agg shuffle by
    partkey); the global total reduces that agg's output to one scalar
    that returns as a broadcast-joined threshold — the base never
    recomputes and nothing quadratic exists.
    """
    value = _dec("l_extendedprice") * _dec("l_quantity")
    nation_supp = supplier.join(
        F.broadcast(
            nation.where(F.col("n_name") == target_nation).select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    base = (
        lineitem.join(
            F.broadcast(nation_supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("part_value"))
    )
    # Threshold compare runs in double over EXACT decimal sums: both sides
    # are deterministic casts of exact totals, so the > is engine-stable.
    threshold = base.agg(
        (F.sum("part_value").cast("double") * F.lit(fraction)).alias(
            "threshold"
        )
    )
    return (
        base.join(F.broadcast(threshold))
        .where(F.col("part_value").cast("double") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("part_value").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("p_partkey"))
    )


def q12_latency_priority(
    lineitem: DataFrame,
    orders: DataFrame,
    slow_days: int = 60,
    fast_days: int = 30,
) -> DataFrame:
    """TPC-H Q12 shape: per shipping class, how many high- vs low-priority
    orders used it — the CASE-conditional twin counts over a fact ⋈ dim
    join.

    Adaptation (no l_shipmode/commit/receipt dates): the shipping class is
    derived from ship latency (shipdate − orderdate): 'FAST' < fast_days ≤
    'MEDIUM' ≤ slow_days < 'SLOW' — integer day arithmetic, no FP.

    Scale shape: one join on orderkey (the only shuffle of consequence),
    the CASE-sums fold into one partial agg over 3 groups; priority
    classification is a codegen'd string prefix test.
    """
    latency = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    ship_class = (
        F.when(latency < fast_days, F.lit("FAST"))
        .when(latency <= slow_days, F.lit("MEDIUM"))
        .otherwise(F.lit("SLOW"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(ship_class.alias("ship_class"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


def q16_supplier_count(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    excluded_brand: str = "Brand#13",
    excluded_type: str = "PROMO",
    sizes: tuple[int, ...] = (1, 5, 9, 13, 17, 21, 25, 29),
) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type, size)
    for parts NOT of an excluded brand/type, excluding a supplier
    denylist — NOT-IN compiled to a left-anti join, then COUNT(DISTINCT).

    Adaptation: the part-supplier relation comes from lineitem pairs; the
    denylist (TPC-H's complaint-comment suppliers) is suppliers with
    negative account balance.

    Scale shape: the filtered part dim broadcasts into the (partkey,
    suppkey) distinct-pair projection; the denylist anti-join is a
    broadcast (tiny set); COUNT(DISTINCT suppkey) runs as a two-phase
    expand-agg on already-distinct pairs — bounded state per group.
    """
    qual_parts = part.where(
        (F.col("p_brand") != excluded_brand)
        & (F.col("p_type") != excluded_type)
        & (F.col("p_size").isin(*sizes))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    denylist = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        lineitem.select("l_partkey", "l_suppkey")
        .distinct()
        .join(
            F.broadcast(qual_parts), F.col("l_partkey") == F.col("p_partkey")
        )
        .join(
            F.broadcast(denylist),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"),
            F.asc("p_size"),
        )
    )


def q20_excess_shippers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_prefix: str = "red",
    target_nation: str = "NATION_3",
    period_start: str = "1995-01-01",
    period_end: str = "1996-01-01",
    share: float = 0.5,
) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who shipped MORE than a
    share of a part's total period volume, for name-filtered parts — the
    nested correlated-subquery pair (IN parts + correlated scalar agg),
    decorrelated into two aggregates joined on the part key plus a final
    semi-join onto the supplier dim.

    Adaptation (no partsupp availqty): "excess" = the supplier's shipped
    quantity of the part exceeds ``share`` × total shipped quantity of
    that part across ALL suppliers in the period. Quantities sum in exact
    DECIMAL so the > comparison is engine-stable.

    Scale shape: the name-filtered part set broadcasts; per-(supp, part)
    and per-part totals both come from ONE filtered scan (the per-part
    total re-aggregates the pair agg — no second scan); the nation
    restriction is a broadcast semi at the end on the small survivor set.
    """
    filtered = lineitem.where(
        (F.col("l_shipdate") >= F.lit(period_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(period_end).cast("timestamp"))
    ).join(
        F.broadcast(
            part.where(F.col("p_name").startswith(name_prefix)).select(
                "p_partkey"
            )
        ),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    pair_qty = filtered.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).alias("supp_qty")
    )
    part_qty = pair_qty.groupBy(
        F.col("l_partkey").alias("t_partkey")
    ).agg(F.sum("supp_qty").alias("total_qty"))
    excess = (
        pair_qty.join(part_qty, F.col("l_partkey") == F.col("t_partkey"))
        .where(
            F.col("supp_qty").cast("double")
            > F.lit(share) * F.col("total_qty").cast("double")
        )
        .select("l_suppkey")
        .distinct()
    )
    nation_supp = supplier.join(
        F.broadcast(
            nation.where(F.col("n_name") == target_nation).select("n_nationkey")
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    return (
        nation_supp.join(
            excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Analytics additions (round 5, continued): experimentation stats, data-
# quality auditing, seasonality, customer segmentation, weighted robust
# stats, and period-over-period reporting. All DuckDB-oracled.
# ---------------------------------------------------------------------------


def ab_test_conversion(events: DataFrame, min_purchases: int = 14) -> DataFrame:
    """Two-proportion A/B conversion z-test: users split into variants by
    a deterministic hash of their id (here ``user_id % 2``), conversion =
    the user emitted at least ``min_purchases`` ``purchase`` events (a
    low bar degenerates on this dataset — nearly every user purchases —
    which would zero the pooled standard error; 14 sits at the median).
    Returns one row with per-variant exposure/conversion counts, rates,
    and the pooled z-score (0.0 sentinel when the pooled rate is 0 or 1:
    the test is undefined there — and NULL would compare engine-unstable
    as None-vs-NaN — while under ANSI mode an unguarded division would
    *raise*).

    Scale shape: ONE shuffle — the per-user groupBy (map-side combined
    count) — then a single-row global agg; the z arithmetic runs on
    the single scalar row. All counts are exact integers; the only
    doubles are the final deterministic divisions, so the statistic is
    engine-stable.
    """
    per_user = events.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= min_purchases
        )
        .cast("int")
        .alias("converted")
    )
    variant = (F.col("user_id") % 2).alias("variant")
    agg = per_user.select(variant, "converted").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)
        ).alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)
        ).alias("conv_b"),
    )
    rate_a = F.col("conv_a") / F.col("n_a").cast("double")
    rate_b = F.col("conv_b") / F.col("n_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.when(
            (pooled > 0) & (pooled < 1),
            F.round((rate_a - rate_b) / se, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("z_score"),
    )


def fk_integrity(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign key in
    the star schema plus a primary-key duplication check — the
    expectation-suite core of a data-quality gate before a training run.

    Scale shape: each orphan count is a left-anti join AGGREGATED TO ONE
    scalar before anything combines — the dims (customer/part/supplier)
    broadcast, lineitem⋈orders anti runs as a shuffled join AQE can plan;
    the final assembly cross-joins five 1-row frames (broadcast, trivial).
    No driver collect anywhere.
    """

    def count1(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(alias))

    li_orphan_orders = count1(
        lineitem.join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        ),
        "orphan_lineitem_orders",
    )
    li_orphan_parts = count1(
        lineitem.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_anti",
        ),
        "orphan_lineitem_parts",
    )
    li_orphan_supp = count1(
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        ),
        "orphan_lineitem_suppliers",
    )
    ord_orphan_cust = count1(
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        ),
        "orphan_orders_customers",
    )
    dup_pk = count1(
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1),
        "dup_orderkeys",
    )
    totals = lineitem.agg(
        F.count(F.lit(1)).alias("lineitem_rows")
    ).join(F.broadcast(orders.agg(F.count(F.lit(1)).alias("orders_rows"))))
    return (
        totals.join(F.broadcast(li_orphan_orders))
        .join(F.broadcast(li_orphan_parts))
        .join(F.broadcast(li_orphan_supp))
        .join(F.broadcast(ord_orphan_cust))
        .join(F.broadcast(dup_pk))
    )


def seasonal_hourly(events: DataFrame) -> DataFrame:
    """Hour-of-day seasonality profile per event type: mean value by
    (type, hour) against the type's overall mean, with the residual —
    the baseline every anomaly detector needs before flagging "unusual
    for 3 a.m." rather than "unusual overall".

    Scale shape: one partial-agg shuffle to the |types|·24-row grid;
    the per-type overall mean is a WINDOW over that tiny grid (sibling
    aggregate, no second scan). Sums run in exact DECIMAL so the
    double divisions at the end are engine-stable; means are defined as
    sum(value)/count(*) (null values count in the denominator).
    """
    hourly = events.groupBy(
        "event_type", F.hour("ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    )
    wt = Window.partitionBy("event_type")
    hourly_avg = F.col("s").cast("double") / F.col("n_events").cast("double")
    type_avg = F.sum("s").over(wt).cast("double") / F.sum("n_events").over(
        wt
    ).cast("double")
    return hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.round(hourly_avg, 6).alias("hourly_avg"),
        F.round(type_avg, 6).alias("type_avg"),
        F.round(hourly_avg - type_avg, 6).alias("residual"),
    )


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation: per-customer Recency/Frequency/Monetary
    metrics scored into exact quintiles, reported as segment sizes.

    Quintile assignment deliberately avoids ``ntile`` over a global ORDER
    BY (a single-task window — the anti-pattern
    :func:`global_row_number` exists to avoid): boundaries come from
    :func:`exact_percentiles_by_group` (bounded state, parallel,
    bit-identical to percentile_cont) and each score is a codegen'd sum
    of boundary comparisons, so the whole query is three tiny aggregates
    broadcast onto one per-customer frame. Metrics are exact (integer
    day/count, DECIMAL money) before the final double comparisons.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(_dec("o_totalprice")).cast("double").alias("monetary"),
    )
    maxd = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("global_last")
    )
    m = per_cust.join(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff(F.col("global_last"), F.col("last_order"))
        .cast("double")
        .alias("rec_days"),
        F.col("freq").cast("double").alias("freq"),
        "monetary",
    )
    pcts = [0.2, 0.4, 0.6, 0.8]
    lit_g = F.lit(1).alias("g")

    def bounds(col: str, prefix: str) -> DataFrame:
        b = exact_percentiles_by_group(
            m.select(lit_g, col), "g", col, pcts
        ).drop("g")
        return b.select(
            *[F.col(f"p{i}").alias(f"{prefix}{i}") for i in range(len(pcts))]
        )

    def score(col: str, prefix: str):
        return (
            F.lit(1)
            + sum(
                (F.col(col) > F.col(f"{prefix}{i}")).cast("int")
                for i in range(len(pcts))
            )
        )

    scored = (
        m.join(F.broadcast(bounds("rec_days", "r")))
        .join(F.broadcast(bounds("freq", "f")))
        .join(F.broadcast(bounds("monetary", "m")))
        .select(
            score("rec_days", "r").alias("r_score"),
            score("freq", "f").alias("f_score"),
            score("monetary", "m").alias("m_score"),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def weighted_median_price(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Quantity-weighted median of extended price per brand: the first
    price (in price order) whose running weight reaches half the brand's
    total weight — the lower weighted median, exact.

    Scale shape: one broadcast of the part dim, then ONE window pass per
    brand partition ordered by (price, orderkey, linenumber) — a total
    order, so the running DECIMAL weight is deterministic; the pick is a
    conditional MIN in the same shuffle's aggregate. Weights accumulate
    in exact DECIMAL — the 2·cum ≥ total comparison never tie-breaks on
    float dust.
    """
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "p_brand",
        F.col("l_extendedprice").alias("price"),
        _dec("l_quantity").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("price", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("p_brand")
    c = j.select(
        "p_brand",
        "price",
        F.sum("qty").over(w).alias("cumw"),
        F.sum("qty").over(wt).alias("total"),
    )
    return (
        c.where(F.lit(2) * F.col("cumw") >= F.col("total"))
        .groupBy("p_brand")
        .agg(F.min("price").alias("weighted_median_price"))
    )


def revenue_mom(orders: DataFrame) -> DataFrame:
    """Month-over-month revenue: monthly totals in exact DECIMAL with the
    previous month and percent change via one lag window — the
    period-over-period report every dashboard starts from.

    Scale shape: the only full-data work is the monthly partial-agg
    shuffle; the lag window runs over the |months| aggregated rows
    (dozens, not data-scaled), so the unpartitioned ORDER BY is safe by
    construction. First month reports NULL change, not 0 — absence, not
    zero growth.
    """
    monthly = orders.groupBy(
        F.date_format(
            F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM"
        ).alias("month")
    ).agg(F.sum(_dec("o_totalprice")).alias("rev"))
    w = Window.orderBy("month")
    prev = F.lag(F.col("rev")).over(w)
    return monthly.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        F.round(
            (F.col("rev") - prev).cast("double") / prev.cast("double"), 6
        ).alias("mom_pct"),
    )


def market_basket_pairs(
    lineitem: DataFrame,
    part: DataFrame,
    min_support: int = 2,
    topn: int = 50,
) -> DataFrame:
    """Frequent co-purchased part pairs (market-basket mining, the
    pairwise a-priori step): for every order, each unordered pair of
    distinct parts on it; pairs are counted and filtered to a support
    threshold, top-N by support.

    Scale shape: the pair generation is a SELF-JOIN ON THE ORDER KEY with
    ``p1 < p2`` — quadratic only in lines-per-order (baskets are small
    and bounded by the schema, ~7 max in TPC-H; a pathological basket
    would be capped upstream), never in table size. Distinct parts per
    order first (dedups re-ordered same-part lines), one shuffle on the
    order key for the join, one partial-agg shuffle on the pair. Brand
    names ride a broadcast at the end, after the heavy counting.
    """
    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = op.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("k") == F.col("k2")) & (F.col("part_a") < F.col("part_b")),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    pa = part.select(
        F.col("p_partkey").alias("pa_key"), F.col("p_name").alias("name_a")
    )
    pb = part.select(
        F.col("p_partkey").alias("pb_key"), F.col("p_name").alias("name_b")
    )
    return (
        pairs.join(F.broadcast(pa), F.col("part_a") == F.col("pa_key"))
        .join(F.broadcast(pb), F.col("part_b") == F.col("pb_key"))
        .select("part_a", "part_b", "name_a", "name_b", "support")
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(topn)
    )


def interpurchase_intervals(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Inter-purchase interval profile per market segment: days between a
    customer's consecutive orders (lag window over (customer, date)),
    aggregated to per-segment count/mean/min/max — the repeat-behavior
    metric behind churn models.

    Scale shape: ONE shuffle partitions by customer for the lag window
    (per-customer order counts are small); gaps are exact integer days,
    the mean divides an exact integer sum — engine-stable. Customers
    with a single order contribute no gap (lag is NULL, filtered), and
    the segment dim rides a broadcast.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    d = F.col("o_orderdate").cast("date")
    gaps = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.datediff(d, F.lag(d).over(w)).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(
            F.broadcast(
                customer.select(
                    F.col("c_custkey").alias("ck"), "c_mktsegment"
                )
            ),
            F.col("o_custkey") == F.col("ck"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum("gap_days").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_gap_days"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
    )


def sequence_match_users(
    events: DataFrame, pattern: str = "e{3,}"
) -> DataFrame:
    """Ordered-sequence pattern match per user (the ClickHouse
    ``sequenceMatch`` shape): each user's event-type stream collapses to
    a compact symbol string in time order, and a regex decides whether
    the behavioral pattern occurred — default: a run of three or more
    consecutive errors (the rage-click/broken-flow signature; ordered
    funnels like ``s.*c.*p`` are the same machinery). Returns
    matched/unmatched user counts.

    Scale shape: ONE shuffle (groupBy user); the time-ordering is an
    in-expression ``array_sort`` over (ts, event_id, symbol) structs —
    per-user state is the user's OWN event count, the same bound any
    sessionizer carries, never a global sort. The regex runs once per
    user on a short string (codegen'd), not per event. Ties on ts break
    by event_id, so the symbol string is a total-order fact; event
    types map to their (distinct) initials.
    """
    sym = F.struct(
        F.col("ts"),
        F.col("event_id"),
        F.substring(F.col("event_type"), 1, 1).alias("ch"),
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(sym)), lambda x: x.getField("ch")
        ),
        "",
    )
    per_user = events.groupBy("user_id").agg(
        seq.rlike(pattern).alias("matched")
    )
    return per_user.groupBy("matched").agg(
        F.count(F.lit(1)).alias("n_users")
    )


def psi_drift(
    orders: DataFrame,
    split_date: str = "1998-01-01",
    n_bins: int = 10,
) -> DataFrame:
    """Population-stability-index drift report: bucket the reference
    period's order totals into exact deciles, score the comparison
    period against those FROZEN boundaries, and report per-bucket
    proportions with PSI contributions — the standard
    training-vs-serving drift gate for a feature column.

    Scale shape: boundaries via :func:`exact_percentiles_by_group`
    (bounded-state histogram, parallel) on the reference slice only;
    both periods then bucket in one scan each (codegen'd boundary
    comparisons against the broadcast 1-row bounds) and aggregate to
    ``n_bins`` rows. Proportions are Laplace-smoothed ((c+0.5)/(n+n_bins/2))
    so an empty comparison bucket contributes a finite term instead of
    ln(0); results round to 6 (ln's last ulp is libm-vs-JVM dependent,
    the same reason the HLL estimates round).
    """
    ref = orders.where(F.col("o_orderdate") < F.lit(split_date).cast("timestamp"))
    cmp_ = orders.where(
        F.col("o_orderdate") >= F.lit(split_date).cast("timestamp")
    )
    pcts = [i / n_bins for i in range(1, n_bins)]
    bounds = exact_percentiles_by_group(
        ref.select(F.lit(1).alias("g"), "o_totalprice"),
        "g",
        "o_totalprice",
        pcts,
    ).drop("g")
    v = F.col("o_totalprice").cast("double")
    bucket = sum((v > F.col(f"p{i}")).cast("int") for i in range(len(pcts)))

    def bucketed(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.select("o_totalprice")
            .join(F.broadcast(bounds))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias(alias))
        )

    a = bucketed(ref, "n_ref")
    b = bucketed(cmp_, "n_cmp")
    joined = a.join(b, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        F.coalesce("n_cmp", F.lit(0)).alias("n_cmp"),
    )
    wt = Window.partitionBy()
    p_ref = (F.col("n_ref") + 0.5) / (
        F.sum("n_ref").over(wt) + F.lit(n_bins * 0.5)
    )
    p_cmp = (F.col("n_cmp") + 0.5) / (
        F.sum("n_cmp").over(wt) + F.lit(n_bins * 0.5)
    )
    return joined.select(
        "bucket",
        "n_ref",
        "n_cmp",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cmp, 6).alias("p_cmp"),
        F.round((p_cmp - p_ref) * F.log(p_cmp / p_ref), 6).alias("psi_term"),
    )


def multi_touch_attribution(
    events: DataFrame, window_days: int = 7
) -> DataFrame:
    """Linear multi-touch revenue attribution: each purchase's value is
    split equally across the user's clicks in the preceding
    ``window_days``, and attributed revenue rolls up by click date —
    the marketing-analytics join every event warehouse runs nightly.

    Scale shape: ONE user-keyed join (both sides pre-filtered to their
    event type, the time bound is a join residual), touch counts per
    purchase via a window over the joined pairs partitioned by purchase
    id (per-purchase fanout = that user's clicks in the window —
    bounded by user activity, never corpus size). Determinism: the
    per-touch share rounds to 6 digits and sums as EXACT DECIMAL —
    summing raw double shares would be partition-order-dependent in the
    last ulp. Purchases with no preceding click are unattributed and
    excluded by the inner join (a 'direct' bucket would be a union of
    the anti side).
    """
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    pairs = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {window_days} DAYS")
        ),
    )
    w = Window.partitionBy("p_id")
    share = F.round(
        F.col("p_value") / F.count(F.lit(1)).over(w).cast("double"), 6
    ).cast("decimal(18,6)")
    return (
        pairs.select(
            F.date_format(F.col("c_ts"), "yyyy-MM-dd").alias("click_date"),
            share.alias("share"),
        )
        .groupBy("click_date")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("share").cast("double").alias("attributed_revenue"),
        )
    )


def benford_digits(orders: DataFrame) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed
    leading-digit shares vs the log10(1+1/d) expectation, with the
    chi-square statistic — the classic fabricated-numbers screen for a
    financial column.

    Determinism: the leading digit comes from the INTEGER part's string
    (floor → bigint → string → first char) — extracting it via
    log10/power hits float boundary dust at exact powers of ten, and
    formatting a raw double differs across engines. One partial-agg
    shuffle to 9 rows; shares and the chi-square term are deterministic
    double divisions of exact counts, rounded to 6.
    """
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    )
    counts = orders.where(F.col("o_totalprice") >= 1).groupBy(
        digit.alias("digit")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy()
    # staged selects: the chi sum windows over an expression that itself
    # contains the total window — nested window functions are illegal in
    # one projection, so total/obs/exp materialize as columns first
    staged = counts.select(
        "digit",
        "n",
        F.sum("n").over(wt).cast("double").alias("total"),
    ).select(
        "digit",
        "n",
        "total",
        (F.col("n") / F.col("total")).alias("obs"),
        F.log10(
            F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
        ).alias("expd"),
    )
    # each chi term rounds to 8 digits and sums as exact DECIMAL: a raw
    # double sum over the (unordered) window would be addition-order-
    # dependent in the last ulp across engines
    chi_term8 = F.round(
        (F.col("obs") - F.col("expd"))
        * (F.col("obs") - F.col("expd"))
        / F.col("expd")
        * F.col("total"),
        8,
    ).cast("decimal(18,8)")
    return staged.select(
        "digit",
        "n",
        F.round(F.col("obs"), 6).alias("obs_share"),
        F.round(F.col("expd"), 6).alias("exp_share"),
        F.round(F.sum(chi_term8).over(wt).cast("double"), 6).alias(
            "chi_square"
        ),
    )


def cusum_changepoint(events: DataFrame) -> DataFrame:
    """CUSUM change-point scan over the daily event-value series: S_t =
    Σ_{i≤t} (x_i − x̄) with the day of maximum |S| flagged — the classic
    "where did the level shift" detector for a monitored metric.

    Determinism discipline: daily totals sum in exact DECIMAL; the
    per-day deviation rounds to 8 digits and the cumulative sum runs
    over DECIMAL — window aggregation order is engine-internal (Spark
    folds sequentially, DuckDB uses segment trees), so a raw double
    prefix sum would drift in the last ulp; exact decimal is
    order-independent by construction. The window itself is over the
    day-ordered AGGREGATED series (calendar-bounded, not data-sized).
    The argmax flag compares |S| against the series max (identical
    decimals), tie-broken to every attaining day.
    """
    daily = events.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    )
    wt = Window.partitionBy()
    wo = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = daily.select(
        "day",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("x"),
        (
            F.sum("s").over(wt).cast("double")
            / F.sum("n").over(wt).cast("double")
        ).alias("xbar"),
    ).select(
        "day",
        "n",
        F.round(F.col("x"), 6).alias("daily_mean"),
        F.sum(
            F.round(F.col("x") - F.col("xbar"), 8).cast("decimal(18,8)")
        ).over(wo).alias("s_raw"),
    )
    flagged = staged.select(
        "day",
        "n",
        "daily_mean",
        F.round(F.col("s_raw").cast("double"), 6).alias("cusum"),
        (
            F.abs(F.col("s_raw"))
            == F.max(F.abs(F.col("s_raw"))).over(Window.partitionBy())
        ).alias("is_changepoint"),
    )
    return flagged


def rolling_correlation(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Rolling Pearson correlation between two daily metrics (click count
    vs purchase value) over a trailing window — the co-movement monitor
    between a leading and a lagging business metric.

    Scale shape: one partial-agg shuffle to the daily grid, then every
    rolling sum is a window over the day-ordered AGGREGATED series
    (calendar-bounded). Every windowed sum runs over EXACT types —
    integer click counts and DECIMAL purchase values/products — because
    window aggregation order is engine-internal (Spark folds
    sequentially, DuckDB segment-trees); only the final correlation
    arithmetic is double, on identical exact inputs. Rows with an
    incomplete window or zero variance report NULL, not a fabricated 0.
    """
    daily = events.groupBy(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-(window_days - 1), 0)
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("x").over(w).cast("double")
    sy = F.sum("y").over(w).cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).over(w).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).over(w).cast("double")
    sxy = F.sum(F.col("y") * F.col("x")).over(w).cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    corr = F.when(
        (n == window_days) & (varx > 0) & (vary > 0),
        cov / F.sqrt(varx * vary),
    )
    return daily.select(
        "day",
        F.col("x").alias("clicks"),
        F.col("y").cast("double").alias("purchase_value"),
        F.round(corr, 6).alias("rolling_corr"),
    )


def fuzzy_blocking_pairs(part: DataFrame, max_dist: int = 3) -> DataFrame:
    """Entity-resolution blocking join over part names: candidate pairs
    meet only inside a cheap blocking key (the name's first token), pass
    a length-band prefilter, and only then pay Levenshtein — the
    standard record-linkage shape that never goes all-pairs.

    Scale shape: DISTINCT names first (the entity universe, far smaller
    than the row count), an equi-join on the block key (shuffled, AQE
    salts a hot block), the |len diff| ≤ d band as a cheap residual
    BEFORE the O(len²) edit distance, and ``a < b`` halves the pair
    space. Edit distance is an exact integer — engine-stable with no
    float discipline needed. At 100× the blocking key is the knob:
    a first-token block grows with vocabulary, not corpus rows.
    """
    names = part.select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    block = lambda c: F.split(F.col(c), " ").getItem(0)  # noqa: E731
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            b,
            (block("name_a") == block("name_b"))
            & (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b"))
                <= F.lit(max_dist)
            ),
        )
        .where(dist <= max_dist)
        .select("name_a", "name_b", dist.alias("edit_dist"))
    )


def clv_cohort(orders: DataFrame) -> DataFrame:
    """Customer-lifetime-value cohort curves: customers cohorted by
    first-order month, revenue accumulated over cohort age in months,
    normalized per cohort member — the LTV curve a growth dashboard
    plots per acquisition cohort.

    Scale shape: one shuffle keys the first-order aggregate by customer,
    one joins it back (both on custkey), the grid aggregate reduces to
    |cohorts|·|ages| rows, and the cumulative sum is a window over that
    tiny grid ORDERED BY AGE — running in exact DECIMAL (window fold
    order is engine-internal; decimal is order-independent). Month
    ordinals are integers (year·12+month), so cohort age is exact
    integer arithmetic, no date-float dust.
    """
    mo = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mo")
    per_order = orders.select(
        "o_custkey", mo, _dec("o_totalprice").alias("rev")
    )
    first = per_order.groupBy("o_custkey").agg(F.min("mo").alias("cohort_mo"))
    sizes = first.groupBy("cohort_mo").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    grid = (
        per_order.join(first, "o_custkey")
        .groupBy(
            "cohort_mo", (F.col("mo") - F.col("cohort_mo")).alias("age_months")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("rev").alias("rev"))
    )
    w = Window.partitionBy("cohort_mo").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(F.broadcast(sizes), "cohort_mo")
        .select(
            "cohort_mo",
            "age_months",
            "n_orders",
            "cohort_size",
            F.sum("rev").over(w).cast("double").alias("cum_revenue"),
            F.round(
                F.sum("rev").over(w).cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("clv"),
        )
    )


def entity_resolution(part: DataFrame, max_dist: int = 3) -> DataFrame:
    """End-to-end entity resolution over part names: fuzzy candidate
    pairs (:func:`fuzzy_blocking_pairs`) become edges of a match graph,
    connected components merge transitively-linked variants into one
    entity, and each entity elects a canonical representative — the
    full record-linkage pipeline (blocking → matching → clustering →
    canonicalization), not just the pair list.

    Node ids are MIN(p_partkey) per distinct name (stable integers, so
    the O(log n) star-contraction CC applies unchanged); entity_id is
    the component's minimum node id and the canonical name is that
    node's name — deterministic, no scoring heuristic to disagree on.
    Names with no fuzzy match form singleton entities via the left-join
    coalesce, so the output covers the entire name universe.

    Scale: pairs never go all-pairs (first-token blocking + length
    band), CC is O(log n) rounds over an edge list that only shrinks,
    and the canonical/size joins key on entity_id — the entity universe,
    not the row count.
    """
    from .dedup import connected_components_star

    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("nid"))
    pairs = fuzzy_blocking_pairs(part, max_dist=max_dist)
    na = names.select(
        F.col("p_name").alias("name_a"), F.col("nid").alias("doc_a")
    )
    nb = names.select(
        F.col("p_name").alias("name_b"), F.col("nid").alias("doc_b")
    )
    edges = pairs.join(na, "name_a").join(nb, "name_b").select(
        "doc_a", "doc_b"
    )
    cc = connected_components_star(edges)
    labeled = names.join(cc, names["nid"] == cc["doc_id"], "left").select(
        "p_name", "nid", F.coalesce("cluster_id", "nid").alias("entity_id")
    )
    canon = labeled.where(F.col("nid") == F.col("entity_id")).select(
        "entity_id", F.col("p_name").alias("canonical_name")
    )
    sizes = labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        labeled.join(canon, "entity_id")
        .join(sizes, "entity_id")
        .select("entity_id", "p_name", "canonical_name", "n_members")
    )


def _life_table_grid(orders: DataFrame, churn_gap_days: int) -> DataFrame:
    """Shared life-table grid for the survival estimators (Kaplan–Meier
    product-limit, Nelson–Aalen cumulative hazard): one row per 30-day
    duration bucket t with d (churn events), c (censored), n_risk (at
    risk; falls by d+c per step). One per-customer shuffle; the grid is
    duration-range-sized."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    wend = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("wend")
    )
    churned = F.datediff(F.col("wend"), F.col("last_d")) > churn_gap_days
    durations = per_cust.join(F.broadcast(wend)).select(
        churned.cast("int").alias("ev"),
        F.floor(
            F.when(
                churned, F.datediff("last_d", "first_d")
            ).otherwise(F.datediff("wend", "first_d"))
            / 30
        ).alias("t"),
    )
    n_total = durations.select(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    grid = (
        durations.groupBy("t")
        .agg(
            F.sum("ev").cast("bigint").alias("d"),
            F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
        )
        .join(F.broadcast(n_total))
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return grid.select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w), F.lit(0))
        ).alias("n_risk"),
    )


def kaplan_meier_churn(
    orders: DataFrame, churn_gap_days: int = 90
) -> DataFrame:
    """Kaplan–Meier survival curve for customer retention: time from a
    customer's first order to churn (last order ≥ ``churn_gap_days``
    before the observation-window end), right-censored at the window end
    for still-active customers — the estimator behind every retention
    curve with incomplete observation.

    Grid: one row per 30-day duration bucket t with d (churn events),
    c (censored), n at risk (standard life-table form; n falls by d+c
    at each step). Survival S(t) = Π_{j≤t} (1 - d_j/n_j), computed as a
    per-step-rounded left fold over the time-ordered factor list
    (round(acc·f, 6) each step — the EWMA/BPE cross-engine-exact
    recurrence discipline: window/product aggregation order is
    engine-internal, an explicit fold is not). The grid is tiny (≤ the
    duration range in months) so the one-row collect_list + O(k²)
    prefix folds are driver-free and cheap; everything before the grid
    is one per-customer shuffle.
    """
    grid = _life_table_grid(orders, churn_gap_days)
    factor = F.round(
        F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"), 6
    )
    one_row = grid.select(
        F.struct("t", "d", "c", "n_risk", factor.alias("f")).alias("row")
    ).agg(F.sort_array(F.collect_list("row")).alias("rows"))
    survs = F.transform(
        F.sequence(F.lit(1), F.size("rows")),
        lambda i: F.aggregate(
            F.slice(F.col("rows"), F.lit(1), i),
            F.lit(1.0),
            lambda acc, x: F.round(acc * x["f"], 6),
        ),
    )
    return (
        one_row.select(
            F.explode(F.arrays_zip(F.col("rows"), survs.alias("s"))).alias(
                "z"
            )
        )
        .select(
            F.col("z.rows.t").alias("t_months"),
            F.col("z.rows.n_risk").alias("n_at_risk"),
            F.col("z.rows.d").alias("d_churned"),
            F.col("z.rows.c").alias("c_censored"),
            F.col("z.s").alias("survival"),
        )
    )


def holt_forecast(events: DataFrame) -> DataFrame:
    """Holt linear-trend exponential smoothing over daily event counts
    per type — the level+trend upgrade of ``ewma_values`` and the
    one-step-ahead forecaster under capacity planning: l_t = α·y_t +
    (1-α)(l+b), b_t = β(l_t - l) + (1-β)b, forecast = l_t + b_t.

    α = β = 1/2 makes every multiply an exact power-of-two halving, so
    with a FIXED fold order (Spark ``aggregate`` with a struct
    accumulator; DuckDB ``list_reduce`` over struct-lifted elements)
    the whole recurrence is bit-exact cross-engine — no pow(), no libm,
    no rounding anywhere. Init: l₂ = y₂, b₂ = y₂ − y₁ (classic two-point
    start); days with <2 observations emit NULL state.

    Scale: the SF-proportional work is the per-(type, day) count — one
    distributed aggregation; the fold runs over the DAY GRID, which is
    time-range-bound, not data-bound (30 days here, ~3k for a decade),
    so the O(grid²) prefix folds are constant-cost at any corpus size.
    """
    g = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vals = F.collect_list("x").over(w)
    nl = lambda acc, x: (x + (acc["l"] + acc["b"])) * F.lit(0.5)  # noqa: E731
    state = F.aggregate(
        F.slice(vals, 3, F.greatest(F.size(vals) - 2, F.lit(0))),
        F.struct(
            F.element_at(vals, 2).alias("l"),
            (F.element_at(vals, 2) - F.element_at(vals, 1)).alias("b"),
        ),
        lambda acc, x: F.struct(
            nl(acc, x).alias("l"),
            ((nl(acc, x) - acc["l"] + acc["b"]) * F.lit(0.5)).alias("b"),
        ),
    )
    guarded = F.when(F.size(vals) >= 2, state)
    return g.select(
        "event_type",
        # ISO string, not DATE: the gate's pandas canonicalizer maps
        # Spark DATE and DuckDB DATE to different dtypes
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        guarded["l"].alias("level"),
        guarded["b"].alias("trend"),
        (guarded["l"] + guarded["b"]).alias("forecast_next"),
    )


def interval_coverage(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Interval-union coverage (gaps-and-islands with real endpoints):
    each lineitem spans [o_orderdate, l_shipdate] — a supplier's open
    fulfillment window — and overlapping windows merge into islands.
    Per supplier: interval count, island count, total covered days
    (the union length no plain groupBy can produce), and the longest
    island. The classic sweep: a window over (start ASC) marks a new
    island when start exceeds the running MAX(end) of all earlier
    intervals, and a cumulative sum of the marks numbers the islands.

    Exactness: day ordinals are integers (datediff vs a fixed epoch);
    island boundaries depend only on the SET of earlier intervals
    (running max), so (start, end) sort ties cannot move them — the
    partition order is engine-internal but the output is not.
    Scale: one shuffle on l_suppkey; per-row state is one running max.
    """
    epoch = F.lit("1995-01-01").cast("date")
    iv = (
        orders.select("o_orderkey", "o_orderdate")
        .join(
            lineitem.select("l_orderkey", "l_suppkey", "l_shipdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            "l_suppkey",
            F.datediff(F.to_date("o_orderdate"), epoch).alias("s"),
            F.datediff(F.to_date("l_shipdate"), epoch).alias("e"),
        )
    )
    w_prev = (
        Window.partitionBy("l_suppkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("l_suppkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = iv.select(
        "l_suppkey",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-(10**9))),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    ).select(
        "l_suppkey", "s", "e", F.sum("new_island").over(w_cum).alias("island")
    )
    islands = marked.groupBy("l_suppkey", "island").agg(
        F.count(F.lit(1)).alias("n_iv"),
        (F.max("e") - F.min("s") + 1).alias("len_days"),
    )
    return islands.groupBy("l_suppkey").agg(
        F.sum("n_iv").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum("len_days").cast("bigint").alias("covered_days"),
        F.max("len_days").cast("bigint").alias("max_island_days"),
    )


def time_decay_scores(events: DataFrame) -> DataFrame:
    """Exponentially time-decayed engagement score per (user, type):
    Σ 0.5^age_days over the user's events, ages anchored to the
    corpus's last day — the recency-weighted counter behind feature
    stores and ranking signals ("a click today is worth two
    yesterday").

    Exact and order-independent BY CONSTRUCTION: 0.5^age is a dyadic
    rational, exactly representable in double for any realistic age
    and in DECIMAL(38,30) for ages ≤ 30 days (the corpus's whole
    span), so per-event weights cast to decimal exactly and the sum is
    associative — no fold-order discipline needed, unlike a float sum.
    For longer horizons, cap age (older events decay below any
    ranking-relevant mass) or trade scale digits for range.

    Scale: one projection computes weights in-row, one partial-agg
    shuffle on (user, type). The window-end scalar is a broadcast join.
    """
    wend = events.agg(F.max(F.to_date("ts")).alias("wend"))
    age = F.datediff(F.col("wend"), F.to_date("ts"))
    return (
        events.join(F.broadcast(wend))
        .select(
            "user_id",
            "event_type",
            F.pow(F.lit(0.5), age).cast("decimal(38,30)").alias("w"),
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            # round AFTER the cast: a 30-frac-digit decimal -> double
            # conversion is a hard rounding case where BigDecimal and
            # DuckDB legally differ in the last ulp (measured 87/750)
            F.round(F.sum("w").cast("double"), 6).alias("decay_score"),
        )
    )


def cuped_adjustment(events: DataFrame, split_day: int = 15) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. WSDM'13): variance-reduced A/B readout. Each user's
    pre-period value sum (days < split_day) is the covariate X for
    their experiment-period metric Y; the pooled θ = cov(X,Y)/var(X)
    yields Y_adj = Y − θ(X − E[X]) — same expectation, strictly lower
    variance whenever X predicts Y. Reports per variant (user_id % 2):
    n, raw and adjusted means, pooled θ, and the within-variant
    variance-reduction share.

    Exactness: per-event values round to 6 and become DECIMAL, so
    every moment sum (Σx, Σy, Σxy, Σx², Σy²) is exact and
    order-independent; the scalar θ/mean/variance arithmetic then runs
    in double over identical inputs with identical expression shapes
    on both engines, rounded to 6 at the output. Scale: one per-user
    shuffle, then variant-level moment rows; the pooled row broadcasts.
    """
    d0 = events.agg(F.min(F.to_date("ts")).alias("d0"))
    age = F.datediff(F.to_date("ts"), F.col("d0"))
    val = F.round("value", 6).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    pu = (
        events.join(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            # (14,6): per-user period sums stay far under 10^8, and the
            # x*y / x*x products then fit DECIMAL(28,12) on both engines
            # (DuckDB v1.0.0 overflows the product of two (18,6)s)
            F.sum(F.when(age < split_day, val).otherwise(zero))
            .cast("decimal(14,6)")
            .alias("x"),
            F.sum(F.when(age >= split_day, val).otherwise(zero))
            .cast("decimal(14,6)")
            .alias("y"),
        )
        .select((F.col("user_id") % 2).alias("variant"), "x", "y")
    )

    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )

    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    mp = moments(pu, []).select(
        dbl("n").alias("pn"),
        (dbl("sx") / dbl("n")).alias("pmx"),
        (
            (dbl("sxy") - dbl("sx") * dbl("sy") / dbl("n"))
            / (dbl("sxx") - dbl("sx") * dbl("sx") / dbl("n"))
        ).alias("theta"),
    )
    mv = moments(pu, ["variant"]).join(F.broadcast(mp))
    n, sx, sy = dbl("n"), dbl("sx"), dbl("sy")
    mean_y = sy / n
    mean_x = sx / n
    cov_v = (dbl("sxy") - sx * sy / n) / (n - 1)
    varx_v = (dbl("sxx") - sx * sx / n) / (n - 1)
    vary_v = (dbl("syy") - sy * sy / n) / (n - 1)
    t = F.col("theta")
    var_adj = vary_v - 2 * t * cov_v + t * t * varx_v
    return mv.select(
        "variant",
        F.col("n").alias("n_users"),
        F.round(mean_y, 6).alias("mean_y"),
        F.round(t, 6).alias("theta"),
        F.round(mean_y - t * (mean_x - F.col("pmx")), 6).alias("mean_y_adj"),
        F.round(F.lit(1.0) - var_adj / vary_v, 6).alias("var_reduction"),
    )


def topn_with_other(
    nation: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Top-N-per-group with an OTHER rollup — the reporting staple
    ("top 3 suppliers per nation, rest as one bucket") that naive
    top-k drops: the tail's mass is kept, so per-nation revenue still
    totals. Revenue is the TPC-H decimal discipline (price × (1 −
    discount) in DECIMAL, summed exactly, one final double cast);
    ranking compares exact decimals with a supplier-key tie-break.

    Scale: the only data-sized shuffle is the per-supplier revenue
    aggregate; supplier/nation are broadcast dims, the rank window
    partitions by nation (bounded groups), and the OTHER rollup is a
    second aggregation over supplier-universe rows.
    """
    rev = lineitem.groupBy("l_suppkey").agg(
        F.sum(
            _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
        ).alias("rev_d")
    )
    rk = (
        rev.join(
            F.broadcast(
                supplier.select("s_suppkey", "s_name", "s_nationkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_name").orderBy(
                    F.desc("rev_d"), F.asc("s_suppkey")
                )
            ),
        )
    )
    bucket = F.when(F.col("rk") <= n, F.col("s_name")).otherwise(
        F.lit("OTHER")
    )
    rank_pos = F.when(F.col("rk") <= n, F.col("rk")).otherwise(F.lit(0))
    return (
        rk.select(
            "n_name", bucket.alias("bucket"), rank_pos.alias("rank_pos"), "rev_d"
        )
        .groupBy("n_name", "bucket", "rank_pos")
        .agg(
            F.sum("rev_d").cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        )
    )


def gini_lorenz(orders: DataFrame) -> DataFrame:
    """Revenue-concentration analytics: the Lorenz curve by customer
    decile plus the sample Gini coefficient
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over customers ranked by revenue
    ascending — "what share of revenue do the bottom k% of customers
    produce" and its scalar summary, the standard inequality readout.

    Exactness: per-customer revenue is exact DECIMAL(18,2); the rank
    weight Σ i·xᵢ multiplies an integer into the decimal (exact), so
    both Gini inputs are exact and the one double division rounds at
    6; decile cut points come from ntile over the (revenue, custkey)
    TOTAL order, so the curve is engine-independent.

    Scale note: ranks ride one global-ordered window over the CUSTOMER
    universe (dimension-sized, not fact-sized); at 1000× customers,
    swap in the two-phase distributed ranking `global_row_number`
    already in this module — the aggregates are unchanged.
    """
    rev = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).cast(DEC).alias("rev")
    )
    w = Window.orderBy(F.asc("rev"), F.asc("o_custkey"))
    ranked = rev.select(
        "o_custkey",
        "rev",
        F.row_number().over(w).alias("i"),
        F.ntile(10).over(w).alias("decile"),
    )
    tot = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev").alias("s"),
        F.sum(F.col("i") * F.col("rev")).alias("iw"),
    )
    gini = F.round(
        F.lit(2.0) * F.col("iw").cast("double")
        / (F.col("n").cast("double") * F.col("s").cast("double"))
        - (F.col("n") + 1).cast("double") / F.col("n").cast("double"),
        6,
    )
    deciles = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev").alias("decile_rev"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deciles.withColumn("cum_rev", F.sum("decile_rev").over(wc))
        .join(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.col("decile_rev").cast("double").alias("decile_revenue"),
            F.round(
                F.col("cum_rev").cast("double") / F.col("s").cast("double"), 6
            ).alias("cum_revenue_share"),
            gini.alias("gini"),
        )
    )


def revenue_bridge(orders: DataFrame) -> DataFrame:
    """Variance decomposition ("revenue bridge"): which segments drove
    each month's change — per (month, order-priority segment) revenue,
    its delta vs the segment's prior month, and the segment's share of
    the TOTAL month-over-month delta. The upgrade of ``revenue_mom``
    (total-only) every BI review actually asks for.

    Exact decimals through the per-segment lag and the month totals;
    the one double division (share of total delta) guards the
    zero-delta month with NULLIF semantics and rounds to 6. Missing
    (month, segment) cells mean "segment absent that month": the lag
    is over the segment's own observed months — documented grain, same
    on both engines. Scale: one (month, segment) aggregate — grid-
    sized state; windows partition by segment over the month grid.
    """
    mo = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mo")
    seg = orders.groupBy(
        mo, F.col("o_orderpriority").alias("segment")
    ).agg(F.sum(_dec("o_totalprice")).cast(DEC).alias("rev"))
    w = Window.partitionBy("segment").orderBy("mo")
    seg = seg.withColumn("prev_rev", F.lag("rev").over(w)).withColumn(
        "delta", F.col("rev") - F.coalesce("prev_rev", F.col("rev"))
    )
    totals = seg.groupBy("mo").agg(
        F.sum("delta").cast(DEC).alias("total_delta")
    )
    share = F.when(
        F.col("total_delta") != 0,
        F.round(
            F.col("delta").cast("double")
            / F.col("total_delta").cast("double"),
            6,
        ),
    )
    return (
        seg.join(totals, "mo")
        .select(
            "mo",
            "segment",
            F.col("rev").cast("double").alias("revenue"),
            F.col("prev_rev").cast("double").alias("prev_revenue"),
            F.col("delta").cast("double").alias("delta"),
            F.col("total_delta").cast("double").alias("total_delta"),
            share.alias("share_of_delta"),
        )
    )


def scd2_compressed(orders: DataFrame) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: compress each
    customer's order-priority history into validity intervals
    ``[valid_from, valid_to)`` with a version number — the
    dimension-table maintenance shape every warehouse load runs.

    Change detection is lag-compare inside a per-customer window;
    version numbers are the running sum of change flags (the
    gaps-and-islands id); ``valid_to`` is the NEXT interval's start
    (NULL = current). Ties on a single date break on the order key, so
    the interval set is a pure function of the data.

    Scale: all three windows partition by customer — they share one
    exchange and no global sort exists anywhere.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    flagged = orders.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
        "o_orderpriority",
        F.when(
            F.lag("o_orderpriority").over(w).isNull()
            | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    versioned = flagged.select(
        "o_custkey",
        "d",
        "o_orderpriority",
        F.sum("chg")
        .over(
            Window.partitionBy("o_custkey")
            .orderBy("d", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("version"),
    )
    intervals = versioned.groupBy(
        "o_custkey", "version", "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("d").alias("vf"),
    )
    wn = Window.partitionBy("o_custkey").orderBy("version")
    return intervals.select(
        "o_custkey",
        "version",
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        F.date_format("vf", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(F.lead("vf").over(wn), "yyyy-MM-dd").alias("valid_to"),
    )


def _activity_snapshot(orders: DataFrame, cutoff, window_days: int = 180):
    """Per-customer (n_orders, revenue) over the trailing window ending
    at ``cutoff`` (exclusive lower bound) — the MERGE demo's snapshot
    definition. Customers quiet for the whole window drop out, which is
    what makes DELETE a live CDC op."""
    d = F.to_date("o_orderdate")
    return (
        orders.where(
            (d > F.date_sub(cutoff, window_days)) & (d <= cutoff)
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "revenue"
            ),
        )
    )


def merge_apply_changes(orders: DataFrame, lag_days: int = 90) -> DataFrame:
    """MERGE (upsert+delete) semantics as a DataFrame plan: derive the
    CDC delta between two activity snapshots 90 days apart, then apply
    it back to the older snapshot — INSERT new customers, UPDATE changed
    aggregates, DELETE customers who went quiet. The reconstruction must
    equal the newer snapshot computed directly, which is exactly what
    the oracle checks (merge-applied state == direct state).

    Scale shape: both snapshots come off one date-filtered scan each
    (partition-prunable on a date-partitioned table); the diff and the
    apply are two full-outer joins on the customer key sharing one
    shuffle partitioning. No collect — the cutoff scalars ride a
    broadcast join.
    """
    cut = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("c2")
    ).select("c2", F.date_sub("c2", lag_days).alias("c1"))
    o = orders.join(F.broadcast(cut))
    snap_a = _activity_snapshot(o, F.col("c1")).select(
        F.col("o_custkey").alias("a_key"),
        F.col("n_orders").alias("a_n"),
        F.col("revenue").alias("a_rev"),
    )
    snap_b = _activity_snapshot(o, F.col("c2")).select(
        F.col("o_custkey").alias("b_key"),
        F.col("n_orders").alias("b_n"),
        F.col("revenue").alias("b_rev"),
    )
    cdc = (
        snap_a.join(snap_b, snap_a.a_key == snap_b.b_key, "full_outer")
        .select(
            F.coalesce("a_key", "b_key").alias("key"),
            F.when(F.col("a_key").isNull(), F.lit("I"))
            .when(F.col("b_key").isNull(), F.lit("D"))
            .when(
                (F.col("a_n") != F.col("b_n"))
                | (F.col("a_rev") != F.col("b_rev")),
                F.lit("U"),
            )
            .alias("op"),
            F.col("b_n").alias("new_n"),
            F.col("b_rev").alias("new_rev"),
        )
        .where(F.col("op").isNotNull())
    )
    merged = snap_a.join(cdc, snap_a.a_key == cdc.key, "full_outer")
    return (
        merged.where(F.coalesce(F.col("op"), F.lit("-")) != "D")
        .select(
            F.coalesce("a_key", "key").alias("o_custkey"),
            F.when(F.col("op").isin("I", "U"), F.col("new_n"))
            .otherwise(F.col("a_n"))
            .alias("n_orders"),
            # exact decimal until here; final cast to double matches the
            # oracle's representation (harness compares stringified)
            F.when(F.col("op").isin("I", "U"), F.col("new_rev"))
            .otherwise(F.col("a_rev"))
            .cast("double")
            .alias("revenue"),
        )
    )


def association_rules(
    lineitem: DataFrame,
    min_support: int = 3,
    topn: int = 30,
) -> DataFrame:
    """Directed association rules A→B over order baskets with support,
    confidence, and lift — the step after :func:`market_basket_pairs`
    (which stops at pair support): confidence = supp(A∪B)/supp(A) is
    the conditional attach rate, lift = confidence/P(B) normalizes away
    B's base popularity (lift > 1 ⇒ genuinely associated).

    Every statistic is a ratio of exact integer counts (pair support,
    item support, basket count), each division rounded to 6 dp — no
    float accumulates anywhere. Both rule directions emit from one
    unordered pair count.

    Scale: identical join shape to the basket pairs (quadratic only in
    basket size); item supports are one extra partial-agg, the basket
    count is a broadcast scalar.
    """
    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    n_baskets = op.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets")
    )
    item = op.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).cast("bigint").alias("supp_item")
    )
    a = op.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa")
    )
    b = op.select(
        F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("supp_pair"))
        .where(F.col("supp_pair") >= min_support)
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "supp_pair",
    ).unionAll(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "supp_pair",
        )
    )
    enriched = (
        rules.join(
            item.selectExpr("item AS antecedent", "supp_item AS supp_ante"),
            "antecedent",
        )
        .join(
            item.selectExpr("item AS consequent", "supp_item AS supp_cons"),
            "consequent",
        )
        .join(F.broadcast(n_baskets))
    )
    conf = F.round(
        F.col("supp_pair").cast("double") / F.col("supp_ante"), 6
    )
    lift = F.round(
        (F.col("supp_pair") * F.col("n_baskets")).cast("double")
        / (F.col("supp_ante") * F.col("supp_cons")).cast("double"),
        6,
    )
    return (
        enriched.select(
            "antecedent",
            "consequent",
            "supp_pair",
            "supp_ante",
            "supp_cons",
            conf.alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(topn)
    )


def lateral_topn_per_nation(
    nation: DataFrame, customer: DataFrame, k: int = 2
) -> DataFrame:
    """Correlated LATERAL subquery: top-k customers by balance per
    nation, written as the SQL-standard lateral join (each nation row
    drives an ordered, limited subquery over customers) — the
    engine-surface feature for "top-N related rows per driving row"
    that predates window functions and that migrating SQL carries.

    Catalyst decorrelates this into a ranked join (the same physical
    shape as the row_number window formulation — no per-row re-scan
    survives optimization), so using the standard syntax costs nothing
    at scale. Deterministic: ties break on the name.
    """
    spark = nation.sparkSession
    nation.createOrReplaceTempView("hcw_lat_nation")
    customer.createOrReplaceTempView("hcw_lat_customer")
    return spark.sql(
        f"""
        SELECT n_name, c.c_name, c.c_acctbal
        FROM hcw_lat_nation,
        LATERAL (
          SELECT c_name, c_acctbal FROM hcw_lat_customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT {k}
        ) AS c
        """
    )


def running_distinct_types(events: DataFrame) -> DataFrame:
    """Running COUNT(DISTINCT) over an ordered window — the aggregation
    SQL engines refuse directly (distinct needs full-window state) —
    via the first-occurrence trick: flag each (user, type)'s first
    event with row_number()==1, then running-SUM the flags. State is
    one bit per row instead of a per-frame distinct set, which is the
    difference between O(1) and O(window) memory per row at scale.

    Both windows partition by user (one exchange); the flag window
    sub-partitions by type within it.
    """
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("nw"),
    )
    return flagged.select(
        "user_id",
        "event_id",
        "event_type",
        F.sum("nw").over(w_run).cast("bigint").alias("distinct_types_so_far"),
    )


def session_bounce_rate(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Per-user session statistics with bounce rate: sessions split on
    inactivity gaps > ``gap_minutes``; a session with a single event is
    a bounce. The engagement-quality readout next to raw event counts.

    Sessionization is the lag-then-cumsum shape (one per-user window
    exchange shared by every step); all statistics are exact integer
    counts with one final 6dp division each.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    # integer epoch-seconds gap arithmetic, the sessionize_events idiom
    # (NTZ -> timestamp -> long under the UTC-pinned session)
    sec = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(sec).over(w)
    new_sess = (prev.isNull() | (sec - prev > F.lit(gap_s))).cast("int")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = events.select(
        "user_id", "ts", "event_id", new_sess.alias("ns")
    ).select("user_id", "event_id", F.sum("ns").over(run).alias("sess_id"))
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_events_per_session"),
    )


def watermark_lateness(
    events: DataFrame, delays_sec: tuple[int, ...] = (0, 60, 300, 900)
) -> DataFrame:
    """Watermark-delay sizing audit: treating ``event_id`` as arrival
    order, an event's lateness is how far the event-time high-water mark
    had already advanced past it when it arrived. For each candidate
    delay, the rows a streaming job with that watermark would DROP —
    the measurement you run on history before committing a
    ``withWatermark`` budget (streaming/windows.py) to production.

    Lateness is exact integer epoch-seconds off one strictly-preceding
    running max. That running max is a GLOBAL arrival-order window —
    fine at audit scale on one box; at 100 TB use the two-phase
    range-partition formulation (``global_row_number``'s shape): range
    partition on event_id, per-partition running max, plus the
    broadcast per-partition prefix max.
    """
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sec = F.col("ts").cast("timestamp").cast("long")
    hw = F.max(sec).over(w)
    late = events.select(
        F.greatest(F.coalesce(hw - sec, F.lit(0)), F.lit(0)).alias(
            "late_sec"
        )
    )
    grid = late.crossJoin(
        F.broadcast(
            events.sparkSession.createDataFrame(
                [(d,) for d in delays_sec], "delay_sec int"
            )
        )
    )
    return (
        grid.groupBy("delay_sec")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("late_sec") > F.col("delay_sec"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.max("late_sec").cast("bigint").alias("max_late_sec"),
        )
        .select(
            "delay_sec",
            "n_events",
            "n_dropped",
            F.round(
                F.col("n_dropped").cast("double") / F.col("n_events"), 6
            ).alias("frac_dropped"),
            "max_late_sec",
        )
    )


def seasonal_decompose(events: DataFrame, period: int = 24) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event
    series per type: trend = centered (period+1)-point moving average,
    seasonal = per hour-of-day mean of the detrended series, residual =
    what's left — the decompose() every anomaly pipeline runs before
    alerting on raw counts (its residuals are what rolling_anomaly
    should really consume).

    Exactness: the trend is an integer window sum over the hourly
    counts divided once (deterministic double); detrended values are
    rounded to 6 dp and cast DECIMAL before the seasonal-index mean, so
    that group mean is an exact associative aggregate (a raw double
    mean over shuffled hours drifts in the last ulp); the residual
    subtraction repeats the identical double expression on both
    engines, then ``+ 0.0`` canonicalizes the zero sign (a residual
    rounding to exact zero keeps the engine-dependent sign of the tiny
    pre-round value — the ±0.0 stringified-hash class, caught by the
    engine-wide signed-zero audit). The trend column gets the same
    ``+ 0.0`` on both engines — counts keep it non-negative today, but
    the canonicalization costs nothing and removes the latent class
    outright (ADVICE r8). Rows without a full centered window carry
    NULL trend and drop out of the seasonal fit, exactly as classic
    decompose does.

    Scale: one partial-agg to the (type, hour) grid; both windows
    partition by type; the seasonal fit is a (type × period) grid join.
    """
    half = period // 2
    g = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-half, half)
    )
    with_trend = g.select(
        "event_type",
        "hr",
        "x",
        F.when(
            F.count(F.lit(1)).over(w) == period + 1,
            F.sum("x").over(w).cast("double") / (period + 1),
        ).alias("trend"),
    )
    det = with_trend.select(
        "event_type",
        "hr",
        "x",
        "trend",
        F.hour("hr").alias("hod"),
        F.round(F.col("x") - F.col("trend"), 6)
        .cast("decimal(18,6)")
        .alias("d6"),
    )
    seasonal = (
        det.where(F.col("d6").isNotNull())
        .groupBy("event_type", "hod")
        .agg(
            (
                F.round(
                    F.sum("d6").cast("double") / F.count(F.lit(1)), 6
                )
                + F.lit(0.0)
            ).alias("seasonal")
        )
    )
    return (
        det.join(seasonal, ["event_type", "hod"], "left")
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "x",
            (F.round("trend", 6) + F.lit(0.0)).alias("trend"),
            "seasonal",
            (
                F.round(
                    F.col("x") - F.col("trend") - F.col("seasonal"), 6
                )
                + F.lit(0.0)
            ).alias("residual"),
        )
    )


def clamped_running_balance(lineitem: DataFrame) -> DataFrame:
    """Running inventory balance clamped at zero per supplier: returns
    (flag 'R') add stock, shipments drain it, and the balance can never
    go negative — the non-linear running fold (inventory, wallet,
    queue-depth) that naive window SUMs get wrong.

    The trick that keeps it WINDOW-expressible (no iterative fold, no
    UDF): clamping at zero is reflection at the running minimum —

        bal_t = S_t − least(min_{k≤t} S_k, 0)

    with S the plain prefix sum of signed deltas. Two ROWS-frame window
    passes over one supplier partition, all integer arithmetic (deltas
    are integer quantities), so the oracle replays it exactly.

    Output: per-supplier summary (moves, final/peak balance, stockout
    touches — rows where a drain found the shelf empty).
    """
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    delta = F.when(
        F.col("l_returnflag") == "R", F.col("l_quantity").cast("bigint")
    ).otherwise(-F.col("l_quantity").cast("bigint"))
    keyed = lineitem.select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        delta.alias("delta"),
    ).withColumn("s", F.sum("delta").over(w))
    # second pass over the SAME partition ordering (one exchange, the
    # Window execs chain): running min of the prefix sum, then reflect
    balanced = keyed.select(
        "l_suppkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        "delta",
        (F.col("s") - F.least(F.min("s").over(w), F.lit(0))).alias("bal"),
    )
    return balanced.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moves"),
        F.expr(
            "max_by(bal, struct(l_shipdate, l_orderkey, l_linenumber))"
        )
        .cast("bigint")
        .alias("final_balance"),
        F.max("bal").cast("bigint").alias("peak_balance"),
        F.sum(F.when((F.col("bal") == 0) & (F.col("delta") < 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_stockout_drains"),
    )


def position_attribution(
    events: DataFrame, window_days: int = 7
) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution: the
    first and last click before each purchase get 40% of its value
    each, the middle clicks split the remaining 20% — the credit model
    that values discovery and closing over the grind in between
    (:func:`multi_touch_attribution` is the equal-split baseline).

    Degenerate paths follow the standard convention: a single touch
    takes 100%, two touches take 50/50. Shares are 6dp-rounded decimals
    before any sum (partition-order-proof); positions come from two
    ranks over the same per-purchase window partition.
    """
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    pairs = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {window_days} DAYS")
        ),
    )
    w = Window.partitionBy("p_id")
    fwd = F.row_number().over(w.orderBy("c_ts", "c_id"))
    bwd = F.row_number().over(w.orderBy(F.desc("c_ts"), F.desc("c_id")))
    n = F.count(F.lit(1)).over(w)
    ranked = pairs.select(
        "p_id",
        "p_value",
        "c_ts",
        fwd.alias("fwd"),
        bwd.alias("bwd"),
        n.alias("n_touch"),
    )
    frac = (
        F.when(F.col("n_touch") == 1, F.lit(1.0))
        .when(F.col("n_touch") == 2, F.lit(0.5))
        .when((F.col("fwd") == 1) | (F.col("bwd") == 1), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n_touch") - 2).cast("double"))
    )
    share = F.round(F.col("p_value") * frac, 6).cast("decimal(18,6)")
    return (
        ranked.select(
            F.date_format("c_ts", "yyyy-MM-dd").alias("click_date"),
            F.when(F.col("fwd") == 1, "first")
            .when(F.col("bwd") == 1, "last")
            .otherwise("middle")
            .alias("position"),
            share.alias("share"),
        )
        .groupBy("click_date", "position")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum("share").cast("double").alias("attributed_revenue"),
        )
    )


def overdispersion_index(events: DataFrame) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of the hourly arrival
    counts per event type: ≈1 for Poisson arrivals, >1 for bursty
    traffic (campaigns, incidents), <1 for throttled/heartbeat-like
    regularity — the one-number answer to "is this stream bursty?",
    computed before anyone fits a rate model that assumes Poisson.

    Counts are integers, so the moment sums (ΣX, ΣX²) are exact
    BIGINTs and the sample-variance closed form is the identical
    double expression on both engines; one partial-agg shuffle to the
    (type, hour) grid, one to the type row.

    Caveat: the statistic is over OBSERVED hours — an hour with zero
    events contributes no grid row, so a stream that alternates
    bursts with total silence needs the dense grid first
    (``gap_fill_locf``'s grid shape) for the zeros to count.
    """
    g = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    m = g.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    n = F.col("n_hours").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    mean = s1 / n
    var = (n * s2 - s1 * s1) / (n * (n - 1))
    return m.select(
        "event_type",
        "n_hours",
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(var, 6).alias("var_per_hour"),
        F.round(var / mean, 6).alias("fano"),
        (var / mean > 1.0).alias("is_overdispersed"),
    )


def residual_anomaly(events: DataFrame, topn: int = 10) -> DataFrame:
    """Seasonality-aware anomaly ranking: z-score the RESIDUALS of
    :func:`seasonal_decompose` (not the raw counts — a 9am spike that
    happens every 9am is not an anomaly) and return the top-N hours by
    |z| — the compose-two-operators query that closes the loop the
    decompose docstring promises.

    The residuals are already 6dp-rounded; their per-type mean/σ come
    from exact decimal moment sums, and the z expression is the
    identical double shape both engines. Top-N on (rounded |z|, type,
    hour) is a total order.
    """
    dec = seasonal_decompose(events).where(F.col("residual").isNotNull())
    r6 = F.col("residual").cast("decimal(18,6)")
    stats = (
        dec.select(
            "event_type",
            r6.alias("r"),
            (r6 * r6).cast("decimal(38,12)").alias("rr"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("r").alias("sr"),
            F.sum("rr").alias("srr"),
        )
    )
    n = F.col("n").cast("double")
    sr, srr = F.col("sr").cast("double"), F.col("srr").cast("double")
    mean = sr / n
    sd = F.sqrt((n * srr - sr * sr) / (n * (n - 1)))
    enriched = dec.join(
        F.broadcast(
            stats.select(
                "event_type", mean.alias("r_mean"), sd.alias("r_sd")
            )
        ),
        "event_type",
    ).select(
        "event_type",
        "hour_ts",
        "x",
        "residual",
        F.round(
            (F.col("residual") - F.col("r_mean")) / F.col("r_sd"), 6
        ).alias("z"),
    )
    return (
        enriched.orderBy(F.abs(F.col("z")).desc(), "event_type", "hour_ts")
        .limit(topn)
    )


def top_session_paths(
    events: DataFrame, gap_minutes: int = 30, depth: int = 3, topn: int = 20
) -> DataFrame:
    """Most common session-opening paths: the first ``depth`` event
    types of each session, joined into a path string, counted corpus-
    wide — the "how do sessions start" readout behind landing-page and
    onboarding analysis (the path-level companion to
    :func:`markov_transitions`' edge-level view).

    Sessionization is the shared lag-then-cumsum shape; the path build
    is rank ≤ depth inside the (user, session) partition + an ordered
    string_agg — every window clusters on user_id, one exchange.
    Top-N on (count desc, path) is a total order.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    sec = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(sec).over(w)
    opens = (prev.isNull() | (sec - prev > F.lit(gap_s))).cast("int")
    numbered = events.select(
        "user_id", "event_id", "ts", "event_type", opens.alias("opens")
    ).withColumn(
        "sess",
        F.sum("opens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    heads = numbered.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= depth
    )
    paths = heads.groupBy("user_id", "sess").agg(
        F.concat_ws(
            ">", F.array_sort(F.collect_list(F.struct("rn", "event_type")))
            .getField("event_type")
        ).alias("path"),
        F.count(F.lit(1)).cast("bigint").alias("path_len"),
    )
    return (
        paths.groupBy("path", "path_len")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(topn)
    )


def ks_test(orders: DataFrame) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test on ``o_totalprice`` between
    high-priority (1-URGENT/2-HIGH) and other orders — the standard
    "did this segment's distribution shift?" gate, the continuous-
    distribution companion to ``psi_drift``'s binned drift score.

    D = max_v |F1(v) − F2(v)| over the pooled value grid. Exactness: the
    comparison runs on the INTEGER lattice — at each distinct value,
    |cum1·n2 − cum2·n1| is an exact BIGINT, its max divides n1·n2 only
    in the final projection, so no float ever accumulates. The one-term
    asymptotic p-value 2·exp(−2D²·n1n2/(n1+n2)) is computed FROM THE
    6dp-ROUNDED D on both engines, keeping libm inputs identical.

    Scale shape: one value-frequency histogram (map-side combined,
    state bounded by distinct values), one cumulative window over that
    histogram, one max-agg. The same bounded-state posture as
    ``exact_percentiles_by_group`` — raw rows never reach a window.
    """
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    freq = orders.groupBy("o_totalprice").agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("c2"),
    )
    w = Window.orderBy("o_totalprice").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = freq.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    m = cum.agg(
        F.max(
            F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
        ).alias("d_num"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    d = F.round(
        F.col("d_num").cast("double")
        / (F.col("n1") * F.col("n2")).cast("double"),
        6,
    )
    return m.select(
        "n1",
        "n2",
        F.col("d_num").cast("bigint").alias("d_num"),
        d.alias("ks_d"),
        F.round(
            F.lit(2.0)
            * F.exp(
                F.lit(-2.0)
                * d
                * d
                * (F.col("n1") * F.col("n2")).cast("double")
                / (F.col("n1") + F.col("n2")).cast("double")
            ),
            6,
        ).alias("p_approx"),
    )


def mann_whitney_u(orders: DataFrame) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) on ``o_totalprice``, same
    segment split as :func:`ks_test` — the rank-based (outlier-immune)
    location test next to the moment-based t machinery in
    ``ab_test_conversion``.

    Exactness: average ranks live on the HALF-INTEGER lattice, so the
    whole computation is carried ×2 in BIGINT — for a distinct value
    with group counts (c1, c2) and cum-before ``cb``, its doubled rank
    sum contribution is c1·(2·cb + c + 1); 2·R1 and hence
    2·U1 = 2·R1 − n1(n1+1) are exact integers. The tie-corrected normal
    σ² assembles from the exact Σ(t³−t) integer; only the final
    z = (2U1 − n1n2) / (2σ) rounds. sqrt over integers < 2⁵³ is
    correctly-rounded IEEE on both engines, so z is stable at 6 dp.

    Scale: identical bounded-state shape as :func:`ks_test` — histogram,
    one window pass, one final agg.
    """
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    freq = orders.groupBy("o_totalprice").agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("c2"),
    )
    c = F.col("c1") + F.col("c2")
    w = Window.orderBy("o_totalprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = freq.select(
        "c1",
        "c2",
        c.alias("c"),
        F.coalesce(F.sum(c).over(w), F.lit(0)).alias("cb"),
    )
    m = cum.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("cb") + F.col("c") + F.lit(1))
        ).alias("r1_x2"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_sum"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    n = n1 + n2
    u1_x2 = F.col("r1_x2") - n1 * (n1 + F.lit(1))
    var = (
        (n1 * n2).cast("double")
        / F.lit(12.0)
        * (
            (n + F.lit(1)).cast("double")
            - F.col("tie_sum").cast("double")
            / (n * (n - F.lit(1))).cast("double")
        )
    )
    return m.select(
        n1.cast("bigint").alias("n1"),
        n2.cast("bigint").alias("n2"),
        u1_x2.cast("bigint").alias("u1_x2"),
        # all-tied degenerate input has sigma = 0: z is undefined -> NULL
        # (try_divide), not an ANSI divide-by-zero crash
        F.round(
            F.try_divide(
                (u1_x2 - n1 * n2).cast("double"),
                F.lit(2.0) * F.sqrt(var),
            ),
            6,
        ).alias("z"),
    )


def acf_hourly_counts(events: DataFrame, max_lag: int = 8) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at lags
    1..``max_lag`` — the seasonality detector feeding window sizing for
    ``seasonal_decompose`` / ``holt_forecast`` (a spike at lag 24 says
    "daily cycle"; geometric decay says "short memory").

    Exactness trick: with x̄ = S/n, the centered product
    (x_t−x̄)(x_{t+k}−x̄) scaled by n² is (n·x_t−S)(n·x_{t+k}−S) — an
    exact BIGINT on integer counts. r_k = Σu_t·u_{t+k} / Σu_t² divides
    two exact integers once at the end; the n² scale cancels. Missing
    hours are zero-filled from the min..max hour grid (sequence
    explode), because an ACF is only defined on a regular grid.

    Scale: the data-proportional work is one (hour)-grouped count; the
    grid self-join is lag-bounded over the time-range-bounded series
    (grid rows × max_lag pairs), the same grid-not-data cost argument
    as ``holt_forecast``.
    """
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    filled = grid.join(hourly, "h", "left").select(
        "h", F.coalesce("x", F.lit(0)).alias("x")
    )
    stats = filled.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    u = filled.crossJoin(F.broadcast(stats)).select(
        "h", (F.col("n") * F.col("x") - F.col("s")).alias("u")
    )
    wlag = Window.orderBy("h")
    lagged = u.select(
        "u",
        *[
            F.lead("u", k).over(wlag).alias(f"u{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    denom = F.sum(F.col("u") * F.col("u"))
    aggs = [
        F.sum(F.col("u") * F.col(f"u{k}")).alias(f"num{k}")
        for k in range(1, max_lag + 1)
    ]
    m = lagged.agg(denom.alias("den"), *aggs)
    rows = [
        m.select(
            F.lit(k).cast("int").alias("lag"),
            F.round(
                F.col(f"num{k}").cast("double")
                / F.col("den").cast("double"),
                6,
            ).alias("acf"),
        )
        for k in range(1, max_lag + 1)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def sprt_conversion(events: DataFrame) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the purchase-
    conversion stream — the always-valid sequential cousin of
    ``ab_test_conversion``: walk events in arrival order (event_id),
    accumulate the Bernoulli log-likelihood ratio for H1: p=0.08 vs
    H0: p=0.05, and report the FIRST boundary crossing (accept/reject
    at α=β=0.05) plus the end-of-stream state.

    Exactness: the two LLR increments ln(p1/p0) and ln(q1/q0) are
    constants rounded to 6 dp and carried as DECIMAL; the running LLR
    is then increment-decimal × integer-count — exact, order-stable.
    Boundaries ±ln(19) round the same way. The walk itself is a prefix
    sum over (purchase?, 1) flags — one window over the event stream,
    and at scale the two-phase range-partition running-sum route
    documented on ``watermark_lateness`` applies unchanged.
    """
    import math

    a_inc = round(math.log(0.08 / 0.05), 6)
    b_inc = round(math.log(0.92 / 0.95), 6)
    bound = round(math.log(19.0), 6)
    flags = events.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("succ"),
    )
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    walk = flags.select(
        "event_id",
        F.sum("succ").over(w).alias("ns"),
        F.count(F.lit(1)).over(w).alias("nt"),
    ).select(
        "event_id",
        "ns",
        "nt",
        (
            F.lit(a_inc).cast("decimal(18,6)") * F.col("ns")
            + F.lit(b_inc).cast("decimal(18,6)")
            * (F.col("nt") - F.col("ns"))
        ).alias("llr"),
    )
    crossed = walk.where(
        (F.col("llr") >= F.lit(bound).cast("decimal(18,6)"))
        | (F.col("llr") <= F.lit(-bound).cast("decimal(18,6)"))
    )
    first = crossed.agg(F.min("event_id").alias("decision_event"))
    last = walk.agg(F.max("nt").alias("n_total"))
    dec = (
        first.join(
            walk.select(
                F.col("event_id").alias("decision_event"),
                F.col("nt").alias("n_at_decision"),
                F.col("ns").alias("succ_at_decision"),
                F.col("llr").alias("llr_at_decision"),
            ),
            "decision_event",
            "left",
        )
    )
    return dec.crossJoin(last).select(
        "decision_event",
        "n_at_decision",
        "succ_at_decision",
        F.col("llr_at_decision").cast("double").alias("llr_at_decision"),
        F.when(
            F.col("llr_at_decision")
            >= F.lit(bound).cast("decimal(18,6)"),
            F.lit("accept_h1"),
        )
        .when(
            F.col("llr_at_decision")
            <= F.lit(-bound).cast("decimal(18,6)"),
            F.lit("accept_h0"),
        )
        .otherwise(F.lit("no_decision"))
        .alias("decision"),
        "n_total",
    )


def gap_fill_interp(events: DataFrame) -> DataFrame:
    """Linear-interpolation gap fill on the per-user hourly grid — the
    between-anchors upgrade of :func:`gap_fill_locf` (carry-forward
    answers "what was the state?", interpolation answers "what was the
    trend passing through?"; a feature store needs both).

    Semantics: per (user, hour) the anchor value is the latest event's
    value in that hour (max_by(value, event_id)); missing grid hours
    between two anchors get prev + (next−prev)·Δ/gap with Δ, gap in
    exact integer hours; hours before the first / after the last anchor
    stay NULL and are tagged ``edge``.

    Exactness: a naive ``round(interp, 6)`` lands on .5·10⁻⁶ ties
    whenever the hour ratio is a small fraction, and Spark
    (BigDecimal shortest-string HALF_UP) and DuckDB (float-multiply
    nearbyint) resolve those ties from DIFFERENT representations —
    measured: 32.5578125 → .557813 vs .557812. So anchors are
    quantized ONCE to DECIMAL(18,6) (the engine-agreed double→decimal
    cast used by the ewma/ohlc family), lifted to integer MICRO-UNITS,
    and the fill is the exact integer form
    round((pvµ·(gap−Δ) + nvµ·Δ) / gap) / 10⁶ — one correctly-rounded
    IEEE division each, bit-identical cross-engine by construction.

    Scale shape: identical to locf — the event stream pre-aggregates to
    (user, hour) BEFORE meeting the |users|×|hours| grid, the
    prev/next windows run per user-slice bounded by grid width, and the
    grid itself explodes from a broadcast 1-row bounds aggregate.
    """
    ts = F.col("ts").cast("timestamp")
    hourly = (
        events.select(
            "user_id", F.date_trunc("hour", ts).alias("hr"), "event_id", "value"
        )
        .groupBy("user_id", "hr")
        .agg(
            F.max_by(
                F.col("value").cast("decimal(18,6)"), "event_id"
            ).alias("v")
        )
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min(ts)).alias("lo"),
        F.date_trunc("hour", F.max(ts)).alias("hi"),
    )
    grid = (
        events.select("user_id")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("hr"),
        )
    )
    joined = grid.join(hourly, ["user_id", "hr"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # next-anchor lookup as LAST over the DESC-ordered cumulative frame,
    # not FIRST over (current, unboundedFollowing): Spark evaluates an
    # unbounded-following frame by re-aggregating the remainder for
    # EVERY row — O(rows²) per user slice (measured 4x on this query at
    # sf0.1) — while cumulative frames stream in O(rows)
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("hr"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hr_obs = F.when(F.col("v").isNotNull(), F.col("hr"))
    span = joined.select(
        "user_id",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(hr_obs, ignorenulls=True).over(wp).alias("ph"),
        F.last("v", ignorenulls=True).over(wn).alias("nv"),
        F.last(hr_obs, ignorenulls=True).over(wn).alias("nh"),
    )
    d_i = (
        (F.unix_timestamp("hr") - F.unix_timestamp("ph")) / F.lit(3600)
    ).cast("long")
    gap = (
        (F.unix_timestamp("nh") - F.unix_timestamp("ph")) / F.lit(3600)
    ).cast("long")
    pvu = (F.col("pv") * F.lit(1000000)).cast("long")
    nvu = (F.col("nv") * F.lit(1000000)).cast("long")
    num = pvu * (gap - d_i) + nvu * d_i
    interp = (
        F.round(num.cast("double") / gap.cast("double")).cast("long")
        .cast("double")
        / F.lit(1000000.0)
    )
    return span.select(
        "user_id",
        "hr",
        F.col("v").cast("double").alias("v_obs"),
        F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            interp,
        )
        .alias("v_filled"),
        F.when(F.col("v").isNotNull(), F.lit("obs"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.lit("interp"),
        )
        .otherwise(F.lit("edge"))
        .alias("fill_kind"),
    )


def holt_winters_daily(events: DataFrame, period: int = 7) -> DataFrame:
    """Additive Holt–Winters (level + trend + weekly seasonality) over
    the zero-filled daily event-count series per type — the seasonal
    completion of :func:`holt_forecast` (which models level+trend only
    and therefore lags every weekend dip ``seasonal_decompose`` showed
    to be structural).

    α = β = γ = 1/2 keeps every smoothing multiply an exact
    power-of-two halving, and the season state initializes WITHOUT the
    classic first-season mean (whose ÷7 is inexact in binary): at
    t = m the level anchors to y_m, trend to 0, and s_i = y_i − y_m —
    subtractions only. From there the recurrence

        ℓ_t = ½(y_t − s_{t−m}) + ½(ℓ_{t−1} + b_{t−1})
        b_t = ½(ℓ_t − ℓ_{t−1}) + ½ b_{t−1}
        s_t = ½(y_t − ℓ_{t−1} − b_{t−1}) + ½ s_{t−m}

    is a FIXED fold order of IEEE ops both engines execute identically
    (the holt_forecast determinism argument, extended with a 7-slot
    season ring carried in the fold accumulator), so outputs need no
    rounding at all. Days before the first full season emit NULL state.

    Scale: the data-proportional work is one (type, day) count + the
    zero-fill grid join; the per-row prefix folds run over the DAY
    GRID (time-range-bounded, ~30 here), the same grid-not-data cost
    bound as holt_forecast/acf.
    """
    m = period
    g = events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    bounds = events.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    )
    grid = (
        events.select("event_type")
        .distinct()
        .join(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("day"),
        )
    )
    filled = grid.join(g, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("x", F.lit(0.0)).alias("x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vals = F.collect_list("x").over(w)
    anchor = F.element_at(vals, m)
    init = F.struct(
        anchor.alias("l"),
        F.lit(0.0).alias("b"),
        F.transform(
            F.slice(vals, 1, m), lambda v: v - anchor
        ).alias("s"),
    )
    half = F.lit(0.5)

    def step(acc, x):
        l_new = half * (x - F.element_at(acc["s"], 1)) + half * (
            acc["l"] + acc["b"]
        )
        b_new = half * (l_new - acc["l"]) + half * acc["b"]
        s_t = half * (x - acc["l"] - acc["b"]) + half * F.element_at(
            acc["s"], 1
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(F.slice(acc["s"], 2, m - 1), F.array(s_t)).alias("s"),
        )

    state = F.aggregate(
        F.slice(vals, m + 1, F.greatest(F.size(vals) - m, F.lit(0))),
        init,
        step,
    )
    guarded = F.when(F.size(vals) >= m, state)
    staged = filled.select(
        "event_type",
        "day",
        "x",
        guarded["l"].alias("level"),
        guarded["b"].alias("trend"),
        F.element_at(guarded["s"], 1).alias("season_next"),
        (
            guarded["l"]
            + guarded["b"]
            + F.element_at(guarded["s"], 1)
        ).alias("forecast_next"),
    )
    return staged.select(
        "event_type",
        # ISO string, not DATE: the gate's pandas canonicalizer maps
        # Spark DATE and DuckDB DATE to different dtypes
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        "level",
        "trend",
        "season_next",
        "forecast_next",
    )


def permutation_test_price(orders: DataFrame, n_reps: int = 64) -> DataFrame:
    """Permutation test for the high-vs-low-priority mean price gap —
    the distribution-free significance check beside the parametric z of
    ``ab_test_conversion`` and the rank-based :func:`mann_whitney_u`:
    relabel rows under the null ``n_reps`` times and count relabelings
    whose |mean gap| reaches the observed one.

    Relabelings are the standard scalable approximation (independent
    md5-uniform labels at the observed group proportion, not exact
    n₁-sized permutations — an exact permutation needs a global shuffle
    per rep; the docs are honest about this) and fully DETERMINISTIC:
    row r's label in rep k is ``md5(orderkey # k) mod n < n1`` — exact
    integer arithmetic, reproducible across engines, layouts and runs.

    Exactness: group sums are DECIMAL over the quantized price, each
    mean gap is one double division rounded to 6 dp, and the extreme
    count compares ROUNDED values — integer-stable. Scale: the rep
    fan-out is a projected explode (rows × n_reps) feeding one
    map-side-combined aggregate keyed by rep; no shuffle carries the
    fan-out, and the spread-before-explode guard keeps a single-file
    scan from serializing it.
    """
    from ..sources.catalog import ensure_parallelism

    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    base = ensure_parallelism(
        orders.select(
            "o_orderkey",
            hi.alias("is_hi"),
            F.col("o_totalprice").cast("decimal(18,6)").alias("p"),
        ),
        key="o_orderkey",
    ).persist()
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("is_hi"), 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("is_hi"), F.col("p"))).alias("s1"),
        F.sum(F.when(~F.col("is_hi"), F.col("p"))).alias("s2"),
    )
    obs = stats.select(
        "n",
        "n1",
        (F.col("n") - F.col("n1")).alias("n2"),
        F.round(
            F.col("s1").cast("double") / F.col("n1").cast("double")
            - F.col("s2").cast("double")
            / (F.col("n") - F.col("n1")).cast("double"),
            6,
        ).alias("obs_diff"),
    )
    reps = base.select(
        "o_orderkey",
        "p",
        F.explode(F.sequence(F.lit(1), F.lit(n_reps))).alias("rep"),
    ).crossJoin(F.broadcast(obs.select("n", "n1")))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws("#", F.col("o_orderkey").cast("string"),
                            F.col("rep").cast("string"))
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    labeled = reps.select(
        "rep", "p", ((u % F.col("n")) < F.col("n1")).alias("g1")
    )
    per_rep = labeled.groupBy("rep").agg(
        F.sum(F.when(F.col("g1"), F.col("p"))).alias("s1"),
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(~F.col("g1"), F.col("p"))).alias("s2"),
        F.sum(F.when(~F.col("g1"), 1).otherwise(0)).cast("bigint").alias("c2"),
    )
    diffs = per_rep.select(
        "rep",
        F.round(
            F.try_divide(F.col("s1").cast("double"), F.col("c1").cast("double"))
            - F.try_divide(
                F.col("s2").cast("double"), F.col("c2").cast("double")
            ),
            6,
        ).alias("d"),
    )
    extreme = diffs.crossJoin(F.broadcast(obs.select("obs_diff"))).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps_done"),
        F.sum(
            F.when(F.abs(F.col("d")) >= F.abs(F.col("obs_diff")), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_extreme"),
    )
    from ..sources.catalog import finish_cached

    return finish_cached(
        obs.crossJoin(extreme).select(
            "n1",
            "n2",
            "obs_diff",
            F.col("n_reps_done").alias("n_reps"),
            "n_extreme",
            F.round(
                (F.col("n_extreme") + 1).cast("double")
                / (F.col("n_reps_done") + 1).cast("double"),
                6,
            ).alias("p_value"),
        ),
        base,
    )


def theil_sen_monthly(orders: DataFrame) -> DataFrame:
    """Theil–Sen robust trend of the monthly order-count series: the
    MEDIAN of all pairwise slopes, reported next to the OLS slope the
    ``regression_by_group`` closed form gives — one corrupted month
    drags OLS arbitrarily but moves the pairwise-slope median by at
    most one rank (breakdown point 29%), which is why monitoring
    pipelines fit trends with it.

    Exactness: x is the integer month index, y the integer count, each
    pairwise slope rounds (Δy/Δx) once to 6 dp into DECIMAL, and the
    median picks ranks ⌊(n+1)/2⌋/⌈(n+1)/2⌉ by VALUE order (rank ties
    cannot move the selected values). OLS comes from exact decimal
    moment sums. Scale: the pair lattice is built from the MONTH GRID
    (time-range-bounded — 80 points → 3k pairs at any corpus size), so
    the quadratic never touches row counts; the data-proportional work
    is one month aggregate.
    """
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mo")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    idx = monthly.select(
        (
            (F.year("mo") - F.lit(1995)) * 12 + F.month("mo") - F.lit(1)
        ).cast("bigint").alias("x"),
        "y",
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = (
        a.join(b, F.col("a.x") < F.col("b.x"))
        .select(
            F.round(
                (F.col("b.y") - F.col("a.y")).cast("double")
                / (F.col("b.x") - F.col("a.x")).cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("s")
        )
    )
    wv = Window.orderBy("s")
    ranked = slopes.select(
        "s", F.row_number().over(wv).alias("rn")
    )
    n_pairs = slopes.agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    med = (
        ranked.crossJoin(F.broadcast(n_pairs))
        .where(
            (F.col("rn") == F.floor((F.col("np") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("np") + 2) / 2))
        )
        .agg(
            (F.sum(F.col("s").cast("double")) / F.count(F.lit(1))).alias(
                "ts_slope_raw"
            )
        )
    )
    d = F.col("y").cast("decimal(18,6)")
    xd = F.col("x").cast("decimal(18,6)")
    m = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(d).alias("sy"),
        F.sum((xd * d).cast("decimal(38,12)")).alias("sxy"),
        F.sum((xd * xd).cast("decimal(38,12)")).alias("sxx"),
    )
    ols = m.select(
        "n",
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / (
                F.col("n").cast("double") * F.col("sxx").cast("double")
                - F.col("sx").cast("double") * F.col("sx").cast("double")
            ),
            6,
        ).alias("ols_slope"),
    )
    return (
        ols.crossJoin(n_pairs)
        .crossJoin(med)
        .select(
            F.col("n").alias("n_months"),
            F.col("np").alias("n_pairs"),
            F.round("ts_slope_raw", 6).alias("theil_sen_slope"),
            "ols_slope",
        )
    )


def stump_split_priority(orders: DataFrame) -> DataFrame:
    """Train a one-node decision stump — the best information-gain
    threshold on ``o_totalprice`` separating high-priority orders —
    entirely as a window pass: every distinct price is a candidate
    split, and its class counts on both sides come from running sums
    over the value-frequency histogram (the engine's take on the
    classic decision-tree split search, the building block feature
    stores use for supervised binning).

    Exactness: counts are integers; each entropy term p·ln p (p an
    exact integer ratio) rounds once to 6 dp into DECIMAL, entropies
    and the weighted gain assemble from those decimals with the side
    weights rounded the same way, and the argmax orders on the (gain,
    value) total order — engine-independent. 0·ln 0 is defined as 0.

    Scale: bounded-state like :func:`ks_test` — one histogram
    aggregate, one cumulative window over distinct values, one
    TakeOrdered(1).
    """
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    hist = orders.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("c1"),
        F.sum(F.when(hi, 0).otherwise(1)).cast("bigint").alias("c0"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "v",
        F.sum("c1").over(w).alias("l1"),
        F.sum("c0").over(w).alias("l0"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c0").over(wall).alias("n0"),
    )

    def t(c, n):
        p = c.cast("double") / n.cast("double")
        return F.when(c == 0, F.lit(0).cast("decimal(18,6)")).otherwise(
            F.round(p * F.log(p), 6).cast("decimal(18,6)")
        )

    n = F.col("n1") + F.col("n0")
    nl = F.col("l1") + F.col("l0")
    nr = n - nl
    r1 = F.col("n1") - F.col("l1")
    r0 = F.col("n0") - F.col("l0")
    hp = -(t(F.col("n1"), n) + t(F.col("n0"), n))
    hl = -(t(F.col("l1"), nl) + t(F.col("l0"), nl))
    hr = -(t(r1, nr) + t(r0, nr))
    wl = F.round(nl.cast("double") / n.cast("double"), 6).cast(
        "decimal(18,6)"
    )
    wr = F.round(nr.cast("double") / n.cast("double"), 6).cast(
        "decimal(18,6)"
    )
    # cast each product before combining: left to its own devices Spark
    # overflows decimal(38,12) on the sum and silently DROPS scale to 10
    # (allowPrecisionLoss), truncating the gain the oracle keeps exact
    ig = (
        hp.cast("decimal(28,12)")
        - (
            (wl * hl).cast("decimal(28,12)")
            + (wr * hr).cast("decimal(28,12)")
        )
    )
    scored = cum.where(nr > 0).select(
        "v",
        nl.alias("n_left"),
        nr.alias("n_right"),
        F.col("l1").alias("hi_left"),
        r1.alias("hi_right"),
        ig.cast("decimal(28,12)").alias("ig_d"),
    )
    return (
        scored.orderBy(F.desc("ig_d"), F.asc("v"))
        .limit(1)
        .select(
            F.col("v").alias("split_value"),
            "n_left",
            "n_right",
            "hi_left",
            "hi_right",
            F.col("ig_d").cast("double").alias("info_gain"),
        )
    )


def diff_in_diff(orders: DataFrame) -> DataFrame:
    """Difference-in-differences estimator on the 2×2 (priority-
    treatment × pre/post-1998) design: the causal-inference workhorse
    for "did the policy move the treated group beyond the shared
    trend" — here, did high-priority orders' mean value move
    differently across the period boundary than everyone else's.

    All four cell means come from exact DECIMAL sums with ONE double
    division each; the DiD assembles from those unrounded doubles
    (identical IEEE ops both engines) and rounds once. One scan, one
    4-cell aggregate — nothing at data scale beyond the groupBy.
    """
    treat = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    post = F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    cells = orders.groupBy(
        treat.alias("treated"), post.alias("post")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("s"),
    )
    wide = cells.groupBy().pivot("treated", [True, False]).agg(
        F.sum(F.when(F.col("post"), F.col("s"))).alias("s_post"),
        F.sum(F.when(F.col("post"), F.col("n"))).alias("n_post"),
        F.sum(F.when(~F.col("post"), F.col("s"))).alias("s_pre"),
        F.sum(F.when(~F.col("post"), F.col("n"))).alias("n_pre"),
    )
    def mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double")

    t_post = mean("true_s_post", "true_n_post")
    t_pre = mean("true_s_pre", "true_n_pre")
    c_post = mean("false_s_post", "false_n_post")
    c_pre = mean("false_s_pre", "false_n_pre")
    return wide.select(
        F.col("true_n_pre").cast("bigint").alias("n_treat_pre"),
        F.col("true_n_post").cast("bigint").alias("n_treat_post"),
        F.col("false_n_pre").cast("bigint").alias("n_ctrl_pre"),
        F.col("false_n_post").cast("bigint").alias("n_ctrl_post"),
        F.round(t_pre, 6).alias("mean_treat_pre"),
        F.round(t_post, 6).alias("mean_treat_post"),
        F.round(c_pre, 6).alias("mean_ctrl_pre"),
        F.round(c_post, 6).alias("mean_ctrl_post"),
        F.round((t_post - t_pre) - (c_post - c_pre), 6).alias("did"),
    )


def item_item_cosine(lineitem: DataFrame, min_support: int = 3, topn: int = 25) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between
    parts over the order-basket incidence matrix,
    cos(i,j) = co(i,j)/√(n(i)·n(j)) — the normalized upgrade of raw
    ``market_basket_pairs`` support (a pair of blockbusters co-occurs
    by volume alone; cosine asks whether they co-occur beyond their
    popularity), the classic "customers also bought" primitive.

    Counts are exact integers from the per-order distinct-part pair
    expansion (one shuffle on orderkey); √ and the division run on
    exact-integer doubles — identical cross-engine — and round once.
    Output is TakeOrdered on (cosine desc, pair) with a support floor
    that also bounds the pair fan-out at scale (the same threshold
    knob as the co-occurrence graph builder).
    """
    per_order = lineitem.select("l_orderkey", "l_partkey").distinct()
    cnt = per_order.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a, b = per_order.alias("a"), per_order.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .where(F.col("co") >= min_support)
    )
    na = cnt.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na"))
    nb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .select(
            "part_a",
            "part_b",
            "co",
            F.round(
                F.col("co").cast("double")
                / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("part_a"), F.asc("part_b"))
        .limit(topn)
    )


def jarque_bera(lineitem: DataFrame) -> DataFrame:
    """Jarque–Bera normality test per return flag: skewness and excess
    kurtosis from EXACT central moments, JB = n/6·(S² + K²/4) — the
    "is this metric still Gaussian enough for my z-thresholds" gate
    that pairs with ``ks_test`` (distribution shift) and
    ``benford_digits`` (fabrication).

    The central-moment trick from ``acf_hourly`` at higher order: with
    u = n·v − Σv (an exact integer), Σu², Σu³, Σu⁴ are exact DECIMAL
    sums and every scale factor cancels in the ratios
    S = (Σu³/n)/(Σu²/n)^{3/2}, K = n·Σu⁴/(Σu²)². Only the final
    double ratios and one 6-dp round leave the integer lattice. One
    histogram-free pass: moments are plain map-combined sums.
    """
    v = F.col("l_quantity").cast("decimal(18,6)")
    pre = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("s"),
    )
    joined = lineitem.join(F.broadcast(pre), "l_returnflag").select(
        "l_returnflag",
        "n",
        (
            (F.col("n") * F.col("l_quantity").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            - F.col("s").cast("decimal(28,6)")
        )
        .cast("decimal(19,0)")
        .alias("u"),
    )
    u = F.col("u")
    m = joined.groupBy("l_returnflag", "n").agg(
        F.sum((u * u).cast("decimal(38,0)")).alias("u2"),
        F.sum(
            ((u * u).cast("decimal(38,0)") * u.cast("decimal(38,0)"))
            .cast("decimal(38,0)")
        ).alias("u3"),
        F.sum(
            (
                (u * u).cast("decimal(38,0)")
                * (u * u).cast("decimal(38,0)")
            ).cast("decimal(38,0)")
        ).alias("u4"),
    )
    nd = F.col("n").cast("double")
    m2 = F.col("u2").cast("double") / nd
    m3 = F.col("u3").cast("double") / nd
    m4 = F.col("u4").cast("double") / nd
    # m2^1.5 as m2*sqrt(m2): sqrt is correctly-rounded IEEE, pow is
    # libm-dependent — the same reason tfidf avoids log
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - F.lit(3.0)
    return m.select(
        "l_returnflag",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
        F.round(
            nd / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0)), 6
        ).alias("jb_stat"),
    )


def ipw_ate(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Stratified average treatment effect with inverse-propensity
    weights: within each market-segment stratum the high-priority
    "treatment" is as-good-as-random, so ATE = Σ_s share_s·(ȳ_ts − ȳ_cs)
    — the observational-causal sibling of :func:`diff_in_diff` (which
    needs a time boundary; this needs only strata). The per-stratum
    propensity n_t/n is reported so a reader can see where overlap is
    thin (p near 0/1 blows IPW up — the classic diagnostic).

    One broadcast dim join for the stratum label, one 2×|strata|
    aggregate of exact DECIMAL sums; every mean is one double division
    and the ATE row assembles from the same exact components. Output:
    one row per stratum plus the ``__ate__`` summary row.
    """
    treat = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    cells = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(treat, 1).otherwise(0)).cast("bigint").alias("nt"),
        F.sum(
            F.when(treat, F.col("o_totalprice").cast("decimal(18,6)"))
        ).alias("st"),
        F.sum(
            F.when(~treat, F.col("o_totalprice").cast("decimal(18,6)"))
        ).alias("sc"),
    )
    tot = cells.agg(F.sum("n").alias("n_all"))
    per = cells.crossJoin(F.broadcast(tot)).select(
        "c_mktsegment",
        "n",
        "nt",
        (F.col("n") - F.col("nt")).alias("nc"),
        F.round(
            F.col("nt").cast("double") / F.col("n").cast("double"), 6
        ).alias("propensity"),
        (
            F.col("st").cast("double") / F.col("nt").cast("double")
            - F.col("sc").cast("double")
            / (F.col("n") - F.col("nt")).cast("double")
        ).alias("gap_raw"),
        (F.col("n").cast("double") / F.col("n_all").cast("double")).alias(
            "share_raw"
        ),
    )
    strata = per.select(
        "c_mktsegment",
        "n",
        F.col("nt").cast("bigint").alias("n_treat"),
        F.col("nc").cast("bigint").alias("n_ctrl"),
        "propensity",
        F.round("gap_raw", 6).alias("gap"),
        F.round(
            (F.col("share_raw") * F.col("gap_raw")), 6
        ).alias("weighted_term"),
    )
    # exact-decimal total of the 6dp-rounded per-stratum terms: the
    # summary is then a pure function of the rows above it
    ate = strata.agg(
        F.sum(F.col("n")).cast("bigint").alias("n"),
        F.sum("n_treat").cast("bigint").alias("n_treat"),
        F.sum("n_ctrl").cast("bigint").alias("n_ctrl"),
        F.sum(
            F.col("weighted_term").cast("decimal(18,6)")
        ).cast("double").alias("ate"),
    ).select(
        F.lit("__ate__").alias("c_mktsegment"),
        "n",
        "n_treat",
        "n_ctrl",
        F.lit(None).cast("double").alias("propensity"),
        F.lit(None).cast("double").alias("gap"),
        F.col("ate").alias("weighted_term"),
    )
    return strata.unionAll(ate)


def markov_next_event_eval(events: DataFrame) -> DataFrame:
    """Held-out accuracy of the first-order Markov next-event model —
    :func:`markov_transitions` scored the way ``naive_bayes_langid``
    scores itself: train transition counts on even user_ids, predict
    each odd-user transition with argmax P(next|current), report
    per-current-state accuracy and support.

    The user-level split keeps chains intact (an interleaved event
    split would fabricate transitions). The predictor table is
    |types|² counts with an argmax on the (count desc, type) total
    order — broadcast onto the held-out pairs; unseen current states
    fall back to the global-majority next type (same total order).
    All counts integer; accuracy is one division, rounded.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).where(F.col("nxt").isNotNull())
    train = pairs.where(F.col("user_id") % 2 == 0)
    test = pairs.where(F.col("user_id") % 2 == 1)
    counts = train.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wbest = Window.partitionBy("cur").orderBy(F.desc("c"), F.asc("nxt"))
    model = (
        counts.withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    global_best = (
        train.groupBy("nxt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.desc("c"), F.asc("nxt"))
        .limit(1)
        .select(F.col("nxt").alias("fallback"))
    )
    scored = (
        test.join(F.broadcast(model), "cur", "left")
        .crossJoin(F.broadcast(global_best))
        .select(
            "cur",
            "nxt",
            F.coalesce("pred", "fallback").alias("pred"),
        )
    )
    return scored.groupBy("cur", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("nxt") == F.col("pred"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
    ).select(
        "cur",
        "pred",
        "n_pairs",
        "n_correct",
        F.round(
            F.col("n_correct").cast("double")
            / F.col("n_pairs").cast("double"),
            6,
        ).alias("accuracy"),
    )


def hit_rate_at_k(lineitem: DataFrame, k: int = 10) -> DataFrame:
    """Hit-rate@k of the item-item recommender — :func:`item_item_cosine`
    evaluated the only way that matters: hold one item out of each test
    basket, recommend k neighbors from the items still in it (model
    trained on DISJOINT md5 train baskets), and count how often the
    held-out item is among them.

    Determinism: the split is md5(orderkey) mod 5 (fold 4 tests); the
    held-out item is the basket's max partkey; neighbor lists rank on
    the (co-count desc, partkey) total order. Counts are integers
    end-to-end; the rate divides once.

    Scale: train pairs ride the one orderkey shuffle; the top-k window
    runs on the vocabulary-sized pair table; scoring joins test items
    to the (items × k)-bounded neighbor table and aggregates a
    per-basket EXISTS — no per-basket loop, no collect.
    """
    po = lineitem.select("l_orderkey", "l_partkey").distinct()
    fold = (
        F.conv(
            F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 13),
            16,
            10,
        ).cast("long")
        % 5
    )
    tagged = po.select("l_orderkey", "l_partkey", fold.alias("fold"))
    train = tagged.where(F.col("fold") <= 3)
    test = tagged.where(F.col("fold") == 4)
    a, b = train.alias("a"), train.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("i"), F.col("b.l_partkey").alias("j")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
    )
    wtop = Window.partitionBy("i").orderBy(F.desc("co"), F.asc("j"))
    nbrs = (
        co.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") <= k)
        .select("i", "j")
    )
    held = test.groupBy("l_orderkey").agg(
        F.max("l_partkey").alias("holdout"),
        F.count(F.lit(1)).cast("bigint").alias("sz"),
    ).where(F.col("sz") >= 2)
    queries = test.join(held, "l_orderkey").where(
        F.col("l_partkey") != F.col("holdout")
    )
    hits = (
        queries.join(nbrs, queries["l_partkey"] == nbrs["i"])
        .where(F.col("j") == F.col("holdout"))
        .select("l_orderkey")
        .distinct()
    )
    n_test = held.agg(F.count(F.lit(1)).cast("bigint").alias("n_baskets"))
    n_hit = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    return n_test.crossJoin(n_hit).select(
        "n_baskets",
        "n_hits",
        # empty test fold -> 0 baskets: rate undefined, NULL not a crash
        F.round(
            F.try_divide(
                F.col("n_hits").cast("double"),
                F.col("n_baskets").cast("double"),
            ),
            6,
        ).alias("hit_rate"),
    )


def forecast_eval_mase(events: DataFrame) -> DataFrame:
    """Forecast-accuracy scoreboard for :func:`holt_winters_daily`: MAE
    of its one-step-ahead forecasts vs the SEASONAL-NAIVE baseline
    (y_{t−7}) over the same evaluation days, and their ratio — MASE,
    the scale-free "is the model worth running" number (< 1 beats the
    baseline the way a forecast must).

    Evaluation days are those where both forecasts exist (t > period,
    state warm). Errors |y_t − f_t| round once to 6 dp into DECIMAL
    (f_t is the bit-exact dyadic HW forecast, y_t an integer), the two
    MAEs divide exact sums once, and MASE divides the ROUNDED MAEs —
    every step engine-stable. Cost: the HW pass plus one lag window on
    the day grid.
    """
    hw = holt_winters_daily(events)
    w = Window.partitionBy("event_type").orderBy("day")
    scored = hw.select(
        "event_type",
        "day",
        "x",
        F.lag("forecast_next").over(w).alias("f_hw"),
        F.lag("x", 7).over(w).alias("f_naive"),
    ).where(F.col("f_hw").isNotNull() & F.col("f_naive").isNotNull())
    err = scored.select(
        "event_type",
        F.abs(F.round(F.col("x") - F.col("f_hw"), 6))
        .cast("decimal(18,6)")
        .alias("e_hw"),
        F.abs(F.round(F.col("x") - F.col("f_naive"), 6))
        .cast("decimal(18,6)")
        .alias("e_naive"),
    )
    agg = err.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum("e_hw").alias("s_hw"),
        F.sum("e_naive").alias("s_naive"),
    )
    mae_hw = F.round(
        F.col("s_hw").cast("double") / F.col("n_eval").cast("double"), 6
    )
    mae_naive = F.round(
        F.col("s_naive").cast("double") / F.col("n_eval").cast("double"), 6
    )
    return agg.select(
        "event_type",
        "n_eval",
        mae_hw.alias("mae_hw"),
        mae_naive.alias("mae_naive"),
        # a perfectly-seasonal series has naive MAE 0: MASE undefined,
        # NULL (try_divide), not an ANSI crash
        F.round(F.try_divide(mae_hw, mae_naive), 6).alias("mase"),
    )


def funnel_significance(events: DataFrame) -> DataFrame:
    """Two-proportion z-test per funnel transition between the even/odd
    user cohorts — the statistical wrapper the bare ``funnel_sequence``
    counts need before anyone ships a conclusion: is cohort A's
    view→click→purchase conversion actually different, step by step?

    Funnels are per SESSION (30-min inactivity gap, the sessionize_events
    boundary), not per user lifetime — on a dense stream every user
    eventually does everything, which collapses every rate to 1 and the
    z to 0/0; sessions keep the conversion question real. Step flags
    collapse to one row per session (windows + one shuffle); each
    transition contributes (reached, converted) counts per cohort, and
    the pooled z assembles from exact integer ratios — divisions and
    one √ on identical IEEE inputs, rounded once. Degenerate strata
    (zero reached, pooled p ∈ {0,1}) yield NULL z via try_divide
    rather than a crash.
    """
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(sec).over(w)
    opens = (prev.isNull() | (sec - prev > F.lit(1800))).cast("int")
    sid = F.sum(opens).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessed = events.select("user_id", "ts", "event_id", "event_type").select(
        "user_id", "event_type", sid.alias("sid")
    )
    flags = sessed.groupBy("user_id", "sid").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "s_view"
        ),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "s_click"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("s_purchase"),
    )
    cohort = (F.col("user_id") % 2 == 0).alias("cohort_a")
    per = flags.select(cohort, "s_view", "s_click", "s_purchase")

    def step(name, reached, conv):
        g = per.where(F.col(reached) == 1).groupBy().agg(
            F.sum(F.when(F.col("cohort_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
            F.sum(F.when(F.col("cohort_a"), F.col(conv)))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(~F.col("cohort_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("n2"),
            F.sum(F.when(~F.col("cohort_a"), F.col(conv)))
            .cast("bigint")
            .alias("c2"),
        )
        n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
        n2, c2 = F.col("n2").cast("double"), F.col("c2").cast("double")
        p1, p2 = c1 / n1, c2 / n2
        pp = (c1 + c2) / (n1 + n2)
        se = F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1 + F.lit(1.0) / n2))
        return g.select(
            F.lit(name).alias("transition"),
            "n1",
            "c1",
            "n2",
            "c2",
            F.round(p1, 6).alias("rate_a"),
            F.round(p2, 6).alias("rate_b"),
            F.round(F.try_divide(p1 - p2, se), 6).alias("z"),
        )

    return step("view->click", "s_view", "s_click").unionAll(
        step("click->purchase", "s_click", "s_purchase")
    )


def mde_power_analysis(events: DataFrame) -> DataFrame:
    """Minimum detectable effect for the purchase-conversion A/B design
    at α = 0.05 (two-sided) and 80% power, given the OBSERVED baseline
    rate and the even/odd cohort sizes — the pre-registration number an
    experimenter needs before trusting ``ab_test_conversion``'s verdict
    ("could this test even see a 1-point lift?").

    MDE = (z_{α/2}+z_β)·√(2·p̄(1−p̄)/n̄) with the z constants rounded
    to 6 dp (1.959964, 0.841621) and n̄ the harmonic mean of the two
    cohort sizes; every other input is an exact integer ratio, so the
    closed form is engine-stable after its single rounding.
    """
    per = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    g = per.groupBy().agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum("conv").cast("bigint").alias("n_conv"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    p = F.col("n_conv").cast("double") / F.col("n").cast("double")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n_h = F.lit(2.0) * na * nb / (na + nb)
    mde = (F.lit(1.959964) + F.lit(0.841621)) * F.sqrt(
        F.lit(2.0) * p * (F.lit(1.0) - p) / n_h
    )
    return g.select(
        "n_a",
        "n_b",
        F.round(p, 6).alias("baseline_rate"),
        F.round(n_h, 6).alias("harmonic_n"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(F.try_divide(mde, p), 6).alias("mde_rel"),
    )


def market_concentration_hhi(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within
    each nation: HHI = Σ share_s² (×10,000 in the antitrust
    convention) plus the effective number of competitors 1/Σshare² —
    the market-structure lens :func:`gini_lorenz`'s inequality curve
    doesn't give (HHI weights the HEAD: one 50% supplier moves HHI far
    more than many 2% ones).

    Exactness: revenue sums are DECIMAL; each share is one double
    division of exact decimals, squared and ROUNDED TO 10 dp into
    DECIMAL before the Σ (order-exact; 10 dp because shares² live at
    1e-4 scale and 6 dp would quantize small suppliers to zero). Scale:
    one fact shuffle on suppkey, broadcast dims, nation-sized output.
    """
    rev = (
        lineitem.groupBy("l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (
                        F.lit(1).cast("decimal(18,6)")
                        - F.col("l_discount").cast("decimal(18,6)")
                    )
                ).cast("decimal(38,12)")
            ).alias("r")
        )
    )
    dims = supplier.join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    per_sup = rev.join(
        F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("n_name", "r")
    tot = per_sup.groupBy("n_name").agg(F.sum("r").alias("t"))
    share2 = (
        per_sup.join(F.broadcast(tot), "n_name")
        .select(
            "n_name",
            F.round(
                (
                    F.col("r").cast("double") / F.col("t").cast("double")
                )
                * (
                    F.col("r").cast("double") / F.col("t").cast("double")
                ),
                10,
            )
            .cast("decimal(18,10)")
            .alias("s2"),
        )
    )
    return (
        share2.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("s2").alias("sum_s2"),
        )
        .select(
            "n_name",
            "n_suppliers",
            F.round(F.col("sum_s2").cast("double") * 10000, 6).alias("hhi"),
            F.round(
                F.lit(1.0) / F.col("sum_s2").cast("double"), 6
            ).alias("effective_competitors"),
        )
    )


def retention_decay_fit(orders: DataFrame) -> DataFrame:
    """Exponential-decay fit of customer-cohort retention: regress
    ln(retention) on cohort age in months and report the decay rate
    and half-life — the single-number summary of the whole
    ``cohort_retention`` triangle ("we lose X%/month; half the cohort
    is gone after H months").

    Retention(cohort, age) = active/size from exact integer counts;
    each ln(rate) rounds to 6 dp into DECIMAL (ages with zero actives
    drop — ln undefined — and age 0 anchors at ln 1 = 0); the fit is
    the closed-form decimal-moment regression pooled across cohorts.
    One orders scan + a cohort×age aggregate; everything after is
    triangle-sized.
    """
    base = orders.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("mo"),
    ).distinct()
    first = base.groupBy("o_custkey").agg(F.min("mo").alias("cohort"))
    aged = base.join(first, "o_custkey").select(
        "cohort",
        (
            (F.year("mo") - F.year("cohort")) * 12
            + (F.month("mo") - F.month("cohort"))
        ).cast("bigint").alias("age"),
        "o_custkey",
    )
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    cells = aged.groupBy("cohort", "age").agg(
        F.countDistinct("o_custkey").alias("active")
    )
    rates = cells.join(F.broadcast(sizes), "cohort").select(
        "age",
        F.round(
            F.log(
                F.col("active").cast("double") / F.col("size").cast("double")
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lnr"),
    )
    xd = F.col("age").cast("decimal(18,6)")
    m = rates.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum("lnr").alias("sy"),
        F.sum((xd * F.col("lnr")).cast("decimal(38,12)")).alias("sxy"),
        F.sum((xd * xd).cast("decimal(38,12)")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return m.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("decay_rate"),
        F.round(
            (
                F.col("sy").cast("double")
                - slope * F.col("sx").cast("double")
            )
            / nd,
            6,
        ).alias("intercept"),
        F.round(F.lit(0.693147) / -slope, 6).alias("half_life_months"),
    )


def user_burstiness(events: DataFrame) -> DataFrame:
    """Goh–Barabási burstiness per user: B = (σ−μ)/(σ+μ) of the
    inter-event gaps — −1 for a metronome, 0 for Poisson, →1 for
    bursts — the per-entity companion of the population-level
    ``overdispersion_index`` (a fleet can look Poisson while every
    user inside it is bursty).

    Gaps are exact integer seconds (epoch differences over the
    (ts, event_id) total order); μ and σ come from exact decimal
    moment sums per user — population σ, one √ on identical IEEE
    inputs — and B is one more division, rounded. Users with < 2 gaps
    are excluded (σ undefined). One window + one aggregate, both on
    the user shuffle.
    """
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select("user_id", "ts", "event_id", sec.alias("s"))
        .select(
            "user_id", (F.col("s") - F.lag("s").over(w)).alias("g")
        )
        .where(F.col("g").isNotNull())
    )
    gd = F.col("g").cast("decimal(18,0)")
    m = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum(gd).alias("sg"),
        F.sum((gd * gd).cast("decimal(38,0)")).alias("sgg"),
    ).where(F.col("n_gaps") >= 2)
    nd = F.col("n_gaps").cast("double")
    mu = F.col("sg").cast("double") / nd
    var = F.col("sgg").cast("double") / nd - mu * mu
    sig = F.sqrt(var)
    return m.select(
        "user_id",
        "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(F.try_divide(sig, mu), 6).alias("cv"),
        F.round(F.try_divide(sig - mu, sig + mu), 6).alias("burstiness"),
    )


def cross_correlation_types(
    events: DataFrame,
    type_x: str = "error",
    type_y: str = "purchase",
    max_lag: int = 4,
) -> DataFrame:
    """Lead–lag cross-correlation between two event-type hourly series:
    r_xy(k) for k in −max_lag..max_lag — positive-k peaks mean x LEADS
    y by k hours (errors foreshadowing churn, views foreshadowing
    purchases), the two-series completion of :func:`acf_hourly_counts`.

    Same integer lattice: on the shared zero-filled hour grid,
    u_t = n·x_t − Σx and v_t = n·y_t − Σy are exact BIGINTs, each
    numerator Σ u_t·v_{t+k} is an exact integer, and the denominator
    is √Σu²·√Σv² — two correctly-rounded √ on exact-integer doubles
    (the product Σu²·Σv² could overflow the integer lattice; the
    split-√ form never does). Grid-bounded cost, data-bounded only in
    the one hourly aggregate.
    """
    hourly = (
        events.where(F.col("event_type").isin(type_x, type_y))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .pivot("event_type", [type_x, type_y])
        .agg(F.count(F.lit(1)))
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        )
    )
    filled = grid.join(hourly, "h", "left").select(
        "h",
        F.coalesce(type_x, F.lit(0)).cast("bigint").alias("x"),
        F.coalesce(type_y, F.lit(0)).cast("bigint").alias("y"),
    )
    st = filled.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    uv = filled.crossJoin(F.broadcast(st)).select(
        "h",
        (F.col("n") * F.col("x") - F.col("sx")).alias("u"),
        (F.col("n") * F.col("y") - F.col("sy")).alias("v"),
    )
    wlag = Window.orderBy("h")
    lags = list(range(-max_lag, max_lag + 1))
    shifted = uv.select(
        "u",
        "v",
        *[
            F.lead("v", k).over(wlag).alias(f"vp{k}")
            if k >= 0
            else F.lag("v", -k).over(wlag).alias(f"vm{-k}")
            for k in lags
        ],
    )
    den_u = F.sum(F.col("u") * F.col("u"))
    den_v = F.sum(F.col("v") * F.col("v"))
    aggs = []
    for k in lags:
        col = f"vp{k}" if k >= 0 else f"vm{-k}"
        aggs.append(F.sum(F.col("u") * F.col(col)).alias(f"num_{k + max_lag}"))
    m = shifted.agg(den_u.alias("du"), den_v.alias("dv"), *aggs)
    rows = [
        m.select(
            F.lit(k).cast("int").alias("lag"),
            F.round(
                F.col(f"num_{k + max_lag}").cast("double")
                / (
                    F.sqrt(F.col("du").cast("double"))
                    * F.sqrt(F.col("dv").cast("double"))
                ),
                6,
            ).alias("xcorr"),
        )
        for k in lags
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def time_to_convert(events: DataFrame) -> DataFrame:
    """View→purchase conversion-latency distribution: per user, the gap
    from FIRST view to the first purchase AFTER it, summarized as
    exact p50/p90/p99 over converting users plus the conversion share
    — the "how long does the funnel take" number ``funnel_sequence``'s
    step counts don't give.

    Gaps are exact integer seconds; the percentiles come from the
    bounded-state histogram formulation
    (:func:`exact_percentiles_by_group` — percentile_cont semantics,
    DuckDB's quantile_cont replays them). One user aggregate, one
    histogram: nothing quadratic anywhere.
    """
    sec = F.col("ts").cast("timestamp").cast("long")
    per = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", sec)).alias("v0"),
    )
    first_purchase = (
        events.select("user_id", sec.alias("s"), "event_type")
        .join(F.broadcast(per), "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & F.col("v0").isNotNull()
            & (F.col("s") >= F.col("v0"))
        )
        .groupBy("user_id")
        .agg(F.min("s").alias("p0"))
    )
    gaps = per.join(first_purchase, "user_id", "left").select(
        "user_id",
        F.col("v0").isNotNull().alias("viewed"),
        (F.col("p0") - F.col("v0")).alias("gap_s"),
    )
    base = gaps.where(F.col("viewed"))
    counts = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_viewers"),
        F.sum(F.when(F.col("gap_s").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_converted"),
    )
    pct_in = base.where(F.col("gap_s").isNotNull()).select(
        F.lit(1).alias("g"), "gap_s"
    )
    pcts = exact_percentiles_by_group(
        pct_in, "g", "gap_s", [0.5, 0.9, 0.99]
    ).select(
        F.col("p0").alias("p50_s"),
        F.col("p1").alias("p90_s"),
        F.col("p2").alias("p99_s"),
    )
    return counts.crossJoin(pcts).select(
        "n_viewers",
        "n_converted",
        F.round(
            F.col("n_converted").cast("double")
            / F.col("n_viewers").cast("double"),
            6,
        ).alias("conversion_rate"),
        F.round("p50_s", 6).alias("p50_s"),
        F.round("p90_s", 6).alias("p90_s"),
        F.round("p99_s", 6).alias("p99_s"),
    )


def price_elasticity(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Own-price elasticity of demand per brand: regress ln(quantity)
    on ln(avg price) across a brand's parts — the log-log slope IS the
    elasticity (−2 ⇒ 1% price rise costs 2% volume), the pricing-desk
    summary none of the revenue rollups give.

    Per part: exact integer total quantity and decimal price mean (one
    double division); both ln terms round once to 6 dp into DECIMAL and
    the per-brand slope/R² come from the closed-form decimal moments
    (the ``zipf_fit`` discipline). Brands with < 3 parts drop (a 2-point
    fit is noise). One fact aggregate keyed by partkey, broadcast dim,
    brand-sized output.
    """
    per_part = (
        lineitem.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("q"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias(
                "sp"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    x = F.round(
        F.log(
            F.col("sp").cast("double") / F.col("n_lines").cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    y = F.round(F.log(F.col("q").cast("double")), 6).cast("decimal(18,6)")
    t = per_part.select(
        "p_brand",
        x.alias("x"),
        y.alias("y"),
        (x * y).cast("decimal(38,12)").alias("xy"),
        (x * x).cast("decimal(38,12)").alias("xx"),
        (y * y).cast("decimal(38,12)").alias("yy"),
    )
    m = t.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
        F.sum("yy").alias("syy"),
    ).where(F.col("n_parts") >= 3)
    nd = F.col("n_parts").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = nd * sxy - sx * sy
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    return m.select(
        "p_brand",
        "n_parts",
        F.round(F.try_divide(cov, varx), 6).alias("elasticity"),
        F.round(
            F.try_divide(cov * cov, varx * vary), 6
        ).alias("r2"),
    )


#: Monthly discount factors 0.95^age, age 0..84, quantized to 12 dp per
#: step (one HALF_UP round per multiply) — ONE constant list feeds both
#: the Spark join table and the DuckDB VALUES list, so the discounting
#: is exact and identical by construction.
DISCOUNT_POWERS = [
    "1",
    "0.950000000000",
    "0.902500000000",
    "0.857375000000",
    "0.814506250000",
    "0.773780937500",
    "0.735091890625",
    "0.698337296094",
    "0.663420431289",
    "0.630249409725",
    "0.598736939239",
    "0.568800092277",
    "0.540360087663",
    "0.513342083280",
    "0.487674979116",
    "0.463291230160",
    "0.440126668652",
    "0.418120335219",
    "0.397214318458",
    "0.377353602535",
    "0.358485922408",
    "0.340561626288",
    "0.323533544974",
    "0.307356867725",
    "0.291989024339",
    "0.277389573122",
    "0.263520094466",
    "0.250344089743",
    "0.237826885256",
    "0.225935540993",
    "0.214638763943",
    "0.203906825746",
    "0.193711484459",
    "0.184025910236",
    "0.174824614724",
    "0.166083383988",
    "0.157779214789",
    "0.149890254050",
    "0.142395741348",
    "0.135275954281",
    "0.128512156567",
    "0.122086548739",
    "0.115982221302",
    "0.110183110237",
    "0.104673954725",
    "0.099440256989",
    "0.094468244140",
    "0.089744831933",
    "0.085257590336",
    "0.080994710819",
    "0.076944975278",
    "0.073097726514",
    "0.069442840188",
    "0.065970698179",
    "0.062672163270",
    "0.059538555107",
    "0.056561627352",
    "0.053733545984",
    "0.051046868685",
    "0.048494525251",
    "0.046069798988",
    "0.043766309039",
    "0.041577993587",
    "0.039499093908",
    "0.037524139213",
    "0.035647932252",
    "0.033865535639",
    "0.032172258857",
    "0.030563645914",
    "0.029035463618",
    "0.027583690437",
    "0.026204505915",
    "0.024894280619",
    "0.023649566588",
    "0.022467088259",
    "0.021343733846",
    "0.020276547154",
    "0.019262719796",
    "0.018299583806",
    "0.017384604616",
    "0.016515374385",
    "0.015689605666",
    "0.014905125383",
    "0.014159869114",
    "0.013451875658"
]


def npv_clv(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Discounted customer lifetime value per market segment: every
    order's value is discounted by 0.95^age-in-months from the
    customer's FIRST order, summed per customer, averaged per segment —
    the net-present-value view the undiscounted ``clv_cohort`` curve
    overstates for long-lived cohorts.

    The discount power table is a PRECOMPUTED 85-row decimal constant
    (module literal, one per-step HALF_UP quantize — no pow(), no libm)
    broadcast onto the order scan; each discounted value is DECIMAL ×
    DECIMAL rounded once to 6 dp, and the segment rollup sums exact
    decimals. Ages beyond the table clamp to the last factor.
    """
    spark = orders.sparkSession
    powers = spark.createDataFrame(
        [(i, v) for i, v in enumerate(DISCOUNT_POWERS)],
        "age int, factor string",
    ).select("age", F.col("factor").cast("decimal(16,12)").alias("factor"))
    base = orders.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("mo"),
        F.col("o_totalprice").cast("decimal(18,6)").alias("p"),
    )
    first = base.groupBy("o_custkey").agg(F.min("mo").alias("m0"))
    aged = base.join(first, "o_custkey").select(
        "o_custkey",
        "p",
        F.least(
            (
                (F.year("mo") - F.year("m0")) * 12
                + (F.month("mo") - F.month("m0"))
            ).cast("int"),
            F.lit(len(DISCOUNT_POWERS) - 1),
        ).alias("age"),
    )
    disc = aged.join(F.broadcast(powers), "age").select(
        "o_custkey",
        "p",
        F.round(F.col("p") * F.col("factor"), 6)
        .cast("decimal(18,6)")
        .alias("dp"),
    )
    per_cust = disc.groupBy("o_custkey").agg(
        F.sum("p").alias("rev"), F.sum("dp").alias("npv")
    )
    return (
        per_cust.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("rev").alias("srev"),
            F.sum("npv").alias("snpv"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            F.round(
                F.col("srev").cast("double")
                / F.col("n_customers").cast("double"),
                6,
            ).alias("avg_revenue"),
            F.round(
                F.col("snpv").cast("double")
                / F.col("n_customers").cast("double"),
                6,
            ).alias("avg_npv"),
            F.round(
                F.col("snpv").cast("double") / F.col("srev").cast("double"),
                6,
            ).alias("discount_ratio"),
        )
    )


def spearman_correlation(lineitem: DataFrame) -> DataFrame:
    """Spearman rank correlation between quantity and price per return
    flag — Pearson on AVERAGE RANKS, so one monotone-but-nonlinear
    relationship (or a few wild outliers) no longer hides from the
    moment-based ``stats_moments`` correlation.

    The :func:`mann_whitney_u` lattice at work twice: each value's
    doubled average rank 2·cb + c + 1 is an exact BIGINT computed on
    the per-group value HISTOGRAM and joined back to the rows, and the
    correlation assembles from exact decimal moments of those doubled
    ranks (the ×2 scale cancels in the ratio). Bounded-state: raw rows
    never reach a window — two histograms, two joins, one moment
    aggregate.
    """

    def ranks(col, alias):
        hist = lineitem.groupBy("l_returnflag", col).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        w = (
            Window.partitionBy("l_returnflag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return hist.select(
            "l_returnflag",
            col,
            (
                F.lit(2) * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + F.lit(1)
            ).alias(alias),
        )
    rx = ranks("l_quantity", "rx2")
    ry = ranks("l_extendedprice", "ry2")
    joined = (
        lineitem.select("l_returnflag", "l_quantity", "l_extendedprice")
        .join(rx, ["l_returnflag", "l_quantity"])
        .join(ry, ["l_returnflag", "l_extendedprice"])
    )
    xd = F.col("rx2").cast("decimal(19,0)")
    yd = F.col("ry2").cast("decimal(19,0)")
    m = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum((xd * yd).cast("decimal(38,0)")).alias("sxy"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("sxx"),
        F.sum((yd * yd).cast("decimal(38,0)")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = nd * sxy - sx * sy
    return m.select(
        "l_returnflag",
        "n",
        F.round(
            F.try_divide(
                cov,
                F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy),
            ),
            6,
        ).alias("spearman_rho"),
    )


def regression_discontinuity(
    orders: DataFrame, cutoff: float = 150000.0, bandwidth: float = 50000.0
) -> DataFrame:
    """Sharp regression-discontinuity estimate: fit the high-priority
    share against order value separately on each side of a cutoff
    within a bandwidth, and report the JUMP of the two fits at the
    boundary — the "did crossing the threshold change behavior" design
    that completes the causal set (DiD needs time, IPW needs strata,
    RD needs only a cutoff rule).

    x is centered on the cutoff (exact decimal subtraction), y is the
    0/1 priority flag; both local fits are the closed-form decimal-
    moment regression, and the jump is intercept_right −
    intercept_left (the fits' values AT the cutoff, where x = 0). On
    this synthetic corpus priority is value-independent, so the honest
    answer is a jump ≈ 0 — the estimator's null behavior is itself the
    test. One bandwidth-filtered scan, two 6-moment aggregates.
    """
    x = (
        F.col("o_totalprice").cast("decimal(18,6)")
        - F.lit(cutoff).cast("decimal(18,6)")
    )
    y = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    base = orders.where(
        (F.col("o_totalprice") >= cutoff - bandwidth)
        & (F.col("o_totalprice") < cutoff + bandwidth)
    ).select(
        (F.col("o_totalprice") >= cutoff).alias("right_side"),
        x.alias("x"),
        y.cast("decimal(18,6)").alias("y"),
    )
    m = base.groupBy("right_side").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(
            (
                F.col("x").cast("decimal(19,6)")
                * F.col("y").cast("decimal(19,6)")
            ).cast("decimal(38,12)")
        ).alias("sxy"),
        F.sum(
            (
                F.col("x").cast("decimal(19,6)")
                * F.col("x").cast("decimal(19,6)")
            ).cast("decimal(38,12)")
        ).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = F.round(
        (
            nd * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / (
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ),
        6,
    )
    intercept = F.round(
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / nd,
        6,
    )
    sides = m.select(
        "right_side", "n", slope.alias("slope"), intercept.alias("intercept")
    )
    l = sides.where(~F.col("right_side")).select(
        F.col("n").alias("n_left"),
        F.col("slope").alias("slope_left"),
        F.col("intercept").alias("intercept_left"),
    )
    r = sides.where(F.col("right_side")).select(
        F.col("n").alias("n_right"),
        F.col("slope").alias("slope_right"),
        F.col("intercept").alias("intercept_right"),
    )
    return l.crossJoin(r).select(
        "n_left",
        "n_right",
        "slope_left",
        "slope_right",
        "intercept_left",
        "intercept_right",
        F.round(
            F.col("intercept_right") - F.col("intercept_left"), 6
        ).alias("rd_jump"),
    )


def cramers_v(orders: DataFrame) -> DataFrame:
    """Cramér's V for the status×priority contingency table: the
    normalized [0, 1] effect size the raw ``chi_square_independence``
    statistic lacks (χ² grows with n; V answers "how strongly are
    they associated" at any scale).

    The χ² assembles from 6-dp-rounded per-cell terms (exact decimal
    sum) over the COMPLETE r×c grid — a structural-zero cell still
    contributes (0−E)²/E = E, and dropping it (the observed-cells
    shortcut) understates χ² exactly when association is strongest —
    and V = √(χ²/(n·min(r−1, c−1))) adds one √ on engine-identical
    doubles. One cell aggregate plus margin-sized cross joins.
    """
    obs = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("o")
    )
    rt = obs.groupBy("o_orderstatus").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("o_orderpriority").agg(F.sum("o").alias("c"))
    nt = obs.agg(F.sum("o").alias("n"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(nt))
        .join(obs, ["o_orderstatus", "o_orderpriority"], "left")
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.coalesce("o", F.lit(0)).alias("o"),
            "r",
            "c",
            "n",
        )
    )
    e = F.col("r").cast("double") * F.col("c").cast("double") / F.col(
        "n"
    ).cast("double")
    term = F.round(
        (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e,
        6,
    ).cast("decimal(18,6)")
    agg = cells.agg(
        F.sum(term).alias("chi2_d"),
        F.max("n").alias("n"),
        (F.countDistinct("o_orderstatus") - 1).alias("r1"),
        (F.countDistinct("o_orderpriority") - 1).alias("c1"),
    )
    return agg.select(
        F.col("chi2_d").cast("double").alias("chi2"),
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.sqrt(
                F.col("chi2_d").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.least("r1", "c1").cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


def growth_accounting(orders: DataFrame) -> DataFrame:
    """Monthly customer growth accounting — every month's active base
    decomposed into NEW / RETAINED / RESURRECTED, with CHURNED counted
    against the month they went silent and the quick ratio
    (new+resurrected)/churned — the canonical "is growth healthy or
    leaky" decomposition behind every growth dashboard.

    Shape: one distinct (customer, month-index) projection; NEW joins
    against the per-customer min month, RETAINED/RESURRECTED are one
    self-join on (customer, m−1), CHURNED is an anti-join shifted one
    month forward. All integer counts; the one ratio rounds once and
    NULLs when churn is 0. Month indices are exact integers, so month
    arithmetic never touches dates after the first projection.
    """
    base = orders.select(
        "o_custkey",
        (
            (F.year("o_orderdate") - F.lit(1995)) * 12
            + F.month("o_orderdate")
            - F.lit(1)
        ).cast("int").alias("m"),
    ).distinct()
    first = base.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    prev = base.select("o_custkey", (F.col("m") + 1).alias("m"))
    flags = (
        base.join(first, "o_custkey")
        .join(
            prev.withColumn("was_prev", F.lit(1)),
            ["o_custkey", "m"],
            "left",
        )
        .select(
            "m",
            (F.col("m") == F.col("m0")).alias("is_new"),
            # isNotNull, not == 1: a left-join miss is NULL, and
            # NULL == 1 is NULL — which silently zeroes the
            # NOT-ret (resurrected) bucket instead of filling it
            F.col("was_prev").isNotNull().alias("is_ret"),
        )
    )
    active = flags.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(~F.col("is_new") & F.col("is_ret"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(~F.col("is_new") & ~F.col("is_ret"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    churn = (
        base.select("o_custkey", (F.col("m") + 1).alias("m"))
        .join(base, ["o_custkey", "m"], "left_anti")
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return (
        active.join(churn, "m", "left")
        .select(
            "m",
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias(
                "n_churned"
            ),
            F.round(
                F.try_divide(
                    (F.col("n_new") + F.col("n_resurrected")).cast("double"),
                    F.coalesce("n_churned", F.lit(0)).cast("double"),
                ),
                6,
            ).alias("quick_ratio"),
        )
    )


def dau_mau_stickiness(events: DataFrame) -> DataFrame:
    """DAU/MAU stickiness per month: the mean daily-active count over
    the month's days divided by the monthly-active count — the "how
    often do actives come back" engagement ratio (1/30 = monthly
    tourists, 1.0 = daily habit).

    Exact: DAU per day and MAU per month are COUNT(DISTINCT) integers;
    the mean DAU is an exact integer ratio (Σdau/days), and stickiness
    divides it by MAU once, rounded. Two distinct aggregates, both
    map-side-combinable on (day|month, user).
    """
    days = events.select(
        F.to_date("ts").alias("day"),
        F.date_trunc("month", "ts").alias("mo"),
        "user_id",
    ).distinct()
    dau = days.groupBy("mo", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    mau = days.groupBy("mo").agg(
        F.countDistinct("user_id").alias("mau")
    )
    per_mo = dau.groupBy("mo").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("s_dau"),
    )
    return (
        per_mo.join(mau, "mo")
        .select(
            F.date_format("mo", "yyyy-MM").alias("month"),
            "n_days",
            F.round(
                F.col("s_dau").cast("double") / F.col("n_days").cast("double"),
                6,
            ).alias("avg_dau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(
                F.col("s_dau").cast("double")
                / F.col("n_days").cast("double")
                / F.col("mau").cast("double"),
                6,
            ).alias("stickiness"),
        )
    )


def rank_movers(
    lineitem: DataFrame, part: DataFrame, topn: int = 15
) -> DataFrame:
    """Month-over-month revenue-rank movers among parts: rank every
    part by revenue in the last two full months on record and surface
    the biggest rank jumps — the "what's suddenly selling" dashboard
    cut that absolute revenue deltas (``revenue_mom``) bury under big
    sellers' noise.

    The two month windows are data-derived (the two greatest month
    indices with shipments); ranks are ``row_number`` on the exact
    decimal revenue with a partkey tie-break (total order), the join is
    FULL OUTER so risers from zero get ranked too (absent month = rank
    beyond the field, delta vs worst+1), and the top-N orders on
    (|delta| desc, part) — bounded TakeOrdered.
    """
    rev = (
        lineitem.select(
            "l_partkey",
            (
                (F.year("l_shipdate") - F.lit(1995)) * 12
                + F.month("l_shipdate")
                - F.lit(1)
            ).cast("int").alias("m"),
            (
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (
                    F.lit(1).cast("decimal(18,6)")
                    - F.col("l_discount").cast("decimal(18,6)")
                )
            ).cast("decimal(38,12)").alias("r"),
        )
        .groupBy("l_partkey", "m")
        .agg(F.sum("r").alias("rev"))
    )
    last2 = rev.select("m").distinct().orderBy(F.desc("m")).limit(2)
    tagged = rev.join(F.broadcast(last2), "m")
    mx = tagged.agg(F.max("m").alias("m_last"))
    w = Window.partitionBy("m").orderBy(F.desc("rev"), F.asc("l_partkey"))
    ranked = tagged.withColumn("rk", F.row_number().over(w)).crossJoin(
        F.broadcast(mx)
    )
    cur = ranked.where(F.col("m") == F.col("m_last")).select(
        "l_partkey", F.col("rk").alias("rk_now"), F.col("rev").alias("rev_now")
    )
    prv = ranked.where(F.col("m") != F.col("m_last")).select(
        "l_partkey",
        F.col("rk").alias("rk_prev"),
        F.col("rev").alias("rev_prev"),
    )
    worst_now = cur.agg((F.max("rk_now") + 1).alias("w_now"))
    worst_prev = prv.agg((F.max("rk_prev") + 1).alias("w_prev"))
    joined = (
        cur.join(prv, "l_partkey", "full_outer")
        .crossJoin(F.broadcast(worst_now))
        .crossJoin(F.broadcast(worst_prev))
        .select(
            "l_partkey",
            F.coalesce("rk_now", F.col("w_now")).alias("rk_now"),
            F.coalesce("rk_prev", F.col("w_prev")).alias("rk_prev"),
            F.coalesce(F.col("rev_now").cast("double"), F.lit(0.0)).alias(
                "rev_now"
            ),
            F.coalesce(F.col("rev_prev").cast("double"), F.lit(0.0)).alias(
                "rev_prev"
            ),
        )
        .select(
            "l_partkey",
            "rk_prev",
            "rk_now",
            (F.col("rk_prev") - F.col("rk_now")).alias("rank_gain"),
            F.round("rev_prev", 6).alias("rev_prev"),
            F.round("rev_now", 6).alias("rev_now"),
        )
    )
    return (
        joined.join(
            F.broadcast(part.select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "l_partkey",
            "p_name",
            "rk_prev",
            "rk_now",
            "rank_gain",
            "rev_prev",
            "rev_now",
        )
        .orderBy(F.abs(F.col("rank_gain")).desc(), F.asc("l_partkey"))
        .limit(topn)
    )


def ab_srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch guard for the even/odd user split: χ²
    goodness-of-fit of the observed cohort sizes against the designed
    50/50 — the FIRST thing to check before reading any A/B readout
    (``ab_test_conversion``/``mde_power`` are meaningless if the
    randomizer is broken), flagged at the conventional p<0.001 χ²(1)
    threshold (10.828).

    Counts are integers; χ² = Σ(o−e)²/e is two exact-ratio terms
    rounded once each. One user-level distinct + one 2-cell aggregate.
    """
    users = events.select("user_id").distinct()
    g = users.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    e = n.cast("double") / F.lit(2.0)
    chi = F.round(
        (F.col("n_a").cast("double") - e) * (F.col("n_a").cast("double") - e)
        / e,
        6,
    ).cast("decimal(18,6)") + F.round(
        (F.col("n_b").cast("double") - e) * (F.col("n_b").cast("double") - e)
        / e,
        6,
    ).cast("decimal(18,6)")
    return g.select(
        "n_a",
        "n_b",
        F.round(
            F.col("n_a").cast("double") / n.cast("double"), 6
        ).alias("share_a"),
        chi.cast("double").alias("srm_chi2"),
        (chi >= F.lit(10.828).cast("decimal(18,6)")).alias("srm_flag"),
    )


def quantile_shift(orders: DataFrame) -> DataFrame:
    """Distribution-shift bridge between the pre/post-1998 order-value
    distributions: exact p10/p50/p90 per period plus their deltas —
    the quantile-level story a mean delta flattens (did the whole
    distribution move, or just one tail?), the descriptive sibling of
    :func:`ks_test`'s yes/no verdict.

    Both periods' quantiles come from the bounded-state histogram
    percentile (one pass, percentile_cont semantics — quantile_cont
    replays them); deltas subtract the ROUNDED quantiles so the bridge
    is a pure function of the reported rows.
    """
    period = F.when(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"),
        F.lit("post"),
    ).otherwise(F.lit("pre"))
    base = orders.select(period.alias("period"), "o_totalprice")
    q = exact_percentiles_by_group(
        base, "period", "o_totalprice", [0.1, 0.5, 0.9]
    ).select(
        "period",
        F.round("p0", 6).alias("p10"),
        F.round("p1", 6).alias("p50"),
        F.round("p2", 6).alias("p90"),
    )
    pre = q.where(F.col("period") == "pre").select(
        F.col("p10").alias("pre_p10"),
        F.col("p50").alias("pre_p50"),
        F.col("p90").alias("pre_p90"),
    )
    post = q.where(F.col("period") == "post").select(
        F.col("p10").alias("post_p10"),
        F.col("p50").alias("post_p50"),
        F.col("p90").alias("post_p90"),
    )
    return pre.crossJoin(post).select(
        "pre_p10",
        "post_p10",
        F.round(F.col("post_p10") - F.col("pre_p10"), 6).alias("d_p10"),
        "pre_p50",
        "post_p50",
        F.round(F.col("post_p50") - F.col("pre_p50"), 6).alias("d_p50"),
        "pre_p90",
        "post_p90",
        F.round(F.col("post_p90") - F.col("pre_p90"), 6).alias("d_p90"),
    )


def session_depth_hist(events: DataFrame, cap: int = 10) -> DataFrame:
    """Session-depth histogram: how many sessions contain exactly k
    events (k capped, tail bucketed) with each bucket's share — the
    full distribution behind ``session_bounce_rate``'s single bounce
    number (a product with many 2-event sessions and a product with
    deep sessions can share a bounce rate).

    Sessions come from the standard 30-minute-gap windows; depths are
    integer counts, the cap bucket keeps output bounded at any scale,
    and shares divide exact integers once. One user-ordered window
    pass + two aggregates.
    """
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(sec).over(w)
    opens = (prev.isNull() | (sec - prev > F.lit(1800))).cast("int")
    sid = F.sum(opens).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessed = events.select("user_id", "ts", "event_id").select(
        "user_id", sid.alias("sid")
    )
    depths = sessed.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("depth")
    )
    bucketed = depths.select(
        F.least(F.col("depth"), F.lit(cap)).alias("depth_bucket")
    )
    counts = bucketed.groupBy("depth_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    tot = counts.agg(F.sum("n_sessions").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "depth_bucket",
        "n_sessions",
        F.round(
            F.col("n_sessions").cast("double") / F.col("t").cast("double"), 6
        ).alias("share"),
    )


def rolling_7d_actives(events: DataFrame) -> DataFrame:
    """Trailing-7-day distinct active users per day (W7AU) — the
    smoothed engagement series between DAU's noise and MAU's lag, and
    NOT derivable from daily counts (distinct doesn't sum): each day's
    window must re-deduplicate users.

    Exact shape: the (day, user) distinct projection joins to a
    day-grid on a 7-day RANGE condition and re-counts distinct per
    window-end day. The join is grid-bounded (days × 7 copies of the
    per-day user sets), not data-bounded — at 100 TB the per-day user
    sets are the only SF-proportional piece and they're already
    deduplicated before fan-out. Integer counts only.
    """
    du = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    grid = du.select("day").distinct().select(
        F.col("day").alias("end_day")
    )
    joined = grid.join(
        du,
        (F.col("day") <= F.col("end_day"))
        & (F.col("day") > F.date_sub(F.col("end_day"), 7)),
    )
    return (
        joined.groupBy("end_day")
        .agg(
            F.countDistinct("user_id").alias("w7au"),
            F.countDistinct("day").cast("bigint").alias("days_in_window"),
        )
        .select(
            F.date_format("end_day", "yyyy-MM-dd").alias("day"),
            F.col("w7au").cast("bigint").alias("w7au"),
            "days_in_window",
        )
    )


def p_chart_errors(events: DataFrame) -> DataFrame:
    """Shewhart p-chart of the daily error share: center line p̄ from
    the pooled totals, per-day 3σ control limits
    p̄ ± 3·√(p̄(1−p̄)/n_day), and an out-of-control flag — the SPC
    discipline (is today's error rate special-cause or just binomial
    noise?) that a bare daily error-rate series can't answer.

    All inputs are exact integer ratios; each limit is one √ on
    engine-identical doubles, rounded; the flag compares the ROUNDED
    day share against the ROUNDED limits so the verdict is a pure
    function of the reported row. One daily aggregate + a broadcast
    1-row pooled total.
    """
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("errs"),
    )
    tot = daily.agg(
        F.sum("n").alias("tn"), F.sum("errs").alias("te")
    )
    pbar = F.col("te").cast("double") / F.col("tn").cast("double")
    sigma = F.sqrt(
        pbar * (F.lit(1.0) - pbar) / F.col("n").cast("double")
    )
    share = F.round(
        F.col("errs").cast("double") / F.col("n").cast("double"), 6
    )
    ucl = F.round(pbar + F.lit(3.0) * sigma, 6)
    lcl = F.round(
        F.greatest(pbar - F.lit(3.0) * sigma, F.lit(0.0)), 6
    )
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            "errs",
            share.alias("p_day"),
            F.round(pbar, 6).alias("p_bar"),
            lcl.alias("lcl"),
            ucl.alias("ucl"),
            ((share > ucl) | (share < lcl)).alias("out_of_control"),
        )
    )


def joint_histogram(lineitem: DataFrame, qty_bins: int = 10, price_bin: float = 10000.0) -> DataFrame:
    """2-D joint histogram of (quantity, price) — the heatmap behind
    "are big orders also expensive orders", with each cell's share and
    its independence-expected share so excess concentration reads off
    directly (cell lift, the binned cousin of ``mutual_information``).

    Bins are integer floor indices (quantity is already integral;
    price divides by a fixed width — `div` both engines); marginals
    come from windows over the CELL GRID (bounded), and every share is
    an exact integer ratio rounded once. One fact aggregate, grid-side
    everything else.
    """
    # `div`, not `/`: Spark's / on bigints is double division (and
    # DuckDB's twin is //) — the bin index must stay on the int lattice
    qb = F.least(
        F.expr(f"CAST(l_quantity AS BIGINT) * {qty_bins} div 51"),
        F.lit(qty_bins - 1).cast("bigint"),
    ).cast("bigint")
    pb = F.floor(F.col("l_extendedprice") / F.lit(price_bin)).cast("bigint")
    cells = lineitem.groupBy(
        qb.alias("qty_bin"), pb.alias("price_bin")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wq = Window.partitionBy("qty_bin")
    wp = Window.partitionBy("price_bin")
    wall = Window.partitionBy()
    return cells.select(
        "qty_bin",
        "price_bin",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(wall).cast("double"),
            6,
        ).alias("share"),
        F.round(
            (
                F.sum("n").over(wq).cast("double")
                / F.sum("n").over(wall).cast("double")
            )
            * (
                F.sum("n").over(wp).cast("double")
                / F.sum("n").over(wall).cast("double")
            ),
            6,
        ).alias("expected_share"),
    )


def anova_hour_of_day(events: DataFrame) -> DataFrame:
    """One-way ANOVA of hourly event counts across the 24 hour-of-day
    groups: F = MS_between / MS_within — the significance test behind
    ``seasonal_hourly``'s pattern ("is the diurnal cycle real or just
    count noise?"), computed from exact integer moments.

    The centered sums of squares use the integer lattice twice: SS_tot
    from n·x−Σx over all cells, SS_between from the group totals —
    both exact BIGINT/DECIMAL until the final two divisions. Hours
    with data only (the grid is the observed (day, hour) cell set);
    df are integers carried through.
    """
    cells = events.groupBy(
        F.to_date("ts").alias("day"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    g = cells.groupBy("hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(
            (F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
        ).alias("sgg"),
    )
    tot = g.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("sg").cast("decimal(38,0)").alias("s"),
        F.sum("sgg").cast("decimal(38,0)").alias("ss"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        # sg²/ng per group rounds to 6dp DECIMAL before the sum — a
        # raw double Σ over the 24 groups would be engine-order
        # dependent; sg² stays exact in double below 2^53 (documented
        # bound: sg < 9.4e7 events per hour-of-day group)
        F.sum(
            F.round(
                F.col("sg").cast("double") * F.col("sg").cast("double")
                / F.col("ng").cast("double"),
                6,
            ).cast("decimal(28,6)")
        ).alias("sb_raw"),
    )
    nd = F.col("n").cast("double")
    ss_tot = F.col("ss").cast("double") - (
        F.col("s").cast("double") * F.col("s").cast("double") / nd
    )
    ss_b = F.col("sb_raw").cast("double") - (
        F.col("s").cast("double") * F.col("s").cast("double") / nd
    )
    ss_w = ss_tot - ss_b
    df_b = (F.col("k") - 1).cast("double")
    df_w = (F.col("n") - F.col("k")).cast("double")
    # try_divide throughout: a zero within-group SS (or a single
    # group) makes the ratio undefined — NULL, not an ANSI crash
    return tot.select(
        F.col("n").alias("n_cells"),
        F.col("k").alias("n_groups"),
        F.round(F.try_divide(ss_b, df_b), 6).alias("ms_between"),
        F.round(F.try_divide(ss_w, df_w), 6).alias("ms_within"),
        F.round(
            F.try_divide(
                F.try_divide(ss_b, df_b), F.try_divide(ss_w, df_w)
            ),
            6,
        ).alias("f_stat"),
    )


def open_order_age(orders: DataFrame) -> DataFrame:
    """Open-order backlog ages: for still-open orders ('O'/'P'), days
    since order date relative to the dataset's clock (max order date) —
    count, mean and exact p50/p90 per status, the receivables-aging
    question every ops dashboard carries.

    Ages are exact integer days against a broadcast 1-row max;
    percentiles ride the bounded-state histogram formulation; the mean
    divides exact integers once. Nothing beyond one status-filtered
    aggregate + the histogram.
    """
    mx = orders.agg(F.max("o_orderdate").alias("d_max"))
    aged = (
        orders.where(F.col("o_orderstatus").isin("O", "P"))
        .crossJoin(F.broadcast(mx))
        .select(
            "o_orderstatus",
            F.datediff(F.to_date("d_max"), F.to_date("o_orderdate")).alias(
                "age_d"
            ),
        )
    )
    stats = aged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_open"),
        F.sum(F.col("age_d").cast("decimal(18,0)")).alias("s_age"),
    )
    q = exact_percentiles_by_group(
        aged, "o_orderstatus", "age_d", [0.5, 0.9]
    ).select(
        "o_orderstatus",
        F.round("p0", 6).alias("p50_age_d"),
        F.round("p1", 6).alias("p90_age_d"),
    )
    return stats.join(q, "o_orderstatus").select(
        "o_orderstatus",
        "n_open",
        F.round(
            F.col("s_age").cast("double") / F.col("n_open").cast("double"),
            6,
        ).alias("mean_age_d"),
        "p50_age_d",
        "p90_age_d",
    )


def wilson_ci_types(events: DataFrame, z: float = 1.96) -> DataFrame:
    """Wilson score confidence interval for the user-level conversion
    rate of each event type: of the distinct users who emitted the type,
    what fraction also purchased — with the interval an A/B readout
    would put around that rate (the z-test twins, funnel_significance /
    ab_test_conversion, report point estimates; this adds the bounds).

    Exactness: x and n are exact distinct counts, p = x/n is one IEEE
    divide, and the Wilson terms use only +,·,/,sqrt — all
    correctly-rounded IEEE ops — with the expression tree written
    identically in the DuckDB oracle, so the 6dp final round is safe.

    Scale: two distinct-user aggregates (shuffle keyed on user_id,
    map-side combined) and a broadcast join of the per-type rows.
    """
    purchasers = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    base = (
        events.select("event_type", "user_id")
        .distinct()
        .join(purchasers.withColumn("conv", F.lit(1)), "user_id", "left")
    )
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.coalesce(F.col("conv"), F.lit(0)))
        .cast("bigint")
        .alias("n_conv"),
    )
    n = F.col("n_users").cast("double")
    p = F.col("n_conv").cast("double") / n
    z2 = F.lit(z) * F.lit(z)
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    half = F.lit(z) * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    )
    return agg.select(
        "event_type",
        "n_users",
        "n_conv",
        F.round(p, 6).alias("conv_rate"),
        F.round((center - half) / denom, 6).alias("wilson_low"),
        F.round((center + half) / denom, 6).alias("wilson_high"),
    )


def lift_gain_deciles(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Lift/cumulative-gain table: score customers by account balance
    (ties broken by key so NTILE is total-ordered), label them by
    whether they ever ordered, and report per-decile response rate,
    cumulative capture of all converters, and lift vs the base rate —
    the model-quality chart behind every targeting decision.

    NTILE(10) remainder semantics (first buckets get the extra row)
    match between Spark and DuckDB; everything else is exact integer
    counts and single IEEE divides.

    Scale: the label is a semi-join aggregate on o_custkey; the decile
    assignment is one global sort of the (small) customer dim — for a
    fact-sized scoring table this becomes a range-partitioned sort,
    which Spark's window on an empty PARTITION BY already compiles to.
    """
    labeled = customer.select("c_custkey", "c_acctbal").join(
        orders.select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("label", F.lit(1)),
        "c_custkey",
        "left",
    )
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    dec = labeled.select(
        F.ntile(10).over(w).alias("decile"),
        F.coalesce(F.col("label"), F.lit(0)).alias("label"),
    )
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("n_pos"),
    )
    wc = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_pos = F.sum("n_pos").over(wc)
    tot_pos = F.sum("n_pos").over(tot)
    tot_n = F.sum("n").over(tot)
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    base = tot_pos.cast("double") / tot_n.cast("double")
    return agg.select(
        "decile",
        "n",
        "n_pos",
        F.round(rate, 6).alias("response_rate"),
        F.round(
            cum_pos.cast("double") / tot_pos.cast("double"), 6
        ).alias("cum_capture"),
        F.round(rate / base, 6).alias("lift"),
    ).orderBy("decile")


def order_lines_hist(lineitem: DataFrame) -> DataFrame:
    """Distribution of line-items per order: for each order size k, how
    many orders have exactly k lines, their share of orders, share of
    line volume, and the cumulative order share — the basket-size
    histogram that sizes batch/packing decisions downstream.

    Exact integer counts; the only doubles are single divides.

    Scale: one orderkey aggregate (map-side combined) then a k-bounded
    (k ≤ 7 in TPC-H) second aggregate; the cumulative window runs over
    those ≤ a-few-dozen rows.
    """
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    hist = per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = Window.orderBy("n_lines").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot_orders = F.sum("n_orders").over(tot)
    tot_lines = F.sum(F.col("n_lines") * F.col("n_orders")).over(tot)
    return hist.select(
        "n_lines",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double") / tot_orders.cast("double"),
            6,
        ).alias("order_share"),
        F.round(
            (F.col("n_lines") * F.col("n_orders")).cast("double")
            / tot_lines.cast("double"),
            6,
        ).alias("line_share"),
        F.round(
            F.sum("n_orders").over(cum).cast("double")
            / tot_orders.cast("double"),
            6,
        ).alias("cum_order_share"),
    ).orderBy("n_lines")


def user_type_entropy(events: DataFrame) -> DataFrame:
    """Per-user behavioral entropy (nats) over the event-type
    distribution: H = ln(n) − (Σ c·ln c)/n, with both transcendental
    pieces rounded to 6dp and carried as DECIMAL before the final
    combine (the repo's ln-discipline) — a user-diversity feature and a
    bot-detection signal (near-zero entropy = single-action automation).

    Scale: one (user, type) aggregate then a per-user aggregate — both
    map-side combined, state bounded by users × 5 types; no window, no
    explode.
    """
    ut = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_user = ut.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("int").alias("distinct_types"),
        F.sum(
            F.round(
                F.col("c").cast("double") * F.log(F.col("c").cast("double")),
                6,
            ).cast("decimal(28,6)")
        ).alias("s_clnc"),
    )
    ln_n = F.round(F.log(F.col("n_events").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    return per_user.select(
        "user_id",
        "n_events",
        "distinct_types",
        F.round(
            ln_n.cast("double")
            - F.col("s_clnc").cast("double")
            / F.col("n_events").cast("double"),
            6,
        ).alias("entropy_nats"),
    )


def weekday_seasonality(orders: DataFrame) -> DataFrame:
    """Day-of-week seasonality of order flow: orders and revenue per
    weekday (0 = Sunday, matching DuckDB's dayofweek), each as a share
    of the total, plus the traffic index vs a uniform week — the
    seasonality profile capacity planning reads before anything fancier
    (its monthly sibling is revenue_mom; the hourly one, seasonal_hourly).

    Revenue sums ride DECIMAL(18,2) casts (o_totalprice carries 2dp, so
    the cast is exact and the sum order-independent); shares are single
    IEEE divides; the index multiplies a share by an exact 7.

    Scale: one 7-group aggregate, map-side combined; the share windows
    run over 7 rows.
    """
    agg = orders.groupBy(
        (F.dayofweek("o_orderdate") - F.lit(1)).alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    order_share = F.col("n_orders").cast("double") / F.sum(
        "n_orders"
    ).over(tot).cast("double")
    rev_share = F.col("rev").cast("double") / F.sum("rev").over(tot).cast(
        "double"
    )
    return agg.select(
        "dow",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.round(order_share, 6).alias("order_share"),
        F.round(rev_share, 6).alias("revenue_share"),
        F.round(order_share * F.lit(7.0), 6).alias("traffic_index"),
    ).orderBy("dow")


def abc_classification(lineitem: DataFrame) -> DataFrame:
    """ABC inventory classification: rank parts by discounted revenue,
    walk the cumulative revenue share, and bin A (first 80% of the
    revenue mass), B (next 15%), C (tail) — the Pareto cut every
    inventory/assortment review starts from. One summary row per class:
    part count, class revenue, and the class's share of total revenue.

    Per-part revenue is the exact DECIMAL sum of
    extendedprice*(1-discount); the cumulative walk orders by
    (revenue DESC, partkey) — a total order, so the class boundary is
    deterministic. Shares are single IEEE divides of doubles cast from
    identical decimals, so the <=0.80 / <=0.95 boundary comparisons
    agree across engines bit-for-bit.

    Scale: the quadratic-looking cumulative share runs over the *part
    aggregate* (one row per part), not the fact table; the only
    fact-table pass is one map-side-combined groupBy. The single-
    partition window over parts is vocabulary-bounded (#parts), the
    standard cap for a ranked-share walk; at true 100 TB part counts
    the same walk runs on the two-level prefix-sum used by
    global_row_number.
    """
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC) - _dec("l_discount")
    )
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(disc_price).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_share = F.sum("rev").over(w).cast("double") / F.sum("rev").over(
        tot
    ).cast("double")
    classed = per_part.select(
        "rev",
        F.when(cum_share <= 0.80, "A")
        .when(cum_share <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    cls_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum("rev").alias("crev"),
        )
        .select(
            "abc_class",
            "n_parts",
            F.col("crev").cast("double").alias("class_revenue"),
            F.round(
                F.col("crev").cast("double")
                / F.sum("crev").over(cls_tot).cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


def single_source_risk(lineitem: DataFrame) -> DataFrame:
    """Single-source procurement risk: for each part with meaningful
    volume (>= 5 lineitems), how concentrated its supply is — supplier
    count, total revenue, the top supplier (by revenue, partkey-stable
    tie-break) and that supplier's revenue share. Top 20 by share then
    partkey: the parts a supply-chain review flags first.

    Revenue is the exact DECIMAL discounted sum per (part, supplier);
    the share is one IEEE divide of doubles cast from identical
    decimals, so the ranking total order (share DESC, partkey) is
    engine-independent.

    Scale: one fact-table groupBy on the composite key (map-side
    combined), then a per-part window over the *supplier-per-part*
    aggregate — bounded by suppliers-per-part, never rows. The final
    top-20 is a TakeOrdered, no global sort materialized.
    """
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC) - _dec("l_discount")
    )
    per_ps = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(disc_price).alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    wp = Window.partitionBy("l_partkey")
    wr = Window.partitionBy("l_partkey").orderBy(
        F.col("rev").desc(), F.col("l_suppkey")
    )
    ranked = per_ps.select(
        "l_partkey",
        "l_suppkey",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_suppliers"),
        F.sum("n_lines").over(wp).alias("n_lines"),
        F.sum("rev").over(wp).alias("tot_rev"),
        F.col("rev").alias("top_rev"),
    ).where((F.col("rn") == 1) & (F.col("n_lines") >= 5))
    # Rank and cut on the UNROUNDED share (identical doubles in any
    # engine); round only in the final projection — 6dp rounding could
    # otherwise merge distinct shares right at the top-20 boundary.
    share = F.col("top_rev").cast("double") / F.col("tot_rev").cast("double")
    return (
        ranked.select(
            F.col("l_partkey").alias("p_partkey"),
            "n_suppliers",
            "n_lines",
            F.col("tot_rev").cast("double").alias("revenue"),
            F.col("l_suppkey").alias("top_suppkey"),
            share.alias("share_raw"),
        )
        .orderBy(F.col("share_raw").desc(), "p_partkey")
        .limit(20)
        .select(
            "p_partkey",
            "n_suppliers",
            "n_lines",
            "revenue",
            "top_suppkey",
            F.round(F.col("share_raw"), 6).alias("top_share"),
        )
    )


def k_anonymity(customer: DataFrame) -> DataFrame:
    """k-anonymity audit over the customer table: treating
    (nation, market segment, account-balance band of 1000) as the
    quasi-identifier, report the equivalence-class profile — class
    count, the smallest class (the dataset's k), how many classes fall
    below k=5 and k=10, and the share of customers sitting in a
    sub-5 class — the first number a privacy review asks for before a
    data release.

    The band is floor(acctbal/1000): one IEEE divide plus floor,
    identical across engines (negative balances land in band -1 in
    both). Everything else is exact integer counting.

    Scale: one groupBy on the QI triple (map-side combined,
    cardinality-bounded by the QI domain) and one single-row summary
    aggregate over the classes. No row-level data leaves the
    executors.
    """
    qi = customer.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("bigint")
        .alias("bal_band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    return qi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("k").alias("min_k"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_k_lt_5"),
        F.sum(F.when(F.col("k") < 10, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_k_lt_10"),
        F.sum("k").cast("bigint").alias("n_customers"),
        F.round(
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0)).cast(
                "double"
            )
            / F.sum("k").cast("double"),
            6,
        ).alias("at_risk_share"),
    )


def ship_delay_percentiles(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Order-to-ship latency SLA: exact p50/p90/p99 of the
    (shipdate - orderdate) gap in days, per order priority — the
    fulfilment latency scoreboard, computed with the bounded-state
    exact-percentile histogram (exact_percentiles_by_group) rather
    than the builtin's per-group value buffer.

    The gap is an exact integer day count; the percentile
    interpolation is the builtin Percentile evaluator's arithmetic on
    those integers, so quantile_cont agrees bit-for-bit.

    Scale: the orderkey equi-join is the canonical big-big shuffle
    join (bucketing co-locates it in a real deployment; AQE handles
    skew here); the percentile state is bounded by *distinct day
    gaps* (a few thousand), not rows.
    """
    gaps = lineitem.join(
        orders.select("o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "delay_days"
        ),
    )
    pct = exact_percentiles_by_group(
        gaps, "o_orderpriority", "delay_days", [0.5, 0.9, 0.99]
    )
    return pct.select(
        "o_orderpriority",
        F.round(F.col("p0"), 6).alias("p50_days"),
        F.round(F.col("p1"), 6).alias("p90_days"),
        F.round(F.col("p2"), 6).alias("p99_days"),
    )


def repeat_purchase(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Repeat-purchase economics per market segment: customers, repeat
    customers (>= 2 orders), repeat rate, mean orders per customer, and
    the share of segment revenue arriving after each customer's first
    order — the number that justifies (or kills) a retention budget.

    A customer's order sequence is ranked by (orderdate, orderkey) — a
    total order, so "first order" is deterministic. Revenue rides
    DECIMAL(18,2) sums (o_totalprice carries 2dp); rates are single
    IEEE divides.

    Scale: one window over per-customer order sequences (bounded by
    orders-per-customer), one segment aggregate; the customer join
    broadcasts the dimension side at test scale and shuffles cleanly
    beyond it.
    """
    wr = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    seq = orders.select(
        "o_custkey",
        F.col("o_totalprice").cast(DEC).alias("price"),
        F.row_number().over(wr).alias("rn"),
    )
    per_cust = seq.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("price").alias("rev"),
        F.sum(F.when(F.col("rn") >= 2, F.col("price"))).alias("repeat_rev"),
    )
    joined = per_cust.join(
        customer.select("c_custkey", "c_mktsegment"),
        per_cust.o_custkey == F.col("c_custkey"),
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("repeat_customers"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum("rev").alias("rev"),
        F.sum("repeat_rev").alias("repeat_rev"),
    )
    return agg.select(
        "c_mktsegment",
        "n_customers",
        "repeat_customers",
        F.round(
            F.col("repeat_customers").cast("double")
            / F.col("n_customers").cast("double"),
            6,
        ).alias("repeat_rate"),
        F.round(
            F.col("n_orders").cast("double")
            / F.col("n_customers").cast("double"),
            6,
        ).alias("orders_per_customer"),
        F.round(
            F.coalesce(F.col("repeat_rev"), F.lit(0).cast(DEC)).cast(
                "double"
            )
            / F.col("rev").cast("double"),
            6,
        ).alias("repeat_revenue_share"),
    )


def decile_migration(orders: DataFrame) -> DataFrame:
    """Customer spend-decile migration matrix between two consecutive
    years (1997 -> 1998): rank customers active in each year by annual
    spend, cut into deciles, and count the (from, to) transitions for
    customers active in both — the movement matrix a retention /
    upsell review reads (mass on the diagonal = stable book; below =
    churn risk).

    Annual spend is an exact DECIMAL(18,2) sum; the rank orders by
    (spend DESC, custkey) — a total order on exact values — and the
    decile is pure integer arithmetic ``(rn-1)*10 DIV n + 1``, so the
    cut points are engine-independent (no ntile, whose tie placement
    is implementation-defined).

    Scale: one groupBy over two years of orders, two windows over the
    per-(year, customer) aggregate, one self-join on custkey. The
    matrix is <= 100 rows.
    """
    spend = (
        orders.where(F.year("o_orderdate").isin(1997, 1998))
        .groupBy(
            F.year("o_orderdate").alias("yr"),
            "o_custkey",
        )
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("spend"))
    )
    deciled = spend.select(
        "yr",
        "o_custkey",
        # Integer DIV keeps the decile cut exact — Spark's DIV is the
        # bigint twin of DuckDB's // (no double divide in the path).
        F.expr(
            "(CAST(row_number() OVER (PARTITION BY yr ORDER BY spend DESC,"
            " o_custkey) - 1 AS BIGINT) * 10)"
            " DIV count(1) OVER (PARTITION BY yr) + 1"
        ).alias("decile"),
    )
    a = deciled.where(F.col("yr") == 1997).select(
        "o_custkey", F.col("decile").alias("decile_from")
    )
    b = deciled.where(F.col("yr") == 1998).select(
        "o_custkey", F.col("decile").alias("decile_to")
    )
    return (
        a.join(b, "o_custkey")
        .groupBy("decile_from", "decile_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


def ucb_allocation(events: DataFrame) -> DataFrame:
    """UCB1 bandit snapshot over event-type "arms": pulls, mean reward
    (the event ``value``), and the UCB1 score
    ``mean + sqrt(2 ln N / n)`` per arm — which arm an explore/exploit
    allocator plays next given the log so far (the experimentation
    family's bandit sibling to ab_test_conversion / mde_power).

    Rewards sum as 6dp DECIMAL quantizations (order-independent); the
    single ln(N) is rounded to 6dp before use — the transcendental
    discipline — and the rest is sqrt/divide/add on identical doubles,
    so the scores agree bit-for-bit across engines.

    Scale: one map-side-combined aggregate over the fact table; the
    arm list is event-type-bounded.
    """
    per_arm = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pulls"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(28,6)")).alias(
            "sv"
        ),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_total = F.sum("n_pulls").over(tot)
    ln_n = F.round(F.log(n_total.cast("double")), 6)
    mean = F.col("sv").cast("double") / F.col("n_pulls").cast("double")
    ucb = mean + F.sqrt(
        F.lit(2.0) * ln_n / F.col("n_pulls").cast("double")
    )
    return per_arm.select(
        "event_type",
        "n_pulls",
        F.round(mean, 6).alias("mean_reward"),
        F.round(ucb, 6).alias("ucb_score"),
    )


def return_rate_by_brand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Return-quality scorecard per brand: lineitems, returned lineitems
    (``l_returnflag = 'R'``), the return rate, and the share of the
    brand's discounted revenue that walked back out the door — the
    merchandising view of returns (q10 gives the customer view).

    Revenue rides exact DECIMAL sums; rates are single IEEE divides.

    Scale: one fact-table aggregate after a broadcast join to the part
    dimension; output is brand-bounded.
    """
    disc_price = _dec("l_extendedprice") * (
        F.lit(1).cast(DEC) - _dec("l_discount")
    )
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        lineitem.l_partkey == F.col("p_partkey"),
    )
    agg = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("n_returned"),
        F.sum(disc_price).alias("rev"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", disc_price)
        ).alias("ret_rev"),
    )
    return agg.select(
        "p_brand",
        "n_lines",
        "n_returned",
        F.round(
            F.col("n_returned").cast("double")
            / F.col("n_lines").cast("double"),
            6,
        ).alias("return_rate"),
        F.round(
            F.coalesce(F.col("ret_rev"), F.lit(0).cast(DEC)).cast("double")
            / F.col("rev").cast("double"),
            6,
        ).alias("returned_revenue_share"),
    )


def segment_spend_outliers(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Tukey-fence spend outliers per market segment: exact Q1/Q3 of
    per-customer total spend (bounded-state percentile histogram), the
    1.5·IQR upper fence, and how many customers sit above it — the
    whale-detection readout segment planning starts from.

    Spend is an exact DECIMAL sum cast once to double; the quartiles
    reuse exact_percentiles_by_group (bit-identical to the builtin),
    and the fence comparison runs on identical doubles in any engine.

    Scale: one orders aggregate, a broadcast dimension join, quartiles
    over the per-(segment, spend) histogram, and one summary aggregate.
    """
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("spend"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", F.col("spend").cast("double").alias("sp"))
    )
    q = exact_percentiles_by_group(
        per_cust, "c_mktsegment", "sp", [0.25, 0.75]
    ).select(
        "c_mktsegment",
        F.col("p0").alias("q1"),
        F.col("p1").alias("q3"),
    )
    fenced = per_cust.join(q, "c_mktsegment")
    fence = F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))
    return (
        fenced.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.max("q1").alias("q1r"),
            F.max("q3").alias("q3r"),
            F.sum(F.when(F.col("sp") > fence, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.max("sp").alias("top"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            F.round(F.col("q1r"), 6).alias("q1"),
            F.round(F.col("q3r"), 6).alias("q3"),
            "n_outliers",
            F.round(F.col("top"), 6).alias("top_spend"),
        )
    )


def discount_curve(lineitem: DataFrame) -> DataFrame:
    """Discount effectiveness curve: for each discount level (integer
    percent — the raw double is never a grouping key), line count, mean
    quantity, discounted revenue, and the level's share of total
    revenue — the curve a pricing review reads before touching the
    discount ladder (price_elasticity fits the log-log slope; this is
    the raw shape).

    Quantities and revenue sum as exact DECIMALs; means and shares are
    single IEEE divides.

    Scale: one map-side-combined aggregate; the share window runs over
    ~11 rows.
    """
    agg = lineitem.groupBy(
        F.round(F.col("l_discount") * 100, 0).cast("int").alias(
            "discount_pct"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(_dec("l_quantity")).alias("sq"),
        F.sum(
            _dec("l_extendedprice")
            * (F.lit(1).cast(DEC) - _dec("l_discount"))
        ).alias("rev"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return agg.select(
        "discount_pct",
        "n_lines",
        F.round(
            F.col("sq").cast("double") / F.col("n_lines").cast("double"), 6
        ).alias("avg_qty"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double")
            / F.sum("rev").over(tot).cast("double"),
            6,
        ).alias("revenue_share"),
    ).orderBy("discount_pct")


def sla_trend(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Fulfilment SLA trend: per order month, the share of lineitems
    shipped within 30 days of the order date — the time series an ops
    review tracks (ship_delay_percentiles gives the distribution at a
    point; this is its drift over time).

    The gap is an exact integer day count and the share one IEEE
    divide.

    Scale: the orderkey equi-join is the canonical big-big shuffle
    join; the monthly rollup is map-side combined and month-bounded.
    """
    j = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("gap"),
    )
    return (
        j.groupBy("yr", "mo")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("gap") <= 30, 1).otherwise(0))
            .cast("bigint")
            .alias("n_within"),
        )
        .select(
            "yr",
            "mo",
            "n_lines",
            "n_within",
            F.round(
                F.col("n_within").cast("double")
                / F.col("n_lines").cast("double"),
                6,
            ).alias("within_30d_share"),
        )
    )


def duplicate_orders(orders: DataFrame) -> DataFrame:
    """Double-entry audit: customers who placed MORE THAN ONE order on
    the same calendar day — the suspect groups a billing review walks
    first (same buyer, same day: retries, double-submits, split
    bookings). One row per (customer, day) group with the order count,
    the summed amount, and the bracketing order keys (the DQ battery
    checks schema rules; this checks the money).

    Amounts sum as exact DECIMAL(18,2); the day key is the date value
    itself, never a float.

    Scale: one map-side-combined groupBy on the (customer, day) pair;
    only groups with >1 order survive, so the output is anomaly-sized.
    """
    g = orders.groupBy(
        "o_custkey",
        F.col("o_orderdate").alias("odate"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).alias("amount"),
        F.min("o_orderkey").alias("first_orderkey"),
        F.max("o_orderkey").alias("last_orderkey"),
    )
    return g.where(F.col("n_orders") > 1).select(
        "o_custkey",
        F.date_format("odate", "yyyy-MM-dd").alias("order_date"),
        "n_orders",
        F.col("amount").cast("double").alias("total_amount"),
        "first_orderkey",
        "last_orderkey",
    )


def session_type_lift(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Within-session event-type affinity: for every type pair, the
    number of sessions containing both and the lift vs independence
    (``P(a,b) / (P(a)·P(b))`` over sessions) — market-basket analysis
    where the basket is a behavioral session rather than an order
    (market_basket_pairs' clickstream twin).

    Sessions split on >``gap_minutes`` inactivity via the lag-then-
    cumsum idiom (integer epoch-second arithmetic, exact); pair/type
    probabilities are exact integer counts over sessions with single
    IEEE divides at the end.

    Scale: sessionization is one user-keyed exchange; distinct types
    per session bound the pair fan-out by |types|² per session; the
    pair aggregate is map-side combined and type-bounded.
    """
    gap_s = gap_minutes * 60
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag(sec).over(w).isNull() | (sec - F.lag(sec).over(w) > gap_s), 1
    ).otherwise(0)
    sess = events.select(
        "user_id",
        "event_type",
        F.sum(new_sess)
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("session_seq"),
    )
    st = sess.select("user_id", "session_seq", "event_type").distinct()
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_sessions = (
        st.select("user_id", "session_seq")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    )
    singles = st.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a")
    )
    a = st.alias("a")
    b = st.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_seq") == F.col("b.session_seq"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    j = (
        pairs.join(
            F.broadcast(singles.select(F.col("event_type").alias("type_a"),
                                       F.col("n_a").alias("ca"))),
            "type_a",
        )
        .join(
            F.broadcast(singles.select(F.col("event_type").alias("type_b"),
                                       F.col("n_a").alias("cb"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_sessions))
    )
    lift = (
        F.col("n_both").cast("double") * F.col("n_sessions").cast("double")
    ) / (F.col("ca").cast("double") * F.col("cb").cast("double"))
    return j.select(
        "type_a",
        "type_b",
        "n_both",
        F.round(
            F.col("n_both").cast("double")
            / F.col("n_sessions").cast("double"),
            6,
        ).alias("support"),
        F.round(lift, 6).alias("lift"),
    )


def chisq_uniform_props(events: DataFrame) -> DataFrame:
    """One-way chi-square goodness-of-fit of the JSON ``props.k`` field
    against a uniform distribution over its mod-10 buckets — the DQ
    probe that catches a skewed upstream id generator (the two-way
    sibling, chi_square_independence, tests association between two
    observed columns; this tests one column against a NULL MODEL).

    The statistic is Σ (O-E)²/E with O exact integers and E = n/10 one
    exact divide; terms quantize to DECIMAL before summing. The 5%
    critical value for df=9 (16.919) is a literal, so the reject flag
    is engine-independent (no chi-square CDF in either engine).

    Scale: one JSON extraction + mod-10 aggregate, map-side combined;
    the statistic folds 10 rows.
    """
    k = F.get_json_object("props", "$.k").cast("bigint")
    buckets = (
        events.select(F.pmod(k, F.lit(10)).alias("b"))
        .where(F.col("b").isNotNull())
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    e = F.sum("o").over(tot).cast("double") / F.lit(10.0)
    term = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    staged = buckets.select(
        "o",
        F.round(term, 10).cast("decimal(28,10)").alias("tq"),
    )
    agg = staged.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("tq").cast("double").alias("chi2"),
    )
    return agg.select(
        "n",
        "n_buckets",
        F.round(F.col("chi2"), 6).alias("chi2"),
        (F.col("chi2") > F.lit(16.919)).alias("reject_uniform_5pct"),
    )


def shapley_attribution(events: DataFrame) -> DataFrame:
    """Exact Shapley-value channel attribution: each non-purchase event
    type is a marketing "channel", a user converts if they have >=1
    purchase, and every channel's credit is its exact Shapley value over
    the coalition game v(S) = observed conversion rate of users whose
    touched-channel set is exactly S (unobserved subsets contribute
    v = 0) — the fairness-axiomatic upgrade to the linear/position
    attribution entries, computable exactly because the channel universe
    is small (2^n coalition masks, n = distinct event types - 1).

    Scale shape: users collapse to ONE bitmask row each (two narrow
    aggregations), masks collapse to 2^n stat rows, and the Shapley sum
    runs on the 2^n x n coalition lattice — data-size-independent after
    the per-user rollup, so 100x the events is 100x a shuffle-light
    pre-agg and the same tiny lattice join. Determinism: every term is
    integer arithmetic (factorial weights, c/t count fractions kept as
    BIGINT cross-products) up to ONE IEEE division, rounded to 9 and
    summed as exact DECIMAL.
    """
    channels = (
        events.where(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("channel"))
        .distinct()
        .select(
            "channel",
            (
                F.row_number().over(Window.orderBy("channel")) - 1
            ).cast("bigint").alias("idx"),
        )
    )
    n1 = channels.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    touched = (
        events.join(
            F.broadcast(channels),
            events["event_type"] == channels["channel"],
        )
        .select("user_id", "idx")
        .distinct()
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), idx)"))
            .cast("bigint")
            .alias("mask")
        )
    )
    users = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("converted")
    )
    mask_stats = (
        users.join(touched, "user_id", "left")
        .select(
            F.coalesce(F.col("mask"), F.lit(0)).alias("mask"), "converted"
        )
        .groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("t"),
            F.sum("converted").cast("bigint").alias("c"),
        )
    )
    all_masks = n1.select(
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.expr("CAST(pow(2, n) AS BIGINT) - 1"),
            )
        ).alias("mask")
    )
    v = all_masks.join(mask_stats, "mask", "left").select(
        "mask",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        F.coalesce(F.col("t"), F.lit(1)).cast("bigint").alias("t"),
    )
    s = v.select(
        F.col("mask").alias("s_mask"),
        F.col("c").alias("s_c"),
        F.col("t").alias("s_t"),
    )
    si = v.select(
        F.col("mask").alias("si_mask"),
        F.col("c").alias("si_c"),
        F.col("t").alias("si_t"),
    )
    # coalition lattice: (channel i, mask S without i) -> S ∪ {i}; the
    # whole frame is 2^n * n rows, so plain inner joins stay tiny
    lattice = (
        channels.crossJoin(F.broadcast(n1))
        .join(
            F.broadcast(s),
            F.expr("(shiftright(s_mask, CAST(idx AS INT)) & 1) = 0"),
        )
        .join(
            F.broadcast(si),
            F.expr(
                "si_mask = s_mask + shiftleft(CAST(1 AS BIGINT), idx)"
            ),
        )
    )
    term = F.round(
        (
            F.factorial(F.bit_count("s_mask").cast("int"))
            * F.factorial(
                (F.col("n") - 1 - F.bit_count("s_mask")).cast("int")
            )
            * (F.col("si_c") * F.col("s_t") - F.col("s_c") * F.col("si_t"))
        ).cast("double")
        / (
            F.factorial(F.col("n").cast("int"))
            * F.col("si_t")
            * F.col("s_t")
        ).cast("double"),
        9,
    ).cast("decimal(20,9)")
    return (
        lattice.select("channel", term.alias("term"))
        .groupBy("channel")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("shapley_credit"))
    )


def eb_shrunk_return_rates(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-brand return
    rates: fit the Beta prior by method-of-moments across brands, then
    shrink each brand's raw rate toward the grand prior in proportion
    to its evidence — small brands move a lot, big brands barely — the
    ranking-stabilizer every marketplace "worst brands" report needs
    (raw rates crown whichever small brand got unlucky).

        m, v   = mean / variance of raw brand rates (rounded-decimal
                 means — exact associative sums)
        α+β    = m(1−m)/v − 1,  α = m·(α+β)
        shrunk = (returns + α) / (n + α + β)

    Scale shape: one brand join (part side broadcast), one brand-keyed
    partial agg (25 rows), MoM scalars via a second tiny agg broadcast
    back. Degenerate v = 0 (all brands identical) yields NULL shrink
    via NULLIF rather than a divide-by-zero.
    """
    rated = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem["l_partkey"] == part["p_partkey"],
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("r"),
        )
        .select(
            "p_brand",
            "n",
            "r",
            F.round(
                F.col("r").cast("double") / F.col("n").cast("double"), 6
            ).alias("rate"),
        )
    )
    m1 = rated.agg(
        F.expr(
            "CAST(SUM(CAST(rate AS DECIMAL(18,6))) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE)"
        ).alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    m2 = (
        rated.crossJoin(F.broadcast(m1))
        .select(
            F.expr(
                "CAST(ROUND((rate - m) * (rate - m), 12)"
                " AS DECIMAL(28,12)) AS dv"
            ),
            "m",
            "k",
        )
        .groupBy("m", "k")
        .agg(
            F.expr(
                "CAST(SUM(dv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
            ).alias("v")
        )
    )
    prior = m2.select(
        "m",
        "v",
        F.expr("m * (1.0 - m) / NULLIF(v, 0.0) - 1.0").alias("ab"),
    ).select(
        "m",
        "v",
        "ab",
        F.expr("m * ab").alias("alpha"),
    )
    return (
        rated.crossJoin(F.broadcast(prior))
        .select(
            "p_brand",
            "n",
            "r",
            "rate",
            F.round(F.col("alpha"), 6).alias("alpha"),
            F.round(F.expr("ab - alpha"), 6).alias("beta"),
            F.round(
                F.expr(
                    "(CAST(r AS DOUBLE) + alpha)"
                    " / (CAST(n AS DOUBLE) + ab)"
                ),
                6,
            ).alias("shrunk_rate"),
        )
    )


def croston_intermittent(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Croston's method for intermittent demand, per part: exponential
    smoothing of the non-zero demand SIZES (z) and of the gaps BETWEEN
    demand days (p) — forecast rate = z/p — the supply-chain standard
    for sparse series where plain EWMA collapses toward zero between
    orders (most parts sell on a handful of days).

    α = 1/2 keeps both recurrences dyadic-exact (the ``holt_forecast``
    discipline): z folds over day-ordered demand sizes from z₁ = q₁,
    p folds over inter-demand gaps from p₂ = i₂, every step an exact
    add-and-halve — no libm, no rounding until the final z/p division.

    Scale shape: one (part, day) partial agg, then one part-keyed
    aggregation whose per-group state is that part's demand-DAY list —
    bounded by the calendar, not order volume. Parts with a single
    demand day have no interval and are excluded (no rate exists).
    """
    daily = (
        lineitem.join(
            orders.select("o_orderkey", "o_orderdate"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy(
            F.col("l_partkey").alias("p_partkey"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.sum("l_quantity").cast("double").alias("q"))
    )
    grouped = daily.groupBy("p_partkey").agg(
        F.array_sort(F.collect_list(F.struct("day", "q"))).alias("dq")
    )
    qarr = F.transform(F.col("dq"), lambda s: s["q"])
    darr = F.transform(F.col("dq"), lambda s: s["day"])
    k = F.size("dq")
    arrs = grouped.select(
        "p_partkey",
        k.alias("n_demand_days"),
        qarr.alias("qarr"),
        F.zip_with(
            F.slice(darr, 2, k - 1),
            F.slice(darr, 1, k - 1),
            lambda a, b: F.datediff(a, b).cast("double"),
        ).alias("iarr"),
    ).where(F.col("n_demand_days") >= 2)
    halve = lambda acc, x: (x + acc) * F.lit(0.5)  # noqa: E731
    z = F.aggregate(
        F.slice("qarr", 2, F.col("n_demand_days") - 1),
        F.element_at("qarr", 1),
        halve,
    )
    p = F.aggregate(
        F.slice("iarr", 2, F.col("n_demand_days") - 2),
        F.element_at("iarr", 1),
        halve,
    )
    return arrs.select(
        "p_partkey",
        "n_demand_days",
        F.round(z, 6).alias("size_smooth"),
        F.round(p, 6).alias("interval_smooth"),
        F.round(z / p, 6).alias("demand_rate"),
    )


def matrix_profile_hourly(events: DataFrame, w: int = 24) -> DataFrame:
    """Matrix-profile motif & discord discovery per event type: slide a
    ``w``-hour window over the hourly count series, compute every
    window's euclidean distance to every other window outside its
    exclusion zone (|i−j| ≥ w, the standard trivial-match guard), and
    report the closest pair (the MOTIF — the day-pattern that repeats
    most exactly) and the window farthest from its own nearest
    neighbour (the DISCORD — the most anomalous day) — the
    matrix-profile primitive behind time-series anomaly mining, as two
    joins instead of the sequential STAMP scan.

    Scale shape: the series collapses to the bounded hourly grid first
    (one partial-agg shuffle; the window count is calendar-bound, not
    event-bound), subsequences materialize once via a 24-row window
    collect, and the pair matrix is grid² — independent of event
    volume. Distances are left-to-right folds of exact-count
    differences (bit-equal to the oracle's list_reduce); winners are
    picked with fully-ordered row_numbers so ties cannot flip.
    """
    from .similarity_helpers import sqdist_unrolled

    # densified grid: hours with zero events are REAL zeros in the
    # series, not gaps — otherwise a "24-hour" subsequence silently
    # spans calendar holes on sparse event types and motif/discord
    # semantics skew (ADVICE r5). sequence() between each type's min
    # and max hour is calendar-bounded, so the grid stays tiny.
    counted = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    grid = counted.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    ).select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    hourly = grid.join(counted, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("x", F.lit(0.0)).alias("x")
    )
    frame = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, w - 1)
    )
    idx = Window.partitionBy("event_type").orderBy("hour")
    wins = (
        hourly.select(
            "event_type",
            F.row_number().over(idx).alias("i"),
            F.collect_list("x").over(frame).alias("arr"),
        )
        .where(F.size("arr") == w)
        .persist()
    )
    a = wins.select(
        F.col("event_type"), F.col("i").alias("ai"), F.col("arr").alias("aa")
    )
    b = wins.select(
        F.col("event_type").alias("bt"),
        F.col("i").alias("bi"),
        F.col("arr").alias("ba"),
    )
    # unrolled codegen fold: the nested HOF (aggregate over zip_with)
    # evaluates INTERPRETED once per candidate pair (measured ~50× slower).
    # Same left-to-right fold from the 0.0 seed, so every distance is
    # bit-identical to the HOF form and to the oracle's list_reduce.
    d2 = sqdist_unrolled("aa", "ba", w, "0.0D")
    pairs = (
        a.join(
            b,
            (F.col("event_type") == F.col("bt"))
            & (F.col("ai") + w <= F.col("bi")),
        )
        .select("event_type", "ai", "bi", d2.alias("d2"))
        .persist()
    )
    motif = (
        pairs.select(
            "event_type",
            "ai",
            "bi",
            "d2",
            F.row_number()
            .over(
                Window.partitionBy("event_type").orderBy("d2", "ai", "bi")
            )
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("ai").alias("motif_i"),
            F.col("bi").alias("motif_j"),
            F.round(F.sqrt("d2"), 6).alias("motif_dist"),
        )
    )
    prof = (
        pairs.select("event_type", F.col("ai").alias("i"), "d2")
        .unionAll(pairs.select("event_type", F.col("bi").alias("i"), "d2"))
        .groupBy("event_type", "i")
        .agg(F.min("d2").alias("md"))
    )
    discord = (
        prof.select(
            "event_type",
            "i",
            "md",
            F.row_number()
            .over(
                Window.partitionBy("event_type").orderBy(
                    F.col("md").desc(), "i"
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("i").alias("discord_i"),
            F.round(F.sqrt("md"), 6).alias("discord_dist"),
        )
    )
    from ..sources.catalog import finish_cached

    return finish_cached(motif.join(discord, "event_type"), wins, pairs)


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def correlation_matrix(lineitem: DataFrame) -> DataFrame:
    """All-pairs Pearson correlation across the lineitem numeric
    columns from ONE scan: every moment (Σx, Σx², Σxy) accumulates in
    the same partial-aggregated pass, then the 6 pairwise correlations
    assemble from the 1-row moment frame — the table-profiling step
    before any feature selection, at scan cost independent of the pair
    count.

    Determinism: per-row products round to 4 dp and sum as exact
    DECIMAL; each correlation is the textbook moment formula evaluated
    on identical doubles with NULLIF guarding constant columns.
    """
    aggs = [F.count(F.lit(1)).cast("double").alias("n1")]
    for i, a in enumerate(_CORR_COLS):
        aggs.append(
            F.sum(F.round(F.col(a), 4).cast("decimal(28,4)"))
            .cast("double")
            .alias(f"s{i}")
        )
        for j, b in enumerate(_CORR_COLS):
            if j >= i:
                aggs.append(
                    F.sum(
                        F.round(F.col(a) * F.col(b), 4).cast(
                            "decimal(38,4)"
                        )
                    )
                    .cast("double")
                    .alias(f"s{i}{j}")
                )
    m = lineitem.agg(*aggs)
    outs = []
    for i, a in enumerate(_CORR_COLS):
        for j, b in enumerate(_CORR_COLS):
            if j > i:
                num = f"(n1 * s{i}{j} - s{i} * s{j})"
                den = (
                    f"(sqrt(n1 * s{i}{i} - s{i} * s{i})"
                    f" * sqrt(n1 * s{j}{j} - s{j} * s{j}))"
                )
                outs.append(
                    m.select(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        F.expr(
                            f"ROUND({num} / NULLIF({den}, 0.0), 6)"
                        ).alias("pearson_r"),
                        F.col("n1").cast("bigint").alias("n"),
                    )
                )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


def mann_kendall_trend(orders: DataFrame) -> DataFrame:
    """Mann–Kendall non-parametric trend test on the daily order-count
    series: S = Σ_{i<j} sign(xⱼ − xᵢ) over all day pairs, variance with
    the tie correction, z = (S ∓ 1)/√Var — the distribution-free "is
    this metric actually trending" gate that pairs with
    ``theil_sen_trend``'s slope estimate (same series, test + size).

    Scale shape: the series is calendar-bounded (one partial-agg
    shuffle), the pair matrix is days² — data-size-free; S and both
    variance terms stay exact integers until the final z division.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(F.signum(F.col("xb") - F.col("xa")).cast("bigint"))
            .cast("bigint")
            .alias("s")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    return (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s",
            F.expr(
                "(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)"
                " / 18.0) AS var_s"
            ),
        )
        .select(
            "n",
            "s",
            F.round(F.col("var_s"), 6).alias("var_s"),
            F.round(
                F.expr(
                    "CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)"
                    " / sqrt(var_s)"
                    " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)"
                    " / sqrt(var_s)"
                    " ELSE 0.0 END"
                ),
                6,
            ).alias("z"),
        )
        .select(
            "n",
            "s",
            "var_s",
            "z",
            (F.abs(F.col("z")) > 1.96).alias("trending_5pct"),
        )
    )


def markov_removal_attribution(
    events: DataFrame, gap_minutes: int = 30, iters: int = 12
) -> DataFrame:
    """Markov removal-effect attribution: model each session as a
    first-order chain over channels with absorbing states CONVERSION
    (first purchase — the session truncates there) and DROPOUT
    (session end), estimate P(conversion | start) by ``iters`` rounds
    of fixed-point value iteration, then re-estimate with each channel
    REMOVED (its incoming mass becomes dropout) — the removal effect
    1 − P₋c/P is the chain-based answer to "what would conversions be
    without this channel", the counterfactual companion to
    :func:`shapley_attribution`'s cooperative-game answer.

    Exactness: transition counts are exact integers; one value-iteration
    round per (variant, state) is ONE IEEE division of an exact-BIGINT
    numerator (Σ c·v in micro-units + conversion mass) by the exact
    out-degree — the ``logistic_gd`` fixed-point discipline — and BOTH
    engines run the identical fixed horizon, so truncation error is
    shared, not drift. After the sessionized pair count every structure
    is vocabulary-sized — (channels+2)² transition rows — so the fixed
    point iterates driver-side on the collected matrix (a bounded
    control-plane collect; the distributed rounds were measured pure
    job-launch latency at any corpus size).
    """
    gap_s = gap_minutes * 60
    sec = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    opens = (
        F.lag(sec).over(w).isNull() | (sec - F.lag(sec).over(w) > gap_s)
    ).cast("int")
    seq = events.select(
        "user_id", "ts", "event_id", "event_type", opens.alias("opens")
    ).withColumn(
        "sid",
        F.sum("opens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    wsall = Window.partitionBy("user_id", "sid")
    pos = seq.select(
        "user_id",
        "sid",
        "event_type",
        "ts",
        "event_id",
        F.row_number().over(ws).alias("pos"),
    ).withColumn(
        "firstp",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).over(wsall),
    )
    kept = pos.where(
        F.col("firstp").isNull() | (F.col("pos") <= F.col("firstp"))
    )
    wk = Window.partitionBy("user_id", "sid").orderBy("pos")
    wkall = Window.partitionBy("user_id", "sid")
    stepped = kept.select(
        "user_id",
        "sid",
        "event_type",
        "pos",
        F.lead("event_type").over(wk).alias("nxt"),
        F.max("pos").over(wkall).alias("lastpos"),
    )
    state = F.when(F.col("event_type") == "purchase", "__conv__").otherwise(
        F.col("event_type")
    )
    nxt_state = F.when(F.col("nxt") == "purchase", "__conv__").otherwise(
        F.col("nxt")
    )
    pairs = (
        stepped.where(F.col("pos") == 1)
        .select(F.lit("__start__").alias("src"), state.alias("dst"))
        .unionAll(
            stepped.where(
                F.col("nxt").isNotNull()
                & (F.col("event_type") != "purchase")
            ).select(state.alias("src"), nxt_state.alias("dst"))
        )
        .unionAll(
            stepped.where(
                (F.col("pos") == F.col("lastpos"))
                & (F.col("event_type") != "purchase")
            ).select(state.alias("src"), F.lit("__end__").alias("dst"))
        )
    )
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )

    # The transition matrix is control-plane-sized — (channels+2)^2
    # rows, the same class as the convergence probes — so after the one
    # data-sized sessionization the fixed point runs DRIVER-SIDE
    # (VERDICT r5 item 5: the 12 distributed rounds were pure job-launch
    # latency, ~16.7 s at sf0.1 for a few-hundred-row state). The
    # arithmetic is bit-identical to the replay: exact-int message sums
    # (< 2^53, so the float conversion is exact), ONE IEEE division per
    # (variant, state) per round, ties-away rounding back to micro-unit
    # BIGINT (C-round semantics == Spark/DuckDB ROUND on these values).
    import math

    def _cround(x: float) -> int:
        f = math.floor(x)
        return int(f) + (1 if x - f >= 0.5 else 0)

    rows = counts.collect()
    chans = sorted(
        c
        for c in {r.src for r in rows} | {r.dst for r in rows}
        if c not in ("__start__", "__conv__", "__end__")
    )
    vstart = {}
    for variant in chans + ["__full__"]:
        cm: dict = {}
        outc: dict = {}
        ted: dict = {}
        for r in rows:
            if r.src == variant:
                continue
            outc[r.src] = outc.get(r.src, 0) + r.c
            if r.dst == "__conv__":
                cm[r.src] = cm.get(r.src, 0) + r.c
            elif r.dst != "__end__" and r.dst != variant:
                ted.setdefault(r.src, []).append((r.dst, r.c))
        v = {s: 0 for s in outc}
        for _ in range(iters):
            v = {
                s: _cround(
                    (
                        sum(c * v.get(d, 0) for d, c in ted.get(s, ()))
                        + cm.get(s, 0) * 1000000
                    )
                    / outc[s]
                )
                for s in outc
            }
        vstart[variant] = v.get("__start__", 0)

    spark = events.sparkSession
    starts = spark.createDataFrame(
        [(va, vstart[va]) for va in chans + ["__full__"]],
        "variant string, v long",
    )
    full = starts.where(F.col("variant") == "__full__").select(
        F.col("v").alias("vf")
    )
    return (
        starts.where(F.col("variant") != "__full__")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("variant").alias("channel"),
            F.round(F.col("vf") / F.lit(1000000.0), 6).alias("p_conv_full"),
            F.round(F.col("v") / F.lit(1000000.0), 6).alias(
                "p_conv_removed"
            ),
            F.round(
                F.lit(1.0)
                - F.col("v").cast("double")
                / F.expr("NULLIF(CAST(vf AS DOUBLE), 0.0)"),
                6,
            ).alias("removal_effect"),
        )
    )


def band_join_parts(part: DataFrame, delta: float = 0.25) -> DataFrame:
    """Band (inequality-window) self-join: within-brand part pairs whose
    retail prices differ by at most ``delta`` — the |a−b| ≤ δ join shape
    (price matching, sensor alignment, fuzzy reconciliation) that a
    naive plan executes as a cartesian-per-key filter.

    Plan: EQUI-join on (brand, price bucket) with one side exploded to
    its bucket and the two neighbors — any pair within δ lands in the
    same or adjacent floor(price/δ) buckets, so the bucket join is a
    complete candidate generator (a theorem, like the neardup box
    bound) and each qualifying pair matches exactly once (a's single
    bucket hits exactly one of b's three). The exact |diff| ≤ δ filter
    then prunes the 3× candidate overhang. Shuffle is hash-partitioned
    on (brand, bucket) — bounded cells, no cartesian anywhere; at 100×
    the cost tracks candidates (≈ 3× output), not block².
    """
    bucket = F.floor(F.col("p_retailprice") / F.lit(delta))
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_retailprice").alias("price_a"),
        bucket.alias("bk"),
    )
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_retailprice").alias("price_b"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("bk"),
    )
    return (
        a.join(b, ["brand", "bk"])
        .where(
            (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.col("price_a") - F.col("price_b")) <= delta)
        )
        .select(
            "brand",
            "key_a",
            "key_b",
            F.round(F.abs(F.col("price_a") - F.col("price_b")), 6).alias(
                "price_diff"
            ),
        )
    )


#: Abramowitz–Stegun 26.2.17 normal-tail coefficients, shared verbatim with
#: the DuckDB oracle (registry embeds repr() of these same floats so both
#: engines evaluate an identical expression tree).
AS_NORMAL_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978,
               1.330274429)
AS_NORMAL_P = 0.2316419
INV_SQRT_2PI = 0.3989422804014327
#: Binomial null for the hour-of-day uniformity probe: p0 = 1/24.
BH_P0 = 1.0 / 24.0
BH_VARF = BH_P0 * (1.0 - BH_P0)


def _normal_upper_tail(az):
    """1 - Φ(az) for az ≥ 0 via A&S 26.2.17 (|error| < 7.5e-8), written in
    Horner form so the oracle's identically-parenthesized SQL reproduces
    the same IEEE evaluation order."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(AS_NORMAL_P) * az)
    b1, b2, b3, b4, b5 = AS_NORMAL_B
    poly = t * (
        F.lit(b1)
        + t * (F.lit(b2) + t * (F.lit(b3) + t * (F.lit(b4) + t * F.lit(b5))))
    )
    return F.lit(INV_SQRT_2PI) * F.exp(-(az * az) / F.lit(2.0)) * poly


def bh_fdr(events: DataFrame, alpha: float = 0.05) -> DataFrame:
    """Benjamini–Hochberg FDR control over a battery of m = |types|×24
    hour-of-day uniformity tests: for each (event_type, hour) cell, a
    binomial z-test of the observed count against the uniform 1/24 share
    of that type's events, p-values via the A&S normal-tail polynomial,
    then the BH step-up rule (reject all hypotheses ranked ≤ the largest
    i with p_(i) ≤ iα/m) — the multiple-testing correction any metrics
    platform needs before reading 120 simultaneous "is this hour hot?"
    probes.

    Cross-engine exactness: counts are exact integers; z is one IEEE
    (obs−np₀)/√(np₀q₀) rounded to 6dp BEFORE the tail evaluation, the
    tail polynomial is Horner-form with literal coefficients embedded
    verbatim in both engines, and p is rounded to 6dp before the BH
    compare — so rank order and the cutoff comparison are pure functions
    of the table. Ranking ties (equal 6dp p) break on (type, hour).

    Scale: one (type, hour) partial aggregate — 120 rows out of any
    event volume — then windows over that control-plane-sized frame.
    """
    cells = events.groupBy(
        F.col("event_type"), F.hour("ts").alias("hod")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    wt = Window.partitionBy("event_type")
    cells = cells.withColumn(
        "n_type", F.sum("obs").over(wt).cast("bigint")
    )
    n = F.col("n_type").cast("double")
    z = F.round(
        (F.col("obs").cast("double") - n * F.lit(BH_P0))
        / F.sqrt(n * F.lit(BH_VARF)),
        6,
    )
    cells = cells.withColumn("z_score", z)
    az = F.abs(F.col("z_score"))
    pval = F.round(
        F.least(F.lit(1.0), F.lit(2.0) * _normal_upper_tail(az)), 6
    )
    cells = cells.withColumn("p_value", pval)
    wr = Window.orderBy("p_value", "event_type", "hod")
    wall = Window.partitionBy()
    cells = (
        cells.withColumn("p_rank", F.row_number().over(wr))
        .withColumn("m", F.count(F.lit(1)).over(wall))
        .withColumn(
            "bh_cutoff",
            F.round(
                F.lit(alpha) * F.col("p_rank").cast("double")
                / F.col("m").cast("double"),
                6,
            ),
        )
    )
    max_pass = F.max(
        F.when(F.col("p_value") <= F.col("bh_cutoff"), F.col("p_rank"))
    ).over(wall)
    return cells.select(
        "event_type",
        "hod",
        "n_type",
        "obs",
        "z_score",
        "p_value",
        "p_rank",
        "bh_cutoff",
        (F.col("p_rank") <= F.coalesce(max_pass, F.lit(0)))
        .cast("int")
        .alias("significant"),
    )


def nelson_aalen_churn(
    orders: DataFrame, churn_gap_days: int = 90
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator over the same customer
    life-table grid as :func:`kaplan_meier_churn`: H(t) = Σ_{j≤t} d_j/n_j
    with the Klein variance Σ d_j/n_j² — the additive twin of the
    product-limit curve, preferred when hazards get compared or fed to a
    proportional-hazards fit.

    Cross-engine exactness is SIMPLER than KM's fold: each increment is
    rounded to 6dp and the cumulative sum runs over DECIMAL(18,6) — and
    decimal addition is exact and order-independent, so a plain window
    cumulative sum replaces the per-step-rounded product fold.

    Scale: identical to KM — one per-customer shuffle, then windows over
    the duration-range-sized grid.
    """
    grid = _life_table_grid(orders, churn_gap_days)
    inc = F.round(
        F.col("d").cast("double") / F.col("n_risk"), 6
    ).cast("decimal(18,6)")
    inc_var = F.round(
        F.col("d").cast("double")
        / (F.col("n_risk").cast("double") * F.col("n_risk")),
        6,
    ).cast("decimal(18,6)")
    wc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return grid.select(
        F.col("t").alias("t_months"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("d_churned"),
        F.col("c").alias("c_censored"),
        F.sum(inc).over(wc).cast("double").alias("cum_hazard"),
        F.sum(inc_var).over(wc).cast("double").alias("cum_hazard_var"),
    )


def yule_walker_ar2(events: DataFrame) -> DataFrame:
    """AR(2) fit per event type via the Yule–Walker equations on the
    ZERO-FILLED hourly count series (dense grid between each type's
    first and last hour, the matrix_profile_hourly grid) — the classic
    "how persistent is this metric?" autoregression behind capacity
    forecasts and anomaly baselines.

    Exact integer lattice: with S = Σx, the scaled autocovariance
    L_k = N²·Σ x_t·x_{t+k} − N·S·(A_k + B_k) + (N−k)·S²  (A_k/B_k the
    head/tail partial sums) equals N³·c_k exactly, carried in
    DECIMAL(38,0) so the N³ scaling cancels in every ratio:
    r_k = L_k/L_0, φ₁ = L_1(L_0−L_2)/(L_0²−L_1²),
    φ₂ = (L_2·L_0 − L_1²)/(L_0²−L_1²) — each ONE double division of
    exact decimals, rounded to 6dp. σ² recomputes from the same raw
    double ratios with an identically-parenthesized tree in the oracle.

    Scale: the dense grid is time-range-bounded (not event-bounded);
    one (type, hour) partial aggregate reduces any event volume to grid
    rows, then per-type windows and a grid-sized final aggregate.
    """
    counted = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    grid = (
        counted.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    hourly = grid.join(counted, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("x", F.lit(0)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    wd = Window.partitionBy("event_type").orderBy(F.desc("hour"))
    lagged = hourly.select(
        "event_type",
        "x",
        F.row_number().over(w).alias("rn"),
        F.row_number().over(wd).alias("rnd"),
        F.lead("x", 1).over(w).alias("xn1"),
        F.lead("x", 2).over(w).alias("xn2"),
    )

    def d19(c):
        return c.cast("decimal(19,0)")

    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(d19(F.col("x")) * d19(F.col("x"))).alias("sxx"),
        F.sum(d19(F.col("x")) * d19(F.col("xn1"))).alias("sp1"),
        F.sum(d19(F.col("x")) * d19(F.col("xn2"))).alias("sp2"),
        F.sum(F.when(F.col("rn") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("rn") <= 2, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("f2"),
        F.sum(F.when(F.col("rnd") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("l1"),
        F.sum(F.when(F.col("rnd") <= 2, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("l2"),
    )
    n = d19(F.col("n_hours"))
    s = d19(F.col("s"))
    lat0 = n * n * F.col("sxx") - n * s * s
    lat1 = (
        n * n * F.col("sp1")
        - n * s * (s - F.col("l1") + s - F.col("f1")).cast("decimal(19,0)")
        + (n - 1) * s * s
    )
    lat2 = (
        n * n * F.col("sp2")
        - n * s * (s - F.col("l2") + s - F.col("f2")).cast("decimal(19,0)")
        + (n - 2) * s * s
    )
    lt = agg.where(F.col("n_hours") >= 3).select(
        "event_type",
        "n_hours",
        lat0.alias("lat0"),
        lat1.alias("lat1"),
        lat2.alias("lat2"),
    ).where(F.col("lat0") != 0)
    l0 = F.col("lat0").cast("double")
    l1_ = F.col("lat1").cast("double")
    l2_ = F.col("lat2").cast("double")
    nd = F.col("n_hours").cast("double")
    r1_raw = l1_ / l0
    r2_raw = l2_ / l0
    c0_raw = l0 / (nd * nd * nd)
    den = l0 * l0 - l1_ * l1_
    phi1_raw = l1_ * (l0 - l2_) / den
    phi2_raw = (l2_ * l0 - l1_ * l1_) / den
    return lt.select(
        "event_type",
        "n_hours",
        F.round(c0_raw, 6).alias("c0"),
        F.round(r1_raw, 6).alias("r1"),
        F.round(r2_raw, 6).alias("r2"),
        F.round(phi1_raw, 6).alias("phi1"),
        F.round(phi2_raw, 6).alias("phi2"),
        F.round(
            c0_raw
            * (F.lit(1.0) - phi1_raw * r1_raw - phi2_raw * r2_raw),
            6,
        ).alias("sigma2"),
    )


def kruskal_wallis(events: DataFrame) -> DataFrame:
    """Kruskal–Wallis H test: do the event types draw their ``value``
    from the same distribution? The k-group generalization of
    mann_whitney — rank everything jointly (midranks for ties), compare
    per-group rank sums, tie-correct — the nonparametric ANOVA a metrics
    platform reaches for when normality is off the table.

    Integer lattice: doubled midranks 2r = 2·(count below) + t + 1 are
    exact integers per distinct value, per-group rank sums R2_g stay
    BIGINT, and with H = 3·Σ R2_g²/n_g /(N(N+1)) − 3(N+1) the halves
    cancel — R2² rides DECIMAL(38,0), each group term rounds to 6dp
    into a DECIMAL(28,6) sum, and only the last few multiplies are
    doubles with an oracle-identical tree. Tie mass Σ(t³−t) is exact
    DECIMAL.

    Scale: one (value → count) vocabulary-style aggregate carries the
    whole ranking — the window walks DISTINCT values, not rows (swap in
    the two-phase global-numbering shape past ~1e8 distincts); group
    stats are a k-row frame.
    """
    vals = events.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    wv = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    vals = vals.select(
        "value",
        "t",
        (
            F.lit(2) * F.coalesce(F.sum("t").over(wv), F.lit(0))
            + F.col("t")
            + 1
        ).alias("mr2"),
    )
    gv = events.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grp = (
        gv.join(vals, "value")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("mr2")).cast("bigint").alias("r2"),
        )
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    agg = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(
            F.round(
                (d19(F.col("r2")) * d19(F.col("r2"))).cast("double")
                / F.col("n_g").cast("double"),
                6,
            ).cast("decimal(28,6)")
        ).alias("s"),
    )
    ties = vals.agg(
        F.sum(d19(F.col("t")) * d19(F.col("t")) * d19(F.col("t")) - d19(F.col("t")))
        .cast("decimal(38,0)")
        .alias("tm")
    )
    nd = F.col("n").cast("double")
    h = (F.lit(3.0) * F.col("s").cast("double")) / (
        nd * (nd + F.lit(1.0))
    ) - F.lit(3.0) * (nd + F.lit(1.0))
    corr = F.lit(1.0) - F.col("tm").cast("double") / (
        nd * nd * nd - nd
    )
    return agg.join(F.broadcast(ties)).select(
        "n",
        F.col("k").alias("k_groups"),
        (F.col("k") - 1).cast("bigint").alias("df"),
        F.round(h, 6).alias("h_stat"),
        F.round(corr, 6).alias("tie_correction"),
        F.round(h / corr, 6).alias("h_adjusted"),
    )


def l_diversity(customer: DataFrame) -> DataFrame:
    """l-diversity audit, the companion to :func:`k_anonymity`: within
    each quasi-identifier class (nation, acctbal band of 1000), how
    diverse is the SENSITIVE attribute (market segment)? Reports
    distinct l-diversity (min distinct sensitive values over classes),
    the entropy-l-diversity floor exp(min class entropy), and how many
    classes fail l=2 / l=3 — the follow-up question a privacy review
    asks after k-anonymity passes, since a uniform class re-identifies
    its members' attribute even at high k.

    Entropy per class is the repo's ln-discipline: p = c/n is an exact
    integer ratio, each −p·ln(p) term rounds to 6dp into a
    DECIMAL(28,6) sum; the class minimum and the exp() at the end are
    single deterministic ops.

    Scale: two nested cardinality-bounded aggregates (QI×sensitive,
    then QI), then a 1-row summary. No row-level egress.
    """
    cell = customer.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("bigint")
        .alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wq = Window.partitionBy("c_nationkey", "bal_band")
    cls = (
        cell.withColumn("n", F.sum("c").over(wq))
        .groupBy("c_nationkey", "bal_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("l_distinct"),
            F.sum(
                F.round(
                    -(F.col("c").cast("double") / F.col("n").cast("double"))
                    * F.log(
                        F.col("c").cast("double") / F.col("n").cast("double")
                    ),
                    6,
                ).cast("decimal(28,6)")
            ).alias("h"),
        )
    )
    return cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("l_distinct").alias("min_l_distinct"),
        F.round(F.exp(F.min(F.col("h").cast("double"))), 6).alias(
            "entropy_l"
        ),
        F.sum(F.when(F.col("l_distinct") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_l_lt_2"),
        F.sum(F.when(F.col("l_distinct") < 3, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_l_lt_3"),
    )


def hot_key_audit(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Join-skew diagnostics — the audit this engine runs on ITSELF
    before shipping a plan to a cluster: for each shuffle key the fact
    tables actually join on (l_orderkey, l_partkey, l_suppkey,
    o_custkey), profile the per-key row mass — max/avg skew factor,
    the hottest key's share, exact p99/p999 of key counts — the numbers
    that decide between a plain shuffle join, AQE skew splitting, or
    salting (SURVEY §6's skew playbook, measured instead of guessed).

    Exact integer counting per key; percentiles are exact
    interpolated quantiles over the KEY-COUNT frame (key-cardinality-
    bounded, not row-bounded); the union of four per-key profiles is
    one row per audited key.

    Scale: each profile is a map-side-combinable count on the join key
    itself, so the audit costs what ONE aggregation per key costs, and
    its shuffle layout matches the join it predicts.
    """

    def profile(df: DataFrame, col: str) -> DataFrame:
        counts = df.groupBy(F.col(col).alias("k")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        return counts.agg(
            F.lit(col).alias("key_col"),
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("c").alias("max_cnt"),
            F.round(
                F.max("c").cast("double")
                * F.count(F.lit(1)).cast("double")
                / F.sum("c").cast("double"),
                6,
            ).alias("skew_max_over_avg"),
            F.round(
                F.max("c").cast("double") / F.sum("c").cast("double"), 6
            ).alias("top1_share"),
            F.round(F.expr("percentile(c, 0.99D)"), 6).alias("p99_cnt"),
            F.round(F.expr("percentile(c, 0.999D)"), 6).alias("p999_cnt"),
        )
    return (
        profile(lineitem, "l_orderkey")
        .unionAll(profile(lineitem, "l_partkey"))
        .unionAll(profile(lineitem, "l_suppkey"))
        .unionAll(profile(orders, "o_custkey"))
    )


def pacf_hourly(events: DataFrame, max_lag: int = 6) -> DataFrame:
    """Partial autocorrelation of the hourly event-count series at lags
    1..``max_lag`` via the Durbin–Levinson recursion — the other half of
    the Box–Jenkins identification pair (:func:`acf_hourly_counts` says
    how far memory reaches; PACF says which AR order explains it, the
    generalization of :func:`yule_walker_ar2` to any order).

    The data-proportional work is exactly the ACF's one grid scan; the
    recursion then runs DRIVER-SIDE on the ``max_lag``-element vector
    (control-plane class). Integer-micro discipline throughout: every
    φ and r lives in 6dp micros, per-term products round half-AWAY-from-
    zero on exact pico integers (signed values — matching Spark/DuckDB
    ROUND on the same decimals), and each reflection coefficient is one
    double division of exact micro differences, so the unrolled DuckDB
    replay matches bit for bit.
    """
    import math

    def away_pico(p: int) -> int:
        return (abs(p) + 500000) // 1000000 * (1 if p >= 0 else -1)

    def away6(x: float) -> int:
        return int(math.floor(abs(x) * 1e6 + 0.5)) * (1 if x >= 0 else -1)

    spark = events.sparkSession
    acf_rows = acf_hourly_counts(events, max_lag=max_lag).collect()
    r = {
        row.lag: away6(row.acf)
        for row in acf_rows
        if row.acf is not None
    }
    if any(k not in r for k in range(1, max_lag + 1)):
        # empty/degenerate series (no events, or a constant grid whose
        # ACF is undefined): emit the empty frame, don't crash the audit
        return spark.createDataFrame(
            [], "lag int, acf double, pacf double"
        )
    phi = {1: r[1]}
    pacf = {1: r[1]}
    for k in range(2, max_lag + 1):
        snum = sum(away_pico(phi[j] * r[k - j]) for j in range(1, k))
        sden = sum(away_pico(phi[j] * r[j]) for j in range(1, k))
        kk = away6(((r[k] - snum) / 1e6) / ((1000000 - sden) / 1e6))
        phi = {
            j: away_pico(phi[j] * 1000000 - kk * phi[k - j])
            for j in range(1, k)
        } | {k: kk}
        pacf[k] = kk
    rows = [
        (k, r[k] / 1e6, pacf[k] / 1e6) for k in range(1, max_lag + 1)
    ]
    return spark.createDataFrame(rows, "lag int, acf double, pacf double")


def negbin_fit(events: DataFrame) -> DataFrame:
    """Negative-binomial method-of-moments fit of the hourly count
    distribution per event type (dense zero-filled grid): mean, sample
    variance, dispersion ratio, and the NB parameters r̂ = m²/(v−m),
    p̂ = m/v — the "is Poisson enough?" answer behind
    overdispersion_index, upgraded to an actual fitted model (and the
    zero fraction the zero-inflation check needs). Types with v ≤ m
    (under-dispersed) report NULL r̂/p̂ — the NB family doesn't cover
    them.

    All moments are exact integer lattices (Σx, Σx² as DECIMAL) with
    identical double trees at the final divisions, rounded 6dp.
    Scale: grid-bounded, one (type, hour) partial aggregate.
    """
    counted = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    grid = (
        counted.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    hourly = grid.join(counted, ["event_type", "hour"], "left").select(
        "event_type", F.coalesce("x", F.lit(0)).alias("x")
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    agg = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(d19(F.col("x")) * d19(F.col("x"))).alias("sxx"),
        F.sum(F.when(F.col("x") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("zeros"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s").cast("double") / nd
    var = (
        nd * F.col("sxx").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (nd * (nd - F.lit(1.0)))
    over = var > m
    return agg.where(F.col("n") >= 2).select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.round(m, 6).alias("mean_cnt"),
        F.round(var, 6).alias("var_cnt"),
        F.round(var / m, 6).alias("dispersion"),
        F.round(F.when(over, m * m / (var - m)), 6).alias("r_hat"),
        F.round(F.when(over, m / var), 6).alias("p_hat"),
        F.round(F.col("zeros").cast("double") / nd, 6).alias("zero_frac"),
    )


#: Gumbel method-of-moments literals, shared verbatim with the oracle.
GUMBEL_SQRT6_OVER_PI = 0.7796968012336761  # sqrt(6)/pi
EULER_GAMMA = 0.5772156649015329


def gumbel_extremes(events: DataFrame) -> DataFrame:
    """Extreme-value analysis of daily PEAK load per event type: fit a
    Gumbel distribution to the block maxima (max hourly count per day —
    the classical Fisher–Tippett block-maximum setup) by method of
    moments, and report the implied 30-day return level — the "what
    peak should capacity planning expect monthly?" number.

    MoM: β̂ = s·√6/π, μ̂ = m − γ·β̂, return level = μ̂ − β̂·ln(−ln(1−1/30)).
    Moments ride the exact integer lattice (Σx, Σx² as DECIMAL over
    daily maxima); the constants are module literals embedded verbatim
    in the oracle, so the double trees match. The −ln(−ln(·)) factor of
    the 30-day level is a Python-computed literal (pure math, no data).

    Scale: (type, day, hour) partial agg → (type, day) max → type-row
    moments. Grid-bounded everywhere.
    """
    import math

    hourly = events.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    daily_max = hourly.groupBy("event_type", "day").agg(
        F.max("x").alias("mx")
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    agg = daily_max.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s"),
        F.sum(d19(F.col("mx")) * d19(F.col("mx"))).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    m = F.col("s").cast("double") / nd
    var = (
        nd * F.col("sxx").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (nd * (nd - F.lit(1.0)))
    beta = F.lit(GUMBEL_SQRT6_OVER_PI) * F.sqrt(var)
    mu = m - F.lit(EULER_GAMMA) * beta
    # -ln(-ln(1 - 1/30)) as a data-free literal (same value both engines)
    t30 = -math.log(-math.log(1.0 - 1.0 / 30.0))
    return agg.where(F.col("n") >= 2).select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(m, 6).alias("mean_peak"),
        F.round(beta, 6).alias("beta_hat"),
        F.round(mu, 6).alias("mu_hat"),
        F.round(mu + F.lit(t30) * beta, 6).alias("return_level_30d"),
    )


def newsvendor_quantile(
    orders: DataFrame, lineitem: DataFrame, part: DataFrame
) -> DataFrame:
    """Newsvendor stocking levels per brand: with underage cost c_u = 3
    and overage c_o = 1, the optimal stock is the q = c_u/(c_u+c_o) =
    0.75 quantile of weekly demand — inventory theory's one-liner, run
    as an exact interpolated quantile over the per-(brand, week) demand
    series, with the mean and the 0.5 quantile alongside for the
    service-level delta.

    Scale: (brand, week) partial agg bounds the quantile input at
    brands×weeks rows regardless of lineitem volume.
    """
    weekly = (
        lineitem.join(
            part.select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
            "l_partkey",
        )
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
            ),
            "l_orderkey",
        )
        .groupBy(
            "p_brand",
            F.weekofyear(F.to_date("o_orderdate")).alias("wk"),
            F.year(F.to_date("o_orderdate")).alias("yr"),
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("demand"))
    )
    return weekly.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.round(
            F.sum("demand").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_demand"),
        F.round(F.expr("percentile(demand, 0.5D)"), 6).alias("median_demand"),
        F.round(F.expr("percentile(demand, 0.75D)"), 6).alias(
            "stock_level_q75"
        ),
    )


def logrank_segments(
    customer: DataFrame, orders: DataFrame, churn_gap_days: int = 90
) -> DataFrame:
    """Two-sample log-rank (Mantel–Cox) test: does the AUTOMOBILE
    segment churn on a different survival curve than everyone else?
    The hypothesis test that completes the survival family — KM draws
    the curves (:func:`kaplan_meier_churn`), Nelson–Aalen integrates
    the hazard, and the log-rank test says whether two curves DIFFER,
    censoring handled exactly (the comparison every retention A/B
    readout should run instead of eyeballing curve gaps).

    At each duration bucket t with d_t > 0 total events, the treated
    group's expected events under H₀ (identical hazards) are
    e₁ = d_t·n₁/n and the hypergeometric variance is
    v = d_t·(n₁/n)·(n₀/n)·(n−d_t)/(n−1); the statistic is
    χ² = (O₁−E₁)²/V with z = (O₁−E₁)/√V and a 1-df p-value via the
    shared A&S normal tail (:func:`_normal_upper_tail`).

    Cross-engine exactness: the life table is all integers; e₁ and v
    round to 6dp into DECIMAL(18,6) sums (exact, order-free), the
    final χ²/z are single IEEE expressions over those decimal sums
    with identical parenthesization in the oracle, and the tail
    polynomial shares repr() literals with the SQL.

    Scale: one per-customer aggregate (min/max order date), one
    customer-dimension join for the segment label, then everything
    runs on the duration-range × 2 grid — control-plane-sized no
    matter the order volume.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    wend = orders.agg(F.max(F.to_date("o_orderdate")).alias("wend"))
    churned = F.datediff(F.col("wend"), F.col("last_d")) > churn_gap_days
    seg = customer.select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("c_mktsegment") == "AUTOMOBILE").cast("int").alias("g"),
    )
    dur = (
        per_cust.join(F.broadcast(wend))
        .join(seg, "o_custkey")
        .select(
            "g",
            churned.cast("int").alias("ev"),
            F.floor(
                F.when(churned, F.datediff("last_d", "first_d"))
                .otherwise(F.datediff("wend", "first_d"))
                / 30
            ).alias("t"),
        )
    )
    totals = dur.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    counted = dur.groupBy("t", "g").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    # dense (t × group) grid so each group's at-risk count is defined at
    # EVERY event time, including buckets where that group has no row
    dense = (
        counted.select("t")
        .distinct()
        .crossJoin(F.broadcast(totals))
        .join(counted, ["t", "g"], "left")
        .select(
            "t",
            "g",
            "n_g",
            F.coalesce("d", F.lit(0)).cast("bigint").alias("d"),
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    at_risk = dense.withColumn(
        "n_risk",
        (
            F.col("n_g")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wcum), F.lit(0))
        ).cast("bigint"),
    )
    g1 = at_risk.where(F.col("g") == 1).select(
        "t", F.col("d").alias("d1"), F.col("n_risk").alias("n1")
    )
    g0 = at_risk.where(F.col("g") == 0).select(
        "t", F.col("d").alias("d0"), F.col("n_risk").alias("n0")
    )
    j = g1.join(g0, "t").where(
        (F.col("d1") + F.col("d0") > 0)
        & (F.col("n1") + F.col("n0") > 1)
        & (F.col("n1") > 0)
        & (F.col("n0") > 0)
    )
    dtd = (F.col("d1") + F.col("d0")).cast("double")
    n1d = F.col("n1").cast("double")
    n0d = F.col("n0").cast("double")
    ntd = (F.col("n1") + F.col("n0")).cast("double")
    e1 = F.round(dtd * n1d / ntd, 6).cast("decimal(18,6)")
    e0 = F.round(dtd * n0d / ntd, 6).cast("decimal(18,6)")
    v = F.round(
        dtd * (n1d / ntd) * (n0d / ntd) * ((ntd - dtd) / (ntd - 1.0)), 6
    ).cast("decimal(18,6)")
    sums = j.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("d0").cast("bigint").alias("o0"),
        F.sum(e1).alias("e1"),
        F.sum(e0).alias("e0"),
        F.sum(v).alias("v"),
    )
    n1_tot = totals.where(F.col("g") == 1).select(
        F.col("n_g").alias("n_treated")
    )
    n0_tot = totals.where(F.col("g") == 0).select(
        F.col("n_g").alias("n_control")
    )
    o1d = F.col("o1").cast("double")
    e1d = F.col("e1").cast("double")
    vd = F.col("v").cast("double")
    z = F.round((o1d - e1d) / F.sqrt(vd), 6)
    chi2 = F.round((o1d - e1d) * (o1d - e1d) / vd, 6)
    out = sums.crossJoin(F.broadcast(n1_tot)).crossJoin(
        F.broadcast(n0_tot)
    )
    out = out.withColumn("z_score", z).withColumn("chi2", chi2)
    pval = F.round(
        F.least(
            F.lit(1.0), F.lit(2.0) * _normal_upper_tail(F.abs(F.col("z_score")))
        ),
        6,
    )
    return out.select(
        "n_treated",
        "n_control",
        F.col("o1").alias("o_treated"),
        F.round(F.col("e1").cast("double"), 6).alias("e_treated"),
        F.col("o0").alias("o_control"),
        F.round(F.col("e0").cast("double"), 6).alias("e_control"),
        "chi2",
        "z_score",
        pval.alias("p_value"),
    )


#: Candidate cycle lengths (hours) probed by :func:`periodogram_hourly`.
PERIODOGRAM_PERIODS = (24, 12, 8, 6)


def periodogram_trig_table() -> list:
    """(period, residue, cos, sin) rows for every phase the periodogram
    can touch — plain Python floats, embedded as literals in BOTH the
    Spark plan (F.lit) and the DuckDB oracle (repr()), so neither engine
    ever calls its own trig library on the hot path and the two
    expression trees see bit-identical constants."""
    import math

    rows = []
    for p in PERIODOGRAM_PERIODS:
        for r in range(p):
            ang = 2.0 * math.pi * r / p
            rows.append((p, r, math.cos(ang), math.sin(ang)))
    return rows


def periodogram_hourly(events: DataFrame) -> DataFrame:
    """Periodogram probe: per event type, the DFT power of the
    ZERO-FILLED hourly count series at the candidate cycle lengths a
    metrics platform actually cares about (24 h daily, 12/8/6 h
    harmonics) — "which rhythm dominates this event stream?" without a
    full FFT. The spectral companion of :func:`acf_hourly` /
    :func:`seasonal_hourly`: those measure self-similarity at a lag,
    this measures energy at a frequency, mean-removed so the DC bulk
    can't drown the cycle.

    Exactness: the dense grid and counts are integers; cos/sin come
    from the shared literal table (:func:`periodogram_trig_table` — no
    libm divergence possible); each x·cosθ product rounds to 6dp into
    a DECIMAL(18,6) sum, the mean correction C' = C − (Σx/n)·Σcosθ and
    power (C'² + S'²)/n are single identically-parenthesized IEEE
    expressions over those decimal sums.

    Scale: one (type, hour) partial aggregate bounds everything at the
    calendar grid; the explode is grid × 4 periods; the trig join is a
    |periods·max_period|-row broadcast. Nothing grows with event
    volume.
    """
    counted = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    grid = (
        counted.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            "h0",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    hourly = grid.join(counted, ["event_type", "hour"], "left").select(
        "event_type",
        F.expr("timestampdiff(HOUR, h0, hour)")
        .cast("bigint")
        .alias("h_idx"),
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
    )
    spark = events.sparkSession
    trig = F.broadcast(
        spark.createDataFrame(
            periodogram_trig_table(),
            "period int, r int, cv double, sv double",
        )
    )
    periods = F.broadcast(
        spark.createDataFrame(
            [(p,) for p in PERIODOGRAM_PERIODS], "period int"
        )
    )
    rowed = (
        hourly.crossJoin(periods)
        .withColumn("r", (F.col("h_idx") % F.col("period")).cast("int"))
        .join(trig, ["period", "r"])
    )
    xd = F.col("x").cast("double")
    sums = rowed.groupBy("event_type", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.round(xd * F.col("cv"), 6).cast("decimal(18,6)")).alias(
            "c"
        ),
        F.sum(F.round(xd * F.col("sv"), 6).cast("decimal(18,6)")).alias(
            "s"
        ),
        F.sum(F.round(F.col("cv"), 6).cast("decimal(18,6)")).alias("kc"),
        F.sum(F.round(F.col("sv"), 6).cast("decimal(18,6)")).alias("ks"),
    )
    nd = F.col("n_hours").cast("double")
    m = F.col("sx").cast("double") / nd
    cc = F.col("c").cast("double") - m * F.col("kc").cast("double")
    ss = F.col("s").cast("double") - m * F.col("ks").cast("double")
    powered = sums.select(
        "event_type",
        "period",
        "n_hours",
        F.round(((cc * cc) + (ss * ss)) / nd, 6).alias("power"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("power"), F.asc("period")
    )
    return powered.select(
        "event_type",
        "period",
        "n_hours",
        "power",
        F.row_number().over(wr).cast("int").alias("power_rank"),
    )


def pairwise_welch_bonferroni(events: DataFrame) -> DataFrame:
    """Post-hoc pairwise comparisons for the event-type means that a
    significant ANOVA leaves unanswered: every unordered type pair gets
    a Welch (unequal-variance) large-sample z-test on ``value``, then
    Bonferroni correction over the k·(k−1)/2 family — the "WHICH groups
    differ?" readout behind :func:`anova_hour_of_day`'s "do any?".

    Exactness: per-type moments are 6dp-rounded DECIMAL(28,6) sums of
    value and value² (order-free); mean and variance are single IEEE
    expressions over those sums rounded to 6dp; z, the A&S-tail
    p-value (shared literal polynomial), and the Bonferroni product
    are each rounded before comparison, so the significance bits are
    pure functions of the table. Large-sample normal reference (the
    per-type n here is thousands), stated in lieu of a t CDF.

    Scale: one partial-agg shuffle to |types| rows; the pair join and
    every window run on that control-plane-sized frame.
    """
    vd = F.col("value").cast("double")
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(vd, 6).cast("decimal(28,6)")).alias("sv"),
        F.sum(F.round(vd * vd, 6).cast("decimal(28,6)")).alias("svv"),
    )
    nd = F.col("n").cast("double")
    svd, svvd = F.col("sv").cast("double"), F.col("svv").cast("double")
    # the summary is |types| rows used by BOTH self-join legs; an eager
    # localCheckpoint materializes it once so the events fact table is
    # scanned/aggregated a single time, not once per leg
    summ = g.select(
        "event_type",
        "n",
        F.round(svd / nd, 6).alias("m"),
        F.round((svvd - (svd * svd) / nd) / (nd - F.lit(1.0)), 6).alias(
            "v"
        ),
    ).localCheckpoint(eager=True)
    a = summ.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("m").alias("mean_a"),
        F.col("v").alias("var_a"),
    )
    b = summ.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("mean_b"),
        F.col("v").alias("var_b"),
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    z = F.round(
        (F.col("mean_a") - F.col("mean_b"))
        / F.sqrt(
            F.col("var_a") / F.col("n_a").cast("double")
            + F.col("var_b") / F.col("n_b").cast("double")
        ),
        6,
    )
    pairs = pairs.withColumn("z_score", z)
    pval = F.round(
        F.least(
            F.lit(1.0),
            F.lit(2.0) * _normal_upper_tail(F.abs(F.col("z_score"))),
        ),
        6,
    )
    wall = Window.partitionBy()
    out = (
        pairs.withColumn("p_value", pval)
        .withColumn("n_tests", F.count(F.lit(1)).over(wall))
        .withColumn(
            "p_bonferroni",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("p_value") * F.col("n_tests").cast("double"),
                ),
                6,
            ),
        )
    )
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(F.col("mean_a") - F.col("mean_b"), 6).alias("mean_diff"),
        "z_score",
        "p_value",
        F.col("n_tests").cast("bigint").alias("n_tests"),
        "p_bonferroni",
        (F.col("p_bonferroni") < 0.05).cast("int").alias("significant"),
    )


def t_closeness(customer: DataFrame) -> DataFrame:
    """t-closeness audit completing the k-anonymity / l-diversity
    privacy trio: for each quasi-identifier class (nation, acctbal
    band), the distance between the class's sensitive-attribute
    (market segment) distribution and the GLOBAL one — for a
    categorical attribute the EMD reduces to total variation,
    t = ½·Σ_c |p_class(c) − p_global(c)|. High-k, high-l classes can
    still leak when their distribution skews far from the table's;
    this is the check that catches it. Reports the worst class t, the
    violating-class counts at the standard 0.2/0.3 thresholds, and the
    share of customers sitting in a t > 0.2 class.

    Exactness: every probability is an exact integer ratio; each
    |p−q| rounds to 6dp into a DECIMAL(18,6) class sum; t is the exact
    binary ½-scaling of that sum rounded once. Missing segments
    contribute their full global mass via the dense class × segment
    grid (zero-filled), in both engines.

    Scale: aggregates bounded by QI × |segments|; the dense grid is a
    broadcast of the 5-row segment list; the summary is one row.
    """
    seg_glob = customer.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("gc")
    )
    n_tot = customer.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cell = customer.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("bigint")
        .alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cls = cell.groupBy("c_nationkey", "bal_band").agg(
        F.sum("c").cast("bigint").alias("n_cls")
    )
    dense = (
        cls.crossJoin(F.broadcast(seg_glob))
        .join(cell, ["c_nationkey", "bal_band", "c_mktsegment"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "c_nationkey",
            "bal_band",
            "n_cls",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
            "gc",
            "n",
        )
    )
    term = F.round(
        F.abs(
            F.col("c").cast("double") / F.col("n_cls").cast("double")
            - F.col("gc").cast("double") / F.col("n").cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    per_cls = dense.groupBy("c_nationkey", "bal_band", "n_cls").agg(
        F.round(F.lit(0.5) * F.sum(term).cast("double"), 6).alias("t")
    )
    return per_cls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.max("t").alias("max_t"),
        F.sum(F.when(F.col("t") > 0.2, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_t_gt_02"),
        F.sum(F.when(F.col("t") > 0.3, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_t_gt_03"),
        F.round(
            F.sum(F.when(F.col("t") > 0.2, F.col("n_cls")).otherwise(0))
            .cast("double")
            / F.sum("n_cls").cast("double"),
            6,
        ).alias("frac_customers_exposed"),
    )


def levene_bf(events: DataFrame) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test of variance
    homogeneity across event types — the assumption check that belongs
    BEFORE :func:`anova_hour_of_day` / `pairwise_welch_bonferroni`
    readings: are the group spreads even comparable? Robust to
    non-normality because deviations are taken from the group MEDIAN.

    W = ((N−k)/(k−1)) · Σ n_g(z̄_g − z̄)² / Σ_g Σ_i (z_gi − z̄_g)² over
    z = |value − median_g|.

    Exactness: medians are exact interpolated percentiles; z moments
    are 6dp-rounded DECIMAL(28,6) sums; group means, the within/between
    terms (each rounded per group into decimal sums), and the final W
    are identically-parenthesized IEEE expressions in both engines.

    Scale: one |types|-row median aggregate broadcast back, one
    map-side-combined moment aggregate, then control-plane math.
    """
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    z = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("value").cast("double") - F.col("med")).alias("z"),
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum(F.round(F.col("z"), 6).cast("decimal(28,6)")).alias("sz"),
        F.sum(
            F.round(F.col("z") * F.col("z"), 6).cast("decimal(28,6)")
        ).alias("szz"),
    )
    nd = F.col("n_g").cast("double")
    szd, szzd = F.col("sz").cast("double"), F.col("szz").cast("double")
    mg = F.round(szd / nd, 6)
    g2 = g.select(
        "event_type",
        "n_g",
        "sz",
        mg.alias("m_g"),
        F.round(szzd - nd * (mg * mg), 6)
        .cast("decimal(28,6)")
        .alias("within_d"),
    )
    tot = g2.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("sz").alias("sz_all"),
        F.sum("within_d").alias("within"),
    ).select(
        "n",
        "k",
        "within",
        F.round(
            F.col("sz_all").cast("double") / F.col("n").cast("double"), 6
        ).alias("gm"),
    )
    bterm = F.round(
        F.col("n_g").cast("double")
        * ((F.col("m_g") - F.col("gm")) * (F.col("m_g") - F.col("gm"))),
        6,
    ).cast("decimal(28,6)")
    btw = (
        g2.crossJoin(F.broadcast(tot))
        .groupBy("n", "k", "within", "gm")
        .agg(F.sum(bterm).alias("between"))
    )
    ndt, kd = F.col("n").cast("double"), F.col("k").cast("double")
    # a group set with zero pooled within-variance (constant |z| in
    # every group) makes W undefined; emit NULL instead of an ANSI
    # divide-by-zero so one degenerate event type can't kill the audit
    w = F.when(
        F.col("within") > 0,
        F.round(
            ((ndt - kd) * F.col("between").cast("double"))
            / ((kd - F.lit(1.0)) * F.col("within").cast("double")),
            6,
        ),
    )
    return btw.select(
        F.col("k").alias("k_groups"),
        "n",
        w.alias("w_stat"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df2"),
    )


def cmh_test(
    customer: DataFrame, orders: DataFrame, churn_gap_days: int = 90
) -> DataFrame:
    """Cochran–Mantel–Haenszel test of segment → churn association
    CONTROLLING for nation: per-nation 2×2 tables (AUTOMOBILE vs rest ×
    churned vs active, the :func:`logrank_segments` churn definition),
    combined into one continuity-corrected χ²(1) and the
    Mantel–Haenszel pooled odds ratio. The stratified design kills the
    confounding a naive pooled 2×2 invites (Simpson's-paradox
    insurance) — the partner readout to the log-rank curve comparison.

    Exactness: all cell counts are integers; per-stratum E = n1·m1/T
    and the hypergeometric V round to 6dp into decimal sums; the
    statistic, the A&S-tail p-value, and the MH odds ratio are single
    identically-parenthesized IEEE expressions over those sums.
    Strata with T < 2 (V undefined) are excluded — in both engines.

    Scale: one per-customer aggregate + one dimension join, then a
    |nations|-row frame does everything else.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d")
    )
    wend = orders.agg(F.max(F.to_date("o_orderdate")).alias("wend"))
    flags = (
        per_cust.join(F.broadcast(wend))
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"),
                "c_nationkey",
                (F.col("c_mktsegment") == "AUTOMOBILE")
                .cast("int")
                .alias("x"),
            ),
            "o_custkey",
        )
        .select(
            "c_nationkey",
            "x",
            (F.datediff(F.col("wend"), F.col("last_d")) > churn_gap_days)
            .cast("int")
            .alias("y"),
        )
    )
    cells = flags.groupBy("c_nationkey").agg(
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("x") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("x")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("x")) * (1 - F.col("y")))
        .cast("bigint")
        .alias("d"),
    )
    t = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    n1 = (F.col("a") + F.col("b")).cast("double")
    n0 = (F.col("c") + F.col("d")).cast("double")
    m1 = (F.col("a") + F.col("c")).cast("double")
    m0 = (F.col("b") + F.col("d")).cast("double")
    e = F.round(n1 * m1 / t, 6).cast("decimal(18,6)")
    v = F.round(
        ((n1 * n0) * (m1 * m0)) / ((t * t) * (t - F.lit(1.0))), 6
    ).cast("decimal(18,6)")
    or_num = F.round(
        F.col("a").cast("double") * F.col("d").cast("double") / t, 6
    ).cast("decimal(18,6)")
    or_den = F.round(
        F.col("b").cast("double") * F.col("c").cast("double") / t, 6
    ).cast("decimal(18,6)")
    sums = cells.where(
        F.col("a") + F.col("b") + F.col("c") + F.col("d") >= 2
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum(e).alias("sum_e"),
        F.sum(v).alias("sum_v"),
        F.sum(or_num).alias("orn"),
        F.sum(or_den).alias("ord"),
    )
    ad = F.col("sum_a").cast("double")
    ed = F.col("sum_e").cast("double")
    vd = F.col("sum_v").cast("double")
    dev = F.abs(ad - ed) - F.lit(0.5)
    cmh = F.when(vd > 0, F.round((dev * dev) / vd, 6))
    out = sums.withColumn("cmh", cmh)
    z = F.sqrt(F.col("cmh"))
    pval = F.round(
        F.least(F.lit(1.0), F.lit(2.0) * _normal_upper_tail(z)), 6
    )
    return out.select(
        "n_strata",
        "sum_a",
        F.round(ed, 6).alias("sum_e"),
        F.round(vd, 6).alias("sum_v"),
        "cmh",
        F.when(F.col("cmh").isNotNull(), pval).alias("p_value"),
        F.when(
            F.col("ord").cast("double") > 0,
            F.round(
                F.col("orn").cast("double") / F.col("ord").cast("double"),
                6,
            ),
        ).alias("or_mh"),
    )


#: N(0,1) quartile breakpoints for the 4-letter SAX alphabet (Lin et
#: al. 2003), shared verbatim with the oracle via repr().
SAX_BREAKPOINTS = (-0.6744897501960817, 0.0, 0.6744897501960817)


def sax_hourly(events: DataFrame, seg_hours: int = 4) -> DataFrame:
    """SAX symbolic representation of each event type's hourly count
    series: z-normalize on the dense grid, average into
    ``seg_hours``-hour PAA segments, quantize against the N(0,1)
    quartile breakpoints into the 4-letter alphabet a<b<c<d, and emit
    the per-type symbol string — the discretization behind symbolic
    motif mining, and a 6-hours-to-1-char sketch a human can read in a
    dashboard ("aaaddd" = quiet night, busy day).

    Exactness: grid counts are integers; mean/std come from exact
    decimal sums (rounded 6dp); each PAA mean divides an exact integer
    sum by the true segment length; the z-quantization compares a
    rounded double against literal breakpoints; the string is an
    ordered aggregation with a full ORDER BY. All replayed in SQL.

    Scale: calendar-bounded after one (type, hour) partial aggregate.
    """
    counted = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    grid = (
        counted.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            "h0",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    hourly = grid.join(counted, ["event_type", "hour"], "left").select(
        "event_type",
        F.expr("timestampdiff(HOUR, h0, hour)").cast("bigint").alias("h"),
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd, sxxd = F.col("sx").cast("double"), F.col("sxx").cast("double")
    stats = stats.select(
        "event_type",
        F.round(sxd / nd, 6).alias("m"),
        F.round(
            F.sqrt((sxxd - (sxd * sxd) / nd) / nd), 6
        ).alias("s"),
    ).where(F.col("s") > 0)
    seg = (
        hourly.select(
            "event_type",
            F.expr(f"h DIV {seg_hours}").alias("seg"),
            "x",
        )
        .groupBy("event_type", "seg")
        .agg(
            F.sum("x").cast("bigint").alias("sx_seg"),
            F.count(F.lit(1)).cast("bigint").alias("len_seg"),
        )
    )
    paa = seg.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "seg",
        F.round(
            (
                F.col("sx_seg").cast("double")
                / F.col("len_seg").cast("double")
                - F.col("m")
            )
            / F.col("s"),
            6,
        ).alias("pz"),
    )
    b1, b2, b3 = SAX_BREAKPOINTS
    sym = (
        F.when(F.col("pz") < F.lit(b1), "a")
        .when(F.col("pz") < F.lit(b2), "b")
        .when(F.col("pz") < F.lit(b3), "c")
        .otherwise("d")
    )
    lettered = paa.select("event_type", "seg", sym.alias("sym"))
    return lettered.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.concat_ws(
            "", F.array_sort(F.collect_list(F.struct("seg", "sym"))).sym
        ).alias("sax"),
    )


def hurst_hourly(events: DataFrame) -> DataFrame:
    """Hurst exponent per event type by the aggregated-variance method:
    block-average the dense hourly count series at sizes m ∈ {1,2,4,8,
    16}, regress ln Var(m) on ln m (Var(m) ~ m^(2H−2) for a
    self-similar process) and report H = 1 + slope/2 — the long-range-
    dependence readout that says whether a load series is bursty at
    EVERY horizon (H→1, capacity planning pain) or averages out like
    iid noise (H≈0.5). Complements ACF/PACF, which only see fixed lags.

    Exactness: block sums are integers, so each Var(m) is one IEEE
    expression over exact sums (rounded 6dp); its ln rounds to 6dp;
    the 5-point OLS runs on DECIMAL sums of those rounded logs with a
    single rounded slope division. Types with any non-positive Var(m)
    (degenerate) drop, in both engines.

    Scale: calendar-bounded — one (type, hour) partial aggregate, then
    5 block aggregations of the grid and a 5-row regression per type.
    """
    counted = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    grid = (
        counted.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            "h0",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    hourly = grid.join(counted, ["event_type", "hour"], "left").select(
        "event_type",
        F.expr("timestampdiff(HOUR, h0, hour)").cast("bigint").alias("h"),
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
    )
    sizes = F.broadcast(
        events.sparkSession.createDataFrame(
            [(1,), (2,), (4,), (8,), (16,)], "m int"
        )
    )
    blocks = (
        hourly.crossJoin(sizes)
        .groupBy(
            "event_type", "m", F.expr("h DIV m").alias("blk")
        )
        .agg(
            F.sum("x").cast("bigint").alias("sb"),
            F.count(F.lit(1)).cast("bigint").alias("lb"),
        )
        .where(F.col("lb") == F.col("m"))  # full blocks only
    )
    bm = F.col("sb").cast("double") / F.col("m").cast("double")
    vstats = blocks.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum(F.round(bm, 6).cast("decimal(28,6)")).alias("s1"),
        F.sum(F.round(bm * bm, 6).cast("decimal(28,6)")).alias("s2"),
    )
    nbd = F.col("nb").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    varm = F.round((s2d - (s1d * s1d) / nbd) / nbd, 6)
    pts = vstats.where(F.col("nb") >= 2).select(
        "event_type",
        "m",
        varm.alias("v"),
    ).where(F.col("v") > 0)
    lx = F.round(F.log(F.col("m").cast("double")), 6)
    ly = F.round(F.log(F.col("v")), 6)
    reg = pts.select(
        "event_type",
        lx.cast("decimal(18,6)").alias("lx"),
        ly.cast("decimal(18,6)").alias("ly"),
        F.round(lx * ly, 6).cast("decimal(18,6)").alias("lxy"),
        F.round(lx * lx, 6).cast("decimal(18,6)").alias("lxx"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum("lxy").alias("sxy"),
        F.sum("lxx").alias("sxx"),
    ).where(F.col("k") >= 3)
    kd = F.col("k").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    slope = F.round(
        (kd * sxyd - sxd * syd) / (kd * sxxd - sxd * sxd), 6
    )
    return reg.select(
        "event_type",
        F.col("k").alias("n_scales"),
        slope.alias("var_slope"),
        F.round(F.lit(1.0) + slope / F.lit(2.0), 6).alias("hurst"),
    )


def ljung_box(events: DataFrame, max_lag: int = 8) -> DataFrame:
    """Ljung–Box portmanteau test on the hourly event-count series: is
    there ANY autocorrelation in the first ``max_lag`` lags, jointly?
    Q = n(n+2)·Σ r_k²/(n−k) against χ²(m) — the one-number "is this
    series white noise?" gate that should precede fitting AR models
    (:func:`yule_walker_ar2`) or reading ACF spikes one at a time.

    The χ²(m) p-value uses the Wilson–Hilferty cube-root normal
    approximation into the shared A&S tail; the cube root is rounded
    to 6dp before use (the module's transcendental discipline).
    r_k come from :func:`acf_hourly_counts` — exact integer lattices.

    Scale: the ACF's one grid scan; everything after is a ≤max_lag-row
    frame.
    """
    acf = acf_hourly_counts(events, max_lag=max_lag)
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    n_row = bounds.select(
        (F.expr("timestampdiff(HOUR, h0, h1)") + 1)
        .cast("bigint")
        .alias("n")
    )
    j = acf.crossJoin(F.broadcast(n_row))
    nd = F.col("n").cast("double")
    kd = F.col("lag").cast("double")
    term = F.round(
        (F.col("acf") * F.col("acf")) / (nd - kd), 6
    ).cast("decimal(18,6)")
    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.min("n").alias("n"),
        F.sum(term).alias("st"),
    )
    nd2 = F.col("n").cast("double")
    q = F.round(
        (nd2 * (nd2 + F.lit(2.0))) * F.col("st").cast("double"), 6
    )
    s = s.withColumn("q_stat", q)
    md = F.col("m").cast("double")
    cb = F.round(F.cbrt(F.col("q_stat") / md), 6)
    z = F.round(
        (cb - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * md)))
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * md)),
        6,
    )
    s = s.withColumn("z_wh", z)
    tail = _normal_upper_tail(F.abs(F.col("z_wh")))
    p = F.round(
        F.when(F.col("z_wh") >= 0, tail).otherwise(F.lit(1.0) - tail), 6
    )
    return s.select(
        F.col("m").alias("n_lags"),
        "n",
        "q_stat",
        "z_wh",
        p.alias("p_value"),
        (p < 0.05).cast("int").alias("reject_white_noise"),
    )


def two_pass_exact_median(lineitem: DataFrame) -> DataFrame:
    """EXACT global median of l_extendedprice by the two-pass histogram
    trick — the way you take an exact order statistic over 100 TB
    without ever sorting (or collecting) the column: pass 1 builds a
    coarse bucket histogram (map-side combined, |buckets| rows out);
    the cumulative histogram locates which bucket holds each median
    rank; pass 2 sorts ONLY inside the hit buckets (a vanishing
    fraction of the data) to extract the order statistics. Spark's own
    ``percentile`` is exact but buffers every group value on one
    reducer — fine at test scale, impossible at corpus scale; this is
    the production substitute, and the oracle proves it equals the
    one-shot interpolated median bit-for-bit.

    Median semantics match ``percentile(x, 0.5)``: for odd n the
    middle value, for even n the midpoint of the two central order
    statistics (one IEEE (a+b)/2).

    Scale: two scans, both fully parallel; the only sort touches rows
    inside the 1-2 hit buckets; the cumulative walk is over the
    |buckets|-row histogram.
    """
    x = F.col("l_extendedprice").cast("decimal(12,2)")
    vals = lineitem.select(x.alias("v"))
    hist = (
        vals.groupBy(F.floor(F.col("v") / F.lit(1000.0)).alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wcum = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "b",
        "c",
        F.coalesce(F.sum("c").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("before"),
    ).localCheckpoint(eager=True)
    n_row = cum.agg(
        F.sum("c").cast("bigint").alias("n")
    ).select(
        "n",
        F.expr("(n + 1) DIV 2").cast("bigint").alias("k_lo"),
        F.expr("n DIV 2 + 1").cast("bigint").alias("k_hi"),
    )
    hit = cum.crossJoin(F.broadcast(n_row)).where(
        (
            (F.col("before") < F.col("k_lo"))
            & (F.col("k_lo") <= F.col("before") + F.col("c"))
        )
        | (
            (F.col("before") < F.col("k_hi"))
            & (F.col("k_hi") <= F.col("before") + F.col("c"))
        )
    )
    # pass 2: rank only within the (at most two) hit buckets
    in_hit = vals.join(
        F.broadcast(hit.select("b", "before", "k_lo", "k_hi")),
        F.floor(F.col("v") / F.lit(1000.0)) == F.col("b"),
    )
    wrank = Window.partitionBy("b").orderBy("v")
    ranked = in_hit.withColumn(
        "r", F.row_number().over(wrank).cast("bigint") + F.col("before")
    )
    stats = ranked.agg(
        F.min("k_lo").alias("k_lo"),
        F.max(F.when(F.col("r") == F.col("k_lo"), F.col("v"))).alias(
            "v_lo"
        ),
        F.max(F.when(F.col("r") == F.col("k_hi"), F.col("v"))).alias(
            "v_hi"
        ),
    ).crossJoin(F.broadcast(n_row.select("n")))
    return stats.select(
        "n",
        F.round(
            (
                F.col("v_lo").cast("double")
                + F.col("v_hi").cast("double")
            )
            / F.lit(2.0),
            6,
        ).alias("median"),
    )


def km_rmst(orders: DataFrame, churn_gap_days: int = 90) -> DataFrame:
    """Restricted mean survival time from the Kaplan–Meier curve: the
    area under the step curve over the observed horizon,
    RMST = 30·Σ_t S(t) days (one 30-day bucket per KM row) — "how many
    retained days does the average customer contribute within the
    window?", the scalar that turns the survival curve into a CLV
    input. Completes KM (curve) / Nelson–Aalen (hazard) / log-rank
    (comparison) / Cox (regression) with the standard summary number.

    Exactness: the KM survival values are already 6dp decimals; their
    decimal sum is exact and the ×30 rescale is one rounded IEEE op.
    """
    km = kaplan_meier_churn(orders, churn_gap_days=churn_gap_days)
    s = km.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.col("survival").cast("decimal(18,6)")).alias("s_sum"),
        F.min(F.col("survival")).alias("s_end"),
    )
    return s.select(
        "n_buckets",
        F.round(F.lit(30.0) * F.col("s_sum").cast("double"), 6).alias(
            "rmst_days"
        ),
        F.col("s_end").alias("survival_at_horizon"),
    )


def max_drawdown(events: DataFrame) -> DataFrame:
    """Maximum drawdown of each event type's cumulative value series —
    the worst peak-to-trough fall of the running total, ordered by
    (ts, event_id). The risk metric finance runs on equity curves,
    equally at home on any additive KPI ("how far below its best has
    cumulative margin sunk?"). Also reports when the trough happened
    and the final level.

    Exactness: per-row values round to 6dp DECIMAL(28,6) once, and the
    running sum / running max / drawdown all stay in decimal (exact,
    order-fixed by the full (ts, event_id) sort) — no floating point
    until the output cast.

    Scale: one window pass per type partition; state is the running
    pair. Types partition the work; nothing is global.
    """
    v = F.round(F.col("value").cast("double"), 6).cast("decimal(28,6)")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = events.select(
        "event_type", "ts", "event_id", v.alias("v")
    ).withColumn("cum", F.sum("v").over(w))
    cum = cum.withColumn("peak", F.max("cum").over(w)).withColumn(
        "dd", F.col("peak") - F.col("cum")
    )
    wrank = Window.partitionBy("event_type").orderBy(
        F.desc("dd"), F.asc("ts"), F.asc("event_id")
    )
    return (
        cum.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("dd").cast("double").alias("max_drawdown"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias(
                "trough_ts"
            ),
            F.col("peak").cast("double").alias("peak_at_trough"),
        )
    )


def theil_decomposition(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Theil-T inequality of customer spend, DECOMPOSED by market
    segment — the property Gini famously lacks: T = T_between +
    T_within exactly, so the readout says how much spend concentration
    lives ACROSS segments vs inside them (the input a mixture/budget
    re-balancer actually needs, vs gini_lorenz's single number).

    Share-weighted forms avoid any 1/n mean (no division ties):
    T = Σ_i (x_i/S)·ln(x_i·n/S); T_between = Σ_g (S_g/S)·ln((S_g·n)/(S·n_g));
    T_within = Σ_g (S_g/S)·T_g. Each term is one ln() of exact ratios
    rounded to 6dp into a DECIMAL sum. Zero-spend customers drop
    (x·ln x → 0 convention), identically in both engines.

    Scale: one per-customer aggregate + dimension join; groups and the
    final sums are |segments|-sized.
    """
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
        )
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
        .where(F.col("x") > 0)
        .persist()
    )
    tot = spend.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("s"),
    )
    xd = F.col("x").cast("double")
    sd = F.col("s").cast("double")
    nd = F.col("n").cast("double")
    t_total = (
        spend.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    (xd / sd) * F.log((xd * nd) / sd), 6
                ).cast("decimal(18,6)")
            ).alias("tt")
        )
        .select(F.round(F.col("tt").cast("double"), 6).alias("theil_total"))
    )
    grp = spend.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("x").alias("s_g"),
    )
    sgd = F.col("s_g").cast("double")
    ngd = F.col("n_g").cast("double")
    per_g = (
        spend.join(
            F.broadcast(grp.select("c_mktsegment", "n_g", "s_g")),
            "c_mktsegment",
        )
        .groupBy("c_mktsegment", "n_g", "s_g")
        .agg(
            F.sum(
                F.round(
                    (xd / F.col("s_g").cast("double"))
                    * F.log(
                        (xd * F.col("n_g").cast("double"))
                        / F.col("s_g").cast("double")
                    ),
                    6,
                ).cast("decimal(18,6)")
            ).alias("tg_dec")
        )
        .select(
            "c_mktsegment",
            "n_g",
            "s_g",
            F.round(F.col("tg_dec").cast("double"), 6).alias("t_g"),
        )
    )
    parts = per_g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.round(
                (sgd / sd) * F.log((sgd * nd) / (sd * ngd)), 6
            ).cast("decimal(18,6)")
        ).alias("tb"),
        F.sum(
            F.round((sgd / sd) * F.col("t_g"), 6).cast("decimal(18,6)")
        ).alias("tw"),
        F.min("n").alias("n"),
    )
    out = parts.crossJoin(F.broadcast(t_total)).select(
        F.col("n").alias("n_customers"),
        "theil_total",
        F.round(F.col("tb").cast("double"), 6).alias("theil_between"),
        F.round(F.col("tw").cast("double"), 6).alias("theil_within"),
        F.when(
            F.col("theil_total") > 0,
            F.round(
                F.col("tb").cast("double") / F.col("theil_total"), 6
            ),
        ).alias("between_share"),
    )
    from ..sources.catalog import finish_cached

    return finish_cached(out, spend)


def price_index_fisher(lineitem: DataFrame) -> DataFrame:
    """Laspeyres, Paasche, and Fisher price indices between the first
    and second halves of the shipping calendar: per part, the average
    unit price and total quantity in each period; then
    L = Σp₁q₀/Σp₀q₀ (base-period basket), P = Σp₁q₁/Σp₀q₁ (current
    basket), Fisher = √(L·P) — the index-number trio behind every
    "are prices actually up?" readout, computed only over parts traded
    in BOTH periods (the matched-sample discipline).

    Exactness: quantities and values are exact decimals; each
    per-part unit price is one rounded division; each basket term
    rounds to 6dp into a DECIMAL sum; the three indices are single
    rounded expressions over those sums.

    Scale: two partial-agg passes collapse the fact table to one row
    per traded part per period; the join and sums are part-bounded.
    """
    bounds = lineitem.agg(
        F.min(F.to_date("l_shipdate")).alias("d0"),
        F.max(F.to_date("l_shipdate")).alias("d1"),
    )
    li = lineitem.crossJoin(F.broadcast(bounds)).select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
        (
            F.datediff(F.to_date("l_shipdate"), F.col("d0"))
            * 2
            <= F.datediff(F.col("d1"), F.col("d0"))
        ).alias("is_base"),
    )
    per = li.groupBy("l_partkey", "is_base").agg(
        F.sum("q").alias("q_tot"), F.sum("v").alias("v_tot")
    )
    price = F.round(
        F.col("v_tot").cast("double") / F.col("q_tot").cast("double"), 6
    )
    base = per.where(F.col("is_base")).select(
        "l_partkey",
        F.col("q_tot").cast("double").alias("q0"),
        price.alias("p0"),
    )
    cur = per.where(~F.col("is_base")).select(
        "l_partkey",
        F.col("q_tot").cast("double").alias("q1"),
        price.alias("p1"),
    )
    j = base.join(cur, "l_partkey")
    dec = lambda c: F.round(c, 6).cast("decimal(28,6)")  # noqa: E731
    sums = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum(dec(F.col("p1") * F.col("q0"))).alias("l_num"),
        F.sum(dec(F.col("p0") * F.col("q0"))).alias("l_den"),
        F.sum(dec(F.col("p1") * F.col("q1"))).alias("p_num"),
        F.sum(dec(F.col("p0") * F.col("q1"))).alias("p_den"),
    )
    lasp = F.round(
        F.col("l_num").cast("double") / F.col("l_den").cast("double"), 6
    )
    paas = F.round(
        F.col("p_num").cast("double") / F.col("p_den").cast("double"), 6
    )
    out = sums.withColumn("laspeyres", lasp).withColumn("paasche", paas)
    return out.select(
        "n_parts",
        "laspeyres",
        "paasche",
        F.round(
            F.sqrt(F.col("laspeyres") * F.col("paasche")), 6
        ).alias("fisher"),
    )


def seasonal_strength(events: DataFrame) -> DataFrame:
    """Hyndman's seasonal-strength statistic per event type:
    F_s = max(0, 1 − Var(remainder)/Var(detrended)) on the dense hourly
    grid, with a centered 24-hour rolling-mean trend and an
    hour-of-day seasonal component — the single number that says
    whether the daily cycle is signal or noise (F_s → 1: rhythm
    dominates; → 0: the "seasonality" is residual variance). The
    decision input for windowing/forecast choices that acf/periodogram
    describe but don't summarize.

    Exactness: grid counts are integers; the trend is one rounded
    division of frame sums; detrended/seasonal/remainder values round
    to 6dp at each step; variances come from DECIMAL(28,6) sums of
    rounded squares with identical final expressions. Types with zero
    detrended variance emit NULL.

    Scale: calendar-bounded after the (type, hour) partial aggregate;
    three windows and two tiny aggregates per type.
    """
    counted = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    grid = (
        counted.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    hourly = grid.join(counted, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
    )
    wtr = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-12, 11)
    )
    trended = hourly.withColumn(
        "trend",
        F.round(
            F.sum("x").over(wtr).cast("double")
            / F.count(F.lit(1)).over(wtr).cast("double"),
            6,
        ),
    ).withColumn(
        "d", F.round(F.col("x").cast("double") - F.col("trend"), 6)
    )
    whod = Window.partitionBy("event_type", F.hour("hour"))
    seasoned = trended.withColumn(
        "s",
        F.round(
            F.sum(F.col("d").cast("decimal(28,6)")).over(whod)
            .cast("double")
            / F.count(F.lit(1)).over(whod).cast("double"),
            6,
        ),
    ).withColumn("r", F.round(F.col("d") - F.col("s"), 6))
    dec = lambda c: F.round(c, 6).cast("decimal(28,6)")  # noqa: E731
    g = seasoned.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(dec(F.col("d"))).alias("sd"),
        F.sum(dec(F.col("d") * F.col("d"))).alias("sdd"),
        F.sum(dec(F.col("r"))).alias("sr"),
        F.sum(dec(F.col("r") * F.col("r"))).alias("srr"),
    )
    nd = F.col("n_hours").cast("double")
    var = lambda s, ss: (  # noqa: E731
        F.col(ss).cast("double")
        - (F.col(s).cast("double") * F.col(s).cast("double")) / nd
    ) / nd
    vd = F.round(var("sd", "sdd"), 6)
    vr = F.round(var("sr", "srr"), 6)
    g = g.withColumn("var_detrended", vd).withColumn("var_remainder", vr)
    return g.select(
        "event_type",
        "n_hours",
        "var_detrended",
        "var_remainder",
        F.when(
            F.col("var_detrended") > 0,
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.col("var_remainder") / F.col("var_detrended"),
                ),
                6,
            ),
        ).alias("seasonal_strength"),
    )


def seasonal_mann_kendall(orders: DataFrame) -> DataFrame:
    """Seasonal Mann–Kendall (Hirsch–Slack) trend test on monthly order
    counts: compare each calendar month only against the SAME month of
    other years (S' = Σ_m S_m, Var' = Σ_m Var_m with per-season tie
    correction), so a December spike can't masquerade as growth — the
    seasonality-proof upgrade of :func:`mann_kendall_trend` for any
    metric with an annual cycle. z = (S' ∓ 1)/√Var' and the A&S-tail
    p-value.

    Exactness: S, the tie terms, and both variance pieces stay exact
    integers until the final division; the continuity-corrected z and
    p round to 6dp over the shared literal polynomial.

    Scale: calendar-bounded — one partial-agg shuffle to the monthly
    series, then within-season pair joins over the years² × 12 frame.
    """
    monthly = orders.groupBy(
        F.date_trunc("month", F.to_date("o_orderdate")).alias("m")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    monthly = monthly.withColumn("season", F.month("m"))
    a = monthly.select(
        F.col("season"), F.col("m").alias("ma"), F.col("x").alias("xa")
    )
    b = monthly.select(
        F.col("season").alias("sb"),
        F.col("m").alias("mb"),
        F.col("x").alias("xb"),
    )
    s = (
        a.join(
            b,
            (F.col("season") == F.col("sb")) & (F.col("ma") < F.col("mb")),
        )
        .agg(
            F.sum(F.signum(F.col("xb") - F.col("xa")).cast("bigint"))
            .cast("bigint")
            .alias("s")
        )
    )
    per_season = monthly.groupBy("season").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_m")
    )
    ties = (
        monthly.groupBy("season", "x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("season")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_m")
        )
    )
    var_parts = per_season.join(ties, "season").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
        F.sum("n_m").cast("bigint").alias("n_months"),
        F.sum(
            F.col("n_m") * (F.col("n_m") - 1) * (2 * F.col("n_m") + 5)
            - F.col("tie_m")
        )
        .cast("bigint")
        .alias("var18"),
    )
    j = s.crossJoin(F.broadcast(var_parts))
    var_s = F.col("var18").cast("double") / F.lit(18.0)
    z = F.when(
        F.col("var18") > 0,
        F.round(
            F.when(
                F.col("s") > 0, (F.col("s") - 1).cast("double")
            )
            .when(F.col("s") < 0, (F.col("s") + 1).cast("double"))
            .otherwise(F.lit(0.0))
            / F.sqrt(var_s),
            6,
        ),
    )
    out = j.withColumn("z_score", z).withColumn(
        "var_s", F.round(var_s, 6)
    )
    pv = F.round(
        F.least(
            F.lit(1.0),
            F.lit(2.0) * _normal_upper_tail(F.abs(F.col("z_score"))),
        ),
        6,
    )
    return out.select(
        "n_months",
        "n_seasons",
        "s",
        "var_s",
        "z_score",
        F.when(F.col("z_score").isNotNull(), pv).alias("p_value"),
    )
