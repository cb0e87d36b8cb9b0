"""Central query registry: name → (spark, sf_dir) → DataFrame, plus the
DuckDB oracle SQL for each query.

This is the engine's public query surface, consumed by ``__spark_entry__.py``
(the driver contract) and by ``bench.py``. Every operator from SURVEY.md §2
gets an entry here; oracle-less entries (non-SQL-expressible ops) are listed
in ``QUERIES`` only and carry unit tests instead.

Column-name discipline: the driver's compare sorts columns by name before
hashing, so every computed column is aliased identically in the Spark plan
and the oracle SQL.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .sources.catalog import load_table
from .functions import pandas_surface as pu
from .operators import dedup as dd
from .operators import mleval as ml
from .operators import graph as gr
from .operators import multimodal as mm
from .operators import pipeline as pl
from .operators import relational as rel
from .operators import similarity as sim
from .operators import sketches as sk
from .operators import textstats as ts
from .operators import wordcount as wc
from .streaming import ingest_dedup as ing
from .streaming import windows as sw

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Word-count family — the reference's full query surface (SURVEY.md §2.1)
# ---------------------------------------------------------------------------

_TOKENS_SQL = (
    "SELECT unnest(string_split_regex(text, '[\\s\\x0b]+')) AS word FROM documents"
)


@register(
    "wordcount",
    f"""
    SELECT word, COUNT(*) AS cnt
    FROM ({_TOKENS_SQL})
    WHERE word <> ''
    GROUP BY word
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wc.wordcount(load_table(spark, sf_dir, "documents"))


@register(
    "wordcount_by_source",
    """
    SELECT source, word, COUNT(*) AS cnt
    FROM (
      SELECT source, unnest(string_split_regex(text, '[\\s\\x0b]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY source, word
    """,
)
def q_wordcount_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wc.wordcount_by_source(load_table(spark, sf_dir, "documents"))


@register(
    "wordcount_provenance",
    """
    WITH counts AS (
      SELECT source, word, COUNT(*) AS cnt
      FROM (
        SELECT source, unnest(string_split_regex(text, '[\\s\\x0b]+')) AS word
        FROM documents
      )
      WHERE word <> ''
      GROUP BY source, word
    ),
    catalog AS (
      SELECT DISTINCT source, 'node-' || right(source, 1) AS home_node
      FROM documents
    )
    SELECT counts.source AS source, home_node, word, cnt
    FROM counts LEFT JOIN catalog USING (source)
    """,
)
def q_wordcount_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wc.wordcount_provenance(load_table(spark, sf_dir, "documents"))


@register(
    "topk_words",
    f"""
    SELECT word, COUNT(*) AS cnt
    FROM ({_TOKENS_SQL})
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT 100
    """,
)
def q_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wc.topk_words(load_table(spark, sf_dir, "documents"), k=100)


# ---------------------------------------------------------------------------
# Relational sweep (SURVEY.md §2.3) — each query has a DuckDB oracle twin.
# Decimal-then-double discipline keeps float aggregates bit-identical across
# engines; see operators/relational.py module docstring.
# ---------------------------------------------------------------------------


@register(
    "filter_project",
    """
    SELECT p_partkey, p_name, p_brand, p_size
    FROM part WHERE p_size > 30 AND p_type = 'ECONOMY'
    """,
)
def q_filter_project(spark, sf_dir):
    return rel.filter_project(load_table(spark, sf_dir, "part"))


@register(
    "join_broadcast",
    """
    SELECT r_name, COUNT(*) AS num_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_join_broadcast(spark, sf_dir):
    return rel.join_broadcast(
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "join_sortmerge",
    """
    SELECT o_orderpriority, COUNT(*) AS num_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_sortmerge(spark, sf_dir):
    return rel.join_sortmerge(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_semi(spark, sf_dir):
    return rel.join_semi(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_anti(spark, sf_dir):
    return rel.join_anti(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "join_range",
    """
    SELECT o_orderstatus, COUNT(*) AS num_shipped_90d,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      AND l_shipdate >= o_orderdate
      AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderstatus
    """,
)
def q_join_range(spark, sf_dir):
    return rel.join_range(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "join_cross_theta",
    """
    SELECT n_name, r_name FROM nation, region WHERE n_regionkey <> r_regionkey
    """,
)
def q_join_cross_theta(spark, sf_dir):
    return rel.join_cross_theta(
        load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "region")
    )


@register(
    "join_asof",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), views AS (
      SELECT user_id, ts, MAX(event_id) AS view_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT c.event_id AS click_id, c.user_id AS user_id, v.view_id AS view_id,
           CAST(FLOOR(EPOCH(c.ts)) AS BIGINT) - CAST(FLOOR(EPOCH(v.ts)) AS BIGINT)
             AS gap_sec
    FROM clicks c ASOF JOIN views v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def q_join_asof(spark, sf_dir):
    return rel.join_asof(load_table(spark, sf_dir, "events"))


# Nearest-neighbor asof (before OR after, nearer side wins, exact-gap
# ties prefer backward): oracle runs DuckDB's ASOF twice — backward
# inclusive, forward strict — over max-id-deduped views and picks the
# nearer, mirroring the engine's two-direction single-shuffle window.
@register(
    "join_asof_nearest",
    """
    WITH views AS (
      SELECT user_id, ts, MAX(event_id) AS view_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    clicks AS (
      SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'
    ),
    b AS (
      SELECT c.click_id, c.user_id, c.ts AS cts, v.view_id AS b_id,
             v.ts AS b_ts
      FROM clicks c ASOF LEFT JOIN views v
        ON c.user_id = v.user_id AND c.ts >= v.ts
    ),
    f AS (
      SELECT c.click_id, v.view_id AS f_id, v.ts AS f_ts
      FROM clicks c ASOF LEFT JOIN views v
        ON c.user_id = v.user_id AND c.ts < v.ts
    )
    SELECT click_id, user_id,
           CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR
                     epoch_us(cts) - epoch_us(b_ts)
                       <= epoch_us(f_ts) - epoch_us(cts))
                THEN b_id ELSE f_id END AS view_id,
           CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR
                     epoch_us(cts) - epoch_us(b_ts)
                       <= epoch_us(f_ts) - epoch_us(cts))
                THEN epoch_us(b_ts) - epoch_us(cts)
                ELSE epoch_us(f_ts) - epoch_us(cts) END AS gap_us
    FROM b JOIN f USING (click_id)
    WHERE b_id IS NOT NULL OR f_id IS NOT NULL
    """,
)
def q_join_asof_nearest(spark, sf_dir):
    return rel.join_asof_nearest(load_table(spark, sf_dir, "events"))


@register(
    "join_left_outer",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      GROUP BY c_custkey
    ) GROUP BY c_count
    """,
)
def q_join_left_outer(spark, sf_dir):
    return rel.join_left_outer(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "join_full_outer",
    """
    SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
           COALESCE(neg_customers, 0) AS neg_customers,
           COALESCE(neg_suppliers, 0) AS neg_suppliers
    FROM (SELECT c_nationkey, COUNT(*) AS neg_customers
          FROM customer WHERE c_acctbal < 0 GROUP BY c_nationkey) c
    FULL OUTER JOIN
         (SELECT s_nationkey, COUNT(*) AS neg_suppliers
          FROM supplier WHERE s_acctbal < 0 GROUP BY s_nationkey) s
    ON c_nationkey = s_nationkey
    """,
)
def q_join_full_outer(spark, sf_dir):
    return rel.join_full_outer(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "supplier")
    )


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                    * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
             AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_q1(spark, sf_dir):
    return rel.q1_pricing_summary(load_table(spark, sf_dir, "lineitem"))


@register(
    "q5_region_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_q5_region_revenue(spark, sf_dir):
    return rel.q5_region_revenue(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q3_shipping_priority",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate  > TIMESTAMP '1997-06-01'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_q3_shipping_priority(spark, sf_dir):
    return rel.q3_shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             l_extendedprice, l_discount
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    GROUP BY supp_nation, cust_nation
    """,
)
def q_q7_nation_volume(spark, sf_dir):
    return rel.q7_nation_volume(
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q18_large_volume",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_custkey
    HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 180.0
    """,
)
def q_q18_large_volume(spark, sf_dir):
    return rel.q18_large_volume(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_q4_order_priority(spark, sf_dir):
    return rel.q4_order_priority(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name, revenue FROM (
      SELECT o_custkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY o_custkey
    )
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q_q10_returned_items(spark, sf_dir):
    return rel.q10_returned_items(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1996-12-31 23:59:59'
      AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24
    """,
)
def q_q6_forecast_revenue(spark, sf_dir):
    return rel.q6_forecast_revenue(load_table(spark, sf_dir, "lineitem"))


@register(
    "q14_promo_revenue",
    """
    SELECT round(
        100.0
        * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
        6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q_q14_promo_revenue(spark, sf_dir):
    return rel.q14_promo_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "q19_disjunctive_brackets",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_q19_disjunctive_brackets(spark, sf_dir):
    return rel.q19_disjunctive_brackets(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@register(
    "q22_dormant_accounts",
    """
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) / COUNT(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q_q22_dormant_accounts(spark, sf_dir):
    return rel.q22_dormant_accounts(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@register(
    "generator_funcs",
    """
    WITH m AS (SELECT n_nationkey, n_nationkey % 4 AS m FROM nation),
    e AS (SELECT n_nationkey, unnest(range(1, m + 1)) AS i FROM m WHERE m > 0)
    SELECT n_nationkey, CAST(i - 1 AS INT) AS pos, CAST(i AS BIGINT) AS val
    FROM e
    UNION ALL
    SELECT n_nationkey, NULL, NULL FROM m WHERE m = 0
    """,
)
def q_generator_funcs(spark, sf_dir):
    return rel.generator_funcs(load_table(spark, sf_dir, "nation"))


@register(
    "variant_funcs",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod10,
           (json_type(json(props)) = 'NULL') AS props_is_json_null,
           json_extract_string(props, '$.missing') AS missing_path
    FROM events
    """,
)
def q_variant_funcs(spark, sf_dir):
    return rel.variant_funcs(load_table(spark, sf_dir, "events"))


@register(
    "q8_market_share",
    """
    SELECT o_year,
           round(CAST(nation_volume AS DOUBLE) / CAST(total_volume AS DOUBLE), 6)
             AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             SUM(CASE WHEN sn.n_name = 'NATION_3' THEN volume
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS nation_volume,
             SUM(volume) AS total_volume
      FROM (
        SELECT l_orderkey, l_suppkey,
               CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS volume
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'ECONOMY'
      ) l
      JOIN orders ON l.l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
      JOIN supplier ON l.l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      GROUP BY o_year
    )
    """,
)
def q_q8_market_share(spark, sf_dir):
    return rel.q8_market_share(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_q15_top_supplier(spark, sf_dir):
    return rel.q15_top_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#13'
    JOIN per_part USING (l_partkey)
    WHERE l_quantity < 0.2 * avg_qty
    """,
)
def q_q17_small_quantity_revenue(spark, sf_dir):
    return rel.q17_small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "q21_waiting_suppliers",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_q21_waiting_suppliers(spark, sf_dir):
    return rel.q21_waiting_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '5%'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_q13_customer_distribution(spark, sf_dir):
    return rel.q13_customer_distribution(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register("approx_percentile_agg")  # sketch != DuckDB's sketch → rows-only
def q_approx_percentile_agg(spark, sf_dir):
    return rel.approx_percentile_agg(load_table(spark, sf_dir, "lineitem"))


@register(
    "argmin_supplier",
    """
    SELECT s_nationkey, s_suppkey AS cheapest_suppkey,
           s_name AS cheapest_name, s_acctbal AS cheapest_bal
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                       ORDER BY s_acctbal, s_suppkey) AS rn
          FROM supplier)
    WHERE rn = 1
    """,
)
def q_argmin_supplier(spark, sf_dir):
    return rel.argmin_supplier(load_table(spark, sf_dir, "supplier"))


@register(
    "struct_json_funcs",
    """
    SELECT n_nationkey, n_name AS nation, r_name AS region_name,
           to_json(struct_pack(nation := n_name,
                               region := struct_pack(id := r_regionkey,
                                                     name := r_name)))
             AS as_json,
           CAST(r_regionkey AS INTEGER) AS parsed_region_id
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_struct_json_funcs(spark, sf_dir):
    return rel.struct_json_funcs(
        load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "region")
    )


@register(
    "scd2_intervals",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
           LEAD(o_orderdate) OVER w IS NULL AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_scd2_intervals(spark, sf_dir):
    return rel.scd2_intervals(load_table(spark, sf_dir, "orders"))


@register(
    "histogram_prices",
    """
    SELECT bucket, bucket * 25000.0 AS lo, (bucket + 1) * 25000.0 AS hi,
           COUNT(*) AS cnt
    FROM (SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket
          FROM orders)
    GROUP BY bucket
    """,
)
def q_histogram_prices(spark, sf_dir):
    return rel.histogram_prices(load_table(spark, sf_dir, "orders"))


@register(
    "upsert_snapshot",
    # updates = re-priced 'P' orders (deterministic derivation so the
    # oracle can rebuild the same update set); result = merged snapshot
    """
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT * FROM (
      SELECT b.* FROM orders b
      WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT * FROM updates
    )
    """,
)
def q_upsert_snapshot(spark, sf_dir):
    base = load_table(spark, sf_dir, "orders")
    return rel.upsert_snapshot(
        base, rel.repriced_updates(base), "o_orderkey"
    )


@register(
    "skewed_join_rollup",
    """
    SELECT n_name, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM (
      SELECT CASE WHEN l_quantity <= 45 THEN 0
                  ELSE l_suppkey % 25 END AS k, l_quantity
      FROM lineitem
    ) f JOIN nation ON f.k = nation.n_nationkey
    GROUP BY n_name
    """,
)
def q_skewed_join_rollup(spark, sf_dir):
    return rel.skewed_join_rollup(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "stats_moments",
    """
    SELECT l_returnflag, n,
           round(sx / n, 6) AS mean_qty,
           round((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
           round(((sxy - sx * sy / n) / (n - 1))
                 / sqrt(((sxx - sx * sx / n) / (n - 1))
                        * ((syy - sy * sy / n) / (n - 1))), 6) AS corr_qty_price
    FROM (
      SELECT l_returnflag, COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def q_stats_moments(spark, sf_dir):
    return rel.stats_moments(load_table(spark, sf_dir, "lineitem"))


@register(
    "pivot_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot_status(spark, sf_dir):
    return rel.pivot_status(load_table(spark, sf_dir, "orders"))


@register(
    "unpivot_metrics",
    """
    SELECT metric, COUNT(*) AS cnt,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (
      SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
      UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
    ) GROUP BY metric
    """,
)
def q_unpivot_metrics(spark, sf_dir):
    return rel.unpivot_metrics(load_table(spark, sf_dir, "lineitem"))


@register(
    "sql_api_priority_counts",
    """
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority, o_orderstatus
    """,
)
def q_sql_api_priority_counts(spark, sf_dir):
    return rel.sql_api_priority_counts(spark, load_table(spark, sf_dir, "orders"))


@register(
    "percentile_agg",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile_agg(spark, sf_dir):
    return rel.percentile_agg(load_table(spark, sf_dir, "lineitem"))


@register(
    "string_agg_sorted",
    """
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_string_agg_sorted(spark, sf_dir):
    return rel.string_agg_sorted(
        load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "region")
    )


@register(
    "case_null_battery",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debtor'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier,
           nullif(c_mktsegment, 'BUILDING') AS seg_nonbuilding,
           coalesce(nullif(c_mktsegment, 'BUILDING'), '(masked)') AS seg_masked,
           least(c_acctbal, 1000.0) AS bal_capped,
           greatest(c_acctbal, 0.0) AS bal_floor
    FROM customer
    """,
)
def q_case_null_battery(spark, sf_dir):
    return rel.case_null_battery(load_table(spark, sf_dir, "customer"))


@register(
    "correlated_above_nation_avg",
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def q_correlated_above_nation_avg(spark, sf_dir):
    return rel.correlated_above_nation_avg(load_table(spark, sf_dir, "customer"))


@register(
    "agg_multi",
    """
    SELECT l_returnflag, COUNT(*) AS cnt,
           CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS min_qty,
           CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(DISTINCT l_partkey) AS distinct_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_multi(spark, sf_dir):
    return rel.agg_multi(load_table(spark, sf_dir, "lineitem"))


@register(
    "distinct_count",
    """
    SELECT l_linestatus,
           COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
           COUNT(DISTINCT l_partkey) AS distinct_parts
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q_distinct_count(spark, sf_dir):
    return rel.distinct_count(load_table(spark, sf_dir, "lineitem"))


@register("approx_distinct")  # HLL sketch != DuckDB's sketch → rows-only check
def q_approx_distinct(spark, sf_dir):
    return rel.approx_distinct(load_table(spark, sf_dir, "lineitem"))


@register(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_agg(spark, sf_dir):
    return rel.rollup_agg(load_table(spark, sf_dir, "lineitem"))


@register(
    "cube_agg",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_agg(spark, sf_dir):
    return rel.cube_agg(load_table(spark, sf_dir, "orders"))


@register(
    "grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark, sf_dir):
    return rel.grouping_sets(spark, load_table(spark, sf_dir, "orders"))


@register(
    "window_rank",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER w AS rn,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
    ) WHERE rn <= 3
    """,
)
def q_window_rank(spark, sf_dir):
    return rel.window_rank(load_table(spark, sf_dir, "orders"))


@register(
    "window_running",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
           COUNT(*) OVER w AS running_cnt
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_window_running(spark, sf_dir):
    return rel.window_running(load_table(spark, sf_dir, "orders"))


@register(
    "window_lag_lead",
    """
    SELECT user_id, event_id, value,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT)
             - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) AS gap_sec
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag_lead(spark, sf_dir):
    return rel.window_lag_lead(load_table(spark, sf_dir, "events"))


@register(
    "window_range_frame",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
             AS trailing_30d,
           COUNT(*) OVER w AS orders_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT)
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_range_frame(spark, sf_dir):
    return rel.window_range_frame(load_table(spark, sf_dir, "orders"))


@register(
    "window_distribution",
    """
    SELECT o_orderkey, o_orderstatus,
           ntile(4) OVER w AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist,
           first_value(o_orderkey) OVER w AS cheapest_key,
           last_value(o_orderkey) OVER wf AS priciest_key,
           nth_value(o_orderkey, 2) OVER wf AS second_cheapest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
           wf AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_window_distribution(spark, sf_dir):
    return rel.window_distribution(load_table(spark, sf_dir, "orders"))


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_topk_orders(spark, sf_dir):
    return rel.topk_orders(load_table(spark, sf_dir, "orders"))


@register(
    "global_sort",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC
    """,
)
def q_global_sort(spark, sf_dir):
    return rel.global_sort(load_table(spark, sf_dir, "customer"))


@register(
    "set_union",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def q_set_union(spark, sf_dir):
    return rel.set_union(load_table(spark, sf_dir, "customer"))


@register(
    "set_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def q_set_intersect(spark, sf_dir):
    return rel.set_intersect(load_table(spark, sf_dir, "customer"))


@register(
    "set_except",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    EXCEPT ALL
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def q_set_except(spark, sf_dir):
    return rel.set_except(load_table(spark, sf_dir, "customer"))


@register(
    "string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           SUBSTRING(p_name, 1, 3) AS name_pfx,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(LEN(string_split(p_name, ' ')) AS INTEGER) AS name_words,
           translate(p_name, 'aeiou', 'AEIOU') AS name_vowels_up
    FROM part
    """,
)
def q_string_funcs(spark, sf_dir):
    return rel.string_funcs(load_table(spark, sf_dir, "part"))


@register(
    "fuzzy_string_funcs",
    """
    SELECT p_partkey, p_name, prev_name,
           CAST(levenshtein(p_name, prev_name) AS INTEGER) AS edit_dist,
           levenshtein(p_name, prev_name) <= 3 AS near_match
    FROM (
      SELECT p_partkey, p_name,
             LAG(p_name) OVER (ORDER BY p_name, p_partkey) AS prev_name
      FROM part
    ) WHERE prev_name IS NOT NULL
    """,
)
def q_fuzzy_string_funcs(spark, sf_dir):
    return rel.fuzzy_string_funcs(load_table(spark, sf_dir, "part"))


@register(
    "regexp_funcs",
    """
    SELECT p_partkey,
           regexp_matches(p_name, '^[a-z]+ [a-z]+$') AS two_words,
           regexp_extract(p_name, '(\\w+)$', 1) AS last_word,
           COALESCE(array_to_string(regexp_extract_all(p_name, '([aeiou]{2,})', 1), ','), '') AS vowel_runs,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(len(regexp_extract_all(p_name, '\\ba\\w*')) AS INTEGER) AS a_words
    FROM part
    """,
)
def q_regexp_funcs(spark, sf_dir):
    return rel.regexp_funcs(load_table(spark, sf_dir, "part"))


@register(
    "conditional_funcs",
    """
    SELECT c_custkey,
           nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
           CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
                THEN 'other' ELSE 'building' END AS seg_class,
           greatest(c_acctbal, 0.0) AS bal_floor0,
           least(c_acctbal, 1000.0) AS bal_cap1k,
           c_custkey & 255 AS key_low8,
           xor(c_custkey, c_nationkey) AS key_xor_nat,
           c_nationkey << 2 AS nat_shl2
    FROM customer
    """,
)
def q_conditional_funcs(spark, sf_dir):
    return rel.conditional_funcs(load_table(spark, sf_dir, "customer"))


@register(
    "date_funcs",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(day(o_orderdate) AS INTEGER) AS order_day,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INTEGER)
             AS days_to_y2k
    FROM orders
    """,
)
def q_date_funcs(spark, sf_dir):
    return rel.date_funcs(load_table(spark, sf_dir, "orders"))


@register(
    "math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) AS discount_amt,
           abs(l_quantity - 25.0) AS qty_dev,
           CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           round(sqrt(l_quantity), 6) AS qty_sqrt,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(pow(l_discount, 2), 6) AS disc_sq,
           xor(l_partkey, l_suppkey) AS xor_keys
    FROM lineitem
    """,
)
def q_math_funcs(spark, sf_dir):
    return rel.math_funcs(load_table(spark, sf_dir, "lineitem"))


@register(
    "array_funcs",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             (acc, x) -> acc + x), 4) AS elem_sum,
           round(sqrt(list_reduce(
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (acc, x) -> acc + x)), 4) AS l2_norm,
           CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS elem_max,
           CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS elem_min
    FROM embeddings
    """,
)
def q_array_funcs(spark, sf_dir):
    return rel.array_funcs(load_table(spark, sf_dir, "embeddings"))


@register(
    "provenance_scan",
    # the oracle sees pre-registered views, not paths; with the one-file-
    # per-table testdata layout the basename is the constant below, which
    # is exactly what Spark's input_file_name-derived column must yield
    """
    SELECT doc_id, 'documents.parquet' AS src_file FROM documents
    """,
)
def q_provenance_scan(spark, sf_dir):
    return rel.provenance_scan(load_table(spark, sf_dir, "documents"))


@register(
    "funnel_view_click",
    """
    SELECT COUNT(*) AS users,
           COUNT(first_view) AS viewed,
           CAST(SUM(CASE WHEN last_click > first_view THEN 1 ELSE 0 END) AS BIGINT)
             AS converted
    FROM (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MAX(CASE WHEN event_type = 'click' THEN ts END) AS last_click
      FROM events GROUP BY user_id
    )
    """,
)
def q_funnel_view_click(spark, sf_dir):
    return rel.funnel_view_click(load_table(spark, sf_dir, "events"))


@register(
    "cohort_retention",
    """
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           COUNT(*) AS cohort_size,
           CAST(SUM(CASE WHEN last_day >= cohort_day + INTERVAL 14 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS retained_2w
    FROM (
      SELECT user_id,
             MIN(date_trunc('day', ts)) AS cohort_day,
             MAX(date_trunc('day', ts)) AS last_day
      FROM events GROUP BY user_id
    ) GROUP BY cohort_day
    """,
)
def q_cohort_retention(spark, sf_dir):
    return rel.cohort_retention(load_table(spark, sf_dir, "events"))


@register(
    "map_funcs",
    """
    SELECT event_id,
           CAST(cardinality(m) AS INTEGER) AS map_size,
           m['t'][1] AS m_type,
           m['u'][1] AS m_user,
           array_to_string(list_sort(map_keys(m)), ',') AS keys_str,
           array_to_string(list_sort(map_values(m)), ',') AS values_str
    FROM (
      SELECT event_id,
             map(['t', 'u'], [event_type, CAST(user_id AS VARCHAR)]) AS m
      FROM events
    )
    """,
)
def q_map_funcs(spark, sf_dir):
    return rel.map_funcs(load_table(spark, sf_dir, "events"))


@register(
    "json_funcs",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10
    FROM events
    """,
)
def q_json_funcs(spark, sf_dir):
    return rel.json_funcs(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Deduplication — LLM-pipeline extension (no reference analog; SURVEY.md §2.3
# north-star row). Exact/fingerprint/blocked-Jaccard are DuckDB-oracled;
# MinHash/SimHash have no DuckDB twin (xxhash64) → rows-only + unit fixtures.
# ---------------------------------------------------------------------------

#: Distinct word-3-gram shingles per doc, DuckDB side. Shared by the fuzzy
#: dedup oracles. DuckDB list indexing is 1-based; range() is stop-exclusive.
_DUCK_SHINGLES = """
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
  FROM (SELECT doc_id, lang,
               list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 3
"""


@register(
    "dedup_exact",
    """
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    return dd.dedup_exact(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_fingerprint",
    """
    SELECT sha256(regexp_replace(lower(trim(text)), '[\\s\\x0b]+', ' ', 'g')) AS fingerprint,
           COUNT(*) AS n_copies, MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY fingerprint
    """,
)
def q_dedup_fingerprint(spark, sf_dir):
    return dd.dedup_fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH g AS ({_DUCK_SHINGLES})
    SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
               AS jaccard
      FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
    """,
)
def q_ngram_jaccard_pairs(spark, sf_dir):
    return dd.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


# Same Carter–Wegman family h_i(x) = (a_i*x + b_i) mod p over the md5-derived
# gram hash, min-reduced per (doc, perm) — every minimum value-checks.
_MINHASH_K = 32
_MINHASH_MINS = ",\n           ".join(
    f"min(({a} * x + {b}) % 2147483647) AS m{i}"
    for i, (a, b) in enumerate(dd.minhash_params(_MINHASH_K))
)
_MINHASH_UNPIVOT = "\n    UNION ALL\n    ".join(
    f"SELECT doc_id, {i} AS perm, m{i} AS minhash FROM s"
    for i in range(_MINHASH_K)
)


@register(
    "minhash_signatures",
    f"""
    WITH g AS ({_DUCK_SHINGLES}),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 14)) AS BIGINT) % 2147483647 AS x
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
    ),
    s AS (
      SELECT doc_id,
           {_MINHASH_MINS}
      FROM h GROUP BY doc_id
    )
    {_MINHASH_UNPIVOT}
    """,
)
def q_minhash_signatures(spark, sf_dir):
    return dd.minhash_signatures(load_table(spark, sf_dir, "documents"))


@register(
    "minhash_lsh_pairs",
    # The oracle is the *exact* unblocked Jaccard pair set: LSH candidates
    # are verified with exact Jaccard before output, and at this dataset's
    # similarity levels (planted pairs all >= 0.9; next pair < 0.1) the
    # band filter's miss probability is ~1e-11, so LSH output == exact.
    f"""
    WITH g AS ({_DUCK_SHINGLES})
    SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
               AS jaccard
      FROM g a JOIN g b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
    """,
)
def q_minhash_lsh_pairs(spark, sf_dir):
    return dd.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


def _lsh_tuning_oracle(
    configs: tuple[tuple[int, int], ...] = ((16, 2), (8, 4), (4, 8)),
) -> str:
    """Full replay of the LSH tuning sweep on the deterministic 25%
    md5 doc sample: sample predicate → md5 signatures → per-config
    band buckets (md5 of the ':'-joined slice) → candidate pairs →
    hit counts vs the exact lang-blocked Jaccard truth set."""
    parts = [
        f"""
    WITH g0 AS ({_DUCK_SHINGLES}),
    g AS (
      SELECT * FROM g0
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
            IN ('0', '1', '2', '3')
    ),
    truth AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams)
                    - len(list_intersect(a.grams, b.grams))) AS j
        FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
      ) WHERE j >= 0.5
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 14)) AS BIGINT)
               % 2147483647 AS x
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
    ),
    s AS (
      SELECT doc_id,
           {_MINHASH_MINS}
      FROM h GROUP BY doc_id
    )"""
    ]
    for bands, r in configs:
        tag = f"c{bands}x{r}"
        arms = "\n      UNION ALL ".join(
            f"SELECT doc_id, {i} AS band, md5("
            + " || ':' || ".join(
                f"CAST(m{i * r + j} AS VARCHAR)" for j in range(r)
            )
            + ") AS bucket FROM s"
            for i in range(bands)
        )
        parts.append(
            f""",
    {tag}b AS ({arms}),
    {tag}c AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM {tag}b x JOIN {tag}b y
        ON x.band = y.band AND x.bucket = y.bucket
       AND x.doc_id < y.doc_id
    ),
    {tag}s AS (
      SELECT CAST({bands} AS INT) AS bands,
             CAST({r} AS INT) AS rows_per_band,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(COALESCE(SUM(CASE WHEN t.doc_a IS NOT NULL
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_tp
      FROM {tag}c c LEFT JOIN truth t
        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM c{bands}x{r}s" for bands, r in configs
    )
    parts.append(
        f"""
    SELECT bands, rows_per_band, n_candidates, n_tp, n_truth,
           ROUND(CAST(n_tp AS DOUBLE)
                 / NULLIF(CAST(n_truth AS DOUBLE), 0), 6) AS recall,
           ROUND(CAST(n_tp AS DOUBLE)
                 / NULLIF(CAST(n_candidates AS DOUBLE), 0), 6) AS precision
    FROM ({union}) CROSS JOIN nt"""
    )
    return "".join(parts)


@register("lsh_tuning_curve", _lsh_tuning_oracle())
def q_lsh_tuning_curve(spark, sf_dir):
    return dd.lsh_tuning_curve(load_table(spark, sf_dir, "documents"))


# Oracle for both near-dup cluster queries: transitive closure by
# recursive CTE over the *exact* Jaccard pair set (== the LSH pair set at
# this data's similarity margins, as established by the minhash_lsh_pairs
# oracle). Each node's reachable set is accumulated and min-reduced — fine
# at oracle SF, while the Spark side runs large-star/small-star
# contraction (dedup.connected_components_star).
_DEDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE
    g AS ({_DUCK_SHINGLES}),
    e AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 AS jaccard
        FROM g a JOIN g b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.5
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM e
      UNION ALL
      SELECT doc_b, doc_a FROM e
    ),
    walk(node, label) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, w.label FROM sym s JOIN walk w ON s.dst = w.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node
"""


# One query under two names. The second cannot be dropped:
# CORRECTNESS_r04.json records "dedup_clusters_star" as an externally
# checked query, and tests/test_gate_rotation.py requires every such
# name to stay registered.
@register("dedup_clusters_star", _DEDUP_CLUSTERS_ORACLE)
@register("dedup_clusters", _DEDUP_CLUSTERS_ORACLE)
def q_dedup_clusters(spark, sf_dir):
    return dd.dedup_clusters(load_table(spark, sf_dir, "documents"))


# End-to-end near-dup resolution: LSH pairs → star CC → keep the single
# highest-quality member per cluster. The oracle composes the exact-pair
# recursive-CTE closure (== the LSH pair set at this data's similarity
# margins, argued at minhash_lsh_pairs) with the quality formula, ranking
# on the rounded score so the keep flag is float-noise-proof.
@register(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE
    g AS ({_DUCK_SHINGLES}),
    e AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                 AS jaccard
        FROM g a JOIN g b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.5
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM e
      UNION ALL
      SELECT doc_b, doc_a FROM e
    ),
    walk(node, label) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, w.label FROM sym s JOIN walk w ON s.dst = w.node
    ),
    labels AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk GROUP BY node
    ),
    q AS (
      SELECT doc_id,
             round({ts.QUALITY_WEIGHTS["len"]} * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                 + {ts.QUALITY_WEIGHTS["distinct"]}
                   * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
                 + {ts.QUALITY_WEIGHTS["clean"]}
                   * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE)
                          / CAST(length(text) AS DOUBLE)), 6) AS quality
      FROM (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
        FROM documents
      ) WHERE len(toks) > 0
    ),
    lab AS (
      SELECT q.doc_id, q.quality,
             COALESCE(l.cluster_id, q.doc_id) AS cluster_id
      FROM q LEFT JOIN labels l ON q.doc_id = l.doc_id
    )
    SELECT doc_id, cluster_id, quality,
           (ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY quality DESC, doc_id) = 1) AS keep,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
    FROM lab
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    return dd.keep_best_per_cluster(load_table(spark, sf_dir, "documents"))


@register(
    "containment_pairs",
    # Oracle over string grams (the Spark side hashes shingles to
    # xxhash64 — set sizes, and hence containment, are preserved up to
    # collisions; same argument the ngram_jaccard oracle already proves).
    f"""
    WITH g AS ({_DUCK_SHINGLES}),
    p AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             len(a.grams) AS na, len(b.grams) AS nb,
             len(list_intersect(a.grams, b.grams)) AS ni
      FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.grams, b.grams)) > 0
    )
    SELECT da AS doc_contained, db AS doc_container,
           ROUND(CAST(ni AS DOUBLE) / na, 6) AS containment
    FROM p WHERE CAST(ni AS DOUBLE) / na >= 0.8
    UNION ALL
    SELECT db, da, ROUND(CAST(ni AS DOUBLE) / nb, 6)
    FROM p WHERE CAST(ni AS DOUBLE) / nb >= 0.8
    """,
)
def q_containment_pairs(spark, sf_dir):
    return dd.containment_pairs(load_table(spark, sf_dir, "documents"))


# Bit votes come from the two 32-bit halves of md5(tok) (hi = hex 1-8 →
# bits 32-63, lo = hex 9-16 → bits 0-31) — pure integer arithmetic both
# engines compute identically.  DuckDB refuses 1<<63 (signed overflow), so
# the sign bit recombines via the min-long literal; addition of disjoint
# powers equals bitwise OR.
_SIMHASH_BIT_SUMS = ",\n             ".join(
    "SUM(CASE WHEN (({col} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}".format(
        col="lo" if i < 32 else "hi", sh=i % 32, i=i
    )
    for i in range(64)
)
_SIMHASH_RECOMBINE = "\n        + ".join(
    ["CASE WHEN b63 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE CAST(0 AS BIGINT) END"]
    + [
        f"CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END"
        for i in range(63)
    ]
)
_DUCK_SIMHASH = f"""
      SELECT doc_id, lang,
             CAST({_SIMHASH_RECOMBINE} AS BIGINT) AS simhash
      FROM (
        SELECT doc_id, lang,
             {_SIMHASH_BIT_SUMS}
        FROM (
          SELECT doc_id, lang,
                 CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS lo,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hi
          FROM (SELECT doc_id, lang,
                       unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                          x -> x <> '')) AS tok
                FROM documents)
        )
        GROUP BY doc_id, lang
      )
"""


@register("simhash64", _DUCK_SIMHASH)
def q_simhash64(spark, sf_dir):
    return dd.simhash64(load_table(spark, sf_dir, "documents"))


@register(
    "simhash_pairs",
    # Oracle verifies the full pipeline — fingerprints AND the Hamming
    # filter — by brute force (all-pairs is fine at oracle SF); the Spark
    # side's pigeonhole banding must produce the identical pair set.
    f"""
    WITH s AS ({_DUCK_SIMHASH})
    SELECT doc_a, doc_b, hamming FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    """,
)
def q_simhash_pairs(spark, sf_dir):
    return dd.simhash_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search — LLM-pipeline extension. Cosine folds are left-to-right
# in DOUBLE on both engines (F.aggregate 0.0-init == list_reduce first-elem
# init for +), so scores and therefore rankings are bit-identical.
# ---------------------------------------------------------------------------

#: Double-cast embeddings + the deterministic query subset, DuckDB side.
_DUCK_VECS = """
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
"""

_DUCK_COS = """
    list_reduce(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]),
                (acc, x) -> acc + x)
    / (sqrt(list_reduce(list_transform({a}, x -> x * x), (acc, x) -> acc + x))
     * sqrt(list_reduce(list_transform({b}, x -> x * x), (acc, x) -> acc + x)))
"""


@register(
    "similarity_topk",
    f"""
    WITH v AS ({_DUCK_VECS}),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id % 100 = 0),
    scored AS (
      SELECT query_id, v.vec_id AS neighbor_id,
             {_DUCK_COS.format(a="q_emb", b="emb")} AS cos
      FROM q JOIN v ON v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q_similarity_topk(spark, sf_dir):
    return sim.cosine_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "similarity_topk_pandas",
    # Same oracle as similarity_topk PLUS the operator's max_queries cap
    # (lowest 1024 vec_ids) so engine and oracle agree at every scale —
    # the BLAS path normalizes-then-matmuls
    # where the SQL fold divides by norms, so raw cosines differ in the
    # last ulp — but ranks are tie-free on this corpus (nearest distinct
    # cosines differ by ≫1e-12, pinned by the rank-exact unit test) and
    # the 6-decimal rounding absorbs the ulp; verified value-exact against
    # this oracle at sf0.01 AND sf0.1 before promotion from rows-only.
    f"""
    WITH v AS ({_DUCK_VECS}),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v
          WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 1024),
    scored AS (
      SELECT query_id, v.vec_id AS neighbor_id,
             {_DUCK_COS.format(a="q_emb", b="emb")} AS cos
      FROM q JOIN v ON v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q_similarity_topk_pandas(spark, sf_dir):
    return sim.cosine_topk_pandas(load_table(spark, sf_dir, "embeddings"))


# "Approximate" means recall@k < 1 vs BRUTE FORCE — but the IVF pipeline
# itself is fully deterministic (id-sampled centroids, argmax-cosine
# assignment with cell_id-desc tie-break, nprobe probe ranking, exact
# rescoring), so the oracle replays it stage for stage and the output is
# value-exact. Promoted from rows-only in r5.
@register(
    "similarity_ivf_topk",
    f"""
    WITH v0 AS ({_DUCK_VECS}),
    v AS (SELECT vec_id, emb FROM v0),
    c AS (SELECT vec_id AS cell_id, emb AS c_emb FROM v WHERE vec_id % 37 = 0
          AND vec_id IN (SELECT vec_id FROM embeddings WHERE vec_id % 37 = 0
                         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                         LIMIT {sim.ANN_MAX_CELLS})),
    asg AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_DUCK_COS.format(a="c_emb", b="emb")} DESC,
                          c.cell_id DESC) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id % 100 = 0),
    probes AS (
      SELECT query_id, q_emb, cell_id FROM (
        SELECT q.query_id, q.q_emb, c.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_DUCK_COS.format(a="c_emb", b="q_emb")} DESC,
                          c.cell_id ASC) AS rn
        FROM q CROSS JOIN c
      ) WHERE rn <= 3
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_DUCK_COS.format(a="q_emb", b="emb")} AS cos
      FROM probes p
      JOIN asg a ON p.cell_id = a.cell_id AND a.vec_id <> p.query_id
      JOIN v ON v.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine FROM (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q_similarity_ivf_topk(spark, sf_dir):
    return sim.cosine_ivf_topk(load_table(spark, sf_dir, "embeddings"))


@register("similarity_ivf_kmeans_topk")  # trained ANN, approximate → rows-only
def q_similarity_ivf_kmeans_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sim.kmeans_centroids(emb, k=24, iters=3)
    return sim.cosine_ivf_topk(emb, centroids=cents)


def _lsh_oracle_sql(bits: int = 32, bands: int = 4, dim: int = 64) -> str:
    """Sign-LSH oracle: regenerates the SAME seeded ±1 hyperplane matrix
    the operator bakes into its plan (random.Random(42), identical draw
    order) and replays sketch → band buckets → candidate join → exact
    verify. "Probabilistic recall" refers to misses vs brute force; the
    pipeline itself is deterministic, so the output is value-exact. The
    per-bit float sums are engine-order-dependent in the last ulp — a
    sign can only flip for |sum| at ulp scale, never observed on this
    corpus (verified exact at sf0.01 and sf0.1 before promotion)."""
    import random

    rng = random.Random(42)
    planes = [
        [rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(bits)
    ]
    r = bits // bands
    sum_cols = []
    for i in range(bits):
        pos = [str(j + 1) for j in range(dim) if planes[i][j] > 0]
        sum_cols.append(
            f"SUM(CASE WHEN j IN ({', '.join(pos)}) THEN e ELSE -e END) AS s{i}"
        )
    band_rows = []
    for b in range(bands):
        bucket = " + ".join(
            f"(CASE WHEN s{b * r + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        )
        band_rows.append(
            f"SELECT vec_id, {b} AS band, {bucket} AS bucket FROM sums"
        )
    dot = (
        "list_reduce(list_transform(range(1, len(x.ne) + 1),"
        " i -> x.ne[i] * y.ne[i]), (acc, q) -> acc + q)"
    )
    return f"""
    WITH v AS ({_DUCK_VECS}),
    nv AS (
      SELECT vec_id,
             list_transform(emb, x -> x / sqrt(
               list_reduce(list_transform(emb, y -> y * y),
                           (acc, q) -> acc + q))) AS ne
      FROM v
    ),
    comp AS (
      SELECT vec_id, j, ne[j] AS e FROM nv, unnest(range(1, {dim + 1})) AS t(j)
    ),
    sums AS (
      SELECT vec_id, {', '.join(sum_cols)} FROM comp GROUP BY vec_id
    ),
    buckets AS ({' UNION ALL '.join(band_rows)}),
    bk AS (
      SELECT b.vec_id, b.band, b.bucket, nv.ne
      FROM buckets b JOIN nv USING (vec_id)
    ),
    scored AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b, {dot} AS cos
      FROM bk x JOIN bk y
        ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cosine
    FROM scored WHERE cos >= 0.3
    """


@register("embedding_lsh_pairs", _lsh_oracle_sql())
def q_embedding_lsh_pairs(spark, sf_dir):
    return sim.embedding_lsh_pairs(load_table(spark, sf_dir, "embeddings"))


def _rp_oracle_sql() -> str:
    """JL-projection oracle: the SAME rp_sign generator that built the
    Spark plan emits the sign literals here, the adds run in the same
    left-associated order, and the divisor is one shared Python float
    repr — bit-identical outputs, no rounding."""
    import math

    cols = []
    for j in range(8):
        body = " + ".join(
            f"({sim.rp_sign(j, i)}*emb[{i + 1}])" for i in range(64)
        )
        cols.append(f"({body}) / {math.sqrt(8.0)!r} AS y{j}")
    sel = ",\n           ".join(cols)
    return f"WITH v AS ({_DUCK_VECS})\n    SELECT vec_id,\n           {sel}\n    FROM v"


@register("embedding_rp", _rp_oracle_sql())
def q_embedding_rp(spark, sf_dir):
    return sim.random_projection(load_table(spark, sf_dir, "embeddings"))


# Population covariance of the first 16 embedding dims; the oracle takes
# the self-join road (fine at oracle SF) while the engine expands pair
# products in-expression to keep the corpus to ONE narrow pass.
@register(
    "embedding_covariance",
    f"""
    WITH v AS ({_DUCK_VECS}),
    d AS (
      SELECT vec_id, CAST(i AS INTEGER) AS i, emb[i] AS x
      FROM v, unnest(range(1, 17)) AS r(i)
    ),
    pr AS (
      SELECT a.i AS i, b.i AS j, a.x * b.x AS xx, a.x AS xi, b.x AS xj
      FROM d a JOIN d b ON a.vec_id = b.vec_id AND b.i >= a.i
    )
    SELECT i, j,
           ROUND((SUM(xx) - SUM(xi) * SUM(xj) / COUNT(*)) / COUNT(*), 6)
             + 0.0 AS cov
    FROM pr GROUP BY i, j
    """,
)
def q_embedding_covariance(spark, sf_dir):
    return sim.embedding_covariance(load_table(spark, sf_dir, "embeddings"))


@register(
    "embedding_neardup_pairs",
    f"""
    WITH v AS ({_DUCK_VECS}),
    withnorm AS (
      SELECT vec_id, label, emb,
             sqrt(list_reduce(list_transform(emb, y -> y * y),
                              (acc, x) -> acc + x)) AS nrm
      FROM v
    ),
    n AS (
      SELECT vec_id, label, list_transform(emb, x -> x / nrm) AS ne
      FROM withnorm
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_reduce(list_transform(range(1, len(a.ne) + 1),
                                        i -> a.ne[i] * b.ne[i]),
                         (acc, x) -> acc + x) AS cos
      FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cos >= 0.3
    """,
)
def q_embedding_neardup_pairs(spark, sf_dir):
    return sim.embedding_neardup_pairs(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Text analysis — LLM-pipeline curation surface. Oracle SQL is generated
# from the SAME constants the Spark operators use (stopword lists, weights,
# regex) — one source of truth, two engines, all value-hashed.
# ---------------------------------------------------------------------------

_DUCK_TOKS = (
    "SELECT doc_id, text,"
    " list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks"
    " FROM documents"
)


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(length(text) AS INTEGER) AS text_chars,
           CAST(length(regexp_replace(text, '[\\s\\x0b]', '', 'g')) AS INTEGER) AS nonspace_chars,
           CAST(list_aggregate(list_transform(toks, x -> length(x)), 'max') AS INTEGER)
             AS max_token_len,
           round(CAST(length(regexp_replace(text, '[\\s\\x0b]', '', 'g')) AS DOUBLE)
                 / len(toks), 6) AS avg_token_len,
           round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS punct_ratio
    FROM ({_DUCK_TOKS}) WHERE len(toks) > 0
    """,
)
def q_text_stats(spark, sf_dir):
    return ts.text_stats(load_table(spark, sf_dir, "documents"))


def _lang_score_sql() -> str:
    unions = []
    for lang, ws in sorted(ts.LANG_STOPWORDS.items()):
        lst = ", ".join(f"'{w}'" for w in ws)
        unions.append(
            f"SELECT doc_id, '{lang}' AS cand,"
            f" CAST(len(list_intersect(w, [{lst}])) AS INTEGER) AS score FROM words"
        )
    return " UNION ALL ".join(unions)


@register(
    "lang_id",
    f"""
    WITH words AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                       x -> x <> '')) AS w
      FROM documents
    ), scores AS ({_lang_score_sql()})
    SELECT doc_id, cand AS pred_lang, score FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand ASC) AS rn
      FROM scores
    ) WHERE rn = 1
    """,
)
def q_lang_id(spark, sf_dir):
    return ts.lang_id(load_table(spark, sf_dir, "documents"))


@register(
    "quality_score",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           round({ts.QUALITY_WEIGHTS["len"]} * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
               + {ts.QUALITY_WEIGHTS["distinct"]}
                 * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
               + {ts.QUALITY_WEIGHTS["clean"]}
                 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE)
                        / CAST(length(text) AS DOUBLE)), 6) AS quality
    FROM ({_DUCK_TOKS}) WHERE len(toks) > 0
    """,
)
def q_quality_score(spark, sf_dir):
    return ts.quality_score(load_table(spark, sf_dir, "documents"))


@register(
    "token_count",
    f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> ''))
                AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{ts.BPE_ISH_PATTERN}')) AS INTEGER)
             AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{ts.BPE_ISH_PATTERN}')))
                AS INTEGER) AS n_distinct_bpe
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    return ts.token_count(load_table(spark, sf_dir, "documents"))


@register(
    "winnowing_fingerprint",
    """
    SELECT doc_id,
           list_aggregate(list_transform(range(1, length(text) - 6),
                                         i -> md5(substr(text, i, 8))), 'min')
             AS fingerprint,
           CAST(length(text) - 7 AS INTEGER) AS n_grams
    FROM documents WHERE length(text) >= 8
    """,
)
def q_winnowing_fingerprint(spark, sf_dir):
    return ts.winnowing_fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_integrity",
    """
    SELECT 'text/plain;src=' || source AS media_type,
           COUNT(*) AS n_items,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT sha256(text)) AS distinct_payloads
    FROM documents GROUP BY media_type
    """,
)
def q_multimodal_integrity(spark, sf_dir):
    return mm.media_integrity(load_table(spark, sf_dir, "documents"))


_DUCK_CHUNKS = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           array_to_string(list_slice(toks, i * 32 + 1, i * 32 + 32), ' ') AS chunk,
           CAST(least(32, len(toks) - i * 32) AS INT) AS n_tokens
    FROM t, unnest(range(0, CAST(ceil(len(toks) / 32.0) AS BIGINT))) AS u(i)
    """


# Default chunking path: pure JVM explode(sequence)+slice — same rule, no
# Python worker pool (the UDTF twin below is kept as the API-surface demo;
# its r4 driver bench paid a 32.5 s Arrow-UDTF cold start for identical
# output).
@register("chunk_documents", _DUCK_CHUNKS)
def q_chunk_documents(spark, sf_dir):
    return pl.chunk_documents_sql(load_table(spark, sf_dir, "documents"))


@register("udtf_chunk_documents", _DUCK_CHUNKS)
def q_udtf_chunk_documents(spark, sf_dir):
    return pu.chunk_documents(load_table(spark, sf_dir, "documents"))


@register("token_frequency_sketch")  # engine-specific binary → rows-only
def q_token_frequency_sketch(spark, sf_dir):
    return ts.token_frequency_sketch(load_table(spark, sf_dir, "documents"))


# Open-implementation CMS twin of token_frequency_sketch: md5 row hashes
# make the counter matrix and the min-of-d point estimates fully
# replayable — the oracle rebuilds the identical sketch and probes it.
@register(
    "cms_manual_counts",
    """
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')) AS tok
      FROM documents
    ),
    counters AS (
      SELECT depth,
             CAST(('0x' || substr(md5(CAST(depth AS VARCHAR) || ':' || tok), 1, 13)) AS BIGINT)
               % 1024 AS bucket,
             COUNT(*) AS cnt
      FROM toks, (SELECT unnest([0, 1, 2, 3]) AS depth) d
      GROUP BY depth, bucket
    ),
    top_toks AS (
      SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok
      ORDER BY exact_cnt DESC, tok LIMIT 20
    ),
    cand AS (
      SELECT tok, exact_cnt, depth,
             CAST(('0x' || substr(md5(CAST(depth AS VARCHAR) || ':' || tok), 1, 13)) AS BIGINT)
               % 1024 AS bucket
      FROM top_toks, (SELECT unnest([0, 1, 2, 3]) AS depth) d
    )
    SELECT tok, exact_cnt, MIN(cnt) AS cms_est
    FROM cand JOIN counters USING (depth, bucket)
    GROUP BY tok, exact_cnt
    """,
)
def q_cms_manual_counts(spark, sf_dir):
    return sk.cms_estimate_counts(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Pipeline composition — deterministic splits + end-to-end curation
# ---------------------------------------------------------------------------

@register(
    "deterministic_split",
    f"""
    SELECT CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2) < '{pl.SPLIT_HEX}'
                THEN 'train' ELSE 'validation' END AS split,
           lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY split, lang
    """,
)
def q_deterministic_split(spark, sf_dir):
    return pl.deterministic_split(load_table(spark, sf_dir, "documents"))


@register(
    "corpus_curation",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars, text,
             round({ts.QUALITY_WEIGHTS["len"]} * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                 + {ts.QUALITY_WEIGHTS["distinct"]}
                   * (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
                 + {ts.QUALITY_WEIGHTS["clean"]}
                   * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE)
                          / CAST(length(text) AS DOUBLE)), 6) AS quality
      FROM (SELECT doc_id, lang, n_chars, text,
                   list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
            FROM documents)
      WHERE len(toks) > 0
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.5),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
    FROM deduped GROUP BY lang
    """,
)
def q_corpus_curation(spark, sf_dir):
    return pl.corpus_curation(load_table(spark, sf_dir, "documents"))


def _sample_keep_sql() -> str:
    """WHERE clause for stratified_sample, generated from the same
    SAMPLE_RATES constant the Spark plan consumes."""
    parts = []
    for lang, rate in sorted(pl.SAMPLE_RATES.items()):
        if rate >= 1.0:
            parts.append(f"(lang = '{lang}')")
        else:
            parts.append(
                f"(lang = '{lang}' AND substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2)"
                f" < '{pl._rate_hex(rate)}')"
            )
    return " OR ".join(parts)


@register(
    "stratified_sample",
    f"SELECT doc_id, lang, source FROM documents WHERE {_sample_keep_sql()}",
)
def q_stratified_sample(spark, sf_dir):
    return pl.stratified_sample(load_table(spark, sf_dir, "documents"))


@register(
    "contamination_check",
    f"""
    WITH g AS ({_DUCK_SHINGLES}),
    e AS (
      SELECT doc_id,
             CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 2) < '{pl.SPLIT_HEX}'
                  THEN 'train' ELSE 'validation' END AS split,
             unnest(grams) AS gram
      FROM g
    ),
    tg AS (SELECT DISTINCT gram FROM e WHERE split = 'train'),
    v AS (SELECT doc_id, gram FROM e WHERE split = 'validation')
    SELECT COUNT(DISTINCT v.doc_id) AS n_contaminated_docs,
           COUNT(DISTINCT v.gram) AS n_colliding_grams,
           COUNT(*) AS n_gram_hits
    FROM v JOIN tg USING (gram)
    """,
)
def q_contamination_check(spark, sf_dir):
    return pl.contamination_check(load_table(spark, sf_dir, "documents"))


@register(
    "snapshot_cdc",
    """
    WITH old AS (
      SELECT o_orderkey, o_totalprice AS old_price FROM orders
    ),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2
                  ELSE o_totalprice END AS new_price
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT o_orderkey,
           CASE WHEN old_price IS NULL THEN 'insert'
                WHEN new_price IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           old_price, new_price
    FROM old FULL OUTER JOIN new USING (o_orderkey)
    WHERE old_price IS NULL OR new_price IS NULL OR old_price <> new_price
    """,
)
def q_snapshot_cdc(spark, sf_dir):
    return rel.snapshot_cdc(load_table(spark, sf_dir, "orders"))


@register(
    "events_time_rollup",
    """
    SELECT year(ts) AS yr, month(ts) AS mo, day(ts) AS dy, hour(ts) AS hr,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY ROLLUP (year(ts), month(ts), day(ts), hour(ts))
    """,
)
def q_events_time_rollup(spark, sf_dir):
    return rel.events_time_rollup(load_table(spark, sf_dir, "events"))


@register(
    "weighted_sample_orders",
    # Sequential-Poisson priority u/w mirrored exactly: md5-derived 60-bit
    # uniform, two IEEE divisions (both correctly rounded) — the doubles
    # are bit-identical across engines, so even sample_score value-hashes.
    """
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS weight,
           ((CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) + 1) / 1152921504606846978.0)
             / CAST(o_totalprice AS DOUBLE) AS sample_score
    FROM orders
    ORDER BY sample_score ASC, o_orderkey
    LIMIT 100
    """,
)
def q_weighted_sample_orders(spark, sf_dir):
    return pl.weighted_sample(
        load_table(spark, sf_dir, "orders"), "o_orderkey", "o_totalprice", k=100
    )


@register(
    "pack_sequences",
    # Same per-shard prefix-sum in SQL: every offset is value-checked.
    """
    WITH d AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                  x -> x <> '')) AS INTEGER) AS n_tokens
      FROM documents
    ),
    p AS (
      SELECT doc_id, shard, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS c
      FROM d WHERE n_tokens > 0
    )
    SELECT doc_id, shard, n_tokens,
           (c - n_tokens) // 256 AS seq_start,
           (c - 1) // 256 AS seq_end,
           (c - n_tokens) % 256 AS seq_offset
    FROM p
    """,
)
def q_pack_sequences(spark, sf_dir):
    return pl.pack_sequences(
        load_table(spark, sf_dir, "documents"), capacity=256, shards=8
    )


# KMV bottom-k on the 52-bit md5 basis: u is an exact dyadic double in
# both engines, the retained set is a pure function of the value set, and
# the one division ((k-1)/u_k) is single-rooted IEEE — so the estimate is
# bit-identical to DuckDB's replay. tests/test_sketches.py additionally
# pins accuracy vs exact count-distinct and bit-equality between the
# window and mergeable-partial strategies.
@register(
    "kmv_distinct_custkeys",
    """
    WITH u AS (
      SELECT DISTINCT o_orderpriority,
             CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT)
               / 4503599627370496.0 AS u
      FROM orders
    ),
    r AS (
      SELECT o_orderpriority, u,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY u) AS rn
      FROM u
    )
    SELECT o_orderpriority,
           COUNT(*) AS retained,
           CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 255.0 / MAX(u) END AS kmv_est
    FROM r WHERE rn <= 256
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_kmv_distinct_custkeys(spark, sf_dir):
    return sk.kmv_distinct(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", "o_custkey"
    ).orderBy("o_orderpriority")


_DUCK_PII_INJECT = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 <> 0
                   THEN ' reach user' || doc_id || '@example.org'
                   ELSE '' END
           || CASE WHEN doc_id % 2 = 0
                   THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
           || '.0.' || CAST(doc_id % 250 AS VARCHAR) AS t
    FROM documents
"""


@register(
    "pii_redact",
    f"""
    WITH inj AS ({_DUCK_PII_INJECT})
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{ts.PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{ts.PII_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '{ts.PII_IPV4}')) AS BIGINT) AS n_ip,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '{ts.PII_EMAIL}', '[EMAIL]', 'g'),
               '{ts.PII_PHONE}', '[PHONE]', 'g'),
             '{ts.PII_IPV4}', '[IP]', 'g') AS redacted
    FROM inj
    """,
)
def q_pii_redact(spark, sf_dir):
    return ts.pii_redact(load_table(spark, sf_dir, "documents"))


@register(
    "passage_dedup",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS tk
      FROM documents
    ),
    base AS (SELECT doc_id, tk FROM toks WHERE len(tk) >= 4),
    pas AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, len(tk) // 4),
               i -> sha256(array_to_string(list_slice(tk, i*4+1, i*4+4), ' '))
             )) AS h
      FROM base
    ),
    cnt AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM pas GROUP BY h)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_passages,
           ROUND(CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_ratio
    FROM pas JOIN cnt USING (h)
    GROUP BY doc_id
    """,
)
def q_passage_dedup(spark, sf_dir):
    return dd.passage_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "duplicate_spans",
    # Same stride-1 window hashing + gaps-and-islands merge in SQL:
    # every maximal duplicated span's offset and length value-checks.
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
      FROM documents
    ),
    wi AS (
      SELECT doc_id, i - 1 AS pos,
             md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS h
      FROM t, unnest(range(1, len(toks) - 8 + 2)) AS u(i)
      WHERE len(toks) >= 8
    ),
    dup AS (
      SELECT h FROM wi GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    hits AS (
      SELECT doc_id, pos FROM wi WHERE h IN (SELECT h FROM dup)
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM hits
      )
    )
    SELECT doc_id,
           CAST(MIN(pos) AS INT) AS span_start,
           CAST(MAX(pos) - MIN(pos) + 8 AS INT) AS span_tokens
    FROM isl GROUP BY doc_id, island
    """,
)
def q_duplicate_spans(spark, sf_dir):
    return dd.duplicate_spans(load_table(spark, sf_dir, "documents"))


@register(
    "gopher_repetition",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
      FROM documents
    ),
    tt AS (SELECT * FROM toks WHERE len(toks) >= 2),
    tokc AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS tok FROM tt) GROUP BY doc_id, tok
    ),
    tokagg AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, MAX(c) AS top_tok
      FROM tokc GROUP BY doc_id
    ),
    gramc AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1])) AS gram
            FROM tt) GROUP BY doc_id, gram
    ),
    gramagg AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_gram
      FROM gramc GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_tokens,
           round(CAST(t.top_tok AS DOUBLE) / t.n_tokens, 6) AS top_token_frac,
           round(CAST(g.top_gram AS DOUBLE) / g.n_bigrams, 6) AS top_bigram_frac
    FROM tokagg t JOIN gramagg g USING (doc_id)
    """,
)
def q_gopher_repetition(spark, sf_dir):
    return ts.gopher_repetition(load_table(spark, sf_dir, "documents"))


@register(
    "inverted_index",
    """
    SELECT term, df, postings_head FROM (
      SELECT tok AS term, COUNT(DISTINCT doc_id) AS df,
             array_to_string(list_slice(list_sort(list(DISTINCT doc_id)), 1, 10), ',')
               AS postings_head
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')) AS tok
            FROM documents)
      GROUP BY tok
    ) WHERE df >= 5
    """,
)
def q_inverted_index(spark, sf_dir):
    return ts.inverted_index(load_table(spark, sf_dir, "documents"))


@register(
    "tfidf_topk",
    """
    WITH tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, rank, term, tfidf FROM (
      SELECT tf.doc_id, tf.term,
             round(CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df, 6) AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY round(CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df, 6) DESC,
                        tf.term ASC
             ) AS rank
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rank <= 3
    """,
)
def q_tfidf_topk(spark, sf_dir):
    return ts.tfidf_topk(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Pandas-UDF surface (SURVEY.md §2.3 UDF row) — each oracled against plain
# SQL, proving the Python path computes exactly what the declarative form
# would. Multimodal features are rows-only (bytes math has no SQL twin).
# ---------------------------------------------------------------------------


@register(
    "udf_normalize_text",
    """
    SELECT doc_id, regexp_replace(lower(trim(text)), '[\\s\\x0b]+', ' ', 'g') AS normalized
    FROM documents
    """,
)
def q_udf_normalize_text(spark, sf_dir):
    return pu.normalize_text(load_table(spark, sf_dir, "documents"))


@register(
    "udf_wordcount_combiner",
    """
    SELECT source, word, COUNT(*) AS cnt
    FROM (
      SELECT source, unnest(string_split_regex(text, '[\\s\\x0b]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY source, word
    """,
)
def q_udf_wordcount_combiner(spark, sf_dir):
    return pu.wordcount_combiner_pandas(load_table(spark, sf_dir, "documents"))


@register(
    "udf_grouped_k_stats",
    """
    SELECT event_type, CAST(SUM(k) AS BIGINT) AS k_sum, COUNT(*) AS n,
           round(CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS k_mean
    FROM (SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def q_udf_grouped_k_stats(spark, sf_dir):
    return pu.grouped_k_stats(load_table(spark, sf_dir, "events"))


@register("multimodal_features")  # bytes math has no SQL twin → rows-only
def q_multimodal_features(spark, sf_dir):
    return mm.media_features(
        mm.to_multimodal(load_table(spark, sf_dir, "documents"))
    )


# ---------------------------------------------------------------------------
# Event-time windowing (batch mode of the streaming surface; the streaming
# variants with watermarks are pinned by tests/test_streaming.py). Window
# boundaries are compared as formatted strings — representation-proof.
# ---------------------------------------------------------------------------

_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@register(
    "events_tumbling",
    f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_TS_FMT_DUCK}') AS window_start,
           strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour',
                    '{_TS_FMT_DUCK}') AS window_end,
           event_type, COUNT(*) AS cnt,
           MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
    FROM events
    GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
    """,
)
def q_events_tumbling(spark, sf_dir):
    return sw.tumbling_counts(load_table(spark, sf_dir, "events"))


@register(
    "events_sliding",
    f"""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - off AS s
      FROM events
      CROSS JOIN (SELECT unnest([INTERVAL '0' MINUTE, INTERVAL '30' MINUTE]) AS off) o
    )
    SELECT strftime(s, '{_TS_FMT_DUCK}') AS window_start,
           strftime(s + INTERVAL '1 hour', '{_TS_FMT_DUCK}') AS window_end,
           COUNT(*) AS cnt
    FROM expanded GROUP BY s
    """,
)
def q_events_sliding(spark, sf_dir):
    return sw.sliding_counts(load_table(spark, sf_dir, "events"))


@register(
    "events_session",
    f"""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30' MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    )
    SELECT user_id, strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(MAX(ts) + INTERVAL '30' MINUTE, '{_TS_FMT_DUCK}') AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q_events_session(spark, sf_dir):
    return sw.session_counts(load_table(spark, sf_dir, "events"))


@register(
    "events_distinct_users",
    f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_TS_FMT_DUCK}')
             AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events
    GROUP BY time_bucket(INTERVAL '1 hour', ts)
    """,
)
def q_events_distinct_users(spark, sf_dir):
    return sw.tumbling_distinct_users(load_table(spark, sf_dir, "events"))


@register(
    "debounce_events",
    f"""
    SELECT DISTINCT user_id, event_type,
           strftime(date_trunc('minute', ts), '{_TS_FMT_DUCK}') AS minute
    FROM events
    """,
)
def q_debounce_events(spark, sf_dir):
    # batch twin of the dropDuplicatesWithinWatermark streaming dedup
    # (equivalence on finite input pinned in tests/test_streaming.py)
    return sw.debounced_events(load_table(spark, sf_dir, "events"))


@register(
    "click_attribution",
    """
    WITH v AS (
      SELECT user_id AS v_user, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    c AS (
      SELECT user_id, event_id AS click_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    )
    SELECT user_id, click_id, view_id,
           epoch_us(c_ts) - epoch_us(v_ts) AS gap_us
    FROM c JOIN v
      ON v_user = user_id
     AND v_ts <= c_ts
     AND v_ts >= c_ts - INTERVAL '10 minutes'
    """,
)
def q_click_attribution(spark, sf_dir):
    # batch twin of the watermarked stream-stream interval join
    # (row-identity on finite input pinned in tests/test_streaming.py)
    return sw.click_view_attribution(load_table(spark, sf_dir, "events"))


@register(
    "unigram_surprisal",
    """
    WITH ex AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM ex GROUP BY word),
    t AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM v)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(c) AS BIGINT) AS sum_freq,
           CAST(MIN(c) AS BIGINT) AS min_freq,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(c) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(t) AS DOUBLE))
             AS mean_token_prob,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
    FROM ex JOIN v USING (word) CROSS JOIN t
    GROUP BY doc_id
    """,
)
def q_unigram_surprisal(spark, sf_dir):
    return ts.unigram_surprisal(load_table(spark, sf_dir, "documents"))


@register(
    "bigram_lm",
    """
    WITH t AS (
      SELECT list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    b AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ),
    c AS (SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY w1, w2)
    SELECT w1, w2, cnt,
           ROUND(cnt / SUM(cnt) OVER (PARTITION BY w1), 6) AS cond_p
    FROM c
    """,
)
def q_bigram_lm(spark, sf_dir):
    return ts.bigram_lm(load_table(spark, sf_dir, "documents"))


# CCNet-style LM-quality tiers: per-doc mean NLL under the corpus bigram
# LM (add-one smoothing over corpus vocab), rounded BEFORE the ntile so
# bucket boundaries can't flip on last-ulp noise. The oracle replays the
# LM, the smoothing, and the bucketing end to end.
@register(
    "perplexity_buckets",
    """
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
      FROM documents
    ),
    t2 AS (SELECT doc_id, toks FROM toked WHERE len(toks) >= 2),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM t2, unnest(range(1, len(toks))) AS u(i)
    ),
    lm AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    lm1 AS (
      SELECT w1, w2, c12, SUM(c12) OVER (PARTITION BY w1) AS c1 FROM lm
    ),
    vocab AS (
      SELECT COUNT(DISTINCT t) AS v_size
      FROM (SELECT unnest(toks) AS t FROM t2)
    ),
    terms AS (
      SELECT bg.doc_id,
             -ln((c12 + 1) / CAST(c1 + v_size AS DOUBLE)) AS nll
      FROM bg JOIN lm1 ON bg.w1 = lm1.w1 AND bg.w2 = lm1.w2
      CROSS JOIN vocab
    ),
    scores AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(nll), 6) AS avg_nll
      FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, avg_nll,
           ROUND(exp(avg_nll), 4) AS ppl,
           CAST(NTILE(3) OVER (ORDER BY avg_nll, doc_id) AS INTEGER)
             AS ppl_bucket
    FROM scores
    """,
)
def q_perplexity_buckets(spark, sf_dir):
    return ts.perplexity_buckets(load_table(spark, sf_dir, "documents"))


@register(
    "collocations_pmi",
    """
    WITH toked AS (
      SELECT list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
      FROM documents
    ),
    bg AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM toked, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ),
    c AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    cc AS (
      SELECT w1, w2, c12,
             SUM(c12) OVER (PARTITION BY w1) AS c1,
             SUM(c12) OVER (PARTITION BY w2) AS c2
      FROM c
    ),
    n AS (SELECT SUM(c12) AS n_bigrams FROM c)
    SELECT w1, w2, c12,
           ROUND(log2(CAST(c12 * n_bigrams AS DOUBLE)
                      / CAST(c1 * c2 AS DOUBLE)), 6) AS pmi
    FROM cc CROSS JOIN n
    WHERE c12 >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 50
    """,
)
def q_collocations_pmi(spark, sf_dir):
    return ts.collocations_pmi(load_table(spark, sf_dir, "documents"))


@register(
    "char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    c2 AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars WHERE ch <> ''
      GROUP BY 1, 2
    ),
    pd AS (
      SELECT doc_id, ch, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM c2
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS INTEGER) AS distinct_chars,
           ROUND(SUM(-(c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))), 6)
             AS entropy_bits
    FROM pd GROUP BY doc_id
    """,
)
def q_char_entropy(spark, sf_dir):
    return ts.char_entropy(load_table(spark, sf_dir, "documents"))


@register(
    "global_row_number",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
    FROM orders
    """,
)
def q_global_row_number(spark, sf_dir):
    return rel.global_row_number(load_table(spark, sf_dir, "orders"))


@register(
    "table_profile",
    """
    WITH a AS (
      SELECT COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
        CAST(MIN(l_quantity) AS DOUBLE) AS q_min,
        CAST(MAX(l_quantity) AS DOUBLE) AS q_max,
        COUNT(DISTINCT l_quantity) AS q_ndv,
        CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_nulls,
        CAST(MIN(l_extendedprice) AS DOUBLE) AS p_min,
        CAST(MAX(l_extendedprice) AS DOUBLE) AS p_max,
        COUNT(DISTINCT l_extendedprice) AS p_ndv,
        CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
        CAST(MIN(l_discount) AS DOUBLE) AS d_min,
        CAST(MAX(l_discount) AS DOUBLE) AS d_max,
        COUNT(DISTINCT l_discount) AS d_ndv,
        CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS t_nulls,
        CAST(MIN(l_tax) AS DOUBLE) AS t_min,
        CAST(MAX(l_tax) AS DOUBLE) AS t_max,
        COUNT(DISTINCT l_tax) AS t_ndv
      FROM lineitem
    )
    SELECT 'l_quantity' AS col, n_rows, q_nulls AS n_null,
           q_min AS vmin, q_max AS vmax, q_ndv AS ndv FROM a
    UNION ALL
    SELECT 'l_extendedprice', n_rows, p_nulls, p_min, p_max, p_ndv FROM a
    UNION ALL
    SELECT 'l_discount', n_rows, d_nulls, d_min, d_max, d_ndv FROM a
    UNION ALL
    SELECT 'l_tax', n_rows, t_nulls, t_min, t_max, t_ndv FROM a
    """,
)
def q_table_profile(spark, sf_dir):
    return rel.table_profile(load_table(spark, sf_dir, "lineitem"))


@register(
    "equidepth_histogram",
    """
    WITH b AS (
      SELECT quantile_cont(o_totalprice, 0.1) AS p0,
             quantile_cont(o_totalprice, 0.2) AS p1,
             quantile_cont(o_totalprice, 0.3) AS p2,
             quantile_cont(o_totalprice, 0.4) AS p3,
             quantile_cont(o_totalprice, 0.5) AS p4,
             quantile_cont(o_totalprice, 0.6) AS p5,
             quantile_cont(o_totalprice, 0.7) AS p6,
             quantile_cont(o_totalprice, 0.8) AS p7,
             quantile_cont(o_totalprice, 0.9) AS p8
      FROM orders
    )
    SELECT bin, COUNT(*) AS n,
           ROUND(MIN(v), 6) AS vmin, ROUND(MAX(v), 6) AS vmax
    FROM (
      SELECT CAST(o_totalprice AS DOUBLE) AS v,
             (CASE WHEN CAST(o_totalprice AS DOUBLE) > p0 THEN 1 ELSE 0 END
              + CASE WHEN CAST(o_totalprice AS DOUBLE) > p1 THEN 1 ELSE 0 END
              + CASE WHEN CAST(o_totalprice AS DOUBLE) > p2 THEN 1 ELSE 0 END
              + CASE WHEN CAST(o_totalprice AS DOUBLE) > p3 THEN 1 ELSE 0 END
              + CASE WHEN CAST(o_totalprice AS DOUBLE) > p4 THEN 1 ELSE 0 END
              + CASE WHEN CAST(o_totalprice AS DOUBLE) > p5 THEN 1 ELSE 0 END
              + CASE WHEN CAST(o_totalprice AS DOUBLE) > p6 THEN 1 ELSE 0 END
              + CASE WHEN CAST(o_totalprice AS DOUBLE) > p7 THEN 1 ELSE 0 END
              + CASE WHEN CAST(o_totalprice AS DOUBLE) > p8 THEN 1 ELSE 0 END
             ) AS bin
      FROM orders, b
    )
    GROUP BY bin
    """,
)
def q_equidepth_histogram(spark, sf_dir):
    return rel.equidepth_histogram(load_table(spark, sf_dir, "orders"))


@register(
    "iqr_outliers",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, COUNT(*) AS n,
           CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) < q1 - 1.5*(q3-q1)
                           OR CAST(l_extendedprice AS DOUBLE) > q3 + 1.5*(q3-q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MIN(q1), 6) AS q1, ROUND(MIN(q3), 6) AS q3,
           ROUND(CAST(SUM(CASE WHEN CAST(l_extendedprice AS DOUBLE) < q1 - 1.5*(q3-q1)
                                 OR CAST(l_extendedprice AS DOUBLE) > q3 + 1.5*(q3-q1)
                               THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS outlier_rate
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q_iqr_outliers(spark, sf_dir):
    return rel.iqr_outliers(load_table(spark, sf_dir, "lineitem"))


@register(
    "chi_square_independence",
    """
    WITH obs AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS o
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    cells AS (
      SELECT o_orderstatus, o_orderpriority, o,
             SUM(o) OVER (PARTITION BY o_orderstatus) AS r,
             SUM(o) OVER (PARTITION BY o_orderpriority) AS c,
             SUM(o) OVER () AS n
      FROM obs
    )
    SELECT CAST(SUM(CAST(ROUND(
             (CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*CAST(c AS DOUBLE)/CAST(n AS DOUBLE))
             * (CAST(o AS DOUBLE) - CAST(r AS DOUBLE)*CAST(c AS DOUBLE)/CAST(n AS DOUBLE))
             / (CAST(r AS DOUBLE)*CAST(c AS DOUBLE)/CAST(n AS DOUBLE)), 6)
           AS DECIMAL(18,6))) AS DOUBLE) AS chi2,
           (COUNT(DISTINCT o_orderstatus) - 1)
             * (COUNT(DISTINCT o_orderpriority) - 1) AS dof,
           CAST(MAX(n) AS BIGINT) AS n
    FROM cells
    """,
)
def q_chi_square_independence(spark, sf_dir):
    return rel.chi_square_independence(load_table(spark, sf_dir, "orders"))


@register(
    "skew_report",
    """
    WITH freq AS (
      SELECT l_suppkey, COUNT(*) AS f FROM lineitem GROUP BY l_suppkey
    ),
    q AS (
      SELECT quantile_cont(f, 0.5) AS p50_freq,
             quantile_cont(f, 0.99) AS p99_freq
      FROM freq
    )
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(f) AS BIGINT) AS n_rows,
           CAST(MAX(f) AS BIGINT) AS max_freq,
           ROUND(CAST(MAX(f) AS DOUBLE) / SUM(f), 6) AS top_key_share,
           MIN(p50_freq) AS p50_freq,
           MIN(p99_freq) AS p99_freq,
           ROUND(MIN(p99_freq) / MIN(p50_freq), 6) AS p99_p50_ratio
    FROM freq, q
    """,
)
def q_skew_report(spark, sf_dir):
    return rel.skew_report(load_table(spark, sf_dir, "lineitem"))


@register(
    "mad_stats",
    """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
      SELECT l.l_returnflag, med,
             ABS(CAST(l_extendedprice AS DOUBLE) - med) AS dev
      FROM lineitem l JOIN med USING (l_returnflag)
    )
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(MIN(med), 6) AS median_price,
           ROUND(quantile_cont(dev, 0.5), 6) AS mad_price
    FROM dev GROUP BY l_returnflag
    """,
)
def q_mad_stats(spark, sf_dir):
    return rel.mad_stats(load_table(spark, sf_dir, "lineitem"))


@register(
    "regression_by_group",
    """
    WITH a AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
             -- DECIMAL(12,2) operands: DuckDB computes DECIMAL(18)x
             -- products in int64 and overflows; the inputs carry 2 dp,
             -- so the narrower cast is value-identical.
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / n, 6) AS intercept
    FROM a
    """,
)
def q_regression_by_group(spark, sf_dir):
    return rel.regression_by_group(load_table(spark, sf_dir, "lineitem"))


@register(
    "ohlc_hourly",
    """
    WITH r AS (
      SELECT date_trunc('hour', ts) AS bar_hour, value,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS ra,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    )
    SELECT bar_hour,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           MAX(CASE WHEN rd = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM r GROUP BY bar_hour
    """,
)
def q_ohlc_hourly(spark, sf_dir):
    return rel.ohlc_hourly(load_table(spark, sf_dir, "events"))


@register(
    "time_weighted_avg",
    """
    WITH seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,6)) AS v,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
      FROM events
    ),
    agg AS (
      SELECT user_id, COUNT(*) AS n_segments,
             SUM(v * dt_us) AS sv, SUM(dt_us) AS st
      FROM seg WHERE dt_us IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_segments,
           ROUND(CAST(sv AS DOUBLE) / CAST(st AS DOUBLE), 6) AS twa_value
    FROM agg WHERE st > 0
    """,
)
def q_time_weighted_avg(spark, sf_dir):
    return rel.time_weighted_avg(load_table(spark, sf_dir, "events"))


# EWMA engineered for cross-engine bit-exactness: alpha = 1/2 makes the
# recurrence's multiply exact, and both engines fold the window-collected
# array head-seeded left-to-right (see relational.ewma_values).
@register(
    "ewma_values",
    """
    SELECT user_id, event_id, value,
           list_reduce(l, (acc, x) -> (acc + x) * 0.5) AS ewma
    FROM (
      SELECT user_id, event_id, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    """,
)
def q_ewma_values(spark, sf_dir):
    return rel.ewma_values(load_table(spark, sf_dir, "events"))


# Exact trailing-21 median per user: bounded frame array, sorted middle
# element(s) — deterministic under any input order; the even-frame mean
# is one add + one exact halving.
@register(
    "rolling_median",
    """
    SELECT user_id, event_id, value,
           CASE WHEN len(a) % 2 = 1 THEN a[(len(a) + 1) // 2]
                ELSE (a[len(a) // 2] + a[len(a) // 2 + 1]) * 0.5
           END AS rolling_median
    FROM (
      SELECT user_id, event_id, value,
             list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)) AS a
      FROM events
    )
    """,
)
def q_rolling_median(spark, sf_dir):
    return rel.rolling_median(load_table(spark, sf_dir, "events"))


# 2-D skyline via sort, not the O(n^2) dominance self-join the oracle
# runs — the engine's answer ranks only the price-distinct relation.
@register(
    "pareto_front",
    """
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM orders q
      WHERE q.o_totalprice >= o.o_totalprice
        AND q.o_orderdate >= o.o_orderdate
        AND (q.o_totalprice > o.o_totalprice
             OR q.o_orderdate > o.o_orderdate)
    )
    """,
)
def q_pareto_front(spark, sf_dir):
    return rel.pareto_front(load_table(spark, sf_dir, "orders"))


@register(
    "concurrency_profile",
    f"""
    WITH d0 AS (
      SELECT ts AS t, 1 AS d, event_id FROM events
      UNION ALL
      SELECT ts + INTERVAL '5 minutes', -1, event_id FROM events
    ),
    span AS (
      SELECT date_trunc('hour', MIN(t)) AS a, date_trunc('hour', MAX(t)) AS b
      FROM d0
    ),
    probes AS (
      SELECT unnest(generate_series(a, b, INTERVAL '1 hour')) AS t,
             0 AS d, -1 AS event_id
      FROM span
    ),
    d AS (SELECT * FROM d0 UNION ALL SELECT * FROM probes),
    s AS (
      SELECT t, SUM(d) OVER (ORDER BY t, d, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS live
      FROM d
    )
    SELECT strftime(date_trunc('hour', t), '{_TS_FMT_DUCK}') AS hour,
           CAST(MAX(live) AS INTEGER) AS peak_concurrency
    FROM s GROUP BY date_trunc('hour', t)
    """,
)
def q_concurrency_profile(spark, sf_dir):
    return rel.concurrency_profile(load_table(spark, sf_dir, "events"))


# Ordered 3-step funnel with per-step deadlines — each step anchors on
# min(ts) inside the previous step's window, so no event-by-event join
# ever forms; the oracle replays the same three anchored aggregations.
@register(
    "funnel_sequence",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= v.t1 AND e.ts <= v.t1 + INTERVAL '1 hour'
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= c.t2 AND e.ts <= c.t2 + INTERVAL '1 hour'
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked,
           (SELECT COUNT(*) FROM p) AS n_purchased
    """,
)
def q_funnel_sequence(spark, sf_dir):
    return rel.funnel_sequence(load_table(spark, sf_dir, "events"))


# First-order Markov transition matrix over within-session event pairs —
# the lag-then-cumsum sessionization and the lead() lookup replay
# exactly; probabilities are integer-count ratios rounded to 6.
@register(
    "markov_transitions",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    ),
    s AS (
      SELECT *,
             SUM(CASE WHEN prev IS NULL
                       OR epoch_us(ts) // 1000000
                          - epoch_us(prev) // 1000000 > 1800
                       THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    pairs AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id, sid
                                    ORDER BY ts, event_id) AS nxt
      FROM s
    ),
    c AS (
      SELECT cur, nxt, COUNT(*) AS c FROM pairs
      WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT cur, nxt, c,
           ROUND(c / SUM(c) OVER (PARTITION BY cur), 6) AS p
    FROM c
    """,
)
def q_markov_transitions(spark, sf_dir):
    return rel.markov_transitions(load_table(spark, sf_dir, "events"))


# Keyset pagination must agree row-for-row with OFFSET/LIMIT over the
# identical total order — the oracle runs the offset scan the seek
# method exists to avoid.
@register(
    "keyset_page",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey ASC
    LIMIT 20 OFFSET 40
    """,
)
def q_keyset_page(spark, sf_dir):
    return rel.keyset_page(load_table(spark, sf_dir, "orders"))


@register(
    "abandoned_views",
    """
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS v_ts FROM events
      WHERE event_type = 'view'
    ),
    pv AS (
      SELECT user_id, view_id,
             EXISTS (
               SELECT 1 FROM events c
               WHERE c.event_type = 'click' AND c.user_id = v.user_id
                 AND c.ts >= v.v_ts
                 AND c.ts <= v.v_ts + INTERVAL '10 minutes'
             ) AS converted
      FROM v
    )
    SELECT user_id,
           COUNT(*) AS n_views,
           CAST(SUM(CASE WHEN NOT converted THEN 1 ELSE 0 END) AS BIGINT)
             AS n_abandoned,
           ROUND(SUM(CASE WHEN NOT converted THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS abandonment_rate
    FROM pv GROUP BY user_id
    """,
)
def q_abandoned_views(spark, sf_dir):
    return rel.abandoned_views(load_table(spark, sf_dir, "events"))


@register(
    "dwell_time_stats",
    """
    WITH g AS (
      SELECT event_type,
             LEAD(epoch_us(ts) // 1000000)
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - epoch_us(ts) // 1000000 AS gap_s
      FROM events
    )
    SELECT event_type,
           ROUND(quantile_cont(gap_s, 0.5), 6) AS median_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s
    FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
    """,
)
def q_dwell_time_stats(spark, sf_dir):
    return rel.dwell_time_stats(load_table(spark, sf_dir, "events"))


@register(
    "cohort_matrix",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS wk
      FROM events
    ),
    f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY user_id),
    j AS (
      SELECT f.cohort_wk, uw.wk - f.cohort_wk AS age_weeks
      FROM uw JOIN f USING (user_id)
    ),
    g AS (
      SELECT cohort_wk, age_weeks, COUNT(*) AS n_active
      FROM j GROUP BY 1, 2
    ),
    sz AS (SELECT cohort_wk, COUNT(*) AS cohort_size FROM f GROUP BY 1)
    SELECT g.cohort_wk, g.age_weeks, n_active, cohort_size,
           ROUND(n_active / CAST(cohort_size AS DOUBLE), 6) AS retention
    FROM g JOIN sz USING (cohort_wk)
    """,
)
def q_cohort_matrix(spark, sf_dir):
    return rel.cohort_matrix(load_table(spark, sf_dir, "events"))


# Theta-sketch intersection: join-cardinality estimate from two KMV
# sketches (never a raw-table join); the oracle replays the bottom-k
# sets, the θ∩ cut, and the |S|/θ∩ estimator on the same md5 basis,
# alongside the exact overlap so the error is part of the checked row.
@register(
    "sketch_join_cardinality",
    """
    WITH ka AS (
      SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn FROM (
        SELECT DISTINCT
          CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) AS BIGINT)
            / 4503599627370496.0 AS u
        FROM orders
      ) QUALIFY rn <= 256
    ),
    kb AS (
      SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn FROM (
        SELECT DISTINCT
          CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13)) AS BIGINT)
            / 4503599627370496.0 AS u
        FROM customer
      ) QUALIFY rn <= 256
    ),
    ta AS (SELECT CASE WHEN COUNT(*) < 256 THEN 1.0 ELSE MAX(u) END AS ta FROM ka),
    tb AS (SELECT CASE WHEN COUNT(*) < 256 THEN 1.0 ELSE MAX(u) END AS tb FROM kb),
    s AS (
      SELECT ka.u FROM ka JOIN kb ON ka.u = kb.u, ta, tb
      WHERE ka.u < LEAST(ta, tb)
    ),
    est AS (
      SELECT COUNT(*) AS retained,
             COALESCE(ROUND(COUNT(*) / MIN(LEAST(ta, tb)), 4), 0.0)
               AS est_overlap
      FROM s, ta, tb
    ),
    ex AS (
      SELECT COUNT(*) AS exact_overlap FROM (
        SELECT DISTINCT o_custkey FROM orders
      ) a JOIN (SELECT DISTINCT c_custkey FROM customer) b
        ON a.o_custkey = b.c_custkey
    )
    SELECT retained, est_overlap, exact_overlap FROM est, ex
    """,
)
def q_sketch_join_cardinality(spark, sf_dir):
    return sk.theta_intersection_estimate(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        load_table(spark, sf_dir, "customer"),
        "c_custkey",
    )


@register(
    "stratified_fixed_k",
    """
    SELECT doc_id, lang, rk FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 20
    """,
)
def q_stratified_fixed_k(spark, sf_dir):
    return pl.stratified_fixed_k(load_table(spark, sf_dir, "documents"))


@register(
    "gap_fill_locf",
    """
    WITH b AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo,
             date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    u AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM u CROSS JOIN b
    ),
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             arg_max(value, event_id) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT g.user_id,
           strftime(g.hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           last_value(h.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
           h.v IS NOT NULL AS observed
    FROM grid g LEFT JOIN hourly h USING (user_id, hr)
    """,
)
def q_gap_fill_locf(spark, sf_dir):
    return rel.gap_fill_locf(load_table(spark, sf_dir, "events"))


@register(
    "try_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / l_quantity AS safe_div,
           l_extendedprice / NULLIF(l_quantity - 25.0, 0.0) AS div_maybe,
           TRY_CAST(CASE WHEN l_linenumber % 2 = 1 THEN l_returnflag
                         ELSE CAST(l_linenumber AS VARCHAR) END
                    AS INTEGER) AS cast_mixed,
           TRY_CAST('4' || CAST(l_linenumber AS VARCHAR) AS INTEGER) AS cast_num,
           l_orderkey + 1 AS add_ok,
           CASE WHEN l_orderkey % 2 = 0 THEN CAST(NULL AS BIGINT)
                ELSE 9223372036854775807 END AS add_overflow
    FROM lineitem
    """,
)
def q_try_funcs(spark, sf_dir):
    return rel.try_funcs(load_table(spark, sf_dir, "lineitem"))


@register(
    "incremental_agg_update",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_incremental_agg_update(spark, sf_dir):
    return rel.incremental_agg_update(load_table(spark, sf_dir, "orders"))


@register(
    "mixture_weights",
    """
    WITH per_src AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    wtd AS (
      SELECT source, n_tokens,
             pow(CAST(n_tokens AS DOUBLE), 0.5) AS w,
             SUM(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER () AS wsum
      FROM per_src
    )
    SELECT source, n_tokens,
           ROUND(w / wsum, 6) AS weight,
           CAST(FLOOR(w / wsum * 1000000) AS BIGINT) AS budget_tokens,
           ROUND(LEAST(1.0, w / wsum * 1000000 / n_tokens), 6) AS sampling_rate
    FROM wtd
    """,
)
def q_mixture_weights(spark, sf_dir):
    return pl.mixture_weights(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-3 surface: ordered-set aggs, robust stats, recursive CTE,
# URL functions, bitmap/HLL cardinality, SemDeDup
# ---------------------------------------------------------------------------


# Oracle pins percentile_disc/mode BY CONSTRUCTION (explicit cume_dist /
# count-then-tiebreak windows) rather than trusting DuckDB's tie rules to
# coincide with Spark's.
@register(
    "ordered_set_aggs",
    """
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             cume_dist() OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice) AS cd
      FROM orders
    ),
    disc AS (
      SELECT o_orderstatus,
             MIN(o_totalprice) FILTER (WHERE cd >= 0.5) AS median_price_disc,
             MIN(o_totalprice) FILTER (WHERE cd >= 0.9) AS p90_price_disc
      FROM ranked GROUP BY o_orderstatus
    ),
    pc AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY COUNT(*) DESC,
                                         o_orderpriority ASC) AS rn
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    base AS (
      SELECT o_orderstatus,
             string_agg(DISTINCT o_orderpriority, '|'
                        ORDER BY o_orderpriority) AS priorities,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderstatus
    )
    SELECT base.o_orderstatus, median_price_disc, p90_price_disc,
           pc.o_orderpriority AS mode_priority, priorities, n
    FROM base
    JOIN disc USING (o_orderstatus)
    JOIN pc   USING (o_orderstatus)
    WHERE pc.rn = 1
    """,
)
def q_ordered_set_aggs(spark, sf_dir):
    return rel.ordered_set_aggs(load_table(spark, sf_dir, "orders"))


@register(
    "winsorized_stats",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    ),
    m AS (
      SELECT l.l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(LEAST(GREATEST(l_extendedprice, lo), hi)
                      AS DECIMAL(28,10))) AS sv,
             SUM(CAST(LEAST(GREATEST(l_extendedprice, lo), hi)
                      AS DECIMAL(28,10))
                 * CAST(LEAST(GREATEST(l_extendedprice, lo), hi)
                        AS DECIMAL(28,10))) AS svv,
             MIN(lo) AS lo, MIN(hi) AS hi
      FROM lineitem l JOIN b USING (l_returnflag)
      GROUP BY l.l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(lo, 6) AS p05,
           ROUND(hi, 6) AS p95,
           ROUND(CAST(sv AS DOUBLE) / n, 6) AS wins_mean,
           ROUND(SQRT((CAST(svv AS DOUBLE)
                       - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
                      / (n - 1)), 6) AS wins_std
    FROM m
    """,
)
def q_winsorized_stats(spark, sf_dir):
    return rel.winsorized_stats(load_table(spark, sf_dir, "lineitem"))


@register(
    "hierarchy_rollup",
    """
    WITH RECURSIVE walk(k, step) AS (
      SELECT c_custkey, 0 FROM customer
      UNION ALL
      SELECT k // 2, step + 1 FROM walk WHERE k > 0
    )
    SELECT step AS depth, CAST(COUNT(*) AS BIGINT) AS n_on_level,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM walk GROUP BY step
    """,
)
def q_hierarchy_rollup(spark, sf_dir):
    return rel.hierarchy_rollup(spark, load_table(spark, sf_dir, "customer"))


# The oracle rebuilds each parse_url component with plain string ops —
# sound because source/lang are alphanumeric (the one encoded char
# sequence, ' x/', is written out explicitly).
@register(
    "url_funcs",
    """
    SELECT doc_id,
           source || '.example.org' AS host,
           '/docs/' || doc_id AS path,
           'lang=' || lang || '&rank=' || (doc_id % 7) AS query,
           lang AS lang_param,
           source || '+x%2F' || lang AS enc,
           source || ' x/' || lang AS dec
    FROM documents
    """,
)
def q_url_funcs(spark, sf_dir):
    return rel.url_funcs(load_table(spark, sf_dir, "documents"))


@register(
    "bitmap_distinct_users",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def q_bitmap_distinct_users(spark, sf_dir):
    return sk.bitmap_distinct(load_table(spark, sf_dir, "events"))


@register(
    "bitmap_distinct_global",
    """
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_global
    FROM events
    """,
)
def q_bitmap_distinct_global(spark, sf_dir):
    return sk.bitmap_distinct_global(load_table(spark, sf_dir, "events"))


# DataSketches HLL estimate — no DuckDB sketch twin → rows-only;
# accuracy and union-mergeability pinned in tests/test_sketches.py.
@register("hll_sketch_users")
def q_hll_sketch_users(spark, sf_dir):
    return sk.hll_sketch_distinct(load_table(spark, sf_dir, "events"))


_HLL_M = 64
_HLL_W = 46  # 52-bit md5 prefix minus b=6 index bits
_HLL_MASK = (1 << _HLL_W) - 1
_HLL_ALPHA_M2 = 0.709 * _HLL_M * _HLL_M


# First-principles HLL whose every register — and the estimate itself — is
# replayed by the oracle: the b/w bit split, length(bin(x)) bit-length rho,
# the dyadic-exact register sum (order-independent by construction, see
# sketches.hll_estimate_manual), and the linear-counting correction branch.
@register(
    "hll_manual_users",
    f"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS x
      FROM events
    ),
    r AS (
      SELECT event_type, x >> {_HLL_W} AS idx,
             CASE WHEN (x & {_HLL_MASK}) = 0 THEN {_HLL_W + 1}
                  ELSE {_HLL_W + 1} - length(bin(x & {_HLL_MASK})) END AS rho
      FROM h
    ),
    regs AS (
      SELECT event_type, idx, MAX(rho) AS M FROM r GROUP BY event_type, idx
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS v_set, SUM(pow(2.0, -M)) AS z_set
      FROM regs GROUP BY event_type
    )
    SELECT event_type,
           CAST(v_set AS INTEGER) AS registers_set,
           round(CASE WHEN raw <= {2.5 * _HLL_M!r} AND ({_HLL_M} - v_set) > 0
                      THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST({_HLL_M} - v_set AS DOUBLE))
                      ELSE raw END, 6) AS hll_est
    FROM (
      SELECT *, {_HLL_ALPHA_M2!r} / (z_set + CAST({_HLL_M} - v_set AS DOUBLE)) AS raw
      FROM agg
    )
    """,
)
def q_hll_manual_users(spark, sf_dir):
    return sk.hll_estimate_manual(load_table(spark, sf_dir, "events"))


# Sliding distinct-users via HLL register max-merge: per-hour registers
# built once, each trailing 3h window merges 3 bounded register sets —
# union semantics with no event rescan. Oracle replays registers, the
# range-join merge, and the corrected estimate.
@register(
    "hll_sliding_users",
    f"""
    WITH h AS (
      SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_num,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS x
      FROM events
    ),
    r AS (
      SELECT hour_num, x >> {_HLL_W} AS idx,
             CASE WHEN (x & {_HLL_MASK}) = 0 THEN {_HLL_W + 1}
                  ELSE {_HLL_W + 1} - length(bin(x & {_HLL_MASK})) END AS rho
      FROM h
    ),
    regs AS (SELECT hour_num, idx, MAX(rho) AS M FROM r GROUP BY 1, 2),
    grid AS (SELECT DISTINCT hour_num FROM regs),
    merged AS (
      SELECT g.hour_num, r2.idx, MAX(r2.M) AS M
      FROM grid g JOIN regs r2
        ON r2.hour_num <= g.hour_num AND r2.hour_num > g.hour_num - 3
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT hour_num, COUNT(*) AS v_set, SUM(pow(2.0, -M)) AS z_set
      FROM merged GROUP BY 1
    )
    SELECT strftime(to_timestamp(hour_num * 3600), '{_TS_FMT_DUCK}')
             AS window_end_hour,
           CAST(v_set AS INTEGER) AS registers_set,
           round(CASE WHEN raw <= {2.5 * _HLL_M!r} AND ({_HLL_M} - v_set) > 0
                      THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST({_HLL_M} - v_set AS DOUBLE))
                      ELSE raw END, 6) AS hll_users_trailing
    FROM (
      SELECT *, {_HLL_ALPHA_M2!r} / (z_set + CAST({_HLL_M} - v_set AS DOUBLE)) AS raw
      FROM agg
    )
    """,
)
def q_hll_sliding_users(spark, sf_dir):
    return sk.hll_sliding_users(load_table(spark, sf_dir, "events"))


# k-means assignment has no DuckDB twin → rows-only; planted-duplicate
# recall, keep-count accounting, and layout-determinism pinned in
# tests/test_similarity.py.
@register("semdedup_keep")
def q_semdedup_keep(spark, sf_dir):
    return sim.semdedup(load_table(spark, sf_dir, "embeddings"))


# Gap arithmetic is integer epoch-seconds (epoch_us // 1e6 == Spark's
# timestamp->long cast, floor semantics) so the compare is exact; the
# window SUM is HUGEINT in DuckDB -> CAST. sum_value is a few-element
# double sum, ROUND(4) absorbs the order-dependence.
@register(
    "sessionize_events",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    ),
    s AS (
      SELECT *,
             CAST(SUM(CASE WHEN prev IS NULL
                           OR epoch_us(ts) // 1000000
                              - epoch_us(prev) // 1000000 > 1800
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM o
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(MAX(epoch_us(ts) // 1000000)
                - MIN(epoch_us(ts) // 1000000) AS BIGINT) AS duration_sec,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_sessionize_events(spark, sf_dir):
    return rel.sessionize_events(load_table(spark, sf_dir, "events"))


# The rolling stats are computed from integer window sums (Σx, Σx² as
# BIGINT) so the only float arithmetic is the identical closed-form
# mean/std/z expression on both sides; is_anomaly tests the ROUNDED z.
@register(
    "rolling_anomaly",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    w AS (
      SELECT event_type, hour, x,
             CAST(COUNT(*) OVER fr AS BIGINT) AS n_ref,
             CAST(SUM(x) OVER fr AS BIGINT) AS s,
             CAST(SUM(x * x) OVER fr AS BIGINT) AS ss
      FROM hourly
      WINDOW fr AS (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, hour, x, n_ref,
           ROUND((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / n_ref)
                 / SQRT((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_ref)
                        / (n_ref - 1)), 6) AS zscore,
           ABS(ROUND((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / n_ref)
                 / SQRT((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_ref)
                        / (n_ref - 1)), 6)) > 3.0 AS is_anomaly
    FROM w WHERE n_ref >= 12
    """,
)
def q_rolling_anomaly(spark, sf_dir):
    return rel.rolling_anomaly(load_table(spark, sf_dir, "events"))


def _pagerank_round(prev: str, out: str) -> str:
    """One unrolled integer-PageRank round (oracle side of the exact
    recurrence in operators/graph.py — same floor-div, same 85/100
    damping; DuckDB's window-free GROUP BY join round). The TextRank
    oracle unrolls the same round over its string-keyed word graph."""
    return f"""
    {out} AS (
      SELECT e.dst AS node,
             150000000000 // (SELECT nn FROM n)
             + 85 * CAST(SUM(r.rank // d.d) AS BIGINT) // 100 AS rank
      FROM edges e
      JOIN {prev} r ON e.src = r.node
      JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    )"""


# Iterative float algorithms are normally un-oracle-able; integer-scaled
# rank mass (graph.py) makes the recurrence exact, so DuckDB replays it
# by unrolling the 3 rounds.  SUM → HUGEINT → CAST, // is floor (all
# values non-negative, so it matches Spark's truncating div).
@register(
    "pagerank_trade",
    f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT src, dst FROM e0
      UNION ALL
      SELECT dst AS src, src AS dst FROM e0
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    n AS (SELECT COUNT(*) AS nn FROM deg),
    r0 AS (
      SELECT node, 1000000000000 // (SELECT nn FROM n) AS rank FROM deg
    ),{_pagerank_round("r0", "r1")},{_pagerank_round("r1", "r2")},{_pagerank_round("r2", "r3")}
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_key,
           rank AS rank_scaled
    FROM r3
    """,
)
def q_pagerank_trade(spark, sf_dir):
    # Measured 4.8 s at sf0.1/local[32] (bench_detail.json r4). Cluster
    # note: the operator uses eager localCheckpoint per round, which pins
    # iteration state to executor memory — on a real multi-executor
    # cluster set a checkpoint dir and switch to reliable checkpoint()
    # (operators/graph.py docstring) so a lost executor doesn't kill the
    # lineage-free iteration state.
    return gr.pagerank(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


_DUCK_TRADE_EDGES = """
    e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT src, dst FROM e0
      UNION ALL
      SELECT dst AS src, src AS dst FROM e0
    )
"""


@register(
    "bfs_trade",
    # Depth-bounded recursive CTE; UNION (not ALL) dedups (node, dist)
    # pairs per level, MIN(dist) recovers the BFS level-synchronous
    # distance exactly.
    f"""
    WITH RECURSIVE
    {_DUCK_TRADE_EDGES},
    reach(node, dist) AS (
        SELECT CAST(2 AS BIGINT) AS node, 0 AS dist
      UNION
        SELECT e.dst AS node, r.dist + 1 AS dist
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.dist < 4
    )
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_key,
           CAST(MIN(dist) AS INT) AS dist
    FROM reach
    GROUP BY node
    """,
)
def q_bfs_trade(spark, sf_dir):
    return gr.bfs_depths(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        seed_custkey=1,
        max_hops=4,
    )


@register(
    "degree_distribution",
    f"""
    WITH
    {_DUCK_TRADE_EDGES},
    deg AS (
      SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src
    )
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           degree,
           COUNT(*) AS n_nodes
    FROM deg GROUP BY 1, 2
    """,
)
def q_degree_distribution(spark, sf_dir):
    return gr.degree_distribution(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# Degree-oriented exact triangle count over the degree-bounded supplier
# kNN co-occurrence graph (the bipartite trade graph is triangle-free by
# construction, and the raw projection densifies with scale — see
# graph.supplier_knn_graph). The oracle replays the identical top-k
# sparsification + orientation + wedge-close joins.
@register(
    "triangle_count_suppliers",
    """
    WITH p AS (
      SELECT s, d, COUNT(*) AS c FROM (
        SELECT DISTINCT a.l_orderkey, a.l_suppkey AS s, b.l_suppkey AS d
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      ) GROUP BY 1, 2
    ),
    sym AS (
      SELECT s AS node, d AS partner, c FROM p
      UNION ALL
      SELECT d AS node, s AS partner, c FROM p
    ),
    kept AS (
      SELECT node, partner FROM (
        SELECT node, partner,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, partner) AS rn
        FROM sym
      ) WHERE rn <= 3
    ),
    e0 AS (
      SELECT DISTINCT LEAST(node, partner) AS src,
                      GREATEST(node, partner) AS dst
      FROM kept
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT src AS v FROM e0 UNION ALL SELECT dst FROM e0
      ) GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN ds.d < dd.d OR (ds.d = dd.d AND src < dst)
                  THEN src ELSE dst END AS lo,
             CASE WHEN ds.d < dd.d OR (ds.d = dd.d AND src < dst)
                  THEN dst ELSE src END AS hi,
             CASE WHEN ds.d < dd.d OR (ds.d = dd.d AND src < dst)
                  THEN dd.d ELSE ds.d END AS dhi
      FROM e0 JOIN deg ds ON ds.v = e0.src JOIN deg dd ON dd.v = e0.dst
    ),
    w AS (
      SELECT w1.hi AS b, w2.hi AS c
      FROM o w1 JOIN o w2 ON w1.lo = w2.lo
      WHERE w1.dhi < w2.dhi OR (w1.dhi = w2.dhi AND w1.hi < w2.hi)
    ),
    t AS (
      SELECT COUNT(*) AS n_wedges,
             CAST(COALESCE(SUM(CASE WHEN cl.b IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_triangles
      FROM w LEFT JOIN (SELECT DISTINCT lo AS b, hi AS c FROM o) cl
        ON w.b = cl.b AND w.c = cl.c
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM e0) AS n_edges,
           n_wedges, n_triangles
    FROM t
    """,
)
def q_triangle_count_suppliers(spark, sf_dir):
    return gr.triangle_count(
        gr.supplier_knn_graph(load_table(spark, sf_dir, "lineitem"))
    )


# ---------------------------------------------------------------------------
# TPC-H completion set (Q2, Q9, Q11, Q12, Q16, Q20) — with these the full
# 22-query suite is registered. Shapes adapted to the testdata schema (no
# partsupp / ship modes / commit dates); see operators/relational.py.
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    """
    WITH regional_supp AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    ),
    qual_parts AS (
      SELECT p_partkey, p_type, p_size FROM part
      WHERE p_type = 'LARGE' AND p_size <= 15
    ),
    pair_cost AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS supply_cost
      FROM lineitem
      JOIN qual_parts ON l_partkey = p_partkey
      JOIN regional_supp ON l_suppkey = s_suppkey
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, p_type,
           CAST(supply_cost AS DOUBLE) AS supply_cost
    FROM pair_cost
    JOIN (SELECT l_partkey AS m_partkey, MIN(supply_cost) AS min_cost
          FROM pair_cost GROUP BY l_partkey) m
      ON l_partkey = m_partkey AND supply_cost = min_cost
    JOIN regional_supp ON l_suppkey = s_suppkey
    JOIN qual_parts ON l_partkey = p_partkey
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q_q2_min_cost_supplier(spark, sf_dir):
    return rel.q2_min_cost_supplier(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@register(
    "q9_product_type_profit",
    """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2))
                       - CAST(l_discount AS DECIMAL(18,2)))
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2)))
                AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_name LIKE '%cold%'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q_q9_product_type_profit(spark, sf_dir):
    return rel.q9_product_type_profit(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "q11_important_stock",
    """
    WITH base AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM base
    WHERE CAST(part_value AS DOUBLE)
          > (SELECT CAST(SUM(part_value) AS DOUBLE) * 0.001 FROM base)
    ORDER BY part_value DESC, p_partkey
    """,
)
def q_q11_important_stock(spark, sf_dir):
    return rel.q11_important_stock(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "q12_latency_priority",
    """
    SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) < 30 THEN 'FAST'
                WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 60 THEN 'MEDIUM'
                ELSE 'SLOW' END AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY ship_class
    ORDER BY ship_class
    """,
)
def q_q12_latency_priority(spark, sf_dir):
    return rel.q12_latency_priority(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "q16_supplier_count",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_q16_supplier_count(spark, sf_dir):
    return rel.q16_supplier_count(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "q20_excess_shippers",
    """
    WITH filtered AS (
      SELECT l_partkey, l_suppkey, l_quantity
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    ),
    pair_qty AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
      FROM filtered GROUP BY l_partkey, l_suppkey
    ),
    part_qty AS (
      SELECT l_partkey AS t_partkey, SUM(supp_qty) AS total_qty
      FROM pair_qty GROUP BY l_partkey
    ),
    excess AS (
      SELECT DISTINCT l_suppkey
      FROM pair_qty JOIN part_qty ON l_partkey = t_partkey
      WHERE CAST(supp_qty AS DOUBLE) > 0.5 * CAST(total_qty AS DOUBLE)
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
    WHERE s_suppkey IN (SELECT l_suppkey FROM excess)
    ORDER BY s_name
    """,
)
def q_q20_excess_shippers(spark, sf_dir):
    return rel.q20_excess_shippers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


# ---------------------------------------------------------------------------
# Analytics additions: experimentation, data-quality audit, seasonality,
# segmentation, weighted robust stats, period-over-period.
# ---------------------------------------------------------------------------


@register(
    "ab_test_conversion",
    """
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_b
      FROM per_user
    )
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(conv_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
           ROUND(conv_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
           CASE WHEN (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) > 0
                 AND (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) < 1
           THEN
           ROUND((conv_a / CAST(n_a AS DOUBLE) - conv_b / CAST(n_b AS DOUBLE))
                 / sqrt(((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 - (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / CAST(n_a AS DOUBLE)
                           + 1.0 / CAST(n_b AS DOUBLE))), 6)
           ELSE 0.0 END AS z_score
    FROM agg
    """,
)
def q_ab_test_conversion(spark, sf_dir):
    return rel.ab_test_conversion(load_table(spark, sf_dir, "events"))


@register(
    "fk_integrity",
    """
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS lineitem_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS orders_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        AS orphan_lineitem_orders,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
       WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        AS orphan_lineitem_parts,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
       WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        AS orphan_lineitem_suppliers,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        AS orphan_orders_customers,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM
        (SELECT o_orderkey FROM orders GROUP BY o_orderkey
         HAVING COUNT(*) > 1)) AS dup_orderkeys
    """,
)
def q_fk_integrity(spark, sf_dir):
    return rel.fk_integrity(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


@register(
    "seasonal_hourly",
    """
    WITH hourly AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, hour, n_events,
           ROUND(CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
             AS hourly_avg,
           ROUND(CAST(SUM(s) OVER (PARTITION BY event_type) AS DOUBLE)
                 / CAST(SUM(n_events) OVER (PARTITION BY event_type)
                        AS DOUBLE), 6) AS type_avg,
           ROUND(CAST(s AS DOUBLE) / CAST(n_events AS DOUBLE)
                 - CAST(SUM(s) OVER (PARTITION BY event_type) AS DOUBLE)
                   / CAST(SUM(n_events) OVER (PARTITION BY event_type)
                          AS DOUBLE), 6) AS residual
    FROM hourly
    """,
)
def q_seasonal_hourly(spark, sf_dir):
    return rel.seasonal_hourly(load_table(spark, sf_dir, "events"))


@register(
    "rfm_segments",
    """
    WITH m AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                  (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
                  AS DOUBLE) AS rec_days,
             CAST(COUNT(*) AS DOUBLE) AS freq,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT quantile_cont(rec_days, 0.2) AS r0,
             quantile_cont(rec_days, 0.4) AS r1,
             quantile_cont(rec_days, 0.6) AS r2,
             quantile_cont(rec_days, 0.8) AS r3,
             quantile_cont(freq, 0.2) AS f0, quantile_cont(freq, 0.4) AS f1,
             quantile_cont(freq, 0.6) AS f2, quantile_cont(freq, 0.8) AS f3,
             quantile_cont(monetary, 0.2) AS m0,
             quantile_cont(monetary, 0.4) AS m1,
             quantile_cont(monetary, 0.6) AS m2,
             quantile_cont(monetary, 0.8) AS m3
      FROM m
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT 1 + (CASE WHEN rec_days > r0 THEN 1 ELSE 0 END
                + CASE WHEN rec_days > r1 THEN 1 ELSE 0 END
                + CASE WHEN rec_days > r2 THEN 1 ELSE 0 END
                + CASE WHEN rec_days > r3 THEN 1 ELSE 0 END) AS r_score,
             1 + (CASE WHEN freq > f0 THEN 1 ELSE 0 END
                + CASE WHEN freq > f1 THEN 1 ELSE 0 END
                + CASE WHEN freq > f2 THEN 1 ELSE 0 END
                + CASE WHEN freq > f3 THEN 1 ELSE 0 END) AS f_score,
             1 + (CASE WHEN monetary > m0 THEN 1 ELSE 0 END
                + CASE WHEN monetary > m1 THEN 1 ELSE 0 END
                + CASE WHEN monetary > m2 THEN 1 ELSE 0 END
                + CASE WHEN monetary > m3 THEN 1 ELSE 0 END) AS m_score
      FROM m, b
    )
    GROUP BY 1, 2, 3
    """,
)
def q_rfm_segments(spark, sf_dir):
    return rel.rfm_segments(load_table(spark, sf_dir, "orders"))


@register(
    "weighted_median_price",
    """
    WITH j AS (
      SELECT p_brand, l_extendedprice AS price,
             CAST(l_quantity AS DECIMAL(18,2)) AS qty,
             l_orderkey, l_linenumber
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    c AS (
      SELECT p_brand, price,
             SUM(qty) OVER (PARTITION BY p_brand
                            ORDER BY price, l_orderkey, l_linenumber
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cumw,
             SUM(qty) OVER (PARTITION BY p_brand) AS total
      FROM j
    )
    SELECT p_brand, MIN(price) AS weighted_median_price
    FROM c WHERE 2 * cumw >= total
    GROUP BY p_brand
    """,
)
def q_weighted_median_price(spark, sf_dir):
    return rel.weighted_median_price(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "revenue_mom",
    """
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT month, CAST(rev AS DOUBLE) AS revenue,
           CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE) AS prev_revenue,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY month) AS DOUBLE)
                 / CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE), 6)
             AS mom_pct
    FROM monthly
    """,
)
def q_revenue_mom(spark, sf_dir):
    return rel.revenue_mom(load_table(spark, sf_dir, "orders"))


@register(
    "market_basket_pairs",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT part_a, part_b, pa.p_name AS name_a, pb.p_name AS name_b, support
    FROM pairs JOIN part pa ON part_a = pa.p_partkey
               JOIN part pb ON part_b = pb.p_partkey
    ORDER BY support DESC, part_a, part_b
    LIMIT 50
    """,
)
def q_market_basket_pairs(spark, sf_dir):
    return rel.market_basket_pairs(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "association_rules",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
      FROM op
    ),
    item AS (
      SELECT l_partkey AS item, CAST(COUNT(*) AS BIGINT) AS supp_item
      FROM op GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS supp_pair
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 3
    ),
    rules AS (
      SELECT pa AS antecedent, pb AS consequent, supp_pair FROM pairs
      UNION ALL
      SELECT pb AS antecedent, pa AS consequent, supp_pair FROM pairs
    )
    SELECT antecedent, consequent, supp_pair,
           ia.supp_item AS supp_ante, ic.supp_item AS supp_cons,
           ROUND(CAST(supp_pair AS DOUBLE) / ia.supp_item, 6)
             AS confidence,
           ROUND(CAST(supp_pair * n_baskets AS DOUBLE)
                 / CAST(ia.supp_item * ic.supp_item AS DOUBLE), 6) AS lift
    FROM rules
    JOIN item ia ON antecedent = ia.item
    JOIN item ic ON consequent = ic.item
    CROSS JOIN nb
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 30
    """,
)
def q_association_rules(spark, sf_dir):
    return rel.association_rules(load_table(spark, sf_dir, "lineitem"))


@register(
    "interpurchase_intervals",
    """
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
               LAG(CAST(o_orderdate AS DATE)) OVER
                 (PARTITION BY o_custkey
                  ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders
    )
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6)
             AS mean_gap_days,
           MIN(gap_days) AS min_gap_days, MAX(gap_days) AS max_gap_days
    FROM gaps JOIN customer ON o_custkey = c_custkey
    WHERE gap_days IS NOT NULL
    GROUP BY c_mktsegment
    """,
)
def q_interpurchase_intervals(spark, sf_dir):
    return rel.interpurchase_intervals(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


# k-core: the oracle unrolls the peel as repeated CTE rounds (recursive
# CTEs cannot re-aggregate per step). 40 unrolled rounds bounds the peel
# depth the oracle can replay; the Spark operator RAISES past 40 rounds
# rather than silently diverging from this oracle, and at sf0.01 the
# thresholded co-occurrence graph peels 100 -> 86 nodes in 2 rounds.
# The graph is the STRENGTH-thresholded projection, not the kNN one —
# kNN is near-regular by construction, so its every core is trivial
# (all-nodes at k, empty at k+1; measured).
_KCORE_PREFIX = """
    WITH p AS (
      SELECT s, d, COUNT(*) AS c FROM (
        SELECT DISTINCT a.l_orderkey, a.l_suppkey AS s, b.l_suppkey AS d
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      ) GROUP BY 1, 2
    ),
    e0 AS MATERIALIZED (
      SELECT s AS src, d AS dst FROM p WHERE c >= 30
    )"""


def _kcore_oracle(k: int, rounds: int) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references the previous one several times — unmaterialized,
    # the expansion is exponential in the round count.
    parts = [_KCORE_PREFIX]
    for i in range(rounds):
        parts.append(
            f""",
    d{i} AS MATERIALIZED (
      SELECT v, COUNT(*) AS c FROM (
        SELECT src AS v FROM e{i} UNION ALL SELECT dst FROM e{i}
      ) GROUP BY v
    ),
    a{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE c >= {k}),
    e{i + 1} AS MATERIALIZED (
      SELECT src, dst FROM e{i}
      WHERE src IN (SELECT v FROM a{i}) AND dst IN (SELECT v FROM a{i})
    )"""
        )
    parts.append(
        f"""
    SELECT v, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT src AS v FROM e{rounds} UNION ALL SELECT dst FROM e{rounds})
    GROUP BY v"""
    )
    return "".join(parts)


@register(
    "sequence_match_users",
    """
    WITH per_user AS (
      SELECT user_id,
             regexp_matches(
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id),
               'e{3,}') AS matched
      FROM events GROUP BY user_id
    )
    SELECT matched, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM per_user GROUP BY matched
    """,
)
def q_sequence_match_users(spark, sf_dir):
    return rel.sequence_match_users(load_table(spark, sf_dir, "events"))


@register(
    "psi_drift",
    """
    WITH ref AS (
      SELECT o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ),
    cmpp AS (
      SELECT o_totalprice FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    ),
    b AS (
      SELECT quantile_cont(o_totalprice, 0.1) AS p0,
             quantile_cont(o_totalprice, 0.2) AS p1,
             quantile_cont(o_totalprice, 0.3) AS p2,
             quantile_cont(o_totalprice, 0.4) AS p3,
             quantile_cont(o_totalprice, 0.5) AS p4,
             quantile_cont(o_totalprice, 0.6) AS p5,
             quantile_cont(o_totalprice, 0.7) AS p6,
             quantile_cont(o_totalprice, 0.8) AS p7,
             quantile_cont(o_totalprice, 0.9) AS p8
      FROM ref
    ),
    ra AS (
      SELECT (CASE WHEN CAST(o_totalprice AS DOUBLE) > p0 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p1 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p2 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p3 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p4 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p5 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p6 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p7 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p8 THEN 1 ELSE 0 END
             ) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_ref
      FROM ref, b GROUP BY 1
    ),
    ca AS (
      SELECT (CASE WHEN CAST(o_totalprice AS DOUBLE) > p0 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p1 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p2 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p3 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p4 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p5 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p6 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p7 THEN 1 ELSE 0 END
            + CASE WHEN CAST(o_totalprice AS DOUBLE) > p8 THEN 1 ELSE 0 END
             ) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_cmp
      FROM cmpp, b GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(ra.bucket, ca.bucket) AS bucket,
             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cmp, 0) AS n_cmp
      FROM ra FULL OUTER JOIN ca ON ra.bucket = ca.bucket
    )
    SELECT bucket, n_ref, n_cmp,
           ROUND((n_ref + 0.5) / (SUM(n_ref) OVER () + 5.0), 6) AS p_ref,
           ROUND((n_cmp + 0.5) / (SUM(n_cmp) OVER () + 5.0), 6) AS p_cmp,
           ROUND(((n_cmp + 0.5) / (SUM(n_cmp) OVER () + 5.0)
                  - (n_ref + 0.5) / (SUM(n_ref) OVER () + 5.0))
                 * ln(((n_cmp + 0.5) / (SUM(n_cmp) OVER () + 5.0))
                      / ((n_ref + 0.5) / (SUM(n_ref) OVER () + 5.0))), 6)
             AS psi_term
    FROM j
    """,
)
def q_psi_drift(spark, sf_dir):
    return rel.psi_drift(load_table(spark, sf_dir, "orders"))


@register(
    "multi_touch_attribution",
    """
    WITH purchases AS (
      SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
             value AS p_value
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id AS c_user, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    pairs AS (
      SELECT p_id, p_value, c_ts
      FROM purchases JOIN clicks
        ON p_user = c_user AND c_ts < p_ts
       AND c_ts >= p_ts - INTERVAL 7 DAY
    ),
    shares AS (
      SELECT strftime(c_ts, '%Y-%m-%d') AS click_date,
             CAST(ROUND(p_value
                        / CAST(COUNT(*) OVER (PARTITION BY p_id) AS DOUBLE),
                        6) AS DECIMAL(18,6)) AS share
      FROM pairs
    )
    SELECT click_date, CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(share) AS DOUBLE) AS attributed_revenue
    FROM shares GROUP BY click_date
    """,
)
def q_multi_touch_attribution(spark, sf_dir):
    return rel.multi_touch_attribution(load_table(spark, sf_dir, "events"))


@register(
    "benford_digits",
    """
    WITH c AS (
      SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_totalprice >= 1 GROUP BY 1
    ),
    s AS (
      SELECT digit, n, CAST(SUM(n) OVER () AS DOUBLE) AS total FROM c
    ),
    t AS (
      SELECT digit, n, total, n / total AS obs,
             log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS expd
      FROM s
    )
    SELECT digit, n,
           ROUND(obs, 6) AS obs_share,
           ROUND(expd, 6) AS exp_share,
           ROUND(CAST(SUM(CAST(ROUND((obs - expd) * (obs - expd) / expd
                                     * total, 8) AS DECIMAL(18,8)))
                      OVER () AS DOUBLE), 6) AS chi_square
    FROM t
    """,
)
def q_benford_digits(spark, sf_dir):
    return rel.benford_digits(load_table(spark, sf_dir, "orders"))


@register(
    "link_prediction_jaccard",
    _KCORE_PREFIX
    + """,
    symm AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM e0
      UNION ALL SELECT dst AS a, src AS b FROM e0
    ),
    deg AS MATERIALIZED (SELECT a, COUNT(*) AS d FROM symm GROUP BY a),
    common AS (
      SELECT w1.a AS u, w2.a AS v, CAST(COUNT(*) AS BIGINT) AS cn
      FROM symm w1 JOIN symm w2 ON w1.b = w2.b AND w1.a < w2.a
      GROUP BY 1, 2
    ),
    na AS (
      SELECT u, v, cn FROM common
      WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE src = u AND dst = v)
    )
    SELECT u, v, cn,
           ROUND(cn / CAST(du.d + dv.d - cn AS DOUBLE), 6) AS jaccard
    FROM na JOIN deg du ON du.a = u JOIN deg dv ON dv.a = v
    ORDER BY jaccard DESC, u, v
    LIMIT 25
    """,
)
def q_link_prediction_jaccard(spark, sf_dir):
    return gr.link_prediction_jaccard(
        gr.supplier_cooccurrence_graph(
            load_table(spark, sf_dir, "lineitem"), min_shared=30
        )
    )


def _bpe_oracle(n_merges: int, final: str | None = None) -> str:
    """Replay BPE merge training in DuckDB: vocab state is a
    '|'-delimited symbol string (PRECONDITION: document text contains no
    '|' — true of every driver corpus, asserted in
    tests/test_oracle_dialect.py; the Spark side is array-native and
    total), the per-round rewrite is a
    ``list_reduce`` left fold with the same no-flag semantics as the
    Spark ``aggregate`` (a merged symbol is strictly longer than the
    pair's left element), and each round's argmax breaks ties
    lexicographically. MATERIALIZED throughout — each round references
    the previous one several times."""
    parts = [
        r"""
    WITH w AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split_regex(text, '[\s\x0b]+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    v0 AS MATERIALIZED (
      SELECT array_to_string(
               list_transform(generate_series(1, length(word)),
                              i -> substr(word, i, 1)), '|') AS seq, cnt
      FROM w
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f""",
    p{i} AS MATERIALIZED (
      SELECT u.a AS a, u.b AS b, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM (
        SELECT unnest(list_transform(
                 generate_series(1, len(l) - 1),
                 j -> {{'a': l[j], 'b': l[j + 1]}})) AS u, cnt
        FROM (SELECT string_split(seq, '|') AS l, cnt FROM v{i})
      ) GROUP BY u.a, u.b
    ),
    b{i} AS MATERIALIZED (
      SELECT a, b, pair_count FROM p{i}
      ORDER BY pair_count DESC, a, b LIMIT 1
    ),
    v{i + 1} AS MATERIALIZED (
      SELECT list_reduce(
               list_prepend('', string_split(seq, '|')),
               (acc, x) -> CASE
                 WHEN acc <> '' AND split_part(acc, '|', -1) = b{i}.a
                      AND x = b{i}.b
                 THEN substr(acc, 1,
                             length(acc)
                             - length(split_part(acc, '|', -1)))
                      || b{i}.a || b{i}.b
                 WHEN acc = '' THEN x
                 ELSE acc || '|' || x END
             ) AS seq, cnt
      FROM v{i}, b{i}
    )"""
        )
    if final is None:
        selects = [
            f"SELECT {i + 1} AS merge_rank, a AS left_sym, b AS right_sym,"
            f" pair_count FROM b{i}"
            for i in range(n_merges)
        ]
        final = "\n    " + "\n    UNION ALL ".join(selects)
    parts.append(final)
    return "".join(parts)


@register(
    "readability_scores",
    r"""
    WITH counted AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           ROUND(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
             AS flesch_ease,
           ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                 + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                 - 15.59, 6) AS fk_grade
    FROM counted WHERE n_words > 0
    """,
)
def q_readability_scores(spark, sf_dir):
    return ts.readability_scores(load_table(spark, sf_dir, "documents"))


@register(
    "bigram_heldout_xent",
    r"""
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, len(toks) - 1),
                 j -> {'w1': toks[j], 'w2': toks[j + 1]})) AS u
        FROM toked WHERE len(toks) >= 2
      )
    ),
    pair_c AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ),
    hist_c AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
      FROM bg WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT tk) AS BIGINT) AS v_size FROM (
        SELECT unnest(toks) AS tk FROM toked
        WHERE doc_id % 2 = 0 AND len(toks) >= 2
      )
    ),
    ev AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
      FROM bg WHERE doc_id % 2 = 1 GROUP BY 1, 2
    ),
    terms AS (
      SELECT n, COALESCE(c12, 0) AS c12,
             CAST(ROUND(-LN(CAST(COALESCE(c12, 0) + 1 AS DOUBLE)
                            / CAST(COALESCE(c1, 0) + v_size AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS nll6
      FROM ev
      LEFT JOIN pair_c USING (w1, w2)
      LEFT JOIN hist_c USING (w1)
      CROSS JOIN vocab
    ),
    agg AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_eval_bigrams,
             CAST(SUM(CASE WHEN c12 = 0 THEN n ELSE 0 END) AS BIGINT)
               AS n_unseen_bigrams,
             SUM(n * nll6) AS total_d
      FROM terms
    )
    SELECT n_eval_bigrams, n_unseen_bigrams,
           ROUND(CAST(total_d AS DOUBLE) / n_eval_bigrams, 6) AS mean_nll,
           ROUND(EXP(ROUND(CAST(total_d AS DOUBLE) / n_eval_bigrams, 6)), 4)
             AS ppl
    FROM agg
    """,
)
def q_bigram_heldout_xent(spark, sf_dir):
    return ts.bigram_heldout_xent(load_table(spark, sf_dir, "documents"))


@register(
    "vocab_growth_curve",
    r"""
    WITH b AS (
      SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_docs_total FROM documents
    ),
    toks AS (
      SELECT CAST((doc_id * 10) // n_docs_total AS BIGINT) AS slice_id,
             unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                x -> x <> '')) AS tok
      FROM documents CROSS JOIN b
    ),
    per_slice AS (
      SELECT slice_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM toks GROUP BY 1
    ),
    first AS (
      SELECT first_slice AS slice_id, CAST(COUNT(*) AS BIGINT) AS new_types
      FROM (SELECT tok, MIN(slice_id) AS first_slice FROM toks GROUP BY tok)
      GROUP BY 1
    ),
    merged AS (
      SELECT p.slice_id, p.n_tokens, COALESCE(f.new_types, 0) AS new_types,
             CAST(SUM(p.n_tokens) OVER w AS BIGINT) AS cum_tokens,
             CAST(SUM(COALESCE(f.new_types, 0)) OVER w AS BIGINT)
               AS cum_types
      FROM per_slice p LEFT JOIN first f ON p.slice_id = f.slice_id
      WINDOW w AS (ORDER BY p.slice_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT slice_id, n_tokens, new_types, cum_tokens, cum_types,
           ROUND(LN(CAST(cum_types AS DOUBLE))
                 / LN(CAST(cum_tokens AS DOUBLE)), 6) AS heaps_exponent
    FROM merged
    """,
)
def q_vocab_growth_curve(spark, sf_dir):
    return ts.vocab_growth_curve(load_table(spark, sf_dir, "documents"))


@register(
    "watermark_lateness",
    """
    WITH late AS (
      SELECT GREATEST(COALESCE(
               MAX(epoch_us(ts) // 1000000) OVER (
                 ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - epoch_us(ts) // 1000000, 0), 0) AS late_sec
      FROM events
    ),
    grid AS (
      SELECT late_sec, d.delay_sec
      FROM late CROSS JOIN (
        SELECT unnest([0, 60, 300, 900]) AS delay_sec) d
    )
    SELECT CAST(delay_sec AS INT) AS delay_sec,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_sec > delay_sec THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           ROUND(CAST(SUM(CASE WHEN late_sec > delay_sec THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS frac_dropped,
           CAST(MAX(late_sec) AS BIGINT) AS max_late_sec
    FROM grid GROUP BY delay_sec
    """,
)
def q_watermark_lateness(spark, sf_dir):
    return rel.watermark_lateness(load_table(spark, sf_dir, "events"))


@register(
    "seasonal_decompose",
    """
    WITH g AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    wt AS (
      SELECT event_type, hr, x,
             CASE WHEN COUNT(*) OVER w = 25
                  THEN CAST(SUM(x) OVER w AS DOUBLE) / 25 END AS trend
      FROM g
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    det AS (
      SELECT event_type, hr, x, trend,
             EXTRACT(hour FROM hr) AS hod,
             CAST(ROUND(x - trend, 6) AS DECIMAL(18,6)) AS d6
      FROM wt
    ),
    seasonal AS (
      SELECT event_type, hod,
             ROUND(CAST(SUM(d6) AS DOUBLE) / COUNT(*), 6) + 0.0 AS seasonal
      FROM det WHERE d6 IS NOT NULL GROUP BY 1, 2
    )
    SELECT d.event_type,
           strftime(d.hr, '%Y-%m-%d %H:%M:%S') AS hour_ts, d.x,
           ROUND(d.trend, 6) + 0.0 AS trend, s.seasonal,
           ROUND(d.x - d.trend - s.seasonal, 6) + 0.0 AS residual
    FROM det d LEFT JOIN seasonal s
      ON d.event_type = s.event_type AND d.hod = s.hod
    """,
)
def q_seasonal_decompose(spark, sf_dir):
    return rel.seasonal_decompose(load_table(spark, sf_dir, "events"))


@register(
    "clamped_running_balance",
    """
    WITH keyed AS (
      SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
             CASE WHEN l_returnflag = 'R'
                  THEN CAST(l_quantity AS BIGINT)
                  ELSE -CAST(l_quantity AS BIGINT) END AS delta,
             SUM(CASE WHEN l_returnflag = 'R'
                      THEN CAST(l_quantity AS BIGINT)
                      ELSE -CAST(l_quantity AS BIGINT) END) OVER w AS s
      FROM lineitem
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    balanced AS (
      SELECT l_suppkey, delta,
             s - LEAST(MIN(s) OVER w, 0) AS bal,
             ROW_NUMBER() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate DESC, l_orderkey DESC,
                        l_linenumber DESC) AS rn_last
      FROM keyed
      WINDOW w AS (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(MAX(CASE WHEN rn_last = 1 THEN bal END) AS BIGINT)
             AS final_balance,
           CAST(MAX(bal) AS BIGINT) AS peak_balance,
           CAST(SUM(CASE WHEN bal = 0 AND delta < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stockout_drains
    FROM balanced GROUP BY l_suppkey
    """,
)
def q_clamped_running_balance(spark, sf_dir):
    return rel.clamped_running_balance(load_table(spark, sf_dir, "lineitem"))


@register(
    "zipf_fit",
    r"""
    WITH counts AS (
      SELECT w, c FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
          SELECT unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                    x -> x <> '')) AS w
          FROM documents
        ) GROUP BY w
      ) ORDER BY c DESC, w LIMIT 1000
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rank
      FROM counts
    ),
    t AS (
      SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
             CAST(ROUND(LN(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      FROM ranked
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(y * y AS DECIMAL(38,12))) AS syy
      FROM t
    )
    SELECT n AS n_words_fit,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS zipf_slope,
           ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             AS intercept,
           ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS r2
    FROM m
    """,
)
def q_zipf_fit(spark, sf_dir):
    return ts.zipf_fit(load_table(spark, sf_dir, "documents"))


@register(
    "position_attribution",
    """
    WITH purchases AS (
      SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
             value AS p_value
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    ranked AS (
      SELECT p_id, p_value, c_ts,
             ROW_NUMBER() OVER (PARTITION BY p_id
                                ORDER BY c_ts, c_id) AS fwd,
             ROW_NUMBER() OVER (PARTITION BY p_id
                                ORDER BY c_ts DESC, c_id DESC) AS bwd,
             COUNT(*) OVER (PARTITION BY p_id) AS n_touch
      FROM purchases JOIN clicks
        ON p_user = c_user AND c_ts < p_ts
       AND c_ts >= p_ts - INTERVAL 7 DAY
    ),
    shared AS (
      SELECT strftime(c_ts, '%Y-%m-%d') AS click_date,
             CASE WHEN fwd = 1 THEN 'first'
                  WHEN bwd = 1 THEN 'last'
                  ELSE 'middle' END AS position,
             CAST(ROUND(p_value * CASE
                    WHEN n_touch = 1 THEN 1.0
                    WHEN n_touch = 2 THEN 0.5
                    WHEN fwd = 1 OR bwd = 1 THEN 0.4
                    ELSE 0.2 / CAST(n_touch - 2 AS DOUBLE) END, 6)
                  AS DECIMAL(18,6)) AS share
      FROM ranked
    )
    SELECT click_date, position,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(share) AS DOUBLE) AS attributed_revenue
    FROM shared GROUP BY 1, 2
    """,
)
def q_position_attribution(spark, sf_dir):
    return rel.position_attribution(load_table(spark, sf_dir, "events"))


@register(
    "overdispersion_index",
    """
    WITH g AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM g GROUP BY 1
    )
    SELECT event_type, n_hours,
           ROUND(CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE), 6)
             AS mean_per_hour,
           ROUND((CAST(n_hours AS DOUBLE) * CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                 / (CAST(n_hours AS DOUBLE)
                    * (CAST(n_hours AS DOUBLE) - 1)), 6) AS var_per_hour,
           ROUND(((CAST(n_hours AS DOUBLE) * CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n_hours AS DOUBLE)
                     * (CAST(n_hours AS DOUBLE) - 1)))
                 / (CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE)), 6)
             AS fano,
           ((CAST(n_hours AS DOUBLE) * CAST(s2 AS DOUBLE)
             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
            / (CAST(n_hours AS DOUBLE)
               * (CAST(n_hours AS DOUBLE) - 1)))
           / (CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE)) > 1.0
             AS is_overdispersed
    FROM m
    """,
)
def q_overdispersion_index(spark, sf_dir):
    return rel.overdispersion_index(load_table(spark, sf_dir, "events"))


_SEASONAL_DET_SQL = """
    g AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    wt AS (
      SELECT event_type, hr, x,
             CASE WHEN COUNT(*) OVER w = 25
                  THEN CAST(SUM(x) OVER w AS DOUBLE) / 25 END AS trend
      FROM g
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    det AS (
      SELECT event_type, hr, x, trend,
             EXTRACT(hour FROM hr) AS hod,
             CAST(ROUND(x - trend, 6) AS DECIMAL(18,6)) AS d6
      FROM wt
    ),
    seasonal AS (
      SELECT event_type, hod,
             ROUND(CAST(SUM(d6) AS DOUBLE) / COUNT(*), 6) AS seasonal
      FROM det WHERE d6 IS NOT NULL GROUP BY 1, 2
    ),
    decomposed AS (
      SELECT d.event_type,
             strftime(d.hr, '%Y-%m-%d %H:%M:%S') AS hour_ts, d.x,
             ROUND(d.x - d.trend - s.seasonal, 6) AS residual
      FROM det d LEFT JOIN seasonal s
        ON d.event_type = s.event_type AND d.hod = s.hod
    )"""


@register(
    "residual_anomaly",
    f"""
    WITH {_SEASONAL_DET_SQL},
    resid AS (SELECT * FROM decomposed WHERE residual IS NOT NULL),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(residual AS DECIMAL(18,6))) AS sr,
             SUM(CAST(CAST(residual AS DECIMAL(18,6))
                      * CAST(residual AS DECIMAL(18,6))
                      AS DECIMAL(38,12))) AS srr
      FROM resid GROUP BY 1
    ),
    enriched AS (
      SELECT r.event_type, r.hour_ts, r.x, r.residual,
             ROUND((r.residual - CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))
                   / SQRT((CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
                           - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                          / (CAST(n AS DOUBLE)
                             * (CAST(n AS DOUBLE) - 1))), 6) AS z
      FROM resid r JOIN stats s ON r.event_type = s.event_type
    )
    SELECT event_type, hour_ts, x, residual, z
    FROM enriched
    ORDER BY ABS(z) DESC, event_type, hour_ts
    LIMIT 10
    """,
)
def q_residual_anomaly(spark, sf_dir):
    return rel.residual_anomaly(load_table(spark, sf_dir, "events"))


def _embedding_drift_oracle(dim: int = 64) -> str:
    """Mirror of similarity.embedding_drift: decimal component sums per
    half, then the same left-to-right 0.0-seeded folds over the 64
    centroid components for cosine and L2."""
    comps = ",\n             ".join(
        f"CAST(ROUND(CAST(embedding[{i + 1}] AS DOUBLE), 6)"
        f" AS DECIMAL(18,6)) AS c{i}"
        for i in range(dim)
    )
    sums = ", ".join(f"SUM(c{i}) AS s{i}" for i in range(dim))
    a_means = ", ".join(
        f"CAST(s{i} AS DOUBLE) / n AS a{i}" for i in range(dim)
    )
    b_means = ", ".join(
        f"CAST(s{i} AS DOUBLE) / n AS b{i}" for i in range(dim)
    )
    dot = "0.0" + "".join(f" + a{i} * b{i}" for i in range(dim))
    na = "0.0" + "".join(f" + a{i} * a{i}" for i in range(dim))
    nb = "0.0" + "".join(f" + b{i} * b{i}" for i in range(dim))
    l2 = "0.0" + "".join(
        f" + (a{i} - b{i}) * (a{i} - b{i})" for i in range(dim)
    )
    return f"""
    WITH comps AS (
      SELECT vec_id % 2 AS half,
             {comps}
      FROM embeddings
    ),
    agg AS (
      SELECT half, CAST(COUNT(*) AS BIGINT) AS n, {sums}
      FROM comps GROUP BY half
    ),
    a AS (SELECT n AS n_a, {a_means} FROM agg WHERE half = 0),
    b AS (SELECT n AS n_b, {b_means} FROM agg WHERE half = 1)
    SELECT n_a, n_b,
           ROUND(({dot}) / (SQRT({na}) * SQRT({nb})), 6)
             AS centroid_cosine,
           ROUND(SQRT({l2}), 6) AS centroid_l2
    FROM a CROSS JOIN b
    """


@register("embedding_drift", _embedding_drift_oracle())
def q_embedding_drift(spark, sf_dir):
    return sim.embedding_drift(load_table(spark, sf_dir, "embeddings"))


@register(
    "top_session_paths",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN prev IS NULL
                    OR epoch_us(ts) // 1000000
                       - epoch_us(prev) // 1000000 > 1800
                  THEN 1 ELSE 0 END AS opens
      FROM (
        SELECT user_id, event_id, ts, event_type,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
        FROM events
      )
    ),
    numbered AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS sess
      FROM marked
    ),
    heads AS (
      SELECT user_id, sess, event_type, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess
                                     ORDER BY ts, event_id) AS rn
        FROM numbered
      ) WHERE rn <= 3
    ),
    paths AS (
      SELECT user_id, sess,
             string_agg(event_type, '>' ORDER BY rn) AS path,
             CAST(COUNT(*) AS BIGINT) AS path_len
      FROM heads GROUP BY 1, 2
    )
    SELECT path, path_len, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY 1, 2
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def q_top_session_paths(spark, sf_dir):
    return rel.top_session_paths(load_table(spark, sf_dir, "events"))


@register(
    "langid_confusion",
    f"""
    WITH words AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                       x -> x <> '')) AS w
      FROM documents
    ), scores AS ({{lang_scores}}),
    pred AS (
      SELECT doc_id, cand AS pred_lang FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, cand ASC) AS rn
        FROM scores
      ) WHERE rn = 1
    ),
    cells AS (
      SELECT d.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents d JOIN pred p ON d.doc_id = p.doc_id
      GROUP BY 1, 2
    )
    SELECT lang, pred_lang, n,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE), 6)
             AS share_of_lang,
           lang = pred_lang AS is_correct
    FROM cells
    """.format(lang_scores=_lang_score_sql()),
)
def q_langid_confusion(spark, sf_dir):
    return ts.langid_confusion(load_table(spark, sf_dir, "documents"))


_FERTILITY_FINAL = r"""
    SELECT lang,
           CAST(SUM(occ) AS BIGINT) AS n_words,
           CAST(SUM(occ * n_toks) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(occ * n_chars_w) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(occ * n_toks) AS DOUBLE) / SUM(occ), 6)
             AS fertility,
           ROUND(CAST(SUM(occ * n_chars_w) AS DOUBLE)
                 / SUM(occ * n_toks), 6) AS chars_per_token
    FROM (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS occ FROM (
        SELECT lang, unnest(string_split_regex(text, '[\s\x0b]+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY 1, 2
    ) lw
    JOIN (
      SELECT replace(seq, '|', '') AS word,
             CAST(len(string_split(seq, '|')) AS BIGINT) AS n_toks,
             CAST(length(replace(seq, '|', '')) AS BIGINT) AS n_chars_w
      FROM v10
    ) wt USING (word)
    GROUP BY lang"""


# Fertility replays the same 10 merge rounds; the per-word token count
# is read off the final vocab state (word == the symbols concatenated,
# so no extra column rides through the rounds).
@register(
    "tokenizer_fertility", _bpe_oracle(n_merges=10, final=_FERTILITY_FINAL)
)
def q_tokenizer_fertility(spark, sf_dir):
    return ts.tokenizer_fertility(load_table(spark, sf_dir, "documents"))


@register("bpe_train_merges", _bpe_oracle(n_merges=10))
def q_bpe_train_merges(spark, sf_dir):
    return ts.bpe_train(load_table(spark, sf_dir, "documents"), n_merges=10)


@register(
    "bpe_encode_tokens",
    _bpe_oracle(
        n_merges=10,
        final="""
    SELECT token, CAST(SUM(cnt) AS BIGINT) AS n FROM (
      SELECT unnest(string_split(seq, '|')) AS token, cnt FROM v10
    ) GROUP BY token ORDER BY n DESC, token LIMIT 50
    """,
    ),
)
def q_bpe_encode_tokens(spark, sf_dir):
    return ts.bpe_encode_tokens(
        load_table(spark, sf_dir, "documents"), n_merges=10
    )


@register(
    "cusum_changepoint",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events GROUP BY 1
    ),
    staged AS (
      SELECT day, n, CAST(s AS DOUBLE) / n AS x,
             CAST(SUM(s) OVER () AS DOUBLE)
               / CAST(SUM(n) OVER () AS DOUBLE) AS xbar
      FROM daily
    ),
    c AS (
      SELECT day, n, ROUND(x, 6) AS daily_mean,
             SUM(CAST(ROUND(x - xbar, 8) AS DECIMAL(18,8)))
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS s_raw
      FROM staged
    )
    SELECT day, n, daily_mean, ROUND(CAST(s_raw AS DOUBLE), 6) AS cusum,
           abs(s_raw) = MAX(abs(s_raw)) OVER () AS is_changepoint
    FROM c
    """,
)
def q_cusum_changepoint(spark, sf_dir):
    return rel.cusum_changepoint(load_table(spark, sf_dir, "events"))


@register(
    "rolling_correlation",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS y
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT day, x, y,
             CAST(COUNT(*) OVER w AS DOUBLE) AS n,
             CAST(SUM(x) OVER w AS DOUBLE) AS sx,
             CAST(SUM(y) OVER w AS DOUBLE) AS sy,
             CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
             CAST(SUM(y * y) OVER w AS DOUBLE) AS syy,
             CAST(SUM(y * x) OVER w AS DOUBLE) AS sxy
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, x AS clicks, CAST(y AS DOUBLE) AS purchase_value,
           ROUND(CASE WHEN n = 7 AND (n * sxx - sx * sx) > 0
                       AND (n * syy - sy * sy) > 0
                 THEN (n * sxy - sx * sy)
                      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 END, 6) AS rolling_corr
    FROM r
    """,
)
def q_rolling_correlation(spark, sf_dir):
    return rel.rolling_correlation(load_table(spark, sf_dir, "events"))


_GRAMS_CTE = r"""
    WITH g AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
      FROM (SELECT doc_id, lang,
                   list_filter(string_split_regex(text, '[\s\x0b]+'),
                               x -> x <> '') AS toks
            FROM documents)
      WHERE len(toks) >= 3
    )"""


@register(
    "dedup_incremental",
    _GRAMS_CTE
    + r""",
    p AS (
      SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams)
                    - len(list_intersect(a.grams, b.grams))) AS jaccard
        FROM g a JOIN g b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.5
    ),
    h AS (
      SELECT doc_id,
             CAST(regexp_extract(source, '(\d+)$', 1) AS INT) < 10 AS ex
      FROM documents
    ),
    c AS (
      SELECT CASE WHEN ha.ex THEN p.doc_b ELSE p.doc_a END AS new_doc_id,
             CASE WHEN ha.ex THEN p.doc_a ELSE p.doc_b END AS matched_doc_id,
             jaccard
      FROM p JOIN h ha ON p.doc_a = ha.doc_id
             JOIN h hb ON p.doc_b = hb.doc_id
      WHERE ha.ex <> hb.ex
    )
    SELECT new_doc_id, matched_doc_id, jaccard FROM (
      SELECT c.*, ROW_NUMBER() OVER (PARTITION BY new_doc_id
                    ORDER BY jaccard DESC, matched_doc_id) AS rn
      FROM c
    ) WHERE rn = 1
    """,
)
def q_dedup_incremental(spark, sf_dir):
    return dd.dedup_incremental(load_table(spark, sf_dir, "documents"))


@register(
    "tfidf_cosine_pairs",
    r"""
    WITH tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS term
        FROM documents
      ) GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
            GROUP BY term),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    wts AS (
      SELECT doc_id, term,
             CAST(ROUND(CAST(tf * n_docs AS DOUBLE) / df, 6)
                  AS DECIMAL(18,6)) AS w
      FROM tf JOIN dfq USING (term), nn
      WHERE df <= 50
    ),
    norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM wts GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
      FROM wts a JOIN wts b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(dot AS DOUBLE)
                 / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
             AS cosine
    FROM dots JOIN norms na ON doc_a = na.doc_id
              JOIN norms nb ON doc_b = nb.doc_id
    WHERE ROUND(CAST(dot AS DOUBLE)
                / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
          >= 0.3
    """,
)
def q_tfidf_cosine_pairs(spark, sf_dir):
    return ts.tfidf_cosine_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "fuzzy_blocking_pairs",
    """
    WITH n AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM n a JOIN n b
      ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_blocking_pairs(spark, sf_dir):
    return rel.fuzzy_blocking_pairs(load_table(spark, sf_dir, "part"))


@register(
    "clv_cohort",
    """
    WITH po AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS mo,
             CAST(o_totalprice AS DECIMAL(18,2)) AS rev
      FROM orders
    ),
    first AS (
      SELECT o_custkey, MIN(mo) AS cohort_mo FROM po GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort_mo, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM first GROUP BY cohort_mo
    ),
    grid AS (
      SELECT cohort_mo, mo - cohort_mo AS age_months,
             CAST(COUNT(*) AS BIGINT) AS n_orders, SUM(rev) AS rev
      FROM po JOIN first USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT cohort_mo, age_months, n_orders, cohort_size,
           CAST(SUM(rev) OVER w AS DOUBLE) AS cum_revenue,
           ROUND(CAST(SUM(rev) OVER w AS DOUBLE)
                 / CAST(cohort_size AS DOUBLE), 6) AS clv
    FROM grid JOIN sizes USING (cohort_mo)
    WINDOW w AS (PARTITION BY cohort_mo ORDER BY age_months
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_clv_cohort(spark, sf_dir):
    return rel.clv_cohort(load_table(spark, sf_dir, "orders"))


@register(
    "personalized_pagerank",
    """
    WITH e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT src, dst FROM e0
      UNION ALL
      SELECT dst AS src, src AS dst FROM e0
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    r0 AS (
      SELECT node,
             CASE WHEN node = 2 THEN 1000000000000 ELSE 0 END AS rank
      FROM deg
    ),
    r1 AS (
      SELECT e.dst AS node,
             CASE WHEN e.dst = 2 THEN 150000000000 ELSE 0 END
             + 85 * CAST(SUM(r.rank // d.d) AS BIGINT) // 100 AS rank
      FROM edges e
      JOIN r0 r ON e.src = r.node
      JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             CASE WHEN e.dst = 2 THEN 150000000000 ELSE 0 END
             + 85 * CAST(SUM(r.rank // d.d) AS BIGINT) // 100 AS rank
      FROM edges e
      JOIN r1 r ON e.src = r.node
      JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             CASE WHEN e.dst = 2 THEN 150000000000 ELSE 0 END
             + 85 * CAST(SUM(r.rank // d.d) AS BIGINT) // 100 AS rank
      FROM edges e
      JOIN r2 r ON e.src = r.node
      JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    )
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_key,
           rank AS rank_scaled
    FROM r3
    """,
)
def q_personalized_pagerank(spark, sf_dir):
    return gr.personalized_pagerank(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        seed_custkey=1,
    )


@register("k_core_suppliers", _kcore_oracle(k=5, rounds=40))
def q_k_core_suppliers(spark, sf_dir):
    return gr.k_core(
        gr.supplier_cooccurrence_graph(
            load_table(spark, sf_dir, "lineitem"), min_shared=30
        ),
        k=5,
    )


@register(
    "source_overlap",
    """
    WITH st AS (
      SELECT DISTINCT source,
             unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                x -> x <> '')) AS term
      FROM documents
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM st GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           na.n_terms AS terms_a, nb.n_terms AS terms_b, n_common,
           ROUND(CAST(n_common AS DOUBLE)
                 / CAST(na.n_terms + nb.n_terms - n_common AS DOUBLE), 6)
             AS jaccard
    FROM inter
    JOIN sizes na ON src_a = na.source
    JOIN sizes nb ON src_b = nb.source
    """,
)
def q_source_overlap(spark, sf_dir):
    return ts.source_overlap(load_table(spark, sf_dir, "documents"))


@register(
    "degree_assortativity",
    f"""
    WITH {_DUCK_TRADE_EDGES.strip()},
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
             SUM(a.d) AS ss, SUM(b.d) AS st,
             SUM(a.d * b.d) AS sst,
             SUM(a.d * a.d) AS sss,
             SUM(b.d * b.d) AS stt
      FROM edges e
      JOIN deg a ON e.src = a.node
      JOIN deg b ON e.dst = b.node
    )
    SELECT n_edges,
           ROUND((CAST(sst AS DOUBLE)
                  - CAST(ss AS DOUBLE) * CAST(st AS DOUBLE)
                    / CAST(n_edges AS DOUBLE))
                 / NULLIF(SQRT((CAST(sss AS DOUBLE)
                         - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                           / CAST(n_edges AS DOUBLE))
                        * (CAST(stt AS DOUBLE)
                           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                             / CAST(n_edges AS DOUBLE))), 0), 6)
             AS assortativity
    FROM mom
    """,
)
def q_degree_assortativity(spark, sf_dir):
    return gr.degree_assortativity(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _pq_isqd(a: str, b: str, sub: int = 8) -> str:
    """Exact integer L2² over micro-unit subvector lists (1-based) —
    BIGINT arithmetic, so no fold order needs pinning on either engine."""
    return "(" + " + ".join(
        f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])"
        for i in range(1, sub + 1)
    ) + ")"


def _pq_train_ctes(m: int = 8, sub: int = 8, code_mod: int = 31,
                   train_iters: int = 3, src: str = "sv",
                   include_base: bool = True,
                   max_codes: int | None = None) -> tuple:
    """CTE list replaying operators/similarity._pq_train_codebook stage
    for stage: micro-unit quantization, per-subspace id-sample init,
    then train_iters unrolled Lloyd rounds (argmin = MIN(d) + MIN(code)
    join-back == Spark's min-struct; centroid update = CAST(SUM AS
    DOUBLE)/COUNT(*) rounded half-away to BIGINT — one correctly-rounded
    IEEE division on identical exact inputs), ending with the encode of
    every (vec, j) against the final codebook. ``src`` names the
    (vec_id, j, sv) training-input CTE — "sv" for raw subvectors, a
    residual CTE for the IVFADC form; ``include_base=False`` skips the
    v/sv base CTEs when the caller builds them itself. Returns (ctes,
    final_codebook_name)."""
    parts = []
    if include_base:
        parts.append("""v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS e
      FROM embeddings
    )""")
        sv_sel = "\n      UNION ALL ".join(
            f"SELECT vec_id, {j} AS j, e[{j * sub + 1}:{(j + 1) * sub}] AS sv "
            "FROM v"
            for j in range(m)
        )
        parts.append(f"sv AS (\n      {sv_sel}\n    )")
    code_cap = (
        f"\n        AND vec_id IN (SELECT vec_id FROM ("
        f"{_qids_select(code_mod, max_codes)}))"
        if max_codes is not None
        else ""
    )
    parts.append(f"""cb0 AS (
      SELECT j, vec_id AS code_id, sv AS cv FROM {src}
      WHERE vec_id % {code_mod} = 0{code_cap}
    )""")
    dist = _pq_isqd("s.sv", "c.cv", sub)
    for r in range(train_iters):
        mean_cols = ", ".join(
            f"CAST(ROUND(CAST(SUM(s.sv[{i}]) AS DOUBLE) / COUNT(*)) "
            "AS BIGINT)"
            for i in range(1, sub + 1)
        )
        parts.append(f"""d{r} AS (
      SELECT s.vec_id, s.j, c.code_id, {dist} AS d
      FROM {src} s JOIN cb{r} c ON s.j = c.j
    )""")
        parts.append(f"""m{r} AS (
      SELECT vec_id, j, MIN(d) AS md FROM d{r} GROUP BY 1, 2
    )""")
        parts.append(f"""a{r} AS (
      SELECT d.vec_id, d.j, MIN(d.code_id) AS code_id
      FROM d{r} d JOIN m{r} mm
        ON d.vec_id = mm.vec_id AND d.j = mm.j AND d.d = mm.md
      GROUP BY 1, 2
    )""")
        parts.append(f"""cb{r + 1} AS (
      SELECT a.j, a.code_id, [{mean_cols}] AS cv
      FROM a{r} a JOIN {src} s ON s.vec_id = a.vec_id AND s.j = a.j
      GROUP BY 1, 2
    )""")
    final = f"cb{train_iters}"
    parts.append(f"""de AS (
      SELECT s.vec_id, s.j, c.code_id, {dist} AS d
      FROM {src} s JOIN {final} c ON s.j = c.j
    )""")
    parts.append("""me AS (
      SELECT vec_id, j, MIN(d) AS md FROM de GROUP BY 1, 2
    )""")
    parts.append("""enc AS (
      SELECT de.vec_id, de.j, MIN(de.code_id) AS code_id
      FROM de JOIN me
        ON de.vec_id = me.vec_id AND de.j = me.j AND de.d = me.md
      GROUP BY 1, 2
    )""")
    return parts, final


_PQ_RANKED = """
    SELECT query_id, neighbor_id, rank,
           ROUND(CAST(ad AS DOUBLE) / 1000000000000.0, 6) AS pq_dist
    FROM (
      SELECT query_id, vec_id AS neighbor_id, ad,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY ad ASC, vec_id ASC)
                  AS INT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def _qids_select(query_mod: int, max_queries: int) -> str:
    """The bounded ANN audit query set, SQL replay of
    ``similarity.audit_qids``: id-mod selection, then the
    ``max_queries`` ids sorting FIRST by md5(str(id))."""
    return (
        f"SELECT vec_id FROM embeddings WHERE vec_id % {query_mod} = 0\n"
        f"      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id"
        f" LIMIT {max_queries}"
    )


def _ivf_pq_oracle(m: int = 8, sub: int = 8, code_mod: int = 31,
                   centroid_mod: int = 37, nprobe: int = 3,
                   query_mod: int = 100, k: int = 10,
                   train_iters: int = 3,
                   max_queries: int | None = None,
                   residual: bool = True,
                   max_cells: int | None = None,
                   max_codes: int | None = None) -> str:
    """Composed replay: the IVF assignment/probe CTEs (same max-struct
    DESC / probe ASC tie-breaks as similarity_ivf_topk, doubles) feed
    the TRAINED integer-micro PQ encode + exact-BIGINT ADC sum. In the
    default RESIDUAL (IVFADC) form, training/encoding run on
    ``subvector − cell-mean-anchor`` (the anchor is the half-away-
    rounded mean of the cell members' micro subvectors — the Lloyd-
    update idiom) and each query gets one ADC table per probed cell
    from its residual against that cell's anchor."""
    base, _ = _pq_train_ctes(m, sub, code_mod, 0)
    ctes = base[:2]  # v + sv only; training CTEs come after the IVF ones
    if max_queries is not None:
        ctes.append(
            f"qids AS (\n      {_qids_select(query_mod, max_queries)}\n    )"
        )
        samp = " AND vec_id IN (SELECT vec_id FROM qids)"
    else:
        samp = ""
    cell_cap = (
        f"\n        AND vec_id IN (SELECT vec_id FROM ("
        f"{_qids_select(centroid_mod, max_cells)}))"
        if max_cells is not None
        else ""
    )
    ctes.append(f"""vd AS ({_DUCK_VECS})""")
    ctes.append(f"""c AS (SELECT vec_id AS cell_id, emb AS c_emb FROM vd
          WHERE vec_id % {centroid_mod} = 0{cell_cap})""")
    ctes.append(f"""asg AS (
      SELECT vec_id, cell_id FROM (
        SELECT vd.vec_id, c.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY vd.vec_id
                 ORDER BY {_DUCK_COS.format(a="c_emb", b="emb")} DESC,
                          c.cell_id DESC) AS rn
        FROM vd CROSS JOIN c
      ) WHERE rn = 1
    )""")
    ctes.append(f"""qv AS (SELECT vec_id AS query_id, emb AS q_emb FROM vd
          WHERE vec_id % {query_mod} = 0{samp})""")
    ctes.append(f"""probes AS (
      SELECT query_id, cell_id FROM (
        SELECT qv.query_id, c.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qv.query_id
                 ORDER BY {_DUCK_COS.format(a="c_emb", b="q_emb")} DESC,
                          c.cell_id ASC) AS rn
        FROM qv CROSS JOIN c
      ) WHERE rn <= {nprobe}
    )""")
    ctes.append(f"""qs AS (
      SELECT vec_id AS query_id, j, sv AS qv FROM sv
      WHERE vec_id % {query_mod} = 0{samp}
    )""")
    if residual:
        anchor_cols = ", ".join(
            f"CAST(ROUND(CAST(SUM(s.sv[{i}]) AS DOUBLE) / COUNT(*)) "
            "AS BIGINT)"
            for i in range(1, sub + 1)
        )
        rsub = ", ".join(f"s.sv[{i}] - c.csv[{i}]" for i in range(1, sub + 1))
        qrsub = ", ".join(
            f"q.qv[{i}] - c.csv[{i}]" for i in range(1, sub + 1)
        )
        ctes.append(f"""csv AS (
      SELECT a.cell_id, s.j, [{anchor_cols}] AS csv
      FROM asg a JOIN sv s ON s.vec_id = a.vec_id
      GROUP BY 1, 2
    )""")
        ctes.append(f"""rsv AS (
      SELECT s.vec_id, a.cell_id, s.j, [{rsub}] AS sv
      FROM sv s
      JOIN asg a ON a.vec_id = s.vec_id
      JOIN csv c ON c.cell_id = a.cell_id AND c.j = s.j
    )""")
        train, final = _pq_train_ctes(
            m, sub, code_mod, train_iters, src="rsv", include_base=False,
            max_codes=max_codes,
        )
        ctes.extend(train)
        ctes.append(f"""qrs AS (
      SELECT q.query_id, p.cell_id, q.j, [{qrsub}] AS qv
      FROM qs q
      JOIN probes p ON p.query_id = q.query_id
      JOIN csv c ON c.cell_id = p.cell_id AND c.j = q.j
    )""")
        qdist = _pq_isqd("qrs.qv", "c.cv", sub)
        ctes.append(f"""dt AS (
      SELECT qrs.query_id, qrs.cell_id, c.j, c.code_id, {qdist} AS d
      FROM qrs JOIN {final} c ON qrs.j = c.j
    )""")
        ctes.append("""cand AS (
      SELECT p.query_id, a.cell_id, a.vec_id
      FROM probes p JOIN asg a ON p.cell_id = a.cell_id
      WHERE a.vec_id <> p.query_id
    )""")
        ctes.append("""scored AS (
      SELECT cand.query_id, cand.vec_id, SUM(dt.d) AS ad
      FROM cand
      JOIN enc e ON e.vec_id = cand.vec_id
      JOIN dt ON dt.query_id = cand.query_id
             AND dt.cell_id = cand.cell_id
             AND dt.j = e.j AND dt.code_id = e.code_id
      GROUP BY 1, 2
    )""")
    else:
        train, final = _pq_train_ctes(
            m, sub, code_mod, train_iters, include_base=False,
            max_codes=max_codes,
        )
        ctes.extend(train)
        qdist = _pq_isqd("qs.qv", "c.cv", sub)
        ctes.append("""cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN asg a ON p.cell_id = a.cell_id
      WHERE a.vec_id <> p.query_id
    )""")
        ctes.append(f"""dt AS (
      SELECT qs.query_id, c.j, c.code_id, {qdist} AS d
      FROM qs JOIN {final} c ON qs.j = c.j
    )""")
        ctes.append("""scored AS (
      SELECT cand.query_id, cand.vec_id, SUM(dt.d) AS ad
      FROM cand
      JOIN enc e ON e.vec_id = cand.vec_id
      JOIN dt ON dt.query_id = cand.query_id
             AND dt.j = e.j AND dt.code_id = e.code_id
      GROUP BY 1, 2
    )""")
    return "WITH " + ",\n    ".join(ctes) + _PQ_RANKED.format(k=k)


@register(
    "ivf_pq_topk",
    _ivf_pq_oracle(
        max_cells=sim.ANN_MAX_CELLS, max_codes=sim.ANN_MAX_CODES
    ),
)
def q_ivf_pq_topk(spark, sf_dir):
    return sim.ivf_pq_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "revenue_bridge",
    """
    WITH seg AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mo,
             o_orderpriority AS segment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY 1, 2
    ),
    lagd AS (
      SELECT mo, segment, rev,
             LAG(rev) OVER (PARTITION BY segment ORDER BY mo) AS prev_rev
      FROM seg
    ),
    d AS (SELECT *, rev - COALESCE(prev_rev, rev) AS delta FROM lagd),
    t AS (SELECT mo, CAST(SUM(delta) AS DECIMAL(18,2)) AS total_delta
          FROM d GROUP BY mo)
    SELECT d.mo, segment,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(prev_rev AS DOUBLE) AS prev_revenue,
           CAST(delta AS DOUBLE) AS delta,
           CAST(total_delta AS DOUBLE) AS total_delta,
           CASE WHEN total_delta <> 0
                THEN ROUND(CAST(delta AS DOUBLE)
                           / CAST(total_delta AS DOUBLE), 6)
           END AS share_of_delta
    FROM d JOIN t ON d.mo = t.mo
    """,
)
def q_revenue_bridge(spark, sf_dir):
    return rel.revenue_bridge(load_table(spark, sf_dir, "orders"))


@register(
    "source_diversity",
    """
    WITH per AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per GROUP BY lang
    ),
    terms AS (
      SELECT per.lang,
             ROUND(-SUM((CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE))
                        * ln(CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE))),
                   6) AS shannon_nats,
             ROUND(SUM((CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE))
                       * (CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE))),
                   6) AS simpson,
             ROUND(CAST(1 AS DOUBLE)
                   / SUM((CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE))
                         * (CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE))),
                   6) AS effective_sources
      FROM per JOIN tot ON per.lang = tot.lang
      GROUP BY per.lang
    )
    SELECT lang, n_docs, n_sources, shannon_nats, simpson,
           effective_sources
    FROM tot JOIN terms USING (lang)
    """,
)
def q_source_diversity(spark, sf_dir):
    return ts.source_diversity(load_table(spark, sf_dir, "documents"))


@register(
    "gini_lorenz",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS rev
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev,
             CAST(ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS INT) AS i,
             CAST(NTILE(10) OVER (ORDER BY rev, o_custkey) AS INT)
               AS decile
      FROM rev
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(rev) AS s,
             SUM(i * rev) AS iw
      FROM ranked
    ),
    dec AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(rev) AS decile_rev
      FROM ranked GROUP BY decile
    ),
    cum AS (
      SELECT decile, n_customers, decile_rev,
             SUM(decile_rev) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      FROM dec
    )
    SELECT decile, n_customers,
           CAST(decile_rev AS DOUBLE) AS decile_revenue,
           ROUND(CAST(cum_rev AS DOUBLE) / CAST(s AS DOUBLE), 6)
             AS cum_revenue_share,
           ROUND(2.0 * CAST(iw AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
                 - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
    FROM cum, tot
    """,
)
def q_gini_lorenz(spark, sf_dir):
    return rel.gini_lorenz(load_table(spark, sf_dir, "orders"))


@register(
    "topn_with_other",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2))
                    - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
      FROM lineitem GROUP BY l_suppkey
    ),
    rk AS (
      SELECT n_name, s_name, rev_d,
             CAST(ROW_NUMBER() OVER (PARTITION BY n_name
                                     ORDER BY rev_d DESC, s_suppkey)
                  AS INT) AS rk
      FROM rev
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
    )
    SELECT n_name,
           CASE WHEN rk <= 3 THEN s_name ELSE 'OTHER' END AS bucket,
           CASE WHEN rk <= 3 THEN rk ELSE 0 END AS rank_pos,
           CAST(SUM(rev_d) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM rk GROUP BY 1, 2, 3
    """,
)
def q_topn_with_other(spark, sf_dir):
    return rel.topn_with_other(
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _register_ann_recall_metrics() -> None:
    """Registered via a helper so the oracle can embed the already-
    registered IVF and brute-force replays as subqueries — the metrics
    oracle is literally 'both rankings + one left-join aggregate'.
    Both replays are post-filtered to the fixed md5-ordered audit
    query budget (the ann_map_at_k construction — per-query rows are
    independent, so the filter commutes with the rankings)."""
    samp = (
        "query_id IN (SELECT vec_id FROM ("
        + _qids_select(100, sim.AUDIT_MAX_QUERIES)
        + "))"
    )

    @register(
        "ann_recall_metrics",
        f"""
    WITH approx AS (
      SELECT * FROM ({ORACLES["similarity_ivf_topk"]}) WHERE {samp}),
    exact AS (
      SELECT * FROM ({ORACLES["similarity_topk"]}) WHERE {samp}),
    pq AS (
      SELECT a.query_id,
             CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             MIN(CASE WHEN e.neighbor_id IS NOT NULL
                 THEN a.rank END) AS first_hit
      FROM approx a LEFT JOIN exact e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY a.query_id
    )
    SELECT query_id, n_hits,
           ROUND(CAST(n_hits AS DOUBLE) / 10, 6) AS recall_at_k,
           ROUND(COALESCE(CAST(1 AS DOUBLE) / first_hit,
                          CAST(0 AS DOUBLE)), 6) AS mrr
    FROM pq
    """,
    )
    def q_ann_recall_metrics(spark, sf_dir):
        return sim.ann_recall_metrics(load_table(spark, sf_dir, "embeddings"))


_register_ann_recall_metrics()


def _register_ann_ndcg() -> None:
    """Same embed-the-replays construction as ann_recall_metrics: the
    NDCG oracle is both rankings + graded log-discounted terms (rounded
    per term, decimal-summed — the transcendental-aggregate rule),
    post-filtered to the fixed audit query budget."""
    samp = (
        "query_id IN (SELECT vec_id FROM ("
        + _qids_select(100, sim.AUDIT_MAX_QUERIES)
        + "))"
    )

    @register(
        "ann_ndcg",
        f"""
    WITH approx AS (
      SELECT * FROM ({ORACLES["similarity_ivf_topk"]}) WHERE {samp}),
    exact AS (
      SELECT * FROM ({ORACLES["similarity_topk"]}) WHERE {samp}),
    dcg AS (
      SELECT a.query_id,
             SUM(CAST(ROUND(CAST(COALESCE(11 - e.rank, 0) AS DOUBLE)
                            / log2(CAST(a.rank AS DOUBLE) + 1), 6)
                      AS DECIMAL(18,6))) AS dcg_d
      FROM approx a LEFT JOIN exact e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
      GROUP BY a.query_id
    ),
    idcg AS (
      SELECT query_id,
             SUM(CAST(ROUND(CAST(11 - rank AS DOUBLE)
                            / log2(CAST(rank AS DOUBLE) + 1), 6)
                      AS DECIMAL(18,6))) AS idcg_d
      FROM exact GROUP BY query_id
    )
    SELECT d.query_id,
           CAST(dcg_d AS DOUBLE) AS dcg,
           CAST(idcg_d AS DOUBLE) AS idcg,
           ROUND(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 6) AS ndcg
    FROM dcg d JOIN idcg USING (query_id)
    """,
    )
    def q_ann_ndcg(spark, sf_dir):
        return sim.ann_ndcg(load_table(spark, sf_dir, "embeddings"))


_register_ann_ndcg()


def _mmr_oracle(k_cand: int = 20, k_out: int = 5) -> str:
    """Replay the MMR greedy selection: candidate top-k + pairwise sims
    once, then one (argmax, accumulate) CTE pair per round. Selection
    order is (rounded score, neighbor_id) -- identical to the Spark
    windows, so every round's pick replays exactly."""
    parts = [
        f"""
    WITH v AS ({_DUCK_VECS}),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v
          WHERE vec_id % 100 = 0),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, round(cos, 6) AS rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM (
          SELECT query_id, v.vec_id AS neighbor_id,
                 {_DUCK_COS.format(a="q_emb", b="emb")} AS cos
          FROM q JOIN v ON v.vec_id <> q.query_id
        )
      ) WHERE rnk <= {k_cand}
    ),
    psim AS MATERIALIZED (
      SELECT x.query_id, x.neighbor_id AS ida, y.neighbor_id AS idb,
             round({_DUCK_COS.format(a="va.emb", b="vb.emb")}, 6) AS sim
      FROM cand x JOIN cand y ON x.query_id = y.query_id
                             AND x.neighbor_id <> y.neighbor_id
      JOIN v va ON va.vec_id = x.neighbor_id
      JOIN v vb ON vb.vec_id = y.neighbor_id
    ),
    s1 AS MATERIALIZED (
      SELECT query_id, 1 AS mmr_round, neighbor_id, rel,
             rel AS mmr_score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, neighbor_id) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    a1 AS MATERIALIZED (SELECT * FROM s1)"""
    ]
    for r in range(2, k_out + 1):
        parts.append(
            f""",
    ms{r} AS MATERIALIZED (
      SELECT c.query_id, c.neighbor_id, c.rel, MAX(p.sim) AS maxsim
      FROM cand c
      JOIN a{r - 1} s ON s.query_id = c.query_id
      JOIN psim p ON p.query_id = c.query_id
                 AND p.ida = c.neighbor_id AND p.idb = s.neighbor_id
      WHERE NOT EXISTS (SELECT 1 FROM a{r - 1} z
                        WHERE z.query_id = c.query_id
                          AND z.neighbor_id = c.neighbor_id)
      GROUP BY 1, 2, 3
    ),
    s{r} AS MATERIALIZED (
      SELECT query_id, {r} AS mmr_round, neighbor_id, rel,
             round((rel - maxsim) / 2, 6) AS mmr_score FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id
          ORDER BY round((rel - maxsim) / 2, 6) DESC, neighbor_id) AS rn
        FROM ms{r}
      ) WHERE rn = 1
    ),
    a{r} AS MATERIALIZED (
      SELECT * FROM a{r - 1} UNION ALL SELECT * FROM s{r}
    )"""
        )
    parts.append(
        f"""
    SELECT query_id, mmr_round, neighbor_id, rel, mmr_score
    FROM a{k_out}"""
    )
    return "".join(parts)


@register("mmr_topk", _mmr_oracle())
def q_mmr_topk(spark, sf_dir):
    return sim.mmr_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "bloom_prefilter",
    """
    WITH members AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE year(CAST(o_orderdate AS DATE)) = 2001
    ),
    bits AS (
      SELECT DISTINCT
             (CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                       || CAST(key AS VARCHAR)), 1, 15))
                   AS BIGINT) % 4096) AS bit
      FROM members, unnest([0, 1, 2]) AS t(i)
    ),
    probed AS (
      SELECT c_custkey AS key,
             (CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                       || CAST(c_custkey AS VARCHAR)), 1, 15))
                   AS BIGINT) % 4096) AS bit
      FROM customer, unnest([0, 1, 2]) AS t(i)
    ),
    hits AS (
      SELECT p.key,
             SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM probed p LEFT JOIN bits b ON p.bit = b.bit
      GROUP BY p.key
    ),
    j AS (
      SELECT h.key, (h.n_hit = 3) AS bloom_pass,
             CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS is_member
      FROM hits h LEFT JOIN members m ON h.key = m.key
    ),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_set_bits FROM bits)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
           n_set_bits,
           CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(SUM(CASE WHEN bloom_pass THEN is_member ELSE 0 END)
                AS BIGINT) AS n_true_members,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 - is_member ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           ROUND(CAST(SUM(CASE WHEN bloom_pass THEN 1 - is_member
                          ELSE 0 END) AS DOUBLE)
                 / GREATEST(CAST(COUNT(*) - SUM(is_member) AS DOUBLE),
                            CAST(1 AS DOUBLE)), 6) AS fp_rate
    FROM j, nb GROUP BY n_set_bits
    """,
)
def q_bloom_prefilter(spark, sf_dir):
    return sk.bloom_prefilter(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "cuped_adjustment",
    # Decimal moment sums (exact, order-free) feed double scalar
    # arithmetic with the same expression shapes as the operator.
    """
    WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    pu AS (
      SELECT user_id % 2 AS variant,
             CAST(SUM(CASE WHEN date_diff('day', d0, CAST(ts AS DATE)) < 15
                      THEN CAST(ROUND(value, 6) AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END)
                  AS DECIMAL(14,6)) AS x,
             CAST(SUM(CASE WHEN date_diff('day', d0, CAST(ts AS DATE)) >= 15
                      THEN CAST(ROUND(value, 6) AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END)
                  AS DECIMAL(14,6)) AS y
      FROM events, d0 GROUP BY user_id
    ),
    mv AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             -- CAST to (19,6) forces int128 multiply storage: DuckDB
             -- v1.0.0 otherwise multiplies in the inputs' int64 width
             SUM(CAST(x AS DECIMAL(19,6)) * y) AS sxy,
             SUM(CAST(x AS DECIMAL(19,6)) * x) AS sxx,
             SUM(CAST(y AS DECIMAL(19,6)) * y) AS syy
      FROM pu GROUP BY variant
    ),
    mp AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS pn,
             CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pmx,
             (CAST(SUM(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE)
              - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE))
             / (CAST(SUM(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE)
                - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) AS theta
      FROM pu
    )
    SELECT variant, n AS n_users,
           ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_y,
           ROUND(theta, 6) AS theta,
           ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                 - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - pmx),
                 6) AS mean_y_adj,
           ROUND(CAST(1 AS DOUBLE)
                 - ((CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                       / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
                    - 2 * theta
                      * ((CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                            / CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) - 1))
                    + theta * theta
                      * ((CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                            / CAST(n AS DOUBLE))
                         / (CAST(n AS DOUBLE) - 1)))
                   / ((CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                         / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)),
                 6) AS var_reduction
    FROM mv, mp
    """,
)
def q_cuped_adjustment(spark, sf_dir):
    return rel.cuped_adjustment(load_table(spark, sf_dir, "events"))


@register(
    "time_decay_scores",
    # POWER(0.5, age) is dyadic-exact in double, cast to DECIMAL(38,30)
    # exactly for ages <= 30 — so the sum is associative and no fold
    # order needs pinning on either engine.
    """
    WITH we AS (SELECT MAX(CAST(ts AS DATE)) AS wend FROM events)
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(POWER(0.5, date_diff('day',
                                                    CAST(ts AS DATE), wend))
                               AS DECIMAL(38,30))) AS DOUBLE), 6)
             AS decay_score
    FROM events, we
    GROUP BY user_id, event_type
    """,
)
def q_time_decay_scores(spark, sf_dir):
    return rel.time_decay_scores(load_table(spark, sf_dir, "events"))


@register(
    "interval_coverage",
    """
    WITH iv AS (
      SELECT l_suppkey,
             date_diff('day', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS s,
             date_diff('day', DATE '1995-01-01',
                       CAST(l_shipdate AS DATE)) AS e
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    marked AS (
      SELECT l_suppkey, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY l_suppkey ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1000000000)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    numbered AS (
      SELECT l_suppkey, s, e,
             SUM(new_island) OVER (
               PARTITION BY l_suppkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM marked
    ),
    islands AS (
      SELECT l_suppkey, island, COUNT(*) AS n_iv,
             MAX(e) - MIN(s) + 1 AS len_days
      FROM numbered GROUP BY 1, 2
    )
    SELECT l_suppkey,
           CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(len_days) AS BIGINT) AS covered_days,
           CAST(MAX(len_days) AS BIGINT) AS max_island_days
    FROM islands GROUP BY l_suppkey
    """,
)
def q_interval_coverage(spark, sf_dir):
    return rel.interval_coverage(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _pq_oracle(m: int = 8, sub: int = 8, code_mod: int = 31,
               query_mod: int = 100, k: int = 10,
               train_iters: int = 3,
               rerank_mult: int | None = 3,
               max_codes: int | None = None) -> str:
    """Stage-for-stage replay of the TRAINED PQ pipeline: micro-unit
    quantization, per-subspace Lloyd rounds, integer encode, exact
    BIGINT ADC sum over the m per-subspace lookups, then the exact-L2
    re-rank of the rerank_mult·k ADC shortlist (pq_dist stays the ADC
    estimate; rank reflects the exact re-ranking)."""
    ctes, final = _pq_train_ctes(
        m, sub, code_mod, train_iters, max_codes=max_codes
    )
    qdist = _pq_isqd("q.qv", "c.cv", sub)
    ctes.append(f"""q AS (
      SELECT vec_id AS query_id, j, sv AS qv FROM sv
      WHERE vec_id % {query_mod} = 0
    )""")
    ctes.append(f"""dt AS (
      SELECT q.query_id, c.j, c.code_id, {qdist} AS d
      FROM q JOIN {final} c ON q.j = c.j
    )""")
    ctes.append("""scored AS (
      SELECT dt.query_id, e.vec_id, SUM(dt.d) AS ad
      FROM enc e JOIN dt ON e.j = dt.j AND e.code_id = dt.code_id
      WHERE e.vec_id <> dt.query_id
      GROUP BY 1, 2
    )""")
    if rerank_mult is None:
        return "WITH " + ",\n    ".join(ctes) + _PQ_RANKED.format(k=k)
    xdist = _pq_isqd("q.qv", "v.sv", sub)
    ctes.append(f"""shortlist AS (
      SELECT query_id, vec_id, ad FROM (
        SELECT query_id, vec_id, ad,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY ad ASC, vec_id ASC) AS rnk
        FROM scored
      ) WHERE rnk <= {rerank_mult * k}
    )""")
    ctes.append(f"""rr AS (
      SELECT s.query_id, s.vec_id, s.ad, SUM({xdist}) AS d2
      FROM shortlist s
      JOIN sv v ON v.vec_id = s.vec_id
      JOIN q ON q.query_id = s.query_id AND q.j = v.j
      GROUP BY 1, 2, 3
    )""")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, neighbor_id, rank,
           ROUND(CAST(ad AS DOUBLE) / 1000000000000.0, 6) AS pq_dist
    FROM (
      SELECT query_id, vec_id AS neighbor_id, ad,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY d2 ASC, vec_id ASC)
                  AS INT) AS rank
      FROM rr
    ) WHERE rank <= {k}
    """
    )


@register("pq_topk", _pq_oracle(max_codes=sim.ANN_MAX_CODES))
def q_pq_topk(spark, sf_dir):
    return sim.pq_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "holt_forecast",
    # Recursive CTE replays the α=β=1/2 Holt recurrence step for step
    # (every op a dyadic-exact add/halve — no rounding either side).
    # NOT a struct-accumulator list_reduce: DuckDB v1.0.0 mis-evaluates
    # chained folds whose accumulator is a STRUCT (verified: one step
    # exact, two chained steps wrong), so the replay walks rn instead.
    """
    WITH RECURSIVE g AS (
      SELECT event_type, day, x,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY day) AS BIGINT) AS rn
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
      )
    ),
    hs(event_type, rn, l, b) AS (
      SELECT g2.event_type, g2.rn, g2.x AS l, g2.x - g1.x AS b
      FROM g g1 JOIN g g2
        ON g1.event_type = g2.event_type AND g1.rn = 1 AND g2.rn = 2
      UNION ALL
      SELECT h.event_type, g.rn,
             (g.x + (h.l + h.b)) * 0.5 AS l,
             ((g.x + (h.l + h.b)) * 0.5 - h.l + h.b) * 0.5 AS b
      FROM hs h JOIN g
        ON g.event_type = h.event_type AND g.rn = h.rn + 1
    )
    SELECT g.event_type, strftime(g.day, '%Y-%m-%d') AS day, g.x,
           h.l AS level, h.b AS trend, h.l + h.b AS forecast_next
    FROM g LEFT JOIN hs h
      ON g.event_type = h.event_type AND g.rn = h.rn
    """,
)
def q_holt_forecast(spark, sf_dir):
    return rel.holt_forecast(load_table(spark, sf_dir, "events"))


@register(
    "textrank_keywords",
    f"""
    WITH t AS (
      SELECT list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    b AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ),
    p AS (SELECT DISTINCT w1, w2 FROM b WHERE w1 <> w2),
    edges AS (
      SELECT w1 AS src, w2 AS dst FROM p
      UNION
      SELECT w2 AS src, w1 AS dst FROM p
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    n AS (SELECT COUNT(*) AS nn FROM deg),
    r0 AS (
      SELECT node, 1000000000000 // (SELECT nn FROM n) AS rank FROM deg
    ),{_pagerank_round("r0", "r1")},{_pagerank_round("r1", "r2")},{_pagerank_round("r2", "r3")}
    SELECT node AS word, rank AS rank_scaled,
           CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node) AS INT)
             AS rank_pos
    FROM r3
    ORDER BY rank DESC, node
    LIMIT 20
    """,
)
def q_textrank_keywords(spark, sf_dir):
    return ts.textrank_keywords(load_table(spark, sf_dir, "documents"))


@register(
    "kaplan_meier_churn",
    # Replays the life-table grid and the per-step-rounded survival fold
    # (list_reduce with a prepended 1.0 == F.aggregate's 1.0 init) —
    # the EWMA/BPE exact-recurrence discipline.
    """
    WITH pc AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS first_d,
             MAX(CAST(o_orderdate AS DATE)) AS last_d
      FROM orders GROUP BY o_custkey
    ),
    we AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS wend FROM orders),
    dur AS (
      SELECT CASE WHEN date_diff('day', last_d, wend) > 90
                  THEN 1 ELSE 0 END AS ev,
             CAST(FLOOR(CASE WHEN date_diff('day', last_d, wend) > 90
                        THEN date_diff('day', first_d, last_d)
                        ELSE date_diff('day', first_d, wend)
                        END / 30.0) AS BIGINT) AS t
      FROM pc, we
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM dur),
    grid AS (
      SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(1 - ev) AS BIGINT) AS c
      FROM dur GROUP BY t
    ),
    g2 AS (
      SELECT t, d, c,
             CAST(n_total - COALESCE(SUM(d + c) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM grid, nt
    ),
    lists AS (
      SELECT list(t ORDER BY t) AS ts,
             list(d ORDER BY t) AS ds,
             list(c ORDER BY t) AS cs,
             list(n_risk ORDER BY t) AS ns,
             list(ROUND(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / n_risk, 6)
                  ORDER BY t) AS fs
      FROM g2
    ),
    survs AS (
      SELECT ts, ds, cs, ns,
             list_transform(range(1, len(fs) + 1),
               i -> list_reduce(
                      list_prepend(CAST(1 AS DOUBLE), fs[1:i]),
                      (acc, x) -> ROUND(acc * x, 6))) AS ss
      FROM lists
    )
    SELECT unnest(ts) AS t_months, unnest(ns) AS n_at_risk,
           unnest(ds) AS d_churned, unnest(cs) AS c_censored,
           unnest(ss) AS survival
    FROM survs
    """,
)
def q_kaplan_meier_churn(spark, sf_dir):
    return rel.kaplan_meier_churn(load_table(spark, sf_dir, "orders"))


def _sssp_oracle(seed_custkey: int, rounds: int) -> str:
    """Unrolled Bellman–Ford replay: round k's CTE is the min-combine of
    round k-1's distances with one relaxation over the weighted edges —
    exactly the operator's per-round invariant, in integer arithmetic."""
    parts = [
        f"""
    WITH e0 AS (
      SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
             CAST(MIN(l_quantity) AS BIGINT) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, w FROM e0
      UNION ALL
      SELECT dst AS src, src AS dst, w FROM e0
    ),
    d0 AS (SELECT CAST({2 * seed_custkey} AS BIGINT) AS node,
                  CAST(0 AS BIGINT) AS dist)"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""",
    d{k} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{k - 1}
        UNION ALL
        SELECT e.dst AS node, d.dist + e.w AS dist
        FROM edges e JOIN d{k - 1} d ON e.src = d.node
      ) GROUP BY node
    )"""
        )
    parts.append(
        f"""
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_key,
           dist
    FROM d{rounds}"""
    )
    return "".join(parts)


@register("sssp_weighted", _sssp_oracle(seed_custkey=1, rounds=4))
def q_sssp_weighted(spark, sf_dir):
    return gr.sssp_weighted(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        seed_custkey=1,
        n_rounds=4,
    )


@register(
    "entity_resolution",
    # Oracle: same blocking-join pair predicate as fuzzy_blocking_pairs,
    # closed transitively by recursive CTE (algorithm-independent
    # component partition — the Spark side runs star contraction), then
    # the same canonical/size joins.
    """
    WITH RECURSIVE
    n AS (SELECT p_name, MIN(p_partkey) AS nid FROM part GROUP BY p_name),
    e AS (
      SELECT a.nid AS doc_a, b.nid AS doc_b
      FROM n a JOIN n b
        ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
       AND a.p_name < b.p_name
       AND abs(length(a.p_name) - length(b.p_name)) <= 3
      WHERE levenshtein(a.p_name, b.p_name) <= 3
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM e
      UNION ALL
      SELECT doc_b, doc_a FROM e
    ),
    walk(node, label) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, w.label FROM sym s JOIN walk w ON s.dst = w.node
    ),
    cc AS (SELECT node, MIN(label) AS cluster_id FROM walk GROUP BY node),
    labeled AS (
      SELECT n.p_name, n.nid, COALESCE(cc.cluster_id, n.nid) AS entity_id
      FROM n LEFT JOIN cc ON n.nid = cc.node
    ),
    canon AS (SELECT entity_id, p_name AS canonical_name FROM labeled
              WHERE nid = entity_id),
    sizes AS (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members
              FROM labeled GROUP BY entity_id)
    SELECT l.entity_id, l.p_name, c.canonical_name, s.n_members
    FROM labeled l
    JOIN canon c USING (entity_id)
    JOIN sizes s USING (entity_id)
    """,
)
def q_entity_resolution(spark, sf_dir):
    return rel.entity_resolution(load_table(spark, sf_dir, "part"))


@register(
    "hybrid_rrf_topk",
    f"""
    WITH v AS ({_DUCK_VECS}),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v WHERE vec_id % 100 = 0),
    dense_scored AS (
      SELECT query_id, v.vec_id AS neighbor_id,
             {_DUCK_COS.format(a="q_emb", b="emb")} AS cos
      FROM q JOIN v ON v.vec_id <> q.query_id
    ),
    dense_top AS (
      SELECT query_id, neighbor_id, dense_rank FROM (
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id)
                    AS INT) AS dense_rank
        FROM dense_scored
      ) WHERE dense_rank <= 20
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                  x -> x <> '')) AS term
        FROM documents
      ) GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
            GROUP BY term),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    wts AS (
      SELECT doc_id, term,
             CAST(ROUND(CAST(tf * n_docs AS DOUBLE) / df, 6)
                  AS DECIMAL(18,6)) AS w
      FROM tf JOIN dfq USING (term), nn
      WHERE df <= 50
    ),
    norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM wts GROUP BY doc_id),
    sdots AS (
      SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
             SUM(a.w * b.w) AS dot
      FROM wts a JOIN wts b
        ON a.term = b.term AND b.doc_id <> a.doc_id
      WHERE a.doc_id % 100 = 0
      GROUP BY 1, 2
    ),
    sparse_top AS (
      SELECT query_id, neighbor_id, sparse_rank FROM (
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY CAST(dot AS DOUBLE)
                          / sqrt(CAST(nq.n2 AS DOUBLE)
                                 * CAST(nb.n2 AS DOUBLE)) DESC,
                          neighbor_id) AS INT) AS sparse_rank
        FROM sdots
        JOIN norms nq ON query_id = nq.doc_id
        JOIN norms nb ON neighbor_id = nb.doc_id
      ) WHERE sparse_rank <= 20
    ),
    fused AS (
      SELECT COALESCE(d.query_id, s.query_id) AS query_id,
             COALESCE(d.neighbor_id, s.neighbor_id) AS neighbor_id,
             d.dense_rank, s.sparse_rank,
             COALESCE(CAST(1 AS DOUBLE) / (60 + d.dense_rank),
                      CAST(0 AS DOUBLE))
             + COALESCE(CAST(1 AS DOUBLE) / (60 + s.sparse_rank),
                        CAST(0 AS DOUBLE)) AS rrf
      FROM dense_top d
      FULL OUTER JOIN sparse_top s
        ON d.query_id = s.query_id AND d.neighbor_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, rrf_rank, ROUND(rrf, 6) AS rrf_score,
           COALESCE(dense_rank, 0) AS dense_rank,
           COALESCE(sparse_rank, 0) AS sparse_rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                        ORDER BY rrf DESC, neighbor_id)
                     AS INT) AS rrf_rank
      FROM fused
    ) WHERE rrf_rank <= 10
    """,
)
def q_hybrid_rrf_topk(spark, sf_dir):
    return sim.hybrid_rrf_topk(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# Model-evaluation statistics (operators/mleval.py) — AUC, calibration,
# mutual information as bounded-state distributed aggregates
# ---------------------------------------------------------------------------

_MLEVAL_LABELS_SQL = """
    per_user AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS clicks,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS views,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value, 6) AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS pv
      FROM events GROUP BY user_id
    ),
    thr AS (
      SELECT CAST(SUM(pv) AS DOUBLE) / COUNT(*) AS thr FROM per_user
    )"""


@register(
    "auc_roc",
    f"""
    WITH {_MLEVAL_LABELS_SQL},
    lab AS (
      SELECT clicks AS score,
             CASE WHEN CAST(pv AS DOUBLE) > thr THEN 1 ELSE 0 END AS label
      FROM per_user CROSS JOIN thr
    ),
    hist AS (
      SELECT score, CAST(SUM(label) AS BIGINT) AS pos,
             CAST(SUM(1 - label) AS BIGINT) AS neg
      FROM lab GROUP BY score
    ),
    scored AS (
      SELECT pos, neg,
             COALESCE(SUM(neg) OVER (
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM hist
    )
    SELECT CAST(SUM(pos + neg) AS BIGINT) AS n_users,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           ROUND(CAST(2 * SUM(pos * neg_below) + SUM(pos * neg) AS DOUBLE)
                 / NULLIF(CAST(2 * SUM(pos) * SUM(neg) AS DOUBLE), 0), 6)
             AS auc
    FROM scored
    """,
)
def q_auc_roc(spark, sf_dir):
    return ml.auc_roc(load_table(spark, sf_dir, "events"))


@register(
    "calibration_bins",
    f"""
    WITH {_MLEVAL_LABELS_SQL},
    scored AS (
      SELECT CAST(ROUND(CAST(clicks AS DOUBLE)
                        / CAST(clicks + views AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS p,
             CASE WHEN CAST(pv AS DOUBLE) > thr THEN 1 ELSE 0 END AS y
      FROM per_user CROSS JOIN thr
      WHERE clicks + views > 0
    )
    SELECT CAST(LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(p) AS DOUBLE) / COUNT(*), 6) AS mean_pred,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos,
           ROUND(CAST(SUM(CAST(p - y AS DECIMAL(19,6))
                          * CAST(p - y AS DECIMAL(19,6))) AS DOUBLE)
                 / COUNT(*), 6) AS brier
    FROM scored GROUP BY 1
    """,
)
def q_calibration_bins(spark, sf_dir):
    return ml.calibration_bins(load_table(spark, sf_dir, "events"))


@register(
    "mutual_information",
    """
    WITH cells AS (
      SELECT event_type AS x, EXTRACT(hour FROM ts) AS y,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT x, y, c,
             SUM(c) OVER (PARTITION BY x) AS rx,
             SUM(c) OVER (PARTITION BY y) AS cy,
             SUM(c) OVER () AS t,
             ROW_NUMBER() OVER (PARTITION BY x ORDER BY y) AS rnx,
             ROW_NUMBER() OVER (PARTITION BY y ORDER BY x) AS rny
      FROM cells
    ),
    terms AS (
      SELECT
        CAST(ROUND((CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                   * LN((CAST(c AS DOUBLE) * CAST(t AS DOUBLE))
                        / (CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE))), 6)
             AS DECIMAL(18,6)) AS mi_t,
        CAST(CASE WHEN rnx = 1 THEN
               ROUND(-(CAST(rx AS DOUBLE) / CAST(t AS DOUBLE))
                     * LN(CAST(rx AS DOUBLE) / CAST(t AS DOUBLE)), 6)
             ELSE 0 END AS DECIMAL(18,6)) AS hx_t,
        CAST(CASE WHEN rny = 1 THEN
               ROUND(-(CAST(cy AS DOUBLE) / CAST(t AS DOUBLE))
                     * LN(CAST(cy AS DOUBLE) / CAST(t AS DOUBLE)), 6)
             ELSE 0 END AS DECIMAL(18,6)) AS hy_t
      FROM g
    )
    SELECT CAST(SUM(mi_t) AS DOUBLE) AS mi_nats,
           CAST(SUM(hx_t) AS DOUBLE) AS h_type,
           CAST(SUM(hy_t) AS DOUBLE) AS h_hour,
           ROUND(CAST(SUM(mi_t) AS DOUBLE)
                 / CAST(LEAST(SUM(hx_t), SUM(hy_t)) AS DOUBLE), 6) AS nmi
    FROM terms
    """,
)
def q_mutual_information(spark, sf_dir):
    return ml.mutual_information(load_table(spark, sf_dir, "events"))


@register(
    "subsample_ci",
    """
    WITH fan AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS k,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             unnest(generate_series(0, 63)) AS b
      FROM orders
    ),
    reps AS (
      SELECT b, ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 6) AS mean_b
      FROM fan
      WHERE CAST(('0x' || substr(md5(k || ':' || CAST(b AS VARCHAR)), 1, 13))
                 AS BIGINT) % 2 = 0
      GROUP BY b
    ),
    ranked AS (
      SELECT b, mean_b, ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rn
      FROM reps
    ),
    band AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
             MAX(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
             MAX(CASE WHEN rn = 63 THEN mean_b END) AS ci_hi
      FROM ranked
    ),
    point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 6) AS point_mean
      FROM orders
    )
    SELECT n_orders, point_mean, n_replicates, ci_lo, ci_hi
    FROM point CROSS JOIN band
    """,
)
def q_subsample_ci(spark, sf_dir):
    return ml.subsample_ci(load_table(spark, sf_dir, "orders"))


@register(
    "target_encoding",
    """
    WITH j AS (
      SELECT c_mktsegment,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 13))
                  AS BIGINT) % 5 AS fold,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    grid AS (
      SELECT c_mktsegment, fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(price) AS s
      FROM j GROUP BY 1, 2
    )
    SELECT c_mktsegment, fold, n_rows,
           ROUND(CAST(SUM(s) OVER (PARTITION BY c_mktsegment) - s AS DOUBLE)
                 / NULLIF(CAST(SUM(n_rows) OVER (PARTITION BY c_mktsegment)
                               - n_rows AS DOUBLE), 0), 6) AS oof_mean,
           ROUND(CAST(s AS DOUBLE) / n_rows, 6) AS fold_mean
    FROM grid
    """,
)
def q_target_encoding(spark, sf_dir):
    return pl.target_encoding(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "scd2_compressed",
    """
    WITH flagged AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey,
             o_orderpriority,
             CASE WHEN LAG(o_orderpriority) OVER w IS NULL
                    OR LAG(o_orderpriority) OVER w <> o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    ),
    versioned AS (
      SELECT o_custkey, d, o_orderkey, o_orderpriority,
             CAST(SUM(chg) OVER (
               PARTITION BY o_custkey ORDER BY d, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS version
      FROM flagged
    ),
    intervals AS (
      SELECT o_custkey, version, o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n_orders, MIN(d) AS vf
      FROM versioned GROUP BY 1, 2, 3
    )
    SELECT o_custkey, version, priority, n_orders,
           strftime(vf, '%Y-%m-%d') AS valid_from,
           strftime(LEAD(vf) OVER (PARTITION BY o_custkey ORDER BY version),
                    '%Y-%m-%d') AS valid_to
    FROM intervals
    """,
)
def q_scd2_compressed(spark, sf_dir):
    return rel.scd2_compressed(load_table(spark, sf_dir, "orders"))


# The oracle for the MERGE demo is the DIRECT newer snapshot: the Spark
# plan reconstructs it by applying the CDC delta to the older snapshot
# (insert/update/delete), so value equality here proves the merge
# semantics end-to-end, not just the arithmetic.
@register(
    "merge_apply_changes",
    """
    WITH c AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS c2 FROM orders)
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders CROSS JOIN c
    WHERE CAST(o_orderdate AS DATE) > c2 - 180
      AND CAST(o_orderdate AS DATE) <= c2
    GROUP BY o_custkey
    """,
)
def q_merge_apply_changes(spark, sf_dir):
    return rel.merge_apply_changes(load_table(spark, sf_dir, "orders"))


def _hits_half_round(prev: str, raw: str, out: str, src: str, dst: str, score: str) -> str:
    """One unrolled HITS half-round: sum the opposite side's mass over
    the edge list, then max-normalize with integer floor-division (the
    oracle twin of graph.py:hits_ranking's exact recurrence)."""
    return f"""
    {raw} AS (
      SELECT {dst}, CAST(SUM({score}) AS BIGINT) AS x
      FROM e JOIN {prev} USING ({src}) GROUP BY {dst}
    ),
    {out} AS (
      SELECT {dst},
             x // GREATEST(CAST((SELECT MAX(x) FROM {raw}) AS BIGINT)
                           // 1000000000000, 1) AS score
      FROM {raw}
    )"""


# HITS is iterative-float in every textbook; the max-norm integer
# recurrence (graph.py) makes it exactly replayable, so the oracle
# unrolls the 2 rounds (4 half-rounds; the trailing hub half-round is
# dead in the Spark plan and omitted here).
@register(
    "hits_ranking",
    f"""
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    h0 AS (
      SELECT DISTINCT c, CAST(1000000000000 AS BIGINT) AS score FROM e
    ),{_hits_half_round("h0", "a1r", "a1", "c", "s", "score")},{_hits_half_round("a1", "h1r", "h1", "s", "c", "score")},{_hits_half_round("h1", "a2r", "a2", "c", "s", "score")}
    SELECT s AS s_suppkey, CAST(score AS BIGINT) AS auth_scaled
    FROM a2 ORDER BY score DESC, s LIMIT 20
    """,
)
def q_hits_ranking(spark, sf_dir):
    return gr.hits_ranking(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "modularity_nations",
    """
    WITH p AS (
      SELECT s, d, COUNT(*) AS c FROM (
        SELECT DISTINCT a.l_orderkey, a.l_suppkey AS s, b.l_suppkey AS d
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      ) GROUP BY 1, 2
    ),
    e AS (SELECT s AS src, d AS dst FROM p WHERE c >= 30),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    nat AS (SELECT s_suppkey AS v, s_nationkey AS nk FROM supplier),
    intra AS (
      SELECT ns.nk AS nk, CAST(COUNT(*) AS BIGINT) AS intra_edges
      FROM e JOIN nat ns ON e.src = ns.v JOIN nat nd ON e.dst = nd.v
      WHERE ns.nk = nd.nk GROUP BY 1
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT src AS v FROM e UNION ALL SELECT dst FROM e
      ) GROUP BY v
    ),
    dnat AS (
      SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d) AS BIGINT) AS degree_sum
      FROM deg JOIN nat USING (v) GROUP BY nk
    ),
    per AS (
      SELECT nk, n_nodes, COALESCE(intra_edges, 0) AS intra_edges,
             degree_sum,
             CAST(ROUND(
               CAST(COALESCE(intra_edges, 0) AS DOUBLE) / m
               - (CAST(degree_sum AS DOUBLE) / CAST(2 * m AS DOUBLE))
                 * (CAST(degree_sum AS DOUBLE) / CAST(2 * m AS DOUBLE)),
               6) AS DECIMAL(18,6)) AS qd
      FROM dnat LEFT JOIN intra USING (nk) CROSS JOIN m
    )
    SELECT n_name, n_nodes, intra_edges, degree_sum,
           CAST(qd AS DOUBLE) AS q_term,
           CAST(SUM(qd) OVER () AS DOUBLE) AS modularity
    FROM per JOIN nation ON nk = n_nationkey
    """,
)
def q_modularity_nations(spark, sf_dir):
    return gr.modularity_by_nation(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "lateral_topn",
    """
    SELECT n_name, c.c_name, c.c_acctbal
    FROM nation,
    LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) AS c
    """,
)
def q_lateral_topn(spark, sf_dir):
    return rel.lateral_topn_per_nation(
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "running_distinct_types",
    """
    WITH flagged AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS nw
      FROM events
    )
    SELECT user_id, event_id, event_type,
           CAST(SUM(nw) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
)
def q_running_distinct_types(spark, sf_dir):
    return rel.running_distinct_types(load_table(spark, sf_dir, "events"))


@register(
    "session_bounce_rate",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev IS NULL
                    OR epoch_us(ts) // 1000000
                       - epoch_us(prev) // 1000000 > 1800
                  THEN 1 ELSE 0 END AS ns
      FROM (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
        FROM events
      )
    ),
    sess AS (
      SELECT user_id,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_id
      FROM marked
    ),
    per_sess AS (
      SELECT user_id, sess_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS bounce_rate,
           ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
             AS mean_events_per_session
    FROM per_sess GROUP BY user_id
    """,
)
def q_session_bounce_rate(spark, sf_dir):
    return rel.session_bounce_rate(load_table(spark, sf_dir, "events"))


# Shared oracle prefix: the degree-bounded supplier kNN co-occurrence
# graph (k = 3) — the same sparsification replayed by the
# triangle_count_suppliers oracle (see graph.supplier_knn_graph).
_DUCK_KNN_EDGES = """
    WITH p AS (
      SELECT s, d, COUNT(*) AS c FROM (
        SELECT DISTINCT a.l_orderkey, a.l_suppkey AS s, b.l_suppkey AS d
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      ) GROUP BY 1, 2
    ),
    sym0 AS (
      SELECT s AS node, d AS partner, c FROM p
      UNION ALL
      SELECT d AS node, s AS partner, c FROM p
    ),
    kept AS (
      SELECT node, partner FROM (
        SELECT node, partner,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, partner) AS rn
        FROM sym0
      ) WHERE rn <= 3
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(node, partner) AS src,
                      GREATEST(node, partner) AS dst
      FROM kept
    )"""


@register(
    "clustering_coefficient",
    _DUCK_KNN_EDGES
    + """,
    deg AS MATERIALIZED (
      SELECT v, COUNT(*) AS d FROM (
        SELECT src AS v FROM e0 UNION ALL SELECT dst FROM e0
      ) GROUP BY v
    ),
    o AS MATERIALIZED (
      SELECT CASE WHEN ds.d < dd.d OR (ds.d = dd.d AND src < dst)
                  THEN src ELSE dst END AS lo,
             CASE WHEN ds.d < dd.d OR (ds.d = dd.d AND src < dst)
                  THEN dst ELSE src END AS hi,
             CASE WHEN ds.d < dd.d OR (ds.d = dd.d AND src < dst)
                  THEN dd.d ELSE ds.d END AS dhi
      FROM e0 JOIN deg ds ON ds.v = e0.src JOIN deg dd ON dd.v = e0.dst
    ),
    tri AS (
      SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
      FROM o w1 JOIN o w2 ON w1.lo = w2.lo
      WHERE (w1.dhi < w2.dhi OR (w1.dhi = w2.dhi AND w1.hi < w2.hi))
        AND EXISTS (SELECT 1 FROM o cl
                    WHERE cl.lo = w1.hi AND cl.hi = w2.hi)
    ),
    pn AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT a AS v FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY v
    )
    SELECT deg.v AS node,
           CAST(d AS BIGINT) AS degree,
           CAST(COALESCE(t, 0) AS BIGINT) AS triangles,
           CASE WHEN d < 2 THEN 0.0
                ELSE ROUND(2.0 * COALESCE(t, 0)
                           / CAST(d * (d - 1) AS DOUBLE), 6) END AS cc
    FROM deg LEFT JOIN pn ON pn.v = deg.v
    """,
)
def q_clustering_coefficient(spark, sf_dir):
    return gr.local_clustering_coefficient(
        gr.supplier_knn_graph(load_table(spark, sf_dir, "lineitem"))
    )


@register(
    "adamic_adar",
    _DUCK_KNN_EDGES
    + """,
    symm AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM e0
      UNION ALL SELECT dst AS a, src AS b FROM e0
    ),
    deg AS MATERIALIZED (SELECT a, COUNT(*) AS d FROM symm GROUP BY a),
    nbr AS (
      SELECT s.b, s.a AS u,
             CAST(ROUND(1.0 / LN(CAST(dz.d AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS term
      FROM symm s JOIN deg dz ON dz.a = s.b AND dz.d >= 2
    ),
    scored AS (
      SELECT u, w2.a AS v, CAST(COUNT(*) AS BIGINT) AS cn,
             SUM(term) AS aa_dec
      FROM nbr JOIN symm w2 ON nbr.b = w2.b AND nbr.u < w2.a
      GROUP BY 1, 2
    ),
    na AS (
      SELECT u, v, cn, aa_dec FROM scored
      WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE src = u AND dst = v)
    )
    SELECT u, v, cn, CAST(aa_dec AS DOUBLE) AS aa_score
    FROM na ORDER BY aa_score DESC, u, v LIMIT 25
    """,
)
def q_adamic_adar(spark, sf_dir):
    return gr.adamic_adar(
        gr.supplier_knn_graph(load_table(spark, sf_dir, "lineitem"))
    )


@register(
    "rolling_7d_actives",
    """
    WITH du AS MATERIALIZED (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    grid AS (SELECT DISTINCT day AS end_day FROM du),
    j AS (
      SELECT g.end_day, d.user_id, d.day
      FROM grid g JOIN du d
        ON d.day <= g.end_day AND d.day > g.end_day - 7
    )
    SELECT strftime(end_day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS w7au,
           CAST(COUNT(DISTINCT j.day) AS BIGINT) AS days_in_window
    FROM j GROUP BY end_day
    """,
)
def q_rolling_7d_actives(spark, sf_dir):
    return rel.rolling_7d_actives(load_table(spark, sf_dir, "events"))


@register(
    "p_chart_errors",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errs
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(errs) AS BIGINT) AS te
      FROM daily
    ),
    lim AS (
      SELECT day, n, errs,
             ROUND(CAST(errs AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_day,
             ROUND(CAST(te AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS p_bar,
             ROUND(GREATEST(
               CAST(te AS DOUBLE) / CAST(tn AS DOUBLE)
               - 3.0 * SQRT((CAST(te AS DOUBLE) / CAST(tn AS DOUBLE))
                            * (1.0 - CAST(te AS DOUBLE)
                                     / CAST(tn AS DOUBLE))
                            / CAST(n AS DOUBLE)), 0.0), 6) AS lcl,
             ROUND(CAST(te AS DOUBLE) / CAST(tn AS DOUBLE)
                   + 3.0 * SQRT((CAST(te AS DOUBLE) / CAST(tn AS DOUBLE))
                                * (1.0 - CAST(te AS DOUBLE)
                                         / CAST(tn AS DOUBLE))
                                / CAST(n AS DOUBLE)), 6) AS ucl
      FROM daily, tot
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n, errs, p_day, p_bar,
           lcl, ucl,
           (p_day > ucl OR p_day < lcl) AS out_of_control
    FROM lim
    """,
)
def q_p_chart_errors(spark, sf_dir):
    return rel.p_chart_errors(load_table(spark, sf_dir, "events"))


@register(
    "joint_histogram",
    """
    WITH cells AS (
      SELECT LEAST(CAST(l_quantity AS BIGINT) * 10 // 51,
                   CAST(9 AS BIGINT)) AS qty_bin,
             CAST(FLOOR(l_extendedprice / 10000.0) AS BIGINT) AS price_bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT qty_bin, price_bin, n,
           ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 6)
             AS share,
           ROUND((CAST(SUM(n) OVER (PARTITION BY qty_bin) AS DOUBLE)
                  / CAST(SUM(n) OVER () AS DOUBLE))
                 * (CAST(SUM(n) OVER (PARTITION BY price_bin) AS DOUBLE)
                    / CAST(SUM(n) OVER () AS DOUBLE)), 6)
             AS expected_share
    FROM cells
    """,
)
def q_joint_histogram(spark, sf_dir):
    return rel.joint_histogram(load_table(spark, sf_dir, "lineitem"))


@register(
    "anova_hour_of_day",
    """
    WITH cells AS (
      SELECT CAST(ts AS DATE) AS day, EXTRACT(hour FROM ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT hod, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(x) AS BIGINT) AS sg,
             SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
                      AS DECIMAL(38,0))) AS sgg
      FROM cells GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(sg) AS DECIMAL(38,0)) AS s,
             CAST(SUM(sgg) AS DECIMAL(38,0)) AS ss,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(ROUND(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                            / CAST(ng AS DOUBLE), 6)
                      AS DECIMAL(28,6))) AS sb_raw
      FROM g
    )
    SELECT n AS n_cells, k AS n_groups,
           ROUND((CAST(sb_raw AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE), 6)
             AS ms_between,
           ROUND(((CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(n AS DOUBLE))
                  - (CAST(sb_raw AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE))) / CAST(n - k AS DOUBLE), 6)
             AS ms_within,
           ROUND(((CAST(sb_raw AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                 / (((CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     - (CAST(sb_raw AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                          / CAST(n AS DOUBLE)))
                    / CAST(n - k AS DOUBLE)), 6) AS f_stat
    FROM tot
    """,
)
def q_anova_hour_of_day(spark, sf_dir):
    return rel.anova_hour_of_day(load_table(spark, sf_dir, "events"))


@register(
    "open_order_age",
    """
    WITH mx AS (SELECT MAX(o_orderdate) AS d_max FROM orders),
    aged AS (
      SELECT o_orderstatus,
             date_diff('day', CAST(o_orderdate AS DATE),
                       CAST(d_max AS DATE)) AS age_d
      FROM orders, mx WHERE o_orderstatus IN ('O', 'P')
    ),
    stats AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_open,
             SUM(CAST(age_d AS DECIMAL(18,0))) AS s_age
      FROM aged GROUP BY 1
    ),
    q AS (
      SELECT o_orderstatus,
             ROUND(quantile_cont(age_d, 0.5), 6) AS p50_age_d,
             ROUND(quantile_cont(age_d, 0.9), 6) AS p90_age_d
      FROM aged GROUP BY 1
    )
    SELECT s.o_orderstatus, n_open,
           ROUND(CAST(s_age AS DOUBLE) / CAST(n_open AS DOUBLE), 6)
             AS mean_age_d,
           p50_age_d, p90_age_d
    FROM stats s JOIN q USING (o_orderstatus)
    """,
)
def q_open_order_age(spark, sf_dir):
    return rel.open_order_age(load_table(spark, sf_dir, "orders"))


@register(
    "ab_srm_check",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    g AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM users
    ),
    c AS (
      SELECT n_a, n_b,
             CAST(ROUND((CAST(n_a AS DOUBLE)
                         - CAST(n_a + n_b AS DOUBLE) / 2.0)
                        * (CAST(n_a AS DOUBLE)
                           - CAST(n_a + n_b AS DOUBLE) / 2.0)
                        / (CAST(n_a + n_b AS DOUBLE) / 2.0), 6)
                  AS DECIMAL(18,6))
             + CAST(ROUND((CAST(n_b AS DOUBLE)
                           - CAST(n_a + n_b AS DOUBLE) / 2.0)
                          * (CAST(n_b AS DOUBLE)
                             - CAST(n_a + n_b AS DOUBLE) / 2.0)
                          / (CAST(n_a + n_b AS DOUBLE) / 2.0), 6)
                    AS DECIMAL(18,6)) AS chi
      FROM g
    )
    SELECT n_a, n_b,
           ROUND(CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE), 6)
             AS share_a,
           CAST(chi AS DOUBLE) AS srm_chi2,
           chi >= CAST(10.828 AS DECIMAL(18,6)) AS srm_flag
    FROM c
    """,
)
def q_ab_srm_check(spark, sf_dir):
    return rel.ab_srm_check(load_table(spark, sf_dir, "events"))


@register(
    "quantile_shift",
    """
    WITH base AS (
      SELECT CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                  THEN 'post' ELSE 'pre' END AS period, o_totalprice
      FROM orders
    ),
    q AS (
      SELECT period,
             ROUND(quantile_cont(o_totalprice, 0.1), 6) AS p10,
             ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
             ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90
      FROM base GROUP BY 1
    )
    SELECT pre.p10 AS pre_p10, post.p10 AS post_p10,
           ROUND(post.p10 - pre.p10, 6) AS d_p10,
           pre.p50 AS pre_p50, post.p50 AS post_p50,
           ROUND(post.p50 - pre.p50, 6) AS d_p50,
           pre.p90 AS pre_p90, post.p90 AS post_p90,
           ROUND(post.p90 - pre.p90, 6) AS d_p90
    FROM (SELECT * FROM q WHERE period = 'pre') pre,
         (SELECT * FROM q WHERE period = 'post') post
    """,
)
def q_quantile_shift(spark, sf_dir):
    return rel.quantile_shift(load_table(spark, sf_dir, "orders"))


@register(
    "session_depth_hist",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev IS NULL
                    OR epoch_us(ts) // 1000000
                       - epoch_us(prev) // 1000000 > 1800
                  THEN 1 ELSE 0 END AS ns
      FROM (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
        FROM events
      )
    ),
    sess AS (
      SELECT user_id,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM marked
    ),
    depths AS (
      SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS depth
      FROM sess GROUP BY 1, 2
    ),
    counts AS (
      SELECT LEAST(depth, 10) AS depth_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM depths GROUP BY 1
    )
    SELECT depth_bucket, n_sessions,
           ROUND(CAST(n_sessions AS DOUBLE)
                 / CAST((SELECT SUM(n_sessions) FROM counts) AS DOUBLE),
                 6) AS share
    FROM counts
    """,
)
def q_session_depth_hist(spark, sf_dir):
    return rel.session_depth_hist(load_table(spark, sf_dir, "events"))


@register(
    "growth_accounting",
    """
    WITH base AS MATERIALIZED (
      SELECT DISTINCT o_custkey,
             CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
                  AS INTEGER) AS m
      FROM orders
    ),
    frst AS (SELECT o_custkey, MIN(m) AS m0 FROM base GROUP BY 1),
    flags AS (
      SELECT b.m, b.m = f.m0 AS is_new,
             (p.o_custkey IS NOT NULL) AS is_ret
      FROM base b
      JOIN frst f ON f.o_custkey = b.o_custkey
      LEFT JOIN base p ON p.o_custkey = b.o_custkey AND p.m = b.m - 1
    ),
    active AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             CAST(SUM(CASE WHEN NOT is_new AND is_ret THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN NOT is_new AND NOT is_ret
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      FROM flags GROUP BY 1
    ),
    churn AS (
      SELECT b.m + 1 AS m, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM base n
                        WHERE n.o_custkey = b.o_custkey AND n.m = b.m + 1)
      GROUP BY 1
    )
    SELECT a.m, n_active, n_new, n_retained, n_resurrected,
           CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned,
           ROUND(CAST(n_new + n_resurrected AS DOUBLE)
                 / NULLIF(CAST(COALESCE(n_churned, 0) AS DOUBLE), 0), 6)
             AS quick_ratio
    FROM active a LEFT JOIN churn ON churn.m = a.m
    """,
)
def q_growth_accounting(spark, sf_dir):
    return rel.growth_accounting(load_table(spark, sf_dir, "orders"))


@register(
    "dau_mau_stickiness",
    """
    WITH days AS MATERIALIZED (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             date_trunc('month', ts) AS mo, user_id
      FROM events
    ),
    dau AS (
      SELECT mo, day, COUNT(DISTINCT user_id) AS dau
      FROM days GROUP BY 1, 2
    ),
    mau AS (SELECT mo, COUNT(DISTINCT user_id) AS mau FROM days GROUP BY 1),
    pm AS (
      SELECT mo, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(dau) AS BIGINT) AS s_dau
      FROM dau GROUP BY 1
    )
    SELECT strftime(pm.mo, '%Y-%m') AS month, n_days,
           ROUND(CAST(s_dau AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
             AS avg_dau,
           CAST(mau AS BIGINT) AS mau,
           ROUND(CAST(s_dau AS DOUBLE) / CAST(n_days AS DOUBLE)
                 / CAST(mau AS DOUBLE), 6) AS stickiness
    FROM pm JOIN mau USING (mo)
    """,
)
def q_dau_mau_stickiness(spark, sf_dir):
    return rel.dau_mau_stickiness(load_table(spark, sf_dir, "events"))


@register(
    "rank_movers",
    """
    WITH rev AS (
      SELECT l_partkey,
             CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
                  AS INTEGER) AS m,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,6))
                      * (CAST(1 AS DECIMAL(19,6))
                         - CAST(l_discount AS DECIMAL(19,6)))
                      AS DECIMAL(38,12))) AS rev
      FROM lineitem GROUP BY 1, 2
    ),
    last2 AS (SELECT DISTINCT m FROM rev ORDER BY m DESC LIMIT 2),
    tagged AS (SELECT r.* FROM rev r JOIN last2 USING (m)),
    mx AS (SELECT MAX(m) AS m_last FROM tagged),
    ranked AS (
      SELECT l_partkey, m, rev,
             ROW_NUMBER() OVER (PARTITION BY m
                                ORDER BY rev DESC, l_partkey) AS rk
      FROM tagged
    ),
    cur AS (
      SELECT l_partkey, rk AS rk_now, rev AS rev_now
      FROM ranked, mx WHERE m = m_last
    ),
    prv AS (
      SELECT l_partkey, rk AS rk_prev, rev AS rev_prev
      FROM ranked, mx WHERE m <> m_last
    ),
    wn AS (SELECT MAX(rk_now) + 1 AS w_now FROM cur),
    wp AS (SELECT MAX(rk_prev) + 1 AS w_prev FROM prv),
    j AS (
      SELECT COALESCE(c.l_partkey, p.l_partkey) AS l_partkey,
             CAST(COALESCE(rk_now, w_now) AS BIGINT) AS rk_now,
             CAST(COALESCE(rk_prev, w_prev) AS BIGINT) AS rk_prev,
             COALESCE(CAST(rev_now AS DOUBLE), 0.0) AS rev_now,
             COALESCE(CAST(rev_prev AS DOUBLE), 0.0) AS rev_prev
      FROM cur c FULL OUTER JOIN prv p ON p.l_partkey = c.l_partkey,
           wn, wp
    )
    SELECT j.l_partkey, p_name, rk_prev, rk_now,
           rk_prev - rk_now AS rank_gain,
           ROUND(rev_prev, 6) AS rev_prev, ROUND(rev_now, 6) AS rev_now
    FROM j JOIN part ON p_partkey = j.l_partkey
    ORDER BY ABS(rk_prev - rk_now) DESC, j.l_partkey LIMIT 15
    """,
)
def q_rank_movers(spark, sf_dir):
    return rel.rank_movers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "spearman_corr",
    """
    WITH hx AS (
      SELECT l_returnflag, l_quantity, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    rx AS (
      SELECT l_returnflag, l_quantity,
             2 * COALESCE(SUM(c) OVER (
                   PARTITION BY l_returnflag ORDER BY l_quantity
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS rx2
      FROM hx
    ),
    hy AS (
      SELECT l_returnflag, l_extendedprice, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    ry AS (
      SELECT l_returnflag, l_extendedprice,
             2 * COALESCE(SUM(c) OVER (
                   PARTITION BY l_returnflag ORDER BY l_extendedprice
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS ry2
      FROM hy
    ),
    j AS (
      SELECT l.l_returnflag, CAST(rx2 AS BIGINT) AS rx2,
             CAST(ry2 AS BIGINT) AS ry2
      FROM lineitem l
      JOIN rx ON rx.l_returnflag = l.l_returnflag
             AND rx.l_quantity = l.l_quantity
      JOIN ry ON ry.l_returnflag = l.l_returnflag
             AND ry.l_extendedprice = l.l_extendedprice
    ),
    m AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rx2) AS BIGINT) AS sx,
             CAST(SUM(ry2) AS BIGINT) AS sy,
             SUM(CAST(rx2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0)))
               AS sxy,
             SUM(CAST(rx2 AS DECIMAL(19,0)) * CAST(rx2 AS DECIMAL(19,0)))
               AS sxx,
             SUM(CAST(ry2 AS DECIMAL(19,0)) * CAST(ry2 AS DECIMAL(19,0)))
               AS syy
      FROM j GROUP BY 1
    )
    SELECT l_returnflag, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE)
                                   * CAST(sy AS DOUBLE)), 0), 6)
             AS spearman_rho
    FROM m
    """,
)
def q_spearman_corr(spark, sf_dir):
    return rel.spearman_correlation(load_table(spark, sf_dir, "lineitem"))


@register(
    "regression_discontinuity",
    """
    WITH base AS (
      SELECT o_totalprice >= 150000.0 AS right_side,
             CAST(o_totalprice AS DECIMAL(18,6))
             - CAST(150000.0 AS DECIMAL(18,6)) AS x,
             CAST(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END AS DECIMAL(18,6)) AS y
      FROM orders
      WHERE o_totalprice >= 100000.0 AND o_totalprice < 200000.0
    ),
    m AS (
      SELECT right_side, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxx
      FROM base GROUP BY 1
    ),
    sides AS (
      SELECT right_side, n,
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS slope,
             ROUND((CAST(sy AS DOUBLE)
                    - ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE)
                                 * CAST(sx AS DOUBLE)), 6)
                      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               AS intercept
      FROM m
    )
    SELECT l.n AS n_left, r.n AS n_right,
           l.slope AS slope_left, r.slope AS slope_right,
           l.intercept AS intercept_left, r.intercept AS intercept_right,
           ROUND(r.intercept - l.intercept, 6) AS rd_jump
    FROM sides l, sides r
    WHERE NOT l.right_side AND r.right_side
    """,
)
def q_regression_discontinuity(spark, sf_dir):
    return rel.regression_discontinuity(load_table(spark, sf_dir, "orders"))


@register(
    "cramers_v",
    """
    WITH obs AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS o
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    rt AS (SELECT o_orderstatus, SUM(o) AS r FROM obs GROUP BY 1),
    ct AS (SELECT o_orderpriority, SUM(o) AS c FROM obs GROUP BY 1),
    nt AS (SELECT SUM(o) AS n FROM obs),
    cells AS (
      SELECT rt.o_orderstatus, ct.o_orderpriority,
             COALESCE(obs.o, 0) AS o, rt.r, ct.c, nt.n
      FROM rt CROSS JOIN ct CROSS JOIN nt
      LEFT JOIN obs ON obs.o_orderstatus = rt.o_orderstatus
                   AND obs.o_orderpriority = ct.o_orderpriority
    ),
    agg AS (
      SELECT SUM(CAST(ROUND(
               (CAST(o AS DOUBLE)
                - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                  / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                    / CAST(n AS DOUBLE))
               / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                  / CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6))) AS chi2_d,
             CAST(MAX(n) AS BIGINT) AS n,
             COUNT(DISTINCT o_orderstatus) - 1 AS r1,
             COUNT(DISTINCT o_orderpriority) - 1 AS c1
      FROM cells
    )
    SELECT CAST(chi2_d AS DOUBLE) AS chi2, n,
           ROUND(SQRT(CAST(chi2_d AS DOUBLE)
                      / (CAST(n AS DOUBLE)
                         * CAST(LEAST(r1, c1) AS DOUBLE))), 6)
             AS cramers_v
    FROM agg
    """,
)
def q_cramers_v(spark, sf_dir):
    return rel.cramers_v(load_table(spark, sf_dir, "orders"))


@register(
    "price_elasticity",
    """
    WITH per_part AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,6))) AS q,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sp,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT p_brand,
             CAST(ROUND(LN(CAST(sp AS DOUBLE) / CAST(n_lines AS DOUBLE)),
                        6) AS DECIMAL(18,6)) AS x,
             CAST(ROUND(LN(CAST(q AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      FROM per_part JOIN part ON p_partkey = l_partkey
    ),
    m AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS syy
      FROM t GROUP BY 1 HAVING COUNT(*) >= 3
    )
    SELECT p_brand, n_parts,
           ROUND((CAST(n_parts AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0),
                 6) AS elasticity,
           ROUND(((CAST(n_parts AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n_parts AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / NULLIF((CAST(n_parts AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * (CAST(n_parts AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                          0), 6) AS r2
    FROM m
    """,
)
def q_price_elasticity(spark, sf_dir):
    return rel.price_elasticity(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


_DUCK_POWERS = ",\n             ".join(
    f"({i}, CAST('{v}' AS DECIMAL(16,12)))"
    for i, v in enumerate(rel.DISCOUNT_POWERS)
)


@register(
    "npv_clv",
    f"""
    WITH powers(age, factor) AS (
      VALUES {_DUCK_POWERS}
    ),
    base AS MATERIALIZED (
      SELECT o_custkey, date_trunc('month', o_orderdate) AS mo,
             CAST(o_totalprice AS DECIMAL(18,6)) AS p
      FROM orders
    ),
    frst AS (SELECT o_custkey, MIN(mo) AS m0 FROM base GROUP BY 1),
    aged AS (
      SELECT b.o_custkey, p,
             LEAST(CAST((year(mo) - year(m0)) * 12
                        + (month(mo) - month(m0)) AS INTEGER), 84) AS age
      FROM base b JOIN frst f ON f.o_custkey = b.o_custkey
    ),
    disc AS (
      SELECT o_custkey, p,
             CAST(ROUND(CAST(p AS DECIMAL(19,6))
                        * CAST(factor AS DECIMAL(19,12)), 6)
                  AS DECIMAL(18,6)) AS dp
      FROM aged JOIN powers USING (age)
    ),
    per_cust AS (
      SELECT o_custkey, SUM(p) AS rev, SUM(dp) AS npv
      FROM disc GROUP BY 1
    )
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(rev) AS DOUBLE) / COUNT(*), 6) AS avg_revenue,
           ROUND(CAST(SUM(npv) AS DOUBLE) / COUNT(*), 6) AS avg_npv,
           ROUND(CAST(SUM(npv) AS DOUBLE) / CAST(SUM(rev) AS DOUBLE), 6)
             AS discount_ratio
    FROM per_cust JOIN customer ON c_custkey = o_custkey
    GROUP BY 1
    """,
)
def q_npv_clv(spark, sf_dir):
    return rel.npv_clv(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def _truss_round(i: int, k: int) -> str:
    """One k-truss peel round: common-neighbor support per edge from a
    wedge join on the symmetrized survivors, filter at k-2 — mirrors
    graph.k_truss step for step; extra rounds are idempotent at the
    fixpoint."""
    return f""",
    tsym{i} AS (
      SELECT src AS a, dst AS b FROM e{i}
      UNION ALL SELECT dst AS a, src AS b FROM e{i}
    ),
    tcn{i} AS (
      SELECT s1.a AS u, s2.a AS v, CAST(COUNT(*) AS BIGINT) AS cn
      FROM tsym{i} s1 JOIN tsym{i} s2 ON s1.b = s2.b AND s1.a < s2.a
      GROUP BY 1, 2
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i} e
      JOIN tcn{i} c ON c.u = e.src AND c.v = e.dst
      WHERE c.cn >= {k - 2}
    )"""


@register(
    "k_truss",
    _DUCK_KNN_EDGES
    + "".join(_truss_round(i, 3) for i in range(8))
    + """
    SELECT e.src, e.dst, c.cn AS support
    FROM e8 e JOIN tcn7 c ON c.u = e.src AND c.v = e.dst
    """,
)
def q_k_truss(spark, sf_dir):
    return gr.k_truss(
        gr.supplier_knn_graph(load_table(spark, sf_dir, "lineitem"))
    )


@register(
    "time_to_convert",
    """
    WITH sec AS MATERIALIZED (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s
      FROM events
    ),
    per AS MATERIALIZED (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN s END) AS v0
      FROM sec GROUP BY 1
    ),
    fp AS (
      SELECT sec.user_id, MIN(s) AS p0
      FROM sec JOIN per ON per.user_id = sec.user_id
      WHERE event_type = 'purchase' AND v0 IS NOT NULL AND s >= v0
      GROUP BY 1
    ),
    gaps AS (
      SELECT p.user_id, f.p0 - p.v0 AS gap_s
      FROM per p LEFT JOIN fp f ON f.user_id = p.user_id
      WHERE p.v0 IS NOT NULL
    ),
    counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers,
             CAST(SUM(CASE WHEN gap_s IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_converted
      FROM gaps
    ),
    q AS (
      SELECT quantile_cont(gap_s, 0.5) AS p50,
             quantile_cont(gap_s, 0.9) AS p90,
             quantile_cont(gap_s, 0.99) AS p99
      FROM gaps WHERE gap_s IS NOT NULL
    )
    SELECT n_viewers, n_converted,
           ROUND(CAST(n_converted AS DOUBLE) / CAST(n_viewers AS DOUBLE),
                 6) AS conversion_rate,
           ROUND(p50, 6) AS p50_s, ROUND(p90, 6) AS p90_s,
           ROUND(p99, 6) AS p99_s
    FROM counts, q
    """,
)
def q_time_to_convert(spark, sf_dir):
    return rel.time_to_convert(load_table(spark, sf_dir, "events"))


@register(
    "burstiness",
    """
    WITH gaps AS (
      SELECT user_id,
             s - LAG(s) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS g
      FROM (
        SELECT user_id, ts, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s
        FROM events
      )
    ),
    m AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             SUM(CAST(g AS DECIMAL(18,0))) AS sg,
             SUM(CAST(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0))
                      AS DECIMAL(38,0))) AS sgg
      FROM gaps WHERE g IS NOT NULL
      GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    d AS (
      SELECT user_id, n_gaps,
             CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
             SQRT(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                  - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                    * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
               AS sig
      FROM m
    )
    SELECT user_id, n_gaps, ROUND(mu, 6) AS mean_gap_s,
           ROUND(sig / NULLIF(mu, 0), 6) AS cv,
           ROUND((sig - mu) / NULLIF(sig + mu, 0), 6) AS burstiness
    FROM d
    """,
)
def q_burstiness(spark, sf_dir):
    return rel.user_burstiness(load_table(spark, sf_dir, "events"))


_XCORR_NUMS = ",\n             ".join(
    f"SUM(u * {'vp' + str(k) if k >= 0 else 'vm' + str(-k)}) AS n_{k + 4}"
    for k in range(-4, 5)
)
_XCORR_SHIFTS = ",\n             ".join(
    (
        f"lead(v, {k}) OVER (ORDER BY h) AS vp{k}"
        if k >= 0
        else f"lag(v, {-k}) OVER (ORDER BY h) AS vm{-k}"
    )
    for k in range(-4, 5)
)
_XCORR_ROWS = "\n    UNION ALL\n".join(
    f"""    SELECT CAST({k} AS INTEGER) AS lag,
           ROUND(CAST(n_{k + 4} AS DOUBLE)
                 / (SQRT(CAST(du AS DOUBLE)) * SQRT(CAST(dv AS DOUBLE))),
                 6) AS xcorr FROM m"""
    for k in range(-4, 5)
)


@register(
    "xcorr_types",
    f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events WHERE event_type IN ('error', 'purchase') GROUP BY 1
    ),
    bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    filled AS (
      SELECT g.h, COALESCE(x, 0) AS x, COALESCE(y, 0) AS y
      FROM grid g LEFT JOIN hourly USING (h)
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy
      FROM filled
    ),
    uv AS (
      SELECT h, n * x - sx AS u, n * y - sy AS v FROM filled, st
    ),
    shifted AS (
      SELECT u, v,
             {_XCORR_SHIFTS}
      FROM uv
    ),
    m AS (
      SELECT SUM(u * u) AS du, SUM(v * v) AS dv,
             {_XCORR_NUMS}
      FROM shifted
    )
{_XCORR_ROWS}
    """,
)
def q_xcorr_types(spark, sf_dir):
    return rel.cross_correlation_types(load_table(spark, sf_dir, "events"))


@register(
    "market_concentration",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,6))
                      * (CAST(1 AS DECIMAL(19,6))
                         - CAST(l_discount AS DECIMAL(19,6)))
                      AS DECIMAL(38,12))) AS r
      FROM lineitem GROUP BY 1
    ),
    dims AS (
      SELECT s_suppkey, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ),
    per_sup AS (
      SELECT d.n_name, r FROM rev JOIN dims d ON l_suppkey = s_suppkey
    ),
    tot AS (SELECT n_name, SUM(r) AS t FROM per_sup GROUP BY 1),
    share2 AS (
      SELECT p.n_name,
             CAST(ROUND((CAST(r AS DOUBLE) / CAST(t AS DOUBLE))
                        * (CAST(r AS DOUBLE) / CAST(t AS DOUBLE)), 10)
                  AS DECIMAL(18,10)) AS s2
      FROM per_sup p JOIN tot USING (n_name)
    )
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(CAST(SUM(s2) AS DOUBLE) * 10000, 6) AS hhi,
           ROUND(1.0 / CAST(SUM(s2) AS DOUBLE), 6)
             AS effective_competitors
    FROM share2 GROUP BY 1
    """,
)
def q_market_concentration(spark, sf_dir):
    return rel.market_concentration_hhi(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@register(
    "retention_decay",
    """
    WITH base AS MATERIALIZED (
      SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS mo
      FROM orders
    ),
    frst AS MATERIALIZED (
      SELECT o_custkey, MIN(mo) AS cohort FROM base GROUP BY 1
    ),
    aged AS (
      SELECT f.cohort,
             CAST((year(mo) - year(cohort)) * 12
                  + (month(mo) - month(cohort)) AS BIGINT) AS age,
             b.o_custkey
      FROM base b JOIN frst f ON f.o_custkey = b.o_custkey
    ),
    sizes AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS sz FROM frst GROUP BY 1
    ),
    cells AS (
      SELECT cohort, age, COUNT(DISTINCT o_custkey) AS active
      FROM aged GROUP BY 1, 2
    ),
    rates AS (
      SELECT age,
             CAST(ROUND(LN(CAST(active AS DOUBLE) / CAST(sz AS DOUBLE)),
                        6) AS DECIMAL(18,6)) AS lnr
      FROM cells JOIN sizes USING (cohort)
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(age AS DECIMAL(18,6))) AS sx,
             SUM(lnr) AS sy,
             SUM(CAST(CAST(age AS DECIMAL(19,6)) * CAST(lnr AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(CAST(age AS DECIMAL(19,6)) * CAST(age AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxx
      FROM rates
    ),
    fit AS (
      SELECT n,
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS sraw,
             CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
      FROM m
    )
    SELECT n AS n_points,
           ROUND(sraw, 6) AS decay_rate,
           ROUND((syd - sraw * sxd) / CAST(n AS DOUBLE), 6) AS intercept,
           ROUND(0.693147 / -sraw, 6) AS half_life_months
    FROM fit
    """,
)
def q_retention_decay(spark, sf_dir):
    return rel.retention_decay_fit(load_table(spark, sf_dir, "orders"))


@register(
    "funnel_significance",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN prev IS NULL
                    OR epoch_us(ts) // 1000000
                       - epoch_us(prev) // 1000000 > 1800
                  THEN 1 ELSE 0 END AS ns
      FROM (
        SELECT user_id, event_id, ts, event_type,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev
        FROM events
      )
    ),
    sess AS (
      SELECT user_id, event_type,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sid
      FROM marked
    ),
    flags AS (
      SELECT user_id, sid,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS s_view,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS s_click,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS s_purchase
      FROM sess GROUP BY 1, 2
    ),
    per AS MATERIALIZED (
      SELECT user_id % 2 = 0 AS cohort_a, s_view, s_click, s_purchase
      FROM flags
    ),
    s1 AS (
      SELECT CAST(SUM(CASE WHEN cohort_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN cohort_a THEN s_click ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN NOT cohort_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN NOT cohort_a THEN s_click ELSE 0 END)
                  AS BIGINT) AS c2
      FROM per WHERE s_view = 1
    ),
    s2 AS (
      SELECT CAST(SUM(CASE WHEN cohort_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN cohort_a THEN s_purchase ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN NOT cohort_a THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN NOT cohort_a THEN s_purchase ELSE 0 END)
                  AS BIGINT) AS c2
      FROM per WHERE s_click = 1
    ),
    both_steps AS (
      SELECT 'view->click' AS transition, * FROM s1
      UNION ALL
      SELECT 'click->purchase' AS transition, * FROM s2
    )
    SELECT transition, n1, c1, n2, c2,
           ROUND(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS rate_a,
           ROUND(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS rate_b,
           ROUND((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                  - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                 / NULLIF(SQRT((CAST(c1 + c2 AS DOUBLE)
                                / CAST(n1 + n2 AS DOUBLE))
                               * (1.0 - CAST(c1 + c2 AS DOUBLE)
                                        / CAST(n1 + n2 AS DOUBLE))
                               * (1.0 / CAST(n1 AS DOUBLE)
                                  + 1.0 / CAST(n2 AS DOUBLE))), 0), 6)
             AS z
    FROM both_steps
    """,
)
def q_funnel_significance(spark, sf_dir):
    return rel.funnel_significance(load_table(spark, sf_dir, "events"))


@register(
    "mde_power",
    """
    WITH per AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY 1
    ),
    g AS (
      SELECT CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(SUM(conv) AS BIGINT) AS n_conv,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM per
    )
    SELECT n_a, n_b,
           ROUND(CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS baseline_rate,
           ROUND(2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)), 6)
             AS harmonic_n,
           ROUND((1.959964 + 0.841621)
                 * SQRT(2.0 * (CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1.0 - CAST(n_conv AS DOUBLE)
                                 / CAST(n AS DOUBLE))
                        / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                           / (CAST(n_a AS DOUBLE)
                              + CAST(n_b AS DOUBLE)))), 6) AS mde_abs,
           ROUND((1.959964 + 0.841621)
                 * SQRT(2.0 * (CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1.0 - CAST(n_conv AS DOUBLE)
                                 / CAST(n AS DOUBLE))
                        / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                           / (CAST(n_a AS DOUBLE)
                              + CAST(n_b AS DOUBLE))))
                 / NULLIF(CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE), 0),
                 6) AS mde_rel
    FROM g
    """,
)
def q_mde_power(spark, sf_dir):
    return rel.mde_power_analysis(load_table(spark, sf_dir, "events"))


@register(
    "ipw_ate",
    """
    WITH joined AS (
      SELECT o.o_orderpriority, o.o_totalprice, c.c_mktsegment
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS st,
             SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS sc
      FROM joined GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM cells),
    strata AS MATERIALIZED (
      SELECT c_mktsegment, n,
             nt AS n_treat,
             n - nt AS n_ctrl,
             ROUND(CAST(nt AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS propensity,
             ROUND(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                   - CAST(sc AS DOUBLE) / CAST(n - nt AS DOUBLE), 6)
               AS gap,
             ROUND((CAST(n AS DOUBLE) / CAST(n_all AS DOUBLE))
                   * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                      - CAST(sc AS DOUBLE) / CAST(n - nt AS DOUBLE)), 6)
               AS weighted_term
      FROM cells, tot
    )
    SELECT c_mktsegment, n, CAST(n_treat AS BIGINT) AS n_treat,
           CAST(n_ctrl AS BIGINT) AS n_ctrl, propensity, gap,
           weighted_term
    FROM strata
    UNION ALL
    SELECT '__ate__', CAST(SUM(n) AS BIGINT), CAST(SUM(n_treat) AS BIGINT),
           CAST(SUM(n_ctrl) AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE),
           CAST(SUM(CAST(weighted_term AS DECIMAL(18,6))) AS DOUBLE)
    FROM strata
    """,
)
def q_ipw_ate(spark, sf_dir):
    return rel.ipw_ate(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "markov_eval",
    """
    WITH pairs AS (
      SELECT user_id, event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    p2 AS MATERIALIZED (SELECT * FROM pairs WHERE nxt IS NOT NULL),
    train AS (SELECT * FROM p2 WHERE user_id % 2 = 0),
    test AS (SELECT * FROM p2 WHERE user_id % 2 = 1),
    counts AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM train GROUP BY 1, 2
    ),
    model AS (
      SELECT cur, nxt AS pred FROM (
        SELECT cur, nxt,
               ROW_NUMBER() OVER (PARTITION BY cur
                                  ORDER BY c DESC, nxt) AS rn
        FROM counts
      ) WHERE rn = 1
    ),
    gb AS (
      SELECT nxt AS fallback FROM (
        SELECT nxt, COUNT(*) AS c FROM train GROUP BY 1
        ORDER BY c DESC, nxt LIMIT 1
      )
    ),
    scored AS (
      SELECT t.cur, t.nxt, COALESCE(m.pred, g.fallback) AS pred
      FROM test t LEFT JOIN model m ON m.cur = t.cur, gb g
    )
    SELECT cur, pred, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(CAST(SUM(CASE WHEN nxt = pred THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS accuracy
    FROM scored GROUP BY 1, 2
    """,
)
def q_markov_eval(spark, sf_dir):
    return rel.markov_next_event_eval(load_table(spark, sf_dir, "events"))


@register(
    "diff_in_diff",
    """
    WITH cells AS (
      SELECT o_orderpriority IN ('1-URGENT','2-HIGH') AS treated,
             o_orderdate >= TIMESTAMP '1998-01-01' AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS s
      FROM orders GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN treated AND NOT post THEN n END) AS n_treat_pre,
        MAX(CASE WHEN treated AND post THEN n END) AS n_treat_post,
        MAX(CASE WHEN NOT treated AND NOT post THEN n END) AS n_ctrl_pre,
        MAX(CASE WHEN NOT treated AND post THEN n END) AS n_ctrl_post,
        MAX(CASE WHEN treated AND NOT post THEN s END) AS s_treat_pre,
        MAX(CASE WHEN treated AND post THEN s END) AS s_treat_post,
        MAX(CASE WHEN NOT treated AND NOT post THEN s END) AS s_ctrl_pre,
        MAX(CASE WHEN NOT treated AND post THEN s END) AS s_ctrl_post
      FROM cells
    )
    SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
           ROUND(CAST(s_treat_pre AS DOUBLE) / CAST(n_treat_pre AS DOUBLE),
                 6) AS mean_treat_pre,
           ROUND(CAST(s_treat_post AS DOUBLE)
                 / CAST(n_treat_post AS DOUBLE), 6) AS mean_treat_post,
           ROUND(CAST(s_ctrl_pre AS DOUBLE) / CAST(n_ctrl_pre AS DOUBLE),
                 6) AS mean_ctrl_pre,
           ROUND(CAST(s_ctrl_post AS DOUBLE) / CAST(n_ctrl_post AS DOUBLE),
                 6) AS mean_ctrl_post,
           ROUND((CAST(s_treat_post AS DOUBLE) / CAST(n_treat_post AS DOUBLE)
                  - CAST(s_treat_pre AS DOUBLE) / CAST(n_treat_pre AS DOUBLE))
                 - (CAST(s_ctrl_post AS DOUBLE) / CAST(n_ctrl_post AS DOUBLE)
                    - CAST(s_ctrl_pre AS DOUBLE)
                      / CAST(n_ctrl_pre AS DOUBLE)), 6) AS did
    FROM wide
    """,
)
def q_diff_in_diff(spark, sf_dir):
    return rel.diff_in_diff(load_table(spark, sf_dir, "orders"))


@register(
    "item_item_cosine",
    """
    WITH po AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    cnt AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM po GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM po a JOIN po b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 3
    )
    SELECT part_a, part_b, co,
           ROUND(CAST(co AS DOUBLE)
                 / SQRT(CAST(na.n * nb.n AS DOUBLE)), 6) AS cosine
    FROM pairs
    JOIN cnt na ON na.l_partkey = part_a
    JOIN cnt nb ON nb.l_partkey = part_b
    ORDER BY cosine DESC, part_a, part_b
    LIMIT 25
    """,
)
def q_item_item_cosine(spark, sf_dir):
    return rel.item_item_cosine(load_table(spark, sf_dir, "lineitem"))


@register(
    "jarque_bera",
    """
    WITH pre AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS s
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT l.l_returnflag, n,
             CAST(CAST(CAST(n * CAST(l_quantity AS DECIMAL(18,6))
                            AS DECIMAL(28,6))
                       - CAST(s AS DECIMAL(28,6)) AS DECIMAL(19,0))
                  AS HUGEINT) AS u
      FROM lineitem l JOIN pre USING (l_returnflag)
    ),
    m AS (
      SELECT l_returnflag, n,
             SUM(u * u) AS u2,
             SUM(u * u * u) AS u3,
             SUM(u * u * u * u) AS u4
      FROM j GROUP BY 1, 2
    )
    SELECT l_returnflag, n,
           ROUND((CAST(u3 AS DOUBLE) / CAST(n AS DOUBLE))
                 / ((CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))
                    * SQRT(CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))), 6)
             AS skewness,
           ROUND((CAST(u4 AS DOUBLE) / CAST(n AS DOUBLE))
                 / ((CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0, 6)
             AS excess_kurtosis,
           ROUND(CAST(n AS DOUBLE) / 6.0
                 * (((CAST(u3 AS DOUBLE) / CAST(n AS DOUBLE))
                     / ((CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))
                        * SQRT(CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))))
                    * ((CAST(u3 AS DOUBLE) / CAST(n AS DOUBLE))
                       / ((CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))
                          * SQRT(CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))))
                    + ((CAST(u4 AS DOUBLE) / CAST(n AS DOUBLE))
                       / ((CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))
                          * (CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE)))
                       - 3.0)
                      * ((CAST(u4 AS DOUBLE) / CAST(n AS DOUBLE))
                         / ((CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(u2 AS DOUBLE) / CAST(n AS DOUBLE)))
                         - 3.0) / 4.0), 6) AS jb_stat
    FROM m
    """,
)
def q_jarque_bera(spark, sf_dir):
    return rel.jarque_bera(load_table(spark, sf_dir, "lineitem"))


def _pca_round(prev_v: str, k: int) -> str:
    """One integer power-iteration round: exact BIGINT mat-vec, pivot
    pick on the (|w| desc, i) total order, one IEEE division per
    component — mirrors similarity.pca_power_iteration step for step."""
    return f""",
    w{k} AS MATERIALIZED (
      SELECT s.i, CAST(SUM(s.c * v.v) AS BIGINT) AS w
      FROM sym s JOIN {prev_v} v ON v.j = s.j GROUP BY s.i
    ),
    p{k} AS (SELECT w AS wp FROM w{k} ORDER BY ABS(w) DESC, i LIMIT 1),
    v{k} AS MATERIALIZED (
      SELECT w{k}.i AS j,
             CAST(ROUND(CAST(w AS DOUBLE) / CAST(wp AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS v
      FROM w{k}, p{k}
    )"""


@register(
    "pca_power_iteration",
    f"""
    WITH v AS ({_DUCK_VECS}),
    d AS (
      SELECT vec_id, CAST(i AS INTEGER) AS i, emb[i] AS x
      FROM v, unnest(range(1, 17)) AS r(i)
    ),
    pr AS (
      SELECT a.i AS i, b.i AS j, a.x * b.x AS xx, a.x AS xi, b.x AS xj
      FROM d a JOIN d b ON a.vec_id = b.vec_id AND b.i >= a.i
    ),
    covt AS (
      SELECT i, j,
             ROUND((SUM(xx) - SUM(xi) * SUM(xj) / COUNT(*)) / COUNT(*), 6)
               AS cov
      FROM pr GROUP BY i, j
    ),
    covm AS (
      SELECT i, j, CAST(ROUND(cov * 1000000) AS BIGINT) AS c FROM covt
    ),
    sym AS MATERIALIZED (
      SELECT i, j, c FROM covm
      UNION ALL
      SELECT j AS i, i AS j, c FROM covm WHERE i <> j
    ),
    v0 AS (
      SELECT CAST(u.i AS INTEGER) AS j, CAST(1000000 AS BIGINT) AS v
      FROM (SELECT unnest(range(1, 17)) AS i) u
    ){_pca_round('v0', 1)}{_pca_round('v1', 2)}{_pca_round('v2', 3)},
    w4 AS (
      SELECT s.i, CAST(SUM(s.c * v.v) AS BIGINT) AS w
      FROM sym s JOIN v3 v ON v.j = s.j GROUP BY s.i
    ),
    p4 AS (SELECT w AS wp FROM w4 ORDER BY ABS(w) DESC, i LIMIT 1),
    lam AS (
      SELECT ROUND(CAST(wp AS DOUBLE) / 1000000000000.0, 6)
               AS eigenvalue_est
      FROM p4
    )
    SELECT v3.j AS dim,
           ROUND(CAST(v3.v AS DOUBLE) / 1000000.0, 6) AS loading,
           lam.eigenvalue_est
    FROM v3, lam
    """,
)
def q_pca_power_iteration(spark, sf_dir):
    return sim.pca_power_iteration(load_table(spark, sf_dir, "embeddings"))


@register(
    "cv_fold_metrics",
    """
    WITH base AS MATERIALIZED (
      SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                                      || CAST(l_linenumber AS VARCHAR)),
                                  1, 13)) AS BIGINT) % 5 AS fold,
             CAST(l_quantity AS DECIMAL(18,6)) AS x,
             CAST(l_extendedprice AS DECIMAL(18,6)) AS y
      FROM lineitem
    ),
    per_fold AS (
      SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxx
      FROM base GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, SUM(sx) AS tsx,
             SUM(sy) AS tsy, SUM(sxy) AS tsxy, SUM(sxx) AS tsxx
      FROM per_fold
    ),
    models AS MATERIALIZED (
      SELECT fold, CAST(tn - n AS BIGINT) AS n_train,
             ROUND((CAST(tn - n AS DOUBLE) * CAST(tsxy - sxy AS DOUBLE)
                    - CAST(tsx - sx AS DOUBLE) * CAST(tsy - sy AS DOUBLE))
                   / (CAST(tn - n AS DOUBLE) * CAST(tsxx - sxx AS DOUBLE)
                      - CAST(tsx - sx AS DOUBLE)
                        * CAST(tsx - sx AS DOUBLE)), 6) AS slope,
             ROUND((CAST(tsy - sy AS DOUBLE)
                    - slope * CAST(tsx - sx AS DOUBLE))
                   / CAST(tn - n AS DOUBLE), 6) AS intercept
      FROM per_fold, tot
    ),
    scored AS (
      SELECT b.fold, m.n_train, m.slope, m.intercept,
             ABS(CAST(ROUND(CAST(y AS DOUBLE)
                            - (m.intercept
                               + m.slope * CAST(x AS DOUBLE)), 6)
                      AS DECIMAL(18,6))) AS ar,
             CAST(CAST(ROUND(CAST(y AS DOUBLE)
                             - (m.intercept
                                + m.slope * CAST(x AS DOUBLE)), 6)
                       AS DECIMAL(19,6))
                  * CAST(ROUND(CAST(y AS DOUBLE)
                               - (m.intercept
                                  + m.slope * CAST(x AS DOUBLE)), 6)
                         AS DECIMAL(19,6)) AS DECIMAL(28,12)) AS r2
      FROM base b JOIN models m ON m.fold = b.fold
    )
    SELECT fold, n_train, CAST(COUNT(*) AS BIGINT) AS n_test,
           slope, intercept,
           ROUND(CAST(SUM(ar) AS DOUBLE) / COUNT(*), 6) AS mae,
           ROUND(SQRT(CAST(SUM(r2) AS DOUBLE) / COUNT(*)), 6) AS rmse
    FROM scored GROUP BY fold, n_train, slope, intercept
    """,
)
def q_cv_fold_metrics(spark, sf_dir):
    return ml.cv_fold_metrics(load_table(spark, sf_dir, "lineitem"))


@register(
    "conformal_interval",
    """
    WITH base AS MATERIALIZED (
      SELECT l_returnflag,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                                      || CAST(l_linenumber AS VARCHAR)),
                                  1, 13)) AS BIGINT) % 4 AS fold,
             CAST(l_quantity AS DECIMAL(18,6)) AS x,
             CAST(l_extendedprice AS DECIMAL(18,6)) AS y
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
                      AS DECIMAL(38,12))) AS sxx
      FROM base WHERE fold <= 1 GROUP BY 1
    ),
    models AS MATERIALIZED (
      SELECT l_returnflag, n AS n_train,
             ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS slope,
             ROUND((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE), 6) AS intercept
      FROM m
    ),
    calib AS (
      SELECT b.l_returnflag,
             ABS(ROUND(CAST(y AS DOUBLE)
                       - (m.intercept + m.slope * CAST(x AS DOUBLE)), 6))
               AS r
      FROM base b JOIN models m ON m.l_returnflag = b.l_returnflag
      WHERE fold = 2
    ),
    q AS (
      SELECT l_returnflag, quantile_cont(r, 0.9) AS q_resid
      FROM calib GROUP BY 1
    ),
    test AS (
      SELECT b.l_returnflag, m.n_train, m.slope, m.intercept, q.q_resid,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(ROUND(CAST(y AS DOUBLE)
                                          - (m.intercept
                                             + m.slope
                                               * CAST(x AS DOUBLE)), 6))
                             <= q.q_resid
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM base b
      JOIN models m ON m.l_returnflag = b.l_returnflag
      JOIN q ON q.l_returnflag = b.l_returnflag
      WHERE fold = 3
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT l_returnflag, n_train, slope, intercept,
           ROUND(q_resid, 6) AS q90_resid, n_test, n_covered,
           ROUND(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
             AS coverage
    FROM test
    """,
)
def q_conformal_interval(spark, sf_dir):
    return ml.conformal_interval(load_table(spark, sf_dir, "lineitem"))


def _entropy_term(c: str, n: str) -> str:
    """p·ln p with p = c/n as an exact ratio, one 6-dp round, 0·ln 0 = 0
    — the shared entropy-term shape of the stump-split oracle."""
    p = f"(CAST({c} AS DOUBLE) / CAST({n} AS DOUBLE))"
    return (
        f"CASE WHEN {c} = 0 THEN CAST(0 AS DECIMAL(18,6)) "
        f"ELSE CAST(ROUND({p} * LN({p}), 6) AS DECIMAL(18,6)) END"
    )


@register(
    "theil_sen_trend",
    """
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS mo,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT CAST((year(mo) - 1995) * 12 + month(mo) - 1 AS BIGINT) AS x, y
      FROM monthly
    ),
    slopes AS MATERIALIZED (
      SELECT CAST(ROUND(CAST(b.y - a.y AS DOUBLE)
                        / CAST(b.x - a.x AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS s
      FROM idx a JOIN idx b ON a.x < b.x
    ),
    ranked AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM slopes),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM slopes),
    med AS (
      SELECT SUM(CAST(s AS DOUBLE)) / COUNT(*) AS ts_raw
      FROM ranked, np
      WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(18,6))) AS sx,
             SUM(CAST(y AS DECIMAL(18,6))) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6))
                      AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))
                      AS DECIMAL(38,12))) AS sxx
      FROM idx
    )
    SELECT m.n AS n_months, np.np AS n_pairs,
           ROUND(med.ts_raw, 6) AS theil_sen_slope,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS ols_slope
    FROM m, np, med
    """,
)
def q_theil_sen_trend(spark, sf_dir):
    return rel.theil_sen_monthly(load_table(spark, sf_dir, "orders"))


@register(
    "stump_split",
    f"""
    WITH hist AS (
      SELECT o_totalprice AS v,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS c0
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT v,
             CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS l1,
             CAST(SUM(c0) OVER (ORDER BY v) AS BIGINT) AS l0,
             CAST(SUM(c1) OVER () AS BIGINT) AS n1,
             CAST(SUM(c0) OVER () AS BIGINT) AS n0
      FROM hist
    ),
    scored AS (
      SELECT v,
             l1 + l0 AS n_left,
             (n1 + n0) - (l1 + l0) AS n_right,
             l1 AS hi_left,
             n1 - l1 AS hi_right,
             CAST(
               (-({_entropy_term('n1', '(n1 + n0)')}
                  + {_entropy_term('n0', '(n1 + n0)')}))
               - (CAST(ROUND(CAST(l1 + l0 AS DOUBLE)
                             / CAST(n1 + n0 AS DOUBLE), 6)
                       AS DECIMAL(18,6))
                  * (-({_entropy_term('l1', '(l1 + l0)')}
                       + {_entropy_term('l0', '(l1 + l0)')}))
                  + CAST(ROUND(CAST((n1 + n0) - (l1 + l0) AS DOUBLE)
                               / CAST(n1 + n0 AS DOUBLE), 6)
                         AS DECIMAL(18,6))
                    * (-({_entropy_term('(n1 - l1)',
                                        '((n1 + n0) - (l1 + l0))')}
                         + {_entropy_term('(n0 - l0)',
                                          '((n1 + n0) - (l1 + l0))')})))
               AS DECIMAL(28,12)) AS ig_d
      FROM cum
      WHERE (n1 + n0) - (l1 + l0) > 0
    )
    SELECT v AS split_value, n_left, n_right, hi_left, hi_right,
           CAST(ig_d AS DOUBLE) AS info_gain
    FROM scored
    ORDER BY ig_d DESC, v
    LIMIT 1
    """,
)
def q_stump_split(spark, sf_dir):
    return rel.stump_split_priority(load_table(spark, sf_dir, "orders"))


@register(
    "permutation_test",
    """
    WITH base AS MATERIALIZED (
      SELECT o_orderkey,
             o_orderpriority IN ('1-URGENT','2-HIGH') AS is_hi,
             CAST(o_totalprice AS DECIMAL(18,6)) AS p
      FROM orders
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN is_hi THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             SUM(CASE WHEN is_hi THEN p END) AS s1,
             SUM(CASE WHEN NOT is_hi THEN p END) AS s2
      FROM base
    ),
    obs AS MATERIALIZED (
      SELECT n, n1, n - n1 AS n2,
             ROUND(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) / CAST(n - n1 AS DOUBLE), 6)
               AS obs_diff
      FROM stats
    ),
    labeled AS (
      SELECT r.rep, b.p,
             (CAST(('0x' || substr(md5(CAST(b.o_orderkey AS VARCHAR)
                                       || '#'
                                       || CAST(r.rep AS VARCHAR)), 1, 13))
                   AS BIGINT) % o.n) < o.n1 AS g1
      FROM base b, (SELECT unnest(range(1, 65)) AS rep) r, obs o
    ),
    per_rep AS (
      SELECT rep,
             SUM(CASE WHEN g1 THEN p END) AS s1,
             CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             SUM(CASE WHEN NOT g1 THEN p END) AS s2,
             CAST(SUM(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM labeled GROUP BY rep
    ),
    diffs AS (
      SELECT rep,
             ROUND(CAST(s1 AS DOUBLE) / CAST(c1 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) / CAST(c2 AS DOUBLE), 6) AS d
      FROM per_rep
    ),
    extreme AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_reps_done,
             CAST(SUM(CASE WHEN ABS(d) >= ABS(o.obs_diff)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      FROM diffs, obs o
    )
    SELECT o.n1, o.n2, o.obs_diff,
           e.n_reps_done AS n_reps, e.n_extreme,
           ROUND(CAST(e.n_extreme + 1 AS DOUBLE)
                 / CAST(e.n_reps_done + 1 AS DOUBLE), 6) AS p_value
    FROM obs o, extreme e
    """,
)
def q_permutation_test(spark, sf_dir):
    return rel.permutation_test_price(load_table(spark, sf_dir, "orders"))


# Recursive-CTE replay of the α=β=γ=1/2 Holt-Winters recurrence with
# the 7-slot season ring as a LIST column (struct-accumulator
# list_reduce is off-limits — DuckDB v1.0.0 mis-evaluates chained
# struct folds — but recursive CTEs carry lists correctly). Shared by
# holt_winters and its forecast_eval_mase scoreboard.
_DUCK_HW_PREFIX = """
    WITH RECURSIVE g AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type, CAST(d.day AS DATE) AS day
      FROM (SELECT DISTINCT event_type FROM events) t,
           (SELECT unnest(generate_series(CAST(lo AS TIMESTAMP),
                                          CAST(hi AS TIMESTAMP),
                                          INTERVAL 1 DAY)) AS day
            FROM bounds) d
    ),
    series AS MATERIALIZED (
      SELECT gr.event_type, gr.day, COALESCE(g.x, 0.0) AS x,
             CAST(ROW_NUMBER() OVER (PARTITION BY gr.event_type
                                     ORDER BY gr.day) AS BIGINT) AS rn
      FROM grid gr LEFT JOIN g
        ON g.event_type = gr.event_type AND g.day = gr.day
    ),
    first7 AS (
      SELECT event_type, list(x ORDER BY rn) AS ys
      FROM series WHERE rn <= 7 GROUP BY 1
    ),
    rec(event_type, rn, l, b, s) AS (
      -- b must be DOUBLE from step 0: a bare 0.0 types the recursion's
      -- b column DECIMAL(2,1) and silently truncates every later value
      SELECT event_type, CAST(7 AS BIGINT), ys[7], CAST(0.0 AS DOUBLE),
             list_transform(ys, v -> v - ys[7])
      FROM first7
      UNION ALL
      SELECT r.event_type, sr.rn,
             0.5 * (sr.x - r.s[1]) + 0.5 * (r.l + r.b),
             0.5 * ((0.5 * (sr.x - r.s[1]) + 0.5 * (r.l + r.b)) - r.l)
               + 0.5 * r.b,
             list_append(r.s[2:7],
                         0.5 * (sr.x - r.l - r.b) + 0.5 * r.s[1])
      FROM rec r JOIN series sr
        ON sr.event_type = r.event_type AND sr.rn = r.rn + 1
    )"""


@register(
    "holt_winters",
    _DUCK_HW_PREFIX
    + """
    SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day, s.x,
           r.l AS level, r.b AS trend,
           r.s[1] AS season_next,
           r.l + r.b + r.s[1] AS forecast_next
    FROM series s LEFT JOIN rec r
      ON r.event_type = s.event_type AND r.rn = s.rn
    """,
)
def q_holt_winters(spark, sf_dir):
    return rel.holt_winters_daily(load_table(spark, sf_dir, "events"))


@register(
    "forecast_eval_mase",
    _DUCK_HW_PREFIX
    + """,
    scored AS (
      SELECT s.event_type, s.day, s.x,
             LAG(r.l + r.b + r.s[1]) OVER (PARTITION BY s.event_type
                                           ORDER BY s.day) AS f_hw,
             LAG(s.x, 7) OVER (PARTITION BY s.event_type
                               ORDER BY s.day) AS f_naive
      FROM series s LEFT JOIN rec r
        ON r.event_type = s.event_type AND r.rn = s.rn
    ),
    err AS (
      SELECT event_type,
             ABS(CAST(ROUND(x - f_hw, 6) AS DECIMAL(18,6))) AS e_hw,
             ABS(CAST(ROUND(x - f_naive, 6) AS DECIMAL(18,6))) AS e_naive
      FROM scored WHERE f_hw IS NOT NULL AND f_naive IS NOT NULL
    ),
    agg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
             SUM(e_hw) AS s_hw, SUM(e_naive) AS s_naive
      FROM err GROUP BY 1
    )
    SELECT event_type, n_eval,
           ROUND(CAST(s_hw AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
             AS mae_hw,
           ROUND(CAST(s_naive AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
             AS mae_naive,
           ROUND(ROUND(CAST(s_hw AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
                 / NULLIF(ROUND(CAST(s_naive AS DOUBLE)
                                / CAST(n_eval AS DOUBLE), 6), 0), 6)
             AS mase
    FROM agg
    """,
)
def q_forecast_eval_mase(spark, sf_dir):
    return rel.forecast_eval_mase(load_table(spark, sf_dir, "events"))


@register(
    "hit_rate_at_k",
    """
    WITH po AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    tagged AS (
      SELECT l_orderkey, l_partkey,
             CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 13))
                  AS BIGINT) % 5 AS fold
      FROM po
    ),
    train AS MATERIALIZED (SELECT * FROM tagged WHERE fold <= 3),
    test AS MATERIALIZED (SELECT * FROM tagged WHERE fold = 4),
    co AS (
      SELECT a.l_partkey AS i, b.l_partkey AS j,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM train a JOIN train b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    nbrs AS MATERIALIZED (
      SELECT i, j FROM (
        SELECT i, j, ROW_NUMBER() OVER (PARTITION BY i
                                        ORDER BY co DESC, j) AS rn
        FROM co
      ) WHERE rn <= 10
    ),
    held AS MATERIALIZED (
      SELECT l_orderkey, MAX(l_partkey) AS holdout,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM test GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    queries AS (
      SELECT t.l_orderkey, t.l_partkey, h.holdout
      FROM test t JOIN held h ON h.l_orderkey = t.l_orderkey
      WHERE t.l_partkey <> h.holdout
    ),
    hits AS (
      SELECT DISTINCT q.l_orderkey
      FROM queries q JOIN nbrs n
        ON n.i = q.l_partkey AND n.j = q.holdout
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM held) AS n_baskets,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
           ROUND(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                 / CAST((SELECT COUNT(*) FROM held) AS DOUBLE), 6)
             AS hit_rate
    """,
)
def q_hit_rate_at_k(spark, sf_dir):
    return rel.hit_rate_at_k(load_table(spark, sf_dir, "lineitem"))


@register(
    "gap_fill_interp",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             arg_max(CAST(value AS DECIMAL(18,6)), event_id) AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo,
             date_trunc('hour', MAX(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM (SELECT DISTINCT user_id FROM events), bounds
    ),
    j AS (
      SELECT g.user_id, g.hr, h.v
      FROM grid g LEFT JOIN hourly h
        ON h.user_id = g.user_id AND h.hr = g.hr
    ),
    span AS (
      SELECT user_id, hr, v,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
             FIRST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY hr
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM j
    ),
    micro AS (
      SELECT user_id, hr, v, pv, nv,
             CAST(pv * 1000000 AS BIGINT) AS pvu,
             CAST(nv * 1000000 AS BIGINT) AS nvu,
             CAST((epoch(hr) - epoch(ph)) / 3600 AS BIGINT) AS di,
             CAST((epoch(nh) - epoch(ph)) / 3600 AS BIGINT) AS gap
      FROM span
    )
    SELECT user_id, hr, CAST(v AS DOUBLE) AS v_obs,
           CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  CAST(CAST(ROUND(CAST(pvu * (gap - di) + nvu * di
                                       AS DOUBLE)
                                  / CAST(gap AS DOUBLE)) AS BIGINT)
                       AS DOUBLE) / 1000000.0
           END AS v_filled,
           CASE WHEN v IS NOT NULL THEN 'obs'
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
                ELSE 'edge' END AS fill_kind
    FROM micro
    """,
)
def q_gap_fill_interp(spark, sf_dir):
    return rel.gap_fill_interp(load_table(spark, sf_dir, "events"))


@register(
    "quantile_normalize",
    """
    WITH binned AS (
      SELECT source, n_chars,
             ntile(10) OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id) AS bin
      FROM documents
    ),
    per_src AS (
      SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS s
      FROM binned GROUP BY 1, 2
    ),
    src_mean AS (
      SELECT source, bin, n_docs,
             CAST(ROUND(CAST(s AS DOUBLE) / n_docs, 6) AS DECIMAL(18,6))
               AS src_mean_d
      FROM per_src
    )
    SELECT source, bin, n_docs,
           CAST(src_mean_d AS DOUBLE) AS source_mean,
           ROUND(CAST(SUM(src_mean_d) OVER (PARTITION BY bin) AS DOUBLE)
                 / CAST(COUNT(*) OVER (PARTITION BY bin) AS DOUBLE), 6)
             AS ref_mean,
           ROUND(CAST(SUM(src_mean_d) OVER (PARTITION BY bin) AS DOUBLE)
                 / CAST(COUNT(*) OVER (PARTITION BY bin) AS DOUBLE)
                 - CAST(src_mean_d AS DOUBLE), 6) AS shift
    FROM src_mean
    """,
)
def q_quantile_normalize(spark, sf_dir):
    return pl.quantile_normalize_sources(load_table(spark, sf_dir, "documents"))


@register(
    "dq_rule_battery",
    """
    WITH o AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_cust,
             CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS dup_keys,
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                             OR o_orderdate > TIMESTAMP '2030-01-01'
                           THEN 1 ELSE 0 END) AS BIGINT) AS stale_date
      FROM orders
    ),
    li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS li_n,
             CAST(SUM(CASE WHEN l_quantity <= 0 OR l_quantity > 100
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc
      FROM lineitem
    ),
    orph AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS orphans
      FROM lineitem WHERE l_orderkey NOT IN
        (SELECT o_orderkey FROM orders)
    )
    SELECT rule, n_checked, n_violations, n_violations = 0 AS pass
    FROM o, li, orph, LATERAL (
      VALUES ('orders.custkey_not_null', n, null_cust),
             ('orders.totalprice_in_range', n, bad_price),
             ('orders.status_in_domain', n, bad_status),
             ('orders.orderkey_unique', n, dup_keys),
             ('orders.orderdate_fresh', n, stale_date),
             ('lineitem.quantity_in_range', li_n, bad_qty),
             ('lineitem.discount_in_range', li_n, bad_disc),
             ('lineitem.orderkey_fk', li_n, orphans)
    ) AS r(rule, n_checked, n_violations)
    """,
)
def q_dq_rule_battery(spark, sf_dir):
    return pl.dq_rule_battery(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "feature_hashing",
    r"""
    WITH vocab AS (
      SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY 1
    ),
    b AS (
      SELECT CAST(('0x' || substr(md5(term), 1, 13)) AS BIGINT) % 64
               AS bucket,
             term, tf
      FROM vocab
    ),
    top AS (
      SELECT bucket, term AS top_term FROM (
        SELECT bucket, term,
               ROW_NUMBER() OVER (PARTITION BY bucket
                                  ORDER BY tf DESC, term DESC) AS rn
        FROM b
      ) WHERE rn = 1
    )
    SELECT a.bucket, a.n_terms, a.token_mass, top.top_term
    FROM (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(tf) AS BIGINT) AS token_mass
      FROM b GROUP BY 1
    ) a JOIN top USING (bucket)
    """,
)
def q_feature_hashing(spark, sf_dir):
    return ts.feature_hashing(load_table(spark, sf_dir, "documents"))


@register(
    "bm25_topk",
    r"""
    WITH tf AS MATERIALIZED (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    dfx AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    st AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS s_tok
    ),
    q AS (SELECT term, df FROM dfx ORDER BY df DESC, term LIMIT 5),
    per AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               CAST(CAST(ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5)
                                        / (df + 0.5)), 6)
                         AS DECIMAL(18,6)) AS DOUBLE)
               * ((tf * 2.2)
                  / (tf + 1.2 * (0.25 + (0.75 * CAST(dl * n_docs AS DOUBLE))
                                        / CAST(s_tok AS DOUBLE)))), 6)
                  AS DECIMAL(18,6)) AS ts
      FROM tf JOIN q USING (term) JOIN dl USING (doc_id), st
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(ts) AS DOUBLE) AS bm25
    FROM per GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_bm25_topk(spark, sf_dir):
    return ts.bm25_topk(load_table(spark, sf_dir, "documents"))


@register(
    "naive_bayes_langid",
    r"""
    WITH train AS MATERIALIZED (
      SELECT * FROM documents WHERE doc_id % 5 <> 0
    ),
    test AS MATERIALIZED (SELECT * FROM documents WHERE doc_id % 5 = 0),
    model AS MATERIALIZED (
      SELECT lang, w AS term, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT lang,
               unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS w
        FROM train
      ) GROUP BY 1, 2
    ),
    voc AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM model),
    tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t_l FROM model GROUP BY 1),
    dc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM train GROUP BY 1),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM train),
    langs AS MATERIALIZED (
      SELECT dc.lang, t_l, v,
             CAST(ROUND(LN(CAST(n_l AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
                  AS DECIMAL(18,6)) AS prior_lp
      FROM dc JOIN tot ON tot.lang = dc.lang, nt, voc
    ),
    ttf AS MATERIALIZED (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS w
        FROM test
      ) GROUP BY 1, 2
    ),
    contrib AS MATERIALIZED (
      SELECT doc_id, l.lang,
             SUM(tf * CAST(ROUND(LN(CAST(COALESCE(c, 0) + 1 AS DOUBLE)
                                    / CAST(t_l + v AS DOUBLE)), 6)
                           AS DECIMAL(18,6))) AS like_dec
      FROM ttf CROSS JOIN langs l
      LEFT JOIN model m ON m.term = ttf.term AND m.lang = l.lang
      GROUP BY 1, 2
    ),
    scores AS (
      SELECT t.doc_id, t.lang AS true_lang, l.lang,
             prior_lp + COALESCE(like_dec, CAST(0 AS DECIMAL(18,6)))
               AS score
      FROM test t CROSS JOIN langs l
      LEFT JOIN contrib ct ON ct.doc_id = t.doc_id AND ct.lang = l.lang
    ),
    pred AS (
      SELECT doc_id, true_lang, lang AS pred_lang FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, lang) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT true_lang AS lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    """,
)
def q_naive_bayes_langid(spark, sf_dir):
    return ts.naive_bayes_langid(load_table(spark, sf_dir, "documents"))


@register(
    "ks_test",
    """
    WITH freq AS (
      SELECT o_totalprice AS v,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS c2
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT CAST(SUM(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
             CAST(SUM(c2) OVER (ORDER BY v) AS BIGINT) AS cum2,
             CAST(SUM(c1) OVER () AS BIGINT) AS n1,
             CAST(SUM(c2) OVER () AS BIGINT) AS n2
      FROM freq
    ),
    m AS (
      SELECT CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
             MAX(n1) AS n1, MAX(n2) AS n2
      FROM cum
    ),
    d AS (
      SELECT n1, n2, d_num,
             ROUND(CAST(d_num AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS ks_d
      FROM m
    )
    SELECT n1, n2, d_num, ks_d,
           ROUND(2.0 * EXP(-2.0 * ks_d * ks_d
                           * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           / CAST(n1 + n2 AS DOUBLE)), 6) AS p_approx
    FROM d
    """,
)
def q_ks_test(spark, sf_dir):
    return rel.ks_test(load_table(spark, sf_dir, "orders"))


@register(
    "mann_whitney",
    """
    WITH freq AS (
      SELECT o_totalprice AS v,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS c2
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT c1, c2, c1 + c2 AS c,
             CAST(COALESCE(SUM(c1 + c2) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cb
      FROM freq
    ),
    m AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(SUM(c1 * (2 * cb + c + 1)) AS BIGINT) AS r1_x2,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie_sum
      FROM cum
    )
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           ROUND(CAST(r1_x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                 / (2.0 * SQRT(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                               * (CAST(n1 + n2 + 1 AS DOUBLE)
                                  - CAST(tie_sum AS DOUBLE)
                                    / (CAST(n1 + n2 AS DOUBLE)
                                       * CAST(n1 + n2 - 1 AS DOUBLE))))), 6)
             AS z
    FROM m
    """,
)
def q_mann_whitney(spark, sf_dir):
    return rel.mann_whitney_u(load_table(spark, sf_dir, "orders"))


@register(
    "acf_hourly",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    grid AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    filled AS (
      SELECT g.h, COALESCE(x, 0) AS x
      FROM grid g LEFT JOIN hourly USING (h)
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
      FROM filled
    ),
    u AS (SELECT h, n * x - s AS u FROM filled, st),
    lagged AS (
      SELECT u,
             lead(u, 1) OVER (ORDER BY h) AS u1,
             lead(u, 2) OVER (ORDER BY h) AS u2,
             lead(u, 3) OVER (ORDER BY h) AS u3,
             lead(u, 4) OVER (ORDER BY h) AS u4,
             lead(u, 5) OVER (ORDER BY h) AS u5,
             lead(u, 6) OVER (ORDER BY h) AS u6,
             lead(u, 7) OVER (ORDER BY h) AS u7,
             lead(u, 8) OVER (ORDER BY h) AS u8
      FROM u
    ),
    m AS (
      SELECT SUM(u * u) AS den,
             SUM(u * u1) AS n1, SUM(u * u2) AS n2, SUM(u * u3) AS n3,
             SUM(u * u4) AS n4, SUM(u * u5) AS n5, SUM(u * u6) AS n6,
             SUM(u * u7) AS n7, SUM(u * u8) AS n8
      FROM lagged
    )
    SELECT CAST(k AS INTEGER) AS lag,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
    FROM m, (VALUES (1), (2), (3), (4), (5), (6), (7), (8)) AS ks(k),
         LATERAL (SELECT CASE k WHEN 1 THEN n1 WHEN 2 THEN n2 WHEN 3 THEN n3
                                WHEN 4 THEN n4 WHEN 5 THEN n5 WHEN 6 THEN n6
                                WHEN 7 THEN n7 ELSE n8 END AS num) AS pick
    """,
)
def q_acf_hourly(spark, sf_dir):
    return rel.acf_hourly_counts(load_table(spark, sf_dir, "events"))


@register(
    "sprt_conversion",
    """
    WITH flags AS (
      SELECT event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
      FROM events
    ),
    walk AS (
      SELECT event_id,
             CAST(SUM(succ) OVER (ORDER BY event_id) AS BIGINT) AS ns,
             CAST(COUNT(*) OVER (ORDER BY event_id) AS BIGINT) AS nt
      FROM flags
    ),
    walk2 AS (
      SELECT event_id, ns, nt,
             CAST(0.470004 AS DECIMAL(18,6)) * ns
             + CAST(-0.032088 AS DECIMAL(18,6)) * (nt - ns) AS llr
      FROM walk
    ),
    first_cross AS (
      SELECT MIN(event_id) AS decision_event
      FROM walk2
      WHERE llr >= CAST(2.944439 AS DECIMAL(18,6))
         OR llr <= CAST(-2.944439 AS DECIMAL(18,6))
    ),
    last_row AS (SELECT MAX(nt) AS n_total FROM walk2)
    SELECT f.decision_event,
           w.nt AS n_at_decision,
           w.ns AS succ_at_decision,
           CAST(w.llr AS DOUBLE) AS llr_at_decision,
           CASE WHEN w.llr >= CAST(2.944439 AS DECIMAL(18,6))
                  THEN 'accept_h1'
                WHEN w.llr <= CAST(-2.944439 AS DECIMAL(18,6))
                  THEN 'accept_h0'
                ELSE 'no_decision' END AS decision,
           l.n_total
    FROM first_cross f
    LEFT JOIN walk2 w ON w.event_id = f.decision_event, last_row l
    """,
)
def q_sprt_conversion(spark, sf_dir):
    return rel.sprt_conversion(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Registry ordering — verification-first
# ---------------------------------------------------------------------------
# The external correctness gate oracles the first N registry entries in
# iteration order.  Queries whose oracles have not yet been executed by that
# gate lead; the long-green wordcount/join/TPC-H family (pinned by
# tests/test_relational.py and the in-repo full-oracle sweep) trails.



@register(
    "kl_js_sources",
    r"""
    WITH ex AS (
      SELECT (doc_id % 2 = 0) AS is_a,
             unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    counts AS (
      SELECT word,
             CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
      FROM ex GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v_size,
             CAST(SUM(c_a) AS BIGINT) AS n_a,
             CAST(SUM(c_b) AS BIGINT) AS n_b
      FROM counts
    ),
    t AS (SELECT * FROM counts CROSS JOIN tot),
    agg AS (
      SELECT MAX(v_size) AS v_size, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
             SUM(CAST(ROUND(CAST(c_a + 1 AS DOUBLE)
                   * LN(CAST((c_a + 1) * (n_b + v_size) AS DOUBLE)
                        / CAST((c_b + 1) * (n_a + v_size) AS DOUBLE)), 6)
                 AS DECIMAL(28,6))) AS s_ab,
             SUM(CAST(ROUND(CAST(c_b + 1 AS DOUBLE)
                   * LN(CAST((c_b + 1) * (n_a + v_size) AS DOUBLE)
                        / CAST((c_a + 1) * (n_b + v_size) AS DOUBLE)), 6)
                 AS DECIMAL(28,6))) AS s_ba,
             SUM(CAST(ROUND(CAST(c_a + 1 AS DOUBLE)
                   * LN(CAST(2 * (c_a + 1) * (n_b + v_size) AS DOUBLE)
                        / CAST((c_a + 1) * (n_b + v_size)
                               + (c_b + 1) * (n_a + v_size) AS DOUBLE)), 6)
                 AS DECIMAL(28,6))) AS s_am,
             SUM(CAST(ROUND(CAST(c_b + 1 AS DOUBLE)
                   * LN(CAST(2 * (c_b + 1) * (n_a + v_size) AS DOUBLE)
                        / CAST((c_a + 1) * (n_b + v_size)
                               + (c_b + 1) * (n_a + v_size) AS DOUBLE)), 6)
                 AS DECIMAL(28,6))) AS s_bm
      FROM t
    )
    SELECT v_size, n_a, n_b,
           ROUND(CAST(s_ab AS DOUBLE)
                 / CAST(n_a + v_size AS DOUBLE), 6) AS kl_ab,
           ROUND(CAST(s_ba AS DOUBLE)
                 / CAST(n_b + v_size AS DOUBLE), 6) AS kl_ba,
           ROUND(CAST(0.5 AS DOUBLE)
                   * (CAST(s_am AS DOUBLE) / CAST(n_a + v_size AS DOUBLE))
                 + CAST(0.5 AS DOUBLE)
                   * (CAST(s_bm AS DOUBLE) / CAST(n_b + v_size AS DOUBLE)),
                 6) AS js_div
    FROM agg
    """,
)
def q_kl_js_sources(spark, sf_dir):
    return ts.kl_js_divergence(load_table(spark, sf_dir, "documents"))


@register(
    "wilson_ci_types",
    """
    WITH purchasers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    base AS (SELECT DISTINCT event_type, user_id FROM events),
    agg AS (
      SELECT b.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_conv
      FROM base b LEFT JOIN purchasers p USING (user_id)
      GROUP BY 1
    )
    SELECT event_type, n_users, n_conv,
           ROUND(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
             AS conv_rate,
           ROUND(((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
                  + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                    / (CAST(2.0 AS DOUBLE) * CAST(n_users AS DOUBLE))
                  - CAST(1.96 AS DOUBLE)
                    * SQRT((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
                           * (CAST(1.0 AS DOUBLE)
                              - CAST(n_conv AS DOUBLE)
                                / CAST(n_users AS DOUBLE))
                           / CAST(n_users AS DOUBLE)
                           + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                             / (CAST(4.0 AS DOUBLE)
                                * CAST(n_users AS DOUBLE)
                                * CAST(n_users AS DOUBLE))))
                 / (CAST(1.0 AS DOUBLE)
                    + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                      / CAST(n_users AS DOUBLE)), 6) AS wilson_low,
           ROUND(((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
                  + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                    / (CAST(2.0 AS DOUBLE) * CAST(n_users AS DOUBLE))
                  + CAST(1.96 AS DOUBLE)
                    * SQRT((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
                           * (CAST(1.0 AS DOUBLE)
                              - CAST(n_conv AS DOUBLE)
                                / CAST(n_users AS DOUBLE))
                           / CAST(n_users AS DOUBLE)
                           + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                             / (CAST(4.0 AS DOUBLE)
                                * CAST(n_users AS DOUBLE)
                                * CAST(n_users AS DOUBLE))))
                 / (CAST(1.0 AS DOUBLE)
                    + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                      / CAST(n_users AS DOUBLE)), 6) AS wilson_high
    FROM agg
    """,
)
def q_wilson_ci_types(spark, sf_dir):
    return rel.wilson_ci_types(load_table(spark, sf_dir, "events"))


@register(
    "lift_gain_deciles",
    """
    WITH labeled AS (
      SELECT c.c_custkey, c.c_acctbal,
             CASE WHEN o.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS label
      FROM customer c
      LEFT JOIN (SELECT DISTINCT o_custkey AS c_custkey FROM orders) o
        USING (c_custkey)
    ),
    dec AS (
      SELECT NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile,
             label
      FROM labeled
    ),
    agg AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(label) AS BIGINT) AS n_pos
      FROM dec GROUP BY 1
    )
    SELECT decile, n, n_pos,
           ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS response_rate,
           ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                 / CAST(SUM(n_pos) OVER () AS DOUBLE), 6) AS cum_capture,
           ROUND((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(SUM(n_pos) OVER () AS DOUBLE)
                    / CAST(SUM(n) OVER () AS DOUBLE)), 6) AS lift
    FROM agg ORDER BY decile
    """,
)
def q_lift_gain_deciles(spark, sf_dir):
    return rel.lift_gain_deciles(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "order_lines_hist",
    """
    WITH per_order AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    hist AS (
      SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM per_order GROUP BY 1
    )
    SELECT n_lines, n_orders,
           ROUND(CAST(n_orders AS DOUBLE)
                 / CAST(SUM(n_orders) OVER () AS DOUBLE), 6)
             AS order_share,
           ROUND(CAST(n_lines * n_orders AS DOUBLE)
                 / CAST(SUM(n_lines * n_orders) OVER () AS DOUBLE), 6)
             AS line_share,
           ROUND(CAST(SUM(n_orders) OVER (ORDER BY n_lines
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                 / CAST(SUM(n_orders) OVER () AS DOUBLE), 6)
             AS cum_order_share
    FROM hist ORDER BY n_lines
    """,
)
def q_order_lines_hist(spark, sf_dir):
    return rel.order_lines_hist(load_table(spark, sf_dir, "lineitem"))


@register(
    "user_type_entropy",
    """
    WITH ut AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    per_user AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS INTEGER) AS distinct_types,
             SUM(CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)), 6)
                      AS DECIMAL(28,6))) AS s_clnc
      FROM ut GROUP BY 1
    )
    SELECT user_id, n_events, distinct_types,
           ROUND(CAST(CAST(ROUND(LN(CAST(n_events AS DOUBLE)), 6)
                           AS DECIMAL(18,6)) AS DOUBLE)
                 - CAST(s_clnc AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
             AS entropy_nats
    FROM per_user
    """,
)
def q_user_type_entropy(spark, sf_dir):
    return rel.user_type_entropy(load_table(spark, sf_dir, "events"))




@register(
    "ngram_novelty",
    f"""
    WITH g AS ({_DUCK_SHINGLES}),
    ref AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 2 = 0
    ),
    inc AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 2 = 1
    )
    SELECT i.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(CAST(SUM(CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty_rate
    FROM inc i LEFT JOIN ref r USING (gram)
    GROUP BY 1
    """,
)
def q_ngram_novelty(spark, sf_dir):
    return ts.ngram_novelty(load_table(spark, sf_dir, "documents"))


@register(
    "ttr_by_lang",
    r"""
    WITH ex AS (
      SELECT lang,
             unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    t AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types
      FROM ex GROUP BY 1
    ),
    d AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    )
    SELECT lang, n_docs, n_tokens, n_types,
           ROUND(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS ttr,
           ROUND(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
             AS tokens_per_doc
    FROM d JOIN t USING (lang)
    """,
)
def q_ttr_by_lang(spark, sf_dir):
    return ts.ttr_by_lang(load_table(spark, sf_dir, "documents"))


@register(
    "token_coverage_topk",
    r"""
    WITH vocab AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS word
        FROM documents
      ) GROUP BY 1
    ),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rn, c FROM vocab
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v_size,
             CAST(SUM(c) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN rn <= 1 THEN c ELSE 0 END) AS BIGINT)
               AS m1,
             CAST(SUM(CASE WHEN rn <= 10 THEN c ELSE 0 END) AS BIGINT)
               AS m10,
             CAST(SUM(CASE WHEN rn <= 100 THEN c ELSE 0 END) AS BIGINT)
               AS m100,
             CAST(SUM(CASE WHEN rn <= 1000 THEN c ELSE 0 END) AS BIGINT)
               AS m1000
      FROM ranked
    )
    SELECT v_size, total_tokens,
           ROUND(CAST(m1 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
             AS cov_top1,
           ROUND(CAST(m10 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
             AS cov_top10,
           ROUND(CAST(m100 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
             AS cov_top100,
           ROUND(CAST(m1000 AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
             AS cov_top1000
    FROM agg
    """,
)
def q_token_coverage_topk(spark, sf_dir):
    return ts.token_coverage_topk(load_table(spark, sf_dir, "documents"))


@register(
    "dup_rate_by_source",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           ROUND(CAST(1.0 AS DOUBLE)
                 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
    FROM documents GROUP BY 1
    """,
)
def q_dup_rate_by_source(spark, sf_dir):
    return ts.dup_rate_by_source(load_table(spark, sf_dir, "documents"))


@register(
    "weekday_seasonality",
    """
    WITH agg AS (
      SELECT CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT dow, n_orders, CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(n_orders AS DOUBLE)
                 / CAST(SUM(n_orders) OVER () AS DOUBLE), 6)
             AS order_share,
           ROUND(CAST(rev AS DOUBLE)
                 / CAST(SUM(rev) OVER () AS DOUBLE), 6) AS revenue_share,
           ROUND((CAST(n_orders AS DOUBLE)
                  / CAST(SUM(n_orders) OVER () AS DOUBLE))
                 * CAST(7.0 AS DOUBLE), 6) AS traffic_index
    FROM agg ORDER BY dow
    """,
)
def q_weekday_seasonality(spark, sf_dir):
    return rel.weekday_seasonality(load_table(spark, sf_dir, "orders"))


@register(
    "abc_classification",
    """
    WITH per_part AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2))
                    - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem GROUP BY 1
    ),
    walked AS (
      SELECT rev,
             CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(rev) OVER () AS DOUBLE) AS cum_share
      FROM per_part
    ),
    classed AS (
      SELECT rev,
             CASE WHEN cum_share <= 0.80 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM walked
    )
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS class_revenue,
           ROUND(CAST(SUM(rev) AS DOUBLE)
                 / CAST(SUM(SUM(rev)) OVER () AS DOUBLE), 6)
             AS revenue_share
    FROM classed GROUP BY 1 ORDER BY 1
    """,
)
def q_abc_classification(spark, sf_dir):
    return rel.abc_classification(load_table(spark, sf_dir, "lineitem"))


@register(
    "single_source_risk",
    """
    WITH per_ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2))
                    - CAST(l_discount AS DECIMAL(18,2)))) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT l_partkey, l_suppkey,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY rev DESC, l_suppkey) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY l_partkey) AS BIGINT)
               AS n_suppliers,
             SUM(n_lines) OVER (PARTITION BY l_partkey) AS n_lines_tot,
             SUM(rev) OVER (PARTITION BY l_partkey) AS tot_rev,
             rev AS top_rev
      FROM per_ps
    )
    SELECT l_partkey AS p_partkey, n_suppliers,
           CAST(n_lines_tot AS BIGINT) AS n_lines,
           CAST(tot_rev AS DOUBLE) AS revenue,
           l_suppkey AS top_suppkey,
           ROUND(CAST(top_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
             AS top_share
    FROM ranked WHERE rn = 1 AND n_lines_tot >= 5
    ORDER BY CAST(top_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) DESC,
             p_partkey
    LIMIT 20
    """,
)
def q_single_source_risk(spark, sf_dir):
    return rel.single_source_risk(load_table(spark, sf_dir, "lineitem"))


@register(
    "k_anonymity",
    """
    WITH qi AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           MIN(k) AS min_k,
           CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_k_lt_5,
           CAST(SUM(CASE WHEN k < 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_k_lt_10,
           CAST(SUM(k) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(k) AS DOUBLE), 6) AS at_risk_share
    FROM qi
    """,
)
def q_k_anonymity(spark, sf_dir):
    return rel.k_anonymity(load_table(spark, sf_dir, "customer"))


@register(
    "ship_delay_percentiles",
    """
    WITH gaps AS (
      SELECT o_orderpriority,
             date_diff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE)) AS delay_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT o_orderpriority,
           ROUND(quantile_cont(delay_days, 0.5), 6) AS p50_days,
           ROUND(quantile_cont(delay_days, 0.9), 6) AS p90_days,
           ROUND(quantile_cont(delay_days, 0.99), 6) AS p99_days
    FROM gaps GROUP BY 1
    """,
)
def q_ship_delay_percentiles(spark, sf_dir):
    return rel.ship_delay_percentiles(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "repeat_purchase",
    """
    WITH seq AS (
      SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    per_cust AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(price) AS rev,
             SUM(CASE WHEN rn >= 2 THEN price END) AS repeat_rev
      FROM seq GROUP BY 1
    ),
    agg AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS repeat_customers,
             CAST(SUM(n_orders) AS BIGINT) AS n_orders,
             SUM(rev) AS rev,
             SUM(repeat_rev) AS repeat_rev
      FROM per_cust JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    )
    SELECT c_mktsegment, n_customers, repeat_customers,
           ROUND(CAST(repeat_customers AS DOUBLE)
                 / CAST(n_customers AS DOUBLE), 6) AS repeat_rate,
           ROUND(CAST(n_orders AS DOUBLE) / CAST(n_customers AS DOUBLE), 6)
             AS orders_per_customer,
           ROUND(CAST(COALESCE(repeat_rev, 0) AS DOUBLE)
                 / CAST(rev AS DOUBLE), 6) AS repeat_revenue_share
    FROM agg
    """,
)
def q_repeat_purchase(spark, sf_dir):
    return rel.repeat_purchase(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "mg_heavy_hitters",
    r"""
    WITH toks AS MATERIALIZED (
      SELECT unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks)
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks, n
    GROUP BY word, n_total
    HAVING CAST(COUNT(*) AS BIGINT) * 50 > n_total
    """,
)
def q_mg_heavy_hitters(spark, sf_dir):
    return sk.misra_gries_heavy_hitters(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "token_budget_waterfill",
    r"""
    WITH avail AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS avail_tokens
      FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY 1
    ),
    staged AS (
      SELECT source, avail_tokens,
             (SUM(avail_tokens) OVER () * 50) // 100 AS budget,
             COALESCE(SUM(avail_tokens) OVER (
               ORDER BY avail_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + avail_tokens
               * (COUNT(*) OVER ()
                  - ROW_NUMBER() OVER (ORDER BY avail_tokens, source) + 1)
             <= (SUM(avail_tokens) OVER () * 50) // 100 AS saturated
      FROM avail
    ),
    fill AS (
      SELECT source, avail_tokens, budget, saturated,
             COALESCE(SUM(CASE WHEN saturated THEN avail_tokens END)
                      OVER (), 0) AS cum_sat,
             SUM(CASE WHEN saturated THEN 0 ELSE 1 END) OVER () AS n_unsat
      FROM staged
    )
    SELECT source, avail_tokens, saturated,
           ROUND(CASE WHEN saturated THEN CAST(avail_tokens AS DOUBLE)
                      ELSE CAST(budget - cum_sat AS DOUBLE)
                           / CAST(n_unsat AS DOUBLE) END, 6)
             AS alloc_tokens,
           ROUND(CASE WHEN saturated THEN CAST(avail_tokens AS DOUBLE)
                      ELSE CAST(budget - cum_sat AS DOUBLE)
                           / CAST(n_unsat AS DOUBLE) END
                 / CAST(avail_tokens AS DOUBLE), 6) AS epochs
    FROM fill
    """,
)
def q_token_budget_waterfill(spark, sf_dir):
    return pl.token_budget_waterfill(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "decile_migration",
    """
    WITH spend AS (
      SELECT year(o_orderdate) AS yr, o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders
      WHERE year(o_orderdate) IN (1997, 1998)
      GROUP BY 1, 2
    ),
    deciled AS (
      SELECT yr, o_custkey,
             (CAST(ROW_NUMBER() OVER (PARTITION BY yr
                                      ORDER BY spend DESC, o_custkey) - 1
                   AS BIGINT) * 10)
             // COUNT(*) OVER (PARTITION BY yr) + 1 AS decile
      FROM spend
    )
    SELECT a.decile AS decile_from, b.decile AS decile_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM deciled a JOIN deciled b
      ON a.o_custkey = b.o_custkey AND a.yr = 1997 AND b.yr = 1998
    GROUP BY 1, 2
    """,
)
def q_decile_migration(spark, sf_dir):
    return rel.decile_migration(load_table(spark, sf_dir, "orders"))


@register(
    "embedding_quantization",
    """
    WITH base AS MATERIALIZED (
      SELECT vec_id, CAST(u.x AS DOUBLE) AS x
      FROM embeddings, UNNEST(embedding) AS u(x)
    ),
    sc AS (
      SELECT vec_id, MAX(ABS(x)) / 127.0 AS scale
      FROM base GROUP BY 1 HAVING MAX(ABS(x)) / 127.0 > 0
    ),
    q AS (
      SELECT b.vec_id, scale, x,
             FLOOR(x / scale + 0.5) * scale AS deq
      FROM base b JOIN sc USING (vec_id)
    ),
    terms AS (
      SELECT vec_id, scale,
             CAST(ROUND((x - deq) * (x - deq), 14) AS DECIMAL(28,14))
               AS e2,
             CAST(ROUND(x * deq, 12) AS DECIMAL(28,12)) AS xd,
             CAST(ROUND(x * x, 12) AS DECIMAL(28,12)) AS xx,
             CAST(ROUND(deq * deq, 12) AS DECIMAL(28,12)) AS dd
      FROM q
    ),
    agg AS (
      SELECT vec_id, MAX(scale) AS scale,
             CAST(COUNT(*) AS BIGINT) AS n_dims,
             CAST(SUM(e2) AS DOUBLE) AS se2,
             CAST(SUM(xd) AS DOUBLE) AS sxd,
             CAST(SUM(xx) AS DOUBLE) AS sxx,
             CAST(SUM(dd) AS DOUBLE) AS sdd
      FROM terms GROUP BY 1
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           ROUND(se2 / CAST(n_dims AS DOUBLE), 6) AS mse,
           ROUND(sxd / SQRT(sxx * sdd), 6) AS cos_sim
    FROM agg
    """,
)
def q_embedding_quantization(spark, sf_dir):
    return sim.embedding_quantization(
        load_table(spark, sf_dir, "embeddings")
    )


@register(
    "ucb_allocation",
    """
    WITH per_arm AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pulls,
             SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS sv
      FROM events GROUP BY 1
    )
    SELECT event_type, n_pulls,
           ROUND(CAST(sv AS DOUBLE) / CAST(n_pulls AS DOUBLE), 6)
             AS mean_reward,
           ROUND(CAST(sv AS DOUBLE) / CAST(n_pulls AS DOUBLE)
                 + SQRT(2.0 * ROUND(LN(CAST(SUM(n_pulls) OVER ()
                                             AS DOUBLE)), 6)
                        / CAST(n_pulls AS DOUBLE)), 6) AS ucb_score
    FROM per_arm
    """,
)
def q_ucb_allocation(spark, sf_dir):
    return rel.ucb_allocation(load_table(spark, sf_dir, "events"))


@register(
    "hapax_rate",
    r"""
    WITH freq AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS word
        FROM documents
      ) GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
    FROM freq GROUP BY 1
    """,
)
def q_hapax_rate(spark, sf_dir):
    return ts.hapax_rate(load_table(spark, sf_dir, "documents"))


@register(
    "class_separability",
    """
    WITH base AS MATERIALIZED (
      SELECT label, CAST(d AS INTEGER) - 1 AS d,
             CAST(embedding[d] AS DOUBLE) AS x
      FROM embeddings, unnest(range(1, 65)) AS r(d)
    ),
    per AS (
      SELECT label, d, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(28,12))) AS DOUBLE)
               AS sx,
             CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(28,12)))
                  AS DOUBLE) AS sxx
      FROM base GROUP BY 1, 2
    ),
    stats AS (
      SELECT label, d, sx / CAST(n AS DOUBLE) AS mean,
             sxx / CAST(n AS DOUBLE)
             - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)) AS var
      FROM per
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(CAST(ROUND((a.mean - b.mean) * (a.mean - b.mean),
                                 12) AS DECIMAL(28,12))) AS DOUBLE)
               AS dist2,
             CAST(SUM(CAST(ROUND(a.var + b.var, 12) AS DECIMAL(28,12)))
                  AS DOUBLE) AS within
      FROM stats a JOIN stats b ON a.d = b.d AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT label_a, label_b,
           ROUND(dist2, 6) AS centroid_dist2,
           ROUND(dist2 / within, 6) AS fisher_ratio
    FROM pairs
    """,
)
def q_class_separability(spark, sf_dir):
    return ml.class_separability(load_table(spark, sf_dir, "embeddings"))


@register(
    "int8_recall",
    """
    WITH v AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, emb,
             list_reduce(list_transform(emb, x -> abs(x)),
                         (a, x) -> greatest(a, x)) / 127.0 AS scale
      FROM v
    ),
    cn AS MATERIALIZED (
      SELECT vec_id AS c, emb AS xc,
             list_transform(emb, x -> floor(x / scale + 0.5) * scale)
               AS qc,
             sqrt(list_reduce(list_transform(emb, x -> x * x),
                              (acc, x) -> acc + x)) AS nf
      FROM sc WHERE scale > 0
    ),
    cn2 AS MATERIALIZED (
      SELECT c, xc, qc, nf,
             sqrt(list_reduce(list_transform(qc, x -> x * x),
                              (acc, x) -> acc + x)) AS n8
      FROM cn
    ),
    queries AS (
      SELECT vec_id AS q, emb AS xq FROM v WHERE vec_id % 25 = 0
    ),
    scored AS MATERIALIZED (
      SELECT q, c,
             list_reduce(list_transform(range(1, len(xq) + 1),
                                        i -> xq[i] * xc[i]),
                         (acc, x) -> acc + x) / nf AS sf,
             list_reduce(list_transform(range(1, len(xq) + 1),
                                        i -> xq[i] * qc[i]),
                         (acc, x) -> acc + x) / n8 AS s8
      FROM queries JOIN cn2 ON q <> c
    ),
    ranked AS (
      SELECT q, c,
             ROW_NUMBER() OVER (PARTITION BY q
                                ORDER BY sf DESC, c) AS rf,
             ROW_NUMBER() OVER (PARTITION BY q
                                ORDER BY s8 DESC, c) AS r8
      FROM scored
    ),
    hits AS (
      SELECT q, CAST(SUM(CASE WHEN rf <= 10 AND r8 <= 10 THEN 1 ELSE 0
                         END) AS BIGINT) AS hit
      FROM ranked GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(CAST(SUM(hit) AS DOUBLE)
                 / CAST(COUNT(*) * 10 AS DOUBLE), 6) AS mean_recall_at_k,
           ROUND(CAST(MIN(hit) AS DOUBLE) / 10.0, 6) AS min_recall_at_k
    FROM hits
    """,
)
def q_int8_recall(spark, sf_dir):
    return sim.int8_recall(load_table(spark, sf_dir, "embeddings"))



_HLL_REGS_2TYPE = f"""
    h AS (
      SELECT event_type, user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS x
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    r AS (
      SELECT event_type, x >> {_HLL_W} AS idx,
             CASE WHEN (x & {_HLL_MASK}) = 0 THEN {_HLL_W + 1}
                  ELSE {_HLL_W + 1} - length(bin(x & {_HLL_MASK})) END
               AS rho
      FROM h
    ),
    regs AS (
      SELECT event_type, idx, MAX(rho) AS M FROM r GROUP BY 1, 2
    )
"""

_HLL_EST_EXPR = (
    f"CASE WHEN raw <= {2.5 * _HLL_M!r} AND ({_HLL_M} - v_set) > 0"
    f" THEN {float(_HLL_M)!r}"
    f" * ln({float(_HLL_M)!r} / CAST({_HLL_M} - v_set AS DOUBLE))"
    f" ELSE raw END"
)


def _hll_est_cte(name, src_sql):
    return f"""
    {name}_agg AS (
      SELECT COUNT(*) AS v_set, SUM(pow(2.0, -M)) AS z_set FROM {src_sql}
    ),
    {name} AS (
      SELECT round({_HLL_EST_EXPR}, 6) AS {name}_val FROM (
        SELECT v_set,
               {_HLL_ALPHA_M2!r}
               / (z_set + CAST({_HLL_M} - v_set AS DOUBLE)) AS raw
        FROM {name}_agg
      )
    )
    """


@register(
    "hll_set_ops",
    f"""
    WITH {_HLL_REGS_2TYPE},
    ru AS (SELECT idx, MAX(M) AS M FROM regs GROUP BY 1),
    {_hll_est_cte("ea", "(SELECT M FROM regs WHERE event_type = 'view')")},
    {_hll_est_cte("eb",
                  "(SELECT M FROM regs WHERE event_type = 'purchase')")},
    {_hll_est_cte("eu", "ru")},
    flags AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ha,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS hb
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY 1
    ),
    exact AS (
      SELECT CAST(SUM(ha) AS BIGINT) AS exact_a,
             CAST(SUM(hb) AS BIGINT) AS exact_b,
             CAST(SUM(ha * hb) AS BIGINT) AS exact_intersect
      FROM flags
    )
    SELECT exact_a, exact_b, exact_intersect,
           ea_val AS est_a, eb_val AS est_b, eu_val AS est_union,
           ROUND(ea_val + eb_val - eu_val, 6) AS est_intersect,
           ROUND((ea_val + eb_val - eu_val
                  - CAST(exact_intersect AS DOUBLE))
                 / CAST(exact_intersect AS DOUBLE), 6)
             AS rel_err_intersect
    FROM exact, ea, eb, eu
    """,
)
def q_hll_set_ops(spark, sf_dir):
    return sk.hll_set_ops(load_table(spark, sf_dir, "events"))


@register(
    "return_rate_by_brand",
    """
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS return_rate,
           ROUND(CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN
                      CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l_discount AS DECIMAL(18,2))) END), 0)
                      AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2))
                               - CAST(l_discount AS DECIMAL(18,2))))
                        AS DOUBLE), 6) AS returned_revenue_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q_return_rate_by_brand(spark, sf_dir):
    return rel.return_rate_by_brand(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "segment_spend_outliers",
    """
    WITH per_cust AS (
      SELECT c_mktsegment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sp
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment, o_custkey
    ),
    q AS (
      SELECT c_mktsegment,
             quantile_cont(sp, 0.25) AS q1,
             quantile_cont(sp, 0.75) AS q3
      FROM per_cust GROUP BY 1
    )
    SELECT p.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(MAX(q.q1), 6) AS q1,
           ROUND(MAX(q.q3), 6) AS q3,
           CAST(SUM(CASE WHEN p.sp > q.q3 + 1.5 * (q.q3 - q.q1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MAX(p.sp), 6) AS top_spend
    FROM per_cust p JOIN q USING (c_mktsegment)
    GROUP BY 1
    """,
)
def q_segment_spend_outliers(spark, sf_dir):
    return rel.segment_spend_outliers(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "discount_curve",
    """
    WITH agg AS (
      SELECT CAST(ROUND(l_discount * 100, 0) AS INTEGER) AS discount_pct,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2))
                    - CAST(l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem GROUP BY 1
    )
    SELECT discount_pct, n_lines,
           ROUND(CAST(sq AS DOUBLE) / CAST(n_lines AS DOUBLE), 6)
             AS avg_qty,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE),
                 6) AS revenue_share
    FROM agg ORDER BY discount_pct
    """,
)
def q_discount_curve(spark, sf_dir):
    return rel.discount_curve(load_table(spark, sf_dir, "lineitem"))


@register(
    "sla_trend",
    """
    SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                        CAST(l_shipdate AS DATE)) <= 30
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_within,
           ROUND(CAST(SUM(CASE WHEN date_diff('day',
                                CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) <= 30
                    THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS within_30d_share
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
)
def q_sla_trend(spark, sf_dir):
    return rel.sla_trend(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "duplicate_orders",
    """
    SELECT o_custkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_amount,
           MIN(o_orderkey) AS first_orderkey,
           MAX(o_orderkey) AS last_orderkey
    FROM orders
    GROUP BY o_custkey, o_orderdate
    HAVING COUNT(*) > 1
    """,
)
def q_duplicate_orders(spark, sf_dir):
    return rel.duplicate_orders(load_table(spark, sf_dir, "orders"))


@register(
    "session_type_lift",
    """
    WITH sec AS (
      SELECT user_id, event_type, ts, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, ts, event_id, s,
             CASE WHEN LAG(s) OVER w IS NULL
                       OR s - LAG(s) OVER w > 1800 THEN 1 ELSE 0 END
               AS new_sess
      FROM sec
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             SUM(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_seq
      FROM flagged
    ),
    st AS MATERIALIZED (
      SELECT DISTINCT user_id, session_seq, event_type FROM sess
    ),
    n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
      FROM (SELECT DISTINCT user_id, session_seq FROM st)
    ),
    singles AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_a
      FROM st GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_seq = b.session_seq
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_both,
           ROUND(CAST(n_both AS DOUBLE) / CAST(n_sessions AS DOUBLE), 6)
             AS support,
           ROUND(CAST(n_both AS DOUBLE) * CAST(n_sessions AS DOUBLE)
                 / (CAST(sa.n_a AS DOUBLE) * CAST(sb.n_a AS DOUBLE)), 6)
             AS lift
    FROM pairs
    JOIN singles sa ON sa.event_type = type_a
    JOIN singles sb ON sb.event_type = type_b
    CROSS JOIN n
    """,
)
def q_session_type_lift(spark, sf_dir):
    return rel.session_type_lift(load_table(spark, sf_dir, "events"))


@register(
    "token_drift_movers",
    r"""
    WITH ex AS (
      SELECT doc_id % 2 = 0 AS is_ref,
             unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    per_word AS (
      SELECT word,
             CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_ref,
             CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
               AS cnt_new
      FROM ex GROUP BY 1
    ),
    staged AS (
      SELECT word, cnt_ref, cnt_new,
             CAST(cnt_ref AS DOUBLE)
             / CAST(SUM(cnt_ref) OVER () AS DOUBLE) AS sr,
             CAST(cnt_new AS DOUBLE)
             / CAST(SUM(cnt_new) OVER () AS DOUBLE) AS sn
      FROM per_word
    )
    SELECT word, cnt_ref, cnt_new,
           ROUND(sr, 6) AS share_ref,
           ROUND(sn, 6) AS share_new,
           ROUND(sn - sr, 6) AS share_delta
    FROM staged
    WHERE cnt_ref + cnt_new >= 50
    ORDER BY ABS(sn - sr) DESC, word
    LIMIT 20
    """,
)
def q_token_drift_movers(spark, sf_dir):
    return ts.token_drift_movers(load_table(spark, sf_dir, "documents"))


@register(
    "triplet_margin",
    """
    WITH v AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    n AS MATERIALIZED (
      SELECT vec_id, label,
             list_transform(emb, x -> x / nrm) AS ne
      FROM (
        SELECT vec_id, label, emb,
               sqrt(list_reduce(list_transform(emb, y -> y * y),
                                (acc, x) -> acc + x)) AS nrm
        FROM v
      ) WHERE nrm > 0
    ),
    terms AS (
      SELECT a.vec_id AS a, a.label AS la,
             a.label = c.label AS same,
             CAST(ROUND(list_reduce(
                    list_transform(range(1, len(a.ne) + 1),
                                   i -> a.ne[i] * c.ne[i]),
                    (acc, x) -> acc + x), 12) AS DECIMAL(28,12)) AS cq
      FROM n a JOIN n c ON a.vec_id <> c.vec_id
      WHERE a.vec_id % 10 = 0
    ),
    per_anchor AS (
      SELECT a, la,
             SUM(CASE WHEN same THEN cq END) AS sp,
             CAST(SUM(CASE WHEN same THEN 1 ELSE 0 END) AS BIGINT) AS np,
             SUM(CASE WHEN NOT same THEN cq END) AS sn,
             CAST(SUM(CASE WHEN NOT same THEN 1 ELSE 0 END) AS BIGINT)
               AS nn
      FROM terms GROUP BY 1, 2
      HAVING CAST(SUM(CASE WHEN same THEN 1 ELSE 0 END) AS BIGINT) > 0
         AND CAST(SUM(CASE WHEN NOT same THEN 1 ELSE 0 END) AS BIGINT) > 0
    ),
    staged AS (
      SELECT la,
             CAST(ROUND(CAST(sp AS DOUBLE) / CAST(np AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS pq,
             CAST(ROUND(CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS nq,
             CAST(ROUND(CAST(sp AS DOUBLE) / CAST(np AS DOUBLE)
                        - CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS mq
      FROM per_anchor
    )
    SELECT la AS label,
           CAST(COUNT(*) AS BIGINT) AS n_anchors,
           ROUND(CAST(SUM(pq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_pos_cos,
           ROUND(CAST(SUM(nq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_neg_cos,
           ROUND(CAST(SUM(mq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_margin
    FROM staged GROUP BY 1
    """,
)
def q_triplet_margin(spark, sf_dir):
    return ml.triplet_margin(load_table(spark, sf_dir, "embeddings"))


@register(
    "chisq_uniform_props",
    """
    WITH buckets AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS o FROM (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                 AS b
        FROM events
      ) WHERE b IS NOT NULL GROUP BY 1
    ),
    staged AS (
      SELECT o,
             CAST(ROUND((CAST(o AS DOUBLE) - SUM(o) OVER () / 10.0)
                        * (CAST(o AS DOUBLE) - SUM(o) OVER () / 10.0)
                        / (SUM(o) OVER () / 10.0), 10)
                  AS DECIMAL(28,10)) AS tq
      FROM buckets
    )
    SELECT CAST(SUM(o) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(CAST(SUM(tq) AS DOUBLE), 6) AS chi2,
           CAST(SUM(tq) AS DOUBLE) > 16.919 AS reject_uniform_5pct
    FROM staged
    """,
)
def q_chisq_uniform_props(spark, sf_dir):
    return rel.chisq_uniform_props(load_table(spark, sf_dir, "events"))


@register(
    "shapley_attribution",
    """
    WITH ch AS (
      SELECT channel,
             CAST(ROW_NUMBER() OVER (ORDER BY channel) - 1 AS BIGINT) AS idx
      FROM (SELECT DISTINCT event_type AS channel FROM events
            WHERE event_type <> 'purchase')
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ch),
    touched AS (
      SELECT user_id,
             CAST(SUM(DISTINCT (CAST(1 AS BIGINT) << idx)) AS BIGINT) AS mask
      FROM events e JOIN ch ON e.event_type = ch.channel
      GROUP BY user_id
    ),
    users AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    ms AS (
      SELECT COALESCE(t.mask, 0) AS mask,
             CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(u.converted) AS BIGINT) AS c
      FROM users u LEFT JOIN touched t USING (user_id)
      GROUP BY 1
    ),
    allm AS (
      -- range() rejects lateral column bounds: fixed 256-row span
      -- filtered down to the true 2^n lattice. The n <= 8 assumption
      -- fails LOUDLY (error()) instead of silently truncating the
      -- lattice into an opaque hash mismatch if the events fixture
      -- ever grows more non-purchase event types.
      SELECT CAST(r.m AS BIGINT) AS mask
      FROM range(0, 256) AS r(m), nn
      WHERE r.m < CAST(POW(2, CASE WHEN nn.n <= 8 THEN nn.n
                 ELSE CAST(error('shapley_attribution oracle: fixed '
                                 || '256-row lattice supports <= 8 '
                                 || 'channels, got ' || nn.n)
                           AS BIGINT) END) AS BIGINT)
    ),
    v AS (
      SELECT a.mask,
             CAST(COALESCE(ms.c, 0) AS BIGINT) AS c,
             CAST(COALESCE(ms.t, 1) AS BIGINT) AS t
      FROM allm a LEFT JOIN ms USING (mask)
    ),
    terms AS (
      SELECT ch.channel,
             CAST(ROUND(
               CAST(factorial(CAST(bit_count(s.mask) AS INTEGER))
                    * factorial(CAST(nn.n - 1 - bit_count(s.mask) AS INTEGER))
                    * (si.c * s.t - s.c * si.t) AS DOUBLE)
               / CAST(factorial(CAST(nn.n AS INTEGER)) * si.t * s.t
                      AS DOUBLE),
               9) AS DECIMAL(20,9)) AS term
      FROM ch, nn, v s, v si
      WHERE ((s.mask >> ch.idx) & 1) = 0
        AND si.mask = s.mask + (CAST(1 AS BIGINT) << ch.idx)
    )
    SELECT channel, ROUND(CAST(SUM(term) AS DOUBLE), 6) AS shapley_credit
    FROM terms GROUP BY channel
    """,
)
def q_shapley_attribution(spark, sf_dir):
    return rel.shapley_attribution(load_table(spark, sf_dir, "events"))


def _lgd_round(prev: str, k: int) -> str:
    """One hard-sigmoid GD round, mirroring mleval.logistic_gd step for
    step: exact BIGINT mat-vec in micro-units, one IEEE division for the
    sigmoid and one for the mean-gradient update."""
    su = (
        "LEAST(CAST(1000000 AS BIGINT), GREATEST(CAST(0 AS BIGINT), "
        "CAST(ROUND((w.w0*x0u + w.w1*x1u + w.w2*x2u) / 4000000.0 "
        "+ 500000.0) AS BIGINT)))"
    )
    return f""",
    g{k} AS (
      SELECT CAST(SUM((su - yu) * x0u) AS BIGINT) AS g0,
             CAST(SUM((su - yu) * x1u) AS BIGINT) AS g1,
             CAST(SUM((su - yu) * x2u) AS BIGINT) AS g2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT yu, x0u, x1u, x2u, {su} AS su FROM lgd_feat, {prev} w)
    ),
    w{k} AS (
      SELECT CAST(w.w0 - ROUND(g.g0 / (g.n * 1000000.0)) AS BIGINT) AS w0,
             CAST(w.w1 - ROUND(g.g1 / (g.n * 1000000.0)) AS BIGINT) AS w1,
             CAST(w.w2 - ROUND(g.g2 / (g.n * 1000000.0)) AS BIGINT) AS w2
      FROM {prev} w, g{k} g
    )"""


@register(
    "logistic_gd",
    f"""
    WITH lgd_feat AS (
      SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1000000 ELSE 0 END
                  AS BIGINT) AS yu,
             CAST(1000000 AS BIGINT) AS x0u,
             CAST(ROUND(o_totalprice * 5.0) AS BIGINT) AS x1u,
             CAST(substring(o_orderpriority, 1, 1) AS BIGINT) * 200000
               AS x2u
      FROM orders
    ),
    w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                  CAST(0 AS BIGINT) AS w2)
    {_lgd_round('w0', 1)}{_lgd_round('w1', 2)}{_lgd_round('w2', 3)}
    {_lgd_round('w3', 4)},
    fit AS (
      SELECT yu, w.w0, w.w1, w.w2,
             w.w0*x0u + w.w1*x1u + w.w2*x2u AS z12
      FROM lgd_feat, w4 w
    )
    SELECT ROUND(w0 / 1000000.0, 6) AS w_intercept,
           ROUND(w1 / 1000000.0, 6) AS w_price,
           ROUND(w2 / 1000000.0, 6) AS w_priority,
           ROUND(SUM(CASE WHEN (z12 > 0) = (yu = 1000000) THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS train_accuracy,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM fit GROUP BY w0, w1, w2
    """,
)
def q_logistic_gd(spark, sf_dir):
    return ml.logistic_gd(load_table(spark, sf_dir, "orders"))


@register(
    "ols_normal_equations",
    f"""
    WITH per_order AS (
      SELECT x1, x2, o_totalprice AS y
      FROM orders o
      JOIN (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS x1,
               CAST(SUM(l_quantity) AS BIGINT) AS x2
        FROM lineitem GROUP BY l_orderkey
      ) l ON o.o_orderkey = l.l_orderkey
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n1,
             CAST(SUM(x1) AS DOUBLE) AS s1,
             CAST(SUM(x2) AS DOUBLE) AS s2,
             CAST(SUM(x1*x1) AS DOUBLE) AS s11,
             CAST(SUM(x1*x2) AS DOUBLE) AS s12,
             CAST(SUM(x2*x2) AS DOUBLE) AS s22,
             CAST(SUM(CAST(ROUND(y, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(x1*y, 4) AS DECIMAL(28,4))) AS DOUBLE)
               AS s1y,
             CAST(SUM(CAST(ROUND(x2*y, 4) AS DECIMAL(28,4))) AS DOUBLE)
               AS s2y
      FROM per_order
    ),
    coefs AS (
      SELECT ROUND({ml.OLS_DET0} / {ml.OLS_DET}, 6) AS beta0,
             ROUND({ml.OLS_DET1} / {ml.OLS_DET}, 6) AS beta_lines,
             ROUND({ml.OLS_DET2} / {ml.OLS_DET}, 6) AS beta_qty,
             sy / n1 AS ybar,
             CAST(n1 AS BIGINT) AS n
      FROM sums
    ),
    fit AS (
      SELECT beta0, beta_lines, beta_qty, n,
             CAST(ROUND(
               (y - ((beta0 + beta_lines * CAST(x1 AS DOUBLE))
                     + beta_qty * CAST(x2 AS DOUBLE)))
               * (y - ((beta0 + beta_lines * CAST(x1 AS DOUBLE))
                       + beta_qty * CAST(x2 AS DOUBLE))), 4)
                  AS DECIMAL(28,4)) AS se,
             CAST(ROUND((y - ybar) * (y - ybar), 4) AS DECIMAL(28,4)) AS st
      FROM per_order, coefs
    )
    SELECT beta0, beta_lines, beta_qty,
           ROUND(1.0 - CAST(SUM(se) AS DOUBLE) / CAST(SUM(st) AS DOUBLE), 6)
             AS r2,
           n
    FROM fit GROUP BY beta0, beta_lines, beta_qty, n
    """,
)
def q_ols_normal_equations(spark, sf_dir):
    return ml.ols_normal_equations(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "boilerplate_ngrams",
    r"""
    WITH tk AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM tk WHERE len(toks) >= 2
    ),
    ps AS (
      SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM g GROUP BY 1
    ),
    dfc AS (
      SELECT source, gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM g GROUP BY 1, 2
    ),
    boiler AS (
      SELECT dfc.source, gram
      FROM dfc JOIN ps USING (source)
      WHERE n_docs >= 5
        AND CAST(df AS DOUBLE) >= 0.25 * CAST(n_docs AS DOUBLE)
    ),
    per_doc AS (
      SELECT g.source, g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM g LEFT JOIN boiler b
        ON g.source = b.source AND g.gram = b.gram
      GROUP BY 1, 2
    ),
    sh AS (
      SELECT source,
             CAST(ROUND(CAST(n_b AS DOUBLE) / CAST(n_pos AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS share
      FROM per_doc
    ),
    nb AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_boiler_grams
      FROM boiler GROUP BY 1
    ),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             ROUND(CAST(SUM(share) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS avg_boiler_share
      FROM sh GROUP BY 1
    )
    SELECT a.source, a.n_docs,
           CAST(COALESCE(nb.n_boiler_grams, 0) AS BIGINT) AS n_boiler_grams,
           a.avg_boiler_share
    FROM agg a LEFT JOIN nb USING (source)
    """,
)
def q_boilerplate_ngrams(spark, sf_dir):
    return ts.boilerplate_ngrams(load_table(spark, sf_dir, "documents"))


@register(
    "minute_dedup_events",
    """
    SELECT DISTINCT user_id, event_type,
           strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute
    FROM events
    """,
)
def q_minute_dedup_events(spark, sf_dir):
    return sw.minute_deduped_events(load_table(spark, sf_dir, "events"))


@register(
    "silhouette_by_label",
    f"""
    WITH v AS ({_DUCK_VECS}),
    cents AS (
      SELECT label, CAST(r.i AS INTEGER) AS i,
             CAST(SUM(CAST(ROUND(emb[i], 9) AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS c
      FROM v, range(1, 65) AS r(i)
      GROUP BY 1, 2
    ),
    centl AS (
      SELECT label AS clabel, list(c ORDER BY i) AS cl FROM cents GROUP BY 1
    ),
    d AS (
      SELECT v.vec_id, v.label AS vlabel, ct.clabel,
             sqrt(list_reduce(
               list_transform(range(1, 65),
                              i -> (emb[i] - cl[i]) * (emb[i] - cl[i])),
               (acc, x) -> acc + x)) AS dist
      FROM v, centl ct
    ),
    ab AS (
      SELECT vec_id, vlabel,
             MAX(CASE WHEN clabel = vlabel THEN dist END) AS a,
             MIN(CASE WHEN clabel <> vlabel THEN dist END) AS b
      FROM d GROUP BY 1, 2
    ),
    s AS (
      SELECT vlabel AS label,
             CAST(ROUND((b - a) / NULLIF(GREATEST(a, b), 0.0), 6)
                  AS DECIMAL(18,6)) AS s
      FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_silhouette
    FROM s GROUP BY label
    """,
)
def q_silhouette_by_label(spark, sf_dir):
    return ml.silhouette_by_label(load_table(spark, sf_dir, "embeddings"))


@register(
    "davies_bouldin",
    f"""
    WITH v AS ({_DUCK_VECS}),
    cents AS (
      SELECT label, CAST(r.i AS INTEGER) AS i,
             CAST(SUM(CAST(ROUND(emb[i], 9) AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS c
      FROM v, range(1, 65) AS r(i)
      GROUP BY 1, 2
    ),
    centl AS (
      SELECT label AS clabel, list(c ORDER BY i) AS cl FROM cents GROUP BY 1
    ),
    own AS (
      SELECT v.label,
             CAST(ROUND(sqrt(list_reduce(
               list_transform(range(1, 65),
                              i -> (emb[i] - cl[i]) * (emb[i] - cl[i])),
               (acc, x) -> acc + x)), 6) AS DECIMAL(18,6)) AS d
      FROM v JOIN centl ct ON v.label = ct.clabel
    ),
    scatter AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS s
      FROM own GROUP BY 1
    ),
    r AS (
      SELECT a.label AS li, a.n AS n_i, a.s AS s_i,
             ROUND((a.s + b.s) / sqrt(list_reduce(
               list_transform(range(1, 65),
                              i -> (ca.cl[i] - cb.cl[i])
                                   * (ca.cl[i] - cb.cl[i])),
               (acc, x) -> acc + x)), 6) AS r
      FROM scatter a, scatter b, centl ca, centl cb
      WHERE a.label <> b.label
        AND ca.clabel = a.label AND cb.clabel = b.label
    )
    SELECT li AS label, MAX(n_i) AS n, ROUND(MAX(s_i), 6) AS scatter,
           MAX(r) AS db_component
    FROM r GROUP BY li
    """,
)
def q_davies_bouldin(spark, sf_dir):
    return ml.davies_bouldin(load_table(spark, sf_dir, "embeddings"))


@register(
    "trigram_lm",
    r"""
    WITH tk AS (
      SELECT list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    pos3 AS (
      SELECT toks, unnest(range(1, len(toks) - 1)) AS i
      FROM tk WHERE len(toks) >= 3
    ),
    tri AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3 FROM pos3
    ),
    pos2 AS (
      SELECT toks, unnest(range(1, len(toks))) AS i
      FROM tk WHERE len(toks) >= 2
    ),
    big AS (SELECT toks[i] AS w2, toks[i+1] AS w3 FROM pos2),
    unig AS (SELECT unnest(toks) AS w3 FROM tk),
    c3 AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tri GROUP BY ALL
    ),
    c3x AS (
      SELECT *, CAST(SUM(cnt) OVER (PARTITION BY w1, w2) AS BIGINT) AS ctx3
      FROM c3
    ),
    c2 AS (
      SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cnt2
      FROM big GROUP BY ALL
    ),
    c2x AS (
      SELECT *, CAST(SUM(cnt2) OVER (PARTITION BY w2) AS BIGINT) AS ctx2
      FROM c2
    ),
    c1 AS (
      SELECT w3, CAST(COUNT(*) AS BIGINT) AS cnt1 FROM unig GROUP BY ALL
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM unig)
    SELECT w1, w2, w3, cnt,
           ROUND(0.6 * (CAST(cnt AS DOUBLE) / CAST(ctx3 AS DOUBLE))
                 + 0.3 * (CAST(cnt2 AS DOUBLE) / CAST(ctx2 AS DOUBLE))
                 + 0.1 * (CAST(cnt1 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             AS interp_p
    FROM c3x JOIN c2x USING (w2, w3) JOIN c1 USING (w3), nn
    """,
)
def q_trigram_lm(spark, sf_dir):
    return ts.trigram_lm(load_table(spark, sf_dir, "documents"))


def _gbs_round(k: int) -> str:
    """One boosted-stump round, mirroring mleval.gbm_stumps step for
    step — melt, per-value residual stats, cumulative split grid, pick
    via the shared GBS_* expression trees, apply the stump."""
    return f""",
    m{k} AS (
      SELECT f, v, CAST(COUNT(*) AS BIGINT) AS nv,
             SUM(CAST(ROUND(y - fm, 4) AS DECIMAL(28,4))) AS sv
      FROM (
        SELECT 'x1' AS f, CAST(x1 AS DOUBLE) AS v, y, fm FROM po{k - 1}
        UNION ALL
        SELECT 'x2' AS f, CAST(x2 AS DOUBLE) AS v, y, fm FROM po{k - 1}
      ) GROUP BY f, v
    ),
    c{k} AS (
      SELECT f, v,
             CAST(SUM(nv) OVER w AS BIGINT) AS nl,
             CAST(SUM(sv) OVER w AS DECIMAL(28,4)) AS sl,
             CAST(SUM(nv) OVER wt AS BIGINT) AS nt,
             CAST(SUM(sv) OVER wt AS DECIMAL(28,4)) AS st
      FROM m{k}
      WINDOW w AS (PARTITION BY f ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wt AS (PARTITION BY f)
    ),
    b{k} AS (
      SELECT f AS bf, v AS bt, addl, addr FROM (
        SELECT f, v, {ml.GBS_ADDL} AS addl, {ml.GBS_ADDR} AS addr,
               ROW_NUMBER() OVER (ORDER BY {ml.GBS_SCORE} DESC, f, v) AS rk
        FROM c{k} WHERE nl < nt
      ) WHERE rk = 1
    ),
    po{k} AS (
      SELECT x1, x2, y,
             fm + (CASE WHEN (CASE WHEN b.bf = 'x1'
                              THEN CAST(x1 AS DOUBLE)
                              ELSE CAST(x2 AS DOUBLE) END) <= b.bt
                        THEN b.addl ELSE b.addr END) AS fm
      FROM po{k - 1}, b{k} b
    ),
    e{k} AS (
      SELECT ROUND(CAST(SUM(CAST(ROUND((y - fm) * (y - fm), 4)
                                 AS DECIMAL(38,4))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS mse
      FROM po{k}
    )"""


@register(
    "gbm_stumps",
    f"""
    WITH per_line AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS x1,
             CAST(SUM(l_quantity) AS BIGINT) AS x2
      FROM lineitem GROUP BY l_orderkey
    ),
    base AS (
      SELECT x1, x2, o_totalprice AS y
      FROM orders o JOIN per_line l ON o.o_orderkey = l.l_orderkey
    ),
    po0 AS (
      SELECT x1, x2, y,
             (SELECT ROUND(CAST(SUM(CAST(ROUND(y, 4) AS DECIMAL(28,4)))
                                AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE), 6) FROM base) AS fm
      FROM base
    ){_gbs_round(1)}{_gbs_round(2)}{_gbs_round(3)}
    SELECT CAST(1 AS BIGINT) AS round, bf AS feature, bt AS threshold,
           addl AS add_left, addr AS add_right, mse
    FROM b1, e1
    UNION ALL
    SELECT CAST(2 AS BIGINT), bf, bt, addl, addr, mse FROM b2, e2
    UNION ALL
    SELECT CAST(3 AS BIGINT), bf, bt, addl, addr, mse FROM b3, e3
    """,
)
def q_gbm_stumps(spark, sf_dir):
    return ml.gbm_stumps(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "isotonic_calibration",
    f"""
    WITH {_MLEVAL_LABELS_SQL},
    eng AS (
      SELECT clicks AS score,
             CASE WHEN CAST(pv AS DOUBLE) > thr THEN 1 ELSE 0 END AS label
      FROM per_user CROSS JOIN thr
    ),
    hist AS (
      SELECT CAST(score AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(label) AS BIGINT) AS pos
      FROM eng GROUP BY score
    ),
    pref AS (
      SELECT score, n, pos,
             CAST(SUM(n) OVER w AS BIGINT) AS cn,
             CAST(SUM(pos) OVER w AS BIGINT) AS cp
      FROM hist
      WINDOW w AS (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    intervals AS (
      SELECT j.score AS sj, k.score AS sk,
             CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
             / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS rate
      FROM pref j, pref k WHERE j.score <= k.score
    ),
    inner_min AS (
      SELECT i.score AS si, v.sj, MIN(v.rate) AS mn
      FROM intervals v JOIN pref i
        ON v.sj <= i.score AND i.score <= v.sk
      GROUP BY 1, 2
    ),
    iso AS (
      SELECT si, ROUND(MAX(mn), 6) AS iso_rate FROM inner_min GROUP BY 1
    )
    SELECT p.score, p.n, p.pos,
           ROUND(CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE), 6) AS raw_rate,
           iso.iso_rate
    FROM pref p JOIN iso ON p.score = iso.si
    """,
)
def q_isotonic_calibration(spark, sf_dir):
    return ml.isotonic_calibration(load_table(spark, sf_dir, "events"))


@register(
    "eb_shrunk_return_rates",
    """
    WITH rated AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r,
             ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS rate
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p_brand
    ),
    m1 AS (
      SELECT CAST(SUM(CAST(rate AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM rated
    ),
    m2 AS (
      SELECT m, k,
             CAST(SUM(CAST(ROUND((rate - m) * (rate - m), 12)
                           AS DECIMAL(28,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS v
      FROM rated, m1 GROUP BY m, k
    ),
    prior AS (
      SELECT m, v, m * (1.0 - m) / NULLIF(v, 0.0) - 1.0 AS ab FROM m2
    ),
    prior2 AS (SELECT m, v, ab, m * ab AS alpha FROM prior)
    SELECT p_brand, n, r, rate,
           ROUND(alpha, 6) AS alpha,
           ROUND(ab - alpha, 6) AS beta,
           ROUND((CAST(r AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + ab), 6)
             AS shrunk_rate
    FROM rated, prior2
    """,
)
def q_eb_shrunk_return_rates(spark, sf_dir):
    return rel.eb_shrunk_return_rates(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "landmark_bfs",
    # Four depth-bounded recursive BFS replayed as ONE recursive CTE
    # seeded with (node, landmark) pairs; MIN(dist) per (node, lm)
    # recovers the level-synchronous distance, MAX(CASE) pivots.
    f"""
    WITH RECURSIVE
    {_DUCK_TRADE_EDGES},
    reach(node, lm, dist) AS (
        SELECT CAST(n AS BIGINT) AS node, CAST(l AS INT) AS lm, 0 AS dist
        FROM (VALUES (2, 0), (4, 1), (6, 2), (8, 3)) AS s(n, l)
      UNION
        SELECT e.dst AS node, r.lm, r.dist + 1 AS dist
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.dist < 6
    ),
    md AS (
      SELECT node, lm, CAST(MIN(dist) AS INT) AS dist
      FROM reach GROUP BY 1, 2
    ),
    piv AS (
      SELECT node,
             MAX(CASE WHEN lm = 0 THEN dist END) AS d0,
             MAX(CASE WHEN lm = 1 THEN dist END) AS d1,
             MAX(CASE WHEN lm = 2 THEN dist END) AS d2,
             MAX(CASE WHEN lm = 3 THEN dist END) AS d3
      FROM md GROUP BY node
    )
    SELECT node,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_key,
           d0, d1, d2, d3,
           ROUND(CASE WHEN d0 > 0 THEN 1.0 / CAST(d0 AS DOUBLE)
                      ELSE 0.0 END
                 + CASE WHEN d1 > 0 THEN 1.0 / CAST(d1 AS DOUBLE)
                        ELSE 0.0 END
                 + CASE WHEN d2 > 0 THEN 1.0 / CAST(d2 AS DOUBLE)
                        ELSE 0.0 END
                 + CASE WHEN d3 > 0 THEN 1.0 / CAST(d3 AS DOUBLE)
                        ELSE 0.0 END, 6) AS harmonic
    FROM piv
    """,
)
def q_landmark_bfs(spark, sf_dir):
    return gr.landmark_bfs(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "croston_intermittent",
    """
    WITH daily AS (
      SELECT l_partkey AS p_partkey, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(l_quantity) AS DOUBLE) AS q
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    g AS (
      SELECT p_partkey,
             CAST(COUNT(*) AS INTEGER) AS n_demand_days,
             list(q ORDER BY day) AS qarr,
             list(day ORDER BY day) AS darr
      FROM daily GROUP BY 1
    ),
    a AS (
      SELECT p_partkey, n_demand_days, qarr,
             list_transform(range(2, n_demand_days + 1),
                            k -> CAST(date_diff('day', darr[k-1], darr[k])
                                      AS DOUBLE)) AS iarr
      FROM g WHERE n_demand_days >= 2
    ),
    f AS (
      SELECT p_partkey, n_demand_days,
             list_reduce(qarr, (acc, x) -> (x + acc) * 0.5) AS z,
             list_reduce(iarr, (acc, x) -> (x + acc) * 0.5) AS p
      FROM a
    )
    SELECT p_partkey, n_demand_days,
           ROUND(z, 6) AS size_smooth, ROUND(p, 6) AS interval_smooth,
           ROUND(z / p, 6) AS demand_rate
    FROM f
    """,
)
def q_croston_intermittent(spark, sf_dir):
    return rel.croston_intermittent(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "matrix_profile_hourly",
    """
    WITH counted AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT event_type,
             unnest(generate_series(MIN(hour), MAX(hour),
                                    INTERVAL 1 HOUR)) AS hour
      FROM counted GROUP BY event_type
    ),
    hourly AS (
      SELECT g.event_type, g.hour, COALESCE(c.x, 0.0) AS x
      FROM grid g LEFT JOIN counted c
        ON g.event_type = c.event_type AND g.hour = c.hour
    ),
    wins0 AS (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour)
                  AS INTEGER) AS i,
             list(x) OVER (PARTITION BY event_type ORDER BY hour
                           ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS arr
      FROM hourly
    ),
    wins AS (SELECT * FROM wins0 WHERE len(arr) = 24),
    pairs AS (
      SELECT a.event_type, a.i AS ai, b.i AS bi,
             list_reduce(list_transform(range(1, 25),
                         k -> (a.arr[k] - b.arr[k]) * (a.arr[k] - b.arr[k])),
                         (acc, x) -> acc + x) AS d2
      FROM wins a JOIN wins b
        ON a.event_type = b.event_type AND a.i + 24 <= b.i
    ),
    motif AS (
      SELECT event_type, ai AS motif_i, bi AS motif_j,
             ROUND(sqrt(d2), 6) AS motif_dist
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY d2, ai, bi) AS rk
            FROM pairs)
      WHERE rk = 1
    ),
    prof AS (
      SELECT event_type, i, MIN(d2) AS md FROM (
        SELECT event_type, ai AS i, d2 FROM pairs
        UNION ALL SELECT event_type, bi AS i, d2 FROM pairs
      ) GROUP BY 1, 2
    ),
    discord AS (
      SELECT event_type, i AS discord_i, ROUND(sqrt(md), 6) AS discord_dist
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY md DESC, i) AS rk
            FROM prof)
      WHERE rk = 1
    )
    SELECT m.event_type, motif_i, motif_j, motif_dist,
           discord_i, discord_dist
    FROM motif m JOIN discord USING (event_type)
    """,
)
def q_matrix_profile_hourly(spark, sf_dir):
    return rel.matrix_profile_hourly(load_table(spark, sf_dir, "events"))


def _corr_oracle() -> str:
    """Mirror of relational.correlation_matrix: one moment scan, six
    UNION'd pair rows off the 1-row moment frame."""
    cols = rel._CORR_COLS
    aggs = ["CAST(COUNT(*) AS DOUBLE) AS n1"]
    for i, a in enumerate(cols):
        aggs.append(
            f"CAST(SUM(CAST(ROUND({a}, 4) AS DECIMAL(28,4)))"
            f" AS DOUBLE) AS s{i}"
        )
        for j, b in enumerate(cols):
            if j >= i:
                aggs.append(
                    f"CAST(SUM(CAST(ROUND({a} * {b}, 4) AS DECIMAL(38,4)))"
                    f" AS DOUBLE) AS s{i}{j}"
                )
    sel = []
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            if j > i:
                num = f"(n1 * s{i}{j} - s{i} * s{j})"
                den = (
                    f"(sqrt(n1 * s{i}{i} - s{i} * s{i})"
                    f" * sqrt(n1 * s{j}{j} - s{j} * s{j}))"
                )
                sel.append(
                    f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
                    f" ROUND({num} / NULLIF({den}, 0.0), 6) AS pearson_r,"
                    f" CAST(n1 AS BIGINT) AS n FROM m"
                )
    return (
        "WITH m AS (SELECT "
        + ", ".join(aggs)
        + " FROM lineitem)\n    "
        + "\n    UNION ALL ".join(sel)
    )


@register("correlation_matrix", _corr_oracle())
def q_correlation_matrix(spark, sf_dir):
    return rel.correlation_matrix(load_table(spark, sf_dir, "lineitem"))


@register(
    "mann_kendall_trend",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(SUM(CAST(SIGN(b.x - a.x) AS BIGINT)) AS BIGINT) AS s
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    ties AS (
      SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)
    ),
    v AS (
      SELECT n, s,
             CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0
               AS var_s
      FROM s, nn, ties
    ),
    zed AS (
      SELECT n, s, ROUND(var_s, 6) AS var_s,
             ROUND(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)
                                        / sqrt(var_s)
                        WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)
                                        / sqrt(var_s)
                        ELSE 0.0 END, 6) AS z
      FROM v
    )
    SELECT n, s, var_s, z, ABS(z) > 1.96 AS trending_5pct FROM zed
    """,
)
def q_mann_kendall_trend(spark, sf_dir):
    return rel.mann_kendall_trend(load_table(spark, sf_dir, "orders"))


def _mra_round(k: int) -> str:
    """One Markov value-iteration round, mirroring
    relational.markov_removal_attribution: exact-BIGINT message sum in
    micro-units, one IEEE division by the out-degree."""
    return f""",
    v{k} AS (
      SELECT b.variant, b.src AS state,
             CAST(ROUND((COALESCE(m.m, 0) + b.cm)
                        / CAST(b.outc AS DOUBLE)) AS BIGINT) AS v
      FROM bstates b LEFT JOIN (
        SELECT t.variant, t.src, CAST(SUM(t.c * v.v) AS BIGINT) AS m
        FROM tedges t JOIN v{k - 1} v
          ON v.variant = t.variant AND v.state = t.dst
        GROUP BY 1, 2
      ) m ON m.variant = b.variant AND m.src = b.src
    )"""


@register(
    "markov_removal_attribution",
    """
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events
    ),
    s AS (
      SELECT *,
             SUM(CASE WHEN prev IS NULL
                       OR epoch_us(ts) // 1000000
                          - epoch_us(prev) // 1000000 > 1800
                       THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    ),
    posd AS (
      SELECT user_id, sid, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS pos
      FROM s
    ),
    fp AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' THEN pos END)
                  OVER (PARTITION BY user_id, sid) AS firstp
      FROM posd
    ),
    kept AS (SELECT * FROM fp WHERE firstp IS NULL OR pos <= firstp),
    stepped AS (
      SELECT user_id, sid, event_type, pos,
             LEAD(event_type) OVER (PARTITION BY user_id, sid
                                    ORDER BY pos) AS nxt,
             MAX(pos) OVER (PARTITION BY user_id, sid) AS lastpos
      FROM kept
    ),
    pairs AS (
      SELECT '__start__' AS src,
             CASE WHEN event_type = 'purchase' THEN '__conv__'
                  ELSE event_type END AS dst
      FROM stepped WHERE pos = 1
      UNION ALL
      SELECT event_type AS src,
             CASE WHEN nxt = 'purchase' THEN '__conv__' ELSE nxt END AS dst
      FROM stepped WHERE nxt IS NOT NULL AND event_type <> 'purchase'
      UNION ALL
      SELECT event_type AS src, '__end__' AS dst
      FROM stepped WHERE pos = lastpos AND event_type <> 'purchase'
    ),
    counts AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs GROUP BY 1, 2
    ),
    vars AS (
      SELECT DISTINCT src AS variant FROM counts WHERE src <> '__start__'
      UNION ALL SELECT '__full__'
    ),
    tedges AS (
      SELECT v.variant, c.src, c.dst, c.c
      FROM vars v, counts c
      WHERE c.dst NOT IN ('__conv__', '__end__')
        AND c.dst <> v.variant AND c.src <> v.variant
    ),
    bstates AS (
      SELECT v.variant, c.src,
             CAST(SUM(CASE WHEN c.dst = '__conv__' THEN c.c ELSE 0 END)
                  AS BIGINT) * 1000000 AS cm,
             CAST(SUM(c.c) AS BIGINT) AS outc
      FROM vars v, counts c
      WHERE c.src <> v.variant
      GROUP BY 1, 2
    ),
    v0 AS (
      SELECT variant, src AS state, CAST(0 AS BIGINT) AS v FROM bstates
    )"""
    + "".join(_mra_round(k) for k in range(1, 13))
    + """,
    starts AS (SELECT variant, v FROM v12 WHERE state = '__start__'),
    fullv AS (SELECT v AS vf FROM starts WHERE variant = '__full__')
    SELECT s.variant AS channel,
           ROUND(f.vf / 1000000.0, 6) AS p_conv_full,
           ROUND(s.v / 1000000.0, 6) AS p_conv_removed,
           ROUND(1.0 - CAST(s.v AS DOUBLE)
                 / NULLIF(CAST(f.vf AS DOUBLE), 0.0), 6) AS removal_effect
    FROM starts s, fullv f WHERE s.variant <> '__full__'
    """,
)
def q_markov_removal_attribution(spark, sf_dir):
    return rel.markov_removal_attribution(load_table(spark, sf_dir, "events"))


def _dbscan_oracle_sql(
    eps: float = 0.2,
    min_neighbors: int = 3,
    route_degree: int = 32,
    probe_sample: int = 256,
    probe_min: int = 1024,
    repair_cap: int = 4096,
    bits: int = 32,
    bands: int = 2,
    dim: int = 64,
) -> str:
    """Full replay of the density-routed DBSCAN (r11): the md5-ordered
    sample probe, the BIGINT routing inequality, the exact ε-graph on
    unrouted blocks, the sign-LSH candidate graph (same seeded ±1
    hyperplanes as :func:`_lsh_oracle_sql`) on routed blocks, then the
    unchanged core/border/noise closure. On every gate corpus the probe
    routes nothing (measured est-degree ≤ 13 at sf≤0.1 vs budget 32),
    so the exact branch carries all rows there — but the oracle still
    REPLAYS the decision rather than assuming it, so a dense corpus
    diverging from its oracle is impossible by construction."""
    import random

    rng = random.Random(42)
    planes = [
        [rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(bits)
    ]
    r = bits // bands
    sum_cols = []
    for i in range(bits):
        pos = [str(j + 1) for j in range(dim) if planes[i][j] > 0]
        sum_cols.append(
            f"SUM(CASE WHEN j IN ({', '.join(pos)}) THEN e ELSE -e END)"
            f" AS s{i}"
        )
    band_rows = []
    for b in range(bands):
        bucket = " + ".join(
            f"(CASE WHEN s{b * r + j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(r)
        )
        band_rows.append(
            f"SELECT vec_id, label, {b} AS band, {bucket} AS bucket"
            " FROM sums"
        )
    dot = (
        "list_reduce(list_transform(range(1, len({a}) + 1),"
        " i -> {a}[i] * {b}[i]), (acc, x) -> acc + x)"
    )
    return f"""
    WITH RECURSIVE v AS ({_DUCK_VECS}),
    withnorm AS MATERIALIZED (
      SELECT vec_id, label, emb,
             sqrt(list_reduce(list_transform(emb, y -> y * y),
                              (acc, x) -> acc + x)) AS nrm
      FROM v
    ),
    nv AS MATERIALIZED (
      SELECT vec_id, label, list_transform(emb, x -> x / nrm) AS ne
      FROM withnorm
    ),
    samp AS MATERIALIZED (
      SELECT vec_id, label, ne FROM (
        SELECT vec_id, label, ne,
               row_number() OVER (PARTITION BY label
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        FROM nv)
      WHERE rk <= {probe_sample}
    ),
    probe AS MATERIALIZED (
      SELECT a.label AS label,
             CAST(COUNT(*) FILTER (
               {dot.format(a='a.ne', b='b.ne')} >= {eps}) AS BIGINT)
               AS hits
      FROM samp a JOIN samp b
        ON a.label = b.label AND a.vec_id < b.vec_id
      GROUP BY 1
    ),
    sampn AS MATERIALIZED (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS ns FROM samp GROUP BY 1
    ),
    blkn AS MATERIALIZED (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS bn FROM nv GROUP BY 1
    ),
    routed AS MATERIALIZED (
      -- BIGINT routing inequality: 2*hits*(bn-1) > budget*ns*(ns-1) —
      -- integer-exact, so Spark and this replay can never split on a
      -- float boundary; blocks at or below probe_min rows are exact
      -- by fiat (affordable even fully dense — the operator never
      -- probes them)
      SELECT b.label
      FROM blkn b JOIN sampn s USING (label)
      LEFT JOIN probe p USING (label)
      WHERE b.bn > {probe_min}
        AND 2 * COALESCE(p.hits, 0) * (b.bn - 1)
            > {route_degree} * s.ns * (s.ns - 1)
    ),
    p_exact AS MATERIALIZED (
      -- normalize-first cosine: the SAME expression tree as the Spark
      -- operator (unit vectors, then one dot) — dot/(na*nb) differs in
      -- the last ulp and flips boundary pairs, cascading into clusters
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM nv a JOIN nv b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE a.label NOT IN (SELECT label FROM routed)
        AND {dot.format(a='a.ne', b='b.ne')} >= {eps}
    ),
    comp AS MATERIALIZED (
      SELECT vec_id, label, j, ne[j] AS e
      FROM nv, unnest(range(1, {dim + 1})) AS t(j)
      WHERE label IN (SELECT label FROM routed)
    ),
    sums AS MATERIALIZED (
      SELECT vec_id, label, {', '.join(sum_cols)}
      FROM comp GROUP BY vec_id, label
    ),
    buckets AS MATERIALIZED ({' UNION ALL '.join(band_rows)}),
    bk AS MATERIALIZED (
      SELECT b.vec_id, b.label, b.band, b.bucket, nv.ne
      FROM buckets b JOIN nv USING (vec_id, label)
    ),
    p_lsh AS MATERIALIZED (
      SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
      FROM bk x JOIN bk y
        ON x.band = y.band AND x.bucket = y.bucket
       AND x.vec_id < y.vec_id
      WHERE x.label = y.label
        AND {dot.format(a='x.ne', b='y.ne')} >= {eps}
    ),
    p AS MATERIALIZED (
      SELECT va, vb FROM p_exact UNION ALL SELECT va, vb FROM p_lsh
    ),
    sym AS MATERIALIZED (SELECT va AS v, vb AS n FROM p UNION ALL SELECT vb, va FROM p),
    deg AS MATERIALIZED (SELECT v, CAST(COUNT(*) AS BIGINT) AS nn FROM sym GROUP BY 1),
    cores AS MATERIALIZED (SELECT v FROM deg WHERE nn >= {min_neighbors}),
    ce AS MATERIALIZED (
      SELECT va, vb FROM p
      JOIN cores c1 ON p.va = c1.v JOIN cores c2 ON p.vb = c2.v
    ),
    ces AS MATERIALIZED (
      SELECT va AS a, vb AS b FROM ce UNION ALL SELECT vb AS a, va AS b
      FROM ce
    ),
    closure(v, u) AS (
      SELECT v, v FROM cores
      UNION
      SELECT c.v, e.b FROM closure c JOIN ces e ON e.a = c.u
    ),
    lab AS MATERIALIZED (
      SELECT v, CAST(MIN(u) AS BIGINT) AS cluster_id FROM closure GROUP BY 1
    ),
    -- representative stitching (routed blocks only): one rep per
    -- cluster (its min member = the cluster_id), md5-first {repair_cap}
    -- per block, exact cosine among reps, second closure merges
    -- clusters whose reps qualify — a SUBSET of exact DBSCAN's merges,
    -- so the routed result refines the exact clustering, never
    -- over-merges; a no-op whenever nothing routed
    reps AS MATERIALIZED (
      SELECT cluster_id, label, ne FROM (
        SELECT r.cluster_id, v.label, v.ne,
               row_number() OVER (PARTITION BY v.label
                 ORDER BY md5(CAST(r.cluster_id AS VARCHAR)),
                          r.cluster_id) AS rrk
        FROM (SELECT DISTINCT l.cluster_id
              FROM lab l JOIN nv vv ON l.v = vv.vec_id
              WHERE vv.label IN (SELECT label FROM routed)) r
        JOIN nv v ON v.vec_id = r.cluster_id)
      WHERE rrk <= {repair_cap}
    ),
    rep_edges AS MATERIALIZED (
      SELECT a.cluster_id AS ea, b.cluster_id AS eb
      FROM reps a JOIN reps b
        ON a.label = b.label AND a.cluster_id < b.cluster_id
      WHERE {dot.format(a='a.ne', b='b.ne')} >= {eps}
    ),
    rep_sym AS MATERIALIZED (
      SELECT ea AS a, eb AS b FROM rep_edges
      UNION ALL SELECT eb, ea FROM rep_edges
    ),
    closure2(c, u) AS (
      SELECT cluster_id, cluster_id FROM reps
      UNION
      SELECT c.c, e.b FROM closure2 c JOIN rep_sym e ON e.a = c.u
    ),
    merge_map AS MATERIALIZED (
      SELECT c AS cluster_id, CAST(MIN(u) AS BIGINT) AS super_id
      FROM closure2 GROUP BY 1
    ),
    lab2 AS MATERIALIZED (
      SELECT l.v, COALESCE(m.super_id, l.cluster_id) AS cluster_id
      FROM lab l LEFT JOIN merge_map m USING (cluster_id)
    ),
    border AS MATERIALIZED (
      SELECT s.v, MIN(l.cluster_id) AS cluster_id
      FROM sym s JOIN lab2 l ON s.n = l.v
      WHERE s.v NOT IN (SELECT v FROM cores)
      GROUP BY 1
    )
    SELECT e.vec_id,
           CASE WHEN l.v IS NOT NULL THEN 'core'
                WHEN b.v IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(l.cluster_id, b.cluster_id) AS cluster_id,
           e.label IN (SELECT label FROM routed) AS approx
    FROM embeddings e
    LEFT JOIN lab2 l ON e.vec_id = l.v
    LEFT JOIN border b ON e.vec_id = b.v
    """


@register("dbscan_embeddings", _dbscan_oracle_sql())
def q_dbscan_embeddings(spark, sf_dir):
    return sim.dbscan_embeddings(load_table(spark, sf_dir, "embeddings"))


@register(
    "dbscan_density_probe",
    f"""
    WITH v AS ({_DUCK_VECS}),
    withnorm AS (
      SELECT vec_id, label, emb,
             sqrt(list_reduce(list_transform(emb, y -> y * y),
                              (acc, x) -> acc + x)) AS nrm
      FROM v
    ),
    nv AS (
      SELECT vec_id, label, list_transform(emb, x -> x / nrm) AS ne
      FROM withnorm
    ),
    samp AS (
      SELECT vec_id, label, ne FROM (
        SELECT vec_id, label, ne,
               row_number() OVER (PARTITION BY label
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        FROM nv)
      WHERE rk <= 256
    ),
    probe AS (
      SELECT a.label AS label,
             CAST(COUNT(*) FILTER (
               list_reduce(list_transform(range(1, len(a.ne) + 1),
                                          i -> a.ne[i] * b.ne[i]),
                           (acc, x) -> acc + x) >= 0.2) AS BIGINT)
               AS hits
      FROM samp a JOIN samp b
        ON a.label = b.label AND a.vec_id < b.vec_id
      GROUP BY 1
    ),
    sampn AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS ns FROM samp GROUP BY 1
    ),
    blkn AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS bn FROM nv GROUP BY 1
    )
    SELECT b.label AS blk, b.bn AS blkn, s.ns,
           COALESCE(p.hits, 0) AS hits,
           round(CASE WHEN s.ns >= 2
                      THEN 2.0 * CAST(COALESCE(p.hits, 0) AS DOUBLE)
                           / CAST(s.ns * (s.ns - 1) AS DOUBLE)
                           * CAST(b.bn - 1 AS DOUBLE)
                      ELSE 0.0 END, 6) AS est_avg_degree
    FROM blkn b JOIN sampn s USING (label)
    LEFT JOIN probe p USING (label)
    """,
)
def q_dbscan_density_probe(spark, sf_dir):
    return sim.dbscan_density_probe(load_table(spark, sf_dir, "embeddings"))




# ---------------------------------------------------------------------------
# Round-6 additions: LLM-corpus governance (Gopher rule battery, vocabulary
# overlap, dataset datasheet, rater agreement) + the band-join shape.
# ---------------------------------------------------------------------------

_GOPHER_STOPS_SQL = ", ".join(f"'{w}'" for w in ts.GOPHER_STOPWORDS)

#: quality_col()'s exact expression text over (text, toks) — shared by the
#: datasheet and rater-agreement oracles so all three replays are the one
#: arithmetic tree quality_score already verifies.
QUAL = ("round({w_len} * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)"
        " + {w_dis} * (CAST(len(list_distinct(toks)) AS DOUBLE)"
        " / CAST(len(toks) AS DOUBLE))"
        " + {w_cln} * (1.0 - CAST(length(regexp_replace(text,"
        " '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE)"
        " / CAST(length(text) AS DOUBLE)), 6)")

@register(
    "gopher_quality_flags",
    f"""
    WITH t AS ({_DUCK_TOKS}),
    f AS (
      SELECT source,
             (len(toks) >= 50 AND len(toks) <= 100000) AS r_wordcount,
             (CAST(list_reduce(list_transform(toks, x -> len(x)),
                               (a, b) -> a + b) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) >= 3.0
              AND CAST(list_reduce(list_transform(toks, x -> len(x)),
                                   (a, b) -> a + b) AS DOUBLE)
                / CAST(len(toks) AS DOUBLE) <= 10.0) AS r_mean_word_len,
             (CAST(length(text) - length(replace(text, '#', ''))
                   AS DOUBLE)
              <= 0.1 * CAST(length(text) AS DOUBLE)) AS r_symbol_ratio,
             (CAST(len(list_filter(toks,
                     x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
              >= 0.8 * CAST(len(toks) AS DOUBLE)) AS r_alpha_words,
             (len(list_intersect(list_distinct(toks),
                                 [{{_GS}}])) >= 2) AS r_stopwords
      FROM (SELECT d.source, t.text, t.toks
            FROM t JOIN documents d USING (doc_id))
      WHERE len(toks) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r_wordcount THEN 1 ELSE 0 END) AS BIGINT)
             AS n_r_wordcount,
           CAST(SUM(CASE WHEN r_mean_word_len THEN 1 ELSE 0 END) AS BIGINT)
             AS n_r_mean_word_len,
           CAST(SUM(CASE WHEN r_symbol_ratio THEN 1 ELSE 0 END) AS BIGINT)
             AS n_r_symbol_ratio,
           CAST(SUM(CASE WHEN r_alpha_words THEN 1 ELSE 0 END) AS BIGINT)
             AS n_r_alpha_words,
           CAST(SUM(CASE WHEN r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
             AS n_r_stopwords,
           CAST(SUM(CASE WHEN r_wordcount AND r_mean_word_len
                          AND r_symbol_ratio AND r_alpha_words
                          AND r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass_all,
           ROUND(CAST(SUM(CASE WHEN r_wordcount AND r_mean_word_len
                          AND r_symbol_ratio AND r_alpha_words
                          AND r_stopwords THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS pass_rate
    FROM f GROUP BY source
    """.replace("{_GS}", _GOPHER_STOPS_SQL),
)
def q_gopher_quality_flags(spark, sf_dir):
    return ts.gopher_quality_flags(load_table(spark, sf_dir, "documents"))


@register(
    "vocab_overlap_sources",
    """
    WITH v AS (
      SELECT DISTINCT source, word FROM (
        SELECT source, unnest(list_filter(
                 string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')) AS word
        FROM documents)
    ),
    sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM v GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM v a JOIN v b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common,
           sa.v AS va, sb.v AS vb,
           ROUND(CAST(n_common AS DOUBLE)
                 / CAST(sa.v + sb.v - n_common AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.source = inter.source_a
    JOIN sz sb ON sb.source = inter.source_b
    """,
)
def q_vocab_overlap_sources(spark, sf_dir):
    return ts.vocab_overlap_sources(load_table(spark, sf_dir, "documents"))


@register(
    "corpus_datasheet",
    f"""
    WITH t AS ({_DUCK_TOKS}),
    base0 AS (
      SELECT d.source, d.lang, t.text AS text, t.toks AS toks
      FROM t JOIN documents d USING (doc_id)
    ),
    base AS (
      SELECT source, lang,
             CAST(len(toks) AS BIGINT) AS n_tok,
             CAST({QUAL.format(w_len=ts.QUALITY_WEIGHTS["len"],
                               w_dis=ts.QUALITY_WEIGHTS["distinct"],
                               w_cln=ts.QUALITY_WEIGHTS["clean"])}
                  AS DECIMAL(18,6)) AS q,
             md5(text) AS h
      FROM base0
    ),
    dups AS (
      SELECT source,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_dup_docs
      FROM (SELECT source, h, CAST(COUNT(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2)
      GROUP BY source
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(n_tok) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           MAX(d.n_dup_docs) AS n_dup_docs,
           ROUND(CAST(MAX(d.n_dup_docs) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
           ROUND(CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_quality
    FROM base b JOIN dups d USING (source)
    GROUP BY b.source
    """,
)
def q_corpus_datasheet(spark, sf_dir):
    return ts.corpus_datasheet(load_table(spark, sf_dir, "documents"))


@register(
    "cohens_kappa",
    f"""
    WITH t AS ({_DUCK_TOKS}),
    rated AS (
      SELECT CASE WHEN {QUAL.format(w_len=ts.QUALITY_WEIGHTS["len"],
                                    w_dis=ts.QUALITY_WEIGHTS["distinct"],
                                    w_cln=ts.QUALITY_WEIGHTS["clean"])}
                       >= 0.5 THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(toks) >= 60 THEN 1 ELSE 0 END AS rb
      FROM t WHERE len(toks) > 0
    ),
    cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ra * rb) AS BIGINT) AS n11,
             CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
             CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01
      FROM rated
    )
    SELECT n, n11, n10, n01,
           CAST(CAST(n AS DOUBLE) - n11 - n10 - n01 AS BIGINT) AS n00,
           ROUND((n11 + (CAST(n AS DOUBLE) - n11 - n10 - n01))
                 / CAST(n AS DOUBLE), 6) AS p_observed,
           ROUND(((n11 + n10) * (n11 + n01)
                  + (n01 + (CAST(n AS DOUBLE) - n11 - n10 - n01))
                    * (n10 + (CAST(n AS DOUBLE) - n11 - n10 - n01)))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
             AS p_expected,
           ROUND((((n11 + (CAST(n AS DOUBLE) - n11 - n10 - n01))
                   / CAST(n AS DOUBLE))
                  - (((n11 + n10) * (n11 + n01)
                      + (n01 + (CAST(n AS DOUBLE) - n11 - n10 - n01))
                        * (n10 + (CAST(n AS DOUBLE) - n11 - n10 - n01)))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 - (((n11 + n10) * (n11 + n01)
                      + (n01 + (CAST(n AS DOUBLE) - n11 - n10 - n01))
                        * (n10 + (CAST(n AS DOUBLE) - n11 - n10 - n01)))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 6)
             AS kappa
    FROM cm
    """,
)
def q_cohens_kappa(spark, sf_dir):
    return ml.cohens_kappa(load_table(spark, sf_dir, "documents"))


@register(
    "band_join_parts",
    """
    WITH p AS (
      SELECT p_brand AS brand, p_partkey AS key, p_retailprice AS price,
             CAST(FLOOR(p_retailprice / 0.25) AS BIGINT) AS bk
      FROM part
    )
    SELECT a.brand, a.key AS key_a, b.key AS key_b,
           ROUND(ABS(a.price - b.price), 6) AS price_diff
    FROM p a JOIN p b
      ON a.brand = b.brand AND a.key < b.key
     AND b.bk BETWEEN a.bk - 1 AND a.bk + 1
    WHERE ABS(a.price - b.price) <= 0.25
    """,
)
def q_band_join_parts(spark, sf_dir):
    return rel.band_join_parts(load_table(spark, sf_dir, "part"))




def _l2_truth_ctes(m: int = 8, sub: int = 8, query_mod: int = 100,
                   k: int = 10,
                   max_queries: int | None = None) -> str:
    """Exact integer-L2 truth ranking CTEs (mirrors
    operators/similarity.l2_topk_exact): micro-unit subvectors, exact
    BIGINT per-subspace sums, fully-ordered top-k."""
    sv_sel = "\n      UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, e[{j * sub + 1}:{(j + 1) * sub}] AS sv "
        "FROM v_"
        for j in range(m)
    )
    dist = _pq_isqd("s.sv", "q_.qv", sub)
    if max_queries is not None:
        qids_cte = (
            f"qids_ AS (\n      {_qids_select(query_mod, max_queries)}\n"
            f"    ),\n    "
        )
        samp = " AND vec_id IN (SELECT vec_id FROM qids_)"
    else:
        qids_cte = ""
        samp = ""
    return f"""v_ AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS e
      FROM embeddings
    ),
    sv_ AS (\n      {sv_sel}\n    ),
    {qids_cte}q_ AS (
      SELECT vec_id AS query_id, j, sv AS qv FROM sv_
      WHERE vec_id % {query_mod} = 0{samp}
    ),
    td_ AS (
      SELECT q_.query_id, s.vec_id AS neighbor_id, SUM({dist}) AS d2
      FROM sv_ s JOIN q_ ON s.j = q_.j AND s.vec_id <> q_.query_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY d2 ASC, neighbor_id ASC) AS rank
        FROM td_
      ) WHERE rank <= {k}
    )"""


@register(
    "ivf_pq_recall",
    f"""
    WITH {_l2_truth_ctes(max_queries=sim.AUDIT_MAX_QUERIES)},
    approx AS (SELECT * FROM (
      {_ivf_pq_oracle(max_queries=sim.AUDIT_MAX_QUERIES,
                      max_cells=sim.ANN_MAX_CELLS,
                      max_codes=sim.ANN_MAX_CODES)}))
    SELECT a.query_id,
           CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL
                               THEN 1 ELSE 0 END) AS DOUBLE) / 10, 6)
             AS recall_at_k,
           ROUND(COALESCE(1.0 / MIN(CASE WHEN t.neighbor_id IS NOT NULL
                                         THEN a.rank END), 0.0), 6) AS mrr
    FROM approx a
    LEFT JOIN truth t
      ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
    GROUP BY a.query_id
    """,
)
def q_ivf_pq_recall(spark, sf_dir):
    return sim.ivf_pq_recall(load_table(spark, sf_dir, "embeddings"))




@register(
    "negative_sampling",
    """
    WITH pool AS (
      SELECT p_partkey AS partkey,
             CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hp
      FROM part
      WHERE substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1) = '0'
    ),
    customers AS (
      SELECT custkey,
             CAST(('0x' || substr(md5(CAST(custkey AS VARCHAR)), 1, 14))
                  AS BIGINT) AS hc
      FROM (SELECT DISTINCT o_custkey AS custkey FROM orders)
    ),
    positives AS (
      SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    cand AS (
      SELECT cc.custkey, cc.partkey, cc.rk FROM (
        SELECT c.custkey, p.partkey, xor(c.hc, p.hp) AS rk
        FROM customers c CROSS JOIN pool p
      ) cc
      WHERE cc.rk % 16 = 0
        AND NOT EXISTS (
          SELECT 1 FROM positives x
          WHERE x.custkey = cc.custkey AND x.partkey = cc.partkey
        )
    )
    SELECT custkey, partkey, neg_rank FROM (
      SELECT custkey, partkey,
             CAST(ROW_NUMBER() OVER (PARTITION BY custkey
                                     ORDER BY rk, partkey) AS INT)
               AS neg_rank
      FROM cand
    ) WHERE neg_rank <= 3
    """,
)
def q_negative_sampling(spark, sf_dir):
    return pl.negative_sampling(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register(
    "preference_pairs",
    f"""
    WITH t AS ({_DUCK_TOKS}),
    s0 AS (
      SELECT d.source, d.lang, d.doc_id, t.text AS text, t.toks AS toks
      FROM t JOIN documents d USING (doc_id)
    ),
    scored AS (
      SELECT source, lang, doc_id,
             {QUAL.format(w_len=ts.QUALITY_WEIGHTS["len"],
                          w_dis=ts.QUALITY_WEIGHTS["distinct"],
                          w_cln=ts.QUALITY_WEIGHTS["clean"])} AS q
      FROM s0
      WHERE len(toks) > 0
    ),
    best AS (
      SELECT source, lang, doc_id AS chosen_id, q AS chosen_q FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source, lang
                                     ORDER BY q DESC, doc_id ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    worst AS (
      SELECT source, lang, doc_id AS rejected_id, q AS rejected_q FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source, lang
                                     ORDER BY q ASC, doc_id ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT b.source, b.lang, chosen_id, rejected_id,
           ROUND(chosen_q - rejected_q, 6) AS quality_margin
    FROM best b JOIN worst w ON b.source = w.source AND b.lang = w.lang
    WHERE chosen_q - rejected_q >= 0.05
    """,
)
def q_preference_pairs(spark, sf_dir):
    return pl.preference_pairs(load_table(spark, sf_dir, "documents"))




@register(
    "label_propagation_suppliers",
    _DUCK_KNN_EDGES + """,
    sym AS MATERIALIZED (
      SELECT src AS a, dst AS b FROM e0
      UNION ALL SELECT dst AS a, src AS b FROM e0
    ),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
    n1 AS (
      SELECT e.a AS node, l.label, COUNT(*) AS c
      FROM sym e JOIN l0 l ON l.node = e.b
      GROUP BY 1, 2
    ),
    l1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n1
      ) WHERE rn = 1
    ),
    n2 AS (
      SELECT e.a AS node, l.label, COUNT(*) AS c
      FROM sym e JOIN l1 l ON l.node = e.b
      GROUP BY 1, 2
    ),
    l2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n2
      ) WHERE rn = 1
    ),
    n3 AS (
      SELECT e.a AS node, l.label, COUNT(*) AS c
      FROM sym e JOIN l2 l ON l.node = e.b
      GROUP BY 1, 2
    ),
    l3 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n3
      ) WHERE rn = 1
    ),
    n4 AS (
      SELECT e.a AS node, l.label, COUNT(*) AS c
      FROM sym e JOIN l3 l ON l.node = e.b
      GROUP BY 1, 2
    ),
    l4 AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n4
      ) WHERE rn = 1
    ),
    sizes AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
      FROM l4 GROUP BY label
    )
    SELECT node, l.label AS community, community_size
    FROM l4 l JOIN sizes s ON l.label = s.label
    """,
)
def q_label_propagation_suppliers(spark, sf_dir):
    return gr.label_propagation(
        gr.supplier_knn_graph(load_table(spark, sf_dir, "lineitem"))
    )




@register(
    "dedup_token_impact",
    f"""
    WITH RECURSIVE
    g AS ({_DUCK_SHINGLES}),
    e AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams)
                    - len(list_intersect(a.grams, b.grams))) AS jaccard
        FROM g a JOIN g b ON a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.5
    ),
    sym AS (
      SELECT doc_a AS src, doc_b AS dst FROM e
      UNION ALL SELECT doc_b, doc_a FROM e
    ),
    walk(node, label) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, w.label FROM sym s JOIN walk w ON s.dst = w.node
    ),
    lab0 AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM walk
      GROUP BY node
    ),
    q AS (
      SELECT doc_id,
             round({ts.QUALITY_WEIGHTS["len"]}
                     * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
                 + {ts.QUALITY_WEIGHTS["distinct"]}
                   * (CAST(len(list_distinct(toks)) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE))
                 + {ts.QUALITY_WEIGHTS["clean"]}
                   * (1.0 - CAST(length(regexp_replace(text,
                        '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE)
                          / CAST(length(text) AS DOUBLE)), 6) AS quality
      FROM (
        SELECT doc_id, text,
               list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                           x -> x <> '') AS toks
        FROM documents
      ) WHERE len(toks) > 0
    ),
    keepf AS (
      SELECT doc_id,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY cluster_id
                    ORDER BY quality DESC, doc_id) = 1
                  THEN 1 ELSE 0 END AS keep
      FROM (
        SELECT q.doc_id, q.quality,
               COALESCE(l.cluster_id, q.doc_id) AS cluster_id
        FROM q LEFT JOIN lab0 l ON q.doc_id = l.doc_id
      )
    ),
    base AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                  x -> x <> '')) AS BIGINT) AS n_tok,
             md5(text) AS h
      FROM documents
    ),
    flagged AS (
      SELECT doc_id, source, n_tok,
             CASE WHEN MIN(doc_id) OVER (PARTITION BY h) < doc_id
                  THEN 1 ELSE 0 END AS exact_dup
      FROM base
    )
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(exact_dup * n_tok) AS BIGINT)
             AS exact_removable_tokens,
           CAST(SUM((1 - COALESCE(k.keep, 1)) * n_tok) AS BIGINT)
             AS near_removable_tokens,
           ROUND(CAST(SUM(exact_dup * n_tok) AS DOUBLE)
                 / CAST(SUM(n_tok) AS DOUBLE), 6)
             AS exact_removable_pct,
           ROUND(CAST(SUM((1 - COALESCE(k.keep, 1)) * n_tok) AS DOUBLE)
                 / CAST(SUM(n_tok) AS DOUBLE), 6)
             AS near_removable_pct
    FROM flagged f LEFT JOIN keepf k ON f.doc_id = k.doc_id
    GROUP BY f.source
    """,
)
def q_dedup_token_impact(spark, sf_dir):
    return dd.dedup_token_impact(load_table(spark, sf_dir, "documents"))


# DSIR importance-resampling selection (Xie et al. 2023): hashed-bigram
# bucket model, target = the 'en' slice, Laplace smoothing, one ln() of
# exact integer products per bucket rounded to 6dp, per-doc weights as
# DECIMAL(28,6) sums, top-5 per source. The oracle replays the hashing,
# the smoothed model, and the ranking end to end.
@register(
    "dsir_selection",
    """
    WITH toked AS (
      SELECT doc_id, source, (lang = 'en') AS is_t,
             list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    b AS (
      SELECT doc_id, source, is_t,
             CAST('0x' || substr(md5(toks[i] || ' ' || toks[i + 1]), 1, 13)
                  AS BIGINT) % 128 AS bucket
      FROM toked, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ),
    per_doc AS (
      SELECT doc_id, source, is_t, bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY doc_id, source, is_t, bucket
    ),
    per_bucket AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS BIGINT) AS k_t,
             CAST(SUM(cnt) AS BIGINT) AS k_r
      FROM per_doc GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(k_t) AS BIGINT) AS t_tot,
             CAST(SUM(k_r) AS BIGINT) AS r_tot
      FROM per_bucket
    ),
    model AS (
      SELECT bucket,
             ROUND(ln(CAST((k_t + 1) * (r_tot + 128) AS DOUBLE)
                      / CAST((k_r + 1) * (t_tot + 128) AS DOUBLE)), 6)
               AS lam
      FROM per_bucket CROSS JOIN tot
    ),
    w AS (
      SELECT doc_id, source,
             CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
             SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * lam, 6)
                      AS DECIMAL(28,6))) AS w
      FROM per_doc JOIN model USING (bucket)
      GROUP BY doc_id, source
    )
    SELECT source, doc_id, n_bigrams, dsir_weight, sel_rank FROM (
      SELECT source, doc_id, n_bigrams,
             ROUND(CAST(w AS DOUBLE), 6) AS dsir_weight,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY w DESC, doc_id ASC) AS sel_rank
      FROM w
    ) WHERE sel_rank <= 5
    """,
)
def q_dsir_selection(spark, sf_dir):
    return pl.dsir_selection(load_table(spark, sf_dir, "documents"))


def _coverage_greedy_oracle(k: int = 8) -> str:
    """Unrolled greedy max-coverage replay: one (s_r, c_r) CTE pair per
    round — s_r the argmax-gain winner over grams not yet in c_{r-1},
    c_r the running covered-gram union (the BPE unrolled-merge-round
    oracle pattern)."""
    parts = [
        f"g AS MATERIALIZED (SELECT doc_id, unnest(grams) AS gram"
        f" FROM ({_DUCK_SHINGLES}))",
        "t AS (SELECT CAST(COUNT(DISTINCT gram) AS BIGINT) AS total FROM g)",
    ]
    for r in range(1, k + 1):
        cond = ""
        if r > 1:
            sel_union = " UNION ALL ".join(
                f"SELECT doc_id FROM s{i}" for i in range(1, r)
            )
            cond = (
                f" WHERE doc_id NOT IN ({sel_union})"
                f" AND gram NOT IN (SELECT gram FROM c{r - 1})"
            )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain"
            f" FROM g{cond} GROUP BY doc_id"
            f" ORDER BY gain DESC, doc_id ASC LIMIT 1)"
        )
        prev = f"SELECT gram FROM c{r - 1} UNION " if r > 1 else ""
        parts.append(
            f"c{r} AS MATERIALIZED ({prev}SELECT DISTINCT gram FROM g"
            f" WHERE doc_id = (SELECT doc_id FROM s{r}))"
        )
    rows = " UNION ALL ".join(
        f"SELECT {r} AS sel_rank, doc_id, gain AS marginal_gain,"
        f" (SELECT CAST(COUNT(*) AS BIGINT) FROM c{r}) AS covered_grams"
        f" FROM s{r}"
        for r in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT sel_rank, doc_id, marginal_gain, covered_grams,"
        " ROUND(CAST(covered_grams AS DOUBLE) / total, 6) AS coverage_pct"
        f" FROM ({rows}) CROSS JOIN t"
    )


@register("coverage_greedy_selection", _coverage_greedy_oracle())
def q_coverage_greedy_selection(spark, sf_dir):
    return pl.coverage_greedy_selection(load_table(spark, sf_dir, "documents"))


# Benjamini–Hochberg FDR battery: the A&S normal-tail constants are embedded
# via repr() of the SAME Python floats the Spark side uses, so both engines
# parse identical literals and evaluate an identically-parenthesized tree.
_BH_B1, _BH_B2, _BH_B3, _BH_B4, _BH_B5 = (repr(x) for x in rel.AS_NORMAL_B)


@register(
    "bh_fdr",
    f"""
    WITH cells AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2
    ),
    typed AS (
      SELECT event_type, hod, obs,
             CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_type
      FROM cells
    ),
    zed AS (
      SELECT *,
             ROUND((CAST(obs AS DOUBLE)
                    - CAST(n_type AS DOUBLE) * {rel.BH_P0!r})
                   / sqrt(CAST(n_type AS DOUBLE) * {rel.BH_VARF!r}), 6)
               AS z_score
      FROM typed
    ),
    tt AS (
      SELECT *, abs(z_score) AS az,
             1.0 / (1.0 + {rel.AS_NORMAL_P!r} * abs(z_score)) AS t
      FROM zed
    ),
    pv AS (
      SELECT event_type, hod, n_type, obs, z_score,
             ROUND(LEAST(1.0, 2.0 * ({rel.INV_SQRT_2PI!r}
               * exp(-(az * az) / 2.0)
               * (t * ({_BH_B1} + t * ({_BH_B2} + t * ({_BH_B3}
                  + t * ({_BH_B4} + t * {_BH_B5}))))))), 6) AS p_value
      FROM tt
    ),
    rk AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY p_value, event_type, hod)
               AS p_rank,
             COUNT(*) OVER () AS m
      FROM pv
    ),
    ct AS (
      SELECT *,
             ROUND(0.05 * CAST(p_rank AS DOUBLE) / CAST(m AS DOUBLE), 6)
               AS bh_cutoff
      FROM rk
    )
    SELECT event_type, hod, n_type, obs, z_score, p_value, p_rank,
           bh_cutoff,
           CAST(p_rank <= COALESCE(
             MAX(CASE WHEN p_value <= bh_cutoff THEN p_rank END) OVER (),
             0) AS INTEGER) AS significant
    FROM ct
    """,
)
def q_bh_fdr(spark, sf_dir):
    return rel.bh_fdr(load_table(spark, sf_dir, "events"))


@register(
    "nelson_aalen",
    # Same life-table grid as kaplan_meier_churn; the cumulative hazard is
    # a window SUM over 6dp-rounded DECIMAL increments (exact, order-free).
    """
    WITH pc AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS first_d,
             MAX(CAST(o_orderdate AS DATE)) AS last_d
      FROM orders GROUP BY o_custkey
    ),
    we AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS wend FROM orders),
    dur AS (
      SELECT CASE WHEN date_diff('day', last_d, wend) > 90
                  THEN 1 ELSE 0 END AS ev,
             CAST(FLOOR(CASE WHEN date_diff('day', last_d, wend) > 90
                        THEN date_diff('day', first_d, last_d)
                        ELSE date_diff('day', first_d, wend)
                        END / 30.0) AS BIGINT) AS t
      FROM pc, we
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM dur),
    grid AS (
      SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(1 - ev) AS BIGINT) AS c
      FROM dur GROUP BY t
    ),
    g2 AS (
      SELECT t, d, c,
             CAST(n_total - COALESCE(SUM(d + c) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM grid, nt
    )
    SELECT t AS t_months, n_risk AS n_at_risk, d AS d_churned,
           c AS c_censored,
           CAST(SUM(CAST(ROUND(CAST(d AS DOUBLE) / n_risk, 6)
                         AS DECIMAL(18,6))) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS cum_hazard,
           CAST(SUM(CAST(ROUND(CAST(d AS DOUBLE)
                               / (CAST(n_risk AS DOUBLE) * n_risk), 6)
                         AS DECIMAL(18,6))) OVER (
             ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS cum_hazard_var
    FROM g2
    """,
)
def q_nelson_aalen(spark, sf_dir):
    return rel.nelson_aalen_churn(load_table(spark, sf_dir, "orders"))


@register(
    "yule_walker_ar2",
    # Exact HUGEINT lattice (== Spark's DECIMAL(38,0)): L_k = N³·c_k, so
    # every ratio cancels the scaling; doubles only in the final divisions.
    """
    WITH counted AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT event_type,
             unnest(generate_series(MIN(hour), MAX(hour),
                                    INTERVAL 1 HOUR)) AS hour
      FROM counted GROUP BY event_type
    ),
    hourly AS (
      SELECT g.event_type, g.hour, COALESCE(c.x, 0) AS x
      FROM grid g LEFT JOIN counted c
        ON g.event_type = c.event_type AND g.hour = c.hour
    ),
    lagged AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER w AS rn,
             ROW_NUMBER() OVER wd AS rnd,
             LEAD(x, 1) OVER w AS xn1,
             LEAD(x, 2) OVER w AS xn2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour),
             wd AS (PARTITION BY event_type ORDER BY hour DESC)
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS s,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * xn1) AS HUGEINT) AS sp1,
             CAST(SUM(CAST(x AS HUGEINT) * xn2) AS HUGEINT) AS sp2,
             CAST(SUM(CASE WHEN rn = 1 THEN x ELSE 0 END) AS HUGEINT)
               AS f1,
             CAST(SUM(CASE WHEN rn <= 2 THEN x ELSE 0 END) AS HUGEINT)
               AS f2,
             CAST(SUM(CASE WHEN rnd = 1 THEN x ELSE 0 END) AS HUGEINT)
               AS l1,
             CAST(SUM(CASE WHEN rnd <= 2 THEN x ELSE 0 END) AS HUGEINT)
               AS l2
      FROM lagged GROUP BY event_type
      HAVING COUNT(*) >= 3
    ),
    lat AS (
      SELECT event_type, CAST(n AS BIGINT) AS n_hours, n,
             n * n * sxx - n * s * s AS lat0,
             n * n * sp1 - n * s * ((s - l1) + (s - f1))
               + (n - 1) * s * s AS lat1,
             n * n * sp2 - n * s * ((s - l2) + (s - f2))
               + (n - 2) * s * s AS lat2
      FROM agg
    ),
    dd AS (
      SELECT event_type, n_hours,
             CAST(lat0 AS DOUBLE) AS l0,
             CAST(lat1 AS DOUBLE) AS l1,
             CAST(lat2 AS DOUBLE) AS l2,
             CAST(n AS DOUBLE) AS nd
      FROM lat WHERE lat0 <> 0
    )
    SELECT event_type, n_hours,
           ROUND(l0 / (nd * nd * nd), 6) AS c0,
           ROUND(l1 / l0, 6) AS r1,
           ROUND(l2 / l0, 6) AS r2,
           ROUND(l1 * (l0 - l2) / (l0 * l0 - l1 * l1), 6) AS phi1,
           ROUND((l2 * l0 - l1 * l1) / (l0 * l0 - l1 * l1), 6) AS phi2,
           ROUND((l0 / (nd * nd * nd))
                 * (1.0 - (l1 * (l0 - l2) / (l0 * l0 - l1 * l1))
                          * (l1 / l0)
                        - ((l2 * l0 - l1 * l1) / (l0 * l0 - l1 * l1))
                          * (l2 / l0)), 6) AS sigma2
    FROM dd
    """,
)
def q_yule_walker_ar2(spark, sf_dir):
    return rel.yule_walker_ar2(load_table(spark, sf_dir, "events"))


def _doremi_oracle(
    eta: float = 1.0, smoothing: float = 0.05, iters: int = 5
) -> str:
    """Unrolled exponentiated-gradient replay of doremi_weights: one
    (m, u, z, w) CTE quartet per round over the |sources|-row state.
    All decimal steps are exact (micro-unit half-up == the driver-side
    integer arithmetic); doubles appear only in the exp()/division
    terms, with the same expression tree the Python loop evaluates."""
    parts = [
        """ex AS MATERIALIZED (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source,
                   unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                      x -> x <> '')) AS word
            FROM documents)
      GROUP BY source, word
    )""",
        """v AS (SELECT word, CAST(SUM(cnt) AS BIGINT) AS c
           FROM ex GROUP BY word)""",
        """tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS vs,
                  CAST(SUM(c) AS BIGINT) AS t FROM v)""",
        """model AS (SELECT word,
                    ROUND(ln(CAST(t + vs AS DOUBLE)
                             / CAST(c + 1 AS DOUBLE)), 6) AS lam
             FROM v CROSS JOIN tot)""",
        """srcs AS MATERIALIZED (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(ROUND(CAST(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) * lam, 6)
                                       AS DECIMAL(28,6))) AS DOUBLE)
                        / CAST(SUM(cnt) AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS l
      FROM ex JOIN model USING (word) GROUP BY source
    )""",
        "kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS kd FROM srcs)",
        """w0 AS MATERIALIZED (
      SELECT source, n_tokens, l,
             CAST(ROUND(1.0 / kd, 6) AS DECIMAL(18,6)) AS w
      FROM srcs CROSS JOIN kk
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT SUM(CAST(ROUND(w * l, 6)"
            f" AS DECIMAL(18,6))) AS m FROM w{i - 1})"
        )
        parts.append(
            f"u{i} AS MATERIALIZED (SELECT source, n_tokens, l,"
            f" CAST(ROUND(CAST(w AS DOUBLE)"
            f" * exp({eta!r} * CAST(l - m AS DOUBLE)), 6)"
            f" AS DECIMAL(18,6)) AS u FROM w{i - 1} CROSS JOIN m{i})"
        )
        parts.append(
            f"z{i} AS (SELECT CAST(SUM(u) AS DECIMAL(18,6)) AS z"
            f" FROM u{i})"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT source, n_tokens, l,"
            f" CAST(ROUND({1.0 - smoothing!r}"
            f" * (CAST(u AS DOUBLE) / CAST(z AS DOUBLE))"
            f" + {smoothing!r} / kd, 6) AS DECIMAL(18,6)) AS w"
            f" FROM u{i} CROSS JOIN z{i} CROSS JOIN kk)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT source, n_tokens, CAST(l AS DOUBLE) AS ell,"
        f" CAST(w AS DOUBLE) AS weight FROM w{iters} ORDER BY source"
    )


@register("doremi_weights", _doremi_oracle())
def q_doremi_weights(spark, sf_dir):
    return pl.doremi_weights(load_table(spark, sf_dir, "documents"))


@register(
    "psm_caliper_match",
    """
    WITH spend AS (
      SELECT o_custkey AS c_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT c.c_custkey, c_nationkey,
             (c_mktsegment = 'AUTOMOBILE') AS treated,
             ROUND(PERCENT_RANK() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal, c.c_custkey), 6) AS score,
             COALESCE(s.spend, CAST(0 AS DECIMAL(18,2))) AS spend
      FROM customer c LEFT JOIN spend s USING (c_custkey)
    ),
    ranked AS (
      SELECT c_nationkey, c_custkey, treated, score, spend,
             LAST_VALUE(CASE WHEN NOT treated THEN score END IGNORE NULLS)
               OVER wb AS ps,
             LAST_VALUE(CASE WHEN NOT treated THEN spend END IGNORE NULLS)
               OVER wb AS pv,
             FIRST_VALUE(CASE WHEN NOT treated THEN score END IGNORE NULLS)
               OVER wa AS ns,
             FIRST_VALUE(CASE WHEN NOT treated THEN spend END IGNORE NULLS)
               OVER wa AS nv
      FROM scored
      WINDOW wb AS (PARTITION BY c_nationkey ORDER BY score, c_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             wa AS (PARTITION BY c_nationkey ORDER BY score, c_custkey
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    m AS (
      SELECT c_nationkey, score, spend,
             CASE WHEN ps IS NOT NULL
                       AND (ns IS NULL OR abs(score - ps) <= abs(ns - score))
                  THEN ps ELSE ns END AS ms,
             CASE WHEN ps IS NOT NULL
                       AND (ns IS NULL OR abs(score - ps) <= abs(ns - score))
                  THEN pv ELSE nv END AS mv
      FROM ranked WHERE treated
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_treated,
           CAST(SUM(CASE WHEN ms IS NOT NULL AND abs(score - ms) <= 0.05
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           ROUND(CAST(SUM(CASE WHEN ms IS NOT NULL
                               AND abs(score - ms) <= 0.05
                               THEN spend - mv END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN ms IS NOT NULL
                                 AND abs(score - ms) <= 0.05
                                 THEN 1 ELSE 0 END) AS DOUBLE), 6)
             AS att_spend
    FROM m GROUP BY c_nationkey
    """,
)
def q_psm_caliper_match(spark, sf_dir):
    return ml.psm_caliper_match(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def _cox_ph_oracle(iters: int = 6) -> str:
    """Unrolled Newton replay of cox_ph_binary over the event-time grid:
    per round one scalar (sdp, sinfo) aggregate and one β update, every
    double expression parenthesized exactly as the driver-side loop."""
    p_expr = (
        "((n1 * exp(CAST(b AS DOUBLE)))"
        " / (n1 * exp(CAST(b AS DOUBLE)) + n0))"
    )
    parts = [
        """pc AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS first_d,
             MAX(CAST(o_orderdate AS DATE)) AS last_d
      FROM orders GROUP BY o_custkey
    )""",
        "we AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS wend FROM orders)",
        """dur AS (
      SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS x,
             CASE WHEN date_diff('day', last_d, wend) > 90
                  THEN 1 ELSE 0 END AS ev,
             CAST(FLOOR(CASE WHEN date_diff('day', last_d, wend) > 90
                        THEN date_diff('day', first_d, last_d)
                        ELSE date_diff('day', first_d, wend)
                        END / 30.0) AS BIGINT) AS t
      FROM pc, we, customer WHERE c_custkey = o_custkey
    )""",
        """tot AS (SELECT CAST(SUM(x) AS BIGINT) AS tot1,
                  CAST(SUM(1 - x) AS BIGINT) AS tot0 FROM dur)""",
        """cells AS (
      SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(ev * x) AS BIGINT) AS s1,
             CAST(SUM(x) AS BIGINT) AS a1,
             CAST(SUM(1 - x) AS BIGINT) AS a0
      FROM dur GROUP BY t
    )""",
        """gf AS MATERIALIZED (
      SELECT * FROM (
        SELECT t, d, s1,
               CAST(tot1 - COALESCE(SUM(a1) OVER w, 0) AS BIGINT) AS n1,
               CAST(tot0 - COALESCE(SUM(a0) OVER w, 0) AS BIGINT) AS n0
        FROM cells CROSS JOIN tot
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
      ) WHERE d > 0
    )""",
        """s AS MATERIALIZED (
      SELECT CAST(COALESCE(SUM(s1), 0) AS BIGINT) AS s1_tot,
             CAST(COALESCE(SUM(d), 0) AS BIGINT) AS d_tot FROM gf)""",
        "b0 AS (SELECT CAST(0.0 AS DECIMAL(18,6)) AS b)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT"
            f" SUM(CAST(ROUND(d * {p_expr}, 6) AS DECIMAL(18,6))) AS sdp,"
            f" SUM(CAST(ROUND((d * {p_expr}) * (1 - {p_expr}), 6)"
            f" AS DECIMAL(18,6))) AS sinfo,"
            f" MAX(b) AS b FROM gf CROSS JOIN b{i - 1})"
        )
        parts.append(
            f"b{i} AS (SELECT CASE WHEN sinfo IS NULL OR sinfo = 0"
            f" THEN b ELSE CAST(ROUND(CAST(b AS DOUBLE)"
            f" + (CAST(s1_tot AS DOUBLE) - CAST(sdp AS DOUBLE))"
            f" / CAST(sinfo AS DOUBLE), 6) AS DECIMAL(18,6)) END AS b"
            f" FROM n{i} CROSS JOIN s)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT CAST(b AS DOUBLE) AS beta,
           ROUND(exp(CAST(b AS DOUBLE)), 6) AS hazard_ratio,
           d_tot AS n_events, s1_tot AS s1_events,
           tot1 AS n_treated, tot0 AS n_control
    FROM b{iters} CROSS JOIN s CROSS JOIN tot"""
    )


@register(
    "kruskal_wallis",
    """
    WITH vals AS (
      SELECT value, CAST(COUNT(*) AS BIGINT) AS t
      FROM events GROUP BY value
    ),
    mr AS (
      SELECT value, t,
             2 * COALESCE(SUM(t) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS mr2
      FROM vals
    ),
    gv AS (
      SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, value
    ),
    grp AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_g,
             CAST(SUM(c * mr2) AS BIGINT) AS r2
      FROM gv JOIN mr USING (value) GROUP BY event_type
    ),
    agg AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(ROUND(CAST(CAST(r2 AS DECIMAL(19,0))
                                 * CAST(r2 AS DECIMAL(19,0)) AS DOUBLE)
                            / CAST(n_g AS DOUBLE), 6)
                      AS DECIMAL(28,6))) AS s
      FROM grp
    ),
    ties AS (
      SELECT CAST(SUM(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))
                       * CAST(t AS DECIMAL(19,0)) - CAST(t AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS tm
      FROM vals
    )
    SELECT n, k AS k_groups, CAST(k - 1 AS BIGINT) AS df,
           ROUND((3.0 * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                 - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h_stat,
           ROUND(1.0 - CAST(tm AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    - CAST(n AS DOUBLE)), 6) AS tie_correction,
           ROUND(((3.0 * CAST(s AS DOUBLE))
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                  - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                 / (1.0 - CAST(tm AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6)
             AS h_adjusted
    FROM agg CROSS JOIN ties
    """,
)
def q_kruskal_wallis(spark, sf_dir):
    return rel.kruskal_wallis(load_table(spark, sf_dir, "events"))


def _pacf_oracle(max_lag: int = 6) -> str:
    """Unrolled Durbin–Levinson replay of pacf_hourly: the acf_hourly
    lag lattice feeds per-order (sn, sd, kk, phi) CTEs; signed decimal
    rounding (half away from zero) matches the driver-side pico
    integers."""
    leads = ",\n             ".join(
        f"lead(u, {k}) OVER (ORDER BY h) AS u{k}"
        for k in range(1, max_lag + 1)
    )
    nums = ", ".join(
        f"SUM(u * u{k}) AS n{k}" for k in range(1, max_lag + 1)
    )
    acf_rows = " UNION ALL ".join(
        f"SELECT {k} AS lag, CAST(ROUND(CAST(n{k} AS DOUBLE)"
        f" / CAST(den AS DOUBLE), 6) AS DECIMAL(18,6)) AS r FROM m"
        for k in range(1, max_lag + 1)
    )
    parts = [
        """hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    )""",
        "bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly)",
        """grid AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )""",
        """filled AS (
      SELECT g.h, COALESCE(x, 0) AS x
      FROM grid g LEFT JOIN hourly USING (h)
    )""",
        """st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
      FROM filled
    )""",
        "u AS (SELECT h, n * x - s AS u FROM filled, st)",
        f"lagged AS (\n      SELECT h, u,\n             {leads}\n      FROM u\n    )",
        f"m AS (SELECT SUM(u * u) AS den, {nums} FROM lagged)",
        f"acf AS MATERIALIZED ({acf_rows})",
        "phi1 AS (SELECT 1 AS j, r AS phi FROM acf WHERE lag = 1)",
    ]
    for k in range(2, max_lag + 1):
        parts.append(
            f"sn{k} AS (SELECT SUM(CAST(ROUND(p.phi * a.r, 6)"
            f" AS DECIMAL(18,6))) AS v FROM phi{k - 1} p"
            f" JOIN acf a ON a.lag = {k} - p.j)"
        )
        parts.append(
            f"sd{k} AS (SELECT SUM(CAST(ROUND(p.phi * a.r, 6)"
            f" AS DECIMAL(18,6))) AS v FROM phi{k - 1} p"
            f" JOIN acf a ON a.lag = p.j)"
        )
        parts.append(
            f"kk{k} AS (SELECT CAST(ROUND(CAST((SELECT r FROM acf"
            f" WHERE lag = {k}) - sn{k}.v AS DOUBLE)"
            f" / CAST(1 - sd{k}.v AS DOUBLE), 6) AS DECIMAL(18,6)) AS kk"
            f" FROM sn{k}, sd{k})"
        )
        parts.append(
            f"phi{k} AS MATERIALIZED ("
            f"SELECT p.j, CAST(ROUND(p.phi - kk * q.phi, 6)"
            f" AS DECIMAL(18,6)) AS phi"
            f" FROM phi{k - 1} p JOIN phi{k - 1} q ON q.j = {k} - p.j"
            f" CROSS JOIN kk{k}"
            f" UNION ALL SELECT {k} AS j, kk AS phi FROM kk{k})"
        )
    pacf_union = "SELECT 1 AS lag, phi AS pacf FROM phi1" + "".join(
        f" UNION ALL SELECT {k} AS lag, kk AS pacf FROM kk{k}"
        for k in range(2, max_lag + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT CAST(lag AS INTEGER) AS lag, CAST(r AS DOUBLE) AS acf,
           CAST(pacf AS DOUBLE) AS pacf
    FROM acf JOIN ({pacf_union}) USING (lag)"""
    )


_GUMBEL_T30 = -__import__("math").log(
    -__import__("math").log(1.0 - 1.0 / 30.0)
)


@register(
    "gumbel_extremes",
    f"""
    WITH hourly AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             EXTRACT(hour FROM ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2, 3
    ),
    dm AS (
      SELECT event_type, day, MAX(x) AS mx
      FROM hourly GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mx) AS BIGINT) AS s,
             SUM(CAST(CAST(mx AS DECIMAL(19,0)) * CAST(mx AS DECIMAL(19,0))
                      AS DECIMAL(38,0))) AS sxx
      FROM dm GROUP BY event_type
    ),
    mm AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             {rel.GUMBEL_SQRT6_OVER_PI!r}
               * sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
               AS beta
      FROM agg WHERE n >= 2
    )
    SELECT event_type, n AS n_days,
           ROUND(m, 6) AS mean_peak,
           ROUND(beta, 6) AS beta_hat,
           ROUND(m - {rel.EULER_GAMMA!r} * beta, 6) AS mu_hat,
           ROUND((m - {rel.EULER_GAMMA!r} * beta)
                 + {_GUMBEL_T30!r} * beta, 6) AS return_level_30d
    FROM mm
    """,
)
def q_gumbel_extremes(spark, sf_dir):
    return rel.gumbel_extremes(load_table(spark, sf_dir, "events"))


@register(
    "newsvendor_quantile",
    """
    WITH weekly AS (
      SELECT p_brand, weekofyear(CAST(o_orderdate AS DATE)) AS wk,
             year(CAST(o_orderdate AS DATE)) AS yr,
             CAST(SUM(l_quantity) AS BIGINT) AS demand
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2, 3
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_weeks,
           ROUND(CAST(SUM(demand) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_demand,
           ROUND(quantile_cont(demand, 0.5), 6) AS median_demand,
           ROUND(quantile_cont(demand, 0.75), 6) AS stock_level_q75
    FROM weekly GROUP BY p_brand
    """,
)
def q_newsvendor_quantile(spark, sf_dir):
    return rel.newsvendor_quantile(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


def _matryoshka_oracle(
    prefix_dims: tuple = (16, 32), k: int = 10,
    max_queries: int | None = None,
) -> str:
    """Replay both retrieval legs exactly: full-dim truth ranking once,
    then per prefix width a sliced-vector ranking, a semi-join overlap,
    and the recall aggregate (query set capped by the same md5-ordered
    fixed budget the Spark operator applies)."""
    samp = (
        " AND vec_id IN (SELECT vec_id FROM qids)"
        if max_queries is not None
        else ""
    )
    legs = []
    for d in prefix_dims:
        legs.append(
            f"""v{d} AS (SELECT vec_id,
          list_transform(embedding[1:{d}], x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
    q{d} AS (SELECT vec_id AS query_id, emb AS q_emb FROM v{d}
             WHERE vec_id % 100 = 0{samp}),
    cand{d} AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM (
          SELECT query_id, v.vec_id AS neighbor_id,
                 {_DUCK_COS.format(a="q_emb", b="emb")} AS cos
          FROM q{d} JOIN v{d} v ON v.vec_id <> q{d}.query_id
        )
      ) WHERE rnk <= {k}
    ),
    rec{d} AS (
      SELECT {d} AS prefix_dim,
             CAST(COUNT(*) AS BIGINT) AS n_queries,
             ROUND(CAST(SUM(h) AS DOUBLE)
                   / (CAST(COUNT(*) AS DOUBLE) * {float(k)!r}), 6)
               AS recall_at_k
      FROM (
        SELECT q.query_id, COALESCE(hh.h, 0) AS h
        FROM (SELECT DISTINCT query_id FROM truth) q
        LEFT JOIN (
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS h
          FROM cand{d} c
          WHERE EXISTS (SELECT 1 FROM truth t
                        WHERE t.query_id = c.query_id
                          AND t.neighbor_id = c.neighbor_id)
          GROUP BY query_id
        ) hh USING (query_id)
      )
    )"""
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM rec{d}" for d in prefix_dims
    )
    qids_cte = (
        f"qids AS (\n      {_qids_select(100, max_queries)}\n    ),\n    "
        if max_queries is not None
        else ""
    )
    return (
        f"""
    WITH v AS ({_DUCK_VECS}),
    {qids_cte}q AS (SELECT vec_id AS query_id, emb AS q_emb FROM v
          WHERE vec_id % 100 = 0{samp}),
    truth AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rnk
        FROM (
          SELECT query_id, v.vec_id AS neighbor_id,
                 {_DUCK_COS.format(a="q_emb", b="emb")} AS cos
          FROM q JOIN v ON v.vec_id <> q.query_id
        )
      ) WHERE rnk <= {k}
    ),
    """
        + ",\n    ".join(legs)
        + f"\n    {union}"
    )


@register(
    "matryoshka_recall",
    _matryoshka_oracle(max_queries=sim.AUDIT_MAX_QUERIES),
)
def q_matryoshka_recall(spark, sf_dir):
    return sim.matryoshka_recall(load_table(spark, sf_dir, "embeddings"))


@register(
    "negbin_fit",
    """
    WITH counted AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT event_type,
             unnest(generate_series(MIN(hour), MAX(hour),
                                    INTERVAL 1 HOUR)) AS hour
      FROM counted GROUP BY event_type
    ),
    hourly AS (
      SELECT g.event_type, COALESCE(c.x, 0) AS x
      FROM grid g LEFT JOIN counted c
        ON g.event_type = c.event_type AND g.hour = c.hour
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
                      AS DECIMAL(38,0))) AS sxx,
             CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zeros
      FROM hourly GROUP BY event_type
    ),
    mm AS (
      SELECT event_type, n, zeros,
             CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS v
      FROM agg WHERE n >= 2
    )
    SELECT event_type, n AS n_hours,
           ROUND(m, 6) AS mean_cnt,
           ROUND(v, 6) AS var_cnt,
           ROUND(v / m, 6) AS dispersion,
           ROUND(CASE WHEN v > m THEN m * m / (v - m) END, 6) AS r_hat,
           ROUND(CASE WHEN v > m THEN m / v END, 6) AS p_hat,
           ROUND(CAST(zeros AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS zero_frac
    FROM mm
    """,
)
def q_negbin_fit(spark, sf_dir):
    return rel.negbin_fit(load_table(spark, sf_dir, "events"))


@register("pacf_hourly", _pacf_oracle())
def q_pacf_hourly(spark, sf_dir):
    return rel.pacf_hourly(load_table(spark, sf_dir, "events"))


def _spectral_bisection_oracle(rounds: int = 6) -> str:
    """Unrolled shifted-power-iteration replay of spectral_bisection on
    the kNN supplier graph (per round: edge product-sum, mean deflate,
    pivot normalize — each a MATERIALIZED CTE)."""
    parts = [
        """sym AS MATERIALIZED (
      SELECT src AS node, dst AS nbr FROM e0
      UNION ALL SELECT dst AS node, src AS nbr FROM e0
    )""",
        """deg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM sym GROUP BY node)""",
        "cc AS (SELECT MAX(deg) + 1 AS c FROM deg)",
        """v0 AS (SELECT node,
            CAST(CASE WHEN node % 2 = 0 THEN 1000000
                      ELSE -1000000 END AS BIGINT) AS v FROM deg)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"wn{i} AS (SELECT s.node, SUM(p.v) AS nb FROM sym s"
            f" JOIN v{i - 1} p ON s.nbr = p.node GROUP BY s.node)"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT d.node,"
            f" (c - d.deg) * v.v + wn.nb AS w"
            f" FROM deg d JOIN v{i - 1} v USING (node)"
            f" JOIN wn{i} wn USING (node) CROSS JOIN cc)"
        )
        parts.append(
            f"m{i} AS (SELECT CAST(ROUND(CAST(SUM(w) AS DOUBLE)"
            f" / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m FROM w{i})"
        )
        parts.append(
            f"wc{i} AS MATERIALIZED (SELECT node, w - m AS w"
            f" FROM w{i} CROSS JOIN m{i})"
        )
        parts.append(
            f"p{i} AS (SELECT w AS wp FROM wc{i}"
            f" ORDER BY abs(w) DESC, node ASC LIMIT 1)"
        )
        parts.append(
            f"v{i} AS MATERIALIZED (SELECT node,"
            f" CAST(ROUND(CAST(w AS DOUBLE) / CAST(wp AS DOUBLE)"
            f" * 1000000.0) AS BIGINT) AS v"
            f" FROM wc{i} CROSS JOIN p{i})"
        )
    return (
        _DUCK_KNN_EDGES
        + ",\n"
        + ",\n".join(parts)
        + f"""
    SELECT node AS suppkey,
           ROUND(CAST(v AS DOUBLE) / 1000000.0, 6) AS fiedler,
           CAST(v >= 0 AS INTEGER) AS side
    FROM v{rounds}"""
    )


@register("spectral_bisection_suppliers", _spectral_bisection_oracle())
def q_spectral_bisection_suppliers(spark, sf_dir):
    return gr.spectral_bisection(
        gr.supplier_knn_graph(load_table(spark, sf_dir, "lineitem"))
    )


@register(
    "hot_key_audit",
    """
    WITH p AS (
      SELECT 'l_orderkey' AS key_col, c FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
        GROUP BY l_orderkey)
      UNION ALL
      SELECT 'l_partkey', c FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
        GROUP BY l_partkey)
      UNION ALL
      SELECT 'l_suppkey', c FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
        GROUP BY l_suppkey)
      UNION ALL
      SELECT 'o_custkey', c FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS c FROM orders
        GROUP BY o_custkey)
    )
    SELECT key_col,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           MAX(c) AS max_cnt,
           ROUND(CAST(MAX(c) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE), 6) AS skew_max_over_avg,
           ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
             AS top1_share,
           ROUND(quantile_cont(c, 0.99), 6) AS p99_cnt,
           ROUND(quantile_cont(c, 0.999), 6) AS p999_cnt
    FROM p GROUP BY key_col
    """,
)
def q_hot_key_audit(spark, sf_dir):
    return rel.hot_key_audit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "source_loo_value",
    """
    WITH ex AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source,
                   unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                      x -> x <> '')) AS word
            FROM documents)
      GROUP BY source, word
    ),
    pw AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sources,
             CAST(SUM(cnt) AS BIGINT) AS tot,
             MAX(source) AS only_source
      FROM ex GROUP BY word
    ),
    base AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(cnt) AS BIGINT) AS tokens
      FROM ex GROUP BY source
    ),
    uniq AS (
      SELECT only_source AS source,
             CAST(COUNT(*) AS BIGINT) AS unique_vocab,
             CAST(SUM(tot) AS BIGINT) AS unique_tokens,
             CAST(SUM(CASE WHEN tot = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS corpus_hapax
      FROM pw WHERE n_sources = 1 GROUP BY only_source
    )
    SELECT source, vocab, tokens,
           COALESCE(unique_vocab, 0) AS unique_vocab,
           COALESCE(unique_tokens, 0) AS unique_tokens,
           COALESCE(corpus_hapax, 0) AS corpus_hapax,
           ROUND(CAST(COALESCE(unique_vocab, 0) AS DOUBLE)
                 / CAST(vocab AS DOUBLE), 6) AS unique_vocab_share,
           ROUND(CAST(COALESCE(unique_tokens, 0) AS DOUBLE)
                 / CAST(tokens AS DOUBLE), 6) AS unique_token_share
    FROM base LEFT JOIN uniq USING (source)
    """,
)
def q_source_loo_value(spark, sf_dir):
    return ts.source_loo_value(load_table(spark, sf_dir, "documents"))


@register(
    "ccnet_pipeline",
    """
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    t2 AS (SELECT doc_id, toks FROM toked WHERE len(toks) >= 2),
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM t2, unnest(range(1, len(toks))) AS u(i)
    ),
    lm AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    lm1 AS (
      SELECT w1, w2, c12, SUM(c12) OVER (PARTITION BY w1) AS c1 FROM lm
    ),
    vocab AS (
      SELECT COUNT(DISTINCT t) AS v_size
      FROM (SELECT unnest(toks) AS t FROM t2)
    ),
    terms AS (
      SELECT bg.doc_id,
             -ln((c12 + 1) / CAST(c1 + v_size AS DOUBLE)) AS nll
      FROM bg JOIN lm1 ON bg.w1 = lm1.w1 AND bg.w2 = lm1.w2
      CROSS JOIN vocab
    ),
    scores AS (
      SELECT doc_id, ROUND(AVG(nll), 6) AS avg_nll
      FROM terms GROUP BY doc_id
    ),
    bucketed AS (
      SELECT doc_id, avg_nll,
             NTILE(3) OVER (ORDER BY avg_nll, doc_id) AS ppl_bucket
      FROM scores
    ),
    base AS (
      SELECT d.doc_id, d.lang,
             len(list_filter(string_split_regex(d.text, '[\\s\\x0b]+'),
                             x -> x <> '')) AS n_tok,
             CASE WHEN MIN(d.doc_id) OVER (PARTITION BY d.text) < d.doc_id
                  THEN 1 ELSE 0 END AS is_dup
      FROM documents d
    )
    SELECT lang,
           CASE WHEN ppl_bucket = 1 THEN 'head'
                WHEN ppl_bucket = 2 THEN 'middle'
                ELSE 'tail' END AS ppl_tier,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
           CAST(SUM(1 - is_dup) AS BIGINT) AS kept_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM((1 - is_dup) * n_tok) AS BIGINT) AS tokens_kept,
           ROUND(CAST(SUM(CAST(avg_nll AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_nll
    FROM base JOIN bucketed USING (doc_id)
    GROUP BY 1, 2
    """,
)
def q_ccnet_pipeline(spark, sf_dir):
    return ts.ccnet_pipeline(load_table(spark, sf_dir, "documents"))


@register(
    "l_diversity",
    """
    WITH cell AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment, CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2, 3
    ),
    cls AS (
      SELECT c_nationkey, bal_band,
             CAST(COUNT(*) AS BIGINT) AS l_distinct,
             SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                            * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                      AS DECIMAL(28,6))) AS h
      FROM (SELECT *, SUM(c) OVER (PARTITION BY c_nationkey, bal_band)
                        AS n
            FROM cell)
      GROUP BY c_nationkey, bal_band
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           MIN(l_distinct) AS min_l_distinct,
           ROUND(exp(CAST(MIN(CAST(h AS DOUBLE)) AS DOUBLE)), 6)
             AS entropy_l,
           CAST(SUM(CASE WHEN l_distinct < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_l_lt_2,
           CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_l_lt_3
    FROM cls
    """,
)
def q_l_diversity(spark, sf_dir):
    return rel.l_diversity(load_table(spark, sf_dir, "customer"))


@register(
    "keyness_terms",
    """
    WITH ex AS MATERIALIZED (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS a
      FROM (SELECT source,
                   unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                      x -> x <> '')) AS word
            FROM documents)
      GROUP BY source, word
    ),
    s_tot AS (SELECT source, CAST(SUM(a) AS BIGINT) AS s_tot
              FROM ex GROUP BY 1),
    w_tot AS (SELECT word, CAST(SUM(a) AS BIGINT) AS w_tot
              FROM ex GROUP BY 1),
    n_tot AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM ex),
    j AS (
      SELECT source, word, a, w_tot, s_tot, n
      FROM ex JOIN w_tot USING (word) JOIN s_tot USING (source)
      CROSS JOIN n_tot
      WHERE a * n > w_tot * s_tot
    ),
    sc AS (
      SELECT source, word, a, w_tot,
             CAST(2 * (CAST(ROUND(CAST(a AS DOUBLE)
                        * ln(CAST(a * n AS DOUBLE)
                             / CAST(w_tot * s_tot AS DOUBLE)), 6)
                        AS DECIMAL(18,6))
                  + CASE WHEN w_tot > a
                         THEN CAST(ROUND(CAST(w_tot - a AS DOUBLE)
                              * ln(CAST((w_tot - a) * n AS DOUBLE)
                                   / CAST(w_tot * (n - s_tot) AS DOUBLE)),
                              6) AS DECIMAL(18,6))
                         ELSE CAST(0 AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS g2
      FROM j
    )
    SELECT source, CAST(rnk AS INTEGER) AS rnk, word AS term,
           a AS cnt_in_source, w_tot AS cnt_corpus,
           ROUND(g2, 6) AS g2
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY g2 DESC, word) AS rnk
          FROM sc)
    WHERE rnk <= 5
    """,
)
def q_keyness_terms(spark, sf_dir):
    return ts.keyness_terms(load_table(spark, sf_dir, "documents"))


@register(
    "ecod_outliers",
    """
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS spend,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    cd AS (
      SELECT o_custkey, spend, n_orders,
             cume_dist() OVER (ORDER BY spend) AS l_spend,
             cume_dist() OVER (ORDER BY spend DESC) AS r_spend,
             cume_dist() OVER (ORDER BY n_orders) AS l_n,
             cume_dist() OVER (ORDER BY n_orders DESC) AS r_n
      FROM per
    )
    SELECT o_custkey, ROUND(spend, 2) AS spend, n_orders,
           CAST(CAST(ROUND(-ln(LEAST(l_spend, r_spend)), 6)
                     AS DECIMAL(18,6))
                + CAST(ROUND(-ln(LEAST(l_n, r_n)), 6)
                       AS DECIMAL(18,6)) AS DOUBLE) AS ecod_score
    FROM cd
    ORDER BY ecod_score DESC, o_custkey LIMIT 20
    """,
)
def q_ecod_outliers(spark, sf_dir):
    return ml.ecod_outliers(load_table(spark, sf_dir, "orders"))


@register(
    "bm25_prf_topk",
    r"""
    WITH tf AS MATERIALIZED (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    dfx AS MATERIALIZED (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    st AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
             (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS s_tok
    ),
    q0 AS MATERIALIZED (
      SELECT term, df FROM dfx ORDER BY df DESC, term LIMIT 5
    ),
    per0 AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               CAST(CAST(ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5)
                                        / (df + 0.5)), 6)
                         AS DECIMAL(18,6)) AS DOUBLE)
               * ((tf * 2.2)
                  / (tf + 1.2 * (0.25 + (0.75 * CAST(dl * n_docs AS DOUBLE))
                                        / CAST(s_tok AS DOUBLE)))), 6)
                  AS DECIMAL(18,6)) AS ts
      FROM tf JOIN q0 USING (term) JOIN dl USING (doc_id), st
    ),
    fb AS MATERIALIZED (
      SELECT doc_id FROM (
        SELECT doc_id, SUM(ts) AS s FROM per0 GROUP BY doc_id
      ) ORDER BY s DESC, doc_id LIMIT 5
    ),
    exp AS MATERIALIZED (
      SELECT f.term, dfx.df FROM (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS fb_df
        FROM tf WHERE doc_id IN (SELECT doc_id FROM fb)
          AND term NOT IN (SELECT term FROM q0)
        GROUP BY term
      ) f JOIN dfx USING (term)
      ORDER BY fb_df DESC, term LIMIT 5
    ),
    qf AS (SELECT * FROM q0 UNION ALL SELECT * FROM exp),
    perf AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               CAST(CAST(ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5)
                                        / (df + 0.5)), 6)
                         AS DECIMAL(18,6)) AS DOUBLE)
               * ((tf * 2.2)
                  / (tf + 1.2 * (0.25 + (0.75 * CAST(dl * n_docs AS DOUBLE))
                                        / CAST(s_tok AS DOUBLE)))), 6)
                  AS DECIMAL(18,6)) AS ts
      FROM tf JOIN qf USING (term) JOIN dl USING (doc_id), st
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(ts) AS DOUBLE) AS bm25
    FROM perf GROUP BY doc_id
    ORDER BY SUM(ts) DESC, doc_id LIMIT 20
    """,
)
def q_bm25_prf_topk(spark, sf_dir):
    return ts.bm25_prf_topk(load_table(spark, sf_dir, "documents"))


@register(
    "qte_deciles",
    """
    WITH spend AS (
      SELECT o_custkey AS c_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
      FROM orders GROUP BY 1
    ),
    base AS (
      SELECT (c_mktsegment = 'AUTOMOBILE') AS treated,
             CAST(COALESCE(sp, CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
               AS spend
      FROM customer LEFT JOIN spend USING (c_custkey)
    ),
    qs AS (
      SELECT treated,
             quantile_cont(spend, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]) AS qv,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY treated
    ),
    t AS (
      SELECT i - 1 AS i, qv[i] AS qt, n AS n_treated
      FROM qs, unnest(range(1, 10)) AS u(i) WHERE treated
    ),
    c AS (
      SELECT i - 1 AS i, qv[i] AS qc, n AS n_control
      FROM qs, unnest(range(1, 10)) AS u(i) WHERE NOT treated
    )
    SELECT CAST(i + 1 AS INTEGER) AS decile, n_treated, n_control,
           ROUND(qt, 6) AS q_treated,
           ROUND(qc, 6) AS q_control,
           ROUND(qt - qc, 6) AS qte
    FROM t JOIN c USING (i)
    """,
)
def q_qte_deciles(spark, sf_dir):
    return ml.qte_deciles(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def _als_rank1_oracle(lam: float = 0.1, rounds: int = 3) -> str:
    """Unrolled ALS replay: one (u_t, v_t) CTE pair per alternation over
    the materialized ratings matrix; all products exact decimals, one
    rounded double division per solve."""
    parts = [
        """ratings AS MATERIALIZED (
      SELECT o_custkey, p_brand, CAST(COUNT(*) AS BIGINT) AS r
      FROM lineitem JOIN part ON l_partkey = p_partkey
                    JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, p_brand
    )""",
        """v0 AS (SELECT DISTINCT p_brand, CAST(1 AS DECIMAL(18,6)) AS v
           FROM ratings)""",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"u{t} AS MATERIALIZED (SELECT o_custkey,"
            f" CAST(ROUND(CAST(SUM(r * v) AS DOUBLE)"
            f" / ({lam!r} + CAST(SUM(v * v) AS DOUBLE)), 6)"
            f" AS DECIMAL(18,6)) AS u"
            f" FROM ratings JOIN v{t - 1} USING (p_brand)"
            f" GROUP BY o_custkey)"
        )
        parts.append(
            f"v{t} AS MATERIALIZED (SELECT p_brand,"
            f" CAST(ROUND(CAST(SUM(r * u) AS DOUBLE)"
            f" / ({lam!r} + CAST(SUM(u * u) AS DOUBLE)), 6)"
            f" AS DECIMAL(18,6)) AS v"
            f" FROM ratings JOIN u{t} USING (o_custkey)"
            f" GROUP BY p_brand)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT p_brand, CAST(v AS DOUBLE) AS v_factor, n_custs, n_ratings
    FROM v{rounds} JOIN (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_custs,
             CAST(SUM(r) AS BIGINT) AS n_ratings
      FROM ratings GROUP BY p_brand
    ) USING (p_brand)"""
    )


@register("als_rank1", _als_rank1_oracle())
def q_als_rank1(spark, sf_dir):
    return ml.als_rank1(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@register("cox_ph_binary", _cox_ph_oracle())
def q_cox_ph_binary(spark, sf_dir):
    return ml.cox_ph_binary(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "logrank_segments",
    # Replays the grouped life table on the dense (t x group) grid, the
    # 6dp-rounded DECIMAL(18,6) e/v sums, and the shared A&S tail
    # (identical repr() literals, identical parenthesization).
    f"""
    WITH pc AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS first_d,
             MAX(CAST(o_orderdate AS DATE)) AS last_d
      FROM orders GROUP BY 1
    ),
    we AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS wend FROM orders),
    dur AS (
      SELECT CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
               AS g,
             CASE WHEN date_diff('day', last_d, wend) > 90
                  THEN 1 ELSE 0 END AS ev,
             CAST(FLOOR(CASE WHEN date_diff('day', last_d, wend) > 90
                        THEN date_diff('day', first_d, last_d)
                        ELSE date_diff('day', first_d, wend)
                        END / 30.0) AS BIGINT) AS t
      FROM pc JOIN customer c ON c.c_custkey = pc.o_custkey, we
    ),
    tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g FROM dur GROUP BY 1),
    cnt AS (
      SELECT t, g, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(1 - ev) AS BIGINT) AS c
      FROM dur GROUP BY 1, 2
    ),
    dense AS (
      SELECT ts.t, tot.g, tot.n_g,
             CAST(COALESCE(cnt.d, 0) AS BIGINT) AS d,
             CAST(COALESCE(cnt.c, 0) AS BIGINT) AS c
      FROM (SELECT DISTINCT t FROM cnt) ts
      CROSS JOIN tot
      LEFT JOIN cnt ON cnt.t = ts.t AND cnt.g = tot.g
    ),
    ar AS (
      SELECT *,
             CAST(n_g - COALESCE(SUM(d + c) OVER (
               PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM dense
    ),
    j AS (
      SELECT g1.t, g1.d AS d1, g1.n_risk AS n1,
             g0.d AS d0, g0.n_risk AS n0
      FROM (SELECT * FROM ar WHERE g = 1) g1
      JOIN (SELECT * FROM ar WHERE g = 0) g0 USING (t)
      WHERE g1.d + g0.d > 0 AND g1.n_risk + g0.n_risk > 1
        AND g1.n_risk > 0 AND g0.n_risk > 0
    ),
    terms AS (
      SELECT d1, d0,
        CAST(ROUND(CAST(d1 + d0 AS DOUBLE) * CAST(n1 AS DOUBLE)
                   / CAST(n1 + n0 AS DOUBLE), 6) AS DECIMAL(18,6)) AS e1,
        CAST(ROUND(CAST(d1 + d0 AS DOUBLE) * CAST(n0 AS DOUBLE)
                   / CAST(n1 + n0 AS DOUBLE), 6) AS DECIMAL(18,6)) AS e0,
        CAST(ROUND(CAST(d1 + d0 AS DOUBLE)
                   * (CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                   * (CAST(n0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
                   * ((CAST(n1 + n0 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE))
                      / (CAST(n1 + n0 AS DOUBLE) - 1.0)), 6)
             AS DECIMAL(18,6)) AS v
      FROM j
    ),
    s AS (
      SELECT CAST(SUM(d1) AS BIGINT) AS o1,
             CAST(SUM(d0) AS BIGINT) AS o0,
             SUM(e1) AS e1, SUM(e0) AS e0, SUM(v) AS v
      FROM terms
    ),
    zc AS (
      SELECT *,
        ROUND((CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE))
              / sqrt(CAST(v AS DOUBLE)), 6) AS z_score,
        ROUND((CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE))
              * (CAST(o1 AS DOUBLE) - CAST(e1 AS DOUBLE))
              / CAST(v AS DOUBLE), 6) AS chi2
      FROM s
    ),
    tt AS (
      SELECT *, 1.0 / (1.0 + {rel.AS_NORMAL_P!r} * abs(z_score)) AS t
      FROM zc
    )
    SELECT (SELECT n_g FROM tot WHERE g = 1) AS n_treated,
           (SELECT n_g FROM tot WHERE g = 0) AS n_control,
           o1 AS o_treated,
           ROUND(CAST(e1 AS DOUBLE), 6) AS e_treated,
           o0 AS o_control,
           ROUND(CAST(e0 AS DOUBLE), 6) AS e_control,
           chi2, z_score,
           ROUND(LEAST(1.0, 2.0 * ({rel.INV_SQRT_2PI!r}
             * exp(-(abs(z_score) * abs(z_score)) / 2.0)
             * (t * ({_BH_B1} + t * ({_BH_B2} + t * ({_BH_B3}
                + t * ({_BH_B4} + t * {_BH_B5}))))))), 6) AS p_value
    FROM tt
    """,
)
def q_logrank_segments(spark, sf_dir):
    return rel.logrank_segments(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "qlm_dirichlet_topk",
    r"""
    WITH tf AS MATERIALIZED (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '[\s\x0b]+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    dfx AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS cf
      FROM tf GROUP BY 1
    ),
    st AS (SELECT (SELECT CAST(SUM(dl) AS BIGINT) FROM dl) AS s_tok),
    q0 AS MATERIALIZED (
      SELECT term, cf FROM dfx ORDER BY df DESC, term LIMIT 5
    ),
    dense AS (
      SELECT dl.doc_id, COALESCE(tf.tf, 0) AS tf0, dl.dl, q0.cf, st.s_tok
      FROM dl CROSS JOIN q0 CROSS JOIN st
      LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = q0.term
    ),
    per AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
             SUM(CAST(ROUND(LN(
               (CAST(tf0 AS DOUBLE)
                + 2000.0 * (CAST(cf AS DOUBLE) / CAST(s_tok AS DOUBLE)))
               / (CAST(dl AS DOUBLE) + 2000.0)), 6)
               AS DECIMAL(18,6))) AS score_dec
      FROM dense GROUP BY 1
    )
    SELECT doc_id, n_matched, CAST(score_dec AS DOUBLE) AS qlm
    FROM per ORDER BY score_dec DESC, doc_id LIMIT 20
    """,
)
def q_qlm_dirichlet_topk(spark, sf_dir):
    return ts.qlm_dirichlet_topk(load_table(spark, sf_dir, "documents"))


_TRIG_ROWS = ",\n           ".join(
    f"({p}, {r}, {cv!r}, {sv!r})"
    for p, r, cv, sv in rel.periodogram_trig_table()
)


@register(
    "periodogram_hourly",
    # Replays the dense hourly grid, the shared literal trig table (same
    # repr() floats the Spark plan embeds via F.lit), the 6dp-rounded
    # DECIMAL(18,6) moment sums, and the identically-parenthesized
    # mean-removal / power expressions.
    f"""
    WITH counted AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM counted GROUP BY 1
    ),
    grid AS (
      SELECT event_type, h0, unnest(generate_series(h0, h1,
             INTERVAL 1 HOUR)) AS hour
      FROM span
    ),
    hourly AS (
      SELECT g.event_type,
             CAST(date_diff('hour', g.h0, g.hour) AS BIGINT) AS h_idx,
             CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM grid g LEFT JOIN counted c
        ON c.event_type = g.event_type AND c.hour = g.hour
    ),
    trig(period, r, cv, sv) AS (
      VALUES {_TRIG_ROWS}
    ),
    rowed AS (
      SELECT h.event_type, t.period, h.x, t.cv, t.sv
      FROM hourly h
      JOIN trig t ON t.r = h.h_idx % t.period
    ),
    sums AS (
      SELECT event_type, period,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(x) AS BIGINT) AS sx,
             SUM(CAST(ROUND(CAST(x AS DOUBLE) * cv, 6)
                 AS DECIMAL(18,6))) AS c,
             SUM(CAST(ROUND(CAST(x AS DOUBLE) * sv, 6)
                 AS DECIMAL(18,6))) AS s,
             SUM(CAST(ROUND(cv, 6) AS DECIMAL(18,6))) AS kc,
             SUM(CAST(ROUND(sv, 6) AS DECIMAL(18,6))) AS ks
      FROM rowed GROUP BY 1, 2
    ),
    powered AS (
      SELECT event_type, period, n_hours,
             ROUND((((CAST(c AS DOUBLE)
                      - (CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE))
                        * CAST(kc AS DOUBLE))
                     * (CAST(c AS DOUBLE)
                      - (CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE))
                        * CAST(kc AS DOUBLE)))
                    + ((CAST(s AS DOUBLE)
                      - (CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE))
                        * CAST(ks AS DOUBLE))
                     * (CAST(s AS DOUBLE)
                      - (CAST(sx AS DOUBLE) / CAST(n_hours AS DOUBLE))
                        * CAST(ks AS DOUBLE))))
                   / CAST(n_hours AS DOUBLE), 6) AS power
      FROM sums
    )
    SELECT event_type, period, n_hours, power,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY power DESC, period) AS INTEGER) AS power_rank
    FROM powered
    """,
)
def q_periodogram_hourly(spark, sf_dir):
    return rel.periodogram_hourly(load_table(spark, sf_dir, "events"))


def _huber_irls_oracle(rounds: int = 3) -> str:
    """Unrolled IRLS replay: OLS moments, the MAD-scaled Huber delta,
    then one (r, m, b, p) CTE quartet per reweighted round — every
    rounded quantity matches the Spark side's 6dp/DECIMAL discipline."""
    parts = ["""
    WITH feat AS MATERIALIZED (
      SELECT CAST(l_quantity AS DECIMAL(12,2)) AS x,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS y
      FROM lineitem
    ),
    m0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(18,6))) AS sx,
             SUM(CAST(y AS DECIMAL(18,6))) AS sy,
             SUM(x * y) AS sxy,
             SUM(x * x) AS sxx
      FROM feat
    ),
    b0 AS (
      SELECT n, sx, sy,
             ROUND((n * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (n * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS b
      FROM m0
    ),
    p0 AS (
      SELECT b,
             ROUND((CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n, 6)
               AS a
      FROM b0
    ),
    sc AS (
      SELECT s0, ROUND(1.345 * s0, 6) AS delta FROM (
        SELECT ROUND(1.4826 * quantile_cont(
                 abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))),
                 0.5), 6) AS s0
        FROM feat, p0
      )
    )"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
    r{i} AS (
      SELECT CAST(x AS DOUBLE) AS xd, CAST(y AS DOUBLE) AS yd,
             abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE)))
               AS absr,
             LEAST(1.0, delta / GREATEST(
               abs(CAST(y AS DOUBLE) - (a + b * CAST(x AS DOUBLE))),
               1e-09)) AS w,
             delta
      FROM feat, p{i - 1}, sc
    ),
    m{i} AS (
      SELECT SUM(CAST(ROUND(w, 6) AS DECIMAL(28,6))) AS sw,
             SUM(CAST(ROUND(w * xd, 6) AS DECIMAL(28,6))) AS swx,
             SUM(CAST(ROUND(w * yd, 6) AS DECIMAL(28,6))) AS swy,
             SUM(CAST(ROUND(w * (xd * yd), 6) AS DECIMAL(28,6)))
               AS swxy,
             SUM(CAST(ROUND(w * (xd * xd), 6) AS DECIMAL(28,6)))
               AS swxx,
             CAST(SUM(CASE WHEN absr > delta THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_down
      FROM r{i}
    ),
    b{i} AS (
      SELECT sw, swx, swy, n_down,
             ROUND((CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
                    - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
                   / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
                    - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)), 6)
               AS b
      FROM m{i}
    ),
    p{i} AS (
      SELECT b,
             ROUND((CAST(swy AS DOUBLE) - b * CAST(swx AS DOUBLE))
                   / CAST(sw AS DOUBLE), 6) AS a,
             n_down
      FROM b{i}
    )""")
    sel = ["""
    SELECT CAST(0 AS INTEGER) AS iter, a AS intercept, b AS slope,
           CAST(0 AS BIGINT) AS n_downweighted, s0, delta
    FROM p0, sc"""]
    for i in range(1, rounds + 1):
        sel.append(f"""
    SELECT CAST({i} AS INTEGER), a, b, n_down, s0, delta
    FROM p{i}, sc""")
    return "".join(parts) + "\n    UNION ALL".join(sel)


@register("huber_irls", _huber_irls_oracle())
def q_huber_irls(spark, sf_dir):
    return ml.huber_irls(load_table(spark, sf_dir, "lineitem"))


@register(
    "pairwise_welch_bonferroni",
    # Replays the 6dp DECIMAL(28,6) moment sums, the Welch z on rounded
    # mean/var, the shared A&S tail, and the Bonferroni product.
    f"""
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ROUND(CAST(value AS DOUBLE), 6)
                 AS DECIMAL(28,6))) AS sv,
             SUM(CAST(ROUND(CAST(value AS DOUBLE)
                            * CAST(value AS DOUBLE), 6)
                 AS DECIMAL(28,6))) AS svv
      FROM events GROUP BY 1
    ),
    summ AS (
      SELECT event_type, n,
             ROUND(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS m,
             ROUND((CAST(svv AS DOUBLE)
                    - (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                      / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1.0), 6) AS v
      FROM g
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS n_a, b.n AS n_b, a.m AS mean_a, b.m AS mean_b,
             a.v AS var_a, b.v AS var_b
      FROM summ a JOIN summ b ON a.event_type < b.event_type
    ),
    zed AS (
      SELECT *,
             ROUND((mean_a - mean_b)
                   / sqrt(var_a / CAST(n_a AS DOUBLE)
                          + var_b / CAST(n_b AS DOUBLE)), 6) AS z_score
      FROM pairs
    ),
    tt AS (
      SELECT *, 1.0 / (1.0 + {rel.AS_NORMAL_P!r} * abs(z_score)) AS t
      FROM zed
    ),
    pv AS (
      SELECT type_a, type_b, n_a, n_b, mean_a, mean_b, var_a, var_b,
             z_score,
             ROUND(LEAST(1.0, 2.0 * ({rel.INV_SQRT_2PI!r}
               * exp(-(abs(z_score) * abs(z_score)) / 2.0)
               * (t * ({_BH_B1} + t * ({_BH_B2} + t * ({_BH_B3}
                  + t * ({_BH_B4} + t * {_BH_B5}))))))), 6) AS p_value,
             COUNT(*) OVER () AS n_tests
      FROM tt
    )
    SELECT type_a, type_b, n_a, n_b, mean_a, mean_b,
           ROUND(mean_a - mean_b, 6) AS mean_diff, z_score, p_value,
           CAST(n_tests AS BIGINT) AS n_tests,
           ROUND(LEAST(1.0, p_value * CAST(n_tests AS DOUBLE)), 6)
             AS p_bonferroni,
           CAST(ROUND(LEAST(1.0, p_value * CAST(n_tests AS DOUBLE)), 6)
                < 0.05 AS INTEGER) AS significant
    FROM pv
    """,
)
def q_pairwise_welch_bonferroni(spark, sf_dir):
    return rel.pairwise_welch_bonferroni(load_table(spark, sf_dir, "events"))


def _register_ann_map_at_k() -> None:
    """Embed-the-replays construction (ann_recall_metrics pattern): the
    MAP oracle is both rankings + a hit-prefix window + one aggregate."""

    # the embedded full replays are post-filtered to the audit's fixed
    # md5-ordered query budget — equivalent to the Spark side's
    # query-set capping because every per-query ranking is independent
    # of other queries
    samp = (
        "query_id IN (SELECT vec_id FROM ("
        + _qids_select(100, sim.AUDIT_MAX_QUERIES)
        + "))"
    )

    @register(
        "ann_map_at_k",
        f"""
    WITH approx AS (
      SELECT * FROM ({ORACLES["similarity_ivf_topk"]}) WHERE {samp}),
    exact AS (
      SELECT * FROM ({ORACLES["similarity_topk"]}) WHERE {samp}),
    hits AS (
      SELECT a.query_id, a.rank,
             CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM approx a LEFT JOIN exact e
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    ),
    prec AS (
      SELECT query_id, hit,
             CASE WHEN hit = 1 THEN
               CAST(ROUND(CAST(SUM(hit) OVER (PARTITION BY query_id
                      ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS DOUBLE) / rank, 6)
                    AS DECIMAL(18,6))
             ELSE CAST(0 AS DECIMAL(18,6)) END AS p
      FROM hits
    )
    SELECT query_id,
           CAST(SUM(hit) AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(p) AS DOUBLE) / 10.0, 6) AS ap_at_k
    FROM prec GROUP BY query_id
    """,
    )
    def q_ann_map_at_k(spark, sf_dir):
        return sim.ann_map_at_k(load_table(spark, sf_dir, "embeddings"))


_register_ann_map_at_k()


@register(
    "encoding_anomaly",
    """
    WITH per AS (
      SELECT source,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '\ufffd')) AS BIGINT)
               AS n_repl,
             CAST(len(regexp_extract_all(text,
                  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS BIGINT)
               AS n_ctrl,
             CAST(len(regexp_extract_all(text, '\u00c3|\u00e2\u20ac'))
                  AS BIGINT) AS n_moji
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_repl + n_ctrl + n_moji > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           ROUND(CAST(SUM(CASE WHEN n_repl + n_ctrl + n_moji > 0
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS frac_flagged,
           CAST(SUM(n_repl) AS BIGINT) AS sum_repl,
           CAST(SUM(n_ctrl) AS BIGINT) AS sum_ctrl,
           CAST(SUM(n_moji) AS BIGINT) AS sum_moji,
           ROUND(10000.0 * CAST(SUM(n_repl) AS DOUBLE)
                 / CAST(SUM(n_chars) AS DOUBLE), 6) AS repl_per_10k,
           ROUND(10000.0 * CAST(SUM(n_ctrl) AS DOUBLE)
                 / CAST(SUM(n_chars) AS DOUBLE), 6) AS ctrl_per_10k,
           ROUND(10000.0 * CAST(SUM(n_moji) AS DOUBLE)
                 / CAST(SUM(n_chars) AS DOUBLE), 6) AS moji_per_10k
    FROM per GROUP BY source
    """,
)
def q_encoding_anomaly(spark, sf_dir):
    return ts.encoding_anomaly(load_table(spark, sf_dir, "documents"))


@register(
    "kneser_ney_bigram",
    """
    WITH t AS (
      SELECT list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    b AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)
      WHERE len(toks) >= 2
    ),
    c AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM b GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM c),
    w AS (
      SELECT w1, w2, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY w1) AS BIGINT) AS c1,
             CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS t1,
             CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS l2
      FROM c
    )
    SELECT w1, w2, cnt,
           ROUND(CAST(cnt AS DOUBLE) / CAST(c1 AS DOUBLE), 6)
             AS cond_p_mle,
           ROUND((CAST(cnt AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
                 + ((0.75 * CAST(t1 AS DOUBLE)) / CAST(c1 AS DOUBLE))
                   * (CAST(l2 AS DOUBLE) / CAST(bt AS DOUBLE)), 6)
             AS cond_p_kn
    FROM w, tot
    """,
)
def q_kneser_ney_bigram(spark, sf_dir):
    return ts.kneser_ney_bigram(load_table(spark, sf_dir, "documents"))


@register(
    "burrows_delta",
    """
    WITH ex AS MATERIALIZED (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source,
                   unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                      x -> x <> '')) AS word
            FROM documents)
      GROUP BY 1, 2
    ),
    s_tot AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS s_tot
              FROM ex GROUP BY 1),
    top AS (
      SELECT word FROM (
        SELECT word, CAST(SUM(cnt) AS BIGINT) AS w_tot
        FROM ex GROUP BY 1
      ) ORDER BY w_tot DESC, word LIMIT 20
    ),
    dense AS (
      SELECT s.source, t.word,
             CAST(ROUND(CAST(COALESCE(e.cnt, 0) AS DOUBLE)
                        / CAST(s.s_tot AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS f
      FROM s_tot s CROSS JOIN top t
      LEFT JOIN ex e ON e.source = s.source AND e.word = t.word
    ),
    st AS (
      SELECT word,
             ROUND(CAST(SUM(f) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS mu,
             ROUND(sqrt((CAST(SUM(CAST(ROUND(CAST(f AS DOUBLE)
                                             * CAST(f AS DOUBLE), 6)
                                       AS DECIMAL(18,6))) AS DOUBLE)
                         - (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) AS DOUBLE))
                           / CAST(COUNT(*) AS DOUBLE))
                        / (CAST(COUNT(*) AS DOUBLE) - 1.0)), 6) AS sigma
      FROM dense GROUP BY 1
    ),
    z AS (
      SELECT d.source, d.word,
             ROUND((CAST(f AS DOUBLE) - mu) / sigma, 6) AS z
      FROM dense d JOIN st USING (word)
      WHERE sigma > 0
    )
    , g AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             SUM(CAST(ROUND(abs(a.z - b.z), 6) AS DECIMAL(18,6)))
               AS sum_absz
      FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    -- half-up integer division in micro-units: the mean of 6dp
    -- decimals can land exactly on a rounding tie where double
    -- ROUND() breaks differently across engines
    SELECT source_a, source_b, n_words,
           CAST((CAST(sum_absz * 1000000 AS BIGINT) * 2 + n_words)
                // (2 * n_words) AS DOUBLE) / 1000000.0 AS delta
    FROM g
    """,
)
def q_burrows_delta(spark, sf_dir):
    return ts.burrows_delta(load_table(spark, sf_dir, "documents"))


@register(
    "t_closeness",
    """
    WITH segg AS (
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS gc
      FROM customer GROUP BY 1
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
    cell AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment, CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2, 3
    ),
    cls AS (
      SELECT c_nationkey, bal_band, CAST(SUM(c) AS BIGINT) AS n_cls
      FROM cell GROUP BY 1, 2
    ),
    dense AS (
      SELECT cls.c_nationkey, cls.bal_band, cls.n_cls,
             CAST(COALESCE(cell.c, 0) AS BIGINT) AS c, segg.gc, nt.n
      FROM cls CROSS JOIN segg CROSS JOIN nt
      LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
        AND cell.bal_band = cls.bal_band
        AND cell.c_mktsegment = segg.c_mktsegment
    ),
    per_cls AS (
      SELECT c_nationkey, bal_band, n_cls,
             ROUND(0.5 * CAST(SUM(CAST(ROUND(abs(
               CAST(c AS DOUBLE) / CAST(n_cls AS DOUBLE)
               - CAST(gc AS DOUBLE) / CAST(n AS DOUBLE)), 6)
               AS DECIMAL(18,6))) AS DOUBLE), 6) AS t
      FROM dense GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           MAX(t) AS max_t,
           CAST(SUM(CASE WHEN t > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_t_gt_02,
           CAST(SUM(CASE WHEN t > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_t_gt_03,
           ROUND(CAST(SUM(CASE WHEN t > 0.2 THEN n_cls ELSE 0 END)
                      AS DOUBLE) / CAST(SUM(n_cls) AS DOUBLE), 6)
             AS frac_customers_exposed
    FROM per_cls
    """,
)
def q_t_closeness(spark, sf_dir):
    return rel.t_closeness(load_table(spark, sf_dir, "customer"))


@register(
    "levene_bf",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT e.event_type,
             abs(CAST(value AS DOUBLE) - med) AS z
      FROM events e JOIN med USING (event_type)
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
             SUM(CAST(ROUND(z, 6) AS DECIMAL(28,6))) AS sz,
             SUM(CAST(ROUND(z * z, 6) AS DECIMAL(28,6))) AS szz
      FROM z GROUP BY 1
    ),
    g2 AS (
      SELECT event_type, n_g, sz,
             ROUND(CAST(sz AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS m_g,
             CAST(ROUND(CAST(szz AS DOUBLE)
                        - CAST(n_g AS DOUBLE)
                          * (ROUND(CAST(sz AS DOUBLE)
                                   / CAST(n_g AS DOUBLE), 6)
                             * ROUND(CAST(sz AS DOUBLE)
                                     / CAST(n_g AS DOUBLE), 6)), 6)
                  AS DECIMAL(28,6)) AS within_d
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(within_d) AS within,
             ROUND(CAST(SUM(sz) AS DOUBLE)
                   / CAST(CAST(SUM(n_g) AS BIGINT) AS DOUBLE), 6) AS gm
      FROM g2
    ),
    btw AS (
      SELECT n, k, within, gm,
             SUM(CAST(ROUND(CAST(n_g AS DOUBLE)
                 * ((m_g - gm) * (m_g - gm)), 6)
                 AS DECIMAL(28,6))) AS between_d
      FROM g2 CROSS JOIN tot
      GROUP BY 1, 2, 3, 4
    )
    SELECT k AS k_groups, n,
           CASE WHEN within > 0 THEN
             ROUND(((CAST(n AS DOUBLE) - CAST(k AS DOUBLE))
                    * CAST(between_d AS DOUBLE))
                   / ((CAST(k AS DOUBLE) - 1.0)
                    * CAST(within AS DOUBLE)), 6)
           END AS w_stat,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(n - k AS BIGINT) AS df2
    FROM btw
    """,
)
def q_levene_bf(spark, sf_dir):
    return rel.levene_bf(load_table(spark, sf_dir, "events"))


@register(
    "synthetic_control",
    """
    WITH cells AS (
      SELECT c.c_nationkey AS nation,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    months AS (
      SELECT month,
             CAST(ROW_NUMBER() OVER (ORDER BY month) AS INTEGER)
               AS month_idx
      FROM (SELECT DISTINCT month FROM cells)
    ),
    nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS nm FROM months),
    dense AS (
      SELECT n.nation, m.month, m.month_idx,
             CAST(COALESCE(c.y, 0) AS BIGINT) AS y,
             m.month_idx <= FLOOR(CAST(nm.nm AS DOUBLE) * 0.5) AS is_pre
      FROM (SELECT DISTINCT nation FROM cells) n
      CROSS JOIN months m CROSS JOIN nm
      LEFT JOIN cells c ON c.nation = n.nation AND c.month = m.month
    ),
    treated AS (
      SELECT month, month_idx, is_pre, y AS y0 FROM dense
      WHERE nation = 0
    ),
    donors AS (SELECT * FROM dense WHERE nation <> 0),
    d AS (
      SELECT dn.nation,
             CAST(SUM((t.y0 - dn.y) * (t.y0 - dn.y)) AS BIGINT) AS d
      FROM donors dn JOIN treated t
        ON t.month = dn.month AND t.month_idx = dn.month_idx
       AND t.is_pre = dn.is_pre
      WHERE dn.is_pre
      GROUP BY 1
    ),
    wraw AS (
      SELECT nation,
             CAST(ROUND(1.0 / (CAST(d AS DOUBLE) + 1.0), 6)
                  AS DECIMAL(18,6)) AS wr
      FROM d
    ),
    ws AS (SELECT SUM(wr) AS ws FROM wraw),
    weights AS (
      SELECT nation,
             ROUND(CAST(wr AS DOUBLE) / CAST(ws AS DOUBLE), 6) AS w
      FROM wraw, ws
    ),
    synth AS (
      SELECT dn.month, dn.month_idx, dn.is_pre,
             SUM(CAST(ROUND(w.w * CAST(dn.y AS DOUBLE), 6)
                 AS DECIMAL(18,6))) AS synth_d
      FROM donors dn JOIN weights w ON w.nation = dn.nation
      GROUP BY 1, 2, 3
    )
    SELECT t.month_idx,
           strftime(t.month, '%Y-%m') AS month,
           CASE WHEN t.is_pre THEN 'pre' ELSE 'post' END AS period,
           t.y0 AS actual,
           CAST(synth_d AS DOUBLE) AS synthetic,
           ROUND(CAST(t.y0 AS DOUBLE) - CAST(synth_d AS DOUBLE), 6)
             AS gap
    FROM treated t JOIN synth s
      ON s.month = t.month AND s.month_idx = t.month_idx
     AND s.is_pre = t.is_pre
    """,
)
def q_synthetic_control(spark, sf_dir):
    return ml.synthetic_control(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def _fs_lik(prefix: str) -> str:
    """The 3-factor agreement likelihood with Spark's exact tree:
    ((1.0 * f1) * f2) * f3, fi = CASE on the pattern bit."""
    out = "1.0"
    for i in (1, 2, 3):
        out += (f" * CASE WHEN g{i} = 1 THEN {prefix}{i}"
                f" ELSE 1.0 - {prefix}{i} END")
    return "(" + out + ")"


def _fs_round(prev: str, r: int) -> str:
    """One EM round: posterior per pattern, M-step sums, new params."""
    num = f"(pi * {_fs_lik('m')})"
    den = f"({num} + ((1.0 - pi) * {_fs_lik('u')}))"
    sums = ["SUM(CAST(ROUND(w * CAST(n_pairs AS DOUBLE), 6)"
            " AS DECIMAL(28,6))) AS sw",
            "CAST(SUM(n_pairs) AS BIGINT) AS n"]
    for i in (1, 2, 3):
        sums.append(
            f"SUM(CAST(ROUND(w * CAST(n_pairs AS DOUBLE)"
            f" * CAST(g{i} AS DOUBLE), 6) AS DECIMAL(28,6))) AS swg{i}")
        sums.append(
            f"SUM(CAST(ROUND((1.0 - w) * CAST(n_pairs AS DOUBLE)"
            f" * CAST(g{i} AS DOUBLE), 6) AS DECIMAL(28,6))) AS sug{i}")
    ps = ["ROUND(CAST(sw AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pi"]
    for i in (1, 2, 3):
        ps.append(f"ROUND(CAST(swg{i} AS DOUBLE) / CAST(sw AS DOUBLE), 6)"
                  f" AS m{i}")
    for i in (1, 2, 3):
        ps.append(f"ROUND(CAST(sug{i} AS DOUBLE) / (CAST(n AS DOUBLE)"
                  f" - CAST(sw AS DOUBLE)), 6) AS u{i}")
    return f""",
    e{r} AS (
      SELECT g1, g2, g3, n_pairs, ROUND({num} / {den}, 6) AS w
      FROM pat, {prev}
    ),
    s{r} AS (SELECT {", ".join(sums)} FROM e{r}),
    p{r} AS (SELECT {", ".join(ps)} FROM s{r})"""


def _fellegi_sunter_oracle(rounds: int = 3) -> str:
    head = """
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS blk,
             CAST(FLOOR(c_acctbal / 10.0) AS BIGINT) AS fine,
             right(c_name, 1) AS nm1
      FROM customer
    ),
    pat AS MATERIALIZED (
      SELECT CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS g1,
             CAST(a.fine = b.fine AS INT) AS g2,
             CAST(a.nm1 = b.nm1 AS INT) AS g3,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
        AND a.blk = b.blk AND a.c_custkey < b.c_custkey
      GROUP BY 1, 2, 3
    ),
    p0 AS (SELECT 0.1 AS pi, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
                  0.1 AS u1, 0.1 AS u2, 0.1 AS u3)"""
    body = "".join(_fs_round(f"p{r - 1}", r) for r in range(1, rounds + 1))
    num = f"(pi * {_fs_lik('m')})"
    den = f"({num} + ((1.0 - pi) * {_fs_lik('u')}))"
    tail = f"""
    SELECT g1, g2, g3, n_pairs,
           ROUND({num} / {den}, 6) AS posterior,
           CAST(ROUND({num} / {den}, 6) >= 0.5 AS INT) AS is_match,
           pi, m1, m2, m3, u1, u2, u3
    FROM pat, p{rounds}"""
    return head + body + tail


@register("fellegi_sunter_em", _fellegi_sunter_oracle())
def q_fellegi_sunter_em(spark, sf_dir):
    return ml.fellegi_sunter_em(load_table(spark, sf_dir, "customer"))


@register(
    "text_tiling_cohesion",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, CAST(i AS BIGINT) // 20 AS b, toks[i + 1] AS word
      FROM t, unnest(range(0, len(toks))) AS u(i)
    ),
    blk AS MATERIALIZED (
      SELECT doc_id, b, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2, 3
    ),
    norms AS MATERIALIZED (
      SELECT doc_id, b, CAST(SUM(cnt * cnt) AS BIGINT) AS ss
      FROM blk GROUP BY 1, 2
    ),
    spine AS (
      SELECT a.doc_id, a.b AS bd, a.ss AS ss_a, c.ss AS ss_b
      FROM norms a JOIN norms c
        ON c.doc_id = a.doc_id AND c.b = a.b + 1
    ),
    dots AS (
      SELECT la.doc_id, la.b AS bd,
             CAST(SUM(la.cnt * lb.cnt) AS BIGINT) AS dot
      FROM blk la JOIN blk lb
        ON lb.doc_id = la.doc_id AND lb.b = la.b + 1
       AND lb.word = la.word
      GROUP BY 1, 2
    ),
    coh AS (
      SELECT s.doc_id, s.bd,
             ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE)
                   / (sqrt(CAST(ss_a AS DOUBLE))
                      * sqrt(CAST(ss_b AS DOUBLE))), 6) AS c
      FROM spine s LEFT JOIN dots d
        ON d.doc_id = s.doc_id AND d.bd = s.bd
    ),
    blocks AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks
      FROM norms GROUP BY 1
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY c, bd) AS rn
      FROM coh
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_boundaries,
             MIN(c) AS min_cohesion,
             CAST(MAX(CASE WHEN rn = 1 THEN bd END) AS BIGINT)
               AS weakest_boundary,
             SUM(CAST(c AS DECIMAL(18,6))) AS sum_c
      FROM ranked GROUP BY 1
    )
    SELECT p.doc_id, b.n_blocks, p.n_boundaries, p.min_cohesion,
           p.weakest_boundary,
           CAST((CAST(sum_c * 1000000 AS BIGINT) * 2 + n_boundaries)
                // (2 * n_boundaries) AS DOUBLE) / 1000000.0
             AS mean_cohesion
    FROM per_doc p JOIN blocks b USING (doc_id)
    """,
)
def q_text_tiling_cohesion(spark, sf_dir):
    return ts.text_tiling_cohesion(load_table(spark, sf_dir, "documents"))


@register(
    "cmh_test",
    f"""
    WITH pc AS (
      SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d
      FROM orders GROUP BY 1
    ),
    we AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS wend FROM orders),
    flags AS (
      SELECT c.c_nationkey,
             CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
               AS x,
             CASE WHEN date_diff('day', last_d, wend) > 90
                  THEN 1 ELSE 0 END AS y
      FROM pc JOIN customer c ON c.c_custkey = pc.o_custkey, we
    ),
    cells AS (
      SELECT c_nationkey,
             CAST(SUM(x * y) AS BIGINT) AS a,
             CAST(SUM(x * (1 - y)) AS BIGINT) AS b,
             CAST(SUM((1 - x) * y) AS BIGINT) AS c,
             CAST(SUM((1 - x) * (1 - y)) AS BIGINT) AS d
      FROM flags GROUP BY 1
    ),
    terms AS (
      SELECT a,
             CAST(ROUND(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
                        / CAST(a + b + c + d AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS e,
             CAST(ROUND(((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE))
                         * (CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)))
                        / ((CAST(a + b + c + d AS DOUBLE)
                            * CAST(a + b + c + d AS DOUBLE))
                           * (CAST(a + b + c + d AS DOUBLE) - 1.0)), 6)
                  AS DECIMAL(18,6)) AS v,
             CAST(ROUND(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                        / CAST(a + b + c + d AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS orn,
             CAST(ROUND(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                        / CAST(a + b + c + d AS DOUBLE), 6)
                  AS DECIMAL(18,6)) AS ord
      FROM cells WHERE a + b + c + d >= 2
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM(a) AS BIGINT) AS sum_a,
             SUM(e) AS sum_e, SUM(v) AS sum_v,
             SUM(orn) AS orn, SUM(ord) AS ord
      FROM terms
    ),
    zc AS (
      SELECT n_strata, sum_a,
             ROUND(CAST(sum_e AS DOUBLE), 6) AS sum_e,
             ROUND(CAST(sum_v AS DOUBLE), 6) AS sum_v,
             CASE WHEN CAST(sum_v AS DOUBLE) > 0 THEN
               ROUND(((abs(CAST(sum_a AS DOUBLE) - CAST(sum_e AS DOUBLE))
                       - 0.5)
                      * (abs(CAST(sum_a AS DOUBLE) - CAST(sum_e AS DOUBLE))
                         - 0.5))
                     / CAST(sum_v AS DOUBLE), 6)
             END AS cmh,
             CASE WHEN CAST(ord AS DOUBLE) > 0 THEN
               ROUND(CAST(orn AS DOUBLE) / CAST(ord AS DOUBLE), 6)
             END AS or_mh
      FROM s
    ),
    tt AS (
      SELECT *, 1.0 / (1.0 + {rel.AS_NORMAL_P!r} * sqrt(cmh)) AS t
      FROM zc
    )
    SELECT n_strata, sum_a, sum_e, sum_v, cmh,
           CASE WHEN cmh IS NOT NULL THEN
             ROUND(LEAST(1.0, 2.0 * ({rel.INV_SQRT_2PI!r}
               * exp(-(sqrt(cmh) * sqrt(cmh)) / 2.0)
               * (t * ({_BH_B1} + t * ({_BH_B2} + t * ({_BH_B3}
                  + t * ({_BH_B4} + t * {_BH_B5}))))))), 6)
           END AS p_value,
           or_mh
    FROM tt
    """,
)
def q_cmh_test(spark, sf_dir):
    return rel.cmh_test(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@register(
    "wasserstein_source_lengths",
    """
    WITH lens AS (
      SELECT source,
             CAST(len(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                  x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    qs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             quantile_cont(n_tok, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]) AS qv
      FROM lens GROUP BY 1
    ),
    ex AS (
      SELECT source, n_docs, CAST(i AS INTEGER) - 1 AS i, qv[i] AS q
      FROM qs, unnest(range(1, 10)) AS u(i)
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
             CAST(ROUND(abs(a.q - b.q), 6) AS DECIMAL(18,6)) AS d
      FROM ex a JOIN ex b ON a.i = b.i AND a.source < b.source
    ),
    g AS (
      SELECT source_a, source_b, n_docs_a, n_docs_b,
             CAST(COUNT(*) AS BIGINT) AS n_q, SUM(d) AS sum_d
      FROM pairs GROUP BY 1, 2, 3, 4
    )
    SELECT source_a, source_b, n_docs_a, n_docs_b,
           CAST((CAST(sum_d * 1000000 AS BIGINT) * 2 + n_q)
                // (2 * n_q) AS DOUBLE) / 1000000.0 AS w1_tokens
    FROM g
    """,
)
def q_wasserstein_source_lengths(spark, sf_dir):
    return ts.wasserstein_source_lengths(
        load_table(spark, sf_dir, "documents")
    )


# rows-only: DEFLATE has no SQL replay; fixture-tested instead
# (tests/test_round7_additions.py plants repetitive vs prose docs).
@register("compression_ratio_quality", None)
def q_compression_ratio_quality(spark, sf_dir):
    return pu.compression_ratio_quality(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "sax_hourly",
    f"""
    WITH counted AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM counted GROUP BY 1
    ),
    grid AS (
      SELECT event_type, h0,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM span
    ),
    hourly AS (
      SELECT g.event_type,
             CAST(date_diff('hour', g.h0, g.hour) AS BIGINT) AS h,
             CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM grid g LEFT JOIN counted c
        ON c.event_type = g.event_type AND c.hour = g.hour
    ),
    stats AS (
      SELECT event_type,
             ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS m,
             ROUND(sqrt((CAST(SUM(x * x) AS DOUBLE)
                         - (CAST(SUM(x) AS DOUBLE)
                            * CAST(SUM(x) AS DOUBLE))
                           / CAST(COUNT(*) AS DOUBLE))
                        / CAST(COUNT(*) AS DOUBLE)), 6) AS s
      FROM hourly GROUP BY 1
    ),
    seg AS (
      SELECT event_type, h // 4 AS seg,
             CAST(SUM(x) AS BIGINT) AS sx_seg,
             CAST(COUNT(*) AS BIGINT) AS len_seg
      FROM hourly GROUP BY 1, 2
    ),
    paa AS (
      SELECT sg.event_type, sg.seg,
             ROUND((CAST(sx_seg AS DOUBLE) / CAST(len_seg AS DOUBLE)
                    - st.m) / st.s, 6) AS pz
      FROM seg sg JOIN stats st USING (event_type)
      WHERE st.s > 0
    ),
    lettered AS (
      SELECT event_type, seg,
             CASE WHEN pz < {rel.SAX_BREAKPOINTS[0]!r} THEN 'a'
                  WHEN pz < {rel.SAX_BREAKPOINTS[1]!r} THEN 'b'
                  WHEN pz < {rel.SAX_BREAKPOINTS[2]!r} THEN 'c'
                  ELSE 'd' END AS sym
      FROM paa
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           string_agg(sym, '' ORDER BY seg) AS sax
    FROM lettered GROUP BY 1
    """,
)
def q_sax_hourly(spark, sf_dir):
    return rel.sax_hourly(load_table(spark, sf_dir, "events"))


@register(
    "hurst_hourly",
    """
    WITH counted AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM counted GROUP BY 1
    ),
    grid AS (
      SELECT event_type, h0,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM span
    ),
    hourly AS (
      SELECT g.event_type,
             CAST(date_diff('hour', g.h0, g.hour) AS BIGINT) AS h,
             CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM grid g LEFT JOIN counted c
        ON c.event_type = g.event_type AND c.hour = g.hour
    ),
    blocks AS (
      SELECT event_type, m, h // m AS blk,
             CAST(SUM(x) AS BIGINT) AS sb,
             CAST(COUNT(*) AS BIGINT) AS lb
      FROM hourly, (VALUES (1), (2), (4), (8), (16)) AS sz(m)
      GROUP BY 1, 2, 3
    ),
    vstats AS (
      SELECT event_type, m,
             CAST(COUNT(*) AS BIGINT) AS nb,
             SUM(CAST(ROUND(CAST(sb AS DOUBLE) / CAST(m AS DOUBLE), 6)
                 AS DECIMAL(28,6))) AS s1,
             SUM(CAST(ROUND((CAST(sb AS DOUBLE) / CAST(m AS DOUBLE))
                            * (CAST(sb AS DOUBLE) / CAST(m AS DOUBLE)),
                            6) AS DECIMAL(28,6))) AS s2
      FROM blocks WHERE lb = m
      GROUP BY 1, 2
    ),
    pts AS (
      SELECT event_type, m,
             ROUND((CAST(s2 AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                      / CAST(nb AS DOUBLE)) / CAST(nb AS DOUBLE), 6)
               AS v
      FROM vstats WHERE nb >= 2
    ),
    logs AS (
      SELECT event_type,
             ROUND(LN(CAST(m AS DOUBLE)), 6) AS lx,
             ROUND(LN(v), 6) AS ly
      FROM pts WHERE v > 0
    ),
    reg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(lx AS DECIMAL(18,6))) AS sx,
             SUM(CAST(ly AS DECIMAL(18,6))) AS sy,
             SUM(CAST(ROUND(lx * ly, 6) AS DECIMAL(18,6))) AS sxy,
             SUM(CAST(ROUND(lx * lx, 6) AS DECIMAL(18,6))) AS sxx
      FROM logs GROUP BY 1
      HAVING COUNT(*) >= 3
    ),
    sl AS (
      SELECT event_type, k,
             ROUND((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS var_slope
      FROM reg
    )
    SELECT event_type, k AS n_scales, var_slope,
           ROUND(1.0 + var_slope / 2.0, 6) AS hurst
    FROM sl
    """,
)
def q_hurst_hourly(spark, sf_dir):
    return rel.hurst_hourly(load_table(spark, sf_dir, "events"))


def _register_ljung_box() -> None:
    """Embed the registered ACF replay (ann_recall_metrics pattern) and
    add the portmanteau sum + Wilson-Hilferty tail on top."""

    @register(
        "ljung_box",
        f"""
    WITH acf AS ({ORACLES["acf_hourly"]}),
    hourly AS (
      SELECT date_trunc('hour', ts) AS h FROM events GROUP BY 1
    ),
    nn AS (
      SELECT CAST(date_diff('hour', MIN(h), MAX(h)) + 1 AS BIGINT) AS n
      FROM hourly
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m, MIN(n) AS n,
             SUM(CAST(ROUND((acf * acf)
                 / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)), 6)
                 AS DECIMAL(18,6))) AS st
      FROM acf, nn
    ),
    qq AS (
      SELECT m, n,
             ROUND((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0))
                   * CAST(st AS DOUBLE), 6) AS q_stat
      FROM s
    ),
    zz AS (
      SELECT m, n, q_stat,
             ROUND((ROUND(cbrt(q_stat / CAST(m AS DOUBLE)), 6)
                    - (1.0 - 2.0 / (9.0 * CAST(m AS DOUBLE))))
                   / sqrt(2.0 / (9.0 * CAST(m AS DOUBLE))), 6) AS z_wh
      FROM qq
    ),
    tt AS (
      SELECT *, 1.0 / (1.0 + {rel.AS_NORMAL_P!r} * abs(z_wh)) AS t
      FROM zz
    ),
    pv AS (
      SELECT m, n, q_stat, z_wh,
             ROUND(CASE WHEN z_wh >= 0 THEN ({rel.INV_SQRT_2PI!r} * exp(-(abs(z_wh) * abs(z_wh)) / 2.0) * (t * ({_BH_B1} + t * ({_BH_B2} + t * ({_BH_B3} + t * ({_BH_B4} + t * {_BH_B5}))))))
                   ELSE 1.0 - ({rel.INV_SQRT_2PI!r} * exp(-(abs(z_wh) * abs(z_wh)) / 2.0) * (t * ({_BH_B1} + t * ({_BH_B2} + t * ({_BH_B3} + t * ({_BH_B4} + t * {_BH_B5})))))) END, 6) AS p_value
      FROM tt
    )
    SELECT m AS n_lags, n, q_stat, z_wh, p_value,
           CAST(p_value < 0.05 AS INT) AS reject_white_noise
    FROM pv
    """,
    )
    def q_ljung_box(spark, sf_dir):
        return rel.ljung_box(load_table(spark, sf_dir, "events"))


_register_ljung_box()


@register(
    "two_pass_exact_median",
    # ground truth is the DIRECT full-sort order statistics — a
    # different algorithm than the two-pass histogram, same semantics
    """
    WITH v AS (
      SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS v FROM lineitem
    ),
    nn AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST((COUNT(*) + 1) // 2 AS BIGINT) AS k_lo,
             CAST(COUNT(*) // 2 + 1 AS BIGINT) AS k_hi
      FROM v
    ),
    r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS r FROM v),
    sel AS (
      SELECT MAX(CASE WHEN rr.r = nn.k_lo THEN rr.v END) AS lo,
             MAX(CASE WHEN rr.r = nn.k_hi THEN rr.v END) AS hi
      FROM r rr, nn
    )
    SELECT nn.n,
           ROUND((CAST(lo AS DOUBLE) + CAST(hi AS DOUBLE)) / 2.0, 6)
             AS median
    FROM sel, nn
    """,
)
def q_two_pass_exact_median(spark, sf_dir):
    return rel.two_pass_exact_median(load_table(spark, sf_dir, "lineitem"))


@register(
    "image_ahash_neardup",
    # re-derives the deterministic pixels from md5 hex and replays
    # block/threshold/band/popcount — the Spark side additionally
    # proves the PGM binary round-trip produced the same pixels
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 1 THEN doc_id - 1
                  ELSE doc_id END AS base,
             doc_id % 10 = 1 AS pert
      FROM documents
    ),
    rows_ AS (
      SELECT doc_id, pert, r,
             md5(CAST(base AS VARCHAR) || ':' || CAST(r AS VARCHAR)) AS h
      FROM d, unnest(range(0, 16)) AS u(r)
    ),
    px AS (
      SELECT doc_id, r, c,
             CASE WHEN pert AND r = 0 AND c = 0
                  THEN (CAST(('0x' || substr(h, 1, 2)) AS INT) + 1) % 256
                  ELSE CAST(('0x' || substr(h, CAST(2 * c + 1 AS INT), 2))
                            AS INT) END AS val
      FROM rows_, unnest(range(0, 16)) AS v(c)
    ),
    cell AS (
      SELECT doc_id, r // 2 AS i, c // 2 AS j,
             CAST(SUM(val) // 4 AS BIGINT) AS b
      FROM px GROUP BY 1, 2, 3
    ),
    s AS (SELECT doc_id, CAST(SUM(b) AS BIGINT) AS sm
          FROM cell GROUP BY 1),
    bits AS (
      SELECT cell.doc_id, i * 8 + j AS k,
             CAST(b * 64 > sm AS BIGINT) AS bit
      FROM cell JOIN s USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, k // 16 AS band,
             CAST(SUM(bit << CAST(k % 16 AS INT)) AS BIGINT) AS bv
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(SUM(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
    FROM cand c
    JOIN bands x ON x.doc_id = c.doc_a
    JOIN bands y ON y.doc_id = c.doc_b AND y.band = x.band
    GROUP BY 1, 2
    HAVING SUM(bit_count(xor(x.bv, y.bv))) <= 10
    """,
)
def q_image_ahash_neardup(spark, sf_dir):
    return mm.image_ahash_neardup(load_table(spark, sf_dir, "documents"))


def _ahash_color_oracle(tag: str) -> str:
    """Oracle for the color aHash paths (BMP r12, PPM r12): re-derive
    the three channel planes from md5 hex (one digest per row×channel,
    tagged ``:bmp:`` / ``:ppm:`` so the corpora differ), replay the
    +1-mod-256 per-channel perturbation and the integer ITU-R 601
    (299R+587G+114B)//1000 luma, then the identical block/threshold/
    band/popcount walk of the PGM oracle. The two codecs share every
    line here on purpose: what DIFFERS between them — BMP's bottom-up
    BGR rows, stride padding and bfOffBits vs P6's interleaved RGB
    raster — lives only in the Spark-side binary decoders, so an exact
    match proves each decoder independently."""
    return f"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 1 THEN doc_id - 1
                  ELSE doc_id END AS base,
             doc_id % 10 = 1 AS pert
      FROM documents
    ),
    rows_ AS (
      SELECT doc_id, pert, r,
             md5(CAST(base AS VARCHAR) || '{tag}'
                 || CAST(r AS VARCHAR) || ':B') AS hb,
             md5(CAST(base AS VARCHAR) || '{tag}'
                 || CAST(r AS VARCHAR) || ':G') AS hg,
             md5(CAST(base AS VARCHAR) || '{tag}'
                 || CAST(r AS VARCHAR) || ':R') AS hr
      FROM d, unnest(range(0, 16)) AS u(r)
    ),
    chan AS (
      SELECT doc_id, r, c,
             CASE WHEN pert AND r = 0 AND c = 0 THEN
               (CAST(('0x' || substr(hb, CAST(2 * c + 1 AS INT), 2))
                     AS INT) + 1) % 256
             ELSE CAST(('0x' || substr(hb, CAST(2 * c + 1 AS INT), 2))
                       AS INT) END AS bl,
             CASE WHEN pert AND r = 0 AND c = 0 THEN
               (CAST(('0x' || substr(hg, CAST(2 * c + 1 AS INT), 2))
                     AS INT) + 1) % 256
             ELSE CAST(('0x' || substr(hg, CAST(2 * c + 1 AS INT), 2))
                       AS INT) END AS gr,
             CASE WHEN pert AND r = 0 AND c = 0 THEN
               (CAST(('0x' || substr(hr, CAST(2 * c + 1 AS INT), 2))
                     AS INT) + 1) % 256
             ELSE CAST(('0x' || substr(hr, CAST(2 * c + 1 AS INT), 2))
                       AS INT) END AS rd
      FROM rows_, unnest(range(0, 16)) AS v(c)
    ),
    px AS (
      SELECT doc_id, r, c,
             (299 * rd + 587 * gr + 114 * bl) // 1000 AS val
      FROM chan
    ),
    cell AS (
      SELECT doc_id, r // 2 AS i, c // 2 AS j,
             CAST(SUM(val) // 4 AS BIGINT) AS b
      FROM px GROUP BY 1, 2, 3
    ),
    s AS (SELECT doc_id, CAST(SUM(b) AS BIGINT) AS sm
          FROM cell GROUP BY 1),
    bits AS (
      SELECT cell.doc_id, i * 8 + j AS k,
             CAST(b * 64 > sm AS BIGINT) AS bit
      FROM cell JOIN s USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, k // 16 AS band,
             CAST(SUM(bit << CAST(k % 16 AS INT)) AS BIGINT) AS bv
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(SUM(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
    FROM cand c
    JOIN bands x ON x.doc_id = c.doc_a
    JOIN bands y ON y.doc_id = c.doc_b AND y.band = x.band
    GROUP BY 1, 2
    HAVING SUM(bit_count(xor(x.bv, y.bv))) <= 10
    """


@register("image_ahash_neardup_bmp", _ahash_color_oracle(":bmp:"))
def q_image_ahash_neardup_bmp(spark, sf_dir):
    return mm.image_ahash_neardup(
        load_table(spark, sf_dir, "documents"), codec="bmp"
    )


@register("image_ahash_neardup_ppm", _ahash_color_oracle(":ppm:"))
def q_image_ahash_neardup_ppm(spark, sf_dir):
    return mm.image_ahash_neardup(
        load_table(spark, sf_dir, "documents"), codec="ppm"
    )


@register(
    "audio_features",
    # the square wave is closed-form: the oracle re-derives every PCM
    # sample from (doc_id, n) and replays the aggregates; the Spark
    # side additionally proves the RIFF/WAVE byte round-trip
    """
    WITH s AS (
      SELECT doc_id, n,
             CASE WHEN (n // (4 + doc_id % 12)) % 2 = 0
                  THEN 1000 + (doc_id % 100) * 10
                  ELSE -(1000 + (doc_id % 100) * 10) END AS v
      FROM documents, unnest(range(0, 160)) AS u(n)
    ),
    lagged AS (
      SELECT doc_id, v,
             LAG(v) OVER (PARTITION BY doc_id ORDER BY n) AS prev
      FROM s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           ROUND(sqrt(CAST(SUM(CAST(v AS BIGINT) * CAST(v AS BIGINT))
                           AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)), 6) AS rms,
           ROUND(CAST(SUM(CASE WHEN prev IS NOT NULL
                          AND (CAST(v >= 0 AS INT)
                               <> CAST(prev >= 0 AS INT))
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) - 1.0), 6) AS zcr,
           CAST(MAX(abs(v)) AS BIGINT) AS peak
    FROM lagged GROUP BY 1
    """,
)
def q_audio_features(spark, sf_dir):
    return mm.audio_features(load_table(spark, sf_dir, "documents"))


@register(
    "events_windowed_topk",
    """
    WITH counts AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, cnt, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY w
                                       ORDER BY cnt DESC, event_type)
                 AS rnk
          FROM counts)
    WHERE rnk <= 3
    """,
)
def q_events_windowed_topk(spark, sf_dir):
    return sw.windowed_topk(load_table(spark, sf_dir, "events"))


def _register_km_rmst() -> None:
    """Embed the registered KM replay and integrate the step curve."""

    @register(
        "km_rmst",
        f"""
    WITH km AS ({ORACLES["kaplan_meier_churn"]})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           ROUND(30.0 * CAST(SUM(CAST(survival AS DECIMAL(18,6)))
                             AS DOUBLE), 6) AS rmst_days,
           MIN(survival) AS survival_at_horizon
    FROM km
    """,
    )
    def q_km_rmst(spark, sf_dir):
        return rel.km_rmst(load_table(spark, sf_dir, "orders"))


_register_km_rmst()


@register(
    "max_drawdown",
    """
    WITH cum AS (
      SELECT event_type, ts, event_id,
             SUM(CAST(ROUND(CAST(value AS DOUBLE), 6) AS DECIMAL(28,6)))
               OVER (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM events
    ),
    dd AS (
      SELECT event_type, ts, event_id, cum,
             MAX(cum) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS peak
      FROM cum
    ),
    rk AS (
      SELECT event_type, ts, peak, peak - cum AS d,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY peak - cum DESC, ts, event_id)
               AS rn
      FROM dd
    )
    SELECT event_type,
           CAST(d AS DOUBLE) AS max_drawdown,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS trough_ts,
           CAST(peak AS DOUBLE) AS peak_at_trough
    FROM rk WHERE rn = 1
    """,
)
def q_max_drawdown(spark, sf_dir):
    return rel.max_drawdown(load_table(spark, sf_dir, "events"))


def _register_dedup_capture_recapture() -> None:
    """Embed both registered pair-set replays (ann_recall_metrics
    pattern) and apply the Chapman estimator on their counts."""

    @register(
        "dedup_capture_recapture",
        f"""
    WITH mh AS ({ORACLES["minhash_lsh_pairs"]}),
    sh AS ({ORACLES["simhash_pairs"]}),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_minhash FROM mh),
    n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_simhash FROM sh),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
      FROM mh JOIN sh ON mh.doc_a = sh.doc_a AND mh.doc_b = sh.doc_b
    ),
    c AS (
      SELECT n_minhash, n_simhash, n_overlap,
             ROUND(((CAST(n_minhash AS DOUBLE) + 1.0)
                    * (CAST(n_simhash AS DOUBLE) + 1.0))
                   / (CAST(n_overlap AS DOUBLE) + 1.0) - 1.0, 6)
               AS chapman_total
      FROM n1, n2, m
    )
    SELECT n_minhash, n_simhash, n_overlap, chapman_total,
           CASE WHEN chapman_total > 0 THEN
             ROUND(CAST(n_minhash AS DOUBLE) / chapman_total, 6)
           END AS coverage_minhash,
           CASE WHEN chapman_total > 0 THEN
             ROUND(CAST(n_simhash AS DOUBLE) / chapman_total, 6)
           END AS coverage_simhash
    FROM c
    """,
    )
    def q_dedup_capture_recapture(spark, sf_dir):
        return dd.dedup_capture_recapture(
            load_table(spark, sf_dir, "documents")
        )


_register_dedup_capture_recapture()


@register(
    "theil_decomposition",
    """
    WITH spend AS (
      SELECT o.o_custkey, c.c_mktsegment,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
      HAVING SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 0
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS s FROM spend
    ),
    tt AS (
      SELECT ROUND(CAST(SUM(CAST(ROUND(
               (CAST(x AS DOUBLE) / CAST(s AS DOUBLE))
               * LN((CAST(x AS DOUBLE) * CAST(n AS DOUBLE))
                    / CAST(s AS DOUBLE)), 6) AS DECIMAL(18,6)))
             AS DOUBLE), 6) AS theil_total
      FROM spend, tot
    ),
    grp AS (
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_g,
             SUM(x) AS s_g
      FROM spend GROUP BY 1
    ),
    per_g AS (
      SELECT sp.c_mktsegment, g.n_g, g.s_g,
             ROUND(CAST(SUM(CAST(ROUND(
               (CAST(x AS DOUBLE) / CAST(s_g AS DOUBLE))
               * LN((CAST(x AS DOUBLE) * CAST(n_g AS DOUBLE))
                    / CAST(s_g AS DOUBLE)), 6) AS DECIMAL(18,6)))
             AS DOUBLE), 6) AS t_g
      FROM spend sp JOIN grp g USING (c_mktsegment)
      GROUP BY 1, 2, 3
    ),
    parts AS (
      SELECT SUM(CAST(ROUND(
               (CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE))
               * LN((CAST(s_g AS DOUBLE) * CAST(n AS DOUBLE))
                    / (CAST(s AS DOUBLE) * CAST(n_g AS DOUBLE))), 6)
               AS DECIMAL(18,6))) AS tb,
             SUM(CAST(ROUND(
               (CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE)) * t_g, 6)
               AS DECIMAL(18,6))) AS tw,
             MIN(n) AS n
      FROM per_g, tot
    )
    SELECT n AS n_customers, theil_total,
           ROUND(CAST(tb AS DOUBLE), 6) AS theil_between,
           ROUND(CAST(tw AS DOUBLE), 6) AS theil_within,
           CASE WHEN theil_total > 0 THEN
             ROUND(CAST(tb AS DOUBLE) / theil_total, 6)
           END AS between_share
    FROM parts, tt
    """,
)
def q_theil_decomposition(spark, sf_dir):
    return rel.theil_decomposition(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


def _bt_round(prev: str, k: int) -> str:
    """One Zermelo/MM round over the contest matrix, mirroring
    mleval.bradley_terry_sources: rounded pairwise denominators into a
    decimal sum, one rounded division, one rounded rebase to the
    alphabetically-first source."""
    return f""",
    den{k} AS (
      SELECT m.sa,
             SUM(CAST(ROUND(CAST(m.n_ij AS DOUBLE) / (wi.w + wj.w), 6)
                 AS DECIMAL(18,6))) AS den
      FROM bt_mat m
      JOIN {prev} wi ON wi.sa = m.sa
      JOIN {prev} wj ON wj.sa = m.sb
      GROUP BY m.sa
    ),
    raw{k} AS (
      SELECT t.sa,
             ROUND(CAST(t.wins AS DOUBLE) / CAST(d.den AS DOUBLE), 6)
               AS w_raw
      FROM bt_tot t JOIN den{k} d ON d.sa = t.sa
    ),
    ref{k} AS (SELECT MAX(w_raw) AS w_ref FROM raw{k}),
    w{k} AS (
      SELECT sa, ROUND(w_raw / w_ref, 6) AS w FROM raw{k}, ref{k}
    )"""


def _register_bradley_terry() -> None:
    quality = (
        f"""round({ts.QUALITY_WEIGHTS["len"]}
            * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)
            + {ts.QUALITY_WEIGHTS["distinct"]}
              * (CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE))
            + {ts.QUALITY_WEIGHTS["clean"]}
              * (1.0 - CAST(length(regexp_replace(text,
                       '[A-Za-z0-9\\s\\x0b]', '', 'g')) AS DOUBLE)
                     / CAST(length(text) AS DOUBLE)), 6)"""
    )
    rounds_sql = "".join(_bt_round(f"w{r - 1}" if r > 1 else "w0", r)
                         for r in range(1, 4))

    @register(
        "bradley_terry_sources",
        f"""
    WITH toked AS (
      SELECT source, lang, text,
             list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    cells AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST({quality} AS DECIMAL(18,6))) AS s
      FROM toked WHERE len(toks) > 0
      GROUP BY 1, 2
    ),
    duel AS (
      SELECT a.source AS sa, b.source AS sb,
             CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS win,
             CASE WHEN a.s * b.n <> b.s * a.n THEN 1 ELSE 0 END AS game
      FROM cells a JOIN cells b
        ON a.lang = b.lang AND a.source <> b.source
    ),
    bt_mat AS (
      SELECT sa, sb, CAST(SUM(win) AS BIGINT) AS w_ij,
             CAST(SUM(game) AS BIGINT) AS n_ij
      FROM duel GROUP BY 1, 2
      HAVING SUM(game) > 0
    ),
    bt_tot AS (
      SELECT sa, CAST(SUM(w_ij) AS BIGINT) AS wins,
             CAST(SUM(n_ij) AS BIGINT) AS games
      FROM bt_mat GROUP BY 1
    ),
    w0 AS (SELECT sa, 1.0 AS w FROM bt_tot)
    {rounds_sql}
    SELECT t.sa AS source, t.games, t.wins,
           w3.w AS bt_strength,
           CAST(ROW_NUMBER() OVER (ORDER BY w3.w DESC, t.sa)
                AS INTEGER) AS rank
    FROM bt_tot t JOIN w3 ON w3.sa = t.sa
    """,
    )
    def q_bradley_terry_sources(spark, sf_dir):
        return ml.bradley_terry_sources(
            load_table(spark, sf_dir, "documents")
        )


_register_bradley_terry()


def _ipf_pass(prev: str, k: int, axis: str, n_axis: str) -> str:
    """One IPF margin scaling (row or column pass)."""
    return f""",
    m{k} AS (
      SELECT {axis},
             SUM(CAST(ROUND(w, 6) AS DECIMAL(28,6))) AS m
      FROM {prev} GROUP BY 1
    ),
    p{k} AS (
      SELECT t.seg, t.band, t.n,
             ROUND(t.w * ((CAST(nt.n_tot AS DOUBLE)
                           / CAST(nt.{n_axis} AS DOUBLE))
                          / CAST(m{k}.m AS DOUBLE)), 6) AS w
      FROM {prev} t
      JOIN m{k} ON m{k}.{axis} = t.{axis}, ipf_tot nt
    )"""


def _register_ipf_raking(rounds: int = 3) -> None:
    passes, prev, k = [], "w0", 0
    for _ in range(rounds):
        k += 1
        passes.append(_ipf_pass(prev, k, "seg", "n_seg")); prev = f"p{k}"
        k += 1
        passes.append(_ipf_pass(prev, k, "band", "n_band")); prev = f"p{k}"

    @register(
        "ipf_raking",
        f"""
    WITH cells AS (
      SELECT c_mktsegment AS seg,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    ),
    ipf_tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
             CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_seg,
             CAST(COUNT(DISTINCT band) AS BIGINT) AS n_band
      FROM cells
    ),
    w0 AS (SELECT seg, band, n, CAST(n AS DOUBLE) AS w FROM cells)
    {"".join(passes)}
    SELECT seg, band, n AS n_raw, w AS w_fitted,
           ROUND(w / CAST(n AS DOUBLE), 6) AS raking_factor
    FROM {prev}
    """,
    )
    def q_ipf_raking(spark, sf_dir):
        return ml.ipf_raking(load_table(spark, sf_dir, "customer"))


_register_ipf_raking()


@register(
    "price_index_fisher",
    """
    WITH bounds AS (
      SELECT MIN(CAST(l_shipdate AS DATE)) AS d0,
             MAX(CAST(l_shipdate AS DATE)) AS d1
      FROM lineitem
    ),
    li AS (
      SELECT l_partkey,
             CAST(l_quantity AS DECIMAL(18,2)) AS q,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
             date_diff('day', d0, CAST(l_shipdate AS DATE)) * 2
               <= date_diff('day', d0, d1) AS is_base
      FROM lineitem, bounds
    ),
    per AS (
      SELECT l_partkey, is_base, SUM(q) AS q_tot, SUM(v) AS v_tot
      FROM li GROUP BY 1, 2
    ),
    base AS (
      SELECT l_partkey, CAST(q_tot AS DOUBLE) AS q0,
             ROUND(CAST(v_tot AS DOUBLE) / CAST(q_tot AS DOUBLE), 6)
               AS p0
      FROM per WHERE is_base
    ),
    cur AS (
      SELECT l_partkey, CAST(q_tot AS DOUBLE) AS q1,
             ROUND(CAST(v_tot AS DOUBLE) / CAST(q_tot AS DOUBLE), 6)
               AS p1
      FROM per WHERE NOT is_base
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             SUM(CAST(ROUND(p1 * q0, 6) AS DECIMAL(28,6))) AS l_num,
             SUM(CAST(ROUND(p0 * q0, 6) AS DECIMAL(28,6))) AS l_den,
             SUM(CAST(ROUND(p1 * q1, 6) AS DECIMAL(28,6))) AS p_num,
             SUM(CAST(ROUND(p0 * q1, 6) AS DECIMAL(28,6))) AS p_den
      FROM base JOIN cur USING (l_partkey)
    ),
    idx AS (
      SELECT n_parts,
             ROUND(CAST(l_num AS DOUBLE) / CAST(l_den AS DOUBLE), 6)
               AS laspeyres,
             ROUND(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 6)
               AS paasche
      FROM sums
    )
    SELECT n_parts, laspeyres, paasche,
           ROUND(sqrt(laspeyres * paasche), 6) AS fisher
    FROM idx
    """,
)
def q_price_index_fisher(spark, sf_dir):
    return rel.price_index_fisher(load_table(spark, sf_dir, "lineitem"))


@register(
    "bass_diffusion",
    f"""
    WITH first_m AS (
      SELECT o_custkey,
             date_trunc('month', MIN(CAST(o_orderdate AS DATE))) AS m
      FROM orders GROUP BY 1
    ),
    monthly AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS y
      FROM first_m GROUP BY 1
    ),
    feats AS (
      SELECT y,
             CAST(COALESCE(SUM(y) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS x1
      FROM monthly
    ),
    f2 AS (SELECT y, x1, x1 * x1 AS x2 FROM feats),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
             SUM(CAST(x1 AS DECIMAL(38,0))) AS ds1,
             SUM(CAST(x2 AS DECIMAL(38,0))) AS ds2,
             SUM(CAST(x1 AS DECIMAL(38,0))
                 * CAST(x1 AS DECIMAL(38,0))) AS ds11,
             SUM(CAST(x1 AS DECIMAL(38,0))
                 * CAST(x2 AS DECIMAL(38,0))) AS ds12,
             SUM(CAST(x2 AS DECIMAL(38,0))
                 * CAST(x2 AS DECIMAL(38,0))) AS ds22,
             SUM(CAST(y AS DECIMAL(38,0))) AS dsy,
             SUM(CAST(x1 AS DECIMAL(38,0))
                 * CAST(y AS DECIMAL(38,0))) AS ds1y,
             SUM(CAST(x2 AS DECIMAL(38,0))
                 * CAST(y AS DECIMAL(38,0))) AS ds2y
      FROM f2
    ),
    named AS (
      SELECT n_months,
             CAST(n_months AS DOUBLE) AS n1,
             CAST(ds1 AS DOUBLE) AS s1, CAST(ds2 AS DOUBLE) AS s2,
             CAST(ds11 AS DOUBLE) AS s11, CAST(ds12 AS DOUBLE) AS s12,
             CAST(ds22 AS DOUBLE) AS s22, CAST(dsy AS DOUBLE) AS sy,
             CAST(ds1y AS DOUBLE) AS s1y, CAST(ds2y AS DOUBLE) AS s2y
      FROM sums
    ),
    coefs AS (
      SELECT n_months,
             ROUND({ml.OLS_DET0} / {ml.OLS_DET}, 6) AS a,
             ROUND({ml.OLS_DET1} / {ml.OLS_DET}, 6) AS b,
             ROUND({ml.OLS_DET2} / {ml.OLS_DET}, 6) AS c
      FROM named
    ),
    mm AS (
      SELECT *,
             CASE WHEN c < 0 AND b * b - 4.0 * (a * c) >= 0 THEN
               ROUND((-b - sqrt(b * b - 4.0 * (a * c))) / (2.0 * c), 6)
             END AS m_hat
      FROM coefs
    ),
    pq AS (
      SELECT *,
             CASE WHEN m_hat > 0 THEN ROUND(a / m_hat, 6) END AS p_hat,
             CASE WHEN m_hat > 0 THEN ROUND(-(c * m_hat), 6) END
               AS q_hat
      FROM mm
    )
    SELECT n_months, a, b, c, m_hat, p_hat, q_hat,
           CASE WHEN p_hat > 0 AND q_hat > 0 THEN
             ROUND(LN(q_hat / p_hat) / (p_hat + q_hat), 6)
           END AS peak_t
    FROM pq
    """,
)
def q_bass_diffusion(spark, sf_dir):
    return ml.bass_diffusion(load_table(spark, sf_dir, "orders"))


@register(
    "seasonal_strength",
    """
    WITH counted AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
      FROM counted GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM span
    ),
    hourly AS (
      SELECT g.event_type, g.hour,
             CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM grid g LEFT JOIN counted c
        ON c.event_type = g.event_type AND c.hour = g.hour
    ),
    trended AS (
      SELECT event_type, hour, x,
             ROUND(CAST(SUM(x) OVER w AS DOUBLE)
                   / CAST(COUNT(*) OVER w AS DOUBLE), 6) AS trend
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
    ),
    dd AS (
      SELECT *, ROUND(CAST(x AS DOUBLE) - trend, 6) AS d
      FROM trended
    ),
    seasoned AS (
      SELECT *,
             ROUND(CAST(SUM(CAST(ROUND(d, 6) AS DECIMAL(28,6)))
                        OVER h AS DOUBLE)
                   / CAST(COUNT(*) OVER h AS DOUBLE), 6) AS s
      FROM dd
      WINDOW h AS (PARTITION BY event_type, EXTRACT(hour FROM hour))
    ),
    rr AS (SELECT *, ROUND(d - s, 6) AS r FROM seasoned),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             SUM(CAST(ROUND(d, 6) AS DECIMAL(28,6))) AS sd,
             SUM(CAST(ROUND(d * d, 6) AS DECIMAL(28,6))) AS sdd,
             SUM(CAST(ROUND(r, 6) AS DECIMAL(28,6))) AS sr,
             SUM(CAST(ROUND(r * r, 6) AS DECIMAL(28,6))) AS srr
      FROM rr GROUP BY 1
    ),
    v AS (
      SELECT event_type, n_hours,
             ROUND((CAST(sdd AS DOUBLE)
                    - (CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                      / CAST(n_hours AS DOUBLE))
                   / CAST(n_hours AS DOUBLE), 6) AS var_detrended,
             ROUND((CAST(srr AS DOUBLE)
                    - (CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                      / CAST(n_hours AS DOUBLE))
                   / CAST(n_hours AS DOUBLE), 6) AS var_remainder
      FROM g
    )
    SELECT event_type, n_hours, var_detrended, var_remainder,
           CASE WHEN var_detrended > 0 THEN
             ROUND(GREATEST(0.0, 1.0 - var_remainder / var_detrended),
                   6)
           END AS seasonal_strength
    FROM v
    """,
)
def q_seasonal_strength(spark, sf_dir):
    return rel.seasonal_strength(load_table(spark, sf_dir, "events"))


@register(
    "seasonal_mann_kendall",
    f"""
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    seasoned AS (
      SELECT m, x, EXTRACT(month FROM m) AS season FROM monthly
    ),
    s AS (
      SELECT CAST(SUM(CAST(sign(b.x - a.x) AS BIGINT)) AS BIGINT) AS s
      FROM seasoned a JOIN seasoned b
        ON a.season = b.season AND a.m < b.m
    ),
    per AS (
      SELECT season, CAST(COUNT(*) AS BIGINT) AS n_m
      FROM seasoned GROUP BY 1
    ),
    ties AS (
      SELECT season,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_m
      FROM (SELECT season, x, CAST(COUNT(*) AS BIGINT) AS t
            FROM seasoned GROUP BY 1, 2)
      GROUP BY 1
    ),
    vp AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_seasons,
             CAST(SUM(n_m) AS BIGINT) AS n_months,
             CAST(SUM(n_m * (n_m - 1) * (2 * n_m + 5) - tie_m)
                  AS BIGINT) AS var18
      FROM per JOIN ties USING (season)
    ),
    zc AS (
      SELECT n_months, n_seasons, s,
             ROUND(CAST(var18 AS DOUBLE) / 18.0, 6) AS var_s,
             CASE WHEN var18 > 0 THEN
               ROUND((CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                           WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                           ELSE 0.0 END)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)
             END AS z_score
      FROM s, vp
    ),
    tt AS (
      SELECT *, 1.0 / (1.0 + {rel.AS_NORMAL_P!r} * abs(z_score)) AS t
      FROM zc
    )
    SELECT n_months, n_seasons, s, var_s, z_score,
           CASE WHEN z_score IS NOT NULL THEN
             ROUND(LEAST(1.0, 2.0 * ({rel.INV_SQRT_2PI!r}
               * exp(-(abs(z_score) * abs(z_score)) / 2.0)
               * (t * ({_BH_B1} + t * ({_BH_B2} + t * ({_BH_B3}
                  + t * ({_BH_B4} + t * {_BH_B5}))))))), 6)
           END AS p_value
    FROM tt
    """,
)
def q_seasonal_mann_kendall(spark, sf_dir):
    return rel.seasonal_mann_kendall(load_table(spark, sf_dir, "orders"))


@register(
    "word_adaptation",
    """
    WITH tf AS (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '[\\s\\x0b]+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY 1, 2
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    per AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df1,
             CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS df2,
             CAST(SUM(k) AS BIGINT) AS cf
      FROM tf GROUP BY 1
    ),
    headed AS (
      SELECT * FROM per, nd ORDER BY df1 DESC, term LIMIT 30
    ),
    calc AS (
      SELECT term, df1, df2, cf,
             ROUND(CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
               AS lambda,
             ROUND(CAST(df2 AS DOUBLE) / CAST(df1 AS DOUBLE), 6)
               AS adaptation,
             ROUND(1.0 - (ROUND(CAST(cf AS DOUBLE)
                                / CAST(n_docs AS DOUBLE), 6)
                          * ROUND(exp(-ROUND(CAST(cf AS DOUBLE)
                                / CAST(n_docs AS DOUBLE), 6)), 6))
                   / (1.0 - ROUND(exp(-ROUND(CAST(cf AS DOUBLE)
                                / CAST(n_docs AS DOUBLE), 6)), 6)), 6)
               AS poisson_expect
      FROM headed
    )
    SELECT term, df1, df2, cf, lambda, adaptation, poisson_expect,
           CASE WHEN poisson_expect > 0 THEN
             ROUND(adaptation / poisson_expect, 6)
           END AS adaptation_ratio
    FROM calc
    """,
)
def q_word_adaptation(spark, sf_dir):
    return ts.word_adaptation(load_table(spark, sf_dir, "documents"))


# --- r11 unfreeze: the streaming ingest near-dup screen lands at the
# external gate (VERDICT r10 item 1). Batch twin value-oracled end to
# end (md5 Carter–Wegman signatures, md5-fold band buckets — verified
# exact at sf0.001 AND sf0.01 before wiring); the live twin executes
# the real applyInPandasWithState query and is rows-only by nature
# (stateful streaming execution has no SQL replay — its value
# semantics ride the oracled screen + the stream==batch pin).


@register("ingest_neardup_screen", ing.ingest_neardup_screen_oracle_sql())
def q_ingest_neardup_screen(spark, sf_dir):
    return ing.ingest_neardup_screen(load_table(spark, sf_dir, "documents"))


@register("ingest_neardup_live")  # live stateful stream → rows-only
def q_ingest_neardup_live(spark, sf_dir):
    return ing.ingest_neardup_live(
        spark, load_table(spark, sf_dir, "documents")
    )


@register(
    "quantile_mass_sample",
    # the sketch family's quantile member: a deterministic 2^-4
    # hash-mass sample (pure function of the key set), sample quantile
    # at rank ceil(q*m) with key tie-break — every stage replayed
    """
    WITH kept AS MATERIALIZED (
      SELECT o_orderpriority AS grp, o_totalprice AS v, o_orderkey AS k
      FROM orders
      WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13))
                 AS BIGINT) / 4503599627370496.0 < 0.0625
    ),
    ranked AS MATERIALIZED (
      SELECT grp, v,
             row_number() OVER (PARTITION BY grp ORDER BY v, k) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS m
      FROM kept
    )
    SELECT grp AS o_orderpriority,
           CAST(MAX(m) AS BIGINT) AS sample_n,
           CAST(0.0625 AS DOUBLE) AS sample_rate,
           MIN(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5 * m) AS BIGINT))
                    THEN v END) AS est_p50,
           MIN(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.9 * m) AS BIGINT))
                    THEN v END) AS est_p90,
           MIN(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.99 * m) AS BIGINT))
                    THEN v END) AS est_p99
    FROM ranked GROUP BY 1
    """,
)
def q_quantile_mass_sample(spark, sf_dir):
    return sk.mass_sample_quantiles(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
    )


@register(
    "quantile_mass_merge",
    # r12 (VERDICT r11 item 6): the MERGE algebra is the point of the
    # sketch — two disjoint shards kept at MIXED rates (2^-3 and 2^-4),
    # re-thresholded to the coarsest on union, estimated by the same
    # ranked-window arithmetic. The oracle replays the per-shard keeps
    # and the re-threshold literally (not the equivalent direct coarse
    # sample), so a merge-path bug cannot hide behind the equivalence.
    """
    WITH base AS MATERIALIZED (
      SELECT l_returnflag AS grp, l_extendedprice AS v,
             l_orderkey * 8 + l_linenumber AS k
      FROM lineitem
    ),
    uh AS MATERIALIZED (
      SELECT grp, v, k, k % 2 AS shard,
             CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 13))
                  AS BIGINT) / 4503599627370496.0 AS u
      FROM base
    ),
    kept AS MATERIALIZED (
      SELECT grp, v, k FROM uh
      WHERE u < (CASE WHEN shard = 0 THEN 0.125 ELSE 0.0625 END)
        AND u < 0.0625
    ),
    ranked AS MATERIALIZED (
      SELECT grp, v,
             row_number() OVER (PARTITION BY grp ORDER BY v, k) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS m
      FROM kept
    )
    SELECT grp AS l_returnflag,
           CAST(MAX(m) AS BIGINT) AS sample_n,
           CAST(0.0625 AS DOUBLE) AS sample_rate,
           MIN(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5 * m) AS BIGINT))
                    THEN v END) AS est_p50,
           MIN(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.9 * m) AS BIGINT))
                    THEN v END) AS est_p90,
           MIN(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.99 * m) AS BIGINT))
                    THEN v END) AS est_p99
    FROM ranked GROUP BY 1
    """,
)
def q_quantile_mass_merge(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey * 8 + l_linenumber AS lk",
    )
    return sk.mass_sample_shard_merge_quantiles(
        li, "l_returnflag", "l_extendedprice", "lk", ts=(3, 4)
    )


# --- r12: AMS tug-of-war moments (sketches.ams_registers family). The
# oracle rebuilds all 64 signed registers from md5 hex nibbles (sign j =
# bit 3-(j%4) of hex digit j//4 — the exact Spark convention), so the
# register vector, the integer moment numerator, and the one final
# division are replayed bit for bit.


def _ams_x_terms_sql(key: str, m: int, prefix: str) -> str:
    """The m register SUMs for one table side, as SQL select-list text."""
    terms = []
    for j in range(m):
        i, b = divmod(j, 4)
        d = (
            f"CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), "
            f"{i + 1}, 1)) AS BIGINT)"
        )
        terms.append(
            f"CAST(SUM(CASE WHEN (({d} >> {3 - b}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS BIGINT) AS {prefix}{j}"
        )
    return ",\n             ".join(terms)


def _ams_f2_oracle(m: int = 64) -> str:
    dot = " + ".join(f"x{j} * x{j}" for j in range(m))
    return f"""
    WITH regs AS MATERIALIZED (
      SELECT {_ams_x_terms_sql("o_custkey", m, "x")}
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    sx AS (SELECT CAST(({dot}) AS BIGINT) AS sum_x2 FROM regs),
    ex AS (
      SELECT CAST(COALESCE(SUM(f * f), 0) AS BIGINT) AS exact_f2 FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS f
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey)
    )
    SELECT sum_x2, {m} AS m,
           ROUND(CAST(sum_x2 AS DOUBLE) / {float(m)}, 6) AS est_f2,
           exact_f2,
           CASE WHEN exact_f2 > 0 THEN
             ROUND((ROUND(CAST(sum_x2 AS DOUBLE) / {float(m)}, 6)
                    - CAST(exact_f2 AS DOUBLE))
                   / CAST(exact_f2 AS DOUBLE), 6)
           END AS rel_err
    FROM sx, ex
    """


def _ams_join_oracle(m: int = 64) -> str:
    dot = " + ".join(f"a{j} * b{j}" for j in range(m))
    return f"""
    WITH ra AS MATERIALIZED (
      SELECT {_ams_x_terms_sql("o_custkey", m, "a")}
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    rb AS MATERIALIZED (
      SELECT {_ams_x_terms_sql("c_custkey", m, "b")}
      FROM customer WHERE c_custkey IS NOT NULL
    ),
    sx AS (SELECT CAST(({dot}) AS BIGINT) AS sum_xy FROM ra, rb),
    ex AS (
      SELECT CAST(COALESCE(SUM(fa.f * fb.f), 0) AS BIGINT)
               AS exact_join_size
      FROM (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS f
            FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1) fa
      JOIN (SELECT c_custkey AS k, CAST(COUNT(*) AS BIGINT) AS f
            FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1) fb
        USING (k)
    )
    SELECT sum_xy, {m} AS m,
           ROUND(CAST(sum_xy AS DOUBLE) / {float(m)}, 6) AS est_join_size,
           exact_join_size,
           CASE WHEN exact_join_size > 0 THEN
             ROUND((ROUND(CAST(sum_xy AS DOUBLE) / {float(m)}, 6)
                    - CAST(exact_join_size AS DOUBLE))
                   / CAST(exact_join_size AS DOUBLE), 6)
           END AS rel_err
    FROM sx, ex
    """


@register("ams_f2_custkeys", _ams_f2_oracle())
def q_ams_f2_custkeys(spark, sf_dir):
    return sk.ams_f2(load_table(spark, sf_dir, "orders"), "o_custkey")


@register("ams_join_size_orders_customer", _ams_join_oracle())
def q_ams_join_size_orders_customer(spark, sf_dir):
    return sk.ams_join_size(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        load_table(spark, sf_dir, "customer"),
        "c_custkey",
    )


# The legacy hand-rotated _VERIFY_FIRST head (238 names) is gone: it went
# stale twice (rounds 5 and 7) and the order is now derived entirely from
# the driver's CORRECTNESS_r*.json files by _gate_checked_rounds() below.
#
# _RECHECK_FIRST: deliberate re-checks that should LEAD the next gate
# window even though the gate has already seen them — use it only for a
# query that failed (or was fixed after) a prior external window, and
# CLEAR the entry as soon as the re-check lands green (otherwise it
# permanently occupies window slots).
_RECHECK_FIRST: list = []


def _gate_checked_rounds() -> dict:
    """name -> latest driver round that externally gate-checked it.

    Read from the CORRECTNESS_r*.json files the driver writes at the repo
    root.  This makes the registry order SELF-ROTATING: the driver's gate
    takes the first ~50 names of ``queries()``, so ordering by
    least-recently-checked (never-checked first) guarantees each round's
    window covers new ground without anyone hand-editing a list — the
    defect class that stalled external coverage in rounds 5 and 7.
    """
    import glob as _glob
    import json as _json
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds: dict = {}
    for path in _glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnum = int(m.group(1))
        try:
            with open(path) as f:
                data = _json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name in data:
            rounds[name] = max(rounds.get(name, -1), rnum)
    return rounds


def _derived_order(names, checked: dict) -> list:
    """The self-rotating registry order for a given name sequence and
    name->latest-checked-round mapping — exposed separately so tests can
    SIMULATE future rounds (feed ``checked`` as if round N's gate file
    already existed and assert round N+1's window rotates onward)."""
    recheck = {n: i for i, n in enumerate(_RECHECK_FIRST)}

    def key(item):
        idx, n = item
        if n in recheck:
            return (-(10**6), recheck[n], 0)
        # primary: least-recently-gate-checked first (never-checked = -1);
        # tiebreak: registration order (stable).
        return (checked.get(n, -1), idx)

    return [n for _, n in sorted(enumerate(names), key=key)]


def _reorder_registry() -> None:
    order = _derived_order(list(QUERIES), _gate_checked_rounds())
    for d in (QUERIES, ORACLES):
        reordered = {n: d[n] for n in order if n in d}
        d.clear()
        d.update(reordered)


_reorder_registry()
