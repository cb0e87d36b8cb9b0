"""KMV sketch: strategy equivalence, accuracy, mergeability, exact tier."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hadoop_coded_wordcount_spark.operators import sketches as sk
from hadoop_coded_wordcount_spark.sources.catalog import load_table

from conftest import SF001


def _orders(spark):
    return load_table(spark, SF001, "orders")


def test_window_and_partial_strategies_bit_identical(spark):
    """The retained set is a pure function of the value set, so the JVM
    window path and the mapInPandas partial-merge path must agree to the
    last bit — any partitioning dependence is a bug."""
    a = {
        r["o_orderpriority"]: (r["retained"], r["kmv_est"])
        for r in sk.kmv_distinct(_orders(spark), "o_orderpriority", "o_custkey").collect()
    }
    b = {
        r["o_orderpriority"]: (r["retained"], r["kmv_est"])
        for r in sk.kmv_distinct_partial(
            _orders(spark), "o_orderpriority", "o_custkey"
        ).collect()
    }
    assert a == b and len(a) == 5


def test_partial_strategy_partitioning_invariant(spark):
    base = _orders(spark)
    one = sk.kmv_distinct_partial(base.coalesce(1), "o_orderpriority", "o_custkey")
    many = sk.kmv_distinct_partial(
        base.repartition(13), "o_orderpriority", "o_custkey"
    )
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_estimate_within_kmv_error_bounds(spark):
    """k=256 → standard error ~1/16; assert a generous 4-sigma 25%."""
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in _orders(spark)
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    est = sk.kmv_distinct(_orders(spark), "o_orderpriority", "o_custkey").collect()
    assert len(est) == len(exact)
    for r in est:
        true = exact[r["o_orderpriority"]]
        assert abs(r["kmv_est"] - true) / true < 0.25, (r, true)


def test_small_groups_are_exact(spark):
    """retained < k ⇒ the sketch degrades to an exact distinct count."""
    small = _orders(spark).limit(200)
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in small.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for r in sk.kmv_distinct(small, "o_orderpriority", "o_custkey").collect():
        assert r["retained"] < sk.DEFAULT_K
        assert r["kmv_est"] == float(exact[r["o_orderpriority"]])


def test_merge_estimates_global_distinct(spark):
    """Union of per-group sketches estimates the GLOBAL cardinality
    without a rescan, and matches a single-group sketch over the same
    data (theta-union semantics)."""
    merged = sk.kmv_merge(_orders(spark), "o_orderpriority", "o_custkey").collect()[0]
    whole = (
        sk.kmv_distinct(
            _orders(spark).withColumn("one", F.lit("all")), "one", "o_custkey"
        ).collect()[0]
    )
    assert merged["kmv_est"] == whole["kmv_est"]
    true = _orders(spark).select("o_custkey").distinct().count()
    assert abs(merged["kmv_est"] - true) / true < 0.25


def test_hll_sketch_accuracy_and_merge(spark):
    """DataSketches HLL: per-group estimate within 5% of exact (lg_k=14
    on ≤150 distinct is effectively exact), and the union of per-group
    sketch BYTES equals a one-shot global sketch — the mergeability that
    lets 1000 executors sketch independently and combine driver-side."""
    ev = load_table(spark, SF001, "events")
    est = {
        r["event_type"]: r["approx_users"]
        for r in sk.hll_sketch_distinct(ev).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k in exact:
        assert abs(est[k] - exact[k]) <= max(1, 0.05 * exact[k])

    sketches = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    merged = sketches.agg(
        F.expr(
            "CAST(round(hll_sketch_estimate(hll_union_agg(sk, false))) AS BIGINT)"
        ).alias("est")
    ).collect()[0]["est"]
    oneshot = ev.agg(
        F.expr(
            "CAST(round(hll_sketch_estimate(hll_sketch_agg(user_id, 14))) AS BIGINT)"
        ).alias("est")
    ).collect()[0]["est"]
    assert merged == oneshot
    g_exact = ev.agg(F.count_distinct("user_id").alias("n")).collect()[0]["n"]
    assert abs(merged - g_exact) <= max(1, 0.05 * g_exact)


def test_bitmap_distinct_is_exact_and_bounded(spark):
    """Bitmap distinct: exact equality with count_distinct (not approximate),
    and the segment relation is bounded by |groups| × ceil(range/32768)
    bitmap rows — the property that bounds the shuffle at any row count."""
    ev = load_table(spark, SF001, "events")
    got = {
        r["event_type"]: r["n_distinct"]
        for r in sk.bitmap_distinct(ev).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == want
    n_seg = (
        ev.groupBy("event_type", F.expr("bitmap_bucket_number(user_id)"))
        .count()
        .count()
    )
    # 5 event types × 2 buckets (ids 1..32768 share bucket 1; id 0 — and
    # any negative — falls in bucket 0: Spark buckets are (v-1) DIV 32768 + 1)
    assert n_seg <= 5 * 2


def test_hll_manual_accuracy_and_partitioning_invariance(spark):
    """m=64 registers → relative SE ≈ 1.04/8 ≈ 13%; assert a generous
    ~3-sigma 40%. Determinism claim: every 2^-M term is dyadic so the
    register sum is exact under ANY aggregation order — layout must not
    change a single bit of the estimate."""
    ev = load_table(spark, SF001, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    got = sk.hll_estimate_manual(ev).collect()
    assert len(got) == len(exact)
    for r in got:
        true = exact[r["event_type"]]
        assert abs(r["hll_est"] - true) / true < 0.40, (r, true)
    one = sorted(map(tuple, sk.hll_estimate_manual(ev.coalesce(1)).collect()))
    many = sorted(map(tuple, sk.hll_estimate_manual(ev.repartition(13)).collect()))
    assert one == many == sorted(map(tuple, got))


@pytest.mark.parametrize("b", [3, 7])
@pytest.mark.parametrize(
    "fn", [sk.hll_estimate_manual, sk.hll_sliding_users, sk.hll_set_ops]
)
def test_hll_rejects_untabulated_register_count(fn, b):
    """All three md5-register HLLs share one ``b`` check: a register
    count without a tabulated alpha_m is a contract error raised while
    the columns are built, never a bare ``KeyError`` from the table."""
    with pytest.raises(ValueError, match="b must be 4..6"):
        fn(None, b=b)


def test_cms_manual_overestimates_within_bound(spark):
    """CMS point estimates are one-sided (est ≥ exact) and the min-of-d
    rows bounds the collision inflation by ~2N/w with high probability —
    assert est - exact ≤ 4N/w (generous) for every probed heavy hitter."""
    docs = load_table(spark, SF001, "documents")
    rows = sk.cms_estimate_counts(docs).collect()
    assert len(rows) == 20
    n_total = docs.select(
        F.sum(F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")))
    ).collect()[0][0]
    bound = 4.0 * n_total / 1024
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"], r
        assert r["cms_est"] - r["exact_cnt"] <= bound, (r, bound)


def test_cms_manual_partitioning_invariant(spark):
    docs = load_table(spark, SF001, "documents")
    one = sorted(map(tuple, sk.cms_estimate_counts(docs.coalesce(1)).collect()))
    many = sorted(map(tuple, sk.cms_estimate_counts(docs.repartition(7)).collect()))
    assert one == many


def test_hll_sliding_merge_is_union_not_sum(spark):
    """A trailing-3h window's estimate must track the UNION of the three
    hours' distinct users (register max-merge), not their sum — the
    property that makes the sketch mergeable."""
    ev = load_table(spark, SF001, "events")
    got = {
        r["window_end_hour"]: r["hll_users_trailing"]
        for r in sk.hll_sliding_users(ev).collect()
    }
    import pyspark.sql.functions as F2

    per_hour = ev.select(
        F2.date_format(F2.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("h"),
        "user_id",
    ).groupBy("h").agg(F2.collect_set("user_id").alias("us")).collect()
    # build exact trailing-3h unions driver-side (720 tiny sets)
    import datetime as dt

    sets = {r["h"]: set(r["us"]) for r in per_hour}
    hours = sorted(sets)
    for i, h in enumerate(hours):
        t = dt.datetime.strptime(h, "%Y-%m-%d %H:%M:%S")
        u = set()
        for k in range(3):
            hk = (t - dt.timedelta(hours=k)).strftime("%Y-%m-%d %H:%M:%S")
            u |= sets.get(hk, set())
        est = got[h]
        assert abs(est - len(u)) / max(1, len(u)) < 0.45, (h, est, len(u))


def test_rolling_median_tracks_true_median(spark):
    import statistics

    from hadoop_coded_wordcount_spark.operators.relational import rolling_median

    ev = load_table(spark, SF001, "events")
    one_user = ev.where(F.col("user_id") == ev.select("user_id").first()[0])
    rows = sorted(
        one_user.select("ts", "event_id", "value").collect(),
        key=lambda r: (r.ts, r.event_id),
    )
    got = {r.event_id: r.rolling_median for r in rolling_median(one_user).collect()}
    for i, r in enumerate(rows):
        frame = [x.value for x in rows[max(0, i - 20) : i + 1]]
        assert abs(got[r.event_id] - statistics.median(frame)) < 1e-9, i


def test_theta_intersection_tracks_exact_overlap(spark):
    """|S|/θ∩ must estimate the exact key overlap within KMV error
    (~4σ/√k ≈ 25% at k=256) — and the sketches never join raw tables."""
    orders = load_table(spark, SF001, "orders")
    customer = load_table(spark, SF001, "customer")
    r = sk.theta_intersection_estimate(
        orders, "o_custkey", customer, "c_custkey"
    ).collect()[0]
    assert r.exact_overlap > 0
    assert abs(r.est_overlap - r.exact_overlap) / r.exact_overlap < 0.25, r
    # disjoint sides estimate ~zero
    a = spark.range(0, 500).selectExpr("id AS k")
    b = spark.range(10_000, 10_500).selectExpr("id AS k")
    r2 = sk.theta_intersection_estimate(a, "k", b, "k").collect()[0]
    assert r2.exact_overlap == 0 and r2.retained == 0
    assert r2.est_overlap == 0.0  # not NULL: empty intersection is zero


def test_bloom_prefilter_no_false_negatives_and_sane_fp(spark):
    """Every true member must pass the Bloom (zero false negatives by
    construction: n_true_members == n_members); the set-bit count is
    bounded by k*|members| and m; false positives are possible but the
    realized rate must stay well under the m/k sizing's ceiling."""
    from hadoop_coded_wordcount_spark.operators.sketches import (
        bloom_prefilter,
    )
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    SF001 = "/root/testdata/sf0.01"
    row = bloom_prefilter(
        load_table(spark, SF001, "orders"),
        load_table(spark, SF001, "customer"),
    ).collect()[0]
    assert row.n_true_members == row.n_members  # no false negatives
    assert row.n_pass == row.n_true_members + row.n_false_pos
    assert 0 < row.n_set_bits <= min(4096, 3 * row.n_members)
    assert row.fp_rate == round(
        row.n_false_pos / max(row.n_probed - row.n_members, 1), 6
    )
    # 4096 bits / 3 hashes sized for ~hundreds of members: the realized
    # FP rate should stay far below a coin flip
    assert row.fp_rate < 0.25


def test_mass_sample_t0_equals_exact_sample_quantiles(spark):
    """t=0 keeps every row (u < 1 always), so the 'estimate' must be the
    EXACT rank-ceil(q*n) population quantile with (value, key)
    tie-break — the estimator degenerates to truth when the sample is
    the population."""
    rows = [("g", float(v), v) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "grp string, val double, k bigint")
    out = sk.mass_sample_quantiles(df, "grp", "val", "k", t=0).collect()[0]
    assert out.sample_n == 100 and out.sample_rate == 1.0
    assert (out.est_p50, out.est_p90, out.est_p99) == (50.0, 90.0, 99.0)


def test_mass_sample_state_is_partition_independent(spark):
    """The kept set is a pure function of the key set: repartitioning
    the input must not move a single estimate (the KMV discipline)."""
    orders = load_table(spark, SF001, "orders")
    a = sorted(map(tuple, sk.mass_sample_quantiles(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    ).collect()))
    b = sorted(map(tuple, sk.mass_sample_quantiles(
        orders.repartition(7, "o_custkey"),
        "o_orderpriority", "o_totalprice", "o_orderkey",
    ).collect()))
    assert a == b and a


def test_mass_sample_merge_equals_direct_sample(spark):
    """Sketch algebra: shard states at MIXED rates (t=2 and t=4)
    re-threshold + union into exactly the state a direct t=4 sample of
    the concatenated input keeps — bit-identical, not approximately."""
    from hadoop_coded_wordcount_spark.operators.sketches import (
        _mass_kept,
        mass_sample_merge,
    )

    orders = load_table(spark, SF001, "orders")
    half_a = orders.where(F.col("o_orderkey") % 2 == 0)
    half_b = orders.where(F.col("o_orderkey") % 2 == 1)
    merged = mass_sample_merge(
        [
            (_mass_kept(half_a, "o_orderpriority", "o_totalprice",
                        "o_orderkey", 2), 2),
            (_mass_kept(half_b, "o_orderpriority", "o_totalprice",
                        "o_orderkey", 4), 4),
        ]
    )
    direct = _mass_kept(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", 4
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_mass_sample_merge_refuses_upsampling():
    import pytest

    from hadoop_coded_wordcount_spark.operators.sketches import (
        mass_sample_merge,
    )

    with pytest.raises(ValueError):
        mass_sample_merge([(None, 4)], t_out=2)


def test_mass_sample_merge_validates_before_building():
    """ADVICE r11: an empty state list and a mid-list t > t_out must
    raise a contract error IMMEDIATELY — never a bare max() failure,
    never after a partial union plan was already assembled (both
    (None, ...) entries would explode with AttributeError if the loop
    ran before validation)."""
    import pytest

    from hadoop_coded_wordcount_spark.operators.sketches import (
        mass_sample_merge,
    )

    with pytest.raises(ValueError, match="at least one shard"):
        mass_sample_merge([])
    with pytest.raises(ValueError, match="up-sample"):
        mass_sample_merge([(None, 3), (None, 5)], t_out=4)


def test_mass_sample_null_keys_excluded_consistently(spark):
    """NULL keys have no sample identity: md5(NULL)=NULL fails every
    keep predicate, and NULL % n fails every shard predicate — so a
    NULL-keyed row must be excluded from the direct sample, every
    shard state, and the merged union ALIKE, leaving merge==direct
    bit-exact even with NULLs present (the three-valued-logic trap
    class, pinned deliberately)."""
    rows = [("g", float(v), v if v % 3 else None) for v in range(1, 400)]
    df = spark.createDataFrame(rows, "grp string, val double, k bigint")
    merged = sorted(map(tuple, sk.mass_sample_shard_merge_quantiles(
        df, "grp", "val", "k", ts=(1, 2)
    ).collect()))
    direct = sorted(map(tuple, sk.mass_sample_quantiles(
        df, "grp", "val", "k", t=2
    ).collect()))
    assert merged == direct and merged
    # and the kept count can only come from non-NULL-keyed rows
    assert merged[0][1] <= sum(1 for _, _, k in rows if k is not None)


def test_mass_sample_shard_merge_handles_negative_keys(spark):
    """Spark's % keeps the dividend's sign, so a %-based shard split
    would drop every negative key from all shards; the pmod split must
    keep merge==direct bit-exact on signed keys."""
    rows = [("g", float(v), v * (-1 if v % 3 == 0 else 1))
            for v in range(1, 400)]
    df = spark.createDataFrame(rows, "grp string, val double, k bigint")
    merged = sorted(map(tuple, sk.mass_sample_shard_merge_quantiles(
        df, "grp", "val", "k", ts=(1, 2)
    ).collect()))
    direct = sorted(map(tuple, sk.mass_sample_quantiles(
        df, "grp", "val", "k", t=2
    ).collect()))
    assert merged == direct and merged


def test_ams_f2_empty_input_shape(spark):
    """The pinned empty-sample contract, F2 member: an empty (or
    all-NULL-key) frame yields exact_f2 = 0 (not NULL) and rel_err
    NULL — the ams_join_size shape."""
    empty = spark.createDataFrame([], "k bigint")
    row = sk.ams_f2(empty, "k").collect()[0]
    assert row.sum_x2 == 0 and row.exact_f2 == 0
    assert row.est_f2 == 0.0 and row.rel_err is None


def test_mass_sample_shard_merge_equals_direct_estimates(spark):
    """The end-to-end shard→merge→estimate operator at mixed rates
    (t=3, t=4) lands bit-identical to a DIRECT t=4 sample's estimates:
    the re-thresholded union IS the coarse sample, and the estimator is
    a pure function of the kept set — the whole algebra in one
    assert."""
    li = load_table(spark, SF001, "lineitem").selectExpr(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey * 8 + l_linenumber AS lk",
    )
    merged = sorted(map(tuple, sk.mass_sample_shard_merge_quantiles(
        li, "l_returnflag", "l_extendedprice", "lk", ts=(3, 4)
    ).collect()))
    direct = sorted(map(tuple, sk.mass_sample_quantiles(
        li, "l_returnflag", "l_extendedprice", "lk", t=4
    ).collect()))
    assert merged == direct and merged


def test_ams_registers_are_linear_and_partition_invariant(spark):
    """The AMS registers are plain SUMs, so (a) shard registers ADD
    into the corpus registers bit-exactly — the cheapest merge algebra
    in the sketch family, what per-file-batch incremental maintenance
    relies on at 100 TB — and (b) repartitioning moves nothing."""
    orders = load_table(spark, SF001, "orders")
    whole = sk.ams_registers(orders, "o_custkey").collect()[0]
    a = sk.ams_registers(
        orders.where(F.col("o_orderkey") % 2 == 0), "o_custkey"
    ).collect()[0]
    b = sk.ams_registers(
        orders.where(F.col("o_orderkey") % 2 == 1), "o_custkey"
    ).collect()[0]
    assert [a[i] + b[i] for i in range(64)] == list(whole)
    rep = sk.ams_registers(
        orders.repartition(7, "o_orderdate"), "o_custkey"
    ).collect()[0]
    assert list(rep) == list(whole)


def test_ams_registers_maintain_incrementally_over_a_stream(spark, tmp_path):
    """The ingest-time claim made concrete: the SAME ams_registers plan
    runs as a streaming complete-mode aggregate, and after each
    arriving wave the live register row equals the batch registers of
    everything seen so far — join-size/skew estimates stay current at
    ingest with 64 longs of state, no rescan."""
    orders = load_table(spark, SF001, "orders").select(
        "o_orderkey", "o_custkey"
    )
    w1 = orders.where(F.col("o_orderkey") % 2 == 0)
    src = str(tmp_path / "src")
    w1.write.parquet(src + "/b1")
    stream = spark.readStream.schema(orders.schema).parquet(src + "/*")
    q = (
        sk.ams_registers(stream, "o_custkey")
        .writeStream.format("memory")
        .queryName("t_ams_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        live1 = spark.sql("SELECT * FROM t_ams_stream").collect()[0]
        assert list(live1) == list(
            sk.ams_registers(w1, "o_custkey").collect()[0]
        )
        orders.where(F.col("o_orderkey") % 2 == 1).write.parquet(
            src + "/b2"
        )
        q.processAllAvailable()
        live2 = spark.sql("SELECT * FROM t_ams_stream").collect()[0]
        assert list(live2) == list(
            sk.ams_registers(orders, "o_custkey").collect()[0]
        )
    finally:
        q.stop()


def test_ams_f2_and_join_size_track_exact(spark):
    """Deterministic accuracy pin on the real fixtures: the md5 sign
    family is fixed, so the estimates are reproducible values — both
    moments must sit within the ~2σ band (σ ≈ √(2/64) ≈ 18%) of their
    exact counterparts, and the exact columns must equal first-
    principles recomputation."""
    orders = load_table(spark, SF001, "orders")
    customer = load_table(spark, SF001, "customer")
    f2 = sk.ams_f2(orders, "o_custkey").collect()[0]
    truth = (
        orders.groupBy("o_custkey").count()
        .agg(F.sum(F.col("count") * F.col("count"))).collect()[0][0]
    )
    assert f2.exact_f2 == truth
    assert abs(f2.rel_err) < 0.36
    js = sk.ams_join_size(
        orders, "o_custkey", customer, "c_custkey"
    ).collect()[0]
    assert js.exact_join_size == orders.join(
        customer, orders["o_custkey"] == customer["c_custkey"]
    ).count()
    assert abs(js.rel_err) < 0.36


def test_ams_null_keys_excluded_and_m_validated(spark):
    """NULL keys have no sign (md5(NULL) is NULL) — they must be
    EXCLUDED, not silently defaulted to −1 in every register by
    three-valued logic; and m outside [1, 64] is a contract error
    (one md5 yields 64 sign bits)."""
    import pytest

    base = spark.createDataFrame(
        [(i,) for i in range(1, 101)], "k bigint"
    )
    with_nulls = base.unionAll(
        spark.createDataFrame([(None,)] * 17, "k bigint")
    )
    assert (
        sk.ams_registers(with_nulls, "k").collect()[0]
        == sk.ams_registers(base, "k").collect()[0]
    )
    with pytest.raises(ValueError):
        sk.ams_registers(base, "k", m=65)
    with pytest.raises(ValueError):
        sk.ams_registers(base, "k", m=0)


def test_mass_sample_estimates_track_exact_quantiles(spark):
    """Statistical sanity at the registry's t=4 on real data: every
    estimated quantile must sit within the value range and be ordered
    p50 <= p90 <= p99; p50 within 15% relative of the exact median
    (m ~ 190 per group -> sigma_rank ~ 3.6%)."""
    orders = load_table(spark, SF001, "orders")
    est = {r.o_orderpriority: r for r in sk.mass_sample_quantiles(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    ).collect()}
    exact = {
        r.o_orderpriority: r.p50
        for r in orders.groupBy("o_orderpriority").agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50")
        ).collect()
    }
    for g, r in est.items():
        assert r.est_p50 <= r.est_p90 <= r.est_p99
        assert abs(r.est_p50 - exact[g]) / exact[g] < 0.15, g


def test_mass_sample_empty_sample_yields_no_row(spark):
    """A group whose keys all hash above the rate contributes NO output
    row (there is nothing to estimate from) — pinned so the contract is
    deliberate, and identical to the oracle's (the SQL kept-CTE is
    empty for that group too). t=40 puts the keep rate at ~9e-13: with
    ~15k orders the kept set is empty with near certainty."""
    orders = load_table(spark, SF001, "orders")
    out = sk.mass_sample_quantiles(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", t=40
    ).collect()
    assert out == []
