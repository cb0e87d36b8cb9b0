"""KMV (k-minimum-values) distinct-count sketches — the theta-sketch
family's core, built two ways to pin the scale story.

The reference's only aggregate is an exact SUM (reference
WordCount.java:95-114); a 100-TB engine also needs *mergeable* cardinality
sketches: per-partition partial sketches that shrink the shuffle to
``k`` values per (partition, group) regardless of input size, union-merge
at the reducer, and an estimate whose error is ~1/sqrt(k).

Estimator: hash every value to a uniform ``u ∈ [0,1)`` (52-bit md5
prefix / 2⁵²), retain the ``k`` smallest distinct ``u`` per group. With
``m`` retained values and ``u_k`` the k-th smallest:

* ``m < k``  → the group's distinct count is simply ``m`` (exact modulo
  64-bit hash collisions);
* ``m == k`` → estimate ``(k-1)/u_k`` (the classic KMV / bottom-k
  estimator).

Because the retained set ("k smallest distinct hashes") is a pure
function of the VALUE SET — independent of partitioning, batch order, or
merge order — both implementations below produce bit-identical
estimates, which the tests assert.

Two physical strategies:

* :func:`kmv_distinct` — JVM-only: distinct (group, u) pairs, per-group
  bottom-k via row_number window. Simple and codegen'd, but the shuffle
  carries every distinct pair — same volume as an exact count-distinct.
  The right choice when you wanted the exact count's shuffle anyway or
  |distinct| is modest.
* :func:`kmv_distinct_partial` — the 100-TB shape: an Arrow-batched
  ``mapInPandas`` pass keeps the k smallest per group PER PARTITION
  (bounded memory: k floats × |groups|), emits one bounded array row per
  (partition, group), and the final merge is an ordinary partial-agg'd
  ``groupBy`` whose input is ≤ |partitions|×|groups| rows — the shuffle
  no longer scales with the data.

:func:`kmv_merge` demonstrates the sketch algebra: union the per-group
retained sets into a single global-cardinality estimate without
rescanning the data.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .dedup import tokens_col

__all__ = [
    "kmv_distinct",
    "kmv_distinct_partial",
    "kmv_merge",
    "bitmap_distinct",
    "bitmap_distinct_global",
    "hll_sketch_distinct",
    "hll_estimate_manual",
    "hll_sliding_users",
    "cms_estimate_counts",
    "theta_intersection_estimate",
    "misra_gries_heavy_hitters",
    "hll_set_ops",
    "mass_sample_quantiles",
    "mass_sample_merge",
    "mass_sample_merge_quantiles",
    "mass_sample_shard_merge_quantiles",
    "mass_quantiles_from_state",
    "ams_registers",
    "ams_f2",
    "ams_join_size",
    "DEFAULT_K",
]

DEFAULT_K = 256


def _uniform_hash(value_col: str) -> Column:
    """md5 → uniform double in [0,1), externally reproducible.

    13 hex chars = 52 bits, so the integer is < 2⁵² and BOTH the
    long→double conversion and the /2⁵² division are exact — the uniform
    is bit-identical to DuckDB's ``('0x' || substr(md5(v),1,13))::BIGINT
    / 2^52``, which is what lets the KMV estimate be value-checked by the
    external oracle (the previous xxhash64 basis had no DuckDB twin).
    The value is stringified before hashing so any key type shares one
    canonical byte representation across engines."""
    h = F.md5(F.col(value_col).cast("string").cast("binary"))
    x = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
    return x.cast("double") / F.lit(float(2**52))


def _estimate(k: int) -> list[Column]:
    m = F.col("m")
    return [
        m.alias("retained"),
        F.when(m < k, m.cast("double"))
        .otherwise(F.lit(float(k - 1)) / F.col("kth"))
        .alias("kmv_est"),
    ]


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = DEFAULT_K
) -> DataFrame:
    """Per-group KMV distinct estimate, JVM window strategy.

    Plan: project (group, u) → distinct (one partial-agg'd shuffle) →
    row_number window (reuses the distinct's hash partitioning — no
    second exchange) → filter rn ≤ k → tiny final agg.
    """
    pairs = df.select(
        F.col(group_col), _uniform_hash(value_col).alias("u")
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("u")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("m"), F.max("u").alias("kth"))
        .select(group_col, *_estimate(k))
    )


def kmv_distinct_partial(
    df: DataFrame, group_col: str, value_col: str, k: int = DEFAULT_K
) -> DataFrame:
    """Per-group KMV distinct estimate, mergeable-partial strategy.

    Stage 1 (narrow, no shuffle): mapInPandas keeps the k smallest
    distinct u per group within each partition and emits them as ONE
    array row per (partition, group).
    Stage 2: groupBy(group) merges the bounded partials — collect the
    arrays (≤ |partitions| of them, each ≤ k), flatten, distinct, sort,
    keep k. The shuffle volume is |partitions|×|groups|×k doubles,
    independent of row count.
    """
    pairs = df.select(F.col(group_col).alias("g"), _uniform_hash(value_col).alias("u"))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby("g", sort=False):
                prev = state.get(g)
                cat = (
                    pd.concat([prev, sub["u"]]) if prev is not None else sub["u"]
                )
                state[g] = cat.drop_duplicates().nsmallest(k)
        if state:
            yield pd.DataFrame(
                {"g": list(state), "us": [s.tolist() for s in state.values()]}
            )

    gtype = pairs.schema["g"].dataType.simpleString()
    partials = pairs.mapInPandas(partial, schema=f"g {gtype}, us array<double>")
    merged = F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("us")))), 1, k
    )
    return (
        partials.groupBy("g")
        .agg(merged.alias("ks"))
        .select(
            F.col("g").alias(group_col),
            F.size("ks").alias("m"),
            F.element_at("ks", F.least(F.size("ks"), F.lit(k))).alias("kth"),
        )
        .select(group_col, *_estimate(k))
    )


def kmv_merge(df: DataFrame, group_col: str, value_col: str, k: int = DEFAULT_K) -> DataFrame:
    """Global distinct estimate by UNIONING the per-group sketches — the
    mergeability property that makes KMV a sketch rather than a sample:
    the k smallest of the union of per-group bottom-k sets equals the
    bottom-k of the full value multiset, so the global estimate needs no
    second scan. (Values shared by two groups count once: the union is a
    set union, exactly like theta-sketch union.)
    """
    pairs = df.select(
        F.col(group_col), _uniform_hash(value_col).alias("u")
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("u")
    retained = pairs.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    global_k = (
        retained.select("u")
        .distinct()
        .orderBy("u")
        .limit(k)
    )
    return global_k.agg(
        F.count(F.lit(1)).alias("m"), F.max("u").alias("kth")
    ).select(*_estimate(k))


def bitmap_distinct(events: DataFrame, key: str = "user_id",
                    group: str = "event_type") -> DataFrame:
    """EXACT distinct-count at sketch cost — Spark's bitmap aggregate
    family (``bitmap_bucket_number`` / ``bitmap_bit_position`` /
    ``bitmap_construct_agg``, Spark 3.5+): integer keys fold into fixed
    4 KB bitmaps per (group, 32k-wide bucket), so the shuffle after the
    map-side partial agg carries ``|groups| × |key range|/32768``
    bitmap rows — independent of ROW count, unlike exact
    count-distinct whose shuffle carries every distinct pair.

    The middle tier of the engine's cardinality ladder: exact
    count-distinct (full pairs shuffle) > **bitmap (exact, bounded
    shuffle, needs bounded-int keys)** > KMV/HLL (approximate, O(k)
    any-type keys). Count and OR-merge are both partial-aggregable;
    the same bitmaps also union across groups (``bitmap_or_agg``) for a
    global exact count with no rescan — asserted in tests.
    """
    seg = (
        events.groupBy(
            F.col(group),
            F.expr(f"bitmap_bucket_number({key})").alias("bkt"),
        )
        .agg(F.expr(f"bitmap_construct_agg(bitmap_bit_position({key}))").alias("bm"))
    )
    return (
        seg.groupBy(group)
        .agg(F.expr("sum(bitmap_count(bm))").alias("n_distinct"))
    )


def bitmap_distinct_global(events: DataFrame, key: str = "user_id",
                           group: str = "event_type") -> DataFrame:
    """OR-merge the per-(group, bucket) bitmaps of :func:`bitmap_distinct`
    into a single exact global distinct count — sketch-algebra twin of
    :func:`kmv_merge`, but lossless."""
    seg = (
        events.groupBy(
            F.col(group),
            F.expr(f"bitmap_bucket_number({key})").alias("bkt"),
        )
        .agg(F.expr(f"bitmap_construct_agg(bitmap_bit_position({key}))").alias("bm"))
    )
    return (
        seg.groupBy("bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.expr("sum(bitmap_count(bm))").alias("n_distinct_global"))
    )


def cms_estimate_counts(
    documents: DataFrame, d: int = 4, w: int = 1024, top: int = 20
) -> DataFrame:
    """Count-min sketch built openly in SQL — md5-derived row hashes, so
    the full counter matrix AND the point estimates replay in an external
    engine (the builtin ``count_min_sketch`` twin,
    textstats.token_frequency_sketch, emits an engine-specific blob the
    oracle can't decode).

    Build: every token occurrence increments one bucket per depth row —
    ``bucket_i(t) = md5(i ':' t)[52 bits] mod w`` — so the sketch is the
    (depth, bucket) count table: ``d × w`` rows after partial aggregation
    no matter how many tokens streamed through (the mergeable-summary
    property; the shuffle is sketch-sized, not data-sized). Query: the
    top-`top` tokens by exact count (deterministic (count, tok) order)
    look up their d buckets and take the min — the classic one-sided
    estimate (cms_est ≥ exact, inflated only by collisions; the unit test
    pins the error bound ε·N and the registry oracle replays every value).

    The candidate probe set is broadcast — 4·top rows against the bounded
    counter table, no shuffle.
    """
    toks = documents.select(F.explode(tokens_col()).alias("tok"))
    depths = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("depth")

    def bucket(depth: Column, tok: Column) -> Column:
        h = F.md5(F.concat(depth.cast("string"), F.lit(":"), tok))
        return F.conv(F.substring(h, 1, 13), 16, 10).cast("long") % w

    counters = (
        toks.select("tok", depths)
        .select("depth", bucket(F.col("depth"), F.col("tok")).alias("bucket"))
        .groupBy("depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top_toks = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "tok")
        .limit(top)
    )
    cand = top_toks.select("tok", "exact_cnt", depths).select(
        "tok",
        "exact_cnt",
        "depth",
        bucket(F.col("depth"), F.col("tok")).alias("bucket"),
    )
    return (
        counters.join(F.broadcast(cand), ["depth", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )


def _estimate_from_registers(
    regs: DataFrame, keys: list[str], m: int, alpha: float, out: str
) -> DataFrame:
    """Fold a (keys..., idx, M) register relation into the HLL estimate —
    raw ``alpha·m²/Z`` with the linear-counting small-range branch; every
    2^-M term is dyadic so Z is aggregation-order independent (see
    hll_estimate_manual)."""
    agg = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("v_set"),
        F.sum(F.pow(F.lit(2.0), -F.col("M"))).alias("z_set"),
    )
    raw = F.lit(alpha * m * m) / (
        F.col("z_set") + (F.lit(m) - F.col("v_set")).cast("double")
    )
    zeros = (F.lit(m) - F.col("v_set")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    # rounded: the linear-counting branch's ln() legally differs by an
    # ulp between the JVM and libm — 6 decimals absorb it (measured:
    # 110/720 sliding windows flipped the last bit unrounded)
    return agg.select(
        *keys,
        F.col("v_set").cast("int").alias("registers_set"),
        F.round(est, 6).alias(out),
    )


HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _hll_registers(key: str, b: int) -> tuple[Column, Column, int, float]:
    """The md5 register split of ``key`` over ``m = 2^b`` registers:
    ``(idx, rho, m, alpha)``. A 52-bit md5 prefix splits into the
    ``b``-bit register index ``idx`` and a ``w = 52-b`` bit suffix;
    ``rho`` is the 1-based position of the suffix's leftmost 1-bit
    (``w+1`` for an all-zero suffix), taken from ``length(bin(x))`` as
    an integer bit-length (both engines print binary without leading
    zeros), never float log2. Raises ``ValueError`` unless ``alpha_m``
    is tabulated for ``m``.
    """
    if b not in (4, 5, 6):
        raise ValueError("b must be 4..6 so alpha_m is tabulated")
    m = 1 << b
    w = 52 - b
    alpha = HLL_ALPHA[m]
    h = F.md5(F.col(key).cast("string").cast("binary"))
    x = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
    idx = F.shiftright(x, w)
    rest = x.bitwiseAND(F.lit((1 << w) - 1))
    rho = (
        F.when(rest == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.bin(rest)))
        .cast("int")
    )
    return idx, rho, m, alpha


def hll_estimate_manual(
    events: DataFrame, key: str = "user_id", group: str = "event_type", b: int = 6
) -> DataFrame:
    """HyperLogLog from first principles on an md5 basis — every register
    and the final estimate value-checkable by an external SQL engine
    (unlike the DataSketches surface of :func:`hll_sketch_distinct`,
    whose binary encoding is engine-specific).

    Flajolet et al.'s estimator over the ``m = 2^b`` md5 registers of
    :func:`_hll_registers`: register ``j`` keeps ``M_j = max(rho)``.
    Estimate ``alpha_m·m²/Z`` with ``Z = Σ 2^-M_j``
    (absent registers contribute 2⁰ = 1), and the linear-counting
    small-range correction ``m·ln(m/V)`` when ``E ≤ 2.5m`` and ``V > 0``
    registers are empty.

    Determinism across engines is engineered, not hoped for: every
    ``2^-M_j`` is a dyadic rational ≥ 2^-(w+1) and the register count is
    ≤ m, so Z is an exact multiple of 2^-(w+1) below 2^53·2^-(w+1) —
    EVERY partial-aggregation order produces the identical double, and
    the one division/log afterwards is single-rooted IEEE.

    Scale: groupBy(group, idx) partial-aggregates max(rho) map-side, so
    the shuffle carries ≤ m rows per group per partition regardless of
    input rows — the classic mergeable-sketch shape.
    """
    idx, rho, m, alpha = _hll_registers(key, b)
    regs = (
        events.select(F.col(group), idx.alias("idx"), rho.alias("rho"))
        .groupBy(group, "idx")
        .agg(F.max("rho").alias("M"))
    )
    return _estimate_from_registers(regs, [group], m, alpha, "hll_est")


def hll_sliding_users(
    events: DataFrame, key: str = "user_id", hours: int = 3, b: int = 6
) -> DataFrame:
    """Distinct users over a TRAILING window via HLL register merge — the
    query that shows why sketches beat exact counts on overlapping
    windows: per-hour registers are built ONCE, and each sliding window
    is a max-merge of ``hours`` bounded register sets (union semantics,
    no double counting), never a rescan of the raw events. An exact
    sliding distinct would re-shuffle every event ``hours`` times; this
    reshuffles ``hours × m`` register rows per hour, independent of
    event volume.

    Same :func:`_hll_registers` split and dyadic-exact estimate as
    :func:`hll_estimate_manual`; the merge is a bounded range join of the
    hour grid onto the sketch relation (|hours|·m·``hours`` rows —
    sketch-sized at any scale).
    """
    idx, rho, m, alpha = _hll_registers(key, b)
    hour_num = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)
    ).alias("hour_num")
    regs = (
        events.select(hour_num, idx.alias("idx"), rho.alias("rho"))
        .groupBy("hour_num", "idx")
        .agg(F.max("rho").alias("M"))
    )
    grid = regs.select("hour_num").distinct().alias("g")
    r = regs.alias("r")
    merged = (
        grid.join(
            r,
            (F.col("r.hour_num") <= F.col("g.hour_num"))
            & (F.col("r.hour_num") > F.col("g.hour_num") - hours),
        )
        .groupBy(F.col("g.hour_num").alias("hour_num"), F.col("r.idx"))
        .agg(F.max("M").alias("M"))
    )
    est = _estimate_from_registers(
        merged, ["hour_num"], m, alpha, "hll_users_trailing"
    )
    return est.select(
        F.date_format(
            F.timestamp_seconds(F.col("hour_num") * 3600), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_end_hour"),
        "registers_set",
        "hll_users_trailing",
    )


def hll_sketch_distinct(events: DataFrame, key: str = "user_id",
                        group: str = "event_type",
                        lg_k: int = 14) -> DataFrame:
    """Apache DataSketches HLL surface (``hll_sketch_agg`` /
    ``hll_sketch_estimate``, Spark 3.5+): per-group cardinality sketches
    whose BINARY representation is the cross-system interchange format —
    the same bytes load in Druid/Hive/Pinot/the datasketches-python lib,
    which is the practical reason to pick it over Spark's own HLL++
    (``approx_count_distinct``, no exposed sketch bytes).

    Emits both the per-group estimate and the sketch bytes; the
    mergeability twin (``hll_union_agg`` over these bytes == one-shot
    global sketch) is asserted in tests. Estimate-only output (no DuckDB
    sketch twin) → rows-only oracle, same policy as ``approx_distinct``.
    """
    return (
        events.groupBy(group)
        .agg(F.expr(f"hll_sketch_agg({key}, {lg_k})").alias("sk"))
        .select(
            group,
            F.expr("CAST(round(hll_sketch_estimate(sk)) AS BIGINT)").alias(
                "approx_users"
            ),
            F.length("sk").alias("sketch_bytes"),
        )
    )


def theta_intersection_estimate(
    a: DataFrame, a_key: str, b: DataFrame, b_key: str, k: int = DEFAULT_K
) -> DataFrame:
    """Distinct-key JOIN-CARDINALITY estimate from two KMV (theta)
    sketches — the sketch-algebra operation behind join planning at
    100 TB: each side is summarized ONCE into k hashes, and the overlap
    estimate needs only the sketches, never a join of the raw tables.

    Theta-sketch intersection: with per-side thresholds θ = u_(k) (the
    k-th smallest uniform; 1.0 for an exact side with < k keys),
    θ∩ = min(θ_a, θ_b), and S = {x ∈ K_a ∩ K_b : u(x) < θ∩}, the
    estimator |S| / θ∩ is unbiased for |A ∩ B| — the same md5 basis as
    kmv_distinct, so the whole derivation replays in the oracle.
    Emits the estimate next to the exact intersection (cheap at test
    scale) so the relative error is part of the checked output.
    """
    def bottom(df: DataFrame, key: str):
        # orderBy+limit compiles to TakeOrderedAndProject — per-partition
        # k-heaps, never the single-task global sort an unpartitioned
        # row_number window would force on |distinct keys| rows
        pairs = df.select(_uniform_hash(key).alias("u")).distinct()
        return pairs.orderBy("u").limit(k)

    ka, kb = bottom(a, a_key).alias("ka"), bottom(b, b_key).alias("kb")
    theta_a = ka.agg(
        F.when(F.count(F.lit(1)) < k, F.lit(1.0))
        .otherwise(F.max("u"))
        .alias("ta")
    )
    theta_b = kb.agg(
        F.when(F.count(F.lit(1)) < k, F.lit(1.0))
        .otherwise(F.max("u"))
        .alias("tb")
    )
    inter = ka.join(kb, F.col("ka.u") == F.col("kb.u")).select(
        F.col("ka.u").alias("u")
    )
    est = (
        inter.crossJoin(F.broadcast(theta_a))
        .crossJoin(F.broadcast(theta_b))
        .where(F.col("u") < F.least("ta", "tb"))
        .agg(
            F.count(F.lit(1)).alias("retained"),
            # empty intersection: MIN over zero rows is NULL — the
            # estimator must report 0.0, not propagate the null
            F.coalesce(
                F.round(
                    F.count(F.lit(1)) / F.min(F.least("ta", "tb")), 4
                ),
                F.lit(0.0),
            ).alias("est_overlap"),
        )
    )
    exact = (
        a.select(F.col(a_key).alias("x"))
        .distinct()
        .join(b.select(F.col(b_key).alias("x")).distinct(), "x")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return est.crossJoin(exact).select(
        "retained", "est_overlap", "exact_overlap"
    )


def bloom_prefilter(
    orders: DataFrame,
    customer: DataFrame,
    m_bits: int = 4096,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-filter membership prefilter — the third sketch family
    (bitmap/KMV/CMS exist): build a Bloom filter over the custkeys that
    ordered in the final data year, probe EVERY customer, and report
    the confusion counts plus the realized false-positive rate. The
    classic join/scan prefilter: a probe that fails the Bloom skips the
    expensive lookup with zero false negatives by construction.

    Bit positions are md5-derived (``i:key`` seeds, one 60-bit integer
    mod m) — engine-reproducible like every md5-based sketch here, so
    the whole filter and every probe verdict value-hash externally.
    The built filter is the DISTINCT set-bit table (sparse form, ≤ m
    rows), broadcast to probes; a probe passes iff all k positions hit
    (count == k). Zero false negatives is asserted by the oracle row:
    n_true_members counts only Bloom-passing true members.

    Scale: build is one distinct-aggregate over k·|members| ints; the
    probe side shuffles nothing (broadcast hash join per position);
    the summary is a single partial-agg'd row.
    """

    def pos(key: Column, i: int) -> Column:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return (h % m_bits).alias(f"p{i}")

    members = (
        orders.where(F.year("o_orderdate") == 2001)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    bits = (
        members.select(
            F.explode(
                F.array(*[pos(F.col("key"), i) for i in range(k_hashes)])
            ).alias("bit")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probes = customer.select(F.col("c_custkey").alias("key")).select(
        "key", *[pos(F.col("key"), i) for i in range(k_hashes)]
    )
    probed = probes.select(
        "key",
        F.explode(F.array(*[F.col(f"p{i}") for i in range(k_hashes)])).alias(
            "bit"
        ),
    )
    hits = (
        probed.join(F.broadcast(bits), "bit", "left")
        .groupBy("key")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"))
        .select("key", (F.col("n_hit") == k_hashes).alias("bloom_pass"))
    )
    truth = members.withColumn("is_member", F.lit(1))
    joined = hits.join(truth, "key", "left").select(
        "key",
        "bloom_pass",
        F.coalesce("is_member", F.lit(0)).alias("is_member"),
    )
    n_bits = bits.select(F.count(F.lit(1)).cast("bigint").alias("n_set_bits"))
    return (
        joined.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probed"),
            F.sum(F.col("bloom_pass").cast("int")).cast("bigint").alias("n_pass"),
            F.sum("is_member").cast("bigint").alias("n_members"),
            F.sum(
                (F.col("bloom_pass").cast("int") * F.col("is_member"))
            ).cast("bigint").alias("n_true_members"),
            F.sum(
                (F.col("bloom_pass").cast("int") * (1 - F.col("is_member")))
            ).cast("bigint").alias("n_false_pos"),
        )
        .join(F.broadcast(n_bits))
        .select(
            "n_probed",
            "n_set_bits",
            "n_members",
            "n_pass",
            "n_true_members",
            "n_false_pos",
            F.round(
                F.col("n_false_pos").cast("double")
                / F.greatest(
                    (F.col("n_probed") - F.col("n_members")).cast("double"),
                    F.lit(1.0),
                ),
                6,
            ).alias("fp_rate"),
        )
    )


def misra_gries_heavy_hitters(
    documents: DataFrame, k: int = 50, capacity: int = 200
) -> DataFrame:
    """Exact corpus heavy hitters via the canonical two-pass distributed
    design: a bounded-memory Misra-Gries candidate pass, then an exact
    recount of the (small) candidate set.

    Pass 1 keeps a Misra-Gries summary of ``capacity`` counters per
    partition (Arrow-batched ``mapInPandas``; batches merge with the
    Agarwal et al. mergeable-summaries rule: add counts, subtract the
    (capacity+1)-th largest, drop non-positive). MG guarantees every
    token whose *partition* frequency exceeds n_p/(capacity+1) survives
    its partition summary, and pigeonhole lifts that to the corpus: any
    token with global count > N/(capacity+1) — in particular every
    token above the N/k report threshold, since capacity >= k —
    appears in at least one summary. The union of summaries is
    therefore a SUPERSET of the true heavy hitters, at most
    ``capacity`` rows per partition regardless of data size.

    Pass 2 semi-joins the corpus back to that candidate set and counts
    exactly; the final filter ``cnt * k > N`` is pure int64 arithmetic,
    so the output — every token with frequency > N/k, with its exact
    count — is deterministic and engine-independent no matter what the
    sketch kept. (A one-pass MG alone reports *estimates* with error
    up to N/capacity; the recount pass is what buys exactness, for one
    extra scan.)

    Scale: pass-1 state is capacity × |partitions| counters, the
    candidate exchange carries <= capacity rows per partition, and the
    recount shuffles only candidate tokens (a left-semi join prunes
    the rest map-side). Nothing is ever collected to the driver.
    """
    from ..sources.catalog import ensure_parallelism

    words = ensure_parallelism(documents.select("doc_id", "text")).select(
        F.explode(tokens_col()).alias("word")
    )

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters = pd.Series(dtype="int64")
        for pdf in batches:
            counters = counters.add(pdf["word"].value_counts(), fill_value=0)
            if len(counters) > capacity:
                cut = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters.sub(cut)
                counters = counters[counters > 0]
        yield pd.DataFrame({"word": counters.index.astype(str)})

    cand = words.mapInPandas(mg, schema="word string").distinct()
    counts = words.join(cand, "word", "left_semi").groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    total = words.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * F.lit(k) > F.col("n_total"))
        .select("word", "cnt")
    )


def hll_set_ops(
    events: DataFrame,
    key: str = "user_id",
    type_a: str = "view",
    type_b: str = "purchase",
    b: int = 6,
) -> DataFrame:
    """HLL sketch ALGEBRA: union two per-segment register sets by
    register max-merge and estimate the audience overlap by
    inclusion-exclusion (``E_a + E_b - E_union``) — the query a
    marketing overlap / reach panel answers from sketches alone,
    WITHOUT rescanning either side. Exact distinct counts ride along so
    the row itself shows the sketch error.

    Registers, estimator, and the dyadic-exact ``Z`` sum are exactly
    :func:`hll_estimate_manual`'s (md5 basis, so every register is
    reproducible in any engine); the union is the sketch-theoretic
    max-merge, the ONLY lossless set operation HLL supports — the
    intersection is derived arithmetic on three estimates, never a
    register op, and its error is correspondingly larger (that is the
    honest sketch trade-off this query makes visible).

    Scale: per-type registers partial-aggregate map-side (≤ m rows per
    type per partition); the union merges two ≤ m register sets; the
    exact side is one distinct-flag aggregate. The final assembly
    crossJoins four single-row frames (broadcast, constant size).
    """
    idx, rho, m, alpha = _hll_registers(key, b)
    both = events.where(F.col("event_type").isin(type_a, type_b))
    regs = (
        both.select("event_type", idx.alias("idx"), rho.alias("rho"))
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("M"))
    )
    ra = regs.where(F.col("event_type") == type_a).select("idx", "M")
    rb = regs.where(F.col("event_type") == type_b).select("idx", "M")
    ru = regs.groupBy("idx").agg(F.max("M").alias("M"))
    ea = _estimate_from_registers(ra, [], m, alpha, "est_a").select("est_a")
    eb = _estimate_from_registers(rb, [], m, alpha, "est_b").select("est_b")
    eu = _estimate_from_registers(ru, [], m, alpha, "est_union").select(
        "est_union"
    )
    flags = both.groupBy(key).agg(
        F.max(F.when(F.col("event_type") == type_a, 1).otherwise(0)).alias(
            "ha"
        ),
        F.max(F.when(F.col("event_type") == type_b, 1).otherwise(0)).alias(
            "hb"
        ),
    )
    exact = flags.agg(
        F.sum("ha").cast("bigint").alias("exact_a"),
        F.sum("hb").cast("bigint").alias("exact_b"),
        F.sum(F.col("ha") * F.col("hb")).cast("bigint").alias(
            "exact_intersect"
        ),
    )
    est_i = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return (
        exact.crossJoin(F.broadcast(ea))
        .crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .select(
            "exact_a",
            "exact_b",
            "exact_intersect",
            "est_a",
            "est_b",
            "est_union",
            F.round(est_i, 6).alias("est_intersect"),
            F.round(
                (est_i - F.col("exact_intersect").cast("double"))
                / F.col("exact_intersect").cast("double"),
                6,
            ).alias("rel_err_intersect"),
        )
    )


def _mass_kept(
    df: DataFrame, group_col: str, value_col: str, key_col: str, t: int
) -> DataFrame:
    """The sketch state: rows whose md5-uniform key hash falls under
    2^-t. A pure function of the KEY SET (partition-, order- and
    merge-independent, the KMV discipline), so any two engines — and any
    two shards — retain exactly the same rows."""
    rate = F.lit(2.0 ** -t)
    return df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("v"),
        F.col(key_col).alias("k"),
    ).where(_uniform_hash_col(F.col(key_col)) < rate)


def _uniform_hash_col(col: Column) -> Column:
    """:func:`_uniform_hash` over an arbitrary Column expression."""
    h = F.md5(col.cast("string").cast("binary"))
    x = F.conv(F.substring(h, 1, 13), 16, 10).cast("long")
    return x.cast("double") / F.lit(float(2**52))


def mass_sample_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    t: int = 4,
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable QUANTILE sketch — the member the sketch family was
    missing (KMV/HLL/theta answer "how many distinct", CMS "how often",
    Misra-Gries "which heavy"; this answers "what value sits at rank
    q"). Exact percentiles need the whole column through a sort or a
    bounded-state two-pass; at 100 TB the mergeable-sketch shape is a
    deterministic HASH-MASS SAMPLE: keep exactly the rows whose
    md5-uniform key hash < 2^-t (a 2^-t Bernoulli sample that is a pure
    function of the key set), estimate quantile q as the kept sample's
    q-quantile (value at rank ceil(q·m) of the m kept rows, ties broken
    by key — fully deterministic, error ~ sqrt(q(1-q)/m)).

    Why this basis and not GK/KLL compactors: the kept set is
    partition-, order- and merge-independent, so per-shard states union
    losslessly (:func:`mass_sample_merge`), estimates are bit-identical
    at any parallelism, and DuckDB replays the whole pipeline — the
    same reasons the KMV/HLL family runs on open md5 registers rather
    than engine-private sketch blobs. A KLL compactor's state depends
    on arrival order; its estimates could only be rows-only checked.

    Scale: the filter is map-side (no UDF, no shuffle); only n·2^-t
    sampled rows reach the per-group sort window; ``t`` rises with
    corpus size to hold the state budget (re-thresholding existing
    states to a larger t is the lossless merge-time downgrade).

    Output per group: ``sample_n``, ``sample_rate``, and one
    ``est_p<q>`` column per requested quantile.
    """
    return mass_quantiles_from_state(
        _mass_kept(df, group_col, value_col, key_col, t), t, qs, group_col
    )


def mass_quantiles_from_state(
    kept: DataFrame, t: int, qs: tuple = (0.5, 0.9, 0.99),
    group_alias: str = "grp",
) -> DataFrame:
    """The estimator half of the quantile sketch: quantile estimates
    from an already-materialized ``(grp, v, k)`` kept state at rate
    2^-t. Split out so MERGED states (:func:`mass_sample_merge`) feed
    the exact same ranked-window arithmetic as direct samples — the
    estimate is a pure function of the kept set, so merged-then-
    estimated and estimated-directly agree bit for bit whenever the
    kept sets agree (which the merge algebra guarantees)."""
    w = Window.partitionBy("grp").orderBy("v", "k")
    wm = Window.partitionBy("grp")
    ranked = kept.select(
        "grp",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    aggs = [
        F.max("m").cast("bigint").alias("sample_n"),
        F.lit(2.0 ** -t).alias("sample_rate"),
    ]
    for q in qs:
        target = F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("m")))
        aggs.append(
            F.min(F.when(F.col("rn") == target, F.col("v"))).alias(
                "est_p" + str(q).replace("0.", "").ljust(2, "0")
            )
        )
    out = ranked.groupBy("grp").agg(*aggs)
    return out.select(
        F.col("grp").alias(group_alias),
        *[c for c in out.columns if c != "grp"],
    )


def mass_sample_merge(
    states: list, t_out: int | None = None
) -> DataFrame:
    """Sketch algebra: union per-shard kept sets, RE-THRESHOLD to the
    coarsest rate among them (keys kept at rate 2^-t1 and re-filtered
    at t2 > t1 are exactly the keys a direct 2^-t2 sample keeps — the
    hash is shared, so a row survives iff u < 2^-t2), and the merged
    state is bit-identical to sampling the concatenated input directly.
    ``states`` are (grp, v, k, t) frames from :func:`_mass_kept`
    callers; pass ``t_out`` to downgrade further at merge time.

    All validation runs BEFORE any plan is built (ADVICE r11): an empty
    state list and a t > t_out both raise immediately with the real
    contract violation, never a bare ``max()`` error or a partially
    constructed union."""
    if not states:
        raise ValueError(
            "mass_sample_merge needs at least one shard state"
        )
    ts = [t for _, t in states]
    t_max = max(ts) if t_out is None else t_out
    bad = [t for t in ts if t > t_max]
    if bad:
        raise ValueError(
            "cannot up-sample a mass sketch: shard t=%d exceeds "
            "t_out=%d (a 2^-t sample cannot be refined back to a "
            "denser rate)" % (max(bad), t_max)
        )
    out = None
    for df, t in states:
        if t_max > t:
            df = df.where(_uniform_hash_col(F.col("k")) < F.lit(2.0 ** -t_max))
        out = df if out is None else out.unionAll(df)
    return out


def mass_sample_merge_quantiles(
    states: list,
    t_out: int | None = None,
    qs: tuple = (0.5, 0.9, 0.99),
    group_alias: str = "grp",
) -> DataFrame:
    """Merge per-shard quantile-sketch states and estimate in one step
    — the 100 TB deployment shape (VERDICT r11 item 6): each shard
    (file batch, ingest wave, cluster) keeps its own 2^-t hash-mass
    sample, shards union losslessly at possibly MIXED rates (the
    coarsest wins; finer shards are re-thresholded, which lands them
    exactly where a direct coarse sample would), and the merged state
    feeds the identical ranked-window estimator as a direct sample.
    Because the kept set after merge equals the kept set of a direct
    sample over the concatenated input, every estimate is bit-identical
    to single-pass sampling — the property the DuckDB oracle replays
    shard by shard.

    NULL keys: md5(NULL) is NULL, and ``NULL < rate`` is never true, so
    a NULL-keyed row is excluded from every shard state, every
    re-threshold, AND the direct sample — all three paths agree (the
    merge==direct equality survives NULL keys; pinned in tests). A
    row without a key has no sample identity, so exclusion is the
    contract, not a dropout."""
    ts = [t for _, t in states] or [0]
    t_eff = max(ts) if t_out is None else t_out
    return mass_quantiles_from_state(
        mass_sample_merge(states, t_out), t_eff, qs, group_alias
    )


def mass_sample_shard_merge_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    ts: tuple = (3, 4),
    t_out: int | None = None,
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """End-to-end shard→merge→estimate demonstration on ONE frame: rows
    shard by ``key_col % len(ts)`` (a deterministic stand-in for "each
    file batch / ingest wave kept its own sketch"), shard i keeps its
    2^-ts[i] hash-mass sample — deliberately MIXED rates, the realistic
    fleet state — and :func:`mass_sample_merge_quantiles` re-thresholds
    to the coarsest rate and estimates. The kept set after the merge is
    provably the direct coarse sample of the whole frame, so the DuckDB
    oracle can replay the per-shard keeps and the re-threshold
    literally and still land bit-exact. ``key_col`` must be numeric and
    unique (it is the sample's identity AND the rank tie-break)."""
    n = len(ts)
    # pmod, not %: Spark's % keeps the dividend's sign, so negative
    # keys would match NO shard and silently vanish from the union
    # (breaking merge==direct); pmod partitions every integer key.
    states = [
        (
            _mass_kept(
                df.where(F.pmod(F.col(key_col), F.lit(n)) == i),
                group_col,
                value_col,
                key_col,
                t,
            ),
            t,
        )
        for i, t in enumerate(ts)
    ]
    return mass_sample_merge_quantiles(states, t_out, qs, group_col)


def ams_registers(
    df: DataFrame, key_col: str, m: int = 64, prefix: str = "x"
) -> DataFrame:
    """AMS (Alon–Matias–Szegedy) tug-of-war registers over a key column
    — the moment estimator the sketch family was missing (KMV/HLL count
    DISTINCT keys; AMS measures the frequency vector itself, which is
    what join-size and skew prediction need at plan time). Register j
    is the signed row count ``X_j = Σ_rows s_j(key)`` where
    ``s_j(k) ∈ {±1}`` is bit j of md5(k) (MSB-first within each hex
    nibble) — one md5 per row, all ``m ≤ 64`` signs read from it, the
    open-register discipline that keeps every estimate
    DuckDB-replayable bit for bit (engine-private sketch blobs are not).

    The registers are plain SUMs, so they are LINEAR: shard registers
    ADD into the corpus registers exactly (pinned in tests) — the
    cheapest merge algebra any sketch here has. Shuffle after the
    map-side partial is ``m`` longs per partition, independent of data
    size. NULL keys are excluded up front (md5(NULL) is NULL; letting
    three-valued logic default them to sign −1 would silently bias
    every register — the r12 NULL-trap discipline).

    Output: ONE row with columns ``{prefix}0..{prefix}{m-1}`` (bigint).
    """
    if not 1 <= m <= 64:
        raise ValueError("ams_registers needs 1 <= m <= 64 (one md5)")
    # Interpolated identifiers must parse as plain references — a name
    # needing backticks (space, hyphen, reserved word) would parse
    # differently than the old F.col path or fail outright (ADVICE r12).
    import re

    for ident in (key_col, prefix):
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", ident):
            raise ValueError(
                f"ams_registers: identifier {ident!r} is not a plain "
                "SQL name; rename the column or pass a safe prefix"
            )
    # JVM-parsed expr strings (optimization r12): identical trees to the
    # Column-object loops at a fraction of the py4j round trips.
    h = f"md5(CAST(CAST({key_col} AS STRING) AS BINARY))"
    digits = df.where(F.col(key_col).isNotNull()).selectExpr(
        *[
            f"CAST(CONV(SUBSTRING({h}, {i + 1}, 1), 16, 10) AS INT) AS _d{i}"
            for i in range((m + 3) // 4)
        ]
    )
    aggs = []
    for j in range(m):
        i, b = divmod(j, 4)
        aggs.append(
            F.expr(
                f"CAST(COALESCE(SUM(CASE WHEN (SHIFTRIGHT(_d{i}, {3 - b})"
                f" & 1) = 1 THEN 1 ELSE -1 END), 0) AS BIGINT)"
                f" AS {prefix}{j}"
            )
        )
    return digits.agg(*aggs)


def ams_f2(df: DataFrame, key_col: str, m: int = 64) -> DataFrame:
    """Second frequency moment F2 = Σ_k f(k)² — the SELF-JOIN SIZE of
    the key column, estimated as mean(X_j²) over the AMS registers.
    E[X_j²] = F2 exactly (cross terms cancel in expectation under the
    ±1 signs); with m=64 the estimator's relative σ is ≈ √(2/m) ≈ 18%.
    This is the number a cost-based planner wants BEFORE shuffling a
    self-join or groupBy on a possibly-skewed key: F2 ≫ n signals the
    skew that AQE would otherwise discover only at runtime.

    Output also carries the EXACT F2 (one groupBy — affordable at eval
    scale; the estimator column is the product at 100 TB) and the
    relative error, the ``theta_intersection_estimate`` reporting
    shape. All arithmetic is integer until the single final division,
    so DuckDB replays the whole row bit for bit.
    """
    regs = ams_registers(df, key_col, m)
    sum_x2 = F.expr(
        "0 + " + " + ".join(f"x{j} * x{j}" for j in range(m))
    ).cast("bigint")
    exact = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .agg(
            F.coalesce(F.sum(F.col("f") * F.col("f")), F.lit(0))
            .cast("bigint")
            .alias("exact_f2")
        )
    )
    est = F.round(F.col("sum_x2").cast("double") / F.lit(float(m)), 6)
    return (
        regs.select(sum_x2.alias("sum_x2"))
        .crossJoin(F.broadcast(exact))
        .select(
            "sum_x2",
            F.lit(m).alias("m"),
            est.alias("est_f2"),
            "exact_f2",
            # empty-input shape matches ams_join_size: exact coalesces
            # to 0 and rel_err guards the division (NULL, not NaN/raise)
            F.when(
                F.col("exact_f2") > 0,
                F.round(
                    (est - F.col("exact_f2").cast("double"))
                    / F.col("exact_f2").cast("double"),
                    6,
                ),
            ).alias("rel_err"),
        )
    )


def ams_join_size(
    dfa: DataFrame,
    key_a: str,
    dfb: DataFrame,
    key_b: str,
    m: int = 64,
) -> DataFrame:
    """Equi-join OUTPUT size |A ⋈ B| = Σ_k fa(k)·fb(k), estimated as
    mean(Xa_j · Xb_j) over AMS registers built with the SAME md5 sign
    family on both sides (AGMS inner product: E[Xa_j·Xb_j] = Σ fa·fb
    exactly). The planner question this answers — "how many rows will
    this join emit?" — is what decides broadcast vs shuffle vs
    skew-split before any exchange happens; each side costs one scan
    and ships ``m`` longs, and either side's registers can be computed
    incrementally (linearity) as data arrives.

    The estimate can be negative on adversarially small inputs (a
    signed estimator's tail, not a bug); the exact join size and
    relative error ride along, the ``ams_f2`` reporting shape.
    """
    ra = ams_registers(dfa, key_a, m, prefix="a")
    rb = ams_registers(dfb, key_b, m, prefix="b")
    sum_xy = F.expr(
        "0 + " + " + ".join(f"a{j} * b{j}" for j in range(m))
    ).cast("bigint")
    fa = (
        dfa.where(F.col(key_a).isNotNull())
        .groupBy(F.col(key_a).alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("fa"))
    )
    fb = (
        dfb.where(F.col(key_b).isNotNull())
        .groupBy(F.col(key_b).alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("fb"))
    )
    exact = fa.join(fb, "k").agg(
        F.coalesce(F.sum(F.col("fa") * F.col("fb")), F.lit(0))
        .cast("bigint")
        .alias("exact_join_size")
    )
    est = F.round(F.col("sum_xy").cast("double") / F.lit(float(m)), 6)
    return (
        ra.crossJoin(F.broadcast(rb))
        .select(sum_xy.alias("sum_xy"))
        .crossJoin(F.broadcast(exact))
        .select(
            "sum_xy",
            F.lit(m).alias("m"),
            est.alias("est_join_size"),
            "exact_join_size",
            F.when(
                F.col("exact_join_size") > 0,
                F.round(
                    (est - F.col("exact_join_size").cast("double"))
                    / F.col("exact_join_size").cast("double"),
                    6,
                ),
            ).alias("rel_err"),
        )
    )
