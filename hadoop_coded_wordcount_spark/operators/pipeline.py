"""Training-data pipeline composition — the end-to-end curation shapes.

The reference is a single-query engine (word count, reference
WordCount.java); a training-data pipeline *composes* the extension
operators this repo adds (quality scoring, dedup, splits) into one
dataflow. These operators pin the two composition patterns:

* **deterministic split** — reproducible train/validation assignment.
  ``sample()`` is a trap for this: its output depends on partition layout
  and seed-per-partition, so the "same" split changes when the cluster
  size or file layout changes. Hashing the *key* (content-stable) makes
  the assignment a pure function of the row — identical on any cluster,
  any partitioning, any engine.
* **curation pipeline** — quality filter → exact dedup → corpus stats,
  chained as one lazy plan so Catalyst fuses the projections and the
  only materialization points are the dedup window and the final
  aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .relational import half_up
from .textstats import bigram_pairs, quality_col, tokens_col

__all__ = [
    "deterministic_split",
    "corpus_curation",
    "stratified_sample",
    "contamination_check",
    "mixture_weights",
    "weighted_sample",
    "pack_sequences",
    "stratified_fixed_k",
    "target_encoding",
    "SAMPLE_RATES",
]

#: First-two-hex-chars threshold for the ~90% train split: 0xe6/0x100.
SPLIT_HEX = "e6"


def deterministic_split(documents: DataFrame) -> DataFrame:
    """Per-(split, lang) corpus tallies under a hash-stable 90/10 split.

    The assignment is ``sha256(doc_id)[:2] < 'e6'`` — both engines emit
    lowercase-hex sha256, so the oracle reproduces the split exactly.
    In production the hash key is the *content fingerprint*, not the id,
    so re-ingested copies of a document always land in the same split
    (no train/test leakage through duplicates).

    The stratification tally is the check a pipeline runs after any
    split: counts and char totals per (split, lang) — one partial-agg
    shuffle of 2×|langs| rows.
    """
    bucket = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2)
    split = F.when(bucket < SPLIT_HEX, "train").otherwise("validation")
    return (
        documents.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def corpus_curation(documents: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """Quality filter → exact dedup → per-lang corpus stats, one dataflow.

    Order matters at scale: the quality score is computed INLINE in the
    scan projection (``textstats.quality_col`` — not a join back to the
    scored table, which would read the corpus twice), so the filter runs
    before dedup and shrinks the window shuffle's input; dedup partitions
    on the 32-byte content hash (never the text); the final rollup is a
    partial-agg shuffle of |langs| rows. Average quality is summed in
    DECIMAL so the rollup is order-independent for the oracle.
    """
    scored = (
        documents.where(F.size(tokens_col()) > 0)
        .withColumn("quality", quality_col())
        .where(F.col("quality") >= min_quality)
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    deduped = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality"),
    )


#: Per-language keep rates for the stratified sample — the "domain
#: mixing" knob of a training run (keep all English, downsample the
#: rest). Consumed by BOTH the Spark plan and the oracle SQL generator.
SAMPLE_RATES: dict[str, float] = {
    "en": 1.0,
    "de": 0.5,
    "es": 0.5,
    "fr": 0.25,
    "zh": 0.25,
}


def _rate_hex(rate: float) -> str:
    """First-two-hex-chars threshold encoding rate/256 (same bucket
    arithmetic as the train/validation split)."""
    return format(min(255, int(rate * 256)), "02x")


def stratified_sample(documents: DataFrame) -> DataFrame:
    """Deterministic per-language downsampling (domain mixing).

    Same hash-bucket discipline as :func:`deterministic_split` — keep a
    document iff its sha256 bucket falls below the language's rate
    threshold — so the sample is a pure function of the row: identical on
    any cluster, partitioning, or engine, and a document's fate never
    flips between runs (``sample()`` can't promise any of that). Rate 1.0
    keeps everything without touching the hash.

    Scale: a single filter projection — no shuffle, pipelines into the
    scan; the selectivity Catalyst sees is the blended keep rate.
    """
    bucket = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2)
    keep = F.lit(False)
    for lang, rate in sorted(SAMPLE_RATES.items()):
        cond = F.col("lang") == lang
        keep = keep | (
            cond if rate >= 1.0 else (cond & (bucket < _rate_hex(rate)))
        )
    return documents.where(keep).select("doc_id", "lang", "source")


def contamination_check(documents: DataFrame, n: int = 3) -> DataFrame:
    """Train→validation n-gram contamination report.

    The eval-integrity check a training pipeline runs before trusting a
    held-out split: which validation documents share any word ``n``-gram
    with the training split, and how many distinct n-grams collide. Uses
    the same hash-stable split as :func:`deterministic_split` and the
    same shingle semantics as ``dedup.shingled``.

    Scale: shingles explode once, split by the hash bucket, and collide
    via a semi-join keyed on the gram string — candidate volume is
    bounded by gram frequency, never |train|×|val|. (In production the
    train side is the inverted index you already wrote —
    ``textstats.inverted_index`` — not a rescan.)

    The shingled frame is ``persist()``ed before branching: both the
    train-gram set and the validation probe derive from it, and without
    the cache each branch re-runs the whole shingle construction —
    worse, exploding a *computed* string-gram array straight out of its
    projection measured ~30× slower than exploding the same array from
    a materialized row (11.2 s vs 0.34 s at sf0.1), so materializing
    the per-doc arrays once is the dominant win, not just the dedup of
    the two scans. The cached row is (doc_id, split, grams) — linear in
    corpus size, the same write-once-scan-twice posture as the LSH
    signature tables.
    """
    from .dedup import shingled

    bucket = F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 2)
    sh = (
        shingled(documents, n=n)
        .withColumn(
            "split", F.when(bucket < SPLIT_HEX, "train").otherwise("validation")
        )
        .select("doc_id", "split", "grams")
        .persist()
    )
    train_grams = (
        sh.where(F.col("split") == "train")
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    val = sh.where(F.col("split") == "validation").select(
        "doc_id", F.explode("grams").alias("gram")
    )
    from ..sources.catalog import finish_cached

    hits = val.join(train_grams, "gram", "left_semi")
    return finish_cached(
        hits.agg(
            F.count_distinct("doc_id").alias("n_contaminated_docs"),
            F.count_distinct("gram").alias("n_colliding_grams"),
            F.count(F.lit(1)).alias("n_gram_hits"),
        ),
        sh,
    )


def mixture_weights(
    documents: DataFrame, alpha: float = 0.5, budget: int = 1_000_000
) -> DataFrame:
    """Data-mixture planning: per-source sampling weights proportional to
    size^alpha — the standard LLM-pretraining recipe knob (alpha < 1
    up-weights small high-quality sources against the web-scale bulk;
    alpha=1 is proportional, alpha=0 uniform).

    Emits, per source: token count, normalized mixture weight, the token
    budget allotted, and the sampling rate to hit it (capped at 1 —
    over-allotted sources surface as rate 1.0, telling the pipeline to
    either upsample by repetition or re-normalize).

    Scale: one partial-agg'd shuffle of |sources| rows, then a
    single-partition window over that tiny aggregate for the normalizer —
    driver-free, rescan-free. Transcendental (pow) outputs round to 6 dp
    per the module determinism discipline.
    """
    toks = tokens_col()
    per_src = documents.groupBy("source").agg(
        F.sum(F.size(toks)).cast("bigint").alias("n_tokens")
    )
    w = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    wsum = F.sum(w).over(Window.partitionBy())
    frac = w / wsum
    return per_src.select(
        "source",
        "n_tokens",
        F.round(frac, 6).alias("weight"),
        F.floor(frac * budget).cast("bigint").alias("budget_tokens"),
        F.round(F.least(F.lit(1.0), frac * budget / F.col("n_tokens")), 6).alias(
            "sampling_rate"
        ),
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int = 100,
) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement — sequential
    Poisson sampling (Ohlsson 1998, a.k.a. priority sampling): each row
    draws a uniform ``u ∈ (0,1)`` and takes priority ``u / w``; the k
    SMALLEST priorities are a probability-proportional-to-size sample
    without replacement. One pass, no rejection loop, no sequential state
    — the classic way to draw a bounded eval/debug set from a weighted
    corpus at any scale. (The Efraimidis–Spirakis ``u^(1/w)`` key yields
    the same inclusion law; ``u/w`` is chosen because it needs NO
    transcendental: hash → two IEEE divisions, each correctly rounded, so
    Spark and the DuckDB oracle produce bit-identical doubles and the
    sample is value-hash-verifiable — pow/log differ across libm
    implementations in the last ulp, which can flip the k-th boundary.)

    Determinism: ``u`` comes from the first 15 hex chars of
    ``md5(key)`` (a 60-bit integer both engines derive identically), so
    the sample is a pure function of the key set — partition-layout-
    independent, reproducible across runs and engines (asserted in tests
    and by the external oracle). Ties are impossible modulo hash
    collisions, but the sort key still appends the row key for total
    order.

    Scale: the top-k compiles to TakeOrderedAndProject — per-partition
    k-heaps, then a k-row merge on the driver side of the exchange; no
    global sort ever materializes. Weights must be > 0.
    """
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(2**60 + 2))
    score = u / F.col(weight_col).cast("double")
    return (
        df.select(
            F.col(key_col),
            F.col(weight_col).cast("double").alias("weight"),
            score.alias("sample_score"),
        )
        .orderBy(F.asc("sample_score"), F.col(key_col))
        .limit(k)
    )


def pack_sequences(
    documents: DataFrame, capacity: int = 256, shards: int = 8
) -> DataFrame:
    """Concat-then-split sequence packing — the step that turns variable-
    length documents into fixed-``capacity`` training sequences with zero
    padding waste (T5/GPT-style packing).

    Semantics: within a shard, documents ordered by ``doc_id`` are
    conceptually concatenated into one token stream, which is then cut
    every ``capacity`` tokens. Each document row reports where its tokens
    landed: the sequence index holding its first token (``seq_start``),
    the one holding its last (``seq_end`` — documents may straddle a cut),
    and the offset of its first token inside ``seq_start``. Downstream, a
    writer groups by (shard, seq) to emit the packed batches.

    Scale: packing is a prefix-sum, which is inherently sequential over
    its order — so the order is *per shard*, never global. Each shard is
    one window partition (one task); ``shards`` scales with the cluster,
    and the assignment ``pmod(doc_id, shards)`` is a pure row function, so
    the packing is deterministic under any partition layout or executor
    count. No global sort, no driver state. Empty documents are dropped
    (they occupy no tokens).

    Exactly mirrored in SQL (same window, same integer arithmetic), so the
    DuckDB oracle value-checks every offset.
    """
    if capacity <= 0 or shards <= 0:
        raise ValueError(
            f"require capacity > 0 and shards > 0, got {capacity=}, {shards=}"
        )
    n_tok = F.size(tokens_col())
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    return (
        documents.select(
            "doc_id",
            F.pmod("doc_id", F.lit(shards)).alias("shard"),
            n_tok.alias("n_tokens"),
        )
        .where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            start.alias("_s"),
            cum.alias("_c"),
        )
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.expr(f"_s DIV {capacity}").alias("seq_start"),
            F.expr(f"(_c - 1) DIV {capacity}").alias("seq_end"),
            (F.col("_s") % capacity).alias("seq_offset"),
        )
    )


def chunk_documents_sql(
    documents: DataFrame, chunk_tokens: int = 32, overlap: int = 0
) -> DataFrame:
    """Document → fixed-size token chunks, entirely in JVM expressions —
    the default chunking path.

    Identical semantics to the Python-UDTF variant
    (``functions.pandas_surface.chunk_documents``): whitespace tokens,
    windows of ``chunk_tokens`` starting every ``chunk_tokens - overlap``,
    generation stopping once a window reaches the end of the document,
    token-less documents dropped. That twin stays registered as the
    table-function API demo; THIS one is the registry default because the
    rule is SQL-expressible and the explode(sequence) + slice formulation
    stays inside whole-stage codegen — no Python worker pool, no Arrow
    hop, no per-executor interpreter spin-up (the r4 driver bench charged
    the UDTF 32.5 s of exactly that cold-start).

    Scale: the explode factor lands in the scan stage (no shuffle of its
    own); slice() caps at the array end so the tail window never reads
    past the document.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"require 0 <= overlap < chunk_tokens, got overlap={overlap}, "
            f"chunk_tokens={chunk_tokens}"
        )
    from ..sources.catalog import ensure_parallelism

    stride = chunk_tokens - overlap
    d = (
        ensure_parallelism(documents.select("doc_id", "text"))
        .select("doc_id", tokens_col().alias("toks"))
        .withColumn("n_tok", F.size("toks"))
        .where(F.col("n_tok") > 0)
    )
    # Last window index: smallest j with j*stride + chunk_tokens >= n
    # (the generator stops after the window that reaches the end).
    j_last = F.when(F.col("n_tok") <= chunk_tokens, F.lit(0)).otherwise(
        F.expr(f"(n_tok - {chunk_tokens} + {stride} - 1) DIV {stride}")
    )
    part = F.slice(
        "toks", F.col("chunk_idx") * stride + 1, F.lit(chunk_tokens)
    )
    return (
        d.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), j_last)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.concat_ws(" ", part).alias("chunk"),
            F.size(part).cast("int").alias("n_tokens"),
        )
    )


def stratified_fixed_k(documents: DataFrame, k: int = 20) -> DataFrame:
    """Deterministic fixed-size sample per stratum: exactly min(k, |stratum|)
    documents per language, chosen by hash order — the "give me 20 docs
    per language for eval" primitive.

    Hash-ordering (md5 of the key) makes the choice a pure function of
    the key set: partition-layout- and engine-independent (md5 hex is
    identical in Spark and the oracle), unlike ``sample()`` whose output
    depends on physical partitioning. The window partitions by stratum,
    so strata rank in parallel; for a HUGE stratum with tiny k, prefer
    the A-Res top-k shape (:func:`weighted_sample` with unit weights)
    which compiles to per-partition heaps instead of a full stratum sort.
    """
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        documents.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def target_encoding(
    orders: DataFrame, customer: DataFrame, n_folds: int = 5
) -> DataFrame:
    """K-fold out-of-fold target encoding of the market segment against
    order value — the leakage-safe categorical encoder: each fold's
    encoding is the target mean computed WITHOUT that fold's rows, so a
    model trained on fold f never sees its own targets in the feature.

    Folds are md5-hash-assigned on the customer key (the same
    engine/layout-independent discipline as :func:`deterministic_split` —
    ``sample()``-based folds would reshuffle under repartitioning).
    Target sums stay DECIMAL until the single final division, so the
    out-of-fold mean is an exact associative aggregate.

    Scale: one orders⋈customer join (dim side), one partial-agg shuffle
    to the (segment, fold) grid; totals are windows over that tiny grid,
    never a second scan.
    """
    fold = (
        F.conv(
            F.substring(
                F.md5(F.col("c_custkey").cast("string").cast("binary")), 1, 13
            ),
            16,
            10,
        ).cast("long")
        % n_folds
    )
    joined = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == customer.c_custkey,
    ).select(
        "c_mktsegment",
        fold.alias("fold"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    grid = joined.groupBy("c_mktsegment", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price").alias("s"),
    )
    w = Window.partitionBy("c_mktsegment")
    return grid.select(
        "c_mktsegment",
        "fold",
        "n_rows",
        F.round(
            (F.sum("s").over(w) - F.col("s")).cast("double")
            / F.nullif(
                (F.sum("n_rows").over(w) - F.col("n_rows")).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("oof_mean"),
        F.round(F.col("s").cast("double") / F.col("n_rows"), 6).alias(
            "fold_mean"
        ),
    )


def quantile_normalize_sources(documents: DataFrame, n_bins: int = 10) -> DataFrame:
    """Quantile normalization of the per-source ``n_chars`` length
    distributions — the cross-source calibration step before mixing
    corpora (``mixture_weights`` decides HOW MUCH of each source;
    this measures how much each source's length profile must SHIFT to
    match the corpus-wide shape, bin by bin).

    Per (source, decile): documents land in ``ntile(n_bins)`` order
    buckets under the TOTAL order (n_chars, doc_id) — ntile over a
    non-total order is layout-dependent, the tie-break is load-bearing
    — then the reference distribution is the cross-source mean of the
    per-source bin means, and the shift is reference − source. Means
    are exact integer-sum / count decimals, divided once at the end.

    Scale: one repartition-by-source window for the ntile (source count
    is the parallelism bound — acceptable: sources are few and big, and
    the window only ranks, carries 2 columns), then bin-level aggregates
    whose state is (sources × bins), trivially broadcastable.
    """
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    binned = documents.select(
        "source",
        "n_chars",
        F.ntile(n_bins).over(w).alias("bin"),
    )
    per_src = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("s"),
    )
    # per-source bin mean: exact integer sum, ONE double division,
    # rounded to 6 dp and re-anchored as DECIMAL so the cross-source
    # reference sum below stays order-exact (a float window-AVG would
    # drift with accumulation order between engines)
    src_mean = per_src.select(
        "source",
        "bin",
        "n_docs",
        F.round(F.col("s").cast("double") / F.col("n_docs"), 6)
        .cast("decimal(18,6)")
        .alias("src_mean_d"),
    )
    wref = Window.partitionBy("bin")
    ref_raw = F.sum("src_mean_d").over(wref).cast("double") / F.count(
        F.lit(1)
    ).over(wref).cast("double")
    return src_mean.select(
        "source",
        "bin",
        "n_docs",
        F.col("src_mean_d").cast("double").alias("source_mean"),
        F.round(ref_raw, 6).alias("ref_mean"),
        F.round(ref_raw - F.col("src_mean_d").cast("double"), 6).alias(
            "shift"
        ),
    )


def dq_rule_battery(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Declarative data-quality rule battery over the warehouse tables —
    the per-load acceptance gate (null rates, domains, ranges, key
    uniqueness, referential integrity, freshness) evaluated as ONE
    row per rule: (rule, n_checked, n_violations, pass).

    Every rule is a filter-count — Catalyst fuses each table's rules
    into a single scan with map-side-combined conditional aggregates
    (one pass over orders, one over lineitem, one broadcast-anti FK
    probe); no rule adds a shuffle of its own. The FK rule is the only
    join and runs lineitem-anti-orders on the key, the same shape as
    ``fk_integrity``.

    Thresholded rules (e.g. null-rate) evaluate the COUNT, not a rate,
    so pass/fail is integer-exact.
    """
    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_cust"
        ),
        F.sum(
            F.when(
                (F.col("o_totalprice") <= 0)
                | (F.col("o_totalprice") > 1000000),
                1,
            ).otherwise(0)
        ).alias("bad_price"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0)
        ).alias("bad_status"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "dup_keys"
        ),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    > F.lit("2030-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        ).alias("stale_date"),
    )
    li = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") <= 0) | (F.col("l_quantity") > 100), 1
            ).otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("bad_disc"),
    )
    orphan = (
        lineitem.join(
            orders.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("orphans"))
    )
    rows = (
        o.crossJoin(li.selectExpr(
            "n as li_n", "bad_qty", "bad_disc"
        ))
        .crossJoin(orphan)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("orders.custkey_not_null").alias("rule"),
                        F.col("n").cast("bigint").alias("n_checked"),
                        F.col("null_cust").cast("bigint").alias(
                            "n_violations"
                        ),
                    ),
                    F.struct(
                        F.lit("orders.totalprice_in_range").alias("rule"),
                        F.col("n").cast("bigint").alias("n_checked"),
                        F.col("bad_price").cast("bigint").alias(
                            "n_violations"
                        ),
                    ),
                    F.struct(
                        F.lit("orders.status_in_domain").alias("rule"),
                        F.col("n").cast("bigint").alias("n_checked"),
                        F.col("bad_status").cast("bigint").alias(
                            "n_violations"
                        ),
                    ),
                    F.struct(
                        F.lit("orders.orderkey_unique").alias("rule"),
                        F.col("n").cast("bigint").alias("n_checked"),
                        F.col("dup_keys").cast("bigint").alias(
                            "n_violations"
                        ),
                    ),
                    F.struct(
                        F.lit("orders.orderdate_fresh").alias("rule"),
                        F.col("n").cast("bigint").alias("n_checked"),
                        F.col("stale_date").cast("bigint").alias(
                            "n_violations"
                        ),
                    ),
                    F.struct(
                        F.lit("lineitem.quantity_in_range").alias("rule"),
                        F.col("li_n").cast("bigint").alias("n_checked"),
                        F.col("bad_qty").cast("bigint").alias(
                            "n_violations"
                        ),
                    ),
                    F.struct(
                        F.lit("lineitem.discount_in_range").alias("rule"),
                        F.col("li_n").cast("bigint").alias("n_checked"),
                        F.col("bad_disc").cast("bigint").alias(
                            "n_violations"
                        ),
                    ),
                    F.struct(
                        F.lit("lineitem.orderkey_fk").alias("rule"),
                        F.col("li_n").cast("bigint").alias("n_checked"),
                        F.col("orphans").cast("bigint").alias(
                            "n_violations"
                        ),
                    ),
                )
            ).alias("r")
        )
        .select("r.rule", "r.n_checked", "r.n_violations")
        .withColumn("pass", F.col("n_violations") == 0)
    )
    return rows


def token_budget_waterfill(
    documents: DataFrame, budget_frac_pct: int = 50
) -> DataFrame:
    """Data-mixing allocation under availability caps: given a total
    token budget (``budget_frac_pct`` percent of the corpus, integer
    arithmetic), water-fill it across sources so every source gets an
    equal share L of tokens except sources too small to use it, which
    contribute everything they have — the max-diversity mixture a
    pretraining run uses when it wants sources weighted equally but
    some are tiny. Returns per source: available tokens, allocation,
    epochs over the source (allocation/available), and whether the
    source saturated.

    The fill level solves ``sum_i min(avail_i, L) = B`` by walking
    sources in ascending-availability order: source i is saturated iff
    ``cum_{i-1} + avail_i * (n - i + 1) <= B`` — all int64, so the
    saturation frontier is exact — and then
    ``L = (B - cum_saturated) / n_unsaturated`` is one IEEE divide of
    exact integers, identical in any engine.

    Scale: one tokenize aggregate per source (map-side combined), then
    window math over the *source list* (tens of rows). Nothing about
    the walk touches row-level data.
    """
    avail = (
        documents.select("source", F.explode(tokens_col()).alias("w"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("avail_tokens"))
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    walk = Window.orderBy("avail_tokens", "source")
    cum_prev = F.coalesce(
        F.sum("avail_tokens").over(
            walk.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    n = F.count(F.lit(1)).over(tot)
    rn = F.row_number().over(walk)
    budget = F.expr(
        f"(sum(avail_tokens) OVER () * {budget_frac_pct}) DIV 100"
    )
    staged = avail.select(
        "source",
        "avail_tokens",
        budget.alias("budget"),
        (
            cum_prev + F.col("avail_tokens") * (n - rn + 1) <= budget
        ).alias("saturated"),
    )
    fill = staged.select(
        "source",
        "avail_tokens",
        "budget",
        "saturated",
        F.coalesce(
            F.sum(
                F.when(F.col("saturated"), F.col("avail_tokens"))
            ).over(tot),
            F.lit(0),
        ).alias("cum_sat"),
        F.sum(F.when(~F.col("saturated"), 1).otherwise(0))
        .over(tot)
        .alias("n_unsat"),
    )
    level = (F.col("budget") - F.col("cum_sat")).cast("double") / F.col(
        "n_unsat"
    ).cast("double")
    alloc = F.when(
        F.col("saturated"), F.col("avail_tokens").cast("double")
    ).otherwise(level)
    return fill.select(
        "source",
        "avail_tokens",
        "saturated",
        F.round(alloc, 6).alias("alloc_tokens"),
        F.round(
            alloc / F.col("avail_tokens").cast("double"), 6
        ).alias("epochs"),
    )


def negative_sampling(
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    k: int = 3,
    pool_hex: str = "0",
    rank_mod: int = 16,
) -> DataFrame:
    """Deterministic negative sampling for two-tower / embedding
    training: per customer, ``k`` catalog parts the customer never
    purchased, drawn by hash rank — the negatives-mining step every
    retrieval/recsys training pipeline runs next to its positives.

    Three hash disciplines keep it replayable AND bounded:

    * the candidate pool is a fixed md5-prefix slice of the catalog
      (``pool_hex`` — 1/16 by default: sample the catalog, not the
      user×catalog cross);
    * each (customer, part) candidate ranks by rk = h(cust) XOR
      h(part), where h is the md5→BIGINT basis — per-ENTITY hashes
      combined per pair, so the cross join evaluates one XOR per row
      instead of one md5 per pair (measured: 2e7 per-pair md5s were
      9 s of the 13 s total at sf0.1);
    * only candidates with rk % ``rank_mod`` == 0 survive to the
      shuffle — a map-side 1/16 cut BEFORE the anti-join and window
      (part of the operator's definition, so the oracle replays it
      exactly; a customer with under k surviving candidates yields
      fewer negatives).

    Scale: the pool broadcasts (catalog-slice-sized); per-customer
    shuffle volume is pool/rank_mod rows; positives anti-join on
    (cust, part).
    """
    ph = F.md5(F.col("p_partkey").cast("string").cast("binary"))
    pool = part.select(
        F.col("p_partkey").alias("partkey"),
        F.conv(F.substring(ph, 1, 14), 16, 10).cast("long").alias("hp"),
    ).where(F.substring(ph, 1, 1) == pool_hex)
    ch = F.md5(F.col("custkey").cast("string").cast("binary"))
    customers = (
        orders.select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .select(
            "custkey",
            F.conv(F.substring(ch, 1, 14), 16, 10)
            .cast("long")
            .alias("hc"),
        )
    )
    positives = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
    )
    w = Window.partitionBy("custkey").orderBy("rk", "partkey")
    return (
        customers.join(F.broadcast(pool))
        .select(
            "custkey",
            "partkey",
            F.col("hc").bitwiseXOR(F.col("hp")).alias("rk"),
        )
        .where(F.col("rk") % rank_mod == 0)
        .join(positives, ["custkey", "partkey"], "left_anti")
        .withColumn("neg_rank", F.row_number().over(w))
        .where(F.col("neg_rank") <= k)
        .select("custkey", "partkey", "neg_rank")
    )


def preference_pairs(
    documents: DataFrame, margin: float = 0.05
) -> DataFrame:
    """Preference-pair mining (the DPO/RLHF data-construction shape):
    within each (source, lang) cell, pair the highest-quality document
    (chosen) with the lowest (rejected), keeping only cells whose
    quality gap clears ``margin`` — the deterministic skeleton of
    best-vs-worst pair construction over a scored candidate pool.

    Tie-breaks are total (quality desc/asc, then doc_id asc), so the
    pair set is a pure function of the table. One projection + two
    rank windows per cell; output is cell-count-sized.
    """
    scored = documents.select(
        "source",
        "lang",
        "doc_id",
        quality_col().alias("q"),
    ).where(F.size(tokens_col()) > 0)
    wb = Window.partitionBy("source", "lang").orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    ww = Window.partitionBy("source", "lang").orderBy(
        F.asc("q"), F.asc("doc_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            "source",
            "lang",
            F.col("doc_id").alias("chosen_id"),
            F.col("q").alias("chosen_q"),
        )
    )
    worst = (
        scored.withColumn("rn", F.row_number().over(ww))
        .where(F.col("rn") == 1)
        .select(
            "source",
            "lang",
            F.col("doc_id").alias("rejected_id"),
            F.col("q").alias("rejected_q"),
        )
    )
    return (
        best.join(worst, ["source", "lang"])
        .where(
            (F.col("chosen_q") - F.col("rejected_q")) >= margin
        )
        .select(
            "source",
            "lang",
            "chosen_id",
            "rejected_id",
            F.round(F.col("chosen_q") - F.col("rejected_q"), 6).alias(
                "quality_margin"
            ),
        )
    )


def dsir_selection(
    documents: DataFrame,
    n_buckets: int = 128,
    k_per_source: int = 5,
    target_lang: str = "en",
    eager: bool = True,
) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.,
    NeurIPS 2023) over hashed bigram features: score every document by
    the log importance weight of its hashed-bigram counts under a
    Laplace-smoothed *target* bucket distribution (here the ``en``
    slice, standing in for the wiki-like target corpus) vs the *raw*
    corpus distribution, then keep the top-``k_per_source`` documents
    per source — the data-selection recipe used to pick pretraining
    subsets that match a trusted domain.

    Cross-engine exactness: bucket = first-13-md5-hex-chars of the
    bigram as a 52-bit integer mod ``n_buckets`` (the repo's verifiable
    hashing-trick basis, ``textstats.feature_hashing``). Each bucket's
    log-ratio ``ln((k_t+1)(R+B) / ((k_r+1)(T+B)))`` is one ln() of a
    ratio of exact integer products, rounded to 6dp; per-document
    weights are Σ count·λ6 summed as DECIMAL(28,6) (the kl_js ln
    discipline), so the ranking is a pure function of the table.

    Scale: bigrams explode once into a (doc, bucket) partial aggregate
    — shuffle volume is docs×B, not tokens. The bucket model is B rows
    (broadcast), the totals 1 row; the per-source top-k window ranks
    doc-count rows. Nothing quadratic, nothing driver-side. The
    k×|sources| result is materialized eagerly so the (doc, bucket)
    cache releases before return (finish_cached).
    """
    from ..sources.catalog import ensure_parallelism, finish_cached

    toked = ensure_parallelism(
        documents.select("doc_id", "source", "lang", "text")
    ).select(
        "doc_id",
        "source",
        (F.col("lang") == target_lang).alias("is_t"),
        tokens_col().alias("toks"),
    )
    t = F.col("toks")
    pairs = bigram_pairs(t)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.col("p.w1"), F.col("p.w2"))), 1, 13
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    per_doc = (
        toked.where(F.size(t) >= 2)
        .select("doc_id", "source", "is_t", F.explode(pairs).alias("p"))
        .select("doc_id", "source", "is_t", bucket.alias("bucket"))
        .groupBy("doc_id", "source", "is_t", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .persist()
    )
    per_bucket = per_doc.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("k_t"),
        F.sum("cnt").cast("bigint").alias("k_r"),
    )
    totals = per_bucket.agg(
        F.sum("k_t").cast("bigint").alias("t_tot"),
        F.sum("k_r").cast("bigint").alias("r_tot"),
    )
    lam = F.round(
        F.log(
            (
                (F.col("k_t") + 1) * (F.col("r_tot") + n_buckets)
            ).cast("double")
            / (
                (F.col("k_r") + 1) * (F.col("t_tot") + n_buckets)
            ).cast("double")
        ),
        6,
    )
    model = per_bucket.join(F.broadcast(totals)).select(
        "bucket", lam.alias("lam")
    )
    weights = (
        per_doc.join(F.broadcast(model), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.round(F.col("cnt").cast("double") * F.col("lam"), 6).cast(
                    "decimal(28,6)"
                )
            ).alias("w"),
        )
    )
    rk = Window.partitionBy("source").orderBy(F.desc("w"), F.asc("doc_id"))
    out = (
        weights.withColumn("sel_rank", F.row_number().over(rk))
        .where(F.col("sel_rank") <= k_per_source)
        .select(
            "source",
            "doc_id",
            "n_bigrams",
            F.round(F.col("w").cast("double"), 6).alias("dsir_weight"),
            "sel_rank",
        )
    )
    if not eager:  # lazy form for plan inspection
        return out
    return finish_cached(out, per_doc)


def coverage_greedy_selection(
    documents: DataFrame, k: int = 8, n: int = 3
) -> DataFrame:
    """Submodular (facility-location / max-coverage) data selection: pick
    ``k`` documents greedily, each round taking the document whose word
    ``n``-gram set covers the most not-yet-covered grams (ties to the
    smallest doc_id) — the classic 1-1/e coreset recipe for choosing a
    small, *diverse* demonstration or eval subset from a corpus.

    Greedy coverage is inherently sequential in ``k``, and that is the
    scale story: per round ONE distributed scan of the persisted
    (doc, gram) frame with a broadcast anti-join against the covered
    set, whose size is bounded by the selection budget (≤ k × grams per
    doc), never by the corpus. The winner row and its gram list are the
    only collects — both control-plane-sized. Docs whose grams are
    fully covered drop out of the gain aggregate by construction, so a
    saturated corpus ends the loop early on both engines.

    coverage_pct rounds via the micro-unit :func:`~.relational.half_up`
    (== Spark/DuckDB ROUND on these non-negative values).
    """
    from .dedup import shingled

    spark = documents.sparkSession
    sh = shingled(documents, n=n).select("doc_id", "grams").persist()
    # the per-round scan is scheduling-latency-bound at small SF: a
    # handful of fat partitions beats 32 slivers for 8 tiny argmax jobs
    # (the partition count scales back up with the data via shuffle conf).
    ex = (
        sh.select("doc_id", F.explode("grams").alias("gram"))
        .coalesce(8)
        .persist()
    )
    total = ex.select("gram").distinct().count()
    covered: set = set()
    selected: list = []
    out_rows: list = []
    for r in range(1, k + 1):
        g = ex
        if selected:
            g = g.where(~F.col("doc_id").isin(selected))
            cov_df = spark.createDataFrame(
                [(x,) for x in sorted(covered)], "gram string"
            )
            g = g.join(F.broadcast(cov_df), "gram", "left_anti")
        # count-only partial aggregation: the per-round shuffle carries
        # one (doc_id, count) pair per doc, never gram payloads. The
        # winner's grams come from ONE targeted second job against the
        # persisted compact frame — r12's collect_set-in-the-argmax
        # variant shipped every doc's full uncovered gram set through
        # the shuffle each round and measured 2.6x slower (guide §2.3
        # "aggregate before you shuffle"; §5 agg-buffer memory).
        top = (
            g.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        w = top[0]
        winner_grams = sh.where(F.col("doc_id") == w.doc_id).collect()
        covered.update(winner_grams[0].grams)
        selected.append(w.doc_id)
        out_rows.append(
            (
                r,
                w.doc_id,
                w.gain,
                len(covered),
                half_up(len(covered) * 1000000.0 / total) / 1e6,
            )
        )
    sh.unpersist()
    ex.unpersist()
    return spark.createDataFrame(
        out_rows,
        "sel_rank int, doc_id bigint, marginal_gain bigint, "
        "covered_grams bigint, coverage_pct double",
    )


def doremi_weights(
    documents: DataFrame,
    eta: float = 1.0,
    smoothing: float = 0.05,
    iters: int = 5,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al., NeurIPS 2023, the
    Group-DRO recipe): per-source excess loss drives ``iters`` rounds of
    exponentiated-gradient updates on the domain mixture weights, mixed
    with a uniform smoothing floor — the "which domains should the next
    epoch over-sample?" knob of a pretraining pipeline. The loss proxy
    is each source's mean token NLL under the corpus unigram LM
    (add-one smoothing), standing in for the per-domain proxy-model
    excess loss.

    Cross-engine exactness: the per-word NLL is one ln() of exact
    integers rounded to 6dp, per-source sums ride DECIMAL(28,6), and
    ℓ_s rounds to 6dp. The fixed point then runs DRIVER-SIDE on the
    |sources|-row frame (control-plane class, the markov precedent) in
    integer micro-units: per-round mixture loss m = Σ round(w·ℓ, 6) is
    integer-exact half-up (picos + 5e5 // 1e6), the exp() argument and
    the weight updates reproduce the oracle's double expression tree
    term for term, and every stored quantity re-rounds to 6dp, so the
    DuckDB unrolled-round replay matches bit for bit.

    Scale: one tokenize pass → vocabulary-bounded (word, count) →
    per-source decimal sums; the iteration state is |sources| rows, a
    constant, regardless of corpus size.
    """
    import math

    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    spark = documents.sparkSession
    ex = (
        ensure_parallelism(documents.select("source", "text"))
        .select("source", F.explode(tokens_col()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .persist()
    )
    vocab = ex.groupBy("word").agg(F.sum("cnt").cast("bigint").alias("c"))
    totals = vocab.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("c").cast("bigint").alias("t"),
    )
    lam = F.round(
        F.log(
            (F.col("t") + F.col("v")).cast("double")
            / (F.col("c") + 1).cast("double")
        ),
        6,
    )
    model = vocab.join(F.broadcast(totals)).select("word", lam.alias("lam"))
    srcs = (
        ex.join(F.broadcast(model), "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(
                F.round(F.col("cnt").cast("double") * F.col("lam"), 6).cast(
                    "decimal(28,6)"
                )
            ).alias("s"),
        )
        .select(
            "source",
            "n_tokens",
            F.round(
                F.col("s").cast("double") / F.col("n_tokens").cast("double"),
                6,
            ).alias("ell"),
        )
        .collect()
    )
    ex.unpersist()
    k = len(srcs)
    l_u = {r.source: half_up(r.ell * 1e6) for r in srcs}
    n_tok = {r.source: r.n_tokens for r in srcs}
    w_u = {s: half_up(1e6 / k) for s in l_u}
    for _ in range(iters):
        m_u = sum((w_u[s] * l_u[s] + 500000) // 1000000 for s in w_u)
        e = {s: math.exp(eta * ((l_u[s] - m_u) / 1e6)) for s in w_u}
        u_u = {s: half_up((w_u[s] / 1e6) * e[s] * 1e6) for s in w_u}
        z_u = sum(u_u.values())
        w_u = {
            s: half_up(
                (
                    (1.0 - smoothing) * ((u_u[s] / 1e6) / (z_u / 1e6))
                    + smoothing / k
                )
                * 1e6
            )
            for s in w_u
        }
    rows = [
        (s, n_tok[s], l_u[s] / 1e6, w_u[s] / 1e6) for s in sorted(l_u)
    ]
    return spark.createDataFrame(
        rows, "source string, n_tokens bigint, ell double, weight double"
    )
