"""Text-analysis operators — language ID, quality scoring, token counting,
fingerprinting — the LLM-pipeline curation surface over ``documents``.

No reference analog (the reference tokenizes only to count words,
reference WordCount.java:44-63); these are the brief's first-class
extensions. Everything is built-in Spark SQL (codegen'd, no Python), and
every query here is DuckDB-oracle-expressible, so the whole battery is
value-hash-checked, not just row-counted.

The stopword lists and scoring weights below are module constants consumed
by BOTH the Spark plans and the oracle SQL generators in ``registry.py`` —
one source of truth, two engines.

Scale posture: every operator is a single narrow projection over the text
column (no joins, no shuffles except lang_id's tiny per-doc argmax window),
so they pipeline into the same scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .dedup import tokens_col

__all__ = [
    "LANG_STOPWORDS",
    "QUALITY_WEIGHTS",
    "BPE_ISH_PATTERN",
    "text_stats",
    "lang_id",
    "quality_score",
    "token_count",
    "winnowing_fingerprint",
    "token_frequency_sketch",
    "gopher_repetition",
    "inverted_index",
    "tfidf_topk",
    "pii_redact",
    "unigram_surprisal",
    "bigram_lm",
    "perplexity_buckets",
    "char_entropy",
    "collocations_pmi",
    "bpe_train",
    "bpe_encode_tokens",
    "tokenizer_fertility",
    "readability_scores",
    "bigram_heldout_xent",
    "vocab_growth_curve",
    "zipf_fit",
    "langid_confusion",
    "PII_EMAIL",
    "PII_PHONE",
    "PII_IPV4",
]

#: Tiny per-language stopword lists (lowercase). Real language ID uses
#: character n-gram models; stopword hit-counting is the deterministic,
#: SQL-expressible heuristic tier — the plumbing (score -> argmax) is what
#: the engine owns, the word lists are pluggable.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "en": ["the", "and", "of", "to", "is", "in", "that", "for"],
    "es": ["el", "la", "los", "que", "y", "es", "en", "un"],
    "fr": ["le", "la", "les", "et", "est", "que", "un", "dans"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我"],
}

#: quality_score = w_len*min(1, n_tokens/100) + w_distinct*(distinct/total)
#:              + w_clean*(1 - punct_ratio)
QUALITY_WEIGHTS = {"len": 0.4, "distinct": 0.4, "clean": 0.2}

#: GPT-ish pre-tokenizer: letter runs | digit runs | single non-alnum glyph.
#: Pure RE2/Java-regex common subset so Spark and DuckDB agree.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s\x0b]"


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-document surface statistics: token/char counts, token-length
    aggregates, punctuation ratio. One projection, no shuffle."""
    toks = tokens_col()
    nonspace = F.length(F.regexp_replace("text", r"\s", ""))
    punct = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("text_chars"),
        nonspace.alias("nonspace_chars"),
        F.array_max(F.transform(toks, F.length)).alias("max_token_len"),
        F.round(nonspace.cast("double") / F.size(toks), 6).alias("avg_token_len"),
        F.round(punct.cast("double") / F.length("text"), 6).alias("punct_ratio"),
    ).where(F.size(toks) > 0)


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-vote language ID: score = |distinct words ∩ stoplist| per
    candidate language, argmax with deterministic (score desc, lang asc)
    tie-break. The stack-then-window shape keeps one code path per
    language count and mirrors 1:1 into SQL."""
    words = F.array_distinct(tokens_col())
    cands = F.array(
        *[
            F.struct(
                F.lit(lang).alias("cand"),
                F.size(
                    F.array_intersect(words, F.array(*[F.lit(w) for w in ws]))
                ).alias("score"),
            )
            for lang, ws in sorted(LANG_STOPWORDS.items())
        ]
    )
    stacked = documents.select(
        "doc_id", F.explode(cands).alias("c")
    ).select("doc_id", "c.cand", "c.score")
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    return (
        stacked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("cand").alias("pred_lang"), "score")
    )


def quality_col():
    """The quality-score EXPRESSION over a ``text`` column — exposed
    separately so composers (``pipeline.corpus_curation``) can compute it
    inline in their own projection instead of joining this module's query
    back to the source (which would scan the table twice)."""
    toks = tokens_col()
    n = F.size(toks).cast("double")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    punct = F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", "")).cast("double")
    punct_ratio = punct / F.length("text").cast("double")
    score = (
        F.lit(QUALITY_WEIGHTS["len"]) * F.least(F.lit(1.0), n / F.lit(100.0))
        + F.lit(QUALITY_WEIGHTS["distinct"]) * distinct_ratio
        + F.lit(QUALITY_WEIGHTS["clean"]) * (F.lit(1.0) - punct_ratio)
    )
    return F.round(score, 6)


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite document-quality heuristic in [0, 1]: length saturation,
    vocabulary diversity, punctuation cleanliness. Fixed double-arithmetic
    shape so the oracle reproduces it bit-for-bit."""
    toks = tokens_col()
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        quality_col().alias("quality"),
    ).where(F.size(toks) > 0)


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace vs BPE-ish token counts per document. The regex tier is
    the deterministic stand-in for a learned BPE vocabulary — counting and
    batching semantics (what a token *is* to the pipeline) live here."""
    bpe = F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
    return documents.select(
        "doc_id",
        F.size(tokens_col()).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).alias("n_distinct_bpe"),
    )


def winnowing_fingerprint(documents: DataFrame, k: int = 8) -> DataFrame:
    """Content fingerprint: minimum hash over all character k-grams — the
    selection step of a winnowing/rolling-hash fingerprint (Schleimer et
    al., MOSS). md5 here because both engines expose it (hex strings
    compare identically); a production pipeline swaps xxhash64 and a true
    O(n) rolling hash — the *selection semantics* are what's specified.

    Documents shorter than k characters are excluded (no k-gram exists).
    """
    # explode positions → built-in md5 → min-aggregate: stays inside
    # whole-stage codegen (an array_min over a transform() of md5 calls
    # evaluates interpreted — the same trap simhash64 documents)
    # repartition on doc_id BEFORE exploding: spreads the md5 work across
    # cores even when the input is one small file (a single-task scan would
    # otherwise serialize the whole k-gram expansion), and pre-aligns the
    # partitioning so the downstream groupBy(doc_id) needs no new exchange.
    # Cut the k-grams inside an array expression, then explode only the
    # k-char grams (never the full text — exploding before slicing would
    # replicate the whole document per position), md5 with the codegen'd
    # builtin, and min-aggregate. repartition on doc_id first spreads the
    # work across cores despite a single-file scan and pre-aligns the
    # groupBy so no second exchange is needed.
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - (k - 1)),
        lambda i: F.col("text").substr(i, F.lit(k)),
    )
    return (
        documents.where(F.length("text") >= k)
        .repartition(64, "doc_id")
        .select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id")
        .agg(
            F.min(F.md5("gram")).alias("fingerprint"),
            F.count("*").alias("n_grams"),
        )
        .select(
            "doc_id", "fingerprint", F.col("n_grams").cast("int").alias("n_grams")
        )
    )


def token_frequency_sketch(
    documents: DataFrame,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Count-min sketch of token frequencies — the mergeable heavy-hitter
    summary (HLL answers "how many distinct"; CMS answers "how often is
    X" within ε·N at the given confidence, in fixed memory).

    Scale shape: the sketch is a partial-aggregable BINARY accumulator —
    each task sketches its split, partials merge in the exchange, one
    ~100 KB blob reaches the driver no matter how many tokens streamed
    through. That blob is *queryable offline* (``CountMinSketch.readFrom``)
    without touching the data again — the point of a sketch at 100 TB.

    Output: one row (n_tokens, sketch_bytes). Rows-only in the registry —
    the sketch encoding is engine-specific; the unit test decodes it and
    pins the estimates against exact counts.
    """
    toks = documents.select(F.explode(tokens_col()).alias("tok"))
    return toks.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_min_sketch(
            "tok", F.lit(float(eps)), F.lit(float(confidence)), F.lit(seed)
        ).alias("sketch"),
    )


def gopher_repetition(documents: DataFrame) -> DataFrame:
    """Repetition quality signals per document (the Gopher-rules family):
    the fraction of tokens taken by the single most frequent token, and
    the fraction of bigrams taken by the most frequent bigram. High values
    flag boilerplate/spam (a page repeating one phrase) that length- and
    punctuation-based quality scores miss.

    Shape: one token explode and one bigram explode, each a two-level
    partial-aggregable count (doc×term → doc), joined back on doc_id —
    all codegen'd counts, shuffle keys are (doc_id, term) pairs. Docs
    with < 2 tokens have no bigram and are excluded (same filter in the
    oracle). The tokenized frame is persisted before branching — the
    two explodes otherwise each re-run tokenization, and exploding a
    computed string array straight out of its projection is the slow
    shape `contamination_check` documents.
    """
    toks = (
        documents.select("doc_id", tokens_col().alias("toks"))
        .where(F.size("toks") >= 2)
        .persist()
    )
    tok_stats = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_tokens"),
            F.max("count").alias("top_tok"),
        )
    )
    grams = F.zip_with(
        F.slice(F.col("toks"), F.lit(1), F.size("toks") - 1),
        F.slice(F.col("toks"), F.lit(2), F.size("toks") - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    gram_stats = (
        toks.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_bigrams"),
            F.max("count").alias("top_gram"),
        )
    )
    return tok_stats.join(gram_stats, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("top_tok").cast("double") / F.col("n_tokens"), 6).alias(
            "top_token_frac"
        ),
        F.round(
            F.col("top_gram").cast("double") / F.col("n_bigrams"), 6
        ).alias("top_bigram_frac"),
    )


def inverted_index(documents: DataFrame, min_df: int = 5, top_postings: int = 10) -> DataFrame:
    """Inverted index: term → document frequency + leading postings.

    The retrieval-side building block (and the contamination-lookup
    structure): for each term appearing in at least ``min_df`` documents,
    its document frequency and the first ``top_postings`` doc ids of the
    sorted postings list (stringified — full postings would be the table
    you *write*, not collect).

    Scale: explode → distinct(term, doc) → one count-style aggregation
    keyed by term; postings assemble via ``collect_set`` + ``sort_array``
    (set is bounded per term by the slice; at true scale the full postings
    list is written out partitioned by term-hash instead of sliced).
    """
    term_docs = (
        documents.select(F.explode(tokens_col()).alias("term"), "doc_id")
        .distinct()
    )
    return (
        term_docs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",",
                F.slice(
                    F.sort_array(F.collect_set("doc_id")), 1, top_postings
                ).cast("array<string>"),
            ).alias("postings_head"),
        )
        .where(F.col("df") >= min_df)
        .select("term", "df", "postings_head")
    )


def tfidf_topk(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf·(N/df).

    The idf is the *rational* form N/df rather than log(N/df): integer
    tf·N is exact in double and one IEEE division is bit-identical across
    engines, so the oracle comparison needs no tolerance — log's last-ulp
    differences between libm implementations would break exactness
    without changing any ranking.

    Shape: tf = (doc, term) count; df = distinct-doc count per term;
    N broadcast as a 1-row frame; ranking is a per-doc window over k
    candidates with a total tie-break (score desc, term asc).
    """
    tf = (
        documents.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = documents.select(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
                6,
            ).alias("tfidf"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
    )


#: PII patterns — deliberately the RE2 ∩ Java-regex common subset so the
#: Spark plan and the DuckDB oracle compile the SAME automaton.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def inject_pii(documents: DataFrame) -> Column:
    """Deterministic PII-bearing text: the corpus itself carries no PII,
    so the fixture rides inside the query — a contact trailer derived
    from ``doc_id`` (email for 2/3 of docs, phone for 1/2, IP for all),
    identically constructed by the oracle SQL. Returns the augmented
    text column."""
    did = F.col("doc_id")
    email = F.when(
        did % 3 != 0,
        F.concat(F.lit(" reach user"), did.cast("string"), F.lit("@example.org")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 2 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.concat(
        F.lit(" from 10."),
        (did % 200).cast("string"),
        F.lit(".0."),
        (did % 250).cast("string"),
    )
    return F.concat(F.col("text"), email, phone, ip)


def pii_redact(documents: DataFrame) -> DataFrame:
    """PII detection + masking — the compliance pass every training-data
    pipeline runs before a corpus ships: count and replace emails, NANP
    phone numbers, and IPv4 addresses with typed mask tokens.

    Redaction order is load-bearing (email first — its domain part would
    otherwise feed the IP matcher a prefix) and is identical in the
    oracle. Counts are taken on the pre-redaction text.

    Scale: one narrow projection per row, three codegen'd regex passes,
    no shuffle — pipelines into the scan at any corpus size. The regex
    set is a module constant shared with the oracle generator (one
    source of truth, two engines).
    """
    injected = inject_pii(documents)
    red = injected
    for pat, tag in (
        (PII_EMAIL, "[EMAIL]"),
        (PII_PHONE, "[PHONE]"),
        (PII_IPV4, "[IP]"),
    ):
        red = F.regexp_replace(red, pat, tag)
    return documents.select(
        "doc_id",
        F.regexp_count(injected, F.lit(PII_EMAIL)).cast("bigint").alias("n_email"),
        F.regexp_count(injected, F.lit(PII_PHONE)).cast("bigint").alias("n_phone"),
        F.regexp_count(injected, F.lit(PII_IPV4)).cast("bigint").alias("n_ip"),
        red.alias("redacted"),
    )


def unigram_surprisal(documents: DataFrame) -> DataFrame:
    """Perplexity-proxy quality scoring: how "expected" each document's
    tokens are under the corpus's OWN unigram distribution — the cheap
    tier of the LM-based quality filters used on pretraining corpora
    (docs of vanishingly rare tokens ≈ noise/garble; docs of only
    ultra-common tokens ≈ boilerplate).

    Deliberately log-free: mean token probability and hapax ratio are
    computed as ONE division of exact integer aggregates
    (Σ corpus-freq / (n_tokens × corpus_total)) — a floating mean of
    ``log p`` would be partial-sum-order-dependent in the last ulp and
    can't be value-hash-compared across engines (same rationale as
    tfidf_topk's rational idf).

    Scale: tokens explode once and are persisted (vocabulary count and
    the frequency join both branch from that frame); the frequency join
    is an equi-join on the token — broadcast here because this corpus's
    vocabulary is tiny, a plain shuffled join at web-scale vocabulary.
    The 1-row corpus total rides a broadcast cross join.
    """
    from ..sources.catalog import ensure_parallelism

    ex = (
        ensure_parallelism(documents.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens_col()).alias("word"))
        .persist()
    )
    vocab = ex.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    return (
        ex.join(F.broadcast(vocab), "word")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("sum_freq"),
            F.min("c").alias("min_freq"),
            hapax.alias("n_hapax"),
            F.max("t").alias("t"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_freq",
            "min_freq",
            "n_hapax",
            (
                F.col("sum_freq").cast("double")
                / (F.col("n_tokens").cast("double") * F.col("t").cast("double"))
            ).alias("mean_token_prob"),
            (
                F.col("n_hapax").cast("double") / F.col("n_tokens").cast("double")
            ).alias("hapax_ratio"),
        )
    )


def bigram_lm(documents: DataFrame) -> DataFrame:
    """Corpus bigram language model: count every adjacent token pair and
    its conditional probability P(w2|w1) — the n-gram statistics layer
    under perplexity filters, boilerplate detectors, and surprisal
    scoring (the bigram upgrade of :func:`unigram_surprisal`).

    Pair construction stays JVM-side, and in O(tokens) per document:
    the token array is materialized ONCE in its own projection (an
    ``element_at(tokens_expr, i)`` formulation re-evaluates the
    split+filter expression per index — measured O(tokens²) per doc,
    7-9 s at sf0.1; this shape runs ~1 s), then ``arrays_zip`` of the
    two off-by-one ``slice``s yields the adjacent pairs, and one explode
    feeds a map-side-combined count. P(w2|w1) is the count over a
    ``w1``-partitioned window sum — key count is vocabulary sized, so
    the window parallelizes across the cluster.
    """
    toked = documents.select(tokens_col().alias("toks"))
    t = F.col("toks")
    pairs = F.when(
        F.size(t) >= 2,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("w1"),
            F.slice(t, 2, F.size(t) - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    counts = (
        toked.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("w1")
    return counts.select(
        "w1",
        "w2",
        "cnt",
        F.round(
            F.col("cnt").cast("double") / F.sum("cnt").over(w), 6
        ).alias("cond_p"),
    )


def perplexity_buckets(documents: DataFrame, buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document by its
    average negative log-likelihood under the CORPUS bigram LM
    (add-one smoothing over the corpus vocabulary), then split the
    corpus into ``buckets`` equi-depth quality tiers — the head/middle/
    tail partition CCNet uses to keep, LM-filter, or drop web text.

    Determinism: the per-bigram NLL is one ln() of a ratio of exact
    integer counts (both engines correctly round ln to the same double in
    practice), the per-doc mean is rounded to 6 decimals BEFORE any
    downstream use, and the ntile ranks on the rounded score with doc_id
    as tiebreak — so bucket boundaries cannot flip on last-ulp noise.

    Scale: the LM is vocabulary²-bounded (bigram types, not tokens); the
    per-doc scoring join shuffles on (w1, w2) — the natural key — and
    partial-aggregates the mean map-side. The one global ntile window
    ranks DOC-COUNT rows (not tokens); at extreme scale swap it for
    equidepth_histogram boundaries, the engine's approx-quantile shape.
    """
    toked = documents.select("doc_id", tokens_col().alias("toks")).where(
        F.size("toks") >= 2
    )
    t = F.col("toks")
    pairs = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 1).alias("w1"),
        F.slice(t, 2, F.size(t) - 1).alias("w2"),
    )
    bg = toked.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    lm = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    lm = lm.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
    vocab = toked.select(F.explode("toks").alias("t")).agg(
        F.count_distinct("t").alias("v_size")
    )
    nll = -F.log(
        (F.col("c12") + 1) / (F.col("c1") + F.col("v_size")).cast("double")
    )
    scored = (
        bg.join(lm, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
    )
    w = Window.orderBy("avg_nll", "doc_id")
    return scored.select(
        "doc_id",
        "n_bigrams",
        "avg_nll",
        F.round(F.exp("avg_nll"), 4).alias("ppl"),
        F.ntile(buckets).over(w).alias("ppl_bucket"),
    )


def char_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy of the per-document character distribution — the
    cheapest gibberish/boilerplate signal (near-zero for repeated-char
    spam, ~4.2 bits for English prose, higher for base64 blobs), used as
    a pre-filter before token-level quality scoring.

    One explode over characters, one (doc, char) count, one per-doc
    aggregation of -p·log2(p) — all codegen'd; rounding to 6 decimals
    absorbs the engines' summation-order ulps.
    """
    chars = documents.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.withColumn(
        "n", F.sum("c").over(Window.partitionBy("doc_id"))
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = -p * F.log2(p)
    return (
        per_doc.groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars"),
            F.count(F.lit(1)).alias("distinct_chars"),
            F.round(F.sum(ent), 6).alias("entropy_bits"),
        )
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("distinct_chars").cast("int").alias("distinct_chars"),
            "entropy_bits",
        )
    )


def collocations_pmi(
    documents: DataFrame, min_count: int = 5, top: int = 50
) -> DataFrame:
    """Top collocations by pointwise mutual information:
    ``PMI(w1,w2) = log2(c12·N / (c1·c2))`` over adjacent-token pairs,
    restricted to pairs seen ≥ ``min_count`` times (PMI's low-frequency
    pathology) — the classic phrase-mining signal ("new york" scores; 
    "of the" doesn't, despite its raw count).

    All counts are exact integers; the single log2 runs on a ratio of
    exact integer products (c12·N up to ~2⁵³ stays exact in double) and
    rounds to 6 — cross-engine-stable. Unigram context counts come from
    the SAME bigram relation (w1-position + w2-position occurrences), so
    N, c1, c2 are mutually consistent. Top-``top`` by (PMI, pair) is a
    total order; the global sort ranks vocabulary-sized data.
    """
    toked = documents.select(tokens_col().alias("toks"))
    t = F.col("toks")
    pairs = F.when(
        F.size(t) >= 2,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("w1"),
            F.slice(t, 2, F.size(t) - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = toked.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = counts.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
    c2 = c1.withColumn("c2", F.sum("c12").over(Window.partitionBy("w2")))
    n_total = counts.agg(F.sum("c12").alias("n_bigrams"))
    pmi = F.round(
        F.log2(
            (F.col("c12") * F.col("n_bigrams")).cast("double")
            / (F.col("c1") * F.col("c2")).cast("double")
        ),
        6,
    )
    return (
        c2.crossJoin(F.broadcast(n_total))
        .where(F.col("c12") >= min_count)
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top)
    )


def bpe_train(documents: DataFrame, n_merges: int = 10) -> DataFrame:
    """Distributed BPE merge training: learn the first ``n_merges``
    byte-pair-encoding merges from the corpus word-frequency table —
    the tokenizer-training step of an LLM data pipeline, expressed as
    DataFrame rounds.

    Algorithm (classic Sennrich BPE): vocab = (word, count) with each
    word as a symbol array (chars initially); per round, count adjacent
    symbol pairs weighted by word count, take the global argmax pair
    (ties: lexicographic, so training is deterministic), and rewrite
    every word's symbol array merging that pair left-to-right.

    Scale shape: the training state is the WORD-FREQUENCY table, not the
    corpus — one corpus-wide groupBy builds it, every later round
    touches only the vocab frame (checkpointed per round, plan stays
    flat). The per-round argmax is ``orderBy().limit(1)`` →
    TakeOrdered → a one-row driver collect (bounded control plane, the
    same class as a convergence probe). The merge rewrite is an
    IN-EXPRESSION left fold (``F.aggregate``) — no Python in the loop.
    A merged symbol is strictly longer than the pair's left element, so
    a fold without a just-merged flag reproduces exact left-to-right
    non-overlapping BPE semantics.

    Returns the merge table: (merge_rank, left_sym, right_sym,
    pair_count) — the artifact a tokenizer ships.
    """
    merges, _ = _bpe_state(documents, n_merges)
    spark = documents.sparkSession
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, pair_count bigint",
    )


def bpe_encode_tokens(
    documents: DataFrame, n_merges: int = 10, topn: int = 50
) -> DataFrame:
    """Apply the learned BPE merges back to the corpus: the final symbol
    vocabulary's token frequencies (top-N) — the encode half of the
    tokenizer, demonstrating train→apply on the same engine. The merge
    list is bounded driver state (n_merges rows); the token rollup is
    one explode + partial agg over the WORD-frequency table, so corpus
    text is still never re-scanned after the initial vocab build.
    """
    _, vocab = _bpe_state(documents, n_merges)
    return (
        vocab.select(F.explode("syms").alias("token"), "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(topn)
    )


def _bpe_state(documents: DataFrame, n_merges: int):
    """Shared BPE trainer: returns (merge list, final vocab frame)."""
    word = F.explode(F.split(F.col("text"), r"\s+")).alias("word")
    # chars via substr over a 1..len index sequence (split('', word) has
    # engine-specific empty-string edge behavior)
    vocab = (
        documents.select(word)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
            "cnt",
        )
        .localCheckpoint(eager=True)
    )
    merges = []
    for rank in range(1, n_merges + 1):
        pair_counts = (
            vocab.select(
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1), "
                        "(x, i) -> struct(x as a, syms[i + 1] as b))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pair_counts.orderBy(
            F.desc("pair_count"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not best:
            break
        a, b, pc = best[0]["a"], best[0]["b"], best[0]["pair_count"]
        merges.append((rank, a, b, pc))
        merged = a + b
        vocab = vocab.select(
            F.expr(
                "aggregate(syms, cast(array() as array<string>), "
                f"(acc, x) -> CASE WHEN size(acc) > 0 "
                f"AND element_at(acc, -1) = {_sql_str(a)} "
                f"AND x = {_sql_str(b)} "
                f"THEN concat(slice(acc, 1, size(acc) - 1), "
                f"array({_sql_str(merged)})) "
                "ELSE concat(acc, array(x)) END)"
            ).alias("syms"),
            "cnt",
        ).localCheckpoint(eager=True)
    return merges, vocab


def _sql_str(s: str) -> str:
    """Quote a Python string as a SQL string literal (symbols here come
    from corpus text split on whitespace — escape quotes and backslashes
    defensively)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def tfidf_weight_norms(documents: DataFrame, max_df: int = 50):
    """Shared sparse-vector base for the TF-IDF similarity family:
    per-(doc, term) weights and per-doc squared norms.

    Weight is the RATIONAL idf form tf·N/df (no log — libm-vs-JVM
    last-ulp differences would break oracle exactness), rounded to 6
    and cast DECIMAL(18,6) so every downstream dot/norm sum is exact
    and aggregation-order-independent. ``max_df`` prunes hub terms (a
    term in d docs contributes d² posting-join rows).
    """
    tf = (
        documents.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = documents.select(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    weights = (
        tf.join(df_.where(F.col("df") <= max_df), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2")
    )
    return weights, norms


def tfidf_query_topk(
    documents: DataFrame,
    query_mod: int = 100,
    k: int = 20,
    max_df: int = 50,
) -> DataFrame:
    """Sparse (lexical) top-k retrieval: for each query document
    (doc_id % query_mod == 0), the k nearest other documents by TF-IDF
    cosine — the posting-list-join twin of ``similarity.cosine_topk``.

    Candidates meet only on shared terms (never all-pairs), so a query
    matches at most the union of its terms' posting lists; ranking is
    total via (cosine DESC, neighbor_id). The cosine divides
    exact-decimal dot/norm sums in double once per candidate —
    deterministic on both engines, no tolerance needed.
    """
    weights, norms = tfidf_weight_norms(documents, max_df=max_df)
    q = weights.where(F.col("doc_id") % query_mod == 0).select(
        F.col("doc_id").alias("query_id"), "term", F.col("w").alias("qw")
    )
    dots = (
        q.join(
            weights.select(
                F.col("doc_id").alias("neighbor_id"), "term", "w"
            ),
            "term",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("qw") * F.col("w")).alias("dot"))
    )
    nq = norms.select(F.col("doc_id").alias("query_id"), F.col("n2").alias("qn2"))
    nn = norms.select(
        F.col("doc_id").alias("neighbor_id"), F.col("n2").alias("nn2")
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("qn2").cast("double") * F.col("nn2").cast("double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        dots.join(nq, "query_id")
        .join(nn, "neighbor_id")
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos", 6).alias("cosine"),
        )
    )


def tfidf_cosine_pairs(
    documents: DataFrame, max_df: int = 50, threshold: float = 0.3
) -> DataFrame:
    """Sparse TF-IDF cosine document pairs via the inverted index — the
    lexical complement to the dense embedding similarity family: pairs
    meet only on shared terms (posting-list join), never all-pairs.

    Scale knobs: ``max_df`` drops hub terms (a term in d docs contributes
    d² join rows — the classic posting-prune); idf is the RATIONAL form
    tf·N/df (no log: libm-vs-JVM last-ulp differences would break
    exactness, same decision as tfidf_topk). Weights round to 6 and
    become DECIMAL before any pair product or norm, so every sum is
    exact and order-independent; cosine itself is one double division of
    identical exact inputs.
    """
    weights, norms = tfidf_weight_norms(documents, max_df=max_df)
    a = weights.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = weights.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb"))
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def textrank_keywords(
    documents: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    k: int = 20,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the corpus word co-occurrence graph — nodes are tokens, edges
    link ADJACENT tokens (distinct, symmetric), and the stationary mass
    ranks corpus keywords. The same recurrence as ``graph.pagerank``:
    both run ``graph._pagerank_ranks`` (exact-integer, floor-div
    contributions over PR_SCALE mass, lazy checkpoint per round), so
    the iteration is deterministic under any partitioning and the
    oracle replays it by unrolling rounds.

    Shapes: bigram edges come from the O(tokens) arrays_zip slice
    (bigram_lm's measured fix, never element_at re-evaluation); the
    graph is vocabulary-sized, orders smaller than the corpus, so the
    per-round join+groupBy shuffles stay tiny. Top-k is a row_number
    over the aggregated vocabulary frame with a total (rank DESC, word)
    order.
    """
    from .graph import _pagerank_ranks

    toked = documents.select(tokens_col().alias("toks"))
    t = F.col("toks")
    zipped = F.when(
        F.size(t) >= 2,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("w1"),
            F.slice(t, 2, F.size(t) - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        toked.select(F.explode(zipped).alias("p"))
        .select("p.w1", "p.w2")
        .where(F.col("w1") != F.col("w2"))
        .distinct()
    )
    edges = (
        pairs.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .union(pairs.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .distinct()
    )
    ranks = _pagerank_ranks(edges, n_iter, damping_pct)
    if ranks is None:
        return documents.sparkSession.createDataFrame(
            [], "word string, rank_scaled bigint, rank_pos int"
        )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition k-row
    # heaps, driver merges k·P rows — no global sort); the row_number
    # window then runs over only the k surviving rows.
    top = ranks.orderBy(F.desc("rank"), F.asc("node")).limit(k)
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    return top.withColumn("rank_pos", F.row_number().over(w)).select(
        F.col("node").alias("word"),
        F.col("rank").alias("rank_scaled"),
        "rank_pos",
    )


def source_diversity(documents: DataFrame) -> DataFrame:
    """Corpus-composition diversity per language: how evenly the
    documents spread across sources — Shannon entropy H = −Σ p ln p
    (nats, rounded to 6: ln is libm and the repo's measured practice
    is that 6-digit rounding absorbs the last-ulp spread, same as
    perplexity_buckets), Simpson concentration Σ p² (a pure rational
    in double — deterministic unrounded, emitted rounded for symmetry),
    and effective source count 1/Σ p². The mixture-health dashboard
    for a training-data pipeline: a language whose effective source
    count collapses toward 1 is a single-scrape monoculture.

    Scale: two nested aggregations on (lang, source) then lang — both
    partial-aggregable; no windows, no collects.
    """
    per = documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = per.groupBy("lang").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    p = F.col("c").cast("double") / F.col("n_docs").cast("double")
    terms = per.join(tot, "lang").groupBy("lang").agg(
        F.round(-F.sum(p * F.log(p)), 6).alias("shannon_nats"),
        F.round(F.sum(p * p), 6).alias("simpson"),
        F.round(F.lit(1.0) / F.sum(p * p), 6).alias("effective_sources"),
    )
    return tot.join(terms, "lang").select(
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "n_sources",
        "shannon_nats",
        "simpson",
        "effective_sources",
    )


def source_overlap(documents: DataFrame) -> DataFrame:
    """Source-level vocabulary overlap: Jaccard similarity of the
    distinct-token sets of every source pair — the corpus-curation
    screen that catches two "different" sources being the same scrape
    (a mirror, a re-crawl) before per-document dedup ever runs.

    Shape: distinct (source, term) posting lists, pair counts from one
    self-join on term (pairs meet only on shared vocabulary — never a
    source cross product), set sizes joined back, Jaccard =
    inter / (|A| + |B| − inter) as one rounded double from exact
    integer counts. Scale: vocabulary-sized state; the term join's
    fan-out is |sources-per-term|² — bounded by the source count, not
    the corpus.
    """
    st = documents.select(
        "source", F.explode(tokens_col()).alias("term")
    ).distinct()
    sizes = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms")
    )
    a = st.select(F.col("source").alias("src_a"), "term")
    b = st.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    na = sizes.select(F.col("source").alias("src_a"), F.col("n_terms").alias("terms_a"))
    nb = sizes.select(F.col("source").alias("src_b"), F.col("n_terms").alias("terms_b"))
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("terms_a") + F.col("terms_b") - F.col("n_common")).cast(
            "double"
        ),
        6,
    )
    return (
        inter.join(na, "src_a")
        .join(nb, "src_b")
        .select("src_a", "src_b", "terms_a", "terms_b", "n_common",
                jac.alias("jaccard"))
    )


def tokenizer_fertility(documents: DataFrame, n_merges: int = 10) -> DataFrame:
    """Per-language tokenizer fertility of the learned BPE: subword
    tokens per whitespace word and characters per subword token — the
    capacity-planning statistic for a tokenizer (a language with 2×
    fertility pays 2× the sequence length for the same text), and the
    standard fairness audit across languages.

    Reuses the trained vocab state from :func:`bpe_train` (word →
    final symbol array); the word string is reconstructed from the
    symbols (their concatenation is the word, so no extra state rides
    through the merge rounds). Per-(lang, word) occurrence counts join
    the vocab on the word key; everything after is exact integer sums
    with two final 6dp divisions.

    Scale: one corpus scan for (lang, word) counts, one vocab-sized
    join, a |langs|-row output. The BPE state itself never re-scans the
    corpus (see _bpe_state).
    """
    _, vocab = _bpe_state(documents, n_merges)
    wt = vocab.select(
        F.concat_ws("", "syms").alias("word"),
        F.size("syms").cast("bigint").alias("n_toks"),
        F.length(F.concat_ws("", "syms")).cast("bigint").alias("n_chars_w"),
    )
    lw = (
        documents.select(
            "lang", F.explode(F.split("text", r"\s+")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    )
    return (
        lw.join(wt, "word")
        .groupBy("lang")
        .agg(
            F.sum("occ").cast("bigint").alias("n_words"),
            F.sum(F.col("occ") * F.col("n_toks"))
            .cast("bigint")
            .alias("n_bpe_tokens"),
            F.sum(F.col("occ") * F.col("n_chars_w"))
            .cast("bigint")
            .alias("n_chars"),
            F.round(
                F.sum(F.col("occ") * F.col("n_toks")).cast("double")
                / F.sum("occ"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum(F.col("occ") * F.col("n_chars_w")).cast("double")
                / F.sum(F.col("occ") * F.col("n_toks")),
                6,
            ).alias("chars_per_token"),
        )
    )


def readability_scores(documents: DataFrame) -> DataFrame:
    """Flesch reading-ease and Flesch–Kincaid grade per document from
    the classic heuristics: words = whitespace tokens, sentences =
    ``[.!?]+`` runs (min 1 — unpunctuated text is one sentence),
    syllables ≈ vowel groups (``[aeiouy]+`` in the lowercased text;
    whitespace breaks groups, so the text-wide count equals the per-word
    sum). The standard quick quality prior for curation pipelines —
    crude per document, stable in aggregate.

    All three counts are exact integers from single codegen'd regexes
    (the RE2∩Java-compatible subset shared with the oracle, same stance
    as pii_redact); the two score formulas are identical double
    expressions rounded to 6. One projection, shuffle-free.
    """
    words = F.size(tokens_col())
    sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    syllables = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    counted = documents.select(
        "doc_id",
        words.cast("bigint").alias("n_words"),
        sentences.cast("bigint").alias("n_sentences"),
        syllables.cast("bigint").alias("n_syllables"),
    ).where(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return counted.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 6).alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 6).alias("fk_grade"),
    )


def bigram_heldout_xent(documents: DataFrame) -> DataFrame:
    """Held-out cross-entropy of the corpus bigram LM: train on even
    doc_ids, score the odd half — the GENERALIZATION measure that
    in-corpus perplexity (:func:`perplexity_buckets`) cannot give, and
    the statistic that exposes train/eval contamination (undeduplicated
    near-copies across the split push held-out entropy artificially
    low — which is why this sits next to the dedup family).

    Smoothing is add-one over the train vocabulary; unseen history
    words degrade to the uniform 1/V. Exactness: each distinct eval
    bigram's NLL term is one ln() of a ratio of exact integers, rounded
    to 6 dp, multiplied by its integer multiplicity, and summed as
    DECIMAL — a raw double mean over half a million shuffled bigrams is
    order-dependent in the last ulp (the MI/chi-square discipline).

    Scale: both halves come off one scan; the LM is bigram-type-bounded;
    the scoring join shuffles on the natural (w1, w2) key.
    """
    toked = documents.select(
        "doc_id", tokens_col().alias("toks")
    ).where(F.size("toks") >= 2)
    t = F.col("toks")
    pairs = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 1).alias("w1"),
        F.slice(t, 2, F.size(t) - 1).alias("w2"),
    )
    bg = toked.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    train_bg = bg.where(F.col("doc_id") % 2 == 0)
    eval_bg = bg.where(F.col("doc_id") % 2 == 1)
    pair_c = train_bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    hist_c = train_bg.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    vocab = (
        toked.where(F.col("doc_id") % 2 == 0)
        .select(F.explode("toks").alias("tk"))
        .agg(F.count_distinct("tk").cast("bigint").alias("v_size"))
    )
    ev = eval_bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    joined = (
        ev.join(pair_c, ["w1", "w2"], "left")
        .join(hist_c, ["w1"], "left")
        .join(F.broadcast(vocab))
        .select(
            "n",
            F.coalesce("c12", F.lit(0)).alias("c12"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
            "v_size",
        )
    )
    nll6 = F.round(
        -F.log(
            (F.col("c12") + 1).cast("double")
            / (F.col("c1") + F.col("v_size")).cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    out = joined.agg(
        F.sum("n").cast("bigint").alias("n_eval_bigrams"),
        F.sum(F.when(F.col("c12") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_unseen_bigrams"),
        F.sum(F.col("n") * nll6).alias("total_d"),
    )
    mean_nll = F.round(
        F.col("total_d").cast("double") / F.col("n_eval_bigrams"), 6
    )
    return out.select(
        "n_eval_bigrams",
        "n_unseen_bigrams",
        mean_nll.alias("mean_nll"),
        F.round(F.exp(mean_nll), 4).alias("ppl"),
    )


def vocab_growth_curve(documents: DataFrame, n_slices: int = 10) -> DataFrame:
    """Heaps-law vocabulary growth: slice the corpus into ``n_slices``
    equal doc_id ranges and report, per slice, the token volume, the
    NEW vocabulary it introduces, and the cumulative type/token counts
    with the Heaps exponent proxy ``ln(V)/ln(N)`` — the curve that says
    whether a crawl is still finding new language or re-crawling itself
    (it flattens hard under duplication, which ties it to the dedup
    family).

    Scale shape: slice assignment is integer arithmetic on doc_id
    against one broadcast max (no global rank window); first occurrence
    per token is a vocabulary-bounded min-aggregate; everything else is
    an ``n_slices``-row grid with running sums. One corpus scan feeds
    both aggregates.
    """
    bounds = documents.agg(
        (F.max("doc_id") + 1).cast("bigint").alias("n_docs_total")
    )
    toks = (
        documents.join(F.broadcast(bounds))
        .select(
            # integer floor division — a double divide + cast would
            # TRUNCATE in Spark but ROUND in DuckDB's CAST
            F.expr(f"(doc_id * {n_slices}) div n_docs_total")
            .cast("bigint")
            .alias("slice_id"),
            F.explode(tokens_col()).alias("tok"),
        )
    )
    per_slice = toks.groupBy("slice_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    first = (
        toks.groupBy("tok")
        .agg(F.min("slice_id").alias("first_slice"))
        .groupBy(F.col("first_slice").alias("slice_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    w = Window.orderBy("slice_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    merged = (
        per_slice.join(first, "slice_id", "left")
        .na.fill({"new_types": 0})
        .select(
            "slice_id",
            "n_tokens",
            "new_types",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
            F.sum("new_types").over(w).cast("bigint").alias("cum_types"),
        )
    )
    return merged.select(
        "slice_id",
        "n_tokens",
        "new_types",
        "cum_tokens",
        "cum_types",
        F.round(
            F.log(F.col("cum_types").cast("double"))
            / F.log(F.col("cum_tokens").cast("double")),
            6,
        ).alias("heaps_exponent"),
    )


def zipf_fit(documents: DataFrame, top_n: int = 1000) -> DataFrame:
    """Zipf rank-frequency fit: regress ln(frequency) on ln(rank) over
    the top-N vocabulary — natural language sits near slope −1, and a
    corpus that drifts from it (templated spam, boilerplate floods) is
    flagged before any model sees it. The frequency-side companion to
    :func:`vocab_growth_curve`'s Heaps exponent.

    Ranks come from one vocabulary-sized top-N (TakeOrdered, ties by
    word — total order); each (ln rank, ln freq) pair is rounded to 6 dp
    and cast DECIMAL, and the slope/intercept/R² come from exact decimal
    moment sums via the same closed forms as ``regression_by_group`` —
    no float accumulates across rows.
    """
    counts = (
        documents.select(F.explode(tokens_col()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(top_n)
    )
    ranked = counts.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "w"))
        .alias("rank"),
    )
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("c").cast("double")), 6).cast("decimal(18,6)")
    t = ranked.select(
        x.alias("x"),
        y.alias("y"),
        (x * y).cast("decimal(38,12)").alias("xy"),
        (x * x).cast("decimal(38,12)").alias("xx"),
        (y * y).cast("decimal(38,12)").alias("yy"),
    )
    m = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
        F.sum("yy").alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return m.select(
        F.col("n").alias("n_words_fit"),
        F.round(cov / varx, 6).alias("zipf_slope"),
        F.round((sy - (cov / varx) * sx) / n, 6).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 6).alias("r2"),
    )


def langid_confusion(documents: DataFrame) -> DataFrame:
    """Confusion matrix of :func:`lang_id` against the labeled ``lang``
    column — the engine evaluating its own classifier, the same
    score-your-own-output stance as ``ann_recall_metrics``. Per
    (label, prediction) cell: count, share of the label's documents,
    and whether it's the diagonal — honest on this corpus, whose
    synthetic text skews every vote toward the English stopword list.

    One classifier pass + one (label, pred) partial-agg; the label
    marginal is a window over the cell grid.
    """
    pred = lang_id(documents).select("doc_id", "pred_lang")
    joined = documents.select("doc_id", "lang").join(pred, "doc_id")
    cells = joined.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "pred_lang",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("share_of_lang"),
        (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
    )


def _bm25_tf(documents: DataFrame) -> DataFrame:
    """Per-(doc_id, term) term frequencies from one tokenize pass; the
    caller persists them (every BM25 statistic reads this table)."""
    return (
        documents.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def _bm25_scorer(documents: DataFrame, tf: DataFrame):
    """BM25 (k1 = 1.2, b = 0.75) over a :func:`_bm25_tf` table. Returns
    (df, score): ``df`` is the (term, df) document-frequency table and
    ``score(qterms)`` maps a (term, df) query table to per-document
    (doc_id, n_matched, score_dec).

    Exactness: idf uses the Lucene form ln(1 + (N−df+½)/(df+½)),
    rounded to 6 dp and carried as DECIMAL; the length factor is written
    as the SAME expression tree on both engines — 0.25 + (0.75·dl·N)/S
    with the integer product dl·N exact in double — so each per-term
    score rounds identically before the order-exact decimal sum. The
    query table and the 1-row corpus stats broadcast.
    """
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    stats = documents.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).crossJoin(dl.agg(F.sum("dl").alias("s_tok")))
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    ).cast("decimal(18,6)")
    norm = F.lit(0.25) + (
        F.lit(0.75) * (F.col("dl") * F.col("n_docs")).cast("double")
    ) / F.col("s_tok").cast("double")
    factor = (F.col("tf") * F.lit(2.2)) / (F.col("tf") + F.lit(1.2) * norm)

    def score(qterms: DataFrame) -> DataFrame:
        return (
            tf.join(F.broadcast(qterms), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                F.round(idf.cast("double") * factor, 6)
                .cast("decimal(18,6)")
                .alias("ts"),
            )
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_matched"),
                F.sum("ts").alias("score_dec"),
            )
        )

    return df_, score


def bm25_topk(documents: DataFrame, n_query_terms: int = 5, k: int = 20) -> DataFrame:
    """BM25 ranked retrieval (k1 = 1.2, b = 0.75) for a deterministic
    query — the top-``n_query_terms`` corpus terms by (df desc, term) —
    returning the ``k`` best documents. The length-normalized,
    saturating upgrade of ``tfidf_topk``: tf gains flatten past k1 and
    long documents stop winning on bulk, which is why BM25 is the
    lexical baseline every hybrid retrieval stack (see
    ``hybrid_rrf_topk``) still includes. The exact-decimal scoring is
    :func:`_bm25_scorer`'s.

    Shape: tf and dl come from ONE tokenize pass (dl = Σtf per doc);
    the query-term table (n_query_terms rows) and the corpus stats
    (1 row) broadcast (:func:`_bm25_scorer`); ranking is TakeOrdered on
    (score desc, doc_id).
    """
    from ..sources.catalog import finish_cached

    tf = _bm25_tf(documents).persist()
    df_, score = _bm25_scorer(documents, tf)
    qterms = (
        df_.orderBy(F.desc("df"), F.asc("term"))
        .limit(n_query_terms)
        .select("term", "df")
    )
    return finish_cached(
        score(qterms)
        .select(
            "doc_id",
            "n_matched",
            F.col("score_dec").cast("double").alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k),
        tf,
    )


def naive_bayes_langid(documents: DataFrame) -> DataFrame:
    """Multinomial Naive Bayes language identifier, trained and scored
    entirely in the engine — the LEARNED counterpart of the heuristic
    ``lang_id`` (whose confusion matrix ``langid_confusion`` shows the
    stopword vote collapsing on this synthetic corpus): Laplace-
    smoothed token likelihoods per language from an 80% split
    (doc_id % 5 ≠ 0), argmax posterior on the held-out 20%, output the
    (label, prediction) confusion cells.

    Exactness: every log term — prior ln(docs_l/docs) and likelihood
    ln((c+1)/(T_l+V)) — is an ln of an exact integer ratio, rounded to
    6 dp and carried DECIMAL; a document's posterior is then
    prior + Σ tf·logp, an exact decimal dot product, and the argmax
    ties break on (score desc, lang) — a total order, so the
    prediction is engine-independent.

    Shape: the model is vocabulary-bounded — (term, lang) counts and
    the 5-row language table BROADCAST onto the test-token scan (at
    100 TB the model side stays small while the scan distributes);
    test docs with zero tokens still score via the prior-only left
    join, so every held-out document is classified.
    """
    from .dedup import tokens_col

    train = documents.where(F.col("doc_id") % 5 != 0)
    test = documents.where(F.col("doc_id") % 5 == 0)
    train_tok = train.select("lang", F.explode(tokens_col()).alias("term"))
    model = (
        train_tok.groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    vocab = model.select("term").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    totals = model.groupBy("lang").agg(F.sum("c").alias("t_l"))
    doc_counts = train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_l")
    )
    n_train = train.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    langs = (
        doc_counts.join(totals, "lang")
        .crossJoin(F.broadcast(n_train))
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "t_l",
            "v",
            F.round(
                F.log(
                    F.col("n_l").cast("double")
                    / F.col("n_docs").cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("prior_lp"),
        )
    )
    test_tf = (
        test.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    cand = test_tf.crossJoin(
        F.broadcast(langs.select("lang", "t_l", "v"))
    ).join(
        F.broadcast(model.select("term", F.col("lang").alias("lang"), "c")),
        ["term", "lang"],
        "left",
    )
    lp = F.round(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("t_l") + F.col("v")).cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    contrib = cand.groupBy("doc_id", "lang").agg(
        F.sum(F.col("tf") * lp).alias("like_dec")
    )
    scores = (
        test.select("doc_id", F.col("lang").alias("true_lang"))
        .crossJoin(F.broadcast(langs.select("lang", "prior_lp")))
        .join(contrib, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (
                F.col("prior_lp")
                + F.coalesce(
                    F.col("like_dec"), F.lit(0).cast("decimal(18,6)")
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("lang").alias("pred_lang"))
    )
    from ..sources.catalog import finish_cached

    return finish_cached(
        pred.groupBy(F.col("true_lang").alias("lang"), "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")),
        model,
    )


def feature_hashing(documents: DataFrame, n_buckets: int = 64) -> DataFrame:
    """The hashing trick audited: project the corpus vocabulary into
    ``n_buckets`` md5 buckets (the fixed-width feature space a linear
    model would train on) and report, per bucket, how many distinct
    terms collided into it and the token mass it carries — the
    load-factor profile that decides whether the feature dimension is
    big enough before anyone trains on it.

    Bucket = first 13 md5 hex chars as a 52-bit integer, mod
    ``n_buckets`` — the one hash both engines derive bit-identically
    (Spark ``conv(substring(md5(t),1,13),16,10)`` ↔ DuckDB
    ``CAST('0x'||substr(md5(t),1,13) AS BIGINT)``), so the projection
    itself is externally verifiable, unlike a murmur3-based
    ``HashingTF``. All outputs are integer-exact.

    Shape: one tokenize pass → (term, tf) vocabulary aggregate
    (map-side combined, vocabulary-bounded) → bucket aggregate of
    ``n_buckets`` rows. The heavy explode never reaches the bucket
    stage un-aggregated.
    """
    from .dedup import tokens_col

    vocab = (
        documents.select(F.explode(tokens_col()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 13), 16, 10)
        .cast("long")
        % n_buckets
    )
    return (
        vocab.select(bucket.alias("bucket"), "term", "tf")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("tf").cast("bigint").alias("token_mass"),
            F.max_by("term", F.struct("tf", "term")).alias("top_term"),
        )
    )


def kl_js_divergence(documents: DataFrame) -> DataFrame:
    """Distribution shift between two corpus slices: KL(A||B), KL(B||A)
    and Jensen-Shannon divergence (nats) between the add-one-smoothed
    unigram distributions of the even- and odd-``doc_id`` halves — the
    drift check a pretraining pipeline runs when a new crawl snapshot
    lands ("did the token distribution move?").

    Cross-engine exactness: every smoothed probability is a ratio of
    exact BIGINT products (counts ≤ 1e4, denominators ≤ 1e6 — far under
    2^53, so the double divide is IEEE-identical in Spark and DuckDB),
    and each transcendental term is rounded to 6dp and summed as
    DECIMAL(28,6) before the single final divide, per the repo's
    ln-discipline.  The p·ln(p/q) sum is factored as
    (1/d_a)·Σ (c_a+1)·ln(ratio) so per-term magnitudes stay O(count) and
    6dp rounding never flushes small terms to zero.  For JS, p/m is
    rewritten as the integer ratio 2·a1·d2 / (a1·d2 + a2·d1).

    Scale: one tokenize pass, one vocabulary-bounded (word → c_a, c_b)
    aggregate with map-side combine, one broadcast 1-row totals join,
    then a scalar aggregate.  Shuffle bytes are vocabulary-bounded, not
    corpus-bounded.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    ex = ensure_parallelism(documents.select("doc_id", "text")).select(
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.explode(tokens_col()).alias("word"),
    )
    counts = ex.groupBy("word").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1))
        .cast("bigint")
        .alias("c_b"),
    )
    totals = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("v_size"),
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
    )
    t = counts.join(F.broadcast(totals))
    d_a = F.col("n_a") + F.col("v_size")  # smoothed denominator, side A
    d_b = F.col("n_b") + F.col("v_size")
    a1 = F.col("c_a") + F.lit(1)  # smoothed numerator, side A
    a2 = F.col("c_b") + F.lit(1)

    def term6(num, den, weight):
        ln_ratio = F.log(num.cast("double") / den.cast("double"))
        return F.sum(
            F.round(weight.cast("double") * ln_ratio, 6).cast(
                "decimal(28,6)"
            )
        )

    agg = t.agg(
        F.max("v_size").alias("v_size"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        # Σ (c_a+1)·ln( (c_a+1)·d_b / ((c_b+1)·d_a) )
        term6(a1 * d_b, a2 * d_a, a1).alias("s_ab"),
        term6(a2 * d_a, a1 * d_b, a2).alias("s_ba"),
        # p/m = 2·a1·d_b / (a1·d_b + a2·d_a); q/m symmetric.
        term6(F.lit(2) * a1 * d_b, a1 * d_b + a2 * d_a, a1).alias("s_am"),
        term6(F.lit(2) * a2 * d_a, a1 * d_b + a2 * d_a, a2).alias("s_bm"),
    )
    da = F.col("n_a") + F.col("v_size")
    db = F.col("n_b") + F.col("v_size")
    return agg.select(
        "v_size",
        "n_a",
        "n_b",
        F.round(
            F.col("s_ab").cast("double") / da.cast("double"), 6
        ).alias("kl_ab"),
        F.round(
            F.col("s_ba").cast("double") / db.cast("double"), 6
        ).alias("kl_ba"),
        F.round(
            0.5 * (F.col("s_am").cast("double") / da.cast("double"))
            + 0.5 * (F.col("s_bm").cast("double") / db.cast("double")),
            6,
        ).alias("js_div"),
    )


def ngram_novelty(documents: DataFrame) -> DataFrame:
    """Per-document n-gram novelty of an incoming batch against a
    reference corpus: treating even-``doc_id`` docs as the reference and
    odd docs as the new crawl, the fraction of each new doc's distinct
    word trigrams never seen in the reference — the freshness /
    contamination-adjacent signal a pretraining pipeline uses to decide
    whether a snapshot adds anything (near-zero novelty = recrawl).

    Counts are exact integers over distinct shingles (the same trigram
    construction as the dedup family, :func:`~..dedup.shingled`); the
    only double is the final rate divide.

    Scale: the reference gram set is a distinct aggregate
    (vocabulary-bounded) and the membership probe is one equi-join on
    the gram string — shuffled, not broadcast, since a web-scale
    reference vocabulary outgrows any broadcast threshold; AQE will
    broadcast it when it is actually small.

    Single-pass discipline (the minhash_lsh_pairs pattern): the per-doc
    gram frame is persisted PACKED — no explode before the cache.
    Exploding first would let InferFiltersFromGenerate push the whole
    shingle expression through the repartition into the single-task
    scan stage (measured 10x on a one-file source); with the arrays
    cached once, both the reference and incoming branches explode the
    cached frame instead of re-shingling the corpus twice.
    """
    from .dedup import shingled

    g = shingled(documents).select("doc_id", "grams").persist()
    ref = (
        g.where(F.col("doc_id") % 2 == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    inc = g.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    novel = F.sum(
        F.when(F.col("seen").isNull(), 1).otherwise(0)
    ).cast("bigint")
    return (
        inc.join(ref, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty_rate"),
        )
    )


def ttr_by_lang(documents: DataFrame) -> DataFrame:
    """Type-token ratio per language: distinct word types over total
    tokens, plus mean tokens per document — the lexical-diversity
    readout used to compare corpus slices (low TTR flags boilerplate or
    template-heavy slices before they hit training).

    Exact distinct/count aggregates; two final IEEE divides.

    Scale: one tokenize pass into a (lang, word) distinct-aggregate —
    both shuffles are keyed and map-side combined; output is
    language-bounded.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    ex = ensure_parallelism(documents.select("lang", "text")).select(
        "lang", F.explode(tokens_col()).alias("word")
    )
    toks = ex.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("word").cast("bigint").alias("n_types"),
    )
    docs = documents.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return docs.join(toks, "lang").select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_types",
        F.round(
            F.col("n_types").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("ttr"),
        F.round(
            F.col("n_tokens").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("tokens_per_doc"),
    )


def token_coverage_topk(documents: DataFrame) -> DataFrame:
    """Vocabulary coverage curve: the share of total token mass covered
    by the top 1 / 10 / 100 / 1000 most frequent words (ties broken
    lexicographically so the ranking is a total order) — the curve that
    sizes a tokenizer vocabulary or a stopword list.

    Conditional sums of exact integer counts; the shares are single
    IEEE divides of exact doubles.

    Scale: the rank is a global sort of the *vocabulary* aggregate, not
    the corpus — vocabulary-bounded by construction; the final result is
    one row.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    vocab = (
        ensure_parallelism(documents.select("doc_id", "text"))
        .select(F.explode(tokens_col()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("word"))
    ranked = vocab.select(F.row_number().over(w).alias("rn"), "c")

    def cov(k: int):
        return F.sum(
            F.when(F.col("rn") <= k, F.col("c")).otherwise(0)
        ).cast("bigint")

    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("v_size"),
        F.sum("c").cast("bigint").alias("total_tokens"),
        cov(1).alias("m1"),
        cov(10).alias("m10"),
        cov(100).alias("m100"),
        cov(1000).alias("m1000"),
    )
    tot = F.col("total_tokens").cast("double")
    return agg.select(
        "v_size",
        "total_tokens",
        F.round(F.col("m1").cast("double") / tot, 6).alias("cov_top1"),
        F.round(F.col("m10").cast("double") / tot, 6).alias("cov_top10"),
        F.round(F.col("m100").cast("double") / tot, 6).alias("cov_top100"),
        F.round(F.col("m1000").cast("double") / tot, 6).alias(
            "cov_top1000"
        ),
    )


def dup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Exact-duplicate accounting per source: docs, distinct text
    fingerprints, and the duplicate rate for each source — the per-feed
    dedup scorecard that tells a crawl pipeline which feeds are
    recrawling themselves (global dedup_exact answers "what survives";
    this answers "who is responsible").

    Fingerprints are md5 so the distinct-count is reproducible in any
    engine; text itself never shuffles (32-byte digests do).

    Scale: one per-source distinct aggregate, map-side combined;
    output is source-bounded.
    """
    return documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("bigint").alias("n_distinct"),
    ).select(
        "source",
        "n_docs",
        "n_distinct",
        F.round(
            F.lit(1.0)
            - F.col("n_distinct").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
    )


def hapax_rate(documents: DataFrame) -> DataFrame:
    """Hapax legomena profile per source: tokens, vocabulary size, the
    number of words occurring exactly once in that source, and their
    share of the vocabulary — a fast lexical-health probe (machine
    gibberish and OCR noise push hapax share up; boilerplate pushes it
    down; its corpus-wide siblings are ttr_by_lang and
    token_coverage_topk).

    Exact integer counting end to end; the share is one IEEE divide.

    Scale: one tokenize pass into a (source, word) aggregate, then a
    source-level rollup of the *frequency table* — both map-side
    combined; nothing beyond the vocabulary ever shuffles.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    freq = (
        ensure_parallelism(documents.select("doc_id", "source", "text"))
        .select("source", F.explode(tokens_col()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        freq.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "hapax",
            F.round(
                F.col("hapax").cast("double") / F.col("vocab").cast("double"),
                6,
            ).alias("hapax_share"),
        )
    )


def token_drift_movers(documents: DataFrame, top_n: int = 20) -> DataFrame:
    """Vocabulary drift movers: the words whose frequency SHARE moved
    most between the even-``doc_id`` slice (reference) and the odd
    slice (new crawl) — the word-level drilldown behind the
    distribution-level drift gates (psi_drift / kl_js_sources say THAT
    the corpus moved; this says WHICH words moved it). Words with
    fewer than 50 total occurrences are excluded (share deltas on rare
    words are noise).

    Counts are exact integers from ONE conditional aggregate (no
    self-join); shares are single IEEE divides and the movers rank on
    the raw |delta| with the word as tie-break — a total order on
    engine-identical doubles; rounding happens only in the final
    projection.

    Scale: one tokenize pass into a word-keyed aggregate
    (vocabulary-bounded, map-side combined); the top-N is a
    TakeOrdered over the vocabulary, never the corpus.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    ex = ensure_parallelism(documents.select("doc_id", "text")).select(
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
        F.explode(tokens_col()).alias("word"),
    )
    per_word = ex.groupBy("word").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_ref"),
        F.sum(F.when(~F.col("is_ref"), 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_new"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    share_ref = F.col("cnt_ref").cast("double") / F.sum("cnt_ref").over(
        tot
    ).cast("double")
    share_new = F.col("cnt_new").cast("double") / F.sum("cnt_new").over(
        tot
    ).cast("double")
    staged = per_word.select(
        "word",
        "cnt_ref",
        "cnt_new",
        share_ref.alias("sr"),
        share_new.alias("sn"),
    ).where(F.col("cnt_ref") + F.col("cnt_new") >= 50)
    return (
        staged.orderBy(
            F.abs(F.col("sn") - F.col("sr")).desc(), F.col("word")
        )
        .limit(top_n)
        .select(
            "word",
            "cnt_ref",
            "cnt_new",
            F.round(F.col("sr"), 6).alias("share_ref"),
            F.round(F.col("sn"), 6).alias("share_new"),
            F.round(F.col("sn") - F.col("sr"), 6).alias("share_delta"),
        )
    )


def boilerplate_ngrams(
    documents: DataFrame, n: int = 2, df_frac: float = 0.25, min_docs: int = 5
) -> DataFrame:
    """C4/RefinedWeb-style boilerplate detection: a word n-gram is
    boilerplate for a source when it appears in at least ``df_frac`` of
    that source's documents (sources under ``min_docs`` docs are too
    small to call anything boilerplate). Reports, per source, how many
    distinct grams crossed the bar and the mean share of each doc's
    gram positions covered by them — the "how much of this crawl is
    navigation chrome" dashboard a curation pipeline runs before
    stripping.

    Scale shape: document-frequency is one (source, gram) partial-agg
    shuffle over per-doc DISTINCT grams; the boilerplate set is tiny by
    construction (df bound) and re-joins the per-position stream as a
    broadcast-eligible side. Per-doc shares round to 6 and sum as exact
    DECIMAL — the usual cross-engine mean discipline.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    src = ensure_parallelism(
        documents.select("doc_id", "source", "text")
    ).select("doc_id", "source", tokens_col().alias("toks"))
    # when() guard keeps the sequence expression total — predicates
    # reorder freely and sequence(0, size-n) must never see size < n
    # (the `shingled` InferFiltersFromGenerate hazard)
    gram_arr = F.when(
        F.size("toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at("toks", i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        src.where(F.size("toks") >= n)
        .select("doc_id", "source", F.explode(gram_arr).alias("gram"))
        .persist()
    )
    per_source = grams.select("source", "doc_id").distinct().groupBy(
        "source"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    df_counts = (
        grams.select("source", "doc_id", "gram")
        .distinct()
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    boiler = (
        df_counts.join(F.broadcast(per_source), "source")
        .where(
            (F.col("n_docs") >= min_docs)
            & (
                F.col("df").cast("double")
                >= F.lit(df_frac) * F.col("n_docs").cast("double")
            )
        )
        .select("source", "gram")
    )
    per_doc = (
        grams.join(boiler.withColumn("is_boiler", F.lit(1)), ["source", "gram"], "left")
        .groupBy("source", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_positions"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("bigint")
            .alias("n_boiler_positions"),
        )
    )
    shares = per_doc.select(
        "source",
        F.round(
            F.col("n_boiler_positions").cast("double")
            / F.col("n_positions").cast("double"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("share"),
    )
    n_boiler = boiler.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boiler_grams")
    )
    out = (
        shares.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum("share").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_boiler_share"),
        )
        .join(n_boiler, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_boiler_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_boiler_grams"),
            "avg_boiler_share",
        )
    )
    from ..sources.catalog import finish_cached

    return finish_cached(out, grams)


def trigram_lm(documents: DataFrame) -> DataFrame:
    """Jelinek–Mercer interpolated trigram LM over the corpus:
    P̂(w3|w1,w2) = 0.6·P(w3|w1,w2) + 0.3·P(w3|w2) + 0.1·P(w3), each
    maximum-likelihood component a ratio of exact integer counts from
    its own order's full stream — the next LM rung above
    :func:`bigram_lm`, and the smoothing shape CCNet-style perplexity
    filters actually deploy (pure ML trigrams assign zero mass to
    unseen continuations; the unigram floor keeps scores finite).

    Determinism: counts are exact; each component is ONE IEEE division
    of exact integers; the fixed-λ combination is a fixed-shape
    expression tree rounded to 6 — no transcendentals anywhere.

    Scale shape: the O(tokens) zipped-slice construction from bigram_lm
    (never element_at-per-index); three map-side-combined count
    aggregations, each vocabulary^k-bounded; context totals via
    key-partitioned windows over the count frames (vocabulary-sized
    keys parallelize); the lower-order count tables join un-hinted —
    a bigram table is vocab²-sized, so AQE chooses from observed sizes.
    """
    toked = documents.select(tokens_col().alias("toks")).persist()
    t = F.col("toks")
    tri = F.when(
        F.size(t) >= 3,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 2).alias("w1"),
            F.slice(t, 2, F.size(t) - 2).alias("w2"),
            F.slice(t, 3, F.size(t) - 2).alias("w3"),
        ),
    ).otherwise(
        F.array().cast("array<struct<w1:string,w2:string,w3:string>>")
    )
    big = F.when(
        F.size(t) >= 2,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("w2"),
            F.slice(t, 2, F.size(t) - 1).alias("w3"),
        ),
    ).otherwise(F.array().cast("array<struct<w2:string,w3:string>>"))
    c3 = (
        toked.select(F.explode(tri).alias("g"))
        .select("g.w1", "g.w2", "g.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    c3x = c3.select(
        "w1",
        "w2",
        "w3",
        "cnt",
        F.sum("cnt")
        .over(Window.partitionBy("w1", "w2"))
        .cast("bigint")
        .alias("ctx3"),
    )
    c2 = (
        toked.select(F.explode(big).alias("g"))
        .select("g.w2", "g.w3")
        .groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt2"))
    )
    c2x = c2.select(
        "w2",
        "w3",
        "cnt2",
        F.sum("cnt2")
        .over(Window.partitionBy("w2"))
        .cast("bigint")
        .alias("ctx2"),
    )
    unig = toked.select(F.explode("toks").alias("w3"))
    c1 = unig.groupBy("w3").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt1")
    )
    nn = unig.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    p3 = F.col("cnt").cast("double") / F.col("ctx3").cast("double")
    p2 = F.col("cnt2").cast("double") / F.col("ctx2").cast("double")
    p1 = F.col("cnt1").cast("double") / F.col("n").cast("double")
    # c2x is bigram-vocabulary-sized (vocab², not "broadcast-small" at
    # real corpus scale) and c1 vocabulary-sized — no broadcast hints;
    # AQE picks the strategy from observed sizes. Only the 1-row corpus
    # total nn is hinted.
    return (
        c3x.join(c2x, ["w2", "w3"])
        .join(c1, "w3")
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            "w3",
            "cnt",
            F.round(
                F.lit(0.6) * p3 + F.lit(0.3) * p2 + F.lit(0.1) * p1, 6
            ).alias("interp_p"),
        )
    )


#: Fixed stopword probe list for the Gopher rule battery (Rae et al.
#: 2021 use a comparable closed-class list; fixed so both engines see
#: identical literals).
GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "for")


def gopher_quality_flags(documents: DataFrame) -> DataFrame:
    """The Gopher/MassiveText rule battery (Rae et al. 2021 §A1.1) as
    per-document boolean gates, aggregated per source: word-count
    bounds, mean-word-length window, symbol ratio, ≥80% alphabetic
    words, and a ≥2-distinct-stopwords probe — the filter stack LLM
    data pipelines run before any model-based scoring, and a different
    surface from :func:`quality_score` (a composite score) or
    :func:`gopher_repetition` (the repetition leg).

    Every rule is closed-form over token/char counts (exact integers;
    one IEEE division for the two ratio rules), so the oracle replays
    the battery rule for rule. Scale: one projection + one partial-agg
    shuffle to source granularity.
    """
    toks = tokens_col()
    n_tok = F.size(toks)
    n_chars = F.length("text")
    # token chars = total minus the separators actually between tokens
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_wl = tok_chars.cast("double") / n_tok.cast("double")
    n_hash = n_chars - F.length(F.replace(F.col("text"), F.lit("#")))
    n_alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    flags = documents.select(
        "source",
        ((n_tok >= 50) & (n_tok <= 100000)).alias("r_wordcount"),
        ((mean_wl >= 3.0) & (mean_wl <= 10.0)).alias("r_mean_word_len"),
        (
            n_hash.cast("double")
            <= F.lit(0.1) * n_chars.cast("double")
        ).alias("r_symbol_ratio"),
        (
            n_alpha_words.cast("double")
            >= F.lit(0.8) * n_tok.cast("double")
        ).alias("r_alpha_words"),
        (n_stop >= 2).alias("r_stopwords"),
    ).where(n_tok > 0)
    rules = (
        "r_wordcount",
        "r_mean_word_len",
        "r_symbol_ratio",
        "r_alpha_words",
        "r_stopwords",
    )
    passed_all = None
    for r in rules:
        passed_all = F.col(r) if passed_all is None else passed_all & F.col(r)
    return flags.withColumn("pass_all", passed_all).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[
            F.sum(F.col(r).cast("int")).cast("bigint").alias(f"n_{r}")
            for r in rules
        ],
        F.sum(F.col("pass_all").cast("int")).cast("bigint").alias(
            "n_pass_all"
        ),
        F.round(
            F.sum(F.col("pass_all").cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("pass_rate"),
    )


def vocab_overlap_sources(documents: DataFrame) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the mixture
    diagnostic run before weighting corpora into a training blend
    (two sources with ~identical vocabularies add diversity only by
    volume). One distinct-(source, word) projection, then a self-join
    on word with per-source vocabulary sizes broadcast back in; output
    is source-pairs — tiny at any corpus size.
    """
    vocab = (
        documents.select(
            "source", F.explode(tokens_col()).alias("word")
        )
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    )
    inter = (
        vocab.alias("a")
        .join(
            vocab.alias("b"),
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("v").alias("va"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("v").alias("vb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            "va",
            "vb",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def corpus_datasheet(documents: DataFrame) -> DataFrame:
    """Per-source dataset report card — the numbers a dataset datasheet
    (Gebru et al. 2021) actually tabulates before a corpus enters a
    training mix: volume (docs, whitespace tokens), shape (mean tokens
    per doc), language spread (distinct langs), exact-duplicate load
    (docs whose md5(text) repeats within the source), and mean
    composite quality. One token projection feeds the volume columns;
    the dup rate is one md5 group — both partial-agg shuffles to
    source granularity.
    """
    toks = tokens_col()
    base = documents.select(
        "source",
        "lang",
        F.size(toks).alias("n_tok"),
        # rounded-to-6 quality lifts to DECIMAL so the mean's sum is
        # exact in any aggregation order (the boilerplate-share trick)
        quality_col().cast("decimal(18,6)").alias("q"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    dups = (
        base.groupBy("source", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs")
        )
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("n_tok").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_tokens"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.round(
                F.sum("q").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_quality"),
        )
        .join(dups, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "mean_tokens",
            "n_langs",
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
            "mean_quality",
        )
    )


def ccnet_pipeline(documents: DataFrame) -> DataFrame:
    """The CCNet curation recipe end to end (Wenzek et al., LREC 2020):
    language split → LM-perplexity tiers (head/middle/tail, via
    :func:`perplexity_buckets`) → exact dedup — reported as the per
    (lang, tier) keep/drop budget a crawl-curation run publishes. This
    is the composition operator: every stage is an already-verified
    engine op, chained as ONE lazy plan.

    Tokens-kept uses the keep-smallest-doc_id exact-dedup rule
    (dedup_exact's semantics); mean NLL re-aggregates the 6dp per-doc
    scores through a DECIMAL(28,6) sum so the tier means replay
    exactly.

    Scale: the LM scoring dominates (bigram join, vocabulary-bounded);
    the dedup window shuffles on full text (at production scale swap
    the key for the sha256 fingerprint, dedup_fingerprint's shape); the
    final aggregate is |langs|×3 rows.
    """
    from .dedup import tokens_col as _tc

    ppl = perplexity_buckets(documents)
    base = documents.select(
        "doc_id", "lang", "text", F.size(_tc()).alias("n_tok")
    )
    is_dup = (
        F.min("doc_id").over(Window.partitionBy("text")) < F.col("doc_id")
    ).cast("int")
    flagged = base.withColumn("is_dup", is_dup)
    j = flagged.join(
        ppl.select("doc_id", "avg_nll", "ppl_bucket"), "doc_id"
    )
    tier = (
        F.when(F.col("ppl_bucket") == 1, "head")
        .when(F.col("ppl_bucket") == 2, "middle")
        .otherwise("tail")
    )
    return (
        j.groupBy("lang", tier.alias("ppl_tier"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_exact_dups"),
            F.sum(1 - F.col("is_dup")).cast("bigint").alias("kept_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens_total"),
            F.sum((1 - F.col("is_dup")) * F.col("n_tok"))
            .cast("bigint")
            .alias("tokens_kept"),
            F.round(
                F.sum(
                    F.col("avg_nll").cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_nll"),
        )
    )


def source_loo_value(documents: DataFrame) -> DataFrame:
    """Leave-one-out source valuation: what does each source UNIQUELY
    contribute to the corpus — vocabulary types seen nowhere else, the
    token mass carried by those exclusive types, and the source's share
    of corpus singletons — the cheap data-valuation readout ("could we
    drop this crawl?") that precedes any Shapley-style attribution.

    One tokenize pass → (word → per-source count, source count) — a
    vocabulary-bounded aggregate; a word with n_sources = 1 belongs
    wholly to its only source (max(source) over the group IS that
    source). Exact integer counting throughout; the share divisions are
    single rounded doubles.

    Scale: shuffle is vocabulary-bounded (word key), never token-bound;
    the final frame is |sources| rows — materialized eagerly so the
    (source, word) cache releases before return (finish_cached).
    """
    from ..sources.catalog import ensure_parallelism, finish_cached
    from .dedup import tokens_col

    ex = (
        ensure_parallelism(documents.select("source", "text"))
        .select("source", F.explode(tokens_col()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .persist()
    )
    per_word = ex.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.sum("cnt").cast("bigint").alias("tot"),
        F.max("source").alias("only_source"),
    )
    base = ex.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("cnt").cast("bigint").alias("tokens"),
    )
    uniq = (
        per_word.where(F.col("n_sources") == 1)
        .groupBy(F.col("only_source").alias("source"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("unique_vocab"),
            F.sum("tot").cast("bigint").alias("unique_tokens"),
            F.sum(F.when(F.col("tot") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("corpus_hapax"),
        )
    )
    out = base.join(uniq, "source", "left").select(
        "source",
        "vocab",
        "tokens",
        F.coalesce("unique_vocab", F.lit(0)).alias("unique_vocab"),
        F.coalesce("unique_tokens", F.lit(0)).alias("unique_tokens"),
        F.coalesce("corpus_hapax", F.lit(0)).alias("corpus_hapax"),
    )
    return finish_cached(
        out.select(
            "source",
            "vocab",
            "tokens",
            "unique_vocab",
            "unique_tokens",
            "corpus_hapax",
            F.round(
                F.col("unique_vocab").cast("double")
                / F.col("vocab").cast("double"),
                6,
            ).alias("unique_vocab_share"),
            F.round(
                F.col("unique_tokens").cast("double")
                / F.col("tokens").cast("double"),
                6,
            ).alias("unique_token_share"),
        ),
        ex,
    )


def bm25_prf_topk(
    documents: DataFrame,
    n_query_terms: int = 5,
    n_fb_docs: int = 5,
    n_exp_terms: int = 5,
    k: int = 20,
) -> DataFrame:
    """BM25 with pseudo-relevance feedback (Rocchio-style query
    expansion): run :func:`bm25_topk`'s deterministic query, take the
    top ``n_fb_docs`` documents as feedback, add the ``n_exp_terms``
    terms most frequent among them (by feedback document frequency,
    global-df idf, originals excluded, ties by term), and rescore —
    the classic two-pass lexical retrieval upgrade.

    Both passes score with :func:`bm25_topk`'s :func:`_bm25_scorer`
    over one persisted tf table — the corpus tokenizes once, each pass
    is a broadcast-query-table join. The k-row result is materialized
    eagerly so the tf cache releases before return (finish_cached).
    """
    from ..sources.catalog import finish_cached

    tf = _bm25_tf(documents).persist()
    df_, score = _bm25_scorer(documents, tf)
    q0 = (
        df_.orderBy(F.desc("df"), F.asc("term"))
        .limit(n_query_terms)
        .select("term", "df")
    )
    fb = (
        score(q0)
        .orderBy(F.desc("score_dec"), F.asc("doc_id"))
        .limit(n_fb_docs)
        .select("doc_id")
    )
    exp = (
        tf.join(F.broadcast(fb), "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fb_df"))
        .join(q0.select("term"), "term", "left_anti")
        .join(df_, "term")
        .orderBy(F.desc("fb_df"), F.asc("term"))
        .limit(n_exp_terms)
        .select("term", "df")
    )
    qfull = q0.unionAll(exp)
    return finish_cached(
        score(qfull)
        .orderBy(F.desc("score_dec"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            "n_matched",
            F.col("score_dec").cast("double").alias("bm25"),
        ),
        tf,
    )


def keyness_terms(documents: DataFrame, top: int = 5) -> DataFrame:
    """Corpus-linguistics keyness: for each source, the ``top`` terms
    most OVER-represented vs the rest of the corpus by Dunning's
    log-likelihood ratio G² (the 2×2 contingency test that behaves at
    small counts where PMI explodes) — the "what is this crawl about?"
    readout used to audit domain skew before mixing sources.

    G² = 2·[a·ln(a/E_a) + b·ln(b/E_b)] over the (term-in-source,
    term-elsewhere) split, computed only for over-represented
    (a/s_tot > w_tot/N) terms. Each x·ln(x/E) term is one ln() of a
    ratio of exact integer products rounded to 6dp into the DECIMAL
    sum; zero cells contribute zero by the x·ln(x) → 0 convention.

    Scale: (source, word) and word-marginal aggregates are vocabulary-
    bounded; the final rank window is per source over its vocabulary.
    The top×|sources| result is materialized eagerly so the (source,
    word) cache releases before return (finish_cached).
    """
    from ..sources.catalog import ensure_parallelism, finish_cached
    from .dedup import tokens_col

    ex = (
        ensure_parallelism(documents.select("source", "text"))
        .select("source", F.explode(tokens_col()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
        .persist()
    )
    s_tot = ex.groupBy("source").agg(
        F.sum("a").cast("bigint").alias("s_tot")
    )
    w_tot = ex.groupBy("word").agg(
        F.sum("a").cast("bigint").alias("w_tot")
    )
    n_tot = ex.agg(F.sum("a").cast("bigint").alias("n"))
    j = (
        ex.join(w_tot, "word")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(n_tot))
    )
    a = F.col("a").cast("double")
    b = (F.col("w_tot") - F.col("a")).cast("double")
    # a/E_a = a·N / (w_tot·s_tot); b/E_b = b·N / (w_tot·(N−s_tot))
    ratio_a = (F.col("a") * F.col("n")).cast("double") / (
        F.col("w_tot") * F.col("s_tot")
    ).cast("double")
    ratio_b = (
        (F.col("w_tot") - F.col("a")) * F.col("n")
    ).cast("double") / (
        F.col("w_tot") * (F.col("n") - F.col("s_tot"))
    ).cast("double")
    term_a = F.round(a * F.log(ratio_a), 6).cast("decimal(18,6)")
    term_b = F.when(
        F.col("w_tot") > F.col("a"),
        F.round(b * F.log(ratio_b), 6).cast("decimal(18,6)"),
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    over = (F.col("a") * F.col("n")) > (F.col("w_tot") * F.col("s_tot"))
    scored = j.where(over).select(
        "source",
        "word",
        "a",
        "w_tot",
        (F.lit(2) * (term_a + term_b)).cast("double").alias("g2"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("g2"), F.asc("word"))
    return finish_cached(
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top)
        .select(
            "source",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("word").alias("term"),
            F.col("a").alias("cnt_in_source"),
            F.col("w_tot").alias("cnt_corpus"),
            F.round("g2", 6).alias("g2"),
        ),
        ex,
    )


def qlm_dirichlet_topk(
    documents: DataFrame,
    n_query_terms: int = 5,
    mu: float = 2000.0,
    k: int = 20,
) -> DataFrame:
    """Query-likelihood language-model retrieval with Dirichlet
    smoothing (Zhai & Lafferty 2001): score(Q,D) = Σ_{t∈Q}
    ln((tf + μ·P(t|C)) / (|D| + μ)) with the collection model
    P(t|C) = cf(t)/|C| — the probabilistic counterpart of
    :func:`bm25_topk` (same deterministic top-df query), completing
    the classic lexical-retrieval pair every IR stack ships.

    Unlike BM25, EVERY query term scores every document (smoothing
    gives zero-tf terms mass), so the scored frame is |docs|×|Q| —
    built as a broadcast cross join of the per-doc length table with
    the |Q|-row query, then a left join against tf. Each ln() term
    rounds to 6dp into a DECIMAL(18,6) sum (exact, order-free); ties
    break on doc_id.

    Scale: the corpus tokenizes once into (doc_id, term, tf);
    everything query-sized broadcasts; no quadratic anywhere.
    """
    from .dedup import tokens_col

    tf = (
        documents.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .persist()
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    s_tok = dl.agg(F.sum("dl").cast("bigint").alias("s_tok"))
    q0 = (
        df_.orderBy(F.desc("df"), F.asc("term"))
        .limit(n_query_terms)
        .select("term", "cf")
    )
    dense = (
        dl.crossJoin(F.broadcast(q0))
        .join(tf, ["doc_id", "term"], "left")
        .crossJoin(F.broadcast(s_tok))
        .select(
            "doc_id",
            F.coalesce("tf", F.lit(0)).cast("bigint").alias("tf0"),
            "dl",
            "cf",
            "s_tok",
        )
    )
    term_score = F.round(
        F.log(
            (
                F.col("tf0").cast("double")
                + F.lit(mu)
                * (F.col("cf").cast("double") / F.col("s_tok").cast("double"))
            )
            / (F.col("dl").cast("double") + F.lit(mu))
        ),
        6,
    ).cast("decimal(18,6)")
    from ..sources.catalog import finish_cached

    return finish_cached(
        dense.groupBy("doc_id")
        .agg(
            F.sum((F.col("tf0") > 0).cast("int")).cast("bigint")
            .alias("n_matched"),
            F.sum(term_score).alias("score_dec"),
        )
        .orderBy(F.desc("score_dec"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            "n_matched",
            F.col("score_dec").cast("double").alias("qlm"),
        ),
        tf,
    )


def encoding_anomaly(documents: DataFrame) -> DataFrame:
    """Encoding-health audit per source — the check a crawl pipeline
    runs BEFORE any language/quality model sees the text: counts of
    U+FFFD replacement characters (decoder already gave up), stray C0
    control bytes (binary bleed; tab/newline/CR excluded), and the two
    classic UTF-8-read-as-Latin-1 mojibake signatures ("Ã", "â€"),
    rolled up to per-source document fractions and per-10k-char rates.

    Exactness: regexp_count over fixed patterns (identical RE2/Java
    semantics for these literal classes), integer sums, and one rounded
    division per rate — no floats until the final rates.

    Scale: one projection + one partial-agg'd groupBy(source); patterns
    run scan-side, so the shuffle carries |sources| rows.
    """
    repl = F.regexp_count(F.col("text"), F.lit("�"))
    ctrl = F.regexp_count(
        F.col("text"), F.lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    )
    moji = F.regexp_count(F.col("text"), F.lit("Ã|â€"))
    per_doc = documents.select(
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        repl.cast("bigint").alias("n_repl"),
        ctrl.cast("bigint").alias("n_ctrl"),
        moji.cast("bigint").alias("n_moji"),
    )
    g = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum("n_repl").cast("bigint").alias("sum_repl"),
        F.sum("n_ctrl").cast("bigint").alias("sum_ctrl"),
        F.sum("n_moji").cast("bigint").alias("sum_moji"),
        F.sum(
            ((F.col("n_repl") + F.col("n_ctrl") + F.col("n_moji")) > 0)
            .cast("int")
        )
        .cast("bigint")
        .alias("n_flagged"),
    )
    nd = F.col("n_docs").cast("double")
    cd = F.col("sum_chars").cast("double")
    return g.select(
        "source",
        "n_docs",
        "n_flagged",
        F.round(F.col("n_flagged").cast("double") / nd, 6).alias(
            "frac_flagged"
        ),
        "sum_repl",
        "sum_ctrl",
        "sum_moji",
        F.round(
            F.lit(10000.0) * F.col("sum_repl").cast("double") / cd, 6
        ).alias("repl_per_10k"),
        F.round(
            F.lit(10000.0) * F.col("sum_ctrl").cast("double") / cd, 6
        ).alias("ctrl_per_10k"),
        F.round(
            F.lit(10000.0) * F.col("sum_moji").cast("double") / cd, 6
        ).alias("moji_per_10k"),
    )


def kneser_ney_bigram(documents: DataFrame) -> DataFrame:
    """Interpolated Kneser–Ney bigram LM (d = 0.75) — the smoothing
    that actually ships in n-gram LMs: discount mass from every seen
    bigram and back off to the CONTINUATION unigram P_cont(w2) =
    |{w1 : c(w1,w2)>0}| / |bigram types| (how many contexts a word
    completes, not how often it occurs — the "San Francisco" fix).
    Emits, per observed bigram, the MLE and KN conditional
    probabilities side by side so the discount's effect is auditable.

    Exactness: every input to the formula is an integer count except
    the discount 0.75 — an exact binary fraction — so the single
    identically-parenthesized IEEE expression matches bit-for-bit
    cross-engine after the 6dp round; no smoothing hyperparameter
    search, no transcendental.

    Scale: pair construction is the bigram_lm shape (one array
    projection, one explode, map-side-combined count); the three
    normalizers are two windows over the vocabulary²-bounded pair
    table (w1- and w2-partitioned — parallel, key-bounded) and one
    1-row broadcast total. Nothing is corpus-sized after the count.
    """
    toked = documents.select(tokens_col().alias("toks"))
    t = F.col("toks")
    pairs = F.when(
        F.size(t) >= 2,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("w1"),
            F.slice(t, 2, F.size(t) - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    counts = (
        toked.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    bt = counts.agg(F.count(F.lit(1)).cast("bigint").alias("bt"))
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    enriched = counts.select(
        "w1",
        "w2",
        "cnt",
        F.sum("cnt").over(w1w).cast("bigint").alias("c1"),
        F.count(F.lit(1)).over(w1w).cast("bigint").alias("t1"),
        F.count(F.lit(1)).over(w2w).cast("bigint").alias("l2"),
    ).crossJoin(F.broadcast(bt))
    cntd = F.col("cnt").cast("double")
    c1d = F.col("c1").cast("double")
    t1d = F.col("t1").cast("double")
    l2d = F.col("l2").cast("double")
    btd = F.col("bt").cast("double")
    kn = (cntd - F.lit(0.75)) / c1d + (
        (F.lit(0.75) * t1d) / c1d
    ) * (l2d / btd)
    return enriched.select(
        "w1",
        "w2",
        "cnt",
        F.round(cntd / c1d, 6).alias("cond_p_mle"),
        F.round(kn, 6).alias("cond_p_kn"),
    )


def burrows_delta(documents: DataFrame, m: int = 20) -> DataFrame:
    """Burrows' Delta — the standard stylometric distance between text
    collections: take the ``m`` most frequent corpus words, express
    each source's usage as a z-score against the cross-source
    distribution of relative frequencies, and score each source pair
    by the mean absolute z difference. Low delta = same "stylistic
    fingerprint" (function-word habits), the authorship/register signal
    that survives topic shift — here a source-provenance audit: which
    crawls write alike?

    Exactness: relative frequencies round to 6dp decimals; per-word
    mean/std across sources are single IEEE expressions over decimal
    sums (rounded); z and each |z_a − z_b| term round before the
    decimal pair sum. Words with zero cross-source variance are
    excluded (z undefined) — deterministically, in both engines.

    Scale: after the (source, word) aggregate everything is
    |sources| × m rows — control-plane-sized; the pair join is over
    the z-table, never the corpus.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    ex = (
        ensure_parallelism(documents.select("source", "text"))
        .select("source", F.explode(tokens_col()).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .persist()
    )
    s_tot = ex.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("s_tot")
    )
    top = (
        ex.groupBy("word")
        .agg(F.sum("cnt").cast("bigint").alias("w_tot"))
        .orderBy(F.desc("w_tot"), F.asc("word"))
        .limit(m)
        .select("word")
    )
    dense = (
        s_tot.crossJoin(F.broadcast(top))
        .join(ex, ["source", "word"], "left")
        .select(
            "source",
            "word",
            F.round(
                F.coalesce("cnt", F.lit(0)).cast("double")
                / F.col("s_tot").cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("f"),
        )
    )
    fd = F.col("f").cast("double")
    stats = dense.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
        F.sum("f").alias("sf"),
        F.sum(F.round(fd * fd, 6).cast("decimal(18,6)")).alias("sff"),
    )
    nd = F.col("n_src").cast("double")
    sfd, sffd = F.col("sf").cast("double"), F.col("sff").cast("double")
    stats = stats.select(
        "word",
        F.round(sfd / nd, 6).alias("mu"),
        F.round(
            F.sqrt(
                (sffd - (sfd * sfd) / nd) / (nd - F.lit(1.0))
            ),
            6,
        ).alias("sigma"),
    ).where(F.col("sigma") > 0)
    z = dense.join(F.broadcast(stats), "word").select(
        "source",
        "word",
        F.round((fd - F.col("mu")) / F.col("sigma"), 6).alias("z"),
    )
    za = z.select(
        F.col("source").alias("source_a"),
        "word",
        F.col("z").alias("z_a"),
    )
    zb = z.select(
        F.col("source").alias("source_b"),
        "word",
        F.col("z").alias("z_b"),
    )
    pairs = za.join(zb, "word").where(
        F.col("source_a") < F.col("source_b")
    )
    term = F.round(F.abs(F.col("z_a") - F.col("z_b")), 6).cast(
        "decimal(18,6)"
    )
    g = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(term).alias("sum_absz"),
    )
    # the mean of 6dp decimals can land EXACTLY on a rounding tie
    # (observed: 22.783350/20 = 1.1391675), where engines break the
    # double-rounding differently — so the mean is taken in exact
    # integer micro-units with half-up integer division instead
    from ..sources.catalog import finish_cached

    return finish_cached(
        g.select(
            "source_a",
            "source_b",
            "n_words",
            (
                F.expr(
                    "(CAST(sum_absz * 1000000 AS BIGINT) * 2 + n_words) "
                    "DIV (2 * n_words)"
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("delta"),
        ),
        ex,
    )


def text_tiling_cohesion(documents: DataFrame, block: int = 20) -> DataFrame:
    """TextTiling-style topic-shift profile per document: split tokens
    into fixed ``block``-token blocks, score every adjacent block pair
    by term-vector cosine, and report each document's boundary profile
    — block count, weakest boundary (position + cohesion) and mean
    cohesion. A low minimum marks a topic seam (where a chunker should
    cut); a low mean marks incoherent/boilerplate-stitched text — the
    segmentation signal behind passage chunking for retrieval.

    Exactness: block term counts are integers, so dot products and
    squared norms are exact; each boundary cosine is one rounded IEEE
    expression; the per-doc mean runs in integer micro-units with
    half-up division (the burrows_delta tie lesson). Boundaries whose
    blocks share no term are REAL zeros via the dense boundary spine.

    Scale: everything keys on (doc_id, block) — the explode is
    token-count-sized but aggregates immediately; no cross-document
    work anywhere, so the operator partitions perfectly by document.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    tok = ensure_parallelism(documents.select("doc_id", "text")).select(
        "doc_id", F.posexplode(tokens_col()).alias("i", "word")
    )
    blk = (
        tok.select(
            "doc_id", F.expr("i DIV " + str(block)).alias("b"), "word"
        )
        .groupBy("doc_id", "b", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    norms = blk.groupBy("doc_id", "b").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("ss")
    )
    na = norms.select(
        "doc_id", F.col("b").alias("bd"), F.col("ss").alias("ss_a")
    )
    nb = norms.select(
        "doc_id", (F.col("b") - 1).alias("bd"), F.col("ss").alias("ss_b")
    )
    spine = na.join(nb, ["doc_id", "bd"])
    la = blk.select(
        "doc_id", F.col("b").alias("bd"), "word", F.col("cnt").alias("ca")
    )
    lb = blk.select(
        "doc_id",
        (F.col("b") - 1).alias("bd"),
        "word",
        F.col("cnt").alias("cb"),
    )
    dots = (
        la.join(lb, ["doc_id", "bd", "word"])
        .groupBy("doc_id", "bd")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"))
    )
    coh = spine.join(dots, ["doc_id", "bd"], "left").select(
        "doc_id",
        "bd",
        F.round(
            F.coalesce("dot", F.lit(0)).cast("double")
            / (
                F.sqrt(F.col("ss_a").cast("double"))
                * F.sqrt(F.col("ss_b").cast("double"))
            ),
            6,
        ).alias("c"),
    )
    blocks = norms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks")
    )
    per_doc = coh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boundaries"),
        F.min("c").alias("min_cohesion"),
        F.min_by(F.col("bd"), F.struct(F.col("c"), F.col("bd")))
        .cast("bigint")
        .alias("weakest_boundary"),
        F.sum(F.col("c").cast("decimal(18,6)")).alias("sum_c"),
    )
    return (
        per_doc.join(blocks, "doc_id")
        .select(
            "doc_id",
            "n_blocks",
            "n_boundaries",
            "min_cohesion",
            "weakest_boundary",
            (
                F.expr(
                    "(CAST(sum_c * 1000000 AS BIGINT) * 2 + n_boundaries)"
                    " DIV (2 * n_boundaries)"
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("mean_cohesion"),
        )
    )


def wasserstein_source_lengths(documents: DataFrame) -> DataFrame:
    """1-D optimal transport between sources' document-length
    distributions: W₁ distance approximated on the decile lattice —
    mean |q_a(p) − q_b(p)| over p ∈ {0.1..0.9} of per-doc token counts
    — for every source pair. The distribution-shift audit that sees
    what KL/JS/PSI (which bin and compare densities) miss: HOW FAR
    apart the mass sits, in token units, not just whether bins differ.
    Pairs with small W₁ can share a sampling config; a large W₁ says
    one source needs its own packing/chunking budget.

    Exactness: token counts are integers; deciles are exact
    interpolated percentiles; each |Δq| rounds to 6dp into a decimal
    sum and the mean runs in integer micro-units with half-up division
    (the burrows_delta tie discipline).

    Scale: one per-doc projection, one |sources|-row percentile
    aggregate, then a |sources|²-row self-join — control-plane-sized.
    """
    from .dedup import tokens_col

    lens = documents.select(
        "source", F.size(tokens_col()).cast("bigint").alias("n_tok")
    )
    qs = lens.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            "percentile(n_tok, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D,"
            " 0.6D, 0.7D, 0.8D, 0.9D))"
        ).alias("qv"),
    )
    a = qs.select(
        F.col("source").alias("source_a"),
        F.col("n_docs").alias("n_docs_a"),
        F.posexplode("qv").alias("i", "qa"),
    )
    b = qs.select(
        F.col("source").alias("source_b"),
        F.col("n_docs").alias("n_docs_b"),
        F.posexplode("qv").alias("i", "qb"),
    )
    pairs = a.join(b, "i").where(F.col("source_a") < F.col("source_b"))
    term = F.round(F.abs(F.col("qa") - F.col("qb")), 6).cast(
        "decimal(18,6)"
    )
    g = pairs.groupBy(
        "source_a", "source_b", "n_docs_a", "n_docs_b"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_q"),
        F.sum(term).alias("sum_d"),
    )
    return g.select(
        "source_a",
        "source_b",
        "n_docs_a",
        "n_docs_b",
        (
            F.expr(
                "(CAST(sum_d * 1000000 AS BIGINT) * 2 + n_q)"
                " DIV (2 * n_q)"
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("w1_tokens"),
    )


def word_adaptation(documents: DataFrame, top: int = 30) -> DataFrame:
    """Church–Gale adaptation ("burstiness") for the ``top`` highest-df
    terms: P(k ≥ 2 | k ≥ 1) — once a word shows up in a document, how
    likely is it to show up AGAIN? — against the Poisson expectation at
    the same rate. Real text adapts (adaptation ≫ Poisson): content
    words cluster in the documents that are "about" them, and the
    ratio is the classic evidence that bag-of-words independence is
    wrong — here a per-term topicality signal (high ratio = topical
    content word; ≈1 = function word).

    Exactness: df₁/df₂/cf/n_docs are exact integers; λ, the Poisson
    term (one exp(), rounded), adaptation, and the ratio are single
    rounded IEEE expressions.

    Scale: one (doc, term) count aggregate (vocabulary-bounded out),
    then |vocabulary|-row marginals and a top-k head.
    """
    from ..sources.catalog import ensure_parallelism
    from .dedup import tokens_col

    tf = (
        ensure_parallelism(documents.select("doc_id", "text"))
        .select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    n_docs = documents.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    per_term = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df1"),
        F.sum((F.col("k") >= 2).cast("int")).cast("bigint").alias("df2"),
        F.sum("k").cast("bigint").alias("cf"),
    )
    headed = (
        per_term.orderBy(F.desc("df1"), F.asc("term"))
        .limit(top)
        .crossJoin(F.broadcast(n_docs))
    )
    lam = F.round(
        F.col("cf").cast("double") / F.col("n_docs").cast("double"), 6
    )
    em = F.round(F.exp(-lam), 6)
    # Poisson P(k>=2 | k>=1) = 1 - lam*e^-lam / (1 - e^-lam)
    pois = F.round(
        F.lit(1.0) - (lam * em) / (F.lit(1.0) - em), 6
    )
    adapt = F.round(
        F.col("df2").cast("double") / F.col("df1").cast("double"), 6
    )
    out = (
        headed.withColumn("lambda", lam)
        .withColumn("adaptation", adapt)
        .withColumn("poisson_expect", pois)
    )
    return out.select(
        "term",
        "df1",
        "df2",
        "cf",
        "lambda",
        "adaptation",
        "poisson_expect",
        F.when(
            F.col("poisson_expect") > 0,
            F.round(F.col("adaptation") / F.col("poisson_expect"), 6),
        ).alias("adaptation_ratio"),
    )
