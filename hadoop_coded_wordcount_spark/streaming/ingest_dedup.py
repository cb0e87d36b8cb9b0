"""Streaming MinHash-LSH ingest dedup — "does this arriving document
near-duplicate anything already ingested?", answered at ingest time
(SURVEY §13; the streaming twin of ``operators/dedup.py``'s
``dedup_incremental`` nightly batch).

Reference parity: the reference engine has no streaming surface (it is a
batch MapReduce wordcount, /root/reference/src/wordcount/WordCount.java);
this operator extends the engine's LLM-data-pipeline family the way the
brief directs — ingest-time dedup is what a 100 TB training-data pipeline
runs in front of its corpus store.

Three stages, only the last stateful:

1. :func:`ingest_features` — stateless, JVM-side, per micro-batch:
   shingle → MinHash signature → per-band bucket hash. The signature is
   the md5 Carter–Wegman family of the ORACLED batch signature table
   (``operators/dedup.py:minhash_wide`` — bit-identity pinned in tests)
   and the buckets fold md5 of each band's minhashes, so every stage is
   DuckDB-replayable and the batch twin (:func:`ingest_neardup_screen`)
   value-oracles end to end — the stream==batch pinning strategy every
   ``streaming/`` twin uses, upgraded to the external gate. One row per
   (doc, band) leaves this stage; the text column does NOT (signatures
   shuffle, text never does — the same principle that makes the batch
   LSH scale).
2. :func:`exact_resend_filter` — exact-dup fast path:
   ``dropDuplicatesWithinWatermark`` on the content sha256 drops exact
   re-sends inside the watermark horizon with Spark-managed bounded
   state. Equality dedup only — it cannot flag-and-keep and cannot
   verify a similarity threshold, which is why stage 3 exists. Run it
   as its own query in front of the near-dup screen (chaining a
   watermark dedup into ``applyInPandasWithState`` inside one streaming
   query is outside Spark's supported multi-stateful combinations).
3. :func:`ingest_neardup_stream` — near-dup bucket state
   (``applyInPandasWithState``, update mode): state keyed by
   ``(band, bucket)`` — the LSH bucket, the only key under which
   near-duplicates are guaranteed to collide. Per bucket the state
   holds a CAPPED list of representatives (doc_id + signature). An
   arriving doc probes its bucket, estimates Jaccard against each
   representative as the matching-minhash fraction, emits its best
   match over threshold, and appends itself if the bucket has room.

Bounded-state argument (the 100 TB posture):

* *Bucket cap* — a bucket past ``cap`` members is either boilerplate
  (members already flagged against the first ``cap`` representatives) or
  a band-hash collision storm; overflow appends are dropped and COUNTED
  (the ``bucket_overflow`` output column), never silently absorbed. The
  cost is missed matches against the (cap+1)-th+ variant of
  already-flagged content — recall on fresh content is unaffected.
* *Timeout horizon* — buckets idle past ``timeout_ms`` expire via
  ``GroupStateTimeout.ProcessingTimeTimeout``, so live-bucket count is
  bounded by bucket-arrival rate × horizon, not by history. Ingest-time
  dedup answers "seen in the last T"; the beyond-horizon question stays
  with the nightly ``dedup_incremental`` batch — the standard lambda
  split, stated here rather than hidden.
* *No text in state* — representatives store doc_id + signature only
  (k longs ≈ 256 bytes at k=32); verification is signature-estimated
  Jaccard. The batch operator's exact-Jaccard verify needs both shingle
  sets — at ingest time that would mean corpus-sized text state, so the
  streaming twin accepts the estimator and documents the delta (est vs
  exact differs by the standard MinHash ±1/√k error; the
  batch-equivalence test compares pair SETS against a batch replay of
  the identical estimator, and against ``dedup_incremental`` with a
  margin).

Why not a stream-stream self-join on band_hash: it needs the full ingest
history on both sides inside the watermark — state grows with the
corpus, exactly what the bucket cap avoids. Why
``applyInPandasWithState`` and not ``transformWithStateInPandas``: the
Spark-4 API's Python<->JVM protocol needs google.protobuf, absent in
this environment (the ``running_user_totals_v2`` precedent,
``streaming/stateful.py``); the state machine here is API-portable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.dedup import (
    _MINHASH_P,
    minhash_params,
    tokens_col,
    word_ngrams,
)

__all__ = [
    "ingest_features",
    "exact_resend_filter",
    "ingest_neardup_stream",
    "ingest_neardup_screen",
    "ingest_neardup_screen_oracle_sql",
    "ingest_neardup_live",
]

MATCH_SCHEMA = (
    "doc_id bigint, matched_doc_id bigint, est_jaccard double, "
    "band int, bucket bigint, bucket_size int, bucket_overflow bigint"
)
# representatives as parallel columns — doc_ids[i] owns the k-slice
# sigs[i*k:(i+1)*k]; a flat long array round-trips the state store
# without nested-array serialization
_STATE_SCHEMA = "doc_ids array<bigint>, sigs array<bigint>, overflow bigint"


def _cw_signature_col(k: int) -> Column:
    """Per-row md5 Carter–Wegman MinHash signature over an ``hx`` column
    (gram hashes, see :func:`ingest_features`): ``m_i = min over grams of
    (a_i·x + b_i) mod p`` — the EXACT values of the ORACLED batch
    signature table (``operators/dedup.py:minhash_wide``, which computes
    the same family via explode + groupBy-min; a per-row ``array_min``
    over the same set is the stream-legal form of the same minimum).
    Using the DuckDB-replayable basis here is what lets the r11 registry
    twin of this operator be value-oracled end to end — the
    ``xxhash64``-based ``_signature_col`` has no SQL replay."""
    # ONE JVM-parsed expr (optimization r12): identical tree to the
    # Column-object loop — int literals, same lambda, same array_min.
    return F.expr(
        "array("
        + ", ".join(
            f"array_min(transform(hx, x -> ({a} * x + {b}) % {_MINHASH_P}))"
            for a, b in minhash_params(k)
        )
        + ")"
    )


def _band_bucket(b: int, r: int) -> Column:
    """Bucket id of band ``b``: md5 over the pipe-joined r minhash values
    folded to a 56-bit BIGINT — the same md5→``conv``→long idiom the
    oracles already replay (``CAST('0x' || substr(md5(..),1,14) AS
    BIGINT)``), unlike ``minhash_lsh_pairs``'s xxhash64 banding."""
    parts = "concat_ws('|'" + "".join(
        f", CAST(element_at(signature, {b * r + j + 1}) AS STRING)"
        for j in range(r)
    ) + ")"
    return F.expr(
        f"CAST(CONV(SUBSTRING(md5({parts}), 1, 14), 16, 10) AS BIGINT)"
    )


def ingest_features(
    df: DataFrame, n: int = 3, k: int = 32, bands: int = 16
) -> DataFrame:
    """Stateless per-document LSH features: (doc_id, signature, band,
    bucket), one row per (doc, band). Works on a stream or a static
    frame — every expression is a per-row projection.

    Value discipline: grams are ``operators/dedup.py:word_ngrams``, made
    distinct as in ``shingled`` (docs with fewer than n tokens dropped),
    minus its ``ensure_parallelism`` repartition — ``df.rdd`` is illegal
    on a stream, and a stream source arrives already split across tasks.
    The signature is the md5 Carter–Wegman family of the ORACLED
    ``minhash_wide`` (bit-identity pinned in tests), and band buckets
    fold md5 of the band's minhashes — every stage DuckDB-replayable,
    so the batch twin (:func:`ingest_neardup_screen`) oracles exactly.
    """
    r = k // bands
    toks = tokens_col()
    with_toks = df.select("doc_id", toks.alias("toks")).where(
        F.size("toks") >= n
    )
    grams = F.array_distinct(word_ngrams(n))
    hx = F.transform(
        "grams",
        lambda g: F.conv(F.substring(F.md5(g), 1, 14), 16, 10).cast("long")
        % F.lit(_MINHASH_P),
    )
    sig = (
        with_toks.select("doc_id", grams.alias("grams"))
        .select("doc_id", hx.alias("hx"))
        .select("doc_id", _cw_signature_col(k).alias("signature"))
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"), _band_bucket(b, r).alias("bucket")
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id", "signature", F.explode(band_structs).alias("bb")
    ).select("doc_id", "signature", "bb.band", "bb.bucket")


def exact_resend_filter(
    stream: DataFrame, ts_col: str = "ts", lateness: str = "10 minutes"
) -> DataFrame:
    """Exact-dup fast path: drop byte-identical re-sends inside the
    watermark horizon, keyed on the content sha256 so the (potentially
    large) text is compared via a 32-byte digest. Spark manages the
    bounded key state and expires it past the watermark — the same
    at-least-once cleanup shape as ``streaming/joins.py``'s content-key
    dedup, applied to the document ingest.

    NULL text never collapses (ADVICE r10): ``sha2(NULL)`` is NULL and
    ``dropDuplicatesWithinWatermark`` groups NULL keys as equal, which
    would silently fold every distinct NULL-text document inside the
    horizon into one. The key therefore falls back to the document id
    (distinct NULL-text docs keep distinct keys), and past that to a
    per-row ``uuid()`` so a NULL-text NULL-id row is never dropped
    (at-least-once on checkpoint replay for that degenerate slice —
    the safe failure direction for a LOSSY filter)."""
    key = F.coalesce(
        F.sha2(F.col("text"), 256),
        F.concat(F.lit("id:"), F.col("doc_id").cast("string")),
        F.expr("uuid()"),
    )
    return (
        stream.withColumn("text_sha", key)
        .withWatermark(ts_col, lateness)
        .dropDuplicatesWithinWatermark(["text_sha"])
        .drop("text_sha")
    )


def _make_update(k: int, threshold: float, cap: int, timeout_ms: int | None):
    """Build the per-bucket state update. Pure Python by design so tests
    drive it directly with a fake GroupState (the JVM-backed one only
    exists inside a running query)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle past the horizon: the bucket's representatives expire;
            # beyond-horizon matches belong to the nightly batch leg
            state.remove()
            return
        band, bucket = key
        if state.exists:
            doc_ids, flat, overflow = state.get
            doc_ids, flat = list(doc_ids), list(flat)
        else:
            doc_ids, flat, overflow = [], [], 0
        # deterministic arrival order inside a micro-batch: partition
        # order is scheduler-dependent, doc_id order is not (and equals
        # ingest order wherever ids are assigned at ingest)
        arrivals: list[tuple[int, list[int]]] = []
        for pdf in pdfs:
            arrivals.extend(
                (int(r.doc_id), [int(v) for v in r.signature])
                for r in pdf.itertuples(index=False)
            )
        arrivals.sort(key=lambda a: a[0])
        out: list[tuple] = []
        for doc_id, sig in arrivals:
            over = [
                (sum(a == b for a, b in zip(sig, rep)) / k, rep_id)
                for idx, rep_id in enumerate(doc_ids)
                if rep_id != doc_id
                for rep in [flat[idx * k : (idx + 1) * k]]
            ]
            over = [(e, rid) for e, rid in over if e >= threshold]
            if over:
                # highest estimate wins; ties break to the lowest doc_id
                # (the batch operator's max-jaccard/min-id convention)
                best_est, best_id = max(over, key=lambda t: (t[0], -t[1]))
                out.append(
                    (
                        doc_id,
                        best_id,
                        round(best_est, 6),
                        band,
                        bucket,
                        len(doc_ids),
                        overflow,
                    )
                )
            if doc_id in doc_ids:
                continue  # exact resend that reached stage 3: no re-append
            if len(doc_ids) < cap:
                doc_ids.append(doc_id)
                flat.extend(sig)
            else:
                overflow += 1
        state.update((doc_ids, flat, overflow))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "matched_doc_id",
                    "est_jaccard",
                    "band",
                    "bucket",
                    "bucket_size",
                    "bucket_overflow",
                ],
            )

    return update


def ingest_neardup_stream(
    stream: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    cap: int = 32,
    timeout_ms: int | None = None,
) -> DataFrame:
    """The stage-3 near-dup screen over a (doc_id, text, ...) document
    stream: emits ``(doc_id, matched_doc_id, est_jaccard, band, bucket,
    bucket_size, bucket_overflow)`` for every arriving doc whose
    signature-estimated Jaccard against a stored bucket representative
    reaches ``threshold``. A doc colliding with state in several bands
    emits per band; best-match-per-doc is one stateless groupBy away in
    the consumer (``max_by(matched_doc_id, est_jaccard)`` per batch) —
    kept OUT of this query because a second stateful aggregation behind
    ``applyInPandasWithState`` is not a supported combination.

    Output mode must be ``update``. ``timeout_ms=None`` keeps state
    forever (test/backfill mode); production passes the ingest horizon.
    """
    timeout = (
        GroupStateTimeout.NoTimeout
        if timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        ingest_features(stream, n=n, k=k, bands=bands)
        .groupBy("band", "bucket")
        .applyInPandasWithState(
            _make_update(k, threshold, cap, timeout_ms),
            outputStructType=MATCH_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def ingest_neardup_screen(
    documents: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """BATCH replay of the ingest stream at cap=∞ / no timeout — the
    registry twin that a DuckDB oracle can value-check end to end
    (md5-CW signatures, md5-fold buckets, integer match counts; the
    oracle lands with the r11 registry unfreeze).

    Arrival order is ``dedup_incremental``'s split replayed as a stream
    would see it: the existing half (src0-9) ingests first, then the new
    half, each in doc_id order. Per (arriving doc, band, bucket) the
    screen emits the BEST earlier-arrival match at signature-estimated
    Jaccard >= threshold (max estimate, ties to the lowest doc_id) —
    exactly the stream's emission rule, minus the cap diagnostics
    (bucket_size / bucket_overflow are meaningless at cap=∞). The
    stream==batch test pins row-set equality against the live
    ``applyInPandasWithState`` query.

    Scale shape: the self-join is an equi-join on (band, bucket) — the
    banded-LSH discipline, candidates only inside buckets, signatures
    (k longs) shuffle, text never does. The per-pair estimate is one
    unrolled codegen CASE-sum over k=32 longs on the candidate set only.
    """
    feats = ingest_features(documents, n=n, k=k, bands=bands)
    half = documents.select(
        "doc_id",
        F.when(
            F.regexp_extract("source", r"(\d+)$", 1).cast("int") < 10,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("wave"),
    )
    feats = feats.join(half, "doc_id")
    a = feats.select(
        F.col("doc_id").alias("rep_id"),
        F.col("signature").alias("rep_sig"),
        F.col("wave").alias("rep_wave"),
        "band",
        "bucket",
    )
    b = feats.select(
        "doc_id", "signature", "wave", "band", "bucket"
    )
    earlier = (F.col("rep_wave") < F.col("wave")) | (
        (F.col("rep_wave") == F.col("wave"))
        & (F.col("rep_id") < F.col("doc_id"))
    )
    # unrolled codegen fold (optimization r12): the nested HOF evaluated
    # INTERPRETED once per candidate pair on the bucket join hot path;
    # the unrolled CASE chain is the same left-to-right fold from the 0
    # seed — bit-identical match counts (signature length is fixed k).
    matches = F.expr(
        "0 + "
        + " + ".join(
            f"(CASE WHEN signature[{i}] = rep_sig[{i}]"
            " THEN 1 ELSE 0 END)"
            for i in range(k)
        )
    )
    est = matches.cast("double") / F.lit(float(k))
    w = Window.partitionBy("doc_id", "band", "bucket").orderBy(
        F.desc("est_jaccard"), F.asc("matched_doc_id")
    )
    return (
        b.join(a, ["band", "bucket"])
        .where(earlier)
        .select(
            "doc_id",
            F.col("rep_id").alias("matched_doc_id"),
            F.round(est, 6).alias("est_jaccard"),
            "band",
            "bucket",
        )
        .where(F.col("est_jaccard") >= threshold)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def ingest_neardup_screen_oracle_sql(
    threshold: float = 0.5, k: int = 32, bands: int = 16, n: int = 3
) -> str:
    """The DuckDB replay of :func:`ingest_neardup_screen` — every stage
    value-exact: the md5 Carter–Wegman minima (the minhash_signatures
    oracle's family), the md5→BIGINT band fold, integer match counts
    over the k minima, and the best-per-(doc, band, bucket) window.
    Every screen parameter (threshold, k, bands, shingle width ``n``)
    is mirrored here so a non-default call cannot silently diverge
    from its oracle (ADVICE r10 — the first cut hardcoded trigrams).

    Tokenizer dialect note: Java's ``\\s`` (Spark ``split``) includes
    vertical tab ``\\x0b``; RE2's (DuckDB ``string_split_regex``) does
    not — so the oracle splits on ``[\\s\\x0b]+`` to match Spark
    byte-for-byte on adversarial text (pinned in tests; no gate corpus
    contains \\x0b, so the registry's plain-``\\s+`` text oracles are
    unaffected there — divergence recorded in SURVEY §15 for the r11
    sweep)."""
    r = k // bands
    mins = ",\n             ".join(
        f"min(({a} * x + {b}) % {_MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(minhash_params(k))
    )
    band_rows = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, wave, %d AS band, "
        "CAST(('0x' || substr(md5(%s), 1, 14)) AS BIGINT) AS bucket FROM s"
        % (
            b,
            " || '|' || ".join(
                f"CAST(m{b * r + j} AS VARCHAR)" for j in range(r)
            ),
        )
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n)).replace(
        "toks[i+0]", "toks[i]"
    )
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - {n - 2}),
               i -> {gram})) AS grams
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '[\\s\\x0b]+'), x -> x <> '') AS toks
            FROM documents)
      WHERE len(toks) >= {n}
    ),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 14)) AS BIGINT) % {_MINHASH_P} AS x
      FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
    ),
    s0 AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id
    ),
    w AS (
      SELECT doc_id,
             CASE WHEN TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) < 10
                  THEN 0 ELSE 1 END AS wave
      FROM documents
    ),
    s AS (SELECT s0.*, w.wave FROM s0 JOIN w USING (doc_id)),
    f AS (
      {band_rows}
    ),
    p AS (
      SELECT fb.doc_id,
             fa.doc_id AS matched_doc_id,
             round(({matches}) / {float(k)}, 6) AS est_jaccard,
             fb.band, fb.bucket
      FROM f fb
      JOIN f fa ON fa.band = fb.band AND fa.bucket = fb.bucket
       AND ((fa.wave < fb.wave) OR (fa.wave = fb.wave AND fa.doc_id < fb.doc_id))
      JOIN s a ON a.doc_id = fa.doc_id
      JOIN s b ON b.doc_id = fb.doc_id
    ),
    q AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id, band, bucket
               ORDER BY est_jaccard DESC, matched_doc_id ASC) AS rn
      FROM p WHERE est_jaccard >= {threshold}
    )
    SELECT doc_id, matched_doc_id, est_jaccard, band, bucket
    FROM q WHERE rn = 1
    """


def _last_state_totals(query) -> dict:
    """State-store level from a streaming query's most recent progress:
    the per-wave probe :func:`ingest_neardup_live` exposes. Scans
    recentProgress newest-first for the last entry that carries state
    operators (a trailing zero-input batch may or may not, depending on
    Spark's no-data-batch policy)."""
    import json

    for p in reversed(query.recentProgress or []):
        if isinstance(p, str):
            p = json.loads(p)
        ops = (p or {}).get("stateOperators") or []
        if ops:
            return {
                "state_rows": sum(
                    int(o.get("numRowsTotal") or 0) for o in ops
                ),
                "state_memory_bytes": sum(
                    int(o.get("memoryUsedBytes") or 0) for o in ops
                ),
            }
    return {"state_rows": 0, "state_memory_bytes": 0}


def ingest_neardup_live(
    spark,
    documents: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    cap: int = 64,
    progress_out: list | None = None,
) -> DataFrame:
    """Rows-only registry twin that EXECUTES the live
    ``applyInPandasWithState`` query (not the batch replay): the
    documents are replayed as the two ingest waves
    ``dedup_incremental`` models (sources 0-9 land first, then the
    rest), each wave a file-source micro-batch, through a real
    started streaming query into a memory sink whose table is the
    returned DataFrame.

    Non-SQL-expressible by nature (stateful streaming execution — the
    driver records the weaker rows-only check); the VALUE semantics
    are already externally oracled through the cap=∞ batch twin
    (:func:`ingest_neardup_screen`) plus the stream==batch row-set
    test. What this entry adds to the gate is the execution path
    itself: state round-trips through the state store, micro-batch
    boundaries, and the production bucket cap (overflow counted in
    the output, never silently absorbed).

    Scale: identical posture to :func:`ingest_neardup_stream` —
    capped per-(band,bucket) state, signatures not text in state; the
    memory sink holds only the emitted match rows (bounded by the
    true near-dup pair count, the same order as the oracled screen's
    output).

    ``progress_out`` (r12, VERDICT r11 item 3): pass a list and the
    run appends one ``{"state_rows": ..., "state_memory_bytes": ...}``
    dict AFTER EACH WAVE, read from the query's last
    StreamingQueryProgress (``numRowsTotal`` / ``memoryUsedBytes`` of
    the state operators — a level, not a flow). This is the direct
    capacity-planning evidence that the bucket cap bounds state growth
    per wave; the default ``None`` changes nothing for the registry
    path.
    """
    import os
    import shutil
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:12]
    tmp = tempfile.mkdtemp(prefix=f"hcw_ingest_live_{tag}_")
    name = f"ingest_neardup_live_{tag}"
    try:
        src = os.path.join(tmp, "src")
        # coalesce: a NULL source (or one with no digit suffix) casts to
        # NULL, which would fail BOTH wave1 and ~wave1 (three-valued
        # logic) and silently drop the row from the replay — such rows
        # ride wave 1 instead, so wave1 ∪ wave2 always partitions the
        # input (ADVICE r11).
        wave1 = (
            F.coalesce(
                F.regexp_extract("source", r"(\d+)$", 1).cast("int"),
                F.lit(0),
            )
            < 10
        )
        docs = documents.select("doc_id", "text", "source")
        docs.where(wave1).write.parquet(os.path.join(src, "b1"))
        stream = spark.readStream.schema(docs.schema).parquet(src + "/*")
        query = (
            ingest_neardup_stream(
                stream, n=n, k=k, bands=bands, threshold=threshold, cap=cap
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            query.processAllAvailable()
            if progress_out is not None:
                progress_out.append(_last_state_totals(query))
            docs.where(~wave1).write.parquet(os.path.join(src, "b2"))
            query.processAllAvailable()
            if progress_out is not None:
                progress_out.append(_last_state_totals(query))
        finally:
            query.stop()
    finally:
        # the memory sink owns the rows once the query stops; the spool
        # dir goes on BOTH the success and failure paths (a failed run
        # must not leak its temp parquet + checkpoint)
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.table(name)
