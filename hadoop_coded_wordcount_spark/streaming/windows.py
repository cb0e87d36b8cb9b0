"""Event-time windowing — batch and Structured Streaming (SURVEY.md step 5).

The reference is batch MapReduce with no streaming story; this is the
engine's event-time surface. The same windowed aggregations run in two
modes:

* **batch** (the oracled registry entries): ``F.window`` / ``F.session_window``
  over the events table — DuckDB-checkable via ``time_bucket`` and
  lag/cumsum session reconstruction;
* **streaming**: identical expressions over a ``readStream`` source with
  ``withWatermark`` bounding state and dropping late data. Streaming
  correctness (batch-equivalence, late-drop) is pinned by
  ``tests/test_streaming.py`` with deterministic file-source fixtures
  (FIXTURES.md §3.3).

Scale notes: windowed aggregation shuffles once on (window, key) with
partial aggregation before the exchange, like any groupBy. For streaming,
the watermark is the state-size knob — state holds only windows newer than
watermark − lateness; session windows additionally merge on update, which
is why the gap (not the data) bounds their state.

Window starts are emitted as formatted strings (not raw timestamps) so the
cross-engine value hash is representation-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window as W, functions as F

__all__ = [
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "watermarked_tumbling",
    "watermarked_session",
    "tumbling_distinct_users",
    "watermarked_distinct_users",
    "click_view_attribution",
    "debounced_events",
    "minute_deduped_events",
]

_FMT = "yyyy-MM-dd HH:mm:ss"


def _win_str(field: str) -> F.Column:
    return F.date_format(F.col(field), _FMT)


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Non-overlapping event-time buckets: count + integer value stats per
    (window, event_type)."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("cnt"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .select(
            _win_str("w.start").alias("window_start"),
            _win_str("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "min_event_id",
            "max_event_id",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Overlapping windows: each event lands in width/slide windows. Spark
    replicates rows into their windows before aggregating — the oracle
    reproduces this with an explicit offset unnest."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            _win_str("w.start").alias("window_start"),
            _win_str("w.end").alias("window_end"),
            "cnt",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session windows: a session extends while consecutive events
    arrive within ``gap``; window end = last event + gap. A new session
    starts when the inter-event gap is >= the timeout (the oracle's
    lag/cumsum reconstruction uses the same strict boundary)."""
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            _win_str("w.start").alias("session_start"),
            _win_str("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Streaming variants — same aggregations + watermark. Callers own the
# readStream source and the writeStream sink; these shape the middle.
# ---------------------------------------------------------------------------


def _as_event_time(stream: DataFrame) -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ) event time; the catalog serves
    NTZ. The session tz is pinned to UTC (sources/catalog.py), so the cast
    is value-preserving."""
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def watermarked_tumbling(
    stream: DataFrame, width: str = "10 minutes", lateness: str = "10 minutes"
) -> DataFrame:
    """Tumbling counts over a stream. The watermark declares how late data
    may arrive: a window finalizes (append mode emits it, state drops it)
    once the watermark passes its end, and later rows for it are dropped —
    the late-data-drop test pins exactly that behavior."""
    return (
        _as_event_time(stream)
        .withWatermark("ts", lateness)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"))
        .select(
            _win_str("w.start").alias("window_start"),
            _win_str("w.end").alias("window_end"),
            "event_type",
            "cnt",
        )
    )


def watermarked_session(
    stream: DataFrame, gap: str = "30 minutes", lateness: str = "10 minutes"
) -> DataFrame:
    """Per-user session windows over a stream; sessions merge as events
    arrive and finalize when the watermark passes session end + gap."""
    return (
        _as_event_time(stream)
        .withWatermark("ts", lateness)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            _win_str("w.start").alias("session_start"),
            _win_str("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def tumbling_distinct_users(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Exact distinct users per event-time bucket — batch form.

    ``count_distinct`` shuffles (window, user) pairs with map-side partial
    dedup; output is |windows| rows.
    """
    return (
        events.groupBy(F.window("ts", width).alias("w"))
        .agg(F.count_distinct("user_id").alias("distinct_users"))
        .select(_win_str("w.start").alias("window_start"), "distinct_users")
    )


def watermarked_distinct_users(
    stream: DataFrame, width: str = "1 hour", lateness: str = "30 minutes"
) -> DataFrame:
    """Streaming twin of :func:`tumbling_distinct_users`.

    Streaming aggregation doesn't support ``count_distinct`` (the state
    would be unbounded per group), so the streaming shape is
    **dedupe-then-count**: ``dropDuplicates`` on (user, bucket) keyed by
    the SAME watermark that later finalizes the windows — dedup state
    expires with the watermark exactly like window state — then an
    ordinary windowed count of the surviving one-row-per-user-per-bucket
    stream. Same answer as the batch form, bounded state at any rate.
    """
    deduped = (
        _as_event_time(stream)
        .withWatermark("ts", lateness)
        .withColumn("bucket", F.date_trunc("hour", F.col("ts")))
        .dropDuplicates(["user_id", "bucket"])
    )
    return (
        deduped.groupBy(F.window("ts", width).alias("w"))
        .agg(F.count("*").alias("distinct_users"))
        .select(_win_str("w.start").alias("window_start"), "distinct_users")
    )


def debounced_events(events: DataFrame, lateness: str = "30 minutes") -> DataFrame:
    """Keyed event dedup ("debounce"): one row per (user, event_type,
    minute) — the at-least-once-delivery cleanup every event pipeline
    runs before aggregation.

    Streaming form uses ``dropDuplicatesWithinWatermark``: unlike plain
    ``dropDuplicates``, whose key state grows FOREVER on a stream, its
    state expires once the watermark passes a key's event time — bounded
    state at any rate, the only shape that survives an unbounded stream.
    Batch form is the plain DISTINCT of the same key projection, so the
    two agree row-for-row on finite input (pinned in tests; the key
    projection carries no non-key columns, which keeps first-arrival
    nondeterminism out of the output).
    """
    keys = ["user_id", "event_type", "minute"]
    if events.isStreaming:
        return (
            _as_event_time(events)
            .withWatermark("ts", lateness)
            .withColumn("minute", F.date_trunc("minute", F.col("ts")))
            .dropDuplicatesWithinWatermark(keys)
            .select("user_id", "event_type", _win_str("minute").alias("minute"))
        )
    return (
        events.withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .select("user_id", "event_type", _win_str("minute").alias("minute"))
        .distinct()
    )


def click_view_attribution(
    events: DataFrame, window: str = "10 minutes", lateness: str = "30 minutes"
) -> DataFrame:
    """Stream-stream interval join: every click pairs with the same
    user's views from the preceding ``window`` — the attribution
    primitive (which impressions preceded this action?).

    Streaming shape: BOTH sides carry a watermark and the join condition
    bounds event time in BOTH directions (``v.ts ∈ [c.ts − window,
    c.ts]``) — that two-sided constraint is what lets Spark expire
    buffered rows once the watermark passes, keeping join state bounded
    at any stream rate; an unconstrained side would buffer forever.
    Append-mode emits a pair once both inputs have arrived and the
    watermark proves no earlier match can still appear.

    Batch twin is the identical join expression (the registry entry;
    row-for-row equality with the streaming run on finite input is
    pinned in tests). The gap is exact integer microseconds — no float.
    """
    src = _as_event_time(events)
    views = src.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    clicks = src.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    if events.isStreaming:
        views = views.withWatermark("v_ts", lateness)
        clicks = clicks.withWatermark("c_ts", lateness)
    cond = (
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {window}"))
    )
    return clicks.join(views, cond).select(
        "user_id",
        "click_id",
        "view_id",
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )


def minute_deduped_events(
    events: DataFrame, lateness: str = "30 minutes"
) -> DataFrame:
    """Streaming deduplication with bounded state: collapse each user's
    repeated actions of one type within a calendar minute to a single
    key row via ``dropDuplicatesWithinWatermark`` — the at-least-once →
    effectively-once repair every event ingest needs.

    Streaming shape: unlike plain ``dropDuplicates`` (whose key state
    grows forever), the within-watermark variant expires a key's state
    once the watermark passes its event time + lateness, so state is
    bounded by the de-dup horizon, not stream history. Only the key
    columns are projected — *which* physical duplicate survives is
    arrival-order-dependent, the key set is not.

    Batch twin (the oracled registry entry): SELECT DISTINCT over the
    same key projection — on finite input the surviving key set is
    identical (pinned in tests/test_streaming.py).
    """
    src = _as_event_time(events)
    keyed = src.select(
        "user_id",
        "event_type",
        F.date_format(F.date_trunc("minute", "ts"), _FMT).alias("minute"),
        "ts",
    )
    if events.isStreaming:
        return (
            keyed.withWatermark("ts", lateness)
            .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
            .select("user_id", "event_type", "minute")
        )
    return keyed.select("user_id", "event_type", "minute").distinct()


def windowed_topk(
    events: DataFrame, width: str = "1 hour", k: int = 3
) -> DataFrame:
    """Top-``k`` event types per tumbling window by count (ties broken
    on event_type) — the batch twin of :func:`windowed_topk_stream`,
    and the leaderboard shape every metrics page renders per bucket.

    Scale: one windowed partial-agg shuffle, then a rank window over
    (window × |types|) rows — calendar × type bounded.
    """
    counts = events.groupBy(
        F.window("ts", width).alias("w"), F.col("event_type")
    ).agg(F.count("*").alias("cnt"))
    wr = W.partitionBy("w").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= k)
        .select(
            _win_str("w.start").alias("window_start"),
            "event_type",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _fs(spark, p):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(p)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _subdirs(spark, root):
    fs, jvm = _fs(spark, root)
    jroot = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(jroot):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(jroot)
        if st.isDirectory()
    )


_TOPK_STATE_SCHEMA = (
    "window_start string, event_type string, cnt bigint, batch_id bigint"
)


def _committed_subdirs(spark, root):
    """Subdirs whose write COMMITTED — i.e. carry the _SUCCESS marker the
    FileOutputCommitter drops at job commit. A crash mid-``snap.write``
    leaves a torn dir (no marker, possibly a _temporary/ remnant) whose
    partial part-files could undercount a key at that batch_id; the
    marker is the commit point, so filtering on it makes torn dirs
    invisible to the collapse while complete leftovers still contribute
    (harmlessly — see _topk_state_snapshot).

    If the session's Hadoop conf DISABLES the marker
    (``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``), no dir
    will ever carry one and filtering on it would silently make ALL
    accumulated state invisible (ADVICE r10) — the failure the marker
    filter exists to prevent, inverted. In that configuration every
    subdir is returned with a logged warning instead: torn-dir
    protection is lost (there is nothing to tell a torn dir by), but
    committed state keeps counting."""
    fs, jvm = _fs(spark, root)
    dirs = _subdirs(spark, root)
    marks = spark._jsc.hadoopConfiguration().get(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "true"
    )
    if str(marks).lower() == "false":
        if dirs:
            import warnings

            warnings.warn(
                "topk state: _SUCCESS markers are disabled "
                "(mapreduce.fileoutputcommitter.marksuccessfuljobs="
                "false) — reading all %d state dirs under %s without "
                "torn-write protection" % (len(dirs), root),
                RuntimeWarning,
                stacklevel=2,
            )
        return dirs
    return [
        d
        for d in dirs
        if fs.exists(jvm.org.apache.hadoop.fs.Path(d + "/_SUCCESS"))
    ]


def _topk_state_snapshot(spark, state_path: str) -> DataFrame:
    """Collapse the durable top-k state layout — every compact
    generation plus every live delta dir — to the latest cnt per
    (window_start, event_type), carrying each key's max batch_id so
    later deltas keep winning after a compaction rewrite.

    GC-failure-proof by construction: a leftover older generation or an
    already-consumed delta only contributes rows at-or-below the key's
    max batch_id carrying the SAME cnt that batch produced, so reading
    extra dirs never changes the collapse (pinned against planted
    crash-leftover layouts in tests/test_streaming.py). That guarantee
    holds for COMMITTED dirs only, so torn mid-write dirs (crash during
    a write, before the _SUCCESS commit marker) are excluded — their
    partial part-files could undercount a key (ADVICE r9).

    Before the first committed delta (fresh checkpoint, or an external
    caller at restart time) the state is legitimately EMPTY: returns an
    empty frame with the state schema rather than raising (ADVICE r9).
    """
    dirs = _committed_subdirs(
        spark, os.path.join(state_path, "compact")
    ) + _committed_subdirs(spark, os.path.join(state_path, "delta"))
    if not dirs:
        return spark.createDataFrame([], _TOPK_STATE_SCHEMA)
    return (
        spark.read.parquet(*dirs)
        .groupBy("window_start", "event_type")
        .agg(
            F.expr("max_by(cnt, batch_id)").alias("cnt"),
            F.max("batch_id").alias("batch_id"),
        )
    )


def windowed_topk_stream(
    stream: DataFrame,
    sink_table: str,
    checkpoint: str,
    width: str = "1 hour",
    lateness: str = "10 minutes",
    k: int = 3,
    compact_every: int = 8,
):
    """Streaming top-k per tumbling window: ranking windows aren't
    allowed inside a streaming aggregation, so this runs the supported
    decomposition — a watermarked windowed COUNT in update mode, with
    the rank applied per micro-batch in ``foreachBatch`` over the
    accumulated state. Returns the started query.

    The accumulated (window, event_type, cnt) state lives in a DURABLE
    parquet sink under the checkpoint directory, NOT a driver-side dict:
    each micro-batch OVERWRITES its own ``delta/bid=<batch_id>``
    subdirectory (so a replayed batch rewrites rather than duplicates),
    and the snapshot takes the latest cnt per key
    (``max_by(cnt, batch_id)``). A RESTART from the checkpointLocation
    rebuilds the full view including windows finalized before the
    restart — a dict-backed version silently lost those.

    State is COMPACTED every ``compact_every`` batches: the
    latest-per-key snapshot (carrying each key's max batch_id, so later
    deltas still win the ``max_by``) is rewritten into a fresh
    ``compact/gen=<batch_id>`` generation, and consumed delta dirs plus
    older generations are garbage-collected. Per-batch read work is
    thus one bounded snapshot + at most ``compact_every`` delta dirs —
    NOT the full append history, which grew O(batches^2) cumulative
    read and unbounded small files on a long-running stream. Windows
    the watermark finalized stop producing deltas entirely, so after
    their last compaction they cost one snapshot row, nothing more.
    GC is correctness-free: if a crash leaves an old generation or a
    consumed delta behind, the max_by collapse over (all generations +
    all deltas) still yields the same snapshot.
    """
    counts = (
        _as_event_time(stream)
        .withWatermark("ts", lateness)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"))
    )
    state_path = os.path.join(checkpoint, "topk_state")
    delta_root = os.path.join(state_path, "delta")
    compact_root = os.path.join(state_path, "compact")

    def emit(batch_df, batch_id):
        spark = batch_df.sparkSession
        (
            batch_df.select(
                _win_str("w.start").alias("window_start"),
                "event_type",
                F.col("cnt").cast("bigint").alias("cnt"),
                F.lit(batch_id).cast("bigint").alias("batch_id"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(delta_root, "bid=%d" % batch_id))
        )
        snap = _topk_state_snapshot(spark, state_path)
        if batch_id % compact_every == compact_every - 1:
            gen = os.path.join(compact_root, "gen=%d" % batch_id)
            snap.write.mode("overwrite").parquet(gen)
            fs, jvm = _fs(spark, state_path)
            gen_base = os.path.basename(gen)
            for d in _subdirs(spark, compact_root):
                if os.path.basename(d.rstrip("/")) != gen_base:
                    fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)
            for d in _subdirs(spark, delta_root):
                base = os.path.basename(d.rstrip("/"))
                try:
                    bid = int(base.split("=", 1)[1])
                except (IndexError, ValueError):
                    continue
                if bid <= batch_id:
                    fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)
            snap = spark.read.parquet(gen)
        wr = W.partitionBy("window_start").orderBy(
            F.desc("cnt"), F.asc("event_type")
        )
        (
            snap.withColumn("rnk", F.row_number().over(wr))
            .where(F.col("rnk") <= k)
            .select("window_start", "event_type", "cnt", "rnk")
            .createOrReplaceGlobalTempView(sink_table)
        )

    return (
        counts.writeStream.outputMode("update")
        .foreachBatch(emit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
