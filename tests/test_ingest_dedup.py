"""Streaming MinHash-LSH ingest dedup (SURVEY §13): stream==batch pair
sets, bucket-cap honesty, restart recovery, and the pure state machine.

The operator's three planned tests (§13) plus the state-machine unit
layer the JVM-backed GroupState can't host outside a running query.
"""

from __future__ import annotations

import os

import pandas as pd

from hadoop_coded_wordcount_spark.sources.catalog import load_table
from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
    _make_update,
    exact_resend_filter,
    ingest_features,
    ingest_neardup_stream,
)

SF_DIR = "/root/testdata/sf0.001"
_DOC_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


# ---------------------------------------------------------------------------
# state machine (pure python — driven with a fake GroupState)
# ---------------------------------------------------------------------------


class FakeState:
    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self.removed = True
        self._v = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def _pdf(rows):
    return pd.DataFrame(
        [(d, s) for d, s in rows], columns=["doc_id", "signature"]
    )


def _drive(update, rows, state):
    return list(update((0, 7), iter([_pdf(rows)]), state))


def test_update_caps_representatives_and_counts_overflow():
    update = _make_update(k=4, threshold=0.5, cap=2, timeout_ms=None)
    state = FakeState()
    sig = [1, 2, 3, 4]
    out = _drive(update, [(i, sig) for i in range(5)], state)
    doc_ids, flat, overflow = state.get
    assert doc_ids == [0, 1] and overflow == 3
    assert flat == sig + sig
    got = pd.concat(out)
    # every doc after the first still flags (vs rep 0: est 1.0, min-id tie)
    assert list(got.doc_id) == [1, 2, 3, 4]
    assert set(got.matched_doc_id) == {0}
    assert set(got.est_jaccard) == {1.0}
    # overflow column reports the count BEFORE each arrival's append
    assert list(got.bucket_overflow) == [0, 0, 1, 2]


def test_update_best_match_prefers_highest_estimate_then_lowest_id():
    update = _make_update(k=4, threshold=0.5, cap=32, timeout_ms=None)
    state = FakeState(
        ([10, 11, 12], [1, 2, 3, 4, 1, 2, 3, 9, 1, 2, 3, 4], 0)
    )
    (out,) = _drive(update, [(20, [1, 2, 3, 4])], state)
    # reps 10 and 12 tie at est 1.0; rep 11 is 0.75 — lowest id of the max
    assert out.iloc[0].matched_doc_id == 10
    assert out.iloc[0].est_jaccard == 1.0


def test_update_below_threshold_emits_nothing_but_appends():
    update = _make_update(k=4, threshold=0.9, cap=32, timeout_ms=None)
    state = FakeState(([10], [1, 2, 3, 4], 0))
    out = _drive(update, [(20, [1, 2, 9, 9])], state)  # est 0.5 < 0.9
    assert out == []
    doc_ids, _, overflow = state.get
    assert doc_ids == [10, 20] and overflow == 0


def test_update_resend_matches_but_never_reappends():
    update = _make_update(k=4, threshold=0.5, cap=32, timeout_ms=None)
    state = FakeState(([10, 20], [1, 2, 3, 4, 1, 2, 3, 4], 0))
    (out,) = _drive(update, [(20, [1, 2, 3, 4])], state)
    # a doc never matches itself; it matches the OTHER identical rep
    assert out.iloc[0].matched_doc_id == 10
    doc_ids, flat, overflow = state.get
    assert doc_ids == [10, 20] and len(flat) == 8 and overflow == 0


def test_update_timeout_removes_state():
    update = _make_update(k=4, threshold=0.5, cap=32, timeout_ms=1000)
    state = FakeState(([10], [1, 2, 3, 4], 0), timed_out=True)
    assert _drive(update, [], state) == []
    assert state.removed
    # live path arms the processing-time timeout
    state2 = FakeState()
    _drive(update, [(1, [1, 2, 3, 4])], state2)
    assert state2.timeout_ms == 1000


def test_update_orders_same_batch_arrivals_by_doc_id():
    update = _make_update(k=4, threshold=0.5, cap=32, timeout_ms=None)
    state = FakeState()
    sig = [5, 6, 7, 8]
    (out,) = _drive(update, [(30, sig), (10, sig), (20, sig)], state)
    # 10 arrives first (no match), 20 matches 10, 30 matches 10 (min id)
    assert list(out.doc_id) == [20, 30]
    assert list(out.matched_doc_id) == [10, 10]
    doc_ids, _, _ = state.get
    assert doc_ids == [10, 20, 30]


# ---------------------------------------------------------------------------
# streaming end-to-end
# ---------------------------------------------------------------------------


def _write_half(docs, pred, path):
    docs.where(pred).write.parquet(path)


def _run_stream(spark, src, ckpt, name, **kw):
    stream = spark.readStream.schema(_DOC_SCHEMA).parquet(src + "/*")
    return (
        ingest_neardup_stream(stream, **kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )


def test_stream_equals_batch_estimator_pair_set(spark, tmp_path):
    """§13 test (a): replay the sf0.001 documents as two micro-batches
    (existing half then new half, cap=inf, no timeout) and assert the
    emitted cross-pair set equals a BATCH replay of the identical
    estimator — same signatures, same buckets, est-Jaccard >= threshold —
    and covers every dedup_incremental pair (all exact j >= 0.9 here,
    far above the estimator margin)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents")
    existing = F.regexp_extract("source", r"(\d+)$", 1).cast("int") < 10
    src = str(tmp_path / "src")
    _write_half(docs, existing, src + "/b1")

    q = _run_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        "t_ingest_eq",
        threshold=0.5,
        cap=10**9,
    )
    try:
        q.processAllAvailable()
        _write_half(docs, ~existing, src + "/b2")
        q.processAllAvailable()
    finally:
        q.stop()

    ex_ids = {r.doc_id for r in docs.where(existing).select("doc_id").collect()}
    emitted = spark.sql("SELECT * FROM t_ingest_eq").collect()
    got = {
        (r.doc_id, r.matched_doc_id)
        for r in emitted
        if r.doc_id not in ex_ids and r.matched_doc_id in ex_ids
    }

    # batch twin of the same estimator over the SAME feature expressions
    # on the static frame, replaying the stream's per-bucket state walk:
    # reps = everything that arrived earlier (all of batch 1, plus
    # same-batch docs with a lower doc_id), emit = BEST rep at est >=
    # threshold (max estimate, ties to the lowest id)
    feats = ingest_features(docs).collect()
    sigs = {}
    buckets = {}
    for r in feats:
        sigs[r.doc_id] = list(r.signature)
        buckets.setdefault((r.band, r.bucket), set()).add(r.doc_id)
    want = set()
    for members in buckets.values():
        order = sorted(m for m in members if m in ex_ids) + sorted(
            m for m in members if m not in ex_ids
        )
        for pos, nd in enumerate(order):
            if nd in ex_ids:
                continue
            over = [
                (
                    sum(a == b for a, b in zip(sigs[nd], sigs[od])) / 32,
                    od,
                )
                for od in order[:pos]
            ]
            over = [(e, od) for e, od in over if e >= 0.5]
            if over:
                _, best = max(over, key=lambda t: (t[0], -t[1]))
                if best in ex_ids:
                    want.add((nd, best))
    assert got == want and want

    # every nightly-batch pair is covered: its new doc was flagged as a
    # near-dup of SOMETHING at ingest time (the matched id may be a
    # same-batch near-dup when that estimate ties or wins)
    from hadoop_coded_wordcount_spark.operators.dedup import (
        dedup_incremental,
    )

    flagged_new = {r.doc_id for r in emitted if r.doc_id not in ex_ids}
    for r in dedup_incremental(docs).collect():
        assert r.new_doc_id in flagged_new


def test_bucket_cap_honesty_across_batches(spark, tmp_path):
    """§13 test (b): >cap near-identical docs in one bucket — overflow is
    counted, and every arrival after the first still flags against the
    retained representatives."""
    text = "the quick brown fox jumps over the lazy dog"
    rows = [(i, text, "en", "src0", len(text)) for i in range(13)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows[:6], _DOC_SCHEMA).write.parquet(src + "/b1")

    q = _run_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        "t_ingest_cap",
        k=8,
        bands=4,
        threshold=0.5,
        cap=4,
    )
    try:
        q.processAllAvailable()
        # Publish the second batch with one rename: the stream lists
        # src/* on every trigger, and a directory whose part files land
        # one by one can split into two micro-batches, so that doc 12 is
        # processed before doc 11 and reads one overflow fewer.
        staged = str(tmp_path / "staged")
        spark.createDataFrame(rows[6:], _DOC_SCHEMA).write.parquet(staged)
        os.rename(staged, src + "/b2")
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.sql("SELECT * FROM t_ingest_cap").collect()
    by_band = {}
    for r in out:
        by_band.setdefault(r.band, []).append(r)
    assert set(by_band) == {0, 1, 2, 3}  # identical docs share all bands
    for band_rows in by_band.values():
        # docs 1..12 all flag, every one against doc 0 (est 1.0, min id)
        assert sorted(r.doc_id for r in band_rows) == list(range(1, 13))
        assert {r.matched_doc_id for r in band_rows} == {0}
        assert {r.est_jaccard for r in band_rows} == {1.0}
        # 13 arrivals, cap 4 -> 9 dropped appends, visible in the last row
        last = max(band_rows, key=lambda r: r.doc_id)
        assert last.bucket_size == 4 and last.bucket_overflow == 8
    # state is capped: overflow counts appends dropped BEFORE this
    # arrival, so the 13th doc sees 8 and the count ends at 9


def test_restart_rebuilds_state_from_checkpoint(spark, tmp_path):
    """§13 test (c): stop between batches, start a NEW query on the same
    checkpoint — a batch-2 arrival must still match the batch-1 doc, so
    bucket state survived the restart."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "alpha beta gamma delta epsilon zeta eta iota"  # near-dup of t1
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, t1, "en", "src0", len(t1))], _DOC_SCHEMA
    ).write.parquet(src + "/b1")

    # memory sink cannot recover from a checkpoint; foreachBatch can, and
    # runs on the driver, so a plain list collects the emissions
    emissions: list = []

    def _start():
        stream = spark.readStream.schema(_DOC_SCHEMA).parquet(src + "/*")
        return (
            ingest_neardup_stream(stream, k=8, bands=4, threshold=0.4)
            .writeStream.foreachBatch(
                lambda df, bid: emissions.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q1 = _start()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert emissions == []

    spark.createDataFrame(
        [(2, t2, "en", "src0", len(t2))], _DOC_SCHEMA
    ).write.parquet(src + "/b2")
    q2 = _start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert emissions, "state lost across restart: batch-2 doc matched nothing"
    assert {r.doc_id for r in emissions} == {2}
    assert {r.matched_doc_id for r in emissions} == {1}


def test_exact_resend_filter_drops_identical_text(spark, tmp_path):
    schema = "doc_id bigint, text string, ts timestamp"
    rows = [
        (1, "same text here", "2024-01-01 09:00:00"),
        (2, "same text here", "2024-01-01 09:01:00"),  # exact re-send
        (3, "different text here", "2024-01-01 09:02:00"),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, ts string"
    ).selectExpr(
        "doc_id", "text", "cast(ts as timestamp) ts"
    ).write.parquet(src + "/b1")
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = (
        exact_resend_filter(stream)
        .writeStream.format("memory")
        .queryName("t_resend")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM t_resend").collect()
    assert sorted(r.doc_id for r in out) in ([1, 3], [2, 3])
    assert [f.name for f in spark.table("t_resend").schema.fields] == [
        "doc_id",
        "text",
        "ts",
    ]


def test_ingest_signature_bit_identical_to_oracled_minhash_wide(spark):
    """The stream's per-row signature must equal the ORACLED batch
    signature table (minhash_wide) value for value — the bit-identity
    that makes the r11 registry twin DuckDB-checkable."""
    from hadoop_coded_wordcount_spark.operators.dedup import minhash_wide

    docs = load_table(spark, SF_DIR, "documents")
    wide = {
        r.doc_id: [r[f"m{i}"] for i in range(32)]
        for r in minhash_wide(docs).collect()
    }
    sig = {
        r.doc_id: list(r.signature)
        for r in ingest_features(docs)
        .select("doc_id", "signature")
        .distinct()
        .collect()
    }
    assert sig == wide and len(sig) >= 400


def test_stream_equals_batch_screen_operator(spark, tmp_path):
    """Row-set equality between the LIVE applyInPandasWithState query
    (cap=inf, no timeout, existing half then new half) and the batch
    ingest_neardup_screen — the operator pair the r11 registry entry
    ships: batch twin oracled by DuckDB, stream pinned to the twin
    here."""
    from pyspark.sql import functions as F

    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        ingest_neardup_screen,
    )

    docs = load_table(spark, SF_DIR, "documents")
    existing = F.regexp_extract("source", r"(\d+)$", 1).cast("int") < 10
    src = str(tmp_path / "src")
    _write_half(docs, existing, src + "/b1")
    q = _run_stream(
        spark,
        src,
        str(tmp_path / "ckpt"),
        "t_ingest_screen",
        threshold=0.5,
        cap=10**9,
    )
    try:
        q.processAllAvailable()
        _write_half(docs, ~existing, src + "/b2")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.doc_id, r.matched_doc_id, r.est_jaccard, r.band, r.bucket)
        for r in spark.sql("SELECT * FROM t_ingest_screen").collect()
    }
    want = {
        tuple(r)
        for r in ingest_neardup_screen(docs, threshold=0.5).collect()
    }
    assert got == want and want


def test_ingest_screen_matches_duckdb_oracle(spark):
    """The r11 registry pair, driven now: ingest_neardup_screen vs its
    DuckDB oracle SQL, value-exact at sf0.001 and sf0.01."""
    import duckdb

    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        ingest_neardup_screen,
        ingest_neardup_screen_oracle_sql,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, sf_dir, "documents")
        got = sorted(
            map(tuple, ingest_neardup_screen(docs).collect())
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        want = sorted(
            map(tuple, con.execute(
                ingest_neardup_screen_oracle_sql()
            ).fetchall())
        )
        assert got == want and got, sf_dir


# ---------------------------------------------------------------------------
# property layer (hypothesis, pure python)
# ---------------------------------------------------------------------------


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    _K = 4
    _sig = st.lists(
        st.integers(min_value=0, max_value=3), min_size=_K, max_size=_K
    )
    _arrivals = st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), _sig),
        min_size=0,
        max_size=40,
    )

    @given(
        arrivals=_arrivals,
        cap=st.integers(min_value=1, max_value=8),
        threshold=st.sampled_from([0.25, 0.5, 0.75, 1.0]),
    )
    @settings(max_examples=200, deadline=None)
    def test_update_invariants_total(arrivals, cap, threshold):
        """Over arbitrary arrival sequences the state machine never
        raises and keeps its contract: unique capped representatives,
        flat signature store in lockstep, non-negative overflow, and
        every emission references a representative that arrived
        STRICTLY earlier with an estimate in [threshold, 1]."""
        update = _make_update(
            k=_K, threshold=threshold, cap=cap, timeout_ms=None
        )
        state = FakeState()
        out = _drive(update, arrivals, state)
        doc_ids, flat, overflow = state.get
        assert len(doc_ids) == len(set(doc_ids)) <= cap
        assert len(flat) == len(doc_ids) * _K
        assert overflow >= 0
        rows = (
            pd.concat(out).to_dict("records") if out else []
        )
        order = sorted({d for d, _ in arrivals})
        for r in rows:
            assert r["matched_doc_id"] != r["doc_id"]
            # doc_id-sorted processing means a match always references a
            # strictly-earlier id, re-sends included
            assert order.index(r["matched_doc_id"]) < order.index(
                r["doc_id"]
            )
            assert threshold <= r["est_jaccard"] <= 1.0

    @given(
        arrivals=_arrivals,
        cap=st.integers(min_value=1, max_value=8),
        split=st.integers(min_value=0, max_value=40),
    )
    @settings(max_examples=200, deadline=None)
    def test_update_batch_split_is_state_transparent(arrivals, cap, split):
        """For a doc_id-ascending arrival sequence, processing it as ONE
        batch or as any consecutive two-batch split yields identical
        emissions and identical final state — the determinism that makes
        the live stream's micro-batch boundaries irrelevant to output."""
        arrivals = sorted(arrivals, key=lambda a: a[0])
        split = min(split, len(arrivals))
        update = _make_update(
            k=_K, threshold=0.5, cap=cap, timeout_ms=None
        )

        one = FakeState()
        out_one = _drive(update, arrivals, one)

        two = FakeState()
        out_two = _drive(update, arrivals[:split], two)
        out_two += _drive(update, arrivals[split:], two)

        def flat_rows(outs):
            return (
                pd.concat(outs).to_dict("records") if outs else []
            )

        assert flat_rows(out_one) == flat_rows(out_two)
        assert one.get == two.get


def test_ingest_screen_oracle_survives_adversarial_text(spark, tmp_path):
    """Cross-engine tokenizer hardening: unicode, emoji, CJK, regex
    metacharacters, control whitespace. The battery includes the
    Java-vs-RE2 \\s divergence (vertical tab \\x0b — Java splits on it,
    RE2 alone does not; the oracle compensates with [\\s\\x0b]+), plus
    sub-n-token and empty docs dropped identically on both sides."""
    import duckdb

    import pandas as pd

    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        ingest_neardup_screen,
        ingest_neardup_screen_oracle_sql,
    )

    rows = [
        (1, "plain three token doc", "src1"),
        (2, "  leading and trailing spaces doc  ", "src2"),
        (3, "tab\tsep\nnewline\rcr tokens here", "src3"),
        (4, "one two", "src4"),  # < 3 tokens: dropped both sides
        (5, "", "src5"),
        (6, "emoji \U0001F600 test token \U0001F600 again", "src6"),
        (7, "cjk 中文 分词 测试 词元", "src7"),
        (8, "punct, a. b! c? d; e:", "src8"),
        (9, "a b c a b c a b c", "src9"),  # repeated grams: distinct'd
        # the \x0b suspect, duplicated across the wave split so its
        # tokenization actually reaches the emitted pairs
        (10, "x\x0by vertical tab doc here", "src2"),
        (30, "x\x0by vertical tab doc here", "src15"),
        (12, "quote ' double \" backslash \\ pipe | token", "src4"),
        (20, "the same shared near dup text body", "src2"),
        (21, "the same shared near dup text body", "src15"),
        (22, "the same shared near dup text tail", "src16"),
        (31, None, "src1"),  # NULL text: dropped identically
        (32, "null source still tokenizes fine", None),  # wave falls to 1
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    p = str(tmp_path / "documents.parquet")
    pdf.to_parquet(p)
    got = sorted(
        map(tuple, ingest_neardup_screen(spark.createDataFrame(pdf)).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')"
    )
    want = sorted(
        map(tuple, con.execute(ingest_neardup_screen_oracle_sql()).fetchall())
    )
    assert got == want
    # the \x0b twins must flag against each other (est 1.0) — i.e. the
    # oracle tokenized the vertical tab exactly like Spark did
    assert any(d == 30 and m == 10 and e == 1.0 for d, m, e, _, _ in got)


def test_exact_resend_filter_never_collapses_null_text(spark, tmp_path):
    """ADVICE r10: sha2(NULL) is NULL and dropDuplicatesWithinWatermark
    groups NULL keys as equal — without the doc_id fallback key, two
    DISTINCT documents with NULL text inside the watermark silently
    collapse to one (data loss in a lossy filter). Pin: distinct
    NULL-text docs both survive; an exact NULL-text re-send of the SAME
    doc_id still dedups."""
    schema = "doc_id bigint, text string, ts timestamp"
    rows = [
        (1, None, "2024-01-01 09:00:00"),
        (2, None, "2024-01-01 09:01:00"),  # distinct doc, NULL text
        (1, None, "2024-01-01 09:02:00"),  # same-doc NULL re-send
        (3, "real text", "2024-01-01 09:03:00"),
        (4, "real text", "2024-01-01 09:04:00"),  # exact re-send
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, ts string"
    ).selectExpr(
        "doc_id", "text", "cast(ts as timestamp) ts"
    ).write.parquet(src + "/b1")
    stream = spark.readStream.schema(schema).parquet(src + "/*")
    q = (
        exact_resend_filter(stream)
        .writeStream.format("memory")
        .queryName("t_resend_null")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM t_resend_null").collect()
    null_docs = sorted(r.doc_id for r in out if r.text is None)
    text_docs = sorted(r.doc_id for r in out if r.text is not None)
    assert null_docs == [1, 2]  # both distinct NULL-text docs survive
    assert text_docs in ([3], [4])  # exact text re-send still dedups


def test_screen_oracle_generalizes_shingle_width(spark, tmp_path):
    """ADVICE r10: the first oracle cut hardcoded trigrams while the
    operator exposes n — a non-default call silently diverged. Pin
    operator == oracle at n=2 AND n=4 on the adversarial battery."""
    import duckdb
    import pandas as pd

    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        ingest_neardup_screen,
        ingest_neardup_screen_oracle_sql,
    )

    rows = [
        (1, "a b c d e f g", "src0"),
        (2, "a b c d e f h", "src1"),
        (3, "a b c d e f g", "src12"),  # second-wave exact copy of 1
        (4, "one two", "src13"),  # 2 tokens: alive at n=2, dropped n>=3
        (5, "unrelated words entirely here", "src14"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    p = str(tmp_path / "documents.parquet")
    pdf.to_parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    for n in (2, 4):
        got = sorted(
            map(
                tuple,
                ingest_neardup_screen(
                    spark.createDataFrame(pdf), n=n
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                con.execute(ingest_neardup_screen_oracle_sql(n=n)).fetchall(),
            )
        )
        assert got == want, n
        assert got, n  # the exact copy pair must flag at every width


def test_live_registry_twin_matches_screen_at_sf0001(spark):
    """The r11 rows-only registry entry: the LIVE applyInPandasWithState
    execution over the two-wave replay must emit exactly the oracled
    batch screen's match set (projected to the shared columns; sf0.001
    buckets sit far under the production cap, so cap semantics don't
    bite here — the >cap case is pinned separately)."""
    from hadoop_coded_wordcount_spark.registry import QUERIES
    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        ingest_neardup_screen,
    )

    live = QUERIES["ingest_neardup_live"](spark, SF_DIR)
    got = {
        (r.doc_id, r.matched_doc_id, r.est_jaccard, r.band, r.bucket)
        for r in live.collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    want = {tuple(r) for r in ingest_neardup_screen(docs).collect()}
    assert got == want and want


def test_live_progress_probe_reports_per_wave_state(spark):
    """The r12 capacity-planning hook: progress_out collects exactly
    one state-level dict per wave, with non-zero monotone state rows
    (wave 2 only ever ADDS representatives within the horizon) and
    real memory bytes — the numbers the scale-decade artifact records
    to show the bucket cap bounds state growth."""
    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        ingest_neardup_live,
    )

    docs = load_table(spark, SF_DIR, "documents")
    prog: list = []
    ingest_neardup_live(spark, docs, progress_out=prog).collect()
    assert len(prog) == 2
    w1, w2 = prog
    assert set(w1) == {"state_rows", "state_memory_bytes"}
    assert 0 < w1["state_rows"] <= w2["state_rows"]
    assert w1["state_memory_bytes"] > 0 and w2["state_memory_bytes"] > 0
