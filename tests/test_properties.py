"""Randomized cross-checks. The reference's only property-style test is a
probabilistically-unsound hash-uniqueness check (SURVEY.md §5); these test
actual invariants: Spark aggregation vs an independent Python model, and
dedup metric properties, over seeded random inputs.

Hypothesis drives the input generation; examples are capped low because
every example is a Spark job (seconds, not micros).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from hadoop_coded_wordcount_spark.operators import dedup as dd
from hadoop_coded_wordcount_spark.operators import wordcount as wc

_WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "x1", "Y_2", "ω"]),
    min_size=0,
    max_size=30,
)
_DOCS = st.lists(_WORDS, min_size=1, max_size=12)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(docs=_DOCS)
@_SETTINGS
def test_wordcount_matches_python_counter(spark, docs):
    texts = [" ".join(ws) for ws in docs]
    expected = Counter(w for ws in docs for w in ws)
    sdf = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {r.word: r.cnt for r in wc.wordcount(sdf).collect()}
    assert got == dict(expected)


@given(docs=_DOCS)
@_SETTINGS
def test_jaccard_pairs_are_bounded_and_ordered(spark, docs):
    rows = [
        (i, " ".join(ws), "en", "s", len(" ".join(ws)))
        for i, ws in enumerate(docs)
    ]
    sdf = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    pairs = dd.ngram_jaccard_pairs(sdf, threshold=0.0, block_on=None).collect()
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert 0.0 <= r.jaccard <= 1.0
    # identical docs must appear with jaccard 1 when both have >=3 tokens
    texts = {}
    for i, ws in enumerate(docs):
        if len(ws) >= 3:
            texts.setdefault(" ".join(ws), []).append(i)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    for ids in texts.values():
        for a in ids:
            for b in ids:
                if a < b:
                    assert got[(a, b)] == 1.0


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """Single-job statistical property: |minhash agreement − jaccard| is
    small on average over many random near-dup pairs (seeded)."""
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(40)]
        edited = list(base)
        for _ in range(rng.randint(0, 10)):
            edited[rng.randrange(len(edited))] = rng.choice(vocab)
        rows.append((2 * i, " ".join(base), "en", "s", 0))
        rows.append((2 * i + 1, " ".join(edited), "en", "s", 0))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])

    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.0, block_on=None).collect()
    }
    sigs: dict = {}
    for r in dd.minhash_signatures(docs, k=32).collect():
        sigs.setdefault(r.doc_id, [None] * 32)[r.perm] = r.minhash
    errs = []
    for i in range(30):
        a, b = 2 * i, 2 * i + 1
        if (a, b) not in exact:
            continue
        agree = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 32
        errs.append(abs(agree - exact[(a, b)]))
    assert errs and sum(errs) / len(errs) < 0.15


def test_weighted_sample_deterministic_and_biased(spark):
    """Sequential-Poisson weighted sampling: partition-layout-invariant,
    exactly k rows, and weight-biased (sampled orders are pricier than the
    population on average); the top-k compiles to TakeOrderedAndProject."""
    from hadoop_coded_wordcount_spark.operators.pipeline import weighted_sample
    from hadoop_coded_wordcount_spark.sources.catalog import load_table
    import pyspark.sql.functions as F

    orders = load_table(spark, "/root/testdata/sf0.01", "orders")
    a = weighted_sample(orders, "o_orderkey", "o_totalprice", k=100)
    b = weighted_sample(
        orders.repartition(17), "o_orderkey", "o_totalprice", k=100
    )
    rows_a = sorted(r["o_orderkey"] for r in a.collect())
    rows_b = sorted(r["o_orderkey"] for r in b.collect())
    assert rows_a == rows_b and len(rows_a) == 100

    pop_mean = orders.agg(F.avg("o_totalprice")).collect()[0][0]
    samp_mean = a.agg(F.avg("weight")).collect()[0][0]
    assert samp_mean > pop_mean * 1.2

    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pack_sequences_invariants(spark):
    """Per shard, documents tile the token stream contiguously: each doc's
    seq_start/seq_offset equals the running total before it, seq_end covers
    its last token, and the packing is partition-layout-independent."""
    from hadoop_coded_wordcount_spark.operators import pipeline as pl
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = pl.pack_sequences(docs, capacity=256, shards=8).collect()
    assert rows
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.seq_start == cum // 256
            assert r.seq_offset == cum % 256
            cum += r.n_tokens
            assert r.seq_end == (cum - 1) // 256
    # layout-independence: same answer from a repartitioned source
    again = pl.pack_sequences(
        docs.repartition(13), capacity=256, shards=8
    ).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}


def test_pack_sequences_rejects_bad_params(spark):
    import pytest

    from hadoop_coded_wordcount_spark.operators import pipeline as pl
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    for cap, sh in [(0, 8), (-1, 8), (256, 0), (256, -2)]:
        with pytest.raises(ValueError, match="capacity|shards"):
            pl.pack_sequences(docs, capacity=cap, shards=sh)


_PCT_VALUES = st.lists(
    st.decimals(
        min_value=-10000, max_value=10000, places=2, allow_nan=False
    ),
    min_size=1,
    max_size=60,
)


@given(values=_PCT_VALUES, p=st.sampled_from([0.0, 0.05, 0.25, 0.5, 0.9, 1.0]))
@_SETTINGS
def test_exact_percentiles_by_group_property(spark, values, p):
    """The histogram formulation must equal the builtin percentile
    bit-for-bit on arbitrary value multisets (duplicates, negatives,
    single elements, boundary percentiles)."""
    from hadoop_coded_wordcount_spark.operators.relational import (
        exact_percentiles_by_group,
    )

    df = spark.createDataFrame(
        [("g", float(v)) for v in values], ["grp", "v"]
    )
    want = df.groupBy("grp").agg(
        F.percentile("v", F.lit(p)).alias("want")
    ).collect()[0]["want"]
    got = exact_percentiles_by_group(df, "grp", "v", [p]).collect()[0]["p0"]
    assert got == want


_STAR_EDGES = st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=30,
)


@given(edges=_STAR_EDGES)
@_SETTINGS
def test_star_cc_matches_union_find(spark, edges):
    """Large-star/small-star contraction must agree with union-find on
    arbitrary graphs (cycles, self-merges, chains)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    sdf = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components_star(sdf).collect()
    }
    assert got == want


_TRI_EDGES = st.lists(
    st.tuples(st.integers(1, 12), st.integers(1, 12)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=25,
).map(lambda es: sorted({(min(a, b), max(a, b)) for a, b in es}))


@given(edges=_TRI_EDGES)
@_SETTINGS
def test_triangle_count_matches_python_enumeration(spark, edges):
    """Degree orientation must neither lose nor double-count triangles
    on arbitrary graphs (the orientation argument is subtle enough to
    model-check, not just spot-check)."""
    from itertools import combinations

    from hadoop_coded_wordcount_spark.operators import graph as gr

    eset = set(edges)
    nodes = sorted({v for e in edges for v in e})
    want = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in eset and (a, c) in eset and (b, c) in eset
    )
    sdf = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = gr.triangle_count(sdf).collect()[0]
    assert got.n_triangles == want
    assert got.n_edges == len(edges)


_SERIES = st.lists(
    st.floats(-100, 100, allow_nan=False, width=32), min_size=1, max_size=40
)


@given(values=_SERIES)
@_SETTINGS
def test_ewma_matches_pandas(spark, values):
    """Engine EWMA == pandas ewm(alpha=.5, adjust=False) over the same
    20-row trailing frame — an independent implementation as oracle."""
    import datetime as dt

    import pandas as pd

    from hadoop_coded_wordcount_spark.operators.relational import ewma_values

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, i, t0 + dt.timedelta(seconds=i), float(v))
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, value double"
    )
    got = {r.event_id: r.ewma for r in ewma_values(df).collect()}
    s = pd.Series([float(v) for v in values])
    for i in range(len(values)):
        frame = s.iloc[max(0, i - 19) : i + 1]
        want = frame.ewm(alpha=0.5, adjust=False).mean().iloc[-1]
        assert abs(got[i] - want) < 1e-9, (i, got[i], want)


@given(values=_SERIES)
@_SETTINGS
def test_rolling_median_matches_pandas(spark, values):
    import datetime as dt

    import pandas as pd

    from hadoop_coded_wordcount_spark.operators.relational import (
        rolling_median,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, i, t0 + dt.timedelta(seconds=i), float(v))
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, value double"
    )
    got = {r.event_id: r.rolling_median for r in rolling_median(df).collect()}
    s = pd.Series([float(v) for v in values])
    want = s.rolling(21, min_periods=1).median()
    for i in range(len(values)):
        assert abs(got[i] - want.iloc[i]) < 1e-9, i


def _reference_bpe(freq: dict[str, int], n_merges: int):
    """In-memory BPE with max-count / lexicographic-min-pair selection and
    left-to-right non-overlapping rewrite — the model bpe_train must match."""
    vocab = {tuple(w): c for w, c in freq.items()}
    out = []
    for rank in range(1, n_merges + 1):
        pc = Counter()
        for w, c in vocab.items():
            for i in range(len(w) - 1):
                pc[(w[i], w[i + 1])] += c
        if not pc:
            break
        m = max(pc.values())
        a, b = sorted(p for p, c in pc.items() if c == m)[0]
        out.append((rank, a, b, m))
        new = {}
        for w, c in vocab.items():
            merged = []
            for ch in w:
                if merged and merged[-1] == a and ch == b:
                    merged[-1] = a + b
                else:
                    merged.append(ch)
            new[tuple(merged)] = new.get(tuple(merged), 0) + c
        vocab = new
    return out


@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
    reps=st.lists(st.integers(min_value=1, max_value=5), min_size=8, max_size=8),
)
@_SETTINGS
def test_bpe_train_matches_reference_model(spark, words, reps):
    """Random small corpora: distributed BPE == in-memory reference BPE,
    merge for merge — including tie-breaks and overlapping-pair rewrites
    (alphabet 'abcd' maximizes aa/ab adjacency collisions)."""
    from hadoop_coded_wordcount_spark.operators import textstats as ts

    freq = Counter()
    for w, r in zip(words, reps):
        freq[w] += r
    text = " ".join(w for w, c in freq.items() for _ in range(c))
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in ts.bpe_train(docs, n_merges=4).collect()
    ]
    assert got == _reference_bpe(dict(freq), 4)


# ---------------------------------------------------------------------------
# Media header decoders: total functions over arbitrary bytes
# ---------------------------------------------------------------------------

_MAGIC_PREFIXES = [
    b"",
    b"\xff\xd8",              # JPEG SOI
    b"\x89PNG\r\n\x1a\n",     # PNG signature
    b"BM",                    # BMP
    b"II*\x00", b"MM\x00*",   # TIFF both orders
    b"RIFF", b"GIF89a", b"P5 ", b"P6 ",
]


@settings(max_examples=300, deadline=None)
@given(
    prefix=st.sampled_from(_MAGIC_PREFIXES),
    body=st.binary(min_size=0, max_size=200),
    media_type=st.sampled_from(
        [None, "image/jpeg", "image/png", "audio/wav", "video/mp4"]
    ),
)
def test_decode_media_is_total_over_arbitrary_bytes(prefix, body, media_type):
    """100 TB ingest robustness: decode_media walks untrusted binary
    headers (EXIF IFDs, PNG chunks, RIFF sizes) with pure byte math and
    must be TOTAL — any bytes, including truncated or corrupted magic
    prefixes, give a dict with a kind, never an exception. Dimensions,
    when reported, are positive."""
    from hadoop_coded_wordcount_spark.operators.multimodal import decode_media

    d = decode_media(prefix + body, media_type)
    assert isinstance(d, dict) and "kind" in d
    if d.get("width") is not None:
        assert d["width"] > 0 and d["height"] > 0


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_decode_media_survives_single_byte_corruption_of_valid_jpeg(data):
    """Flip one byte anywhere in a valid EXIF-bearing JPEG: the walk
    must still return a dict (opaque or a decoded header), never
    raise — the exact shape of bit-rot a petabyte-scale crawl feeds
    the ingest pipeline."""
    from test_pandas_surface import _jpeg_bytes
    from hadoop_coded_wordcount_spark.operators.multimodal import decode_media

    base = bytearray(_jpeg_bytes(width=64, height=32, exif_orientation=6))
    i = data.draw(st.integers(0, len(base) - 1))
    b = data.draw(st.integers(0, 255))
    base[i] = b
    d = decode_media(bytes(base))
    assert isinstance(d, dict) and "kind" in d
