"""Dedup operator tests — fixture-driven (FIXTURES.md §3.1) plus a
recall check of MinHash-LSH against the exact blocked-Jaccard pairs on the
real sf0.01 documents (the driver table has planted near-duplicates).
"""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from hadoop_coded_wordcount_spark.operators import dedup as dd
from hadoop_coded_wordcount_spark.sources.catalog import load_table

SF001 = "/root/testdata/sf0.01"

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the tall green trees"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # 1-token edit → high Jaccard
UNRELATED = (
    "completely different content about distributed query engines and "
    "columnar execution with vectorized readers and adaptive planning"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en", "srcA", len(BASE)),
        (1, BASE, "en", "srcB", len(BASE)),  # exact duplicate of 0
        (2, NEAR, "en", "srcC", len(NEAR)),  # near-duplicate of 0
        (3, UNRELATED, "en", "srcD", len(UNRELATED)),
        (4, "tiny", "en", "srcE", 4),  # <3 tokens: excluded from shingling
        (5, "  " + BASE + "  ", "en", "srcF", len(BASE) + 4),  # ws-only diff
    ]
    return spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def test_dedup_exact_keeps_min_doc_id(docs):
    kept = {r.doc_id for r in dd.dedup_exact(docs).collect()}
    # doc 1 is an exact copy of doc 0 -> dropped; doc 5 differs by leading
    # whitespace -> exact dedup keeps it
    assert kept == {0, 2, 3, 4, 5}


def test_dedup_fingerprint_collapses_whitespace_variants(docs):
    out = {
        r.canonical_id: r.n_copies for r in dd.dedup_fingerprint(docs).collect()
    }
    # normalization folds 0, 1, and 5 into one cluster of 3 copies
    assert out[0] == 3
    assert out[2] == 1 and out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_near_and_exact_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact copy
    assert pairs[(0, 5)] == 1.0  # whitespace-only variant, same shingles
    assert 0.5 <= pairs[(0, 2)] < 1.0  # near-dup
    assert (0, 3) not in pairs and (1, 3) not in pairs  # unrelated
    # doc 4 has <3 tokens: excluded entirely
    assert not any(4 in p for p in pairs)


def test_minhash_signature_shape_and_determinism(docs):
    rows = dd.minhash_signatures(docs, k=16).collect()
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r.doc_id, [None] * 16)[r.perm] = r.minhash
    by_id = {d: tuple(s) for d, s in by_id.items()}
    assert all(len(s) == 16 and None not in s for s in by_id.values())
    assert by_id[0] == by_id[1]  # identical text -> identical signature
    assert by_id[0] == by_id[5]  # whitespace variant -> same shingle set
    # near-dup shares most hash mins
    agree = sum(a == b for a, b in zip(by_id[0], by_id[2]))
    assert agree >= 10
    # unrelated shares (almost) none
    agree_unrel = sum(a == b for a, b in zip(by_id[0], by_id[3]))
    assert agree_unrel <= 2


def test_minhash_lsh_recovers_planted_clusters(docs):
    pairs = {
        (r.doc_a, r.doc_b) for r in dd.minhash_lsh_pairs(docs).collect()
    }
    assert {(0, 1), (0, 2), (0, 5), (1, 5), (1, 2), (2, 5)} == pairs


def test_minhash_lsh_recall_vs_exact_on_driver_table(spark):
    """On the real documents table the planted near-dups (Jaccard ≥ 0.95)
    must all survive the band filter: LSH output == exact blocked output."""
    documents = load_table(spark, SF001, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dd.ngram_jaccard_pairs(
            documents, threshold=0.5, block_on=None
        ).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dd.minhash_lsh_pairs(documents, threshold=0.5).collect()
    }
    assert exact, "driver table should contain planted near-duplicates"
    assert lsh == exact


def test_simhash_hamming_separation(docs):
    sh = {r.doc_id: r.simhash for r in dd.simhash64(docs).collect()}
    assert sh[0] == sh[1]  # identical text

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(sh[0], sh[2]) <= 6  # near-dup: few bits differ
    assert hamming(sh[0], sh[3]) > 10  # unrelated: far apart


def test_simhash_pairs_bands_find_close_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dd.simhash_pairs(docs, max_hamming=6).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs
    assert (0, 3) not in pairs


def test_connected_components_on_hand_built_graph(spark):
    """Chain, triangle, isolated pair → three components labeled by min id;
    convergence within the iteration budget regardless of edge direction."""
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),   # chain 1-2-3-4
            (10, 11), (11, 12), (12, 10),  # triangle
            (20, 21),                 # isolated pair
        ],
        ["doc_a", "doc_b"],
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components_star(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_stratified_sample_deterministic_and_rated(spark):
    """The sample is a pure function of the row: identical across runs,
    per-language keep decisions follow the hash threshold exactly."""
    import hashlib

    from hadoop_coded_wordcount_spark.operators import pipeline as pl
    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    kept1 = {r.doc_id for r in pl.stratified_sample(docs).collect()}
    kept2 = {r.doc_id for r in pl.stratified_sample(docs).collect()}
    assert kept1 == kept2  # determinism, any partitioning
    for r in docs.select("doc_id", "lang").collect():
        rate = pl.SAMPLE_RATES[r.lang]
        bucket = hashlib.sha256(str(r.doc_id).encode()).hexdigest()[:2]
        expect = rate >= 1.0 or bucket < pl._rate_hex(rate)
        assert (r.doc_id in kept1) == expect, (r.doc_id, r.lang)


def test_contamination_check_counts_val_side_only(spark):
    """Plant one trigram shared train->validation; the report counts the
    validation doc and the colliding gram exactly once."""
    import hashlib

    from hadoop_coded_wordcount_spark.operators import pipeline as pl

    def split_of(doc_id):
        h = hashlib.sha256(str(doc_id).encode()).hexdigest()[:2]
        return "train" if h < pl.SPLIT_HEX else "validation"

    train_id = next(i for i in range(1000) if split_of(i) == "train")
    val_id = next(i for i in range(1000) if split_of(i) == "validation")
    other_val = next(
        i for i in range(val_id + 1, 2000) if split_of(i) == "validation"
    )
    rows = [
        (train_id, "shared tri gram plus tail", "en", "s", 1),
        (val_id, "prefix shared tri gram", "en", "s", 1),  # contaminated
        (other_val, "totally different words here", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    r = pl.contamination_check(docs).collect()[0]
    # val doc's trigrams are {'prefix shared tri', 'shared tri gram'};
    # only 'shared tri gram' also appears train-side
    assert r.n_contaminated_docs == 1
    assert r.n_colliding_grams == 1
    assert r.n_gram_hits == 1


def test_passage_dedup_flags_shared_passages(spark):
    """A passage that occurs in ≥2 docs must be counted dup in EVERY doc
    containing it; docs shorter than the passage size are dropped."""
    from hadoop_coded_wordcount_spark.operators.dedup import passage_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d x y z w"),      # shares passage 'a b c d' with 2
            (2, "a b c d q r s t"),
            (3, "unique words only here"),
            (4, "too short"),             # < 4 tokens → dropped
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in passage_dedup(docs).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_dup_passages"] == 1 and rows[2]["n_dup_passages"] == 1
    assert rows[1]["n_passages"] == 2
    assert rows[3]["n_dup_passages"] == 0
    assert rows[1]["dup_ratio"] == 0.5


def test_star_cc_matches_union_find_on_random_graph(spark):
    """large-star/small-star contraction computes the same component
    partition as a pure-Python union-find on a 300-node random graph."""
    import random

    random.seed(7)
    raw = [
        (random.randrange(300), random.randrange(300)) for _ in range(250)
    ]
    raw = [(a, b) for a, b in raw if a != b]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in list(parent)}

    edges = spark.createDataFrame(raw, ["doc_a", "doc_b"])
    by_star = {
        (r.doc_id, r.cluster_id)
        for r in dd.connected_components_star(edges).collect()
    }
    assert by_star == want


def test_star_cc_converges_on_long_chain_in_log_rounds(spark):
    """A 120-long path (diameter 120) closes within the default 15
    alternation rounds — the O(log n) property label propagation lacks —
    and every node gets the component-min label."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], ["doc_a", "doc_b"]
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components_star(chain, max_iter=15).collect()
    }
    assert set(got) == set(range(121))
    assert set(got.values()) == {0}


def test_star_cc_raises_when_unconverged(spark):
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="not converged"):
        dd.connected_components_star(chain, max_iter=1)


def test_containment_pairs_asymmetric(spark):
    """A short doc fully embedded in a long one has containment 1.0 in
    the contained->container direction only — the case Jaccard misses."""
    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, "en", short), (2, "en", long_), (3, "en", "zeta eta theta iota kappa")],
        ["doc_id", "lang", "text"],
    )
    rows = {
        (r.doc_contained, r.doc_container): r.containment
        for r in dd.containment_pairs(docs, threshold=0.8).collect()
    }
    assert rows == {(1, 2): 1.0}  # asymmetric: (2,1) absent, doc 3 unrelated
    # and the Jaccard view of the same pair is far below any dedup bar
    j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.05).collect()
    }
    assert j[(1, 2)] < 0.1


def test_containment_prefix_filter_equals_blocked(spark):
    """The prefix-filter candidate stage is EXACT-recall by pigeonhole:
    on the real documents table (planted containment pairs) the filtered
    path must emit the identical pair set and values as the quadratic
    block join, at more than one threshold."""
    documents = load_table(spark, SF001, "documents")
    for thr in (0.8, 0.5):
        fast = {
            (r.doc_contained, r.doc_container): r.containment
            for r in dd.containment_pairs(
                documents, threshold=thr, prefix_filter=True
            ).collect()
        }
        brute = {
            (r.doc_contained, r.doc_container): r.containment
            for r in dd.containment_pairs(
                documents, threshold=thr, prefix_filter=False
            ).collect()
        }
        assert fast == brute
        assert brute, "planted containment pairs should exist"


def test_duplicate_spans_planted_run(spark):
    """Two docs sharing one 12-token run (different alignment) must each
    report exactly one maximal span of 12 tokens at the right offset;
    within-doc repetition and unrelated docs must not surface."""
    shared = " ".join(f"s{i}" for i in range(12))
    filler_a = " ".join(f"a{i}" for i in range(5))
    filler_b = " ".join(f"b{i}" for i in range(9))
    rep = " ".join(["r0 r1 r2 r3"] * 5)  # repeats only inside doc 3
    docs = spark.createDataFrame(
        [
            (1, "en", filler_a + " " + shared),
            (2, "en", filler_b + " " + shared + " tail0 tail1"),
            (3, "en", rep),
            (4, "en", " ".join(f"z{i}" for i in range(30))),
        ],
        ["doc_id", "lang", "text"],
    )
    rows = {
        r.doc_id: (r.span_start, r.span_tokens)
        for r in dd.duplicate_spans(docs, w=8).collect()
    }
    assert rows == {1: (5, 12), 2: (9, 12)}


def test_keep_best_per_cluster_resolution(spark):
    """Every cluster keeps exactly one member (its max-quality argmax);
    singletons keep themselves; nobody disappears."""
    docs = load_table(spark, SF001, "documents")
    rows = dd.keep_best_per_cluster(docs).collect()
    scored = docs.where(F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")) > 0).count()
    assert len(rows) == scored
    from collections import defaultdict

    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r.cluster_id].append(r)
    assert any(len(v) > 1 for v in by_cluster.values())  # planted dups found
    for cid, members in by_cluster.items():
        keeps = [r for r in members if r.keep]
        assert len(keeps) == 1, cid
        best = max(members, key=lambda r: (r.quality, -r.doc_id))
        assert keeps[0].doc_id == best.doc_id
        assert all(r.cluster_size == len(members) for r in members)


def test_lsh_tuning_curve_nested_configs_monotone(docs):
    """The default configs nest (each (4,8) band is the conjunction of
    two aligned (8,4) bands, each of those two (16,2) bands), so the
    candidate volume must be non-increasing as bands sharpen; the exact
    duplicate pair is a candidate AND a true positive in every config.
    sample_hex covers all 16 digits: the md5 doc sample is a production
    knob, and the tiny fixture needs every doc in the truth set."""
    got = sorted(
        dd.lsh_tuning_curve(
            docs, sample_hex=tuple("0123456789abcdef")
        ).collect(),
        key=lambda r: -r.bands,
    )
    assert [(r.bands, r.rows_per_band) for r in got] == [
        (16, 2),
        (8, 4),
        (4, 8),
    ]
    # truth on this fixture: (0,1), (0,5), (1,5) identical-shingle pairs
    # plus the near pair (0,2) family — all configs share one n_truth.
    assert len({r.n_truth for r in got}) == 1
    cands = [r.n_candidates for r in got]
    assert cands == sorted(cands, reverse=True)
    for r in got:
        # identical signatures agree on every band: the exact-dup pairs
        # are always candidates and always verified true
        assert r.n_tp >= 3
        assert r.n_tp <= r.n_truth and r.n_tp <= r.n_candidates
        assert r.recall is None or r.recall <= 1.0
        assert r.precision is None or r.precision <= 1.0


def test_word_ngrams_is_total_and_positional(spark):
    """word_ngrams is total on its own (no size filter applied: a doc
    shorter than n gives []) and positional: grams in token order with
    repeats kept — boilerplate_ngrams counts positions, and shingled /
    ingest_features take array_distinct of it themselves."""
    toks = spark.createDataFrame(
        [(0, []), (1, ["a", "b"]), (2, ["a", "b", "a", "b"])],
        "id int, toks array<string>",
    )
    got = {
        r.id: (r.g2, r.g3)
        for r in toks.select(
            "id",
            dd.word_ngrams(2).alias("g2"),
            dd.word_ngrams(3).alias("g3"),
        ).collect()
    }
    assert got == {
        0: ([], []),
        1: (["a b"], []),
        2: (["a b", "b a", "a b"], ["a b a", "b a b"]),
    }
