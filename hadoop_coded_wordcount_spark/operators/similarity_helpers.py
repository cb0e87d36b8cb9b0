"""Packed-vector helpers shared across the similarity/ML-eval families —
the unit-normalize-once + unrolled-codegen-kernel discipline documented in
similarity.embedding_neardup_pairs, importable without pulling the whole
similarity module into consumers. ``as_double_unit`` differs from
similarity's own unit-vector frame (``similarity._unit_vectors``) on
purpose: it drops zero vectors, where that frame keeps them as NaN."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def as_double_unit(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, ne): the embedding cast to double and unit-
    normalized once per row, so any later pairwise dot IS the cosine.
    Zero vectors are dropped (no direction, no cosine)."""
    emb = F.transform("embedding", lambda x: x.cast("double"))
    base = embeddings.select("vec_id", "label", emb.alias("emb"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform("emb", lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        base.withColumn("nrm", nrm)
        .where(F.col("nrm") > 0)
        .select(
            "vec_id",
            "label",
            F.transform("emb", lambda x: x / F.col("nrm")).alias("ne"),
        )
    )


def _unrolled(a: str, b: str, dim: int, seed: str | None, term) -> Column:
    if not (isinstance(a, str) and isinstance(b, str)):
        raise TypeError(
            "unrolled kernels take SQL column references as strings, got "
            f"{type(a).__name__} and {type(b).__name__}"
        )
    parts = [seed] if seed else []
    parts += [term(f"{a}[{i}]", f"{b}[{i}]") for i in range(dim)]
    return F.expr(" + ".join(parts))


def dot_unrolled(a: str, b: str, dim: int) -> Column:
    """Pairwise dot product as an unrolled sum of literal-index products.

    ``aggregate(zip_with(...))`` is a *nested* higher-order function, which
    Catalyst evaluates interpreted — no codegen, measured ~50× slower than
    plain arithmetic — and it sits on the pair-join hot path where it runs
    once per CANDIDATE PAIR, not per row. ``GetArrayItem`` with a literal
    ordinal does participate in whole-stage codegen, so for a fixed,
    known dimension the dot unrolls into a flat expression tree the JVM
    JITs like hand-written code.

    FP parity: the sum associates left-to-right from a 0.0 seed —
    ``((0.0+p0)+p1)+...`` — exactly the ``F.aggregate`` fold order, so
    results are bit-identical to the HOF form and to the DuckDB oracle's
    list fold. Exactness is load-bearing: near-dup thresholds compare
    these values against an exact-SQL oracle with no tolerance.

    Driver latency: ``a`` and ``b`` are SQL column references passed as
    strings, and the whole chain is ONE ``F.expr`` string parsed JVM-side
    — a Column-object loop costs ~3·dim py4j round-trips (~0.5 s at
    dim=64 per call site, paid at every plan construction) for the same
    analyzed tree (pinned in tests). Column operands raise ``TypeError``.
    """
    return _unrolled(a, b, dim, "0.0D", lambda x, y: f"{x} * {y}")


def sqdist_unrolled(a: str, b: str, dim: int, seed: str | None) -> Column:
    """Unrolled left-to-right Σ(aᵢ−bᵢ)² — the :func:`dot_unrolled` fold
    with a squared-difference term. ``seed`` is the SQL literal the fold
    starts from: ``"0.0D"`` for double arrays (bit-equal to the oracle's
    list_reduce from 0.0), ``None`` to start at the first term (exact
    BIGINT over integer micro-unit arrays, so sums are order-free)."""
    return _unrolled(
        a, b, dim, seed, lambda x, y: f"({x} - {y}) * ({x} - {y})"
    )
