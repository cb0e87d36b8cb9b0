"""Round-12 optimization pins: the driver-latency expression builders
(single JVM-parsed ``F.expr`` strings) must produce the IDENTICAL
analyzed expression tree as the Column-object loops they replace —
results cannot differ if the trees are equal."""

from pyspark.sql import functions as F

from hadoop_coded_wordcount_spark.operators.similarity_helpers import (
    dot_unrolled,
    sqdist_unrolled,
)


import re


def _analyzed(df):
    # expression ids (#NNN) are allocation-order artifacts, not semantics
    return re.sub(
        r"#\d+", "#x", df._jdf.queryExecution().analyzed().toString()
    )


def _pair_frame(spark):
    a = spark.createDataFrame(
        [(1, [0.1, -0.2, 0.3, -0.0]), (2, [-0.0, 0.5, -1.25, 2.0])],
        "id long, ne array<double>",
    ).alias("a")
    b = a.selectExpr("id as idb", "ne as nb").alias("b")
    return a.crossJoin(b)


def _loop_fold(a, b, dim, term, seed):
    """Reference: the Column-object loop the string builders replaced —
    one py4j call per node, left-to-right from ``seed`` (or from the
    first term when ``seed`` is None)."""
    out = seed
    for i in range(dim):
        t = term(a[i], b[i])
        out = t if out is None else out + t
    return out


def _same_tree(j, x, y):
    assert _analyzed(j.select(x.alias("v"))) == _analyzed(
        j.select(y.alias("v"))
    )


def test_dot_unrolled_string_path_same_tree(spark):
    j = _pair_frame(spark)
    loop = _loop_fold(
        F.col("a.ne"), F.col("b.nb"), 4, lambda x, y: x * y, F.lit(0.0)
    )
    _same_tree(j, loop, dot_unrolled("a.ne", "b.nb", 4))


def _sq(x, y):
    return (x - y) * (x - y)


def test_pq_sqdist_string_path_same_tree(spark):
    # the PQ family's exact-BIGINT distance: no seed, fold from term 0
    j = (
        _pair_frame(spark)
        .selectExpr(
            "transform(ne, x -> cast(round(x * 1e6) as long)) as sv",
            "transform(nb, x -> cast(round(x * 1e6) as long)) as qv",
        )
    )
    loop = _loop_fold(F.col("qv"), F.col("sv"), 4, _sq, None)
    _same_tree(j, loop, sqdist_unrolled("qv", "sv", 4, None))


def test_sqdist_unrolled_seeded_same_tree(spark):
    j = _pair_frame(spark)
    loop = _loop_fold(F.col("a.ne"), F.col("b.nb"), 4, _sq, F.lit(0.0))
    _same_tree(j, loop, sqdist_unrolled("a.ne", "b.nb", 4, "0.0D"))


def test_dot_unrolled_signed_zero_seed(spark):
    # the 0.0 seed canonicalizes an all-(-0.0)-terms dot to +0.0; the
    # string path must keep that (it matters after ROUND + stringify)
    df = spark.createDataFrame(
        [([-0.0, 0.0], [1.0, 0.0])], "x array<double>, y array<double>"
    )
    row = df.select(
        dot_unrolled("x", "y", 2).cast("string").alias("s")
    ).first()
    assert row.s == "0.0"
