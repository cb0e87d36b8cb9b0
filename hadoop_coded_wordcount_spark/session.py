"""SparkSession factory tuned for the engine's scale posture.

The reference (sredman/hadoop-coded-wordcount) hand-wires one Hadoop ``Job``
per run (reference WordCountDriver.java:44-63).  Here the session *is* the
driver: every query is a declarative DataFrame plan handed to Catalyst.

Scale posture (applies unchanged from local[n] to a 1000-executor cluster):

* **AQE on** — runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace any hand-tuned partition
  count at 100 TB.
* **Arrow on** — every Python-side exchange (pandas UDFs, ``toPandas``) is
  Arrow-batched, never row-at-a-time pickling.
* **shuffle.partitions** defaults to the local core count for tests; on a
  real cluster this is overridden by AQE's coalescing (initialPartitionNum
  is set high so AQE can only shrink, never starve).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``SPARK_GRAFT_CPUS``, else the cores this process may run on (what
#: ``nproc`` prints), so a plain ``get_spark()`` never oversubscribes.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)


def get_spark(
    app_name: str = "hadoop-coded-wordcount-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    The default master is ``local[DEFAULT_CPUS]`` and the default
    shuffle partition count ``DEFAULT_CPUS``. All settings are chosen so
    the same plan scales from one box to a large cluster: AQE owns
    partition counts at runtime, Arrow owns the Python boundary, and
    broadcast thresholds stay at Spark defaults so dimension tables
    (region/nation/...) auto-broadcast.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its DEFAULT (true). Tested r13 with
        # interleaved min-of-2 A/B over a 16-query set (the 7 heaviest +
        # the 9 the first trial flagged): advisory-size coalescing
        # (parallelismFirst=false) read 72.4-78.2 s vs 55.6-56.6 s at the
        # default — the graph/recommender families (triangle_count,
        # hit_rate_at_k, adamic_adar, sssp_weighted, ...) shuffle few
        # BYTES but are compute-dense downstream, so coalescing their
        # 1-3 MB exchanges to one 64 MB-target task serializes real work
        # (1.8x). The default's 1 MB-floor fan-out is the right call for
        # this engine's mix; per-stage parallelism for the known
        # compute-dense quadratics is pinned with explicit
        # repartition(n, keys) at the operator level instead.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Start with many small shuffle partitions so AQE can only coalesce
        # downward, never starve a stage; on a real cluster this number
        # scales with executor count, not data size.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions * 8),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs otherwise evaluate through pickled row batches
        # (BatchEvalPythonUDTF); the Arrow path batches them like every
        # other Python surface here (caught by the registry-wide plan
        # hygiene sweep in tests/test_plan_shapes.py).
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TIMESTAMP_NTZ so
        # Spark and the DuckDB oracle agree on wall-clock values.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # The events table stores TIMESTAMP(NANOS) which the parquet reader
        # rejects; read the raw int64 nanos and convert in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    # Env-parameterized conf overrides (optimization r13): scale-dependent
    # settings stay tunable per deployment without code edits —
    # SPARK_GRAFT_CONF="spark.a=b;spark.c=d". Applied before extra_conf so
    # an explicit caller still wins.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for item in env_conf.split(";"):
        if "=" in item:
            k, v = item.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay the session's one-time costs before anything is timed, so the
    first measured query is charged for its plan, not for session spin-up.
    Touches only the tiny ``region``/``nation`` tables under ``sf_dir``
    and a few small ranges."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import PandasUDFType, udtf
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.window import Window

    from .operators.similarity_helpers import dot_unrolled

    # JVM/codegen warmup on a tiny table.
    warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    warm.count()
    # Python-worker-pool + Arrow warmup: the first pandas-UDF query would
    # otherwise be charged ~5 s of interpreter fork/IPC setup.
    @pandas_udf("long")
    def _noop_udf(s):
        return s

    warm.select(_noop_udf(F.col("r_regionkey"))).count()
    # Each Python eval mode runs through its OWN worker module — warming
    # the scalar-pandas pool leaves mapInPandas/applyInPandas/grouped-agg/
    # Arrow-UDTF daemons cold (a cold UDTF query was once charged 32.5 s,
    # 43×, of exactly that spin-up). Warm all four over a many-partition
    # range so one worker forks per core, not just one.
    rng = spark.range(0, 256, 1, 2 * spark.sparkContext.defaultParallelism)
    rng.mapInPandas(lambda it: it, schema="id long").count()
    rng.groupBy((F.col("id") % 8).alias("g")).applyInPandas(
        lambda pdf: pdf[["id"]], schema="id long"
    ).count()

    # explicit eval type: `from __future__ import annotations` stringifies
    # type hints module-wide, so Series→scalar inference can't see them
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _warm_agg(s):
        return float(s.sum())

    rng.groupBy((F.col("id") % 8)).agg(_warm_agg(F.col("id"))).count()

    @udtf(returnType="v bigint")
    class _WarmUdtf:
        def eval(self, v):
            yield (v,)

    spark.udtf.register("hcw_bench_warm_udtf", _WarmUdtf)
    rng.createOrReplaceTempView("hcw_bench_warm_src")
    spark.sql(
        "SELECT u.v FROM hcw_bench_warm_src, "
        "LATERAL hcw_bench_warm_udtf(id) u"
    ).count()
    # The first multi-stage query of a session otherwise pays codegen +
    # broadcast + exchange warmup (measured ~6 s charged to whichever
    # query runs first): exercise join/agg/window once on the tiny dims.
    nat = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    (
        nat.join(F.broadcast(warm), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("r_name", F.row_number().over(Window.orderBy("c")).alias("rn"))
        .count()
    )
    # The ANN family's 64-dim `dot_unrolled` kernels compile into ~64 KB
    # whole-stage-codegen methods, and the FIRST such compile in a session
    # costs ~3.3 s of Janino + compiler-JIT warmup. Compiling one
    # same-shaped kernel over 2 rows moves that constant out of whichever
    # ANN query runs first.
    two = spark.range(0, 2, 1, 1).select(
        F.array(*[(F.col("id") + F.lit(float(i))) for i in range(64)]).alias("a"),
        F.array(*[(F.col("id") * F.lit(float(i))) for i in range(64)]).alias("b"),
    )
    two.join(F.broadcast(two.selectExpr("a as qa"))).select(
        dot_unrolled("qa", "b", 64).alias("d")
    ).groupBy().min("d").collect()
