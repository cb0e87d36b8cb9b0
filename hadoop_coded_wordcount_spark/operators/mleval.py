"""Model-evaluation statistics as distributed aggregates: AUC-ROC,
calibration curves, and mutual information.

A training-data engine ends up scoring things — rankers, quality
classifiers, engagement models — and the evaluation statistics
themselves must be distributed aggregates, not sklearn calls on a
driver-side collect. Each operator here is expressed so the heavy part
is one partial-aggregated shuffle and the statistic is assembled from a
bounded histogram / contingency grid, the same bounded-state discipline
as ``relational.exact_percentiles_by_group``.

Exactness discipline (what makes these DuckDB-oracle-exact):

* rank statistics (AUC) stay in INTEGER pair-count space until the final
  division — the Mann–Whitney numerator is doubled (``2·wins + ties``)
  so tie-halves never leave integers;
* probability-like per-row quantities (calibration predictions) are
  rounded to 6 dp and cast to DECIMAL before any sum, so group sums are
  associative and engine-independent;
* transcendental terms (``ln`` in mutual information) are computed on
  identical doubles in both engines, rounded to 6 dp per TERM, then
  summed as DECIMAL — JVM and libm ``ln`` legally differ in the last
  ulp, and a raw double sum over a shuffled grid is order-dependent
  (the ``chi_square_independence`` / ``cusum_changepoint`` pattern).

Reference parity: the reference engine (a word-count job,
/root/reference/src/wordcount/WordCount.java) has no evaluation surface;
this family extends the engine per the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .similarity_helpers import as_double_unit, dot_unrolled, sqdist_unrolled

__all__ = [
    "user_engagement_labels",
    "auc_roc",
    "calibration_bins",
    "mutual_information",
    "subsample_ci",
    "logistic_gd",
    "ols_normal_equations",
    "silhouette_by_label",
    "davies_bouldin",
    "gbm_stumps",
    "isotonic_calibration",
]


def user_engagement_labels(events: DataFrame) -> DataFrame:
    """Per-user (score, label) frame: does click engagement predict
    high purchase value?

    ``score`` = the user's click count (the model-free ranking signal);
    ``label`` = 1 iff the user's summed purchase value exceeds the
    global mean per-user purchase value. The mean (not the median) is
    the threshold because it is a single exact DECIMAL scalar — one
    broadcast, no order statistics over a corpus-sized value set.
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("score"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value"), 6).cast("decimal(18,6)"),
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("purchase_value"),
    )
    mean = per_user.agg(
        (
            F.sum("purchase_value").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("thr")
    )
    return per_user.join(F.broadcast(mean)).select(
        "user_id",
        "score",
        F.when(F.col("purchase_value").cast("double") > F.col("thr"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("label"),
    )


def auc_roc(events: DataFrame) -> DataFrame:
    """Exact tie-corrected AUC-ROC (Mann–Whitney U form) of the click
    engagement score against the high-spender label.

    Scale shape: the naive rank formulation is a GLOBAL ORDER BY — a
    single-task window. This is the bounded-state reformulation: collapse
    users to a per-distinct-score histogram ``(score → n_pos, n_neg)``
    (one partial-aggregated shuffle, state bounded by distinct scores),
    then one window over the tiny histogram accumulates the negatives
    seen below each score. Pair counts stay integer:

        num2 = 2·Σ_s pos(s)·neg_below(s) + Σ_s pos(s)·neg(s)
        AUC  = num2 / (2·P·N)

    ``num2`` doubles the numerator so tied pairs (worth ½) never leave
    integer space; the single final division is rounded to 6 dp. The
    degenerate one-class case returns NULL via NULLIF, not a crash.
    """
    hist = (
        user_engagement_labels(events)
        .groupBy("score")
        .agg(
            F.sum("label").cast("bigint").alias("pos"),
            F.sum(1 - F.col("label")).cast("bigint").alias("neg"),
        )
    )
    w = (
        Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = hist.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("neg_below"),
    )
    return scored.agg(
        F.sum(F.col("pos") + F.col("neg")).cast("bigint").alias("n_users"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.round(
            (
                2 * F.sum(F.col("pos") * F.col("neg_below"))
                + F.sum(F.col("pos") * F.col("neg"))
            ).cast("double")
            / F.nullif(
                (2 * F.sum("pos") * F.sum("neg")).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("auc"),
    )


def calibration_bins(events: DataFrame) -> DataFrame:
    """Reliability diagram + per-bin Brier score for the click-share
    "prediction" of the high-spender label.

    Prediction p = clicks / (clicks + views) per user (users with
    neither are excluded — no prediction exists). p is rounded to 6 dp
    and cast to DECIMAL(18,6) at the row level, so every downstream
    sum — mean prediction, Brier numerator (p−y)², observed rate — is
    an exact associative decimal aggregate; only the final per-bin
    divisions return to (rounded) doubles. Binning is decile on the
    decimal (``floor(p·10)`` capped at 9), exact arithmetic, no float
    boundary dust.

    Scale: one per-user shuffle, then a 10-row grid.
    """
    per_user = events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "clicks"
        ),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "views"
        ),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value"), 6).cast("decimal(18,6)"),
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        ).alias("purchase_value"),
    )
    mean = per_user.agg(
        (
            F.sum("purchase_value").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("thr")
    )
    scored = (
        per_user.where(F.col("clicks") + F.col("views") > 0)
        .join(F.broadcast(mean))
        .select(
            F.round(
                F.col("clicks").cast("double")
                / (F.col("clicks") + F.col("views")).cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("p"),
            F.when(F.col("purchase_value").cast("double") > F.col("thr"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("y"),
        )
    )
    sq_err = (F.col("p") - F.col("y")).cast("decimal(19,6)")
    return (
        scored.select(
            F.least(
                F.floor(F.col("p") * 10).cast("bigint"),
                F.lit(9).cast("bigint"),
            ).alias("bin"),
            "p",
            "y",
            (sq_err * sq_err).cast("decimal(38,12)").alias("se"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum("p").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_pred"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("frac_pos"),
            F.round(
                F.sum("se").cast("double") / F.count(F.lit(1)), 6
            ).alias("brier"),
        )
    )


def mutual_information(events: DataFrame) -> DataFrame:
    """Mutual information (and entropies) between event type and
    hour-of-day — the dependence screen you run before trusting a
    categorical feature pair.

    The contingency grid is one partial-aggregated shuffle bounded by
    |types|×24 cells; marginals are windows over that grid, never a
    second scan. Each MI term ``p(x,y)·ln(p(x,y)/(p(x)p(y)))`` and each
    entropy term is computed on identical doubles in both engines,
    rounded to 6 dp per term, then summed as DECIMAL — the established
    discipline for transcendental aggregates (``ln`` differs by an ulp
    between JVM and libm, and raw double sums over shuffled grids are
    order-dependent). Output: one row with MI, H(type), H(hour), and
    the normalized MI / min-entropy ratio.
    """
    cells = events.groupBy(
        F.col("event_type").alias("x"), F.hour("ts").alias("y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wall = Window.partitionBy()
    g = cells.select(
        "x",
        "y",
        "c",
        F.sum("c").over(wx).alias("rx"),
        F.sum("c").over(wy).alias("cy"),
        F.sum("c").over(wall).alias("t"),
    )
    c, rx, cy, t = (F.col(k).cast("double") for k in ("c", "rx", "cy", "t"))
    mi_term = F.round((c / t) * F.log((c * t) / (rx * cy)), 6).cast(
        "decimal(18,6)"
    )
    # entropy terms must be counted once per marginal value, not once per
    # cell: tag the first cell of each x (resp. y) group by row_number.
    rnx = F.row_number().over(Window.partitionBy("x").orderBy("y"))
    rny = F.row_number().over(Window.partitionBy("y").orderBy("x"))
    hx_term = F.when(
        rnx == 1, F.round(-(rx / t) * F.log(rx / t), 6)
    ).otherwise(F.lit(0.0)).cast("decimal(18,6)")
    hy_term = F.when(
        rny == 1, F.round(-(cy / t) * F.log(cy / t), 6)
    ).otherwise(F.lit(0.0)).cast("decimal(18,6)")
    agg = g.select(
        mi_term.alias("mi_t"), hx_term.alias("hx_t"), hy_term.alias("hy_t")
    ).agg(
        F.sum("mi_t").alias("mi_d"),
        F.sum("hx_t").alias("hx_d"),
        F.sum("hy_t").alias("hy_d"),
    )
    return agg.select(
        F.col("mi_d").cast("double").alias("mi_nats"),
        F.col("hx_d").cast("double").alias("h_type"),
        F.col("hy_d").cast("double").alias("h_hour"),
        F.round(
            F.col("mi_d").cast("double")
            / F.least(F.col("hx_d"), F.col("hy_d")).cast("double"),
            6,
        ).alias("nmi"),
    )


def subsample_ci(orders: DataFrame, n_replicates: int = 64) -> DataFrame:
    """Deterministic half-sample bootstrap CI for the mean order value:
    B replicates, replicate b containing exactly the rows whose
    ``md5(key ':' b)`` is even — a reproducible subsampling bootstrap
    (each replicate is an independent ~n/2 subsample; the spread of
    replicate means estimates the sampling variability of the mean).

    Engine/layout-independent BY CONSTRUCTION: membership is a pure
    function of (key, b), so any engine draws the identical replicates —
    unlike rand()-based bootstraps, this one is oracle-replayable.
    Replicate sums are exact decimals; the 2.5%/97.5% band is read off
    the B order statistics (rank ceil(0.025·B) and ceil(0.975·B)).

    Scale: the fan-out is B× on a two-column projection (key, price),
    partial-aggregated to B groups before the shuffle — the shuffle
    carries B rows per map partition regardless of data size. The final
    window orders B rows, a constant.
    """
    from ..sources.catalog import ensure_parallelism

    # spread BEFORE the B-fold explode: a single-file scan would fuse the
    # fan-out + md5 work into one task (measured 8.0 s -> ~1 s at sf0.1)
    fan = ensure_parallelism(
        orders.select("o_orderkey", "o_totalprice"), key="o_orderkey"
    ).select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))).alias("b"),
    )
    member = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("k"), F.lit(":"), F.col("b").cast("string")
                    ).cast("binary")
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0
    )
    reps = (
        fan.where(member)
        .groupBy("b")
        .agg(
            F.round(
                F.sum("price").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_b")
        )
    )
    rn = F.row_number().over(Window.orderBy("mean_b", "b"))
    lo_rank = max(1, -(-25 * n_replicates // 1000))  # ceil(0.025·B)
    hi_rank = -(-975 * n_replicates // 1000)  # ceil(0.975·B)
    band = reps.select("mean_b", rn.alias("rn")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.max(F.when(F.col("rn") == lo_rank, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("mean_b"))).alias("ci_hi"),
    )
    point = orders.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("point_mean"),
    )
    return point.join(F.broadcast(band)).select(
        "n_orders", "point_mean", "n_replicates", "ci_lo", "ci_hi"
    )


def _fit_cols(n, sx, sy, sxy, sxx):
    """Closed-form OLS (slope, intercept), each rounded once to 6 dp —
    the shared fit shape of the CV / conformal family (same moments
    discipline as regression_by_group)."""
    nd = n.cast("double")
    slope = F.round(
        (nd * sxy.cast("double") - sx.cast("double") * sy.cast("double"))
        / (nd * sxx.cast("double") - sx.cast("double") * sx.cast("double")),
        6,
    )
    intercept = F.round(
        (sy.cast("double") - slope * sx.cast("double")) / nd, 6
    )
    return slope, intercept


def cv_fold_metrics(lineitem: DataFrame, k: int = 5) -> DataFrame:
    """k-fold cross-validated error of the price~quantity OLS fit — the
    evaluation loop every in-engine model above (target encoding, NB,
    the stump) should be judged by, run WITHOUT k passes over the data:
    fold moments aggregate once, and each fold's training moments are
    the TOTALS MINUS ITS OWN (exact decimal subtraction), so adding
    folds costs nothing but a 5-row broadcast.

    Folds are md5(rowkey) mod k — deterministic, layout- and
    engine-independent. Per fold: slope/intercept from the closed form
    (6-dp rounds), held-out residuals re-round to 6 dp DECIMAL before
    |·| and square sums (order-exact), MAE/RMSE divide once at the end.

    Scale: one moment aggregate + one residual aggregate, both
    map-side combined; the per-fold model table is k rows, broadcast
    onto the held-out scan.
    """
    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string")
    )
    fold = (
        F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("long")
        % k
    ).alias("fold")
    xd = F.col("l_quantity").cast("decimal(18,6)")
    yd = F.col("l_extendedprice").cast("decimal(18,6)")
    base = lineitem.select(
        fold,
        xd.alias("x"),
        yd.alias("y"),
        (xd * yd).cast("decimal(38,12)").alias("xy"),
        (xd * xd).cast("decimal(38,12)").alias("xx"),
    )
    per_fold = base.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    tot = per_fold.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxy").alias("tsxy"),
        F.sum("sxx").alias("tsxx"),
    )
    train = per_fold.crossJoin(F.broadcast(tot))
    slope, intercept = _fit_cols(
        F.col("tn") - F.col("n"),
        F.col("tsx") - F.col("sx"),
        F.col("tsy") - F.col("sy"),
        F.col("tsxy") - F.col("sxy"),
        F.col("tsxx") - F.col("sxx"),
    )
    models = train.select(
        "fold",
        (F.col("tn") - F.col("n")).cast("bigint").alias("n_train"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
    resid = F.round(
        F.col("y").cast("double")
        - (F.col("intercept") + F.col("slope") * F.col("x").cast("double")),
        6,
    ).cast("decimal(18,6)")
    scored = base.join(F.broadcast(models), "fold").select(
        "fold",
        "n_train",
        "slope",
        "intercept",
        F.abs(resid).alias("ar"),
        (resid * resid).cast("decimal(28,12)").alias("r2"),
    )
    return (
        scored.groupBy("fold", "n_train", "slope", "intercept")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum("ar").alias("sar"),
            F.sum("r2").alias("sr2"),
        )
        .select(
            "fold",
            "n_train",
            "n_test",
            "slope",
            "intercept",
            F.round(
                F.col("sar").cast("double") / F.col("n_test").cast("double"),
                6,
            ).alias("mae"),
            F.round(
                F.sqrt(
                    F.col("sr2").cast("double")
                    / F.col("n_test").cast("double")
                ),
                6,
            ).alias("rmse"),
        )
    )


def conformal_interval(lineitem: DataFrame, q_pct: float = 0.9) -> DataFrame:
    """Split conformal prediction for the per-returnflag price~quantity
    fit: train on folds {0,1}, take the q90 of |residual| on the
    calibration fold as the interval half-width, and report the
    EMPIRICAL coverage that width achieves on the untouched test fold —
    the distribution-free "how wrong is the model allowed to be"
    guarantee (≈ q_pct by construction) that a prediction service
    attaches to every output.

    Determinism: folds are md5 mod 4; residuals round to 6 dp DECIMAL;
    the calibration quantile is the bounded-state exact-percentile
    histogram (``exact_percentiles_by_group`` — percentile_cont
    semantics, so DuckDB's quantile_cont replays it bit-for-bit), and
    coverage compares those exact doubles. Scale: two scans (moments +
    residuals), histogram-bounded quantile state, k-row broadcasts.
    """
    from .relational import exact_percentiles_by_group

    key = F.concat_ws(
        "-", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string")
    )
    fold = (
        F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("long") % 4
    ).alias("fold")
    xd = F.col("l_quantity").cast("decimal(18,6)")
    yd = F.col("l_extendedprice").cast("decimal(18,6)")
    base = lineitem.select(
        "l_returnflag",
        fold,
        xd.alias("x"),
        yd.alias("y"),
        (xd * yd).cast("decimal(38,12)").alias("xy"),
        (xd * xd).cast("decimal(38,12)").alias("xx"),
    ).persist()
    tr = base.where(F.col("fold") <= 1)
    m = tr.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    slope, intercept = _fit_cols(
        F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
    )
    models = m.select(
        "l_returnflag",
        F.col("n").alias("n_train"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )
    resid_abs = F.abs(
        F.round(
            F.col("y").cast("double")
            - (
                F.col("intercept")
                + F.col("slope") * F.col("x").cast("double")
            ),
            6,
        )
    )
    calib = base.where(F.col("fold") == 2).join(
        F.broadcast(models), "l_returnflag"
    ).select("l_returnflag", resid_abs.alias("r"))
    q = exact_percentiles_by_group(
        calib, "l_returnflag", "r", [q_pct]
    ).select("l_returnflag", F.col("p0").alias("q_resid"))
    test = (
        base.where(F.col("fold") == 3)
        .join(F.broadcast(models), "l_returnflag")
        .join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag", "n_train", "slope", "intercept", "q_resid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(resid_abs <= F.col("q_resid"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    from ..sources.catalog import finish_cached

    return finish_cached(test.select(
        "l_returnflag",
        "n_train",
        "slope",
        "intercept",
        F.round("q_resid", 6).alias("q90_resid"),
        "n_test",
        "n_covered",
        F.round(
            F.col("n_covered").cast("double") / F.col("n_test").cast("double"),
            6,
        ).alias("coverage"),
    ), base)


def class_separability(embeddings: DataFrame) -> DataFrame:
    """Pairwise class separability of the labeled embedding space: for
    every label pair, the squared distance between class centroids and
    the Fisher-style ratio of that distance to the summed within-class
    variances — the screen that says whether a linear probe has any
    chance before anyone trains one.

    Per-dimension sums quantize each term to DECIMAL before adding
    (order-independent), centroids and variances are single IEEE ops on
    the exact sums, and the cross-dimension reductions re-apply the same
    per-term quantize-then-decimal-sum discipline — so both numbers are
    engine-exact.

    Scale: one posexplode into a (label, dim) aggregate (bounded by
    labels x dims, not rows), then a join over label pairs on the dim
    key. Nothing row-level survives the first aggregate.
    """
    base = embeddings.select(
        "label", F.posexplode("embedding").alias("d", "xf")
    ).select("label", "d", F.col("xf").cast("double").alias("x"))
    per = base.groupBy("label", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.round(F.col("x"), 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("sx"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxx"),
    )
    m = F.col("sx") / F.col("n").cast("double")
    stats = per.select(
        "label",
        "d",
        m.alias("mean"),
        (F.col("sxx") / F.col("n").cast("double") - m * m).alias("var"),
    )
    a = stats.select(
        F.col("label").alias("label_a"),
        "d",
        F.col("mean").alias("ma"),
        F.col("var").alias("va"),
    )
    b = stats.select(
        F.col("label").alias("label_b"),
        "d",
        F.col("mean").alias("mb"),
        F.col("var").alias("vb"),
    )
    diff = F.col("ma") - F.col("mb")
    pairs = (
        a.join(b, "d")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.round(diff * diff, 12).cast("decimal(28,12)"))
            .cast("double")
            .alias("dist2"),
            F.sum(
                F.round(F.col("va") + F.col("vb"), 12).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias("within"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(F.col("dist2"), 6).alias("centroid_dist2"),
        F.round(F.col("dist2") / F.col("within"), 6).alias("fisher_ratio"),
    )


def triplet_margin(
    embeddings: DataFrame, anchor_mod: int = 10, dim: int = 64,
    salts: int = 32,
) -> DataFrame:
    """Metric-learning health check per label: for a bounded anchor set
    (every ``anchor_mod``-th vector), the mean cosine to same-label
    vectors (positives, self excluded) vs other-label vectors
    (negatives), and the mean margin between them — whether the label
    structure is even visible to a cosine retriever, per class
    (class_separability asks the centroid version; this asks the
    retrieval version).

    Vectors unit-normalize once per row, each pair is ONE unrolled
    codegen dot (the neardup discipline — never an exploded dim-key
    join), and every cross-row mean quantizes its terms to DECIMAL
    before summing, so the per-label numbers are independent of pair
    order and partitioning.

    Scale: anchors replicate to ``salts`` buckets and the corpus
    equi-joins its salt — no cartesian node; pair volume is
    |anchors| x |corpus|, bounded by construction.
    """
    v = as_double_unit(embeddings)
    anchors = v.where(F.col("vec_id") % anchor_mod == 0).select(
        F.col("vec_id").alias("a"),
        F.col("label").alias("la"),
        F.col("ne").alias("na"),
        F.explode(F.sequence(F.lit(0), F.lit(salts - 1))).alias("salt"),
    )
    corpus = v.select(
        F.col("vec_id").alias("c"),
        F.col("label").alias("lc"),
        F.col("ne").alias("nc"),
        F.pmod(F.hash("vec_id"), F.lit(salts)).alias("salt"),
    ).repartition(64, "salt")
    pairs = corpus.join(F.broadcast(anchors), "salt").where(
        F.col("a") != F.col("c")
    )
    cos = dot_unrolled("na", "nc", dim)
    terms = pairs.select(
        "a",
        "la",
        (F.col("la") == F.col("lc")).alias("same"),
        F.round(cos, 12).cast("decimal(28,12)").alias("cq"),
    )
    per_anchor = terms.groupBy("a", "la").agg(
        F.sum(F.when(F.col("same"), F.col("cq"))).alias("sp"),
        F.sum(F.when(F.col("same"), 1).otherwise(0))
        .cast("bigint")
        .alias("np"),
        F.sum(F.when(~F.col("same"), F.col("cq"))).alias("sn"),
        F.sum(F.when(~F.col("same"), 1).otherwise(0))
        .cast("bigint")
        .alias("nn"),
    ).where((F.col("np") > 0) & (F.col("nn") > 0))
    pos = F.col("sp").cast("double") / F.col("np").cast("double")
    neg = F.col("sn").cast("double") / F.col("nn").cast("double")
    staged = per_anchor.select(
        "la",
        F.round(pos, 6).cast("decimal(18,6)").alias("pq"),
        F.round(neg, 6).cast("decimal(18,6)").alias("nq"),
        F.round(pos - neg, 6).cast("decimal(18,6)").alias("mq"),
    )
    agg = staged.groupBy("la").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
        F.sum("pq").alias("spq"),
        F.sum("nq").alias("snq"),
        F.sum("mq").alias("smq"),
    )
    return agg.select(
        F.col("la").alias("label"),
        "n_anchors",
        F.round(
            F.col("spq").cast("double") / F.col("n_anchors").cast("double"),
            6,
        ).alias("mean_pos_cos"),
        F.round(
            F.col("snq").cast("double") / F.col("n_anchors").cast("double"),
            6,
        ).alias("mean_neg_cos"),
        F.round(
            F.col("smq").cast("double") / F.col("n_anchors").cast("double"),
            6,
        ).alias("mean_margin"),
    )


def logistic_gd(orders: DataFrame, iters: int = 4) -> DataFrame:
    """In-engine logistic-style classifier fit by full-batch gradient
    descent — label = (o_orderstatus = 'F'), features = scaled order
    total and priority rank plus an intercept — with the **hard
    sigmoid** σ(z) = clamp(z/4 + ½, 0, 1) so every iteration is exact
    integer arithmetic in micro-units (1e-6) up to ONE IEEE division
    per step, making the whole descent bit-reproducible across engines
    (the ``pca_power_iteration`` fixed-point discipline applied to an
    optimizer; a smooth exp() sigmoid would pin the result to libm).

    Scale shape: the feature frame is a single projection of orders,
    persisted once. Each of the ``iters`` rounds is ONE map-side-combined
    aggregate over it that also applies the update, and one 1-row fetch
    of the 3 new BIGINT weights to the driver, which feed the next round
    as typed literals. No round's plan embeds an earlier round's, so a
    fit runs 4 + 2·iters jobs and the driver state stays O(features) at
    any data size; 100x the orders is 100x the same scans.
    """
    feat = orders.select(
        F.when(F.col("o_orderstatus") == "F", 1000000)
        .otherwise(0)
        .cast("bigint")
        .alias("yu"),
        F.lit(1000000).cast("bigint").alias("x0u"),
        F.expr("CAST(ROUND(o_totalprice * 5.0) AS BIGINT)").alias("x1u"),
        (
            F.substring("o_orderpriority", 1, 1).cast("bigint") * 200000
        ).alias("x2u"),
    ).persist()
    # the weights enter each round as BIGINT literals, not as a 1-row
    # frame: a frame read by both the scoring and the update would nest
    # the previous round's plan twice, doubling the jobs every round
    w = (0, 0, 0)

    def weights(w):
        return [
            F.lit(v).cast("bigint").alias(f"w{i}") for i, v in enumerate(w)
        ]

    su = (
        "LEAST(CAST(1000000 AS BIGINT), GREATEST(CAST(0 AS BIGINT), "
        "CAST(ROUND((w0*x0u + w1*x1u + w2*x2u) / 4000000.0 + 500000.0) "
        "AS BIGINT)))"
    )
    for _ in range(iters):
        scored = feat.select("*", *weights(w)).select(
            "yu", "x0u", "x1u", "x2u", F.expr(su).alias("su")
        )
        # per-row cross products are ~2.5e12 micro²-units, so a BIGINT
        # global sum would overflow near sf1-sf2 (Spark ANSI throws
        # where DuckDB's SUM(BIGINT) promotes to HUGEINT). DECIMAL(38,0)
        # accumulators keep the sum exact at any corpus size — the
        # connected_components_star hash-sum discipline — and the one
        # division per step converts decimal→double correctly rounded,
        # same as DuckDB's hugeint→double.
        g = scored.agg(
            F.sum(
                ((F.col("su") - F.col("yu")) * F.col("x0u"))
                .cast("decimal(38,0)")
            ).alias("g0"),
            F.sum(
                ((F.col("su") - F.col("yu")) * F.col("x1u"))
                .cast("decimal(38,0)")
            ).alias("g1"),
            F.sum(
                ((F.col("su") - F.col("yu")) * F.col("x2u"))
                .cast("decimal(38,0)")
            ).alias("g2"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        w = tuple(
            g.select("*", *weights(w))
            .select(
                *(
                    F.expr(
                        f"CAST(w{i} - ROUND(g{i} / (n * 1000000.0)) AS BIGINT)"
                    ).alias(f"w{i}")
                    for i in range(3)
                )
            )
            .first()
        )
    fit = feat.select("*", *weights(w)).select(
        "yu",
        "w0",
        "w1",
        "w2",
        F.expr("w0*x0u + w1*x1u + w2*x2u").alias("z12"),
    )
    from ..sources.catalog import finish_cached

    return finish_cached(
        fit.groupBy("w0", "w1", "w2").agg(
            F.round(
                F.sum(
                    F.when(
                        (F.col("z12") > 0) == (F.col("yu") == 1000000), 1
                    ).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("train_accuracy"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        ).select(
            F.round(F.col("w0") / F.lit(1000000.0), 6).alias("w_intercept"),
            F.round(F.col("w1") / F.lit(1000000.0), 6).alias("w_price"),
            F.round(F.col("w2") / F.lit(1000000.0), 6).alias("w_priority"),
            "train_accuracy",
            "n",
        ),
        feat,
    )


# determinant expansions for the 3x3 normal-equation system — ONE shared
# expression text per determinant, evaluated verbatim by Spark (F.expr)
# and by the DuckDB oracle, so both engines build the identical IEEE
# expression tree (double mul/sub/add are deterministic given the tree)
OLS_DET = (
    "(n1*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)"
    " + s2*(s1*s12 - s11*s2))"
)
OLS_DET0 = (
    "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)"
    " + s2*(s1y*s12 - s11*s2y))"
)
OLS_DET1 = (
    "(n1*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)"
    " + s2*(s1*s2y - s1y*s2))"
)
OLS_DET2 = (
    "(n1*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)"
    " + sy*(s1*s12 - s11*s2))"
)


def ols_normal_equations(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Two-feature OLS fit entirely in-engine via the normal equations:
    regress order total on (line count, total quantity) per order, solve
    the 3x3 system by Cramer's rule, and report R² from a second pass —
    multivariate regression as two aggregate scans, no driver linear
    algebra beyond a fixed 3x3 expression.

    Exactness: every Gram-matrix entry is an exact BIGINT sum of
    integer features; the y-moment sums round per row to 4 dp and sum
    as exact DECIMAL; the determinants are computed from those exact
    sums with a shared expression string (``OLS_DET*``) so Spark and
    the oracle evaluate the identical double expression tree.

    Scale shape: one fact-fact shuffle on orderkey (the per-order
    rollup), then two map-side-combined global aggregations over the
    persisted joined frame; coefficients travel as a 1-row broadcast.
    """
    per_line = lineitem.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x1"),
        F.sum("l_quantity").cast("bigint").alias("x2"),
    )
    per_order = (
        orders.join(per_line, orders["o_orderkey"] == per_line["okey"])
        .select(
            "x1",
            "x2",
            F.col("o_totalprice").alias("y"),
        )
        .persist()
    )
    sums = per_order.agg(
        F.count(F.lit(1)).cast("double").alias("n1"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.round(F.col("y"), 4).cast("decimal(28,4)"))
        .cast("double")
        .alias("sy"),
        F.sum(
            F.round(F.col("x1") * F.col("y"), 4).cast("decimal(28,4)")
        )
        .cast("double")
        .alias("s1y"),
        F.sum(
            F.round(F.col("x2") * F.col("y"), 4).cast("decimal(28,4)")
        )
        .cast("double")
        .alias("s2y"),
    )
    coefs = sums.select(
        F.expr(f"ROUND({OLS_DET0} / {OLS_DET}, 6)").alias("beta0"),
        F.expr(f"ROUND({OLS_DET1} / {OLS_DET}, 6)").alias("beta_lines"),
        F.expr(f"ROUND({OLS_DET2} / {OLS_DET}, 6)").alias("beta_qty"),
        F.expr("sy / n1").alias("ybar"),
        F.col("n1").cast("bigint").alias("n"),
    )
    # residuals squared by explicit self-multiplication — pow(x, 2) is a
    # libm call whose last ulp is not pinned across engines; x*x is
    resid = F.col("y") - (
        (F.col("beta0") + F.col("beta_lines") * F.col("x1").cast("double"))
        + F.col("beta_qty") * F.col("x2").cast("double")
    )
    dev = F.col("y") - F.col("ybar")
    fit = per_order.crossJoin(F.broadcast(coefs)).select(
        "beta0",
        "beta_lines",
        "beta_qty",
        "n",
        F.round(resid * resid, 4).cast("decimal(28,4)").alias("se"),
        F.round(dev * dev, 4).cast("decimal(28,4)").alias("st"),
    )
    from ..sources.catalog import finish_cached

    return finish_cached(
        fit.groupBy("beta0", "beta_lines", "beta_qty", "n")
        .agg(
            F.expr(
                "ROUND(1.0 - CAST(SUM(se) AS DOUBLE)"
                " / CAST(SUM(st) AS DOUBLE), 6)"
            ).alias("r2")
        )
        .select("beta0", "beta_lines", "beta_qty", "r2", "n"),
        per_order,
    )


def _label_centroids(embeddings: DataFrame, dim: int):
    """(base, centl): embeddings as double arrays plus one centroid
    array row per label. Centroid components are exact-DECIMAL means of
    per-row components rounded to 9 dp (one IEEE division each) — the
    deterministic-mean discipline shared by the cluster-quality ops."""
    emb = F.transform("embedding", lambda x: x.cast("double"))
    base = embeddings.select("vec_id", "label", emb.alias("emb"))
    # JVM-parsed aggregate exprs (optimization r12): identical trees to
    # the Column loops at a fraction of the py4j round trips.
    cents = base.groupBy("label").agg(
        *[
            F.expr(
                f"CAST(SUM(CAST(ROUND(emb[{d}], 9) AS DECIMAL(28,9)))"
                f" AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS c{d}"
            )
            for d in range(dim)
        ]
    )
    centl = cents.select(
        F.col("label").alias("clabel"),
        F.expr(
            "array(" + ", ".join(f"c{d}" for d in range(dim)) + ")"
        ).alias("cl"),
    )
    return base, centl


def silhouette_by_label(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: for each vector,
    a = euclidean distance to its own label centroid, b = distance to
    the nearest other centroid, s = (b−a)/max(a,b) — the O(n·k)
    cluster-quality score that replaces the O(n²) exact silhouette at
    scale (same decision signal, Rousseeuw's own recommended
    approximation for large n).

    Determinism: centroid components are exact-DECIMAL means of per-row
    rounded components (one IEEE division each); every distance is a
    left-to-right unrolled fold over the ``dim`` components (bit-equal
    to the oracle's list_reduce — the ``dot_unrolled`` discipline); s
    rounds to 6 and label means sum as DECIMAL.

    Scale shape: one label-keyed partial-agg shuffle for centroids
    (k·dim scalars), centroids broadcast back, one n·k map-side expand,
    one final label rollup. No pairwise joins anywhere.
    """
    base, centl = _label_centroids(embeddings, dim)
    dists = base.crossJoin(F.broadcast(centl)).select(
        "vec_id",
        F.col("label").alias("vlabel"),
        "clabel",
        F.sqrt(sqdist_unrolled("emb", "cl", dim, "0.0D")).alias(
            "dist"
        ),
    )
    ab = dists.groupBy("vec_id", "vlabel").agg(
        F.max(
            F.when(F.col("clabel") == F.col("vlabel"), F.col("dist"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("vlabel"), F.col("dist"))
        ).alias("b"),
    )
    s = ab.select(
        F.col("vlabel").alias("label"),
        F.round(
            (F.col("b") - F.col("a"))
            / F.expr("nullif(greatest(a, b), 0.0)"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("s"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum("s").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_silhouette"),
    )


def davies_bouldin(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Davies–Bouldin cluster-quality components per label: scatter
    sᵢ = mean distance of label-i vectors to their centroid, and
    dbᵢ = maxⱼ≠ᵢ (sᵢ+sⱼ)/‖cᵢ−cⱼ‖ — lower is better-separated. The
    global DB index is avg(dbᵢ); emitting the per-label components
    keeps the "which cluster is smeared" diagnostic the scalar hides.

    Determinism: the silhouette centroid/fold discipline — per-point
    distances are unrolled folds rounded to 6 and DECIMAL-summed into
    sᵢ; centroid-pair distances are single unrolled folds; each ratio
    is ONE IEEE division rounded to 6 before the max.

    Scale shape: identical to :func:`silhouette_by_label` minus the n·k
    expand — scatters need only each point's OWN centroid (one
    broadcast join), and the ratio matrix is k², data-size-free.
    """
    base, centl = _label_centroids(embeddings, dim)
    own = base.join(
        F.broadcast(centl), base["label"] == centl["clabel"]
    ).select(
        "label",
        F.round(
            F.sqrt(sqdist_unrolled("emb", "cl", dim, "0.0D")), 6
        )
        .cast("decimal(18,6)")
        .alias("d"),
    )
    scatter = own.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum("d").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("s"),
    )
    a = scatter.select(
        F.col("label").alias("li"),
        F.col("n").alias("n_i"),
        F.col("s").alias("s_i"),
    ).join(
        F.broadcast(centl.select(F.col("clabel").alias("li"), F.col("cl").alias("ci"))),
        "li",
    )
    b = scatter.select(
        F.col("label").alias("lj"), F.col("s").alias("s_j")
    ).join(
        F.broadcast(centl.select(F.col("clabel").alias("lj"), F.col("cl").alias("cj"))),
        "lj",
    )
    ratios = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("li") != F.col("lj"))
        .select(
            "li",
            "n_i",
            "s_i",
            F.round(
                (F.col("s_i") + F.col("s_j"))
                / F.sqrt(sqdist_unrolled("ci", "cj", dim, "0.0D")),
                6,
            ).alias("r"),
        )
    )
    return ratios.groupBy("li").agg(
        F.max("n_i").alias("n"),
        F.round(F.max("s_i"), 6).alias("scatter"),
        F.max("r").alias("db_component"),
    ).select(F.col("li").alias("label"), "n", "scatter", "db_component")


# shared per-round expression texts for the boosted-stump fit — evaluated
# verbatim by Spark (F.expr) and the DuckDB oracle so the split score and
# leaf values are identical IEEE expression trees in both engines
GBS_SCORE = (
    "(CAST(nl AS DOUBLE) * (CAST(sl AS DOUBLE)/CAST(nl AS DOUBLE))"
    " * (CAST(sl AS DOUBLE)/CAST(nl AS DOUBLE))"
    " + CAST(nt - nl AS DOUBLE)"
    " * (CAST(st - sl AS DOUBLE)/CAST(nt - nl AS DOUBLE))"
    " * (CAST(st - sl AS DOUBLE)/CAST(nt - nl AS DOUBLE)))"
)
GBS_ADDL = "ROUND(0.5 * (CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)), 6)"
GBS_ADDR = (
    "ROUND(0.5 * (CAST(st - sl AS DOUBLE) / CAST(nt - nl AS DOUBLE)), 6)"
)


def gbm_stumps(
    orders: DataFrame, lineitem: DataFrame, rounds: int = 3
) -> DataFrame:
    """Gradient-boosted regression stumps fit entirely in-engine:
    predict the order total from (line count, total quantity) by
    ``rounds`` of least-squares boosting (shrinkage ν = 0.5), each
    round an exhaustive exact split search over BOTH features' full
    value grids — the "can the engine train, not just score" companion
    to :func:`logistic_gd`, and the same statistic XGBoost's exact-mode
    histogram computes per depth-1 tree.

    Round anatomy (all shuffles vocabulary-of-feature-values bounded):
    melt the two features into (feature, value) rows, aggregate
    residual sums per value (exact DECIMAL of 4-dp-rounded residuals),
    one cumulative window per feature gives every candidate split's
    left/right stats, the variance-gain score ranks candidates with a
    total (score DESC, feature, value) order, and the winning stump's
    two leaf values (ν·mean, rounded to 6) update the running
    prediction via a 1-row broadcast. Score and leaves evaluate the
    shared ``GBS_*`` expression strings — bit-equal across engines, so
    even argmax ties break identically.

    Output: one row per round — chosen feature, threshold, both leaf
    deltas, and the training MSE after applying the round.
    """
    per_line = lineitem.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x1"),
        F.sum("l_quantity").cast("bigint").alias("x2"),
    )
    base = (
        orders.join(per_line, orders["o_orderkey"] == per_line["okey"])
        .select("x1", "x2", F.col("o_totalprice").alias("y"))
        .persist()
    )
    f0 = base.agg(
        F.expr(
            "ROUND(CAST(SUM(CAST(ROUND(y, 4) AS DECIMAL(28,4))) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE), 6)"
        ).alias("fm")
    )
    po = base.crossJoin(F.broadcast(f0)).persist()
    cached = [base, po]
    out = []
    for k in range(1, rounds + 1):
        melt = po.selectExpr(
            "'x1' AS f", "CAST(x1 AS DOUBLE) AS v", "y", "fm"
        ).unionAll(
            po.selectExpr("'x2' AS f", "CAST(x2 AS DOUBLE) AS v", "y", "fm")
        )
        m = melt.groupBy("f", "v").agg(
            F.count(F.lit(1)).cast("bigint").alias("nv"),
            F.sum(
                F.expr("CAST(ROUND(y - fm, 4) AS DECIMAL(28,4))")
            ).alias("sv"),
        )
        wcum = (
            Window.partitionBy("f")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wtot = Window.partitionBy("f")
        c = m.select(
            "f",
            "v",
            F.sum("nv").over(wcum).cast("bigint").alias("nl"),
            F.sum("sv").over(wcum).cast("decimal(28,4)").alias("sl"),
            F.sum("nv").over(wtot).cast("bigint").alias("nt"),
            F.sum("sv").over(wtot).cast("decimal(28,4)").alias("st"),
        )
        ranked = (
            c.where(F.col("nl") < F.col("nt"))
            .select(
                "f",
                "v",
                F.expr(GBS_ADDL).alias("addl"),
                F.expr(GBS_ADDR).alias("addr"),
                F.expr(GBS_SCORE).alias("score"),
            )
            .select(
                "f",
                "v",
                "addl",
                "addr",
                F.row_number()
                .over(Window.orderBy(F.col("score").desc(), "f", "v"))
                .alias("rk"),
            )
        )
        best = ranked.where(F.col("rk") == 1).select(
            F.col("f").alias("bf"),
            F.col("v").alias("bt"),
            "addl",
            "addr",
        )
        po_next = po.crossJoin(F.broadcast(best)).select(
            "x1",
            "x2",
            "y",
            (
                F.col("fm")
                + F.when(
                    F.when(F.col("bf") == "x1", F.col("x1").cast("double"))
                    .otherwise(F.col("x2").cast("double"))
                    <= F.col("bt"),
                    F.col("addl"),
                ).otherwise(F.col("addr"))
            ).alias("fm"),
            "bf",
            "bt",
            "addl",
            "addr",
        ).persist()
        cached.append(po_next)
        err = po_next.groupBy("bf", "bt", "addl", "addr").agg(
            F.expr(
                "ROUND(CAST(SUM(CAST(ROUND((y - fm) * (y - fm), 4)"
                " AS DECIMAL(38,4))) AS DOUBLE)"
                " / CAST(COUNT(*) AS DOUBLE), 6)"
            ).alias("mse")
        )
        out.append(
            err.select(
                F.lit(k).cast("bigint").alias("round"),
                F.col("bf").alias("feature"),
                F.col("bt").alias("threshold"),
                F.col("addl").alias("add_left"),
                F.col("addr").alias("add_right"),
                "mse",
            )
        )
        po = po_next.select("x1", "x2", "y", "fm")
    from ..sources.catalog import finish_cached

    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return finish_cached(res, *cached)


def isotonic_calibration(events: DataFrame) -> DataFrame:
    """Exact isotonic regression of the high-spender rate on the click
    score — the calibrator that turns a monotone-ish ranking signal
    into non-decreasing probabilities (the production upgrade of
    :func:`calibration_bins`' fixed deciles). Uses the minimax identity
    iso(i) = max_{j≤i} min_{k≥i} avg(y over scores j..k), which needs
    no sequential pool-adjacent-violators pass: on the distinct-score
    histogram it is a bounded O(S³) lattice, embarrassingly parallel.

    Scale shape: users collapse to the per-score histogram (one
    shuffle, S = distinct scores rows); prefix sums over S rows give
    every interval's exact integer (positives, total); the j≤i≤k
    lattice is S³ — data-size-independent. At extreme S, bin scores
    first (equi-depth) and run the same lattice on the bins.

    Determinism: interval rates are ONE division of exact integers;
    min/max over identical doubles; final rounding to 6.
    """
    hist = (
        user_engagement_labels(events)
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("label").cast("bigint").alias("pos"),
        )
    )
    wp = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pref = hist.select(
        "score",
        "n",
        "pos",
        F.sum("n").over(wp).cast("bigint").alias("cn"),
        F.sum("pos").over(wp).cast("bigint").alias("cp"),
    )
    j = pref.select(
        F.col("score").alias("sj"),
        (F.col("cn") - F.col("n")).alias("cn_before"),
        (F.col("cp") - F.col("pos")).alias("cp_before"),
    )
    k = pref.select(
        F.col("score").alias("sk"),
        F.col("cn").alias("cn_k"),
        F.col("cp").alias("cp_k"),
    )
    intervals = (
        j.crossJoin(k)
        .where(F.col("sj") <= F.col("sk"))
        .select(
            "sj",
            "sk",
            (
                (F.col("cp_k") - F.col("cp_before")).cast("double")
                / (F.col("cn_k") - F.col("cn_before")).cast("double")
            ).alias("rate"),
        )
    )
    lattice = intervals.join(
        pref.select(F.col("score").alias("si")),
        (F.col("sj") <= F.col("si")) & (F.col("si") <= F.col("sk")),
    )
    inner = lattice.groupBy("si", "sj").agg(F.min("rate").alias("mn"))
    iso = inner.groupBy("si").agg(
        F.round(F.max("mn"), 6).alias("iso_rate")
    )
    return (
        pref.join(iso, pref["score"] == iso["si"])
        .select(
            "score",
            "n",
            "pos",
            F.round(
                F.col("pos").cast("double") / F.col("n").cast("double"), 6
            ).alias("raw_rate"),
            "iso_rate",
        )
    )


def cohens_kappa(documents: DataFrame, tok_threshold: int = 60) -> DataFrame:
    """Cohen's κ between two rule-based document raters — the
    inter-annotator-agreement statistic every labeling/filtering
    pipeline reports before trusting a cheap gate as a proxy for an
    expensive one. Rater A: composite quality ≥ 0.5
    (``textstats.quality_col``); rater B: whitespace token count ≥
    ``tok_threshold``. κ = (p_o − p_e)/(1 − p_e) from the exact 2×2
    confusion counts; one projection + one 1-row aggregate, every
    input an exact integer until the closed-form doubles.
    """
    from .dedup import tokens_col
    from .textstats import quality_col

    toks = tokens_col()
    rated = documents.select(
        (quality_col() >= 0.5).cast("int").alias("ra"),
        (F.size(toks) >= tok_threshold).cast("int").alias("rb"),
    ).where(F.size(toks) > 0)
    cm = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("bigint").alias("n01"),
    )
    n = F.col("n").cast("double")
    n11 = F.col("n11").cast("double")
    n10 = F.col("n10").cast("double")
    n01 = F.col("n01").cast("double")
    n00 = n - n11 - n10 - n01
    po = (n11 + n00) / n
    pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    return cm.select(
        F.col("n"),
        F.col("n11"),
        F.col("n10"),
        F.col("n01"),
        n00.cast("bigint").alias("n00"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


def psm_caliper_match(
    customer: DataFrame, orders: DataFrame, caliper: float = 0.05
) -> DataFrame:
    """Propensity-score matching with a caliper: treat AUTOMOBILE-segment
    customers as the "exposed" cohort, score everyone by the
    percent-rank of account balance within their nation (the balancing
    score a fitted propensity model would supply), match each treated
    customer to its nearest control score in the SAME nation (exact
    blocking, matching WITH replacement), drop pairs outside the
    caliper, and report the per-nation ATT on total order spend — the
    observational-causal workhorse when randomization isn't available.

    Nearest-neighbor search is the 1-D sort trick, not a band join: one
    window pass over the nation-blocked union ordered by (score,
    custkey) carries last-control-before / first-control-after, so
    candidate volume is O(n log n) at any block size (the asof-join
    shape). Ties on distance take the lower-score (previous) control;
    equal scores order by custkey — fully deterministic both engines.

    Exactness: percent_rank is (rank−1)/(n−1), one IEEE divide, rounded
    6dp; spend sums ride DECIMAL(18,2); ATT is one decimal-sum / count
    divide rounded 6dp.
    """
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    wpr = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    scored = (
        customer.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            (F.col("c_mktsegment") == "AUTOMOBILE").alias("treated"),
        )
        .withColumn("score", F.round(F.percent_rank().over(wpr), 6))
        .join(
            spend.withColumnRenamed("o_custkey", "c_custkey"),
            "c_custkey",
            "left",
        )
        .withColumn(
            "spend",
            F.coalesce(F.col("spend"), F.lit(0).cast("decimal(18,2)")),
        )
    )
    ctrl_score = F.when(~F.col("treated"), F.col("score"))
    ctrl_key = F.when(~F.col("treated"), F.col("c_custkey"))
    ctrl_spend = F.when(~F.col("treated"), F.col("spend"))
    wb = (
        Window.partitionBy("c_nationkey")
        .orderBy("score", "c_custkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # "first control AFTER me" == "last control BEFORE me" in REVERSED
    # order: Spark evaluates growing (UnboundedPreceding, -1) frames
    # incrementally but recomputes shrinking (1, UnboundedFollowing)
    # frames from scratch per row — O(n²) per nation, measured 17.7×
    # wall at the 10× scale decade before this rewrite, ~linear after.
    wa = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("score"), F.desc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = scored.select(
        "c_nationkey",
        "c_custkey",
        "treated",
        "score",
        "spend",
        F.last(ctrl_score, ignorenulls=True).over(wb).alias("ps"),
        F.last(ctrl_key, ignorenulls=True).over(wb).alias("pk"),
        F.last(ctrl_spend, ignorenulls=True).over(wb).alias("pv"),
        F.last(ctrl_score, ignorenulls=True).over(wa).alias("ns"),
        F.last(ctrl_key, ignorenulls=True).over(wa).alias("nk"),
        F.last(ctrl_spend, ignorenulls=True).over(wa).alias("nv"),
    ).where(F.col("treated"))
    d_prev = F.abs(F.col("score") - F.col("ps"))
    d_next = F.abs(F.col("ns") - F.col("score"))
    take_prev = F.col("ps").isNotNull() & (
        F.col("ns").isNull() | (d_prev <= d_next)
    )
    matched = ranked.select(
        "c_nationkey",
        "c_custkey",
        "score",
        "spend",
        F.when(take_prev, F.col("ps")).otherwise(F.col("ns")).alias("ms"),
        F.when(take_prev, F.col("pv")).otherwise(F.col("nv")).alias("mv"),
    )
    ok = F.col("ms").isNotNull() & (
        F.abs(F.col("score") - F.col("ms")) <= caliper
    )
    return matched.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated"),
        F.sum(ok.cast("int")).cast("bigint").alias("n_matched"),
        F.round(
            F.sum(F.when(ok, F.col("spend") - F.col("mv"))).cast("double")
            / F.sum(ok.cast("int")).cast("double"),
            6,
        ).alias("att_spend"),
    )


def cox_ph_binary(
    customer: DataFrame,
    orders: DataFrame,
    churn_gap_days: int = 90,
    iters: int = 6,
    grid_cap: int = 65536,
) -> DataFrame:
    """Cox proportional-hazards fit (binary covariate, Breslow ties) on
    customer churn: does the AUTOMOBILE segment churn at a different
    hazard? The partial-likelihood Newton iteration needs only the
    EVENT-TIME GRID — per 30-day bucket: churn count d_t, treated churn
    count s1_t, and the at-risk counts n1_t/n0_t by group — so after one
    per-customer shuffle the whole fit runs on a duration-range-sized
    frame (control-plane class, the markov/doremi precedent), iterated
    driver-side in integer micro-units.

    The grid collect is HARD-BOUNDED by ``grid_cap`` (VERDICT r11 item
    7): the cardinality is a property of the value domain (distinct
    30-day buckets — TPC-H's 7-year window yields ~85; even
    day-granularity ~2.5k), not of row count, but the code enforces
    the bound rather than inheriting it from the fixture — the collect
    fetches at most ``grid_cap``+1 rows (never an unbounded grid into
    driver memory) and raises past the cap instead of silently
    iterating a frame that stopped being control-plane.

    Newton per round (β starts at 0, all stores 6dp):
    p_t = n1·e^β/(n1·e^β+n0); U = S1 − Σ round(d·p, 6);
    I = Σ round((d·p)(1−p), 6); β ← round(β + U/I, 6).
    The DuckDB oracle replays the grid and every unrolled round with an
    identically-parenthesized double tree, so the fit value-matches
    bit for bit.
    """
    import math

    def _cround(x: float) -> int:
        f = math.floor(x)
        return int(f) + (1 if x - f >= 0.5 else 0)

    spark = customer.sparkSession
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    wend = orders.agg(F.max(F.to_date("o_orderdate")).alias("wend"))
    churned = F.datediff(F.col("wend"), F.col("last_d")) > churn_gap_days
    durations = (
        per_cust.join(F.broadcast(wend))
        .join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"),
                (F.col("c_mktsegment") == "AUTOMOBILE")
                .cast("int")
                .alias("x"),
            ),
            "o_custkey",
        )
        .select(
            "x",
            churned.cast("int").alias("ev"),
            F.floor(
                F.when(
                    churned, F.datediff("last_d", "first_d")
                ).otherwise(F.datediff("wend", "first_d"))
                / 30
            ).alias("t"),
        )
    )
    durations = durations.persist()
    tot = durations.agg(
        F.coalesce(F.sum("x"), F.lit(0)).cast("bigint").alias("tot1"),
        F.coalesce(F.sum(1 - F.col("x")), F.lit(0))
        .cast("bigint")
        .alias("tot0"),
    )
    tot_row = tot.collect()[0]
    cells = durations.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(F.col("ev") * F.col("x")).cast("bigint").alias("s1"),
        F.sum("x").cast("bigint").alias("a1"),
        F.sum(1 - F.col("x")).cast("bigint").alias("a0"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    grid = (
        cells.join(F.broadcast(tot))
        .select(
            "t",
            "d",
            "s1",
            (
                F.col("tot1")
                - F.coalesce(F.sum("a1").over(wprev), F.lit(0))
            ).alias("n1"),
            (
                F.col("tot0")
                - F.coalesce(F.sum("a0").over(wprev), F.lit(0))
            ).alias("n0"),
            "tot1",
            "tot0",
        )
        .where(F.col("d") > 0)
        # limit(cap+1): the Newton sums are order-independent, so no
        # ordering is needed here — the limit only bounds what can ever
        # reach the driver, and one extra row proves overflow
        .limit(grid_cap + 1)
        .collect()
    )
    durations.unpersist()
    if len(grid) > grid_cap:
        raise ValueError(
            "cox_ph_binary event-time grid exceeds grid_cap=%d distinct "
            "buckets; coarsen the 30-day bucketing or raise grid_cap — "
            "the driver-side Newton walk is only sound on a "
            "control-plane-sized grid" % grid_cap
        )
    s1_tot = sum(r.s1 for r in grid)
    d_tot = sum(r.d for r in grid)
    tot1 = tot_row.tot1
    tot0 = tot_row.tot0
    b_u = 0
    for _ in range(iters):
        eb = math.exp(b_u / 1e6)
        sdp_u = 0
        sinfo_u = 0
        for r in grid:
            p = (r.n1 * eb) / (r.n1 * eb + r.n0)
            sdp_u += _cround(r.d * p * 1e6)
            sinfo_u += _cround((r.d * p) * (1.0 - p) * 1e6)
        if sinfo_u == 0:
            break
        b_u = _cround(
            (b_u / 1e6 + (s1_tot - sdp_u / 1e6) / (sinfo_u / 1e6)) * 1e6
        )
    beta = b_u / 1e6
    hr_u = _cround(math.exp(beta) * 1e6)
    return spark.createDataFrame(
        [(beta, hr_u / 1e6, d_tot, s1_tot, tot1, tot0)],
        "beta double, hazard_ratio double, n_events bigint, "
        "s1_events bigint, n_treated bigint, n_control bigint",
    )


def als_rank1(
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    lam: float = 0.1,
    rounds: int = 3,
) -> DataFrame:
    """Rank-1 ALS on the customer×brand purchase-count matrix — the
    in-engine skeleton of collaborative filtering: alternate closed-form
    least-squares solves u_c = Σr·v/(λ+Σv²) and v_b = Σr·u/(λ+Σu²)
    over OBSERVED cells only, ``rounds`` times from v≡1.

    Cross-engine exactness with NO per-term rounding: counts are BIGINT
    and factors DECIMAL(18,6), so every product r·v and v² is an exact
    decimal and the per-entity sums are exact DECIMAL(38,·); each solve
    is then ONE double division rounded to 6dp. The λ ridge keeps
    denominators positive.

    Scale: the ratings table shuffles once per solve on its natural key
    (customer resp. brand — the same equi-join ALS runs on a cluster);
    the brand factor is a 25-row broadcast, the customer factor joins
    data-sized on its key. No driver state at all — the iteration is
    plan-chained, not collected.
    """
    ratings = (
        lineitem.join(
            part.select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
            "l_partkey",
        )
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
            ),
            "l_orderkey",
        )
        .groupBy("o_custkey", "p_brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
        # pin the customer-keyed partitioning BEFORE caching: every u-solve
        # groupBy and every v-solve join then reuses it instead of
        # re-exchanging the ratings matrix once per round.
        .repartition("o_custkey")
        .persist()
    )
    v = ratings.select("p_brand").distinct().select(
        "p_brand", F.lit(1).cast("decimal(18,6)").alias("v")
    )
    u = None
    for _ in range(rounds):
        u = (
            ratings.join(F.broadcast(v), "p_brand")
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("r") * F.col("v")).alias("srv"),
                F.sum(F.col("v") * F.col("v")).alias("svv"),
            )
            .select(
                "o_custkey",
                F.round(
                    F.col("srv").cast("double")
                    / (F.lit(lam) + F.col("svv").cast("double")),
                    6,
                )
                .cast("decimal(18,6)")
                .alias("u"),
            )
        )
        v = (
            ratings.join(u, "o_custkey")
            .groupBy("p_brand")
            .agg(
                F.sum(F.col("r") * F.col("u")).alias("sru"),
                F.sum(F.col("u") * F.col("u")).alias("suu"),
            )
            .select(
                "p_brand",
                F.round(
                    F.col("sru").cast("double")
                    / (F.lit(lam) + F.col("suu").cast("double")),
                    6,
                )
                .cast("decimal(18,6)")
                .alias("v"),
            )
        )
    stats = ratings.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_custs"),
        F.sum("r").cast("bigint").alias("n_ratings"),
    )
    from ..sources.catalog import finish_cached

    return finish_cached(
        v.join(stats, "p_brand").select(
            "p_brand",
            F.col("v").cast("double").alias("v_factor"),
            "n_custs",
            "n_ratings",
        ),
        ratings,
    )


def qte_deciles(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Quantile treatment effects: at each decile of the outcome
    distribution, how far apart are the treated (AUTOMOBILE segment)
    and control total-spend quantiles? The distributional companion to
    the ATT — an effect concentrated in the upper deciles tells a
    different story than a uniform shift, which a single mean
    difference can't see.

    Both sides' deciles are exact interpolated quantiles (one
    `percentile(spend, array(...))` per group — quantile input is
    customer-count-bounded) over the left-joined spend with zero
    default; the QTE is one rounded subtraction per decile.
    """
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sp")
    )
    base = (
        customer.select(
            F.col("c_custkey"),
            (F.col("c_mktsegment") == "AUTOMOBILE").alias("treated"),
        )
        .join(
            spend.withColumnRenamed("o_custkey", "c_custkey"),
            "c_custkey",
            "left",
        )
        .select(
            "treated",
            F.coalesce(F.col("sp"), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("spend"),
        )
    )
    qs = base.groupBy("treated").agg(
        F.expr(
            "percentile(spend, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D,"
            " 0.6D, 0.7D, 0.8D, 0.9D))"
        ).alias("qv"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    t = qs.where(F.col("treated")).select(
        F.posexplode("qv").alias("i", "qt"), F.col("n").alias("n_treated")
    )
    c = qs.where(~F.col("treated")).select(
        F.posexplode("qv").alias("i", "qc"), F.col("n").alias("n_control")
    )
    return t.join(c, "i").select(
        (F.col("i") + 1).cast("int").alias("decile"),
        "n_treated",
        "n_control",
        F.round("qt", 6).alias("q_treated"),
        F.round("qc", 6).alias("q_control"),
        F.round(F.col("qt") - F.col("qc"), 6).alias("qte"),
    )


def ecod_outliers(orders: DataFrame, k: int = 20) -> DataFrame:
    """ECOD-style unsupervised outlier scoring (Li et al., TKDE 2022)
    over per-customer behavior: for each feature (total spend, order
    count), the empirical tail probability from BOTH directions via
    ``cume_dist``, and score = Σ_f −ln(min(left_tail, right_tail)) —
    parameter-free, distribution-free anomaly detection with nothing
    to train. Returns the top-``k`` outliers.

    Exactness: cume_dist is a pure rank ratio (ties share a value in
    both engines); each −ln term rounds to 6dp into a DECIMAL(18,6)
    sum; ranking breaks ties on custkey. Scale: one per-customer
    aggregate, then four global-sort windows over the customer-count-
    bounded frame (range-partitioned sort at scale, the global_sort
    shape) and a TakeOrdered top-k.
    """
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    out = per
    score_terms = []
    for feat in ("spend", "n_orders"):
        left = F.cume_dist().over(Window.orderBy(F.col(feat)))
        right = F.cume_dist().over(Window.orderBy(F.col(feat).desc()))
        out = out.withColumn(f"l_{feat}", left).withColumn(
            f"r_{feat}", right
        )
        score_terms.append(
            F.round(
                -F.log(F.least(F.col(f"l_{feat}"), F.col(f"r_{feat}"))), 6
            ).cast("decimal(18,6)")
        )
    total = score_terms[0] + score_terms[1]
    return (
        out.select(
            "o_custkey",
            F.round("spend", 2).alias("spend"),
            "n_orders",
            total.cast("double").alias("ecod_score"),
        )
        .orderBy(F.desc("ecod_score"), F.asc("o_custkey"))
        .limit(k)
    )


def huber_irls(lineitem: DataFrame, rounds: int = 3) -> DataFrame:
    """Huber robust regression (price ~ quantity) by IRLS: start from
    the OLS fit (:func:`~..relational.regression_by_group` moments),
    set the Huber threshold δ = 1.345·(1.4826·median|r₀|) from the
    initial residuals (the standard 95%-efficiency tuning on the MAD
    scale), then ``rounds`` reweighted fits with w = min(1, δ/|r|) —
    the M-estimator that keeps OLS efficiency on clean data while
    capping any single outlier row's leverage. Emits one row per
    iteration (iter 0 = OLS) so the convergence path is inspectable;
    ``n_downweighted`` counts rows with |r| > δ entering that fit.

    Exactness: OLS moments are exact DECIMAL sums; the MAD scale is an
    exact interpolated percentile; every weighted moment rounds
    w·x-style products to 6dp into DECIMAL(28,6) sums (order-free);
    slope/intercept are single identically-parenthesized IEEE
    expressions over those sums, rounded to 6dp before the next round
    — so all ``rounds`` iterations replay bit-exact in the oracle.

    Scale: the (x, y) projection persists once; each iteration is ONE
    map-side-combinable aggregate over it (no window, no join on the
    fact side — parameters ride a 1-row broadcast, eagerly checkpointed
    each round so no round's plan embeds the previous one's). Row count
    never re-shuffles; state is O(1) per round and jobs grow linearly
    with ``rounds``.
    """
    from ..sources.catalog import ensure_parallelism

    feat = ensure_parallelism(
        lineitem.select(
            F.col("l_quantity").cast("decimal(12,2)").alias("x"),
            F.col("l_extendedprice").cast("decimal(12,2)").alias("y"),
            F.col("l_orderkey").alias("k"),
        ),
        key="k",
    ).drop("k").persist()
    agg0 = feat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(18,6)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(18,6)")).alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope0 = (n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd)
    # each round's params are a 1-row frame feeding the NEXT round's
    # weights; localCheckpoint truncates the chained lineage so round i
    # re-reads one cached scan, not i re-derivations (the
    # pca_power_iteration cadence)
    p = agg0.select(
        F.round(slope0, 6).alias("b"),
        F.round((syd - F.round(slope0, 6) * sxd) / n, 6).alias("a"),
    ).localCheckpoint(eager=True)
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    absr = F.abs(yd - (F.col("a") + F.col("b") * xd))
    sc = (
        feat.crossJoin(F.broadcast(p))
        .agg(
            F.round(
                F.lit(1.4826) * F.expr(
                    "percentile(abs(CAST(y AS DOUBLE) "
                    "- (a + b * CAST(x AS DOUBLE))), 0.5D)"
                ),
                6,
            ).alias("s0")
        )
        .select("s0", F.round(F.lit(1.345) * F.col("s0"), 6).alias("delta"))
        .localCheckpoint(eager=True)
    )
    out_rows = [
        p.crossJoin(F.broadcast(sc)).select(
            F.lit(0).cast("int").alias("iter"),
            F.col("a").alias("intercept"),
            F.col("b").alias("slope"),
            F.lit(0).cast("bigint").alias("n_downweighted"),
            "s0",
            "delta",
        )
    ]
    for i in range(1, rounds + 1):
        w = F.least(
            F.lit(1.0),
            F.col("delta") / F.greatest(absr, F.lit(1e-9)),
        )
        ws = (
            feat.crossJoin(F.broadcast(p))
            .crossJoin(F.broadcast(sc))
            .agg(
                F.sum(F.round(w, 6).cast("decimal(28,6)")).alias("sw"),
                F.sum(F.round(w * xd, 6).cast("decimal(28,6)")).alias(
                    "swx"
                ),
                F.sum(F.round(w * yd, 6).cast("decimal(28,6)")).alias(
                    "swy"
                ),
                F.sum(
                    F.round(w * (xd * yd), 6).cast("decimal(28,6)")
                ).alias("swxy"),
                F.sum(
                    F.round(w * (xd * xd), 6).cast("decimal(28,6)")
                ).alias("swxx"),
                F.sum((absr > F.col("delta")).cast("int"))
                .cast("bigint")
                .alias("n_down"),
                F.min("s0").alias("s0"),
                F.min("delta").alias("delta"),
            )
        )
        swd = F.col("sw").cast("double")
        swxd, swyd = F.col("swx").cast("double"), F.col("swy").cast(
            "double"
        )
        swxyd, swxxd = F.col("swxy").cast("double"), F.col("swxx").cast(
            "double"
        )
        bi = (swd * swxyd - swxd * swyd) / (swd * swxxd - swxd * swxd)
        fitted = ws.select(
            F.round(bi, 6).alias("b"),
            F.round((swyd - F.round(bi, 6) * swxd) / swd, 6).alias("a"),
            "n_down",
            "s0",
            "delta",
        ).localCheckpoint(eager=True)
        out_rows.append(
            fitted.select(
                F.lit(i).cast("int").alias("iter"),
                F.col("a").alias("intercept"),
                F.col("b").alias("slope"),
                F.col("n_down").alias("n_downweighted"),
                "s0",
                "delta",
            )
        )
        p = fitted.select("a", "b")
    from ..sources.catalog import finish_cached

    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionAll(r)
    return finish_cached(out, feat)


def synthetic_control(
    customer: DataFrame,
    orders: DataFrame,
    treated_nation: int = 0,
    pre_frac: float = 0.5,
) -> DataFrame:
    """Synthetic-control panel for one treated unit: rebuild nation
    ``treated_nation``'s monthly order-count series as a weighted blend
    of the other nations (donor pool), with weights fit on the PRE
    period and the post-period gap read as the effect — the
    comparative-case-study design behind policy/launch analyses, in its
    deterministic inverse-distance flavor: w_j ∝ 1/(d_j + 1) with
    d_j = Σ_pre (y_treated − y_j)² (exact integers; the +1 keeps a
    perfect pre-match finite, documented rather than hidden).

    Exactness: counts and distances are exact integers on the dense
    nation × month grid; each raw weight rounds to 6dp into the decimal
    normalizer; each w_j·y_jm term rounds to 6dp into the per-month
    decimal sum; gap is one rounded subtraction.

    Scale: one fact aggregate to the |nations| × |months| panel, then
    everything is control-plane-sized; the donor weighting is a
    broadcast join against a |nations|-row frame.
    """
    nat = customer.select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nation"),
    )
    cells = (
        orders.join(nat, "o_custkey")
        .groupBy(
            "nation", F.date_trunc("month", F.to_date("o_orderdate")).alias("month")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    months = (
        cells.select("month")
        .distinct()
        .withColumn(
            "month_idx",
            F.row_number().over(Window.orderBy("month")).cast("int"),
        )
    )
    n_months = months.agg(
        F.count(F.lit(1)).cast("bigint").alias("nm")
    )
    nations = cells.select("nation").distinct()
    dense = (
        nations.crossJoin(F.broadcast(months))
        .join(cells, ["nation", "month"], "left")
        .crossJoin(F.broadcast(n_months))
        .select(
            "nation",
            "month",
            "month_idx",
            F.coalesce("y", F.lit(0)).cast("bigint").alias("y"),
            (
                F.col("month_idx")
                <= F.floor(F.col("nm").cast("double") * F.lit(pre_frac))
            ).alias("is_pre"),
        )
        .localCheckpoint(eager=True)
    )
    treated = dense.where(F.col("nation") == treated_nation).select(
        "month", "month_idx", "is_pre", F.col("y").alias("y0")
    )
    donors = dense.where(F.col("nation") != treated_nation)
    d = (
        donors.join(F.broadcast(treated), ["month", "month_idx", "is_pre"])
        .where(F.col("is_pre"))
        .groupBy("nation")
        .agg(
            F.sum(
                (F.col("y0") - F.col("y")) * (F.col("y0") - F.col("y"))
            )
            .cast("bigint")
            .alias("d")
        )
    )
    wraw = d.select(
        "nation",
        F.round(
            F.lit(1.0) / (F.col("d").cast("double") + F.lit(1.0)), 6
        )
        .cast("decimal(18,6)")
        .alias("wr"),
    )
    wsum = wraw.agg(F.sum("wr").alias("ws"))
    weights = wraw.crossJoin(F.broadcast(wsum)).select(
        "nation",
        F.round(
            F.col("wr").cast("double") / F.col("ws").cast("double"), 6
        ).alias("w"),
    )
    synth = (
        donors.join(F.broadcast(weights), "nation")
        .groupBy("month", "month_idx", "is_pre")
        .agg(
            F.sum(
                F.round(F.col("w") * F.col("y").cast("double"), 6).cast(
                    "decimal(18,6)"
                )
            ).alias("synth_d")
        )
    )
    return (
        treated.join(synth, ["month", "month_idx", "is_pre"])
        .select(
            "month_idx",
            F.date_format("month", "yyyy-MM").alias("month"),
            F.when(F.col("is_pre"), "pre").otherwise("post").alias(
                "period"
            ),
            F.col("y0").alias("actual"),
            F.col("synth_d").cast("double").alias("synthetic"),
            F.round(
                F.col("y0").cast("double")
                - F.col("synth_d").cast("double"),
                6,
            ).alias("gap"),
        )
    )


def fellegi_sunter_em(customer: DataFrame, rounds: int = 3) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage with EM-fitted
    match/unmatch probabilities — the statistical layer entity
    resolution actually ships (unsupervised: no labeled pairs needed).
    Candidate customer pairs come from (nation, 100-unit balance band)
    blocking; each pair's agreement vector γ = (same market segment,
    same 10-unit balance band, same name-suffix character) collapses to
    one of 8 patterns, and EM iterates m_i = P(γ_i | match),
    u_i = P(γ_i | non-match), π = P(match) on the 8-row pattern table.
    Output: one row per pattern with its pair count, fitted posterior
    match probability, and the ≥0.5 link decision, plus the fitted
    parameters.

    Exactness: pattern counts are exact integers; each EM round is a
    fixed expression tree — per-pattern likelihood products (3 explicit
    factors), the posterior w rounded to 6dp, M-step sums of
    round(w·n, 6) decimals and single rounded divisions — unrolled
    round by round in the oracle, logistic_gd-style.

    Scale: the only data-sized work is the blocked pair scan feeding
    ONE aggregate down to ≤8 rows; block keys bound cell sizes (the
    fuzzy_blocking discipline), and every EM round runs on the 8-row
    frame with 1-row checkpointed params.
    """
    c = customer.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(100.0))
        .cast("bigint")
        .alias("blk"),
        F.floor(F.col("c_acctbal") / F.lit(10.0))
        .cast("bigint")
        .alias("fine"),
        F.expr("right(c_name, 1)").alias("nm1"),
    )
    a = c.alias("a")
    b = c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        .cast("int")
        .alias("g1"),
        (F.col("a.fine") == F.col("b.fine")).cast("int").alias("g2"),
        (F.col("a.nm1") == F.col("b.nm1")).cast("int").alias("g3"),
    )
    pat = pairs.groupBy("g1", "g2", "g3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    ).localCheckpoint(eager=True)
    spark = customer.sparkSession
    params = spark.range(1).select(
        F.lit(0.1).alias("pi"),
        F.lit(0.9).alias("m1"),
        F.lit(0.9).alias("m2"),
        F.lit(0.9).alias("m3"),
        F.lit(0.1).alias("u1"),
        F.lit(0.1).alias("u2"),
        F.lit(0.1).alias("u3"),
    )

    def lik(prefix):
        f = F.lit(1.0)
        for i in (1, 2, 3):
            p = F.col(f"{prefix}{i}")
            g = F.col(f"g{i}")
            f = f * F.when(g == 1, p).otherwise(F.lit(1.0) - p)
        return f

    for _ in range(rounds):
        j = pat.crossJoin(F.broadcast(params))
        num = F.col("pi") * lik("m")
        den = num + (F.lit(1.0) - F.col("pi")) * lik("u")
        w = F.round(num / den, 6)
        scored = j.withColumn("w", w)
        nd = F.col("n_pairs").cast("double")
        aggs = [
            F.sum(F.round(F.col("w") * nd, 6).cast("decimal(28,6)")).alias(
                "sw"
            ),
            F.sum("n_pairs").cast("bigint").alias("n"),
        ]
        for i in (1, 2, 3):
            gi = F.col(f"g{i}").cast("double")
            aggs.append(
                F.sum(
                    F.round(F.col("w") * nd * gi, 6).cast("decimal(28,6)")
                ).alias(f"swg{i}")
            )
            aggs.append(
                F.sum(
                    F.round((F.lit(1.0) - F.col("w")) * nd * gi, 6).cast(
                        "decimal(28,6)"
                    )
                ).alias(f"sug{i}")
            )
        m = scored.agg(*aggs)
        swd = F.col("sw").cast("double")
        ndt = F.col("n").cast("double")
        sel = [F.round(swd / ndt, 6).alias("pi")]
        for i in (1, 2, 3):
            sel.append(
                F.round(F.col(f"swg{i}").cast("double") / swd, 6).alias(
                    f"m{i}"
                )
            )
        for i in (1, 2, 3):
            sel.append(
                F.round(
                    F.col(f"sug{i}").cast("double") / (ndt - swd), 6
                ).alias(f"u{i}")
            )
        # LAZY checkpoint (r13): the next EM round's broadcast build —
        # or the final scoring join — materializes it; one fewer
        # barrier per round.
        params = m.select(*sel).localCheckpoint(eager=False)

    j = pat.crossJoin(F.broadcast(params))
    num = F.col("pi") * lik("m")
    den = num + (F.lit(1.0) - F.col("pi")) * lik("u")
    w = F.round(num / den, 6)
    return j.select(
        "g1",
        "g2",
        "g3",
        "n_pairs",
        w.alias("posterior"),
        (w >= 0.5).cast("int").alias("is_match"),
        "pi",
        "m1",
        "m2",
        "m3",
        "u1",
        "u2",
        "u3",
    )


def bradley_terry_sources(documents: DataFrame, rounds: int = 3) -> DataFrame:
    """Bradley–Terry strength fitting — the pairwise-preference model
    under every RLHF reward baseline — over source-vs-source quality
    contests: in each language, two sources "play" and the one with
    the higher mean document quality wins (the comparison runs as
    s_a·n_b > s_b·n_a on exact decimals — no division, no ties from
    rounding). Three Zermelo/MM rounds then fit strengths
    w_i ← W_i / Σ_j n_ij/(w_i+w_j), rebased each round to the
    current MAXIMUM so magnitudes stay in (0, 1] for the 6dp rounding
    (an arbitrary fixed reference would divide by zero whenever that
    source never wins).

    Exactness: contest outcomes are exact decimal-integer products;
    every MM round is a fixed tree — round(n/(w_i+w_j), 6) into a
    DECIMAL sum, one rounded division, one rounded rebase — unrolled
    in the oracle round for round.

    Scale: one (source, lang) aggregate bounds everything; the contest
    matrix is |sources|²·|langs| control-plane rows, and each MM round
    runs on the |sources|²-row frame with a checkpointed |sources|-row
    state.
    """
    from .textstats import quality_col
    from .dedup import tokens_col

    cells = (
        documents.select(
            "source", "lang", quality_col().alias("q")
        )
        .where(F.size(tokens_col()) > 0)
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("q").cast("decimal(18,6)")).alias("s"),
        )
    )
    a = cells.select(
        F.col("source").alias("sa"),
        "lang",
        F.col("n").alias("na"),
        F.col("s").alias("qa"),
    )
    b = cells.select(
        F.col("source").alias("sb"),
        "lang",
        F.col("n").alias("nb"),
        F.col("s").alias("qb"),
    )
    duel = a.join(b, "lang").where(F.col("sa") != F.col("sb"))
    win = (F.col("qa") * F.col("nb") > F.col("qb") * F.col("na")).cast(
        "int"
    )
    game = (F.col("qa") * F.col("nb") != F.col("qb") * F.col("na")).cast(
        "int"
    )
    mat = (
        duel.groupBy("sa", "sb")
        .agg(
            F.sum(win).cast("bigint").alias("w_ij"),
            F.sum(game).cast("bigint").alias("n_ij"),
        )
        .where(F.col("n_ij") > 0)
        .localCheckpoint(eager=True)
    )
    tot = mat.groupBy("sa").agg(
        F.sum("w_ij").cast("bigint").alias("wins"),
        F.sum("n_ij").cast("bigint").alias("games"),
    )
    w = tot.select("sa", F.lit(1.0).alias("w"))
    ref = F.min("sa")
    for _ in range(rounds):
        wi = w.select(F.col("sa"), F.col("w").alias("wi"))
        wj = w.select(F.col("sa").alias("sb"), F.col("w").alias("wj"))
        den = (
            mat.join(F.broadcast(wi), "sa")
            .join(F.broadcast(wj), "sb")
            .groupBy("sa")
            .agg(
                F.sum(
                    F.round(
                        F.col("n_ij").cast("double")
                        / (F.col("wi") + F.col("wj")),
                        6,
                    ).cast("decimal(18,6)")
                ).alias("den")
            )
        )
        raw = tot.join(den, "sa").select(
            "sa",
            F.round(
                F.col("wins").cast("double")
                / F.col("den").cast("double"),
                6,
            ).alias("w_raw"),
        )
        # rebase to the MAX strength: an arbitrary (alphabetical)
        # reference divides by zero whenever that source never wins
        refv = raw.agg(F.max(F.col("w_raw")).alias("w_ref"))
        # LAZY checkpoint (r13): next MM round / final join materializes
        w = (
            raw.crossJoin(F.broadcast(refv))
            .select(
                "sa",
                F.round(F.col("w_raw") / F.col("w_ref"), 6).alias("w"),
            )
            .localCheckpoint(eager=False)
        )
    out = tot.join(w, "sa")
    wr = Window.orderBy(F.desc("w"), F.asc("sa"))
    return out.select(
        F.col("sa").alias("source"),
        "games",
        "wins",
        F.col("w").alias("bt_strength"),
        F.row_number().over(wr).cast("int").alias("rank"),
    )


def ipf_raking(customer: DataFrame, rounds: int = 3) -> DataFrame:
    """Iterative proportional fitting (raking) of survey-style weights:
    adjust per-(segment × balance-band) cell weights so BOTH margins
    match uniform targets — the post-stratification step every
    weighted-metrics pipeline runs when its sample skews (here:
    reweight customers as if segments and balance bands were balanced).
    ``rounds`` alternating row/column scalings, Deming–Stephan 1940.

    Exactness: cell counts are integers; every scaling factor is one
    rounded division of decimal sums (row pass then column pass per
    round, each margin aggregated from the 6dp-rounded weights), so the
    whole fit is a fixed expression chain the oracle unrolls.

    Scale: ONE fact aggregate to the |segments|×|bands| cell table;
    every IPF round runs on that control-plane frame.
    """
    cells = customer.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("bigint")
        .alias("band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).localCheckpoint(
        eager=True
    )
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.countDistinct("seg").cast("bigint").alias("n_seg"),
        F.countDistinct("band").cast("bigint").alias("n_band"),
    ).localCheckpoint(eager=True)
    w = cells.select(
        "seg", "band", "n", F.col("n").cast("double").alias("w")
    )
    for _ in range(rounds):
        # row pass: scale each segment to the uniform segment target
        rows_ = w.groupBy("seg").agg(
            F.sum(F.round(F.col("w"), 6).cast("decimal(28,6)")).alias(
                "m"
            )
        )
        w = (
            w.join(F.broadcast(rows_), "seg")
            .crossJoin(F.broadcast(tot))
            .select(
                "seg",
                "band",
                "n",
                F.round(
                    F.col("w")
                    * (
                        (
                            F.col("n_tot").cast("double")
                            / F.col("n_seg").cast("double")
                        )
                        / F.col("m").cast("double")
                    ),
                    6,
                ).alias("w"),
            )
        )
        cols_ = w.groupBy("band").agg(
            F.sum(F.round(F.col("w"), 6).cast("decimal(28,6)")).alias(
                "m"
            )
        )
        w = (
            w.join(F.broadcast(cols_), "band")
            .crossJoin(F.broadcast(tot))
            .select(
                "seg",
                "band",
                "n",
                F.round(
                    F.col("w")
                    * (
                        (
                            F.col("n_tot").cast("double")
                            / F.col("n_band").cast("double")
                        )
                        / F.col("m").cast("double")
                    ),
                    6,
                ).alias("w"),
            )
            # LAZY (r13): next raking round / final select materializes
            .localCheckpoint(eager=False)
        )
    return w.select(
        "seg",
        "band",
        F.col("n").alias("n_raw"),
        F.col("w").alias("w_fitted"),
        F.round(F.col("w") / F.col("n").cast("double"), 6).alias(
            "raking_factor"
        ),
    )


def bass_diffusion(orders: DataFrame) -> DataFrame:
    """Bass diffusion fit of customer adoption: monthly NEW customers
    n_t regressed on cumulative adopters (n_t = a + b·N + c·N², the
    discrete Bass form), solved by the shared 3×3 Cramer expressions
    (``OLS_DET*``), then mapped to the model parameters — market size
    M from the quadratic root, innovation p = a/M, imitation q = −c·M,
    and the predicted adoption peak t* = ln(q/p)/(p+q) — the
    product-growth model every launch forecast quotes.

    Exactness: adopter counts are integers, so every Gram entry is an
    exact DECIMAL sum (N⁴ terms overflow BIGINT, hence decimal);
    coefficients and the p/q/M mapping are fixed rounded expressions.
    Degenerate fits (c ≥ 0 or negative discriminant — no S-curve in
    the data) emit NULL parameters rather than NaNs, in both engines.

    Scale: one per-customer aggregate, then everything runs on the
    |months|-row adoption series.
    """
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc(
            "month", F.min(F.to_date("o_orderdate"))
        ).alias("m")
    )
    monthly = first.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    wcum = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, -1
    )
    feats = monthly.select(
        "y",
        F.coalesce(F.sum("y").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("x1"),
    ).withColumn("x2", F.col("x1") * F.col("x1"))
    d0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    sums = feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum(d0(F.col("x1"))).alias("ds1"),
        F.sum(d0(F.col("x2"))).alias("ds2"),
        F.sum(d0(F.col("x1")) * d0(F.col("x1"))).alias("ds11"),
        F.sum(d0(F.col("x1")) * d0(F.col("x2"))).alias("ds12"),
        F.sum(d0(F.col("x2")) * d0(F.col("x2"))).alias("ds22"),
        F.sum(d0(F.col("y"))).alias("dsy"),
        F.sum(d0(F.col("x1")) * d0(F.col("y"))).alias("ds1y"),
        F.sum(d0(F.col("x2")) * d0(F.col("y"))).alias("ds2y"),
    )
    named = sums.select(
        "n_months",
        F.col("n_months").cast("double").alias("n1"),
        F.col("ds1").cast("double").alias("s1"),
        F.col("ds2").cast("double").alias("s2"),
        F.col("ds11").cast("double").alias("s11"),
        F.col("ds12").cast("double").alias("s12"),
        F.col("ds22").cast("double").alias("s22"),
        F.col("dsy").cast("double").alias("sy"),
        F.col("ds1y").cast("double").alias("s1y"),
        F.col("ds2y").cast("double").alias("s2y"),
    )
    coefs = named.select(
        "n_months",
        F.expr(f"ROUND({OLS_DET0} / {OLS_DET}, 6)").alias("a"),
        F.expr(f"ROUND({OLS_DET1} / {OLS_DET}, 6)").alias("b"),
        F.expr(f"ROUND({OLS_DET2} / {OLS_DET}, 6)").alias("c"),
    )
    disc = F.col("b") * F.col("b") - F.lit(4.0) * (
        F.col("a") * F.col("c")
    )
    valid = (F.col("c") < 0) & (disc >= 0)
    m_hat = F.when(
        valid,
        F.round(
            (-F.col("b") - F.sqrt(disc)) / (F.lit(2.0) * F.col("c")), 6
        ),
    )
    out = coefs.withColumn("m_hat", m_hat)
    p_hat = F.when(
        F.col("m_hat") > 0, F.round(F.col("a") / F.col("m_hat"), 6)
    )
    q_hat = F.when(
        F.col("m_hat") > 0,
        F.round(-(F.col("c") * F.col("m_hat")), 6),
    )
    out = out.withColumn("p_hat", p_hat).withColumn("q_hat", q_hat)
    peak = F.when(
        (F.col("p_hat") > 0) & (F.col("q_hat") > 0),
        F.round(
            F.log(F.col("q_hat") / F.col("p_hat"))
            / (F.col("p_hat") + F.col("q_hat")),
            6,
        ),
    )
    return out.select(
        "n_months", "a", "b", "c", "m_hat", "p_hat", "q_hat",
        peak.alias("peak_t"),
    )
