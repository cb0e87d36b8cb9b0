"""Fixture tests for the model-evaluation family (operators/mleval.py):
AUC-ROC, calibration bins, mutual information — semantics pinned on
hand-built event streams (the oracle sweep covers the real tables)."""

from __future__ import annotations

import datetime

import pytest
from conftest import SF001
from oracle_harness import compare

from hadoop_coded_wordcount_spark.operators import mleval as ml
from hadoop_coded_wordcount_spark.operators import similarity as sim
from hadoop_coded_wordcount_spark.sources.catalog import load_table

D = datetime.datetime


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double",
    )


def _user(rows, uid, clicks, views, purchase):
    t = D(2024, 1, 1, 12)
    eid = len(rows) * 100
    for i in range(clicks):
        rows.append((eid + i, t, uid, "click", 0.0))
    for i in range(views):
        rows.append((eid + 50 + i, t, uid, "view", 0.0))
    if purchase:
        rows.append((eid + 99, t, uid, "purchase", float(purchase)))


def test_auc_perfect_separation(spark):
    rows = []
    _user(rows, 1, clicks=3, views=0, purchase=100)
    _user(rows, 2, clicks=2, views=0, purchase=100)
    _user(rows, 3, clicks=1, views=0, purchase=0)
    _user(rows, 4, clicks=0, views=1, purchase=0)
    # mean purchase value = 50 -> users 1,2 positive; scores separate
    # positives from negatives perfectly.
    got = ml.auc_roc(_events(spark, rows)).collect()[0]
    assert (got.n_users, got.n_pos, got.n_neg) == (4, 2, 2)
    assert got.auc == 1.0


def test_auc_ties_count_half(spark):
    rows = []
    _user(rows, 1, clicks=2, views=0, purchase=100)  # pos, score 2
    _user(rows, 2, clicks=2, views=0, purchase=0)  # neg, score 2 (tie)
    _user(rows, 3, clicks=1, views=0, purchase=100)  # pos, score 1
    _user(rows, 4, clicks=0, views=1, purchase=0)  # neg, score 0
    # pairs: (1,2) tie=.5  (1,4) win  (3,2) loss  (3,4) win -> 2.5/4
    got = ml.auc_roc(_events(spark, rows)).collect()[0]
    assert got.auc == 0.625


def test_auc_degenerate_single_class_is_null(spark):
    rows = []
    _user(rows, 1, clicks=2, views=0, purchase=0)
    _user(rows, 2, clicks=1, views=0, purchase=0)
    # zero purchases -> mean threshold 0, no user exceeds it -> no
    # positives -> NULLIF guard yields NULL, not a crash.
    got = ml.auc_roc(_events(spark, rows)).collect()[0]
    assert got.n_pos == 0 and got.auc is None


def test_calibration_bins_hand_users(spark):
    rows = []
    _user(rows, 1, clicks=1, views=1, purchase=30)  # p=.5 bin 5, y=1
    _user(rows, 2, clicks=1, views=3, purchase=0)  # p=.25 bin 2, y=0
    _user(rows, 3, clicks=0, views=1, purchase=0)  # p=0 bin 0, y=0
    got = {
        r.bin: r for r in ml.calibration_bins(_events(spark, rows)).collect()
    }
    assert set(got) == {0, 2, 5}
    assert got[5].n == 1 and got[5].frac_pos == 1.0
    assert got[5].mean_pred == 0.5
    # brier for bin 5: (0.5 - 1)^2 = 0.25
    assert got[5].brier == 0.25
    assert got[2].mean_pred == 0.25 and got[2].frac_pos == 0.0
    assert got[0].mean_pred == 0.0 and got[0].brier == 0.0


def test_calibration_p1_lands_in_bin9(spark):
    rows = []
    _user(rows, 1, clicks=2, views=0, purchase=10)  # p=1.0 -> bin 9 (cap)
    got = ml.calibration_bins(_events(spark, rows)).collect()
    assert [r.bin for r in got] == [9]


def test_mutual_information_independent_is_zero(spark):
    rows = []
    eid = 0
    for hour in (0, 1):
        for etype in ("click", "view"):
            for _ in range(5):
                rows.append(
                    (eid, D(2024, 1, 1, hour), 1, etype, 0.0)
                )
                eid += 1
    got = ml.mutual_information(_events(spark, rows)).collect()[0]
    assert got.mi_nats == 0.0
    assert got.nmi == 0.0


def test_mutual_information_deterministic_pair(spark):
    rows = []
    for i in range(5):
        rows.append((i, D(2024, 1, 1, 0), 1, "click", 0.0))
        rows.append((100 + i, D(2024, 1, 1, 1), 1, "view", 0.0))
    got = ml.mutual_information(_events(spark, rows)).collect()[0]
    # perfectly dependent 2x2: MI = H = ln 2; per-term rounding to 6dp
    # makes each 0.5*ln2 term 0.346574, summing to 0.693148.
    assert got.mi_nats == 0.693148
    assert got.h_type == 0.693148
    assert got.h_hour == 0.693148
    assert got.nmi == 1.0


def test_cv_folds_perfect_linear_fit_has_zero_error(spark):
    """y = 3 + 2x exactly: every fold recovers (slope 2, intercept 3)
    and the held-out error is 0."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    rows = [
        (i, 1 + i % 7, float(1 + (i * 13) % 40),
         3.0 + 2.0 * float(1 + (i * 13) % 40))
        for i in range(200)
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_linenumber int, l_quantity double, l_extendedprice double",
    )
    got = ml.cv_fold_metrics(li).collect()
    assert len(got) == 5
    for r in got:
        assert (r.slope, r.intercept, r.mae, r.rmse) == (2.0, 3.0, 0.0, 0.0)
        assert r.n_train + r.n_test == 200


def test_conformal_coverage_within_bounds(spark):
    """Linear signal with bounded alternating noise: empirical test
    coverage must be near the nominal 90% (within a small-sample
    tolerance), never below the calibration guarantee floor."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    rows = []
    for i in range(400):
        x = float(1 + i % 50)
        noise = (1.0 if i % 2 == 0 else -1.0) * float(i % 10)
        rows.append((i, 1 + i % 7, "N", x, 5.0 + 3.0 * x + noise))
    li = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_linenumber int, l_returnflag string, l_quantity double, l_extendedprice double",
    )
    got = ml.conformal_interval(li).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_test > 0 and 0.75 <= r.coverage <= 1.0


def test_theil_sen_ignores_outlier_month(spark):
    """Counts rise by exactly 2/month, but one month is corrupted 50x:
    the pairwise-slope median stays 2.0 while OLS is dragged off it."""
    from hadoop_coded_wordcount_spark.operators import relational as rel

    rows = []
    oid = 0
    for mth in range(12):
        n = 10 + 2 * mth
        if mth == 6:
            n = 500  # corrupted month
        for _ in range(n):
            oid += 1
            rows.append((oid, f"1995-{mth + 1:02d}-15"))
    orders = spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderdate string"
    ).withColumn("o_orderdate", __import__("pyspark.sql.functions", fromlist=["F"]).to_timestamp("o_orderdate"))
    got = rel.theil_sen_monthly(orders).collect()[0]
    assert got.n_months == 12 and got.n_pairs == 66
    assert got.theil_sen_slope == 2.0
    assert abs(got.ols_slope - 2.0) > 1  # OLS dragged well off the trend


def test_stump_split_separable_threshold(spark):
    """Perfect separation at price 100: the stump finds the boundary
    value and the split is pure (gain = parent entropy)."""
    from hadoop_coded_wordcount_spark.operators import relational as rel
    import math

    rows = [(i, "1-URGENT", 50.0 + i) for i in range(10)] + [
        (100 + i, "5-LOW", 200.0 + i) for i in range(10)
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderpriority string, o_totalprice double"
    )
    got = rel.stump_split_priority(orders).collect()[0]
    assert got.split_value == 59.0  # last hi-class value
    assert (got.n_left, got.n_right) == (10, 10)
    assert (got.hi_left, got.hi_right) == (10, 0)
    # pure split: gain == parent entropy == ln 2 (rounded per term)
    assert got.info_gain == float(-2 * round(0.5 * math.log(0.5), 6))


# --- Hard-sigmoid logistic gradient descent -------------------------------


def test_logistic_gd_learns_separable_labels(spark):
    """Price-separable labels: 'F' iff the order total is large. Four
    fixed-point GD rounds must produce a positive price weight and
    classify the training set perfectly."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    rows = []
    for i in range(20):
        big = i % 2 == 0
        rows.append(
            (
                i,
                1,
                "F" if big else "O",
                400000.0 if big else 20000.0,
                None,
                "3-MEDIUM",
            )
        )
    orders = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    r = ml.logistic_gd(orders).collect()[0]
    assert r.train_accuracy == 1.0
    assert r.w_price > 0
    assert r.n == 20


def test_logistic_gd_zero_iterations_predicts_negative(spark):
    """With iters=0 the weights stay 0, z=0 is classified as the
    negative class — accuracy equals the non-'F' share."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    rows = [
        (0, 1, "F", 100.0, None, "1-URGENT"),
        (1, 1, "O", 100.0, None, "1-URGENT"),
        (2, 1, "P", 100.0, None, "1-URGENT"),
        (3, 1, "O", 100.0, None, "1-URGENT"),
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    r = ml.logistic_gd(orders, iters=0).collect()[0]
    assert r.train_accuracy == 0.75
    assert (r.w_intercept, r.w_price, r.w_priority) == (0.0, 0.0, 0.0)


def test_logistic_gd_matches_oracle(spark):
    res = compare("logistic_gd", spark, SF001, verbose=True)
    assert res["rows"] and res["schema"] and res["exact"], res


def test_logistic_gd_empty_orders_gives_no_rows(spark, tmp_path):
    """Zero orders: every round's gradient is NULL, so the weights the
    driver carries between rounds are None — the fit still runs and
    returns no rows."""
    load_table(spark, SF001, "orders").limit(0).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    orders = load_table(spark, str(tmp_path), "orders")
    assert ml.logistic_gd(orders).collect() == []


def _sf001(spark, table):
    return load_table(spark, SF001, table)


# iterative operators by name, each called with (spark, rounds) on sf0.01
ROUND_LOOPS = {
    "logistic_gd": lambda s, r: ml.logistic_gd(
        _sf001(s, "orders"), iters=r
    ),
    "huber_irls": lambda s, r: ml.huber_irls(_sf001(s, "lineitem"), r),
    "fellegi_sunter_em": lambda s, r: ml.fellegi_sunter_em(
        _sf001(s, "customer"), r
    ),
    "bradley_terry_sources": lambda s, r: ml.bradley_terry_sources(
        _sf001(s, "documents"), r
    ),
    "ipf_raking": lambda s, r: ml.ipf_raking(_sf001(s, "customer"), r),
    "als_rank1": lambda s, r: ml.als_rank1(
        _sf001(s, "orders"),
        _sf001(s, "lineitem"),
        _sf001(s, "part"),
        rounds=r,
    ),
    "pca_power_iteration": lambda s, r: sim.pca_power_iteration(
        _sf001(s, "embeddings"), n_iter=r
    ),
}


@pytest.mark.parametrize("name", list(ROUND_LOOPS))
def test_iterative_jobs_grow_linearly_with_rounds(spark, name):
    """A round that reads its state twice without a checkpoint nests the
    previous round's plan twice, and the job count doubles per round.
    Count the jobs of build + collect at 2, 3 and 4 rounds; the step
    from 3 to 4 may exceed the step from 2 to 3 only by a little."""
    sc = spark.sparkContext
    jobs = []
    for rounds in (2, 3, 4):
        group = f"rounds-{name}-{rounds}"
        sc.setJobGroup(group, group)
        try:
            ROUND_LOOPS[name](spark, rounds).collect()
        finally:
            sc._jsc.clearJobGroup()
            spark.catalog.clearCache()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[2] - jobs[1] <= jobs[1] - jobs[0] + 2, (name, jobs)


def test_ols_normal_equations_recovers_exact_plane(spark):
    """y = 10 + 2·lines + 3·qty exactly → Cramer solve returns the
    plane and R² = 1 (zero residuals)."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    line_rows, order_rows = [], []
    qty_plan = {0: [5], 1: [7, 2], 2: [1, 1, 20], 3: [9], 4: [4, 11], 5: [3, 3, 3]}
    for okey, qtys in qty_plan.items():
        x1, x2 = len(qtys), sum(qtys)
        order_rows.append(
            (okey, 1, "O", 10.0 + 2 * x1 + 3 * x2, None, "3-MEDIUM")
        )
        for j, q in enumerate(qtys):
            line_rows.append((okey, 1, 1, j, float(q), 1.0, 0.0, 0.0, "N", "O", None))
    orders = spark.createDataFrame(
        order_rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        line_rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    r = ml.ols_normal_equations(orders, lineitem).collect()[0]
    assert (r.beta0, r.beta_lines, r.beta_qty) == (10.0, 2.0, 3.0)
    assert r.r2 == 1.0 and r.n == 6


def test_silhouette_by_label_separated_clusters(spark):
    """Two tight, well-separated clusters → mean silhouette near 1 for
    both labels; a point exactly between them scores ~0."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    def vec(x, rest=0.0):
        return [float(x)] + [rest] * 63

    rows = [
        (0, vec(0.0), 0),
        (1, vec(0.2), 0),
        (2, vec(10.0), 1),
        (3, vec(10.2), 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = {r.label: r for r in ml.silhouette_by_label(emb).collect()}
    # own-centroid distance 0.1, other-centroid distance ~10 → s ≈ 0.99
    assert got[0].n == 2 and got[1].n == 2
    assert got[0].mean_silhouette > 0.98
    assert got[1].mean_silhouette > 0.98


def test_silhouette_by_label_overlapping_clusters_score_low(spark):
    """Identical label distributions → own and other centroid coincide,
    s = 0 for every point."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    rows = []
    for lab in (0, 1):
        rows.append((lab * 2, [1.0] + [0.0] * 63, lab))
        rows.append((lab * 2 + 1, [3.0] + [0.0] * 63, lab))
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = {r.label: r.mean_silhouette for r in ml.silhouette_by_label(emb).collect()}
    assert got == {0: 0.0, 1: 0.0}


def test_davies_bouldin_well_separated_is_small(spark):
    """Tight clusters far apart: scatter 0.1, centroid gap 10 → each
    db_component = (0.1+0.1)/10 = 0.02 exactly."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    def vec(x):
        return [float(x)] + [0.0] * 63

    rows = [
        (0, vec(-0.1), 0),
        (1, vec(0.1), 0),
        (2, vec(9.9), 1),
        (3, vec(10.1), 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = {r.label: r for r in ml.davies_bouldin(emb).collect()}
    assert got[0].scatter == 0.1 and got[1].scatter == 0.1
    assert got[0].db_component == 0.02 and got[1].db_component == 0.02


def test_gbm_stumps_perfect_split_halves_error(spark):
    """x1≤2 → y=100, x1≥3 → y=200, x2 constant: every round must pick
    the x1=2 split; with ν=0.5 each round halves the residual, so MSE
    follows 2500·4⁻ᵏ."""
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    order_rows, line_rows = [], []
    for okey, (x1, y) in enumerate([(1, 100.0), (2, 100.0), (3, 200.0), (4, 200.0)]):
        order_rows.append((okey, 1, "O", y, None, "3-MEDIUM"))
        for j in range(x1):
            # qty chosen so x2 = 12 for every order (constant feature)
            line_rows.append(
                (okey, 1, 1, j, 12.0 / x1, 1.0, 0.0, 0.0, "N", "O", None)
            )
    orders = spark.createDataFrame(
        order_rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        line_rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    rows = {r.round: r for r in ml.gbm_stumps(orders, lineitem).collect()}
    r1 = rows[1]
    assert (r1.feature, r1.threshold) == ("x1", 2.0)
    assert (r1.add_left, r1.add_right) == (-25.0, 25.0)
    assert r1.mse == 625.0
    assert rows[2].mse == 156.25
    assert rows[3].mse == 39.0625


def test_isotonic_calibration_pools_violators(spark):
    """Construct scores with rates [1.0, 0.0] on equal weights: isotonic
    fit pools the adjacent violators to [0.5, 0.5]; a higher clean
    score stays at its own rate."""
    import datetime
    from hadoop_coded_wordcount_spark.operators import mleval as ml

    t = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def user(u, clicks, spender):
        nonlocal eid
        for _ in range(clicks):
            rows.append((eid, t, u, "click", 1.0)); eid += 1
        if spender:
            rows.append((eid, t, u, "purchase", 100.0)); eid += 1
        else:
            rows.append((eid, t, u, "view", 1.0)); eid += 1

    # score 1: both users spend (rate 1.0) — violator vs score 2's 0.0
    user(1, 1, True); user(2, 1, True)
    # score 2: neither spends (rate 0.0)
    user(3, 2, False); user(4, 2, False)
    # score 5: both spend (rate 1.0) — clean top
    user(5, 5, True); user(6, 5, True)
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double",
    )
    got = {r.score: r for r in ml.isotonic_calibration(ev).collect()}
    assert got[1].raw_rate == 1.0 and got[2].raw_rate == 0.0
    assert got[1].iso_rate == 0.5 and got[2].iso_rate == 0.5
    assert got[5].iso_rate == 1.0
    # monotone non-decreasing by construction
    rates = [got[s].iso_rate for s in sorted(got)]
    assert rates == sorted(rates)
