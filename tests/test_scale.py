"""Halo-bucketed global lag ≡ naive global window, and plan-quality
assertions (the 100 TB design checks: pushdown, pruning, shuffle count)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from time_sift_spark.operators.lag import lag_features
from time_sift_spark.operators.scale import lag_features_global


def _compare_global(spark, values, lags, num_buckets):
    n = len(values)
    pdf = pd.DataFrame({"t": np.arange(n, dtype="int64"), "v": np.asarray(values, dtype="float64")})
    df = spark.createDataFrame(pdf)
    naive = lag_features(df, "v", "t", lags).orderBy("t").toPandas()
    halo = (
        lag_features_global(df, "v", "t", lags, num_buckets=num_buckets)
        .orderBy("t")
        .toPandas()[naive.columns]
    )
    pd.testing.assert_frame_equal(halo, naive)


def test_global_lag_basic(spark):
    _compare_global(spark, list(np.arange(500.0)), [1, 7, 30], 8)


def test_global_lag_more_buckets_than_rows(spark):
    _compare_global(spark, [1.0, 2.0, 3.0], [1], 32)


def test_global_lag_heavy_duplicates(spark):
    # constant + repeated timestamps stress boundary assignment
    rng = np.random.RandomState(0)
    vals = rng.choice([1.0, 2.0, 3.0], size=300)
    _compare_global(spark, list(vals), [1, 5], 8)


_spark_ref = [None]


def _session():
    if _spark_ref[0] is None:
        from time_sift_spark.session import get_spark

        _spark_ref[0] = get_spark("time_sift_spark_tests", master="local[4]", shuffle_partitions=4)
    return _spark_ref[0]


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32), min_size=2, max_size=200),
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=2, max_value=16),
)
def test_global_lag_property(values, max_lag, buckets):
    _compare_global(_session(), values, list(range(1, max_lag + 1)), buckets)


# ---------------------------------------------------------------------------
# plan quality
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_column_pruning_reaches_scan(spark):
    from time_sift_spark.sources.catalog import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.001")
    df = lag_features(
        li, "l_extendedprice", "l_shipdate", [1], partition_by="l_partkey"
    )
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 3 needed columns are read from parquet, not all 11
    assert "l_extendedprice" in read_schema and "l_partkey" in read_schema
    assert "l_quantity" not in read_schema and "l_returnflag" not in read_schema


def test_filter_pushdown_reaches_scan(spark):
    from time_sift_spark.sources.catalog import load_table

    li = load_table(spark, "lineitem", "/root/testdata/sf0.001").where("l_partkey = 7")
    plan = _plan(lag_features(li, "l_quantity", "l_shipdate", [1], partition_by="l_partkey"))
    assert "PushedFilters: [" in plan and "EqualTo(l_partkey,7" in plan


def test_knn_broadcasts_small_side(spark):
    from time_sift_spark.queries import REGISTRY

    plan = _plan(REGISTRY["knn_cosine_topk"].spark_fn(spark, "/root/testdata/sf0.001"))
    assert "Broadcast" in plan  # 8-row query side must broadcast, not shuffle


def test_global_lag_no_single_partition_window(spark):
    # the halo plan must contain NO un-partitioned window (SinglePartition
    # exchange feeding a Window) — that's exactly the cliff it removes
    df = spark.range(0, 10000).selectExpr("id AS t", "CAST(id AS DOUBLE) AS v")
    plan = _plan(lag_features_global(df, "v", "t", [3], num_buckets=8))
    windows = [seg for seg in plan.split("\n") if "Window" in seg and "windowspec" not in seg]
    assert "SinglePartition" not in plan, plan
    assert windows, "expected Window nodes in plan"


# ---------------------------------------------------------------------------
# per-hot-key halo decomposition
# ---------------------------------------------------------------------------


def _compare_hotkey(spark, pdf, lags, *, hot_threshold, num_buckets):
    df = spark.createDataFrame(pdf)
    from time_sift_spark.operators.scale import lag_features_hotkey

    naive = (
        lag_features(df, "v", "t", lags, partition_by="k")
        .orderBy("k", "t")
        .toPandas()
        .reset_index(drop=True)
    )
    hot = (
        lag_features_hotkey(
            df, "v", "t", lags, partition_by="k",
            hot_threshold=hot_threshold, num_buckets=num_buckets,
        )
        .orderBy("k", "t")
        .toPandas()[naive.columns]
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(hot, naive)


def _skewed_frame(n_hot=400, n_cold_keys=6, rows_per_cold=7, seed=0):
    rng = np.random.RandomState(seed)
    ks, ts, vs = [], [], []
    t = 0
    for k in range(1, n_cold_keys + 1):
        for _ in range(rows_per_cold):
            ks.append(k); ts.append(t); vs.append(float(rng.randn())); t += 1
    for _ in range(n_hot):  # key 0 is pathologically hot
        ks.append(0); ts.append(t); vs.append(float(rng.randn())); t += 1
    return pd.DataFrame({"k": np.array(ks, dtype="int64"),
                         "t": np.array(ts, dtype="int64"),
                         "v": np.array(vs, dtype="float64")})


def test_hotkey_lag_equals_naive_on_skew(spark):
    _compare_hotkey(spark, _skewed_frame(), [1, 5, 30],
                    hot_threshold=100, num_buckets=8)


def test_hotkey_lag_all_cold(spark):
    # nothing crosses the threshold → pure per-key window path
    _compare_hotkey(spark, _skewed_frame(n_hot=20), [1, 3],
                    hot_threshold=1000, num_buckets=8)


def test_hotkey_lag_short_key_below_max_lag(spark):
    # a cold key shorter than max_lag must be all-NULL beyond its length,
    # identically in both paths
    _compare_hotkey(spark, _skewed_frame(n_hot=200, rows_per_cold=2), [1, 5],
                    hot_threshold=50, num_buckets=4)


def test_hotkey_lag_null_keys_stay_cold(spark):
    pdf = _skewed_frame(n_hot=150)
    pdf.loc[pdf.index[:5], "k"] = pd.NA
    pdf["k"] = pdf["k"].astype("Int64")
    _compare_hotkey(spark, pdf, [1, 2], hot_threshold=50, num_buckets=4)


def test_hotkey_lag_fill_and_multi_hot(spark):
    # two hot keys + fill value; interleaved timestamps
    rng = np.random.RandomState(3)
    n = 500
    pdf = pd.DataFrame({
        "k": rng.choice([0, 1, 2], size=n, p=[0.45, 0.45, 0.1]).astype("int64"),
        "t": np.arange(n, dtype="int64"),
        "v": rng.randn(n),
    })
    from time_sift_spark.operators.scale import lag_features_hotkey

    df = _session().createDataFrame(pdf)
    naive = (
        lag_features(df, "v", "t", [1, 7], partition_by="k", fill=float("inf"))
        .orderBy("k", "t").toPandas().reset_index(drop=True)
    )
    hot = (
        lag_features_hotkey(df, "v", "t", [1, 7], partition_by="k",
                            fill=float("inf"), hot_threshold=100, num_buckets=8)
        .orderBy("k", "t").toPandas()[naive.columns].reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(hot, naive)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.floats(allow_nan=False, allow_infinity=False, width=32), min_size=2, max_size=120),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=2, max_value=40),
)
def test_hotkey_lag_property(values, max_lag, buckets, hot_threshold):
    # keys round-robin over 3 series; whichever crosses hot_threshold
    # takes the halo path, the rest stay cold — result must always equal
    # the naive per-key window
    n = len(values)
    pdf = pd.DataFrame({
        "k": (np.arange(n) % 3).astype("int64"),
        "t": np.arange(n, dtype="int64"),
        "v": np.asarray(values, dtype="float64"),
    })
    _compare_hotkey(_session(), pdf, list(range(1, max_lag + 1)),
                    hot_threshold=hot_threshold, num_buckets=buckets)


def test_hotkey_lag_no_single_key_partition_window(spark):
    # the hot key's window must be keyed by (k, _bucket), not k alone
    from time_sift_spark.operators.scale import lag_features_hotkey

    pdf = _skewed_frame(n_hot=2000)
    df = spark.createDataFrame(pdf)
    out = lag_features_hotkey(df, "v", "t", [3], partition_by="k",
                              hot_threshold=500, num_buckets=8)
    plan = _plan(out)
    assert "_bucket" in plan  # halo windows present
    assert "SinglePartition" not in plan


# --------------------------------------------------------------------------
# Salted join
# --------------------------------------------------------------------------


def _plain_sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_salted_join_equals_plain_inner(spark):
    from time_sift_spark.operators.scale import salted_join

    # skewed left: key 1 dominates; duplicate keys on both sides
    left = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 100), (3, 101), (3, 102)],
        "k long, lv long",
    )
    right = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (4, "d")], "k long, rv string"
    )
    cols = ["k", "lv", "rv"]
    got = salted_join(left, right, "k", salt=4)
    want = left.join(right, "k")
    assert _plain_sorted(got, cols) == _plain_sorted(want, cols)


def test_salted_join_left_outer_multiplicity(spark):
    from time_sift_spark.operators.scale import salted_join

    left = spark.createDataFrame([(1, 10), (9, 11), (9, 12)], "k long, lv long")
    right = spark.createDataFrame([(1, "x"), (1, "y")], "k long, rv string")
    cols = ["k", "lv", "rv"]
    got = salted_join(left, right, "k", salt=3, how="left")
    want = left.join(right, "k", "left")
    assert _plain_sorted(got, cols) == _plain_sorted(want, cols)


def test_salted_join_plan_joins_on_salted_key(spark):
    from time_sift_spark.operators.scale import salted_join

    left = spark.createDataFrame([(1, 10)], "k long, lv long")
    right = spark.createDataFrame([(1, "x")], "k long, rv string")
    plan = (
        salted_join(left, right, "k", salt=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "_salt" in plan  # the join condition carries the salt column
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_salted_join_validation(spark):
    import pytest

    from time_sift_spark.errors import ColumnNotFoundError
    from time_sift_spark.operators.scale import salted_join

    left = spark.createDataFrame([(1, 10)], "k long, lv long")
    right = spark.createDataFrame([(1, "x")], "k long, rv string")
    with pytest.raises(ColumnNotFoundError):
        salted_join(left, right, "nope")
    with pytest.raises(ValueError):
        salted_join(left, right, "k", salt=0)
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full")


def test_zvalue_interleave_known_bits():
    """Closed-form Morton checks: (x,y)=(0,0)→0, (1,0)→2, (0,1)→1,
    (3,3)→15, (255,255)→65535 — and engines agree on a full 16×16 grid.
    """
    import duckdb
    import pandas as pd

    from time_sift_spark.functions.text_fns import DUCK
    from time_sift_spark.operators.scale import zvalue_expr

    con = duckdb.connect()
    grid = pd.DataFrame(
        [(x, y) for x in range(16) for y in range(16)], columns=["x", "y"]
    )
    con.register("g", grid)
    out = con.execute(
        f"SELECT x, y, {zvalue_expr(DUCK, 'x', 'y')} AS z FROM g"
    ).df()
    zmap = {(r.x, r.y): r.z for r in out.itertuples()}
    assert zmap[(0, 0)] == 0
    assert zmap[(1, 0)] == 2
    assert zmap[(0, 1)] == 1
    assert zmap[(3, 3)] == 15
    assert len(set(zmap.values())) == 256  # bijective on the grid


def test_zvalue_cross_engine_and_block_clustering(spark):
    import duckdb
    import pandas as pd

    from time_sift_spark.functions.text_fns import DUCK, SPARK
    from time_sift_spark.operators.scale import zorder_block_stats_sql

    pdf = pd.DataFrame(
        [(i % 256, (i * 37) % 256) for i in range(4096)], columns=["bx", "yb"]
    )
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("_zt")
    got = spark.sql(zorder_block_stats_sql(SPARK, "_zt", "bx", "yb")).toPandas()
    con = duckdb.connect()
    con.register("_zt", pdf)
    exp = con.execute(zorder_block_stats_sql(DUCK, "_zt", "bx", "yb")).df()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), exp.reset_index(drop=True), check_dtype=False
    )
    # blocks of 64 z-values cover at most an 8x8 tile: spans bounded by 7
    assert (got.x_span <= 7).all() and (got.y_span <= 7).all()


# --------------------------------------------------------------------------
# Lazy halo kernel: ties, bursts, short and empty buckets, no eager jobs
# --------------------------------------------------------------------------


def _tie_burst_frame(seed=5):
    """Key 0 is hot: most of its rows share one timestamp (ties broken by
    ``seq``), then a late burst over three timestamps.  Its equi-depth
    bounds collapse onto the tied values, so some buckets hold fewer
    rows than max_lag and the last one is empty.  Keys 1-3 are cold; a
    few rows have a NULL key."""
    rng = np.random.RandomState(seed)
    hot_t = np.r_[np.full(300, 100), rng.randint(0, 200, 40), 10_000 + np.arange(120) // 40]
    cold_k = rng.randint(1, 4, 60)
    pdf = pd.DataFrame({
        "k": np.r_[np.zeros(len(hot_t), dtype="int64"), cold_k],
        "t": np.r_[hot_t, rng.randint(0, 300, len(cold_k))].astype("int64"),
    })
    pdf["seq"] = rng.permutation(len(pdf)).astype("int64")
    pdf["v"] = rng.randn(len(pdf))
    pdf["k"] = pdf["k"].astype("Int64")
    pdf.loc[pdf.index[-4:], "k"] = pd.NA
    return pdf


_TIE_LAGS = [3, 0, 1, 12, 3]  # lag 0 and a duplicate lag


def _sorted_pdf(df, cols):
    return df.orderBy(*cols).toPandas().reset_index(drop=True)


@pytest.mark.parametrize("fill", [None, float("inf")])
def test_hotkey_lag_ties_and_burst_equal_plain_window(spark, fill):
    from time_sift_spark.operators.scale import lag_features_hotkey

    df = spark.createDataFrame(_tie_burst_frame())
    naive = _sorted_pdf(
        lag_features(df, "v", "t", _TIE_LAGS, partition_by="k", order_extra="seq", fill=fill),
        ["k", "t", "seq"],
    )
    hot = _sorted_pdf(
        lag_features_hotkey(df, "v", "t", _TIE_LAGS, partition_by="k", order_extra="seq",
                            fill=fill, hot_threshold=100, num_buckets=16),
        ["k", "t", "seq"],
    )
    pd.testing.assert_frame_equal(hot[naive.columns], naive)


@pytest.mark.parametrize("fill", [None, float("inf")])
def test_global_lag_ties_and_burst_equal_plain_window(spark, fill):
    pdf = _tie_burst_frame().drop(columns="k")
    df = spark.createDataFrame(pdf)
    naive = _sorted_pdf(
        lag_features(df, "v", "t", _TIE_LAGS, order_extra="seq", fill=fill), ["t", "seq"]
    )
    halo = _sorted_pdf(
        lag_features_global(df, "v", "t", _TIE_LAGS, order_extra="seq", fill=fill,
                            num_buckets=32),
        ["t", "seq"],
    )
    pd.testing.assert_frame_equal(halo[naive.columns], naive)


def test_halo_lag_calls_submit_no_job(spark):
    from time_sift_spark.operators.scale import lag_features_hotkey

    df = spark.createDataFrame(_tie_burst_frame())
    tracker = spark.sparkContext.statusTracker()
    before = sorted(tracker.getJobIdsForGroup(None))
    lag_features_hotkey(df, "v", "t", [1, 5], partition_by="k", order_extra="seq",
                        hot_threshold=100, num_buckets=8)
    lag_features_global(df.drop("k"), "v", "t", [1, 5], order_extra="seq", num_buckets=8)
    assert sorted(tracker.getJobIdsForGroup(None)) == before


def test_hotkey_large_key_reuses_one_bounds_broadcast(spark):
    # 80k hot rows over 4 input partitions: each partial sketch holds
    # 20k values, so merging them compresses and the bounds depend on
    # merge order.  Real and halo rows must read one broadcast of them.
    from time_sift_spark.operators.scale import lag_features_hotkey

    df = spark.range(0, 100_000, numPartitions=4).selectExpr(
        "CASE WHEN id % 5 = 0 THEN id ELSE 0 END AS k", "id DIV 7 AS t", "id AS seq",
        "CAST(id % 97 AS DOUBLE) AS v",
    )
    out = lag_features_hotkey(df, "v", "t", [1, 3], partition_by="k", order_extra="seq",
                              hot_threshold=1000, num_buckets=16)
    out._jdf.queryExecution().toRdd().count()  # runs out's own plan, final
    final = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    # one broadcast of the stats frame, read again by the other branch
    assert final.count("+- BroadcastExchange") == 1, final
    assert "ReusedExchange [k#" in final and "], BroadcastExchange" in final, final
    naive = lag_features(df, "v", "t", [1, 3], partition_by="k", order_extra="seq")
    assert out.exceptAll(naive.select(*out.columns)).count() == 0
    assert naive.select(*out.columns).exceptAll(out).count() == 0


def test_halo_lag_refuses_without_exchange_reuse(spark):
    from time_sift_spark.operators.scale import lag_features_hotkey

    df = spark.createDataFrame(_tie_burst_frame())
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        with pytest.raises(RuntimeError, match="exchange.reuse"):
            lag_features_hotkey(df, "v", "t", [1], partition_by="k", hot_threshold=100)
        with pytest.raises(RuntimeError, match="exchange.reuse"):
            lag_features_global(df.drop("k"), "v", "t", [1])
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")
