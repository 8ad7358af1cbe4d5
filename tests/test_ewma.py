"""EWMA operator vs pandas reference."""

import numpy as np
import pandas as pd
import pytest

from time_sift_spark.errors import ColumnNotFoundError
from time_sift_spark.operators.ewma import ewma


def test_ewma_matches_pandas(spark):
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame(
        {
            "k": np.repeat([1, 2], 50),
            "t": np.tile(np.arange(50, dtype="int64"), 2),
            "v": rng.randn(100),
        }
    )
    out = ewma(spark.createDataFrame(pdf), "v", "t", 0.3, partition_by="k").orderBy("k", "t").toPandas()
    for k in (1, 2):
        expected = pdf[pdf.k == k].sort_values("t").v.ewm(alpha=0.3, adjust=False).mean()
        np.testing.assert_allclose(out[out.k == k].v_ewma.to_numpy(), expected.to_numpy(), rtol=1e-12)


def test_ewma_validation(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": [1], "t": [0], "v": [1.0]}))
    with pytest.raises(ValueError):
        ewma(df, "v", "t", 0.0, partition_by="k")
    with pytest.raises(ColumnNotFoundError):
        ewma(df, "nope", "t", 0.5, partition_by="k")


def test_ewma_scan_equals_groupwise(spark):
    """The partition scan (mapInPandas + cross-batch holdback) must be
    bit-identical to a per-key pandas ewm, including when a tiny Arrow
    batch size forces keys to split across batches (the holdback
    path)."""
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "k": np.repeat(np.arange(20), 30),
            "t": np.tile(np.arange(30), 20),
            "v": rng.randn(600),
        }
    )
    df = spark.createDataFrame(pdf)
    with _tiny_arrow_batches(spark):
        b = (
            ewma(df, "v", "t", 0.3, partition_by="k")
            .orderBy("k", "t")
            .toPandas()
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(_pandas_ewma(df, 0.3, ["k", "t"]), b)


from contextlib import contextmanager


@contextmanager
def _tiny_arrow_batches(spark, n="7"):
    """Pin a tiny Arrow batch size and RESTORE it (unset if it was unset —
    conf.get(key, None) returning None must not skip cleanup, or the 7-row
    batches leak into every later test on the shared session)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, n)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _pandas_ewma(df, alpha, order_by):
    """Ground truth: per-key pandas ``ewm(adjust=False)`` over the input
    rows as Spark returns them — each key in ``t`` order with NULLs first
    (Spark's ascending sort), NULL keys one group — ordered by
    ``order_by`` like the result under test."""
    pdf = df.toPandas()
    by_t = pdf.sort_values("t", kind="mergesort", na_position="first")
    pdf["v_ewma"] = (
        by_t.groupby("k", sort=False, dropna=False)["v"]
        .ewm(alpha=alpha, adjust=False)
        .mean()
        .reset_index(level=0, drop=True)
    )
    return pdf.sort_values(order_by, kind="mergesort", na_position="first").reset_index(drop=True)


def test_ewma_scan_nan_across_batch_boundary(spark):
    """Regression (code-review r2): pandas ewm(adjust=False,
    ignore_na=False) carries an accumulated-weight state across NaNs that
    a carried last-output scalar cannot represent. The holdback design
    computes every key in ONE ewm call, so NaN before a batch boundary
    must still match the per-key pandas ewm exactly."""
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 1, 2, 2, 2],
            "t": [0, 1, 2, 3, 0, 1, 2],
            "v": [1.0, np.nan, 3.0, 4.0, np.nan, 5.0, np.nan],
        }
    )
    df = spark.createDataFrame(pdf)
    with _tiny_arrow_batches(spark, "2"):  # boundary right after the NaN
        b = (
            ewma(df, "v", "t", 0.3, partition_by="k")
            .orderBy("k", "t")
            .toPandas()
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(_pandas_ewma(df, 0.3, ["k", "t"]), b)


def test_ewma_scan_null_keys(spark):
    """NULL partition keys form one group in Spark's groupBy; the scan
    must match (groupby dropna=False), not crash on a length mismatch."""
    pdf = pd.DataFrame(
        {
            "k": pd.array([1, None, None, 2], dtype="Int64"),
            "t": [0, 0, 1, 0],
            "v": [1.0, 2.0, 4.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    b = (
        ewma(df, "v", "t", 0.5, partition_by="k")
        .orderBy("t", "v")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(_pandas_ewma(df, 0.5, ["t", "v"]), b)


def test_ewma_strategies_align_on_null_order_values(spark):
    """NULL time/order values sort first within a key (advisor r2): the
    scan's Spark ascending NULLS FIRST must equal pandas'
    na_position='first'."""
    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1, 1, 2, 2],
            "t": pd.array([2, None, 0, 1, None, 0], dtype="Int64"),
            "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    df = spark.createDataFrame(pdf)
    b = (
        ewma(df, "v", "t", 0.4, partition_by="k")
        .orderBy("k", "v")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(_pandas_ewma(df, 0.4, ["k", "v"]), b)


def test_ewma_horizon_full_history_matches_pandas(spark):
    """With horizon >= series length the truncated fold IS the exact
    adjust=False recurrence — pin it against pandas ewm."""
    import numpy as np
    import pandas as pd

    from time_sift_spark.operators.ewma import ewma_horizon

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "k": np.repeat([1, 2], 30),
            "t": np.tile(np.arange(30, dtype="int64"), 2),
            "v": rng.rand(60) * 10,
        }
    )
    out = (
        ewma_horizon(
            spark.createDataFrame(pdf), "v", "t", partition_by="k",
            alpha=0.3, horizon=100,
        )
        .orderBy("k", "t")
        .toPandas()
    )
    expect = pdf.sort_values(["k", "t"]).groupby("k").v.transform(
        lambda s: s.ewm(alpha=0.3, adjust=False).mean()
    )
    np.testing.assert_allclose(out.v_ewma100.to_numpy(), expect.to_numpy(), rtol=1e-12)


def test_ewma_horizon_truncation_bounds_memory(spark):
    """A value older than the horizon must have NO influence at all."""
    import numpy as np
    import pandas as pd

    from time_sift_spark.operators.ewma import ewma_horizon

    base = pd.DataFrame({"k": 1, "t": np.arange(10, dtype="int64"), "v": [5.0] * 10})
    spiked = base.copy()
    spiked.loc[0, "v"] = 1e9  # only the FIRST row differs
    kw = dict(partition_by="k", alpha=0.5, horizon=3)
    a = ewma_horizon(spark.createDataFrame(base), "v", "t", **kw).orderBy("t").toPandas()
    b = ewma_horizon(spark.createDataFrame(spiked), "v", "t", **kw).orderBy("t").toPandas()
    # from row 3 on, the spike has left the 3-row window entirely
    assert a.v_ewma3.iloc[3:].tolist() == b.v_ewma3.iloc[3:].tolist()
    assert a.v_ewma3.iloc[0] != b.v_ewma3.iloc[0]


def test_ewma_horizon_null_values_skipped_cross_engine(spark):
    """NULL values are SKIPPED identically on both engines (ADVICE r5:
    collect_list drops nulls while DuckDB's bare list() keeps them — the
    oracle must FILTER). Pin the Spark fold against the exact DuckDB
    formulation the registered oracle uses, on data WITH nulls."""
    import duckdb
    import pandas as pd

    from time_sift_spark.operators.ewma import ewma_horizon

    pdf = pd.DataFrame(
        {
            "k": [1] * 6 + [2] * 3,
            "t": list(range(6)) + list(range(3)),
            "v": [1.0, None, 3.0, None, None, 6.0, None, None, None],
        }
    )
    out = (
        ewma_horizon(spark.createDataFrame(pdf), "v", "t", partition_by="k", alpha=0.2, horizon=3)
        .orderBy("k", "t")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("tt", pdf)
    odf = con.execute(
        """
        SELECT k, t,
               CASE WHEN coalesce(len(l), 0) = 0 THEN NULL
                    ELSE list_reduce(l, (acc, x) -> acc * CAST(0.8 AS DOUBLE) + CAST(0.2 AS DOUBLE) * x)
               END AS v_ewma3
        FROM (
          SELECT k, t,
                 list(v) FILTER (WHERE v IS NOT NULL)
                     OVER (PARTITION BY k ORDER BY t ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS l
          FROM tt
        ) ORDER BY k, t
        """
    ).df()
    a = out["v_ewma3"].to_numpy(dtype=float)
    b = odf["v_ewma3"].to_numpy(dtype=float)
    assert len(a) == len(b) == 9
    assert ((a == b) | (np.isnan(a) & np.isnan(b))).all(), (a, b)
    # key 2 is all-null: every row must be NULL, not 0.0 or an error
    assert np.isnan(a[6:]).all()


def test_brown_scan_matches_scalar_recurrence(spark):
    """brown_scan vs an explicit per-key scalar Brown recurrence —
    bit-exact (the cross-engine contract the oracle relies on)."""
    from time_sift_spark.operators.ewma import brown_scan

    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "k": np.repeat([1, 2, 3], 40),
            "t": np.tile(np.arange(40, dtype="int64"), 3),
            "v": rng.randn(120) * 10.0,
        }
    )
    a = 0.3
    out = (
        brown_scan(spark.createDataFrame(pdf), "v", "t", a, partition_by="k")
        .orderBy("k", "t")
        .toPandas()
    )
    coef = np.float64(a) / (np.float64(1.0) - np.float64(a))
    for k in (1, 2, 3):
        sub = pdf[pdf.k == k].sort_values("t")
        got = out[out.k == k]
        s1 = s2 = None
        exp_l, exp_t, exp_f = [], [], []
        for x in sub.v.to_numpy():
            if s1 is None:
                s1, s2 = np.float64(x), np.float64(x)
            else:
                # same IEEE op order as pandas' adjust=False kernel
                s1 = (np.float64(1.0) - np.float64(a)) * s1 + np.float64(a) * np.float64(x)
                s2 = (np.float64(1.0) - np.float64(a)) * s2 + np.float64(a) * s1
            lev = np.float64(2.0) * s1 - s2
            tr = coef * (s1 - s2)
            exp_l.append(lev)
            exp_t.append(tr)
            exp_f.append(lev + tr)
        assert got.v_level.to_numpy().tolist() == exp_l
        assert got.v_trend.to_numpy().tolist() == exp_t
        assert got.v_fcst.to_numpy().tolist() == exp_f


def test_brown_scan_trend_tracks_linear_ramp(spark):
    """On a noiseless linear ramp the Brown trend estimate converges to
    the true slope and the one-step forecast to the next value."""
    from time_sift_spark.operators.ewma import brown_scan

    slope = 2.5
    pdf = pd.DataFrame(
        {
            "k": np.zeros(200, dtype="int64"),
            "t": np.arange(200, dtype="int64"),
            "v": slope * np.arange(200, dtype="float64") + 7.0,
        }
    )
    out = (
        brown_scan(spark.createDataFrame(pdf), "v", "t", 0.3, partition_by="k")
        .orderBy("t")
        .toPandas()
    )
    tail = out.iloc[-1]
    assert abs(tail.v_trend - slope) < 1e-6
    assert abs(tail.v_fcst - (slope * 200 + 7.0)) < 1e-5


def test_streaming_ewma_seeded_continuation_bit_exact():
    """The streaming operator's whole correctness claim at the kernel
    level: running ewm(adjust=False) on a chunk PREPENDED with the
    carried last smoothed value, then dropping row 0, is BIT-identical
    to one uninterrupted pass over the concatenated series — for any
    chunking.  (streaming/lag_stream.py:streaming_ewma; the recurrence
    y_t = (1-a)*y_{t-1} + a*x_t depends only on (y_{t-1}, x_t), and
    step 0 of pandas' ewm IS the seed.)"""
    rng = np.random.RandomState(17)
    x = pd.Series(rng.randn(257))
    full = x.ewm(alpha=0.3, adjust=False).mean()
    for cuts in ([64, 130, 200], [1, 2, 3], [256]):
        got = []
        prev = None
        lo = 0
        for hi in [*cuts, len(x)]:
            chunk = x.iloc[lo:hi].reset_index(drop=True)
            if prev is None:
                y = chunk.ewm(alpha=0.3, adjust=False).mean()
            else:
                seeded = pd.concat(
                    [pd.Series([prev], dtype="float64"), chunk], ignore_index=True
                )
                y = seeded.ewm(alpha=0.3, adjust=False).mean().iloc[1:]
            got.append(y.reset_index(drop=True))
            prev = float(y.iloc[-1])
            lo = hi
        cat = pd.concat(got, ignore_index=True)
        assert (cat.to_numpy() == full.to_numpy()).all(), cuts
