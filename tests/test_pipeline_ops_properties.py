"""Property tests for the round-2 pipeline operators (TWA, latest-snapshot,
stratified sampling) against local pandas/numpy semantic models."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_spark = None


def _get_session():
    global _spark
    if _spark is None:
        from time_sift_spark.session import get_spark

        _spark = get_spark("time_sift_spark_tests", master="local[4]", shuffle_partitions=4)
    return _spark


@st.composite
def keyed_series(draw):
    n = draw(st.integers(min_value=1, max_value=60))
    keys = draw(st.lists(st.integers(min_value=0, max_value=4), min_size=n, max_size=n))
    # µs timestamps with deliberate tie potential (coarse grid)
    ts = draw(
        st.lists(st.integers(min_value=0, max_value=20), min_size=n, max_size=n)
    )
    vals = draw(
        st.lists(
            st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=n, max_size=n
        )
    )
    return keys, ts, vals


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(keyed_series())
def test_twa_matches_pandas_model(case):
    from time_sift_spark.operators.rolling import time_weighted_avg

    keys, ts, vals = case
    spark = _get_session()
    pdf = pd.DataFrame(
        {
            "k": keys,
            "t": pd.to_datetime([t * 1_000_000 for t in ts], unit="us", utc=True),
            "eid": range(len(keys)),
            "v": vals,
        }
    )
    got = (
        time_weighted_avg(
            spark.createDataFrame(pdf), "v", "t", partition_by="k", order_extra=("eid",)
        )
        .toPandas()
        .set_index("k")
        .sort_index()
    )

    # local model: sort by (t, eid) per key, dt to next row, drop dt<=0.
    # Rounding must be HALF_UP on the shortest-repr decimal — what Spark's
    # BigDecimal.valueOf(double) and DuckDB ROUND do; Python's round() is
    # banker's and disagrees exactly on .00005 boundaries (hypothesis
    # found 1.40625 -> 1.4063 vs 1.4062).
    from decimal import ROUND_HALF_UP, Decimal

    def _round4(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    expect = {}
    for k, g in pdf.sort_values(["t", "eid"], kind="mergesort").groupby("k"):
        t_us = g.t.astype("int64").to_numpy() // 1000  # ns -> µs
        dt = np.diff(t_us)
        v = g.v.to_numpy()[:-1]
        m = dt > 0
        if m.any():
            expect[k] = (_round4(float((v[m] * dt[m]).sum() / dt[m].sum())), int(m.sum()))
    assert sorted(got.index.tolist()) == sorted(expect)
    for k, (twa, n) in expect.items():
        assert got.loc[k, "n_intervals"] == n
        assert abs(got.loc[k, "time_weighted_avg"] - twa) < 1e-9, (k, twa)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(keyed_series())
def test_latest_per_key_matches_pandas_model(case):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    keys, ts, vals = case
    spark = _get_session()
    pdf = pd.DataFrame(
        {
            "k": keys,
            "t": pd.to_datetime([t * 1_000_000 for t in ts], unit="us", utc=True),
            "eid": range(len(keys)),
            "v": vals,
        }
    )
    w = Window.partitionBy("k").orderBy(F.desc("t"), F.desc("eid"))
    got = (
        spark.createDataFrame(pdf)
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .drop("rn")
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    expect = (
        pdf.sort_values(["t", "eid"], kind="mergesort")
        .groupby("k")
        .tail(1)
        .sort_values("k")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["k", "eid", "v"]], expect[["k", "eid", "v"]], check_dtype=False
    )


def test_stratified_sample_rates_and_determinism():
    """The registered stratified sample is (a) a strict subset, (b) exactly
    reproducible across runs/partitionings, (c) close to the target rate
    per class."""
    spark = _get_session()
    from time_sift_spark.queries import REGISTRY

    fn = REGISTRY["stratified_sample_events"].spark_fn
    a = fn(spark, "/root/testdata/sf0.01").toPandas().sort_values("event_id")
    b = fn(spark, "/root/testdata/sf0.01").toPandas().sort_values("event_id")
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))

    import duckdb

    full = duckdb.sql(
        "SELECT event_type, count(*) n FROM '/root/testdata/sf0.01/events.parquet' GROUP BY 1"
    ).df().set_index("event_type").n
    got = a.groupby("event_type").size()
    assert got["error"] == full["error"]  # errors kept 100%
    for typ, rate in (("click", 0.10), ("view", 0.30), ("purchase", 0.30), ("signup", 0.30)):
        frac = got.get(typ, 0) / full[typ]
        assert abs(frac - rate) < 0.05, (typ, frac)


@st.composite
def random_corpus(draw):
    n = draw(st.integers(min_value=2, max_value=25))
    words = ["alpha", "beta", "gamma", "delta", "x1", "y2"]
    texts = draw(
        st.lists(
            st.one_of(
                st.none(),
                st.lists(st.sampled_from(words), min_size=0, max_size=8).map(" ".join),
            ),
            min_size=n,
            max_size=n,
        )
    )
    grps = draw(
        st.lists(st.one_of(st.none(), st.integers(0, 2)), min_size=n, max_size=n)
    )
    threshold = draw(st.sampled_from([0.0, 0.3, 0.5, 0.8]))
    return texts, grps, threshold


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(random_corpus())
def test_jaccard_blas_equals_sql_on_random_corpora(case):
    """BLAS incidence-matmul vs SQL expression form on random corpora with
    NULL texts, empty texts, NULL blocks, and every threshold class
    (including 0.0, where empty-token pairs must survive both paths)."""
    from time_sift_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_blas,
    )

    texts, grps, threshold = case
    spark = _get_session()
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "grp": pd.array(grps, dtype="Int64"),
        }
    )
    df = spark.createDataFrame(pdf)
    a = (
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=threshold, block_exprs=("grp",))
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    b = (
        ngram_jaccard_pairs_blas(
            df, "doc_id", "text", threshold=threshold, block_exprs=("grp",)
        )
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


@st.composite
def nan_series(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    keys = draw(st.lists(st.integers(0, 3), min_size=n, max_size=n))
    vals = draw(
        st.lists(
            st.one_of(st.just(float("nan")), st.floats(-50, 50, allow_nan=False)),
            min_size=n,
            max_size=n,
        )
    )
    batch = draw(st.sampled_from(["2", "3", "7"]))
    return keys, vals, batch


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(nan_series())
def test_ewma_scan_equals_groupwise_random_nans(case):
    """Partition-scan EWMA vs a per-key pandas ewm on random NaN patterns
    with tiny Arrow batches — the holdback must be exact wherever the
    batch boundary lands."""
    from tests.test_ewma import _pandas_ewma, _tiny_arrow_batches
    from time_sift_spark.operators.ewma import ewma

    keys, vals, batch = case
    spark = _get_session()
    pdf = pd.DataFrame({"k": keys, "t": range(len(keys)), "v": vals})
    df = spark.createDataFrame(pdf)
    with _tiny_arrow_batches(spark, batch):
        b = (
            ewma(df, "v", "t", 0.4, partition_by="k")
            .orderBy("k", "t")
            .toPandas()
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(_pandas_ewma(df, 0.4, ["k", "t"]), b)
def test_cluster_balanced_sample_caps_and_determinism(spark):
    from time_sift_spark.operators.similarity import cluster_balanced_sample
    from time_sift_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    out = cluster_balanced_sample(emb, "vec_id", "embedding", num_cells=16, cap=10)
    pdf = out.toPandas()
    # cap respected per cell; ids unique; fully deterministic across runs
    per_cell = pdf.groupby("cell").size()
    assert (per_cell <= 10).all()
    assert pdf["vec_id"].is_unique
    pdf2 = (
        cluster_balanced_sample(emb, "vec_id", "embedding", num_cells=16, cap=10)
        .toPandas()
        .sort_values(["cell", "vec_id"])
        .reset_index(drop=True)
    )
    pd1 = pdf.sort_values(["cell", "vec_id"]).reset_index(drop=True)
    assert pd1.equals(pdf2)
    # a tight cap strictly shrinks dense cells but never empties a non-empty cell set
    tight = cluster_balanced_sample(
        emb, "vec_id", "embedding", num_cells=16, cap=3
    ).toPandas()
    assert set(tight["cell"]) == set(pdf["cell"])
    assert (tight.groupby("cell").size() <= 3).all()


def test_group_split_never_straddles_sources(spark):
    from time_sift_spark.queries import REGISTRY

    out = REGISTRY["group_split_docs"].spark_fn(spark, "/root/testdata/sf0.01")
    pdf = out.toPandas()
    # every source maps to exactly one split — the leakage guard
    assert (pdf.groupby("source")["split"].nunique() == 1).all()
    assert set(pdf["split"]) <= {"train", "val", "test"}
    assert len(pdf) == 500
