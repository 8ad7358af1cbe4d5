"""Source/sink round-trips for every supported format."""

import os
import uuid
from contextlib import contextmanager

import pandas as pd
import pytest

from time_sift_spark.sources import catalog


@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "name": ["a", "b", None], "x": [1.5, 2.5, 3.5]})
    )


SCHEMA = "id long, name string, x double"


def _assert_round_trip(df, back):
    left = df.orderBy("id").toPandas()
    right = back.orderBy("id").toPandas()[left.columns.tolist()]
    pd.testing.assert_frame_equal(left, right)


def test_parquet_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "t.parquet")
    catalog.write_parquet(sample, p)
    _assert_round_trip(sample, spark.read.parquet(p))


def test_csv_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "t.csv")
    catalog.write_csv(sample, p)
    _assert_round_trip(sample, catalog.read_csv(spark, p, SCHEMA))


def test_json_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "t.json")
    catalog.write_json(sample, p)
    _assert_round_trip(sample, catalog.read_json(spark, p, SCHEMA))


def test_orc_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "t.orc")
    catalog.write_orc(sample, p)
    _assert_round_trip(sample, catalog.read_orc(spark, p))


def test_partitioned_parquet_write(spark, sample, tmp_path):
    p = str(tmp_path / "part.parquet")
    catalog.write_parquet(sample.withColumn("part", sample.id % 2), p, partition_by="part")
    back = spark.read.parquet(p)
    assert back.count() == 3
    # partition pruning: filter on the partition column prunes files
    plan = back.where("part = 0")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "part" in plan.split("PartitionFilters:")[1][:80]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on their join keys must merge-join with NO
    Exchange on either input — the write-time shuffle replaces the
    query-time one."""
    import pandas as pd

    from time_sift_spark.sources.catalog import ensure_bucketed_table

    a = spark.createDataFrame(pd.DataFrame({"k": range(100), "x": range(100)}))
    b = spark.createDataFrame(pd.DataFrame({"k": range(0, 100, 2), "y": range(50)}))
    ta = ensure_bucketed_table(spark, "tb_a", a, "k", num_buckets=4, cache_key=str(tmp_path))
    tb = ensure_bucketed_table(spark, "tb_b", b, "k", num_buckets=4, cache_key=str(tmp_path))
    j = spark.table(ta).hint("merge").join(spark.table(tb), "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located: no shuffle anywhere in the join
    assert j.count() == 50


def test_lakehouse_negotiation_falls_back_and_roundtrips(spark, tmp_path):
    """write/read_lakehouse_table agree on the negotiated format: without
    a Delta-enabled session the pair degrades to parquet (tag visible),
    with identical rows either way. The delta branch itself runs
    wherever delta-spark + the session extension exist."""
    import pandas as pd

    from time_sift_spark.sources.catalog import (
        delta_usable,
        read_lakehouse_table,
        write_lakehouse_table,
    )

    df = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    path = str(tmp_path / "lake_tbl")
    fmt = write_lakehouse_table(df, path)
    expected_fmt = "delta" if delta_usable(spark) else "parquet"
    assert fmt == expected_fmt
    back = read_lakehouse_table(spark, path)
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b"), (3, "c")]


def test_partition_pruning_reads_only_matching_dirs(spark, tmp_path):
    """A filter on the hive partition column becomes PartitionFilters on
    the scan (pruned at the FileIndex, before any file is opened) and
    never appears as a post-scan data filter on partition values."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "d": [f"2024-01-{day:02d}" for day in range(1, 11) for _ in range(5)],
            "v": range(50),
        }
    )
    path = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(pdf).withColumn("d", F.col("d").cast("date"))
    df.write.partitionBy("d").parquet(path)
    filtered = spark.read.parquet(path).where(F.col("d") == "2024-01-03")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "d#" in plan
    # run THIS plan and read the scan's own metrics: exactly 1 of the 10
    # partition dirs survives the FileIndex (inputFiles() is pre-pruning
    # and would list all 10)
    assert len(filtered.collect()) == 5
    scan = filtered._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    assert scan.metrics().apply("numPartitions").value() == 1


# --- job-free parquet reads (catalog.read_parquet) -------------------------

@contextmanager
def _jobs(spark):
    """The ids of the Spark jobs submitted inside the block, counted by
    job group once the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, "job count")
    try:
        yield ids
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, path):
    return spark.read.parquet(path).schema


def test_job_counter_sees_the_inference_job(spark, sf_dir):
    """Control for the zero-job tests: plain inference submits a job."""
    with _jobs(spark) as ids:
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    assert len(ids) >= 1


@pytest.mark.parametrize("table", catalog.TABLES)
def test_load_table_runs_no_job_and_keeps_the_inferred_schema(spark, sf_dir, table):
    path = os.path.join(sf_dir, f"{table}.parquet")
    with _jobs(spark) as ids:
        df = catalog.load_table(spark, table, sf_dir)
        raw = catalog.read_parquet(spark, path)
    assert ids == []
    assert raw.schema == _inferred(spark, path)
    assert df.count() == spark.read.parquet(path).count()


def test_read_events_stream_runs_no_job(spark, sf_dir):
    with _jobs(spark) as ids:
        stream = catalog.read_events_stream(spark, sf_dir)
    assert ids == []
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_read_parquet_multi_file_directory(spark, tmp_path):
    path = str(tmp_path / "multi")
    spark.range(30).selectExpr("id", "CAST(id AS STRING) AS s", "id * 0.5 AS x") \
        .repartition(3).write.parquet(path)
    assert len([f for f in os.listdir(path) if f.startswith("part-")]) == 3
    with _jobs(spark) as ids:
        df = catalog.read_parquet(spark, path)
    assert ids == []
    assert df.schema == _inferred(spark, path)
    assert sorted(r.id for r in df.collect()) == list(range(30))


def test_read_parquet_partitioned_keeps_partition_column(spark, sample, tmp_path):
    path = str(tmp_path / "part.parquet")
    catalog.write_parquet(sample.withColumn("part", sample.id % 2), path, partition_by="part")
    back = catalog.read_parquet(spark, path)
    assert back.schema == _inferred(spark, path)
    assert "part" in back.columns
    assert sorted((r.id, r.part) for r in back.collect()) == [(1, 1), (2, 0), (3, 1)]


def test_read_parquet_missing_and_empty_raise_as_before(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(tmp_path / "missing"), str(empty)):
        with pytest.raises(Exception) as before:
            spark.read.parquet(path)
        with pytest.raises(Exception) as after:
            catalog.read_parquet(spark, path)
        assert type(after.value) is type(before.value)
        assert getattr(after.value, "getCondition", lambda: None)() == \
            getattr(before.value, "getCondition", lambda: None)()


def test_int96_and_nanos_timestamps_from_the_footer(spark, tmp_path):
    """pyarrow reports INT96 as timestamp[ns]; the footer read flags only
    INT64 TIMESTAMP(NANOS) as nanoseconds, so INT96 reads as Spark's
    TIMESTAMP and a NANOS column is converted to TIMESTAMP by load_table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pd.to_datetime(["2024-01-01 00:00:01.000001", "2024-01-02 12:00:00.000000"])
    table = pa.table({"id": pa.array([1, 2], pa.int64()),
                      "t": pa.array(ts, pa.timestamp("ns"))})
    int96, nanos = tmp_path / "int96.parquet", tmp_path / "nanos.parquet"
    pq.write_table(table, int96, use_deprecated_int96_timestamps=True)
    pq.write_table(table, nanos, version="2.6", coerce_timestamps=None)
    assert str(pq.read_schema(int96).field("t").type) == "timestamp[ns]"
    catalog.ensure_session_confs(spark)
    for path in (int96, nanos):
        assert catalog.read_parquet(spark, str(path)).schema == _inferred(spark, str(path))
    assert catalog._footer(spark, str(int96))[1] == []
    assert catalog._footer(spark, str(nanos))[1] == ["t"]
    for name in ("int96", "nanos"):
        df = catalog.load_table(spark, name, str(tmp_path))
        assert dict(df.dtypes)["t"] == "timestamp"
        got = df.orderBy("id").toPandas()["t"]
        assert list(got) == list(ts)


def _store_builds(spark, sf_dir):
    """One build of each of the 14 persisted stores over the tiny testdata."""
    from time_sift_spark.functions.text_fns import SPARK as _S
    from time_sift_spark.operators import dedup, pq, search, similarity, sketch, text

    docs = catalog.load_table(spark, "documents", sf_dir)
    emb = catalog.load_table(spark, "embeddings", sf_dir)
    train_pred = f"({_S.md5_long('CAST(doc_id AS STRING)')} % 2 = 0)"
    vec = dict(num_centroids=8)
    return {
        "dedup": lambda p: dedup.build_dedup_index(docs, "doc_id", "text", p),
        "minhash": lambda p: dedup.build_minhash_store(docs, "doc_id", "text", p),
        "prefix": lambda p: dedup.build_prefix_index(docs, "doc_id", "text", p),
        "containment": lambda p: dedup.build_containment_index(docs, "doc_id", "text", p),
        "lsh": lambda p: similarity.build_lsh_index(emb, "vec_id", "embedding", p, dim=64),
        "ivf": lambda p: similarity.build_ivf_index(emb, "vec_id", "embedding", p, **vec),
        "refined_ivf": lambda p: similarity.build_refined_ivf_index(
            emb, "vec_id", "embedding", p, multi_assign=2, lloyd_iters=1, **vec),
        "pq": lambda p: pq.build_pq_index(
            emb, "vec_id", "embedding", p, k_codes=8, lloyd_iters=1),
        "ivfpq": lambda p: pq.build_ivfpq_index(
            emb, "vec_id", "embedding", p, num_cells=4, cell_lloyd_iters=1, k_codes=8,
            lloyd_iters=1),
        "sq8": lambda p: pq.build_sq8_index(emb, "vec_id", "embedding", p),
        "bm25": lambda p: search.build_text_index(docs, "text", "doc_id", p),
        "phrase": lambda p: search.build_phrase_index(docs, "text", "doc_id", p),
        "quality": lambda p: text.build_quality_model(
            docs, "text", "doc_id", p, label_pred="lang = 'en'", train_pred=train_pred),
        "bloom": lambda p: sketch.build_bloom_filter(docs, "text", p, m=4096, k=3),
    }


# What read_params gave for each store under the typed parquet marker (one
# DDL per store): the JSON marker must give the same values and types.
_MARKERS = {
    "dedup": dict(id_col="doc_id", text_col="text"),
    "minhash": dict(id_col="doc_id", text_col="text", num_perm=16, bands=8, shingle_k=3,
                    seed=42),
    "prefix": dict(num=1, den=2, shingle_k=3, id_col="doc_id", text_col="text"),
    "containment": dict(id_col="doc_id", text_col="text", shingle_k=3),
    "lsh": dict(id_col="vec_id", vec_col="embedding", num_planes=6, num_tables=1, seed=42,
                dim=64),
    "ivf": dict(id_col="vec_id", vec_col="embedding", num_centroids=8),
    "refined_ivf": dict(id_col="vec_id", vec_col="embedding", num_centroids=8,
                        multi_assign=2, lloyd_iters=1),
    "pq": dict(id_col="vec_id", vec_col="embedding", m=16, sub_dim=4, k_codes=8,
               lloyd_iters=1),
    "ivfpq": dict(id_col="vec_id", vec_col="embedding", num_cells=4, cell_lloyd_iters=1,
                  m=16, sub_dim=4, k_codes=8, lloyd_iters=1),
    "sq8": dict(id_col="vec_id", vec_col="embedding"),
    "bm25": dict(id_col="doc_id", text_col="text"),
    "phrase": dict(id_col="doc_id", text_col="text"),
    "quality": dict(id_col="doc_id", text_col="text", alpha=0.5, n_buckets=65536,
                    round_to=6),
    "bloom": dict(text_col="text", m=4096, k=3),
}


def test_every_store_artifact_reads_with_the_inferred_schema(spark, sf_dir, tmp_path):
    """Each of the 14 store builders' artifact tables reads through
    read_artifact with no job and with inference's schema, and its
    params marker reads through read_params with no job, as the dict
    (value types included) that the DDL-typed parquet marker gave."""
    from time_sift_spark.operators.artifacts import read_artifact, read_params

    builds = _store_builds(spark, sf_dir)
    assert builds.keys() == _MARKERS.keys()
    for store, build in builds.items():
        path = str(tmp_path / store)
        build(path)
        names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
        assert "params" in names and len(names) >= 2, (store, names)
        with _jobs(spark) as ids:
            got = read_params(spark, path)
        assert ids == [], store
        want = _MARKERS[store]
        assert got == want, store
        assert [type(v) for v in got.values()] == [type(want[k]) for k in got], store
        for name in names:
            if name == "params":
                continue
            with _jobs(spark) as ids:
                df = read_artifact(spark, path, name)
            assert ids == [], (store, name)
            assert df.schema == _inferred(spark, f"{path}/{name}"), (store, name)


def test_fuzzy_screen_setup_runs_only_the_marker_read(spark, sf_dir, tmp_path):
    """Registering the MinHash screen's views reads ``sigs`` with no job,
    and its read_params reads the marker on the driver: the screen's
    set-up submits no job."""
    from time_sift_spark.operators.artifacts import read_params
    from time_sift_spark.operators.dedup import build_minhash_store, screen_new_docs_fuzzy

    docs = catalog.load_table(spark, "documents", sf_dir).limit(40)
    path = str(tmp_path / "mh")
    build_minhash_store(docs, "doc_id", "text", path)
    with _jobs(spark) as marker:
        read_params(spark, path)
    with _jobs(spark) as screen:
        out = screen_new_docs_fuzzy(spark, path, docs)
    assert marker == []
    assert screen == []
    assert not out.toPandas().accepted.any()
