"""foreachBatch parquet sink: per-epoch dirs, checkpointed, complete."""

import numpy as np
import pandas as pd

from time_sift_spark.streaming.lag_stream import streaming_lag_features
from time_sift_spark.streaming.sinks import run_stream_to_parquet


def test_foreach_batch_parquet_sink(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "t": np.arange(100, dtype="int64"),
            "k": (np.arange(100) % 3).astype("int64"),
            "v": np.arange(100, dtype="float64"),
        }
    )
    src = str(tmp_path / "src")
    for i in range(2):
        spark.createDataFrame(pdf.iloc[i * 50 : (i + 1) * 50]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/part{i}")

    stream = (
        spark.readStream.schema("t long, k long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part*")
    )
    out = streaming_lag_features(stream, "v", "t", [1], partition_by="k")
    sink = str(tmp_path / "sink")
    run_stream_to_parquet(out, sink, "t_sink_test")

    import glob

    epochs = sorted(glob.glob(f"{sink}/epoch=*"))
    assert len(epochs) == 2  # one dir per micro-batch
    back = spark.read.parquet(f"{sink}/epoch=*").orderBy("k", "t").toPandas()
    assert len(back) == 100
    # lag carried across the epoch boundary: t=51 (k=0) sees t=48's value
    row = back[(back.k == 0) & (back.t == 51)]
    assert row.v_lag1.iloc[0] == 48.0


def test_rocksdb_state_store_parity(spark, tmp_path):
    """state_store="rocksdb" must produce the same drained result as the
    default (HDFS-backed) provider — the provider changes WHERE keyed
    state lives (heap vs local SSD), never the values."""
    import numpy as np
    import pandas as pd

    from time_sift_spark.streaming.lag_stream import (
        run_stream_to_df,
        streaming_lag_features,
    )

    pdf = pd.DataFrame(
        {
            "t": np.arange(120, dtype="int64"),
            "k": (np.arange(120) % 4).astype("int64"),
            "v": np.arange(120, dtype="float64") * 1.5,
        }
    )
    src = str(tmp_path / "rocks_src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)

    def drain(name, provider):
        stream = spark.readStream.schema("t long, k long, v double").parquet(src)
        out = streaming_lag_features(stream, "v", "t", [1, 3], partition_by="k")
        return (
            run_stream_to_df(out, name, state_store=provider)
            .orderBy("k", "t")
            .toPandas()
        )

    default = drain("t_rocks_default", None)
    rocks = drain("t_rocks_rocksdb", "rocksdb")
    pd.testing.assert_frame_equal(default, rocks)
    # provider conf restored after the drain
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        != "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )


def test_default_stream_partitions_by_state_class(spark, tmp_path, monkeypatch):
    """The adaptive drain default: Python-state plans
    (applyInPandasWithState) get cores/8 (floored 2) — after the r15
    vectorized key-bucketing the Python side is thin and store overhead
    dominates; JVM-stateful plans get the minimum robust count (2)
    because the per-partition state-store cost dominates at ANY local
    core count (r15 cold-JVM sweep); the env knob overrides both (the
    production sizing lever)."""
    import pyspark.sql.functions as F

    from time_sift_spark.streaming.lag_stream import (
        default_stream_partitions,
        streaming_lag_features,
    )

    pdf = pd.DataFrame({"t": [1, 2], "k": [0, 1], "v": [1.0, 2.0]})
    src = str(tmp_path / "parts_src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("t long, k long, v double").parquet(src)

    cores = spark.sparkContext.defaultParallelism
    py_state = streaming_lag_features(stream, "v", "t", [1], partition_by="k")
    jvm_state = stream.groupBy("k").agg(F.sum("v").alias("s"))

    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTS", raising=False)
    assert default_stream_partitions(py_state) == max(2, cores // 8)
    assert default_stream_partitions(jvm_state) == 2

    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "7")
    assert default_stream_partitions(py_state) == 7
    assert default_stream_partitions(jvm_state) == 7


# --------------------------------------------------------------------------
# Incremental upsert snapshot sink
# --------------------------------------------------------------------------


def test_upsert_sink_merges_and_late_rows_never_displace(spark, tmp_path):
    from time_sift_spark.streaming.sinks import read_latest_snapshot, upsert_latest_sink

    base = str(tmp_path / "snap")
    import os

    os.makedirs(base, exist_ok=True)
    sink = upsert_latest_sink(base, "k", ("v_ts", "rid"))
    b1 = spark.createDataFrame([("a", 1, 10, 100.0), ("b", 1, 11, 200.0)], "k string, v_ts long, rid long, val double")
    b2 = spark.createDataFrame([("a", 5, 12, 111.0)], "k string, v_ts long, rid long, val double")
    late = spark.createDataFrame([("a", 2, 13, 999.0), ("c", 1, 14, 300.0)], "k string, v_ts long, rid long, val double")
    sink(b1, 0)
    sink(b2, 1)
    sink(late, 2)  # a@2 is OLDER than snapshot's a@5 -> must not displace
    snap = {r.k: (r.v_ts, r.val) for r in read_latest_snapshot(spark, base).collect()}
    assert snap == {"a": (5, 111.0), "b": (1, 200.0), "c": (1, 300.0)}


def test_upsert_sink_epoch_redelivery_idempotent(spark, tmp_path):
    from time_sift_spark.streaming.sinks import read_latest_snapshot, upsert_latest_sink

    base = str(tmp_path / "snap2")
    import os

    os.makedirs(base, exist_ok=True)
    sink = upsert_latest_sink(base, "k", ("v_ts",))
    b = spark.createDataFrame([("a", 3, 1.0)], "k string, v_ts long, val double")
    sink(b, 0)
    once = sorted(map(tuple, read_latest_snapshot(spark, base).collect()))
    sink(b, 0)  # redelivery of the same epoch
    twice = sorted(map(tuple, read_latest_snapshot(spark, base).collect()))
    assert once == twice


def test_screened_append_sink_redelivery_and_crash_window(spark, tmp_path):
    """The screen-then-append protocol under at-least-once delivery: a
    redelivered epoch, and a redelivery after a crash between the append
    and the applied marker, leave the verdict files and the MinHash
    store as the first delivery left them — no accepted doc turns into
    a rejected J=1.0 twin of itself."""
    import glob
    import os
    import shutil

    from time_sift_spark.operators.dedup import (
        append_minhash_store,
        build_minhash_store,
        screen_new_docs_fuzzy,
    )
    from time_sift_spark.streaming.sinks import screened_append_sink

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(20))

    schema = "doc_id long, text string"
    base = str(tmp_path / "ingest")
    store = f"{base}/store"
    build_minhash_store(
        spark.createDataFrame([(1, doc(1)), (2, doc(2))], schema), "doc_id", "text", store
    )
    batch = spark.createDataFrame(
        [(10, doc(1) + " qz"), (11, doc(11)), (12, doc(12))], schema
    )
    sink = screened_append_sink(
        base,
        lambda sp, b: screen_new_docs_fuzzy(sp, store, b),
        lambda sp, rows: append_minhash_store(sp, store, rows),
        "accepted",
        "doc_id",
    )
    edir = f"{base}/results/epoch-0"

    def state():
        files = sorted(
            (os.path.basename(f), os.stat(f).st_mtime_ns) for f in glob.glob(f"{edir}/*")
        )
        verdicts = (
            spark.read.parquet(edir).toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        return files, verdicts, spark.read.parquet(f"{store}/sigs").count()

    sink(batch, 0)
    files, verdicts, n_sigs = state()
    assert list(verdicts.accepted) == [False, True, True]  # doc 10 is a near-dup
    assert n_sigs == 4  # 2 built + 2 accepted
    for crash_before_marker in (False, True):
        if crash_before_marker:
            shutil.rmtree(f"{base}/applied-epoch-0")
        sink(batch, 0)  # redelivery of epoch 0
        got_files, got, got_n = state()
        assert got_files == files
        pd.testing.assert_frame_equal(got, verdicts)
        assert got_n == n_sigs
        assert not (~got.accepted & (got.max_jaccard == 1.0)).any()


def test_streaming_fuzzy_dedup_cross_batch_state(spark):
    """The novel property of streaming fuzzy ingestion: a batch-2
    re-crawl of a BATCH-1 page (never in the built corpus) is rejected
    purely through the state the sink appended after batch 1, and the
    drained verdicts equal the chained two-round inline screen."""
    from time_sift_spark.queries import REGISTRY

    out = (
        REGISTRY["streaming_dedup_fuzzy_docs"]
        .spark_fn(spark, "/root/testdata/sf0.001")
        .toPandas()
        .set_index("doc_id")
    )
    b2_recrawls = out.loc[[i for i in out.index if i >= 20000]]
    assert len(b2_recrawls) == 10
    assert (~b2_recrawls.accepted).all()  # rejected via cross-batch state only
    assert (b2_recrawls.max_jaccard >= 0.5).all()
    b1_recrawls = out.loc[[i for i in out.index if 10000 <= i < 20000]]
    assert (~b1_recrawls.accepted).all()  # corpus re-crawls rejected in epoch 1


def test_bucketed_drains_state_isolated_within_one_bucket(
    spark, tmp_path, monkeypatch
):
    """r15: the pandas-state drains group KEYS into hash buckets and run
    the per-key recurrences vectorized inside each bucket call.  Force
    EVERY key into ONE bucket and drive 3 micro-batches: per-key state
    must stay isolated (carried buffers/last values never bleed across
    the bucket's keys) and equal the single-key per-batch reference the
    r14 form computed.  Keys are chosen so arrival interleaves them in
    every batch."""
    import numpy as np
    import pyspark.sql.functions as F

    from time_sift_spark.streaming.lag_stream import (
        run_stream_to_df,
        streaming_asof_join,
        streaming_ewma,
        streaming_lag_features,
    )

    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setenv("SPARK_GRAFT_STREAM_KEY_BUCKETS", "1")
    rng = np.random.default_rng(3)
    n, keys = 90, 5
    pdf = pd.DataFrame({
        "t": np.arange(n, dtype=np.int64),
        "k": np.arange(n, dtype=np.int64) % keys,
        "v": rng.standard_normal(n),
        "typ": np.where(rng.random(n) < 0.4, "purchase", "click"),
    })
    src = str(tmp_path / "bk_src")
    os.makedirs(src, exist_ok=True)
    step = n // 3
    for s in range(3):
        f = f"{src}/chunk-{s:02d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(
                pdf.iloc[s * step:(s + 1) * step], preserve_index=False
            ),
            f,
        )
        os.utime(f, (1_700_000_000 + s, 1_700_000_000 + s))

    def stream(schema="t long, k long, v double"):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    # reference: per-key pandas, whole series at once (the batch truth —
    # ordered arrival makes the 3-batch drain equal it exactly)
    ref = pdf.sort_values(["k", "t"]).reset_index(drop=True)
    ref["v_lag2"] = ref.groupby("k")["v"].shift(2)
    ref["v_ewma"] = (
        ref.groupby("k")["v"].apply(
            lambda s: s.ewm(alpha=0.4, adjust=False).mean()
        ).reset_index(level=0, drop=True)
    )
    ref["value_asof"] = (
        ref["v"].where(ref["typ"] == "purchase").groupby(ref["k"]).ffill()
    )

    lag = run_stream_to_df(
        streaming_lag_features(stream(), "v", "t", [2], partition_by="k"),
        "bk_lag",
    ).orderBy("k", "t").toPandas()
    pd.testing.assert_frame_equal(
        lag[["k", "t", "v", "v_lag2"]].reset_index(drop=True),
        ref[["k", "t", "v", "v_lag2"]].reset_index(drop=True),
        check_dtype=False,
    )

    ew = run_stream_to_df(
        streaming_ewma(stream(), "v", "t", 0.4, partition_by="k"),
        "bk_ewma",
    ).orderBy("k", "t").toPandas()
    pd.testing.assert_frame_equal(
        ew[["k", "t", "v", "v_ewma"]].reset_index(drop=True),
        ref[["k", "t", "v", "v_ewma"]].reset_index(drop=True),
        check_dtype=False,
    )

    asof = run_stream_to_df(
        streaming_asof_join(
            stream("t long, k long, typ string, v double"),
            partition_by="k", time_col="t", type_col="typ",
            left_type="click", right_type="purchase", value_col="v",
        ),
        "bk_asof",
    ).orderBy("k", "t").toPandas()
    clicks = ref[ref["typ"] == "click"]
    assert clicks["value_asof"].isna().any() and clicks["value_asof"].notna().any()
    pd.testing.assert_frame_equal(
        asof[["k", "t", "v", "value_asof"]].reset_index(drop=True),
        clicks[["k", "t", "v", "value_asof"]].reset_index(drop=True),
        check_dtype=False,
    )


def _write_chunks(src, frames, first=0):
    """One parquet file per frame, numbered from ``first`` with ascending
    mtimes, so a ``maxFilesPerTrigger=1`` file stream reads one frame per
    micro-batch."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    for i, frame in enumerate(frames, first):
        f = f"{src}/chunk-{i:02d}.parquet"
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), f)
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(src)


def _lag_stream(spark, src, lags):
    stream = (
        spark.readStream.schema("t long, k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return streaming_lag_features(stream, "v", "t", lags, partition_by="k")


def _keyed_series(n, keys):
    return pd.DataFrame({
        "t": np.arange(n, dtype=np.int64),
        "k": np.arange(n, dtype=np.int64) % keys,
        "v": np.arange(n, dtype=np.float64) * 0.5,
    })


def test_streaming_lag_duplicate_lags_match_batch(spark, tmp_path):
    """A duplicated lag names its columns as batch ``lag_features`` does
    (``v_lag1``, ``v_lag1_p1``), and a two-micro-batch drain equals the
    batch operator over the same rows."""
    from time_sift_spark.operators.lag import lag_features
    from time_sift_spark.streaming.lag_stream import run_stream_to_df

    pdf = _keyed_series(60, 4)
    src = _write_chunks(tmp_path / "dup_src", [pdf.iloc[:30], pdf.iloc[30:]])
    got = run_stream_to_df(
        _lag_stream(spark, src, [1, 1, 0]), "t_dup_lags"
    ).orderBy("k", "t").toPandas()
    want = lag_features(
        spark.createDataFrame(pdf), "v", "t", [1, 1, 0], partition_by="k"
    ).orderBy("k", "t").toPandas()
    assert list(want.columns) == ["k", "t", "v_lag1", "v_lag1_p1", "v_lag0"]
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_bucket_count_checked_on_checkpoint_restart(spark, tmp_path, monkeypatch):
    """The key-bucket count is stored in the bucket state: a durable
    checkpoint restarted with the same count continues exactly (output
    over both files equals batch ``lag_features``); restarted with
    another count it fails with an error naming both counts, instead of
    silently routing keys away from their carried buffers."""
    import shutil

    import pytest

    from time_sift_spark.operators.lag import lag_features

    pdf = _keyed_series(80, 8)
    src = str(tmp_path / "rs_src")
    sink = str(tmp_path / "rs_sink")
    moved = str(tmp_path / "rs_sink_copy")

    monkeypatch.setenv("SPARK_GRAFT_STREAM_KEY_BUCKETS", "2")
    _write_chunks(src, [pdf.iloc[:40]])
    run_stream_to_parquet(_lag_stream(spark, src, [1, 2]), sink, "t_rs_first")
    _write_chunks(src, [pdf.iloc[40:]], first=1)
    shutil.copytree(sink, moved)

    run_stream_to_parquet(_lag_stream(spark, src, [1, 2]), sink, "t_rs_same")
    got = spark.read.parquet(f"{sink}/epoch=*").orderBy("k", "t").toPandas()
    want = lag_features(
        spark.createDataFrame(pdf), "v", "t", [1, 2], partition_by="k"
    ).orderBy("k", "t").toPandas()
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)

    monkeypatch.setenv("SPARK_GRAFT_STREAM_KEY_BUCKETS", "3")
    with pytest.raises(Exception, match="state has 2 buckets, this query plans 3"):
        run_stream_to_parquet(_lag_stream(spark, src, [1, 2]), moved, "t_rs_moved")
