"""Streaming lag features — the stateful extension (SURVEY.md §2.4).

``F.lag`` is unsupported over unbounded streams, so the operator carries
each key's last ``max(lags)`` values in GroupState and computes lags
with a pandas shift over ``carried ++ sorted(batch)`` (reference
semantics: lag k prepends k fills / drops the last k,
src/lib.rs:519-523 — here the "fill" beyond the stream's start is NULL,
matching the engine's batch default).

Keys are grouped into hash buckets (:func:`_default_key_buckets`), and
the lag, as-of and EWMA drains share one scaffold
(:func:`_bucketed_drain`): ONE state row per bucket holds the carried
values (values only, no times) of every key the bucket has seen.

Semantics & limits:
* Within a batch, rows are sorted by (time, *order_extra) — exact.
* Across batches, rows are assumed to arrive in per-key time order
  (enforce upstream with a watermark + sorted sources); a late row is
  lagged against the buffer as-is (best effort), never crashes.
* A key carries O(max_lag) values, but keys are never evicted
  (``NoTimeout``): state grows with the number of distinct keys ever
  seen, and every micro-batch re-serializes the whole state row of each
  bucket it touches.  Evicting idle keys is ROADMAP item 3.

The driver-facing query runs a file stream through a memory sink
synchronously; when all data arrives ordered, the result is
row-identical to the batch operator, which is what the DuckDB oracle
checks.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..errors import validate_lags
from ..plans.lag_plan import lag_column_names


_KB_COL = "_ts_kb"
_STATE_SCHEMA = "n_buckets int, uids array<long>, bufs array<array<double>>"


def _default_key_buckets(stream_df: DataFrame) -> int:
    """Key-bucket count for the bucketed pandas-state drains.

    applyInPandasWithState invokes the Python function ONCE PER KEY per
    micro-batch, and the r15 no-op-UDF isolation measured ~10 ms of
    protocol machinery per invocation (per-key Arrow framing + state
    round-trip) — at 1 500 keys × 5 micro-batches that is the whole
    drain cost, regardless of the function body.  Grouping keys into
    deterministic hash buckets and looping per key INSIDE the function
    amortizes the protocol over ~keys/buckets keys per call while
    executing the identical per-key code.  2 buckets per core keeps
    every Python worker busy with a small number of fat calls; the env
    knob is the production lever (size to keys-per-trigger / state
    volume per bucket)."""
    env = os.environ.get("SPARK_GRAFT_STREAM_KEY_BUCKETS")
    if env:
        return max(1, int(env))
    cores = stream_df.sparkSession.sparkContext.defaultParallelism
    return max(4, 2 * cores)


def _bucketed_drain(stream_df: DataFrame, partition_by: str, sort_cols: list,
                    value_col: str, new_cols: list, carry_col: str,
                    step: Callable, prep: Callable | None = None,
                    extra_cols: Sequence[str] = ()) -> DataFrame:
    """The one ``applyInPandasWithState`` scaffold of the bucketed drains.

    ``stream_df`` is projected to ``(partition_by, *sort_cols, *extra_cols,
    value_col)`` plus a key-bucket column BEFORE the grouping exchange
    (guide §4.1/§2.3: grouped rows cross JVM→Python as whole-row Arrow
    batches, so un-projected extras like the events props JSON pay shuffle
    AND boundary bytes for nothing).  The bucket is a deterministic
    function of the key (Murmur3 + pmod — safe under task retry, guide
    §2.5), so grouping by bucket instead of key changes NOTHING about
    per-key values, only how many keys share one call.

    Each call sorts the bucket's rows by (key, *sort_cols), applies
    ``prep``, and prepends each key's carried buffer as typed prefix rows
    (``carry_col`` holds the values, ``_pre`` flags them); a stable
    re-sort by key puts them before the key's batch rows, so a grouped
    kernel sees the history a per-key loop would.  ``step(full)`` returns
    ``(out_rows, keys, vals)``: output rows, and the new carry as flat
    parallel arrays in buffer order (a key in ``keys`` replaces its
    buffer).  Prefix rows never reach the output, whose columns are
    ``(partition_by, *sort_cols)`` as long and ``(value_col, *new_cols)``
    as double.

    State is one row per bucket, ``(n_buckets, uids, bufs)``.  A durable
    checkpoint restarted on a session that plans another bucket count
    would route keys to other buckets and silently lose or misapply their
    buffers, so the stored count must match or the call raises
    ``ValueError``.  Limit: the check fires only when a bucket that holds
    old state is invoked, i.e. receives rows.
    """
    n_buckets = _default_key_buckets(stream_df)
    out_cols = [partition_by, *sort_cols, value_col, *new_cols]
    output_schema = ", ".join([f"{c} long" for c in (partition_by, *sort_cols)]
                              + [f"{c} double" for c in (value_col, *new_cols)])

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        st: dict = {}
        if state.exists:
            planned, uids, bufs = state.get
            if planned != n_buckets:
                raise ValueError(
                    f"stream key-bucket count changed: checkpointed state has "
                    f"{planned} buckets, this query plans {n_buckets}")
            st = dict(zip(uids, bufs))
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            [partition_by, *sort_cols], kind="mergesort"
        )
        if prep is not None:
            batch = prep(batch)
        batch["_pre"] = False
        pre_u, pre_v = [], []
        for u in pd.unique(batch[partition_by]) if st else ():
            buf = st.get(int(u))
            if buf:
                pre_u += [int(u)] * len(buf)
                pre_v += buf
        if pre_u:
            # copies of one batch row keep every dtype through the concat
            # (long stays int64); only the key, carry_col and flag are real
            prefix = batch.iloc[np.zeros(len(pre_u), dtype=np.intp)].copy()
            prefix[partition_by] = pd.array(pre_u, dtype=batch[partition_by].dtype)
            prefix[carry_col] = np.asarray(pre_v, dtype="float64")
            prefix["_pre"] = True
            # stable single-key sort: each key's prefix rows stay before
            # its batch rows, buffer order and batch sort order preserved
            full = pd.concat([prefix, batch], ignore_index=True).sort_values(
                partition_by, kind="mergesort"
            ).reset_index(drop=True)
        else:
            full = batch.reset_index(drop=True)
        out, keys, vals = step(full)
        new_st: dict = {}
        for u, v in zip(keys, vals):
            new_st.setdefault(int(u), []).append(float(v))
        st.update(new_st)
        state.update((n_buckets, list(st.keys()), list(st.values())))
        yield out.loc[~out["_pre"], out_cols]

    kb = F.pmod(F.hash(F.col(partition_by)), F.lit(n_buckets)).alias(_KB_COL)
    cols = [partition_by, *sort_cols, *extra_cols, value_col]
    return stream_df.select(*cols, kb).groupBy(_KB_COL).applyInPandasWithState(
        _update, output_schema, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


def streaming_lag_features(
    stream_df: DataFrame,
    value_col: str,
    time_col: str,
    lags,
    *,
    partition_by: str,
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Stateful streaming analogue of operators.lag.lag_features (wide,
    NULL fill). Returns a streaming DataFrame with columns
    (partition_by, time_col, *order_extra, value_col, {value}_lag{k}...),
    the lag columns named as the batch operator names them
    (:func:`plans.lag_plan.lag_column_names`: a duplicated lag gets a
    ``_p{pos}`` suffix).

    Each key carries its last ``max(lags)`` values; a grouped shift over
    ``carried ++ sorted(batch)`` (:func:`_bucketed_drain`) IS the
    per-series shift.
    """
    lag_list = validate_lags(lags)
    max_lag = max(lag_list)
    sort_cols = [time_col, *order_extra]
    lag_names = lag_column_names([value_col], lag_list)

    def _step(full: pd.DataFrame):
        g = full.groupby(partition_by, sort=False)[value_col]
        for k, name in zip(lag_list, lag_names):
            full[name] = g.shift(k)
        tail = full.groupby(partition_by, sort=False).tail(max_lag)
        return full, tail[partition_by].to_numpy(), tail[value_col].to_numpy()

    return _bucketed_drain(stream_df, partition_by, sort_cols, value_col,
                           lag_names, value_col, _step)


_NAME_SEQ = [0]


def _next_stream_name(prefix: str) -> str:
    _NAME_SEQ[0] += 1
    return f"{prefix}_{_NAME_SEQ[0]}"


@contextmanager
def pinned_shuffle_partitions(spark, n: int):
    """Pin spark.sql.shuffle.partitions for the duration of a stream drain.

    Stateful streaming operators (stream-stream join, session windows,
    applyInPandasWithState) materialize ONE state-store instance per
    shuffle partition, every micro-batch. On an externally-built session
    the default is 200 — measured 29.1 s vs 4.3 s at 16 partitions for
    the sf0.01 stream-stream join. The partition count is latched when
    the query starts, so pinning around .start() is sufficient; restored
    afterwards so batch plans in the same session are unaffected. (On a
    real cluster you'd size this to executor count instead.)

    Limitation (known, accepted): session confs are session-GLOBAL, so a
    batch query planned concurrently inside this window would also get n
    shuffle partitions, and two overlapping drains race on the restore.
    The registry/driver/bench all run queries sequentially; callers that
    parallelize streams should use separate SparkSessions
    (spark.newSession()) per drain.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def default_stream_partitions(stream_out: DataFrame) -> int:
    """Scale-adaptive shuffle-partition count for one stream drain.

    Stateful streaming pays a FIXED per-partition cost every micro-batch
    (one state-store instance: open, version files, commit) on top of
    the per-row work, so the right count is a throughput/state-volume
    knob, not the batch default. Measured at sf0.1/local[32]
    (logs/exp_stream_parts.log, logs/exp_stream2.log; warm-up +
    best-of-2 per the bench methodology):

    * JVM-native stateful sinks (windowed/session aggregation,
      stream-stream join, dropDuplicates) have near-zero per-row cost
      here, so the store overhead dominates: 4 partitions beat 16 by
      1.9-2.4x (e.g. stream_stream_join 3.82->1.84 s, windowed_counts
      1.96->0.68 s, distinct_sketch 2.86->1.43 s).
    * applyInPandasWithState drains bottleneck on Python-worker
      parallelism instead, so MORE partitions win until cores run out:
      16 beat 4 by 2x on streaming_ewma (6.85 vs 14.19 s) and
      streaming_asof (6.59 vs 12.47 s).

    For Python-state plans the default derives from the session's core
    count (``defaultParallelism`` — local[N] => N, so the driver's
    lower-core bench runs scale down with it): cores/8 floored at 2.
    JVM-state plans get the MINIMUM robust count, 2: their per-row work
    is near-zero here, so every extra partition only adds store
    instances (open/load/commit per micro-batch), and the r15 cold-JVM
    sweep measured 2 at-or-fastest at BOTH 8 and 32 cores on every
    JVM-state drain — the r14 ``cores // 8`` rule made the count grow
    with cores, which is exactly backwards for a fixed state volume
    (the driver's 32-core run drew 9.6 s on distinct_sketch at 4
    partitions vs 2.3 s at 8 cores/2 partitions).  The right sizing
    dial is STATE VOLUME per store (~100 MB-1 GB with RocksDB), which
    only the deployment knows — ``SPARK_GRAFT_STREAM_PARTS`` overrides
    both classes for that; the local default just refuses to
    over-provision store instances for KB-scale monitor state at
    whatever the local core count happens to be.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTS")
    if env:
        return max(1, int(env))
    spark = stream_out.sparkSession
    cores = spark.sparkContext.defaultParallelism
    plan = stream_out._jdf.queryExecution().analyzed().toString()
    if "FlatMapGroupsInPandasWithState" in plan:
        # r15: the vectorized key-bucketed bodies made the Python side
        # thin, so store overhead dominates here too — the r14 cores/2
        # rule (sized for per-key protocol parallelism that no longer
        # exists) measured strictly slower than cores/8 at both driver
        # core counts (32 cores: 4 parts 4.22 s vs 16 parts 5.02;
        # 8 cores: 2 parts 4.02 vs 8 parts 4.32, streaming_ewma cold).
        return max(2, cores // 8)
    return 2


def _ephemeral_checkpoint_dir() -> str:
    """A fresh checkpoint dir for ONE synchronous memory-sink drain —
    on tmpfs when available (``/dev/shm``), else the system temp dir.

    Why: every stateful micro-batch COMMIT fsyncs per-partition state
    delta files plus offset/commit WAL entries into the checkpoint dir.
    For these drains the checkpoint is pure scratch — the query runs to
    completion synchronously and the caller reads the memory sink, so a
    crash is handled by re-running the drain, never by checkpoint
    recovery — yet on a disk-backed temp dir those fsyncs measured
    multi-second VARIANCE spikes per drain (VM fsync latency × one
    fsync per store per batch; guide §6: put scratch I/O on the right
    medium).  Production sinks pass a REAL durable checkpoint dir and
    are untouched (this path only serves the memory-sink convenience
    drains).  ``SPARK_GRAFT_STREAM_CKPT_DIR`` overrides the base."""
    import tempfile

    base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if not base:
        base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else tempfile.gettempdir()
    return tempfile.mkdtemp(prefix="ts_drain_ckpt_", dir=base)


def run_stream_to_df(
    stream_out: DataFrame,
    query_name: str,
    *,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame through a memory sink synchronously and
    return the materialized result as a batch DataFrame (test/driver
    convenience; production would writeStream to a real sink).

    ``state_store="rocksdb"`` swaps the per-partition state store to the
    RocksDB provider (SCALE.md's lever for state that exceeds executor
    heap — spilling keyed state to local SSD instead of OOMing). The
    provider is latched per query at start, so pinning it around
    ``.start()`` scopes it to this drain; results are identical either
    way, which ``tests/test_streaming_sinks.py`` asserts."""
    import shutil

    spark = stream_out.sparkSession
    if shuffle_partitions is None:
        shuffle_partitions = default_stream_partitions(stream_out)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    ckpt = _ephemeral_checkpoint_dir()
    with pinned_shuffle_partitions(spark, shuffle_partitions):
        if state_store == "rocksdb":
            spark.conf.set(provider_key, ROCKSDB_PROVIDER)
        try:
            q = (
                stream_out.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(query_name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if state_store == "rocksdb":
                if old_provider is None:
                    spark.conf.unset(provider_key)
                else:
                    spark.conf.set(provider_key, old_provider)
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(query_name)


def streaming_asof_join(
    stream_df: DataFrame,
    *,
    partition_by: str,
    time_col: str,
    order_extra: Sequence[str] = (),
    type_col: str,
    left_type: str,
    right_type: str,
    value_col: str,
    out_col: str = "value_asof",
) -> DataFrame:
    """Stateful streaming as-of join over ONE interleaved event stream:
    every ``left_type`` row gets the most recent ``right_type`` value
    seen for its key — per-key state is a SINGLE scalar (the last right
    value), updated as right rows flow past.  This is the stream form of
    operators/asof.asof_join with O(1) state per key (the batch union+
    window plan needs the whole history; a stream-stream interval join
    needs a watermark-bounded buffer — a plain as-of needs neither).

    Semantics are ARRIVAL-ORDER, the same contract as streaming lag
    under late data: within a micro-batch rows process in
    (time, *order_extra) order; across batches in arrival order — so a
    late-arriving old right row DOES become "the most recent value" for
    subsequent lefts (state is by processing order, not event time; the
    oracle replays this exactly as a window over (is_late, time, id)).

    Output (append mode): left rows only —
    ``(partition_by, time_col, *order_extra, value_col, out_col)``,
    time as epoch-µs long.
    """
    sort_cols = [time_col, *order_extra]

    def _prep(batch: pd.DataFrame) -> pd.DataFrame:
        batch["_pv"] = batch[value_col].where(batch[type_col] == right_type)
        return batch

    def _step(full: pd.DataFrame):
        # the carried last-right value enters as the key's prefix `_pv`;
        # the grouped cython ffill is the per-series ffill
        g = full.groupby(partition_by, sort=False)["_pv"]
        full[out_col] = g.ffill()
        last = g.last().dropna()
        return full[full[type_col] == left_type], last.index, last.to_numpy()

    return _bucketed_drain(
        stream_df.where(F.col(type_col).isin([left_type, right_type])),
        partition_by, sort_cols, value_col, [out_col], "_pv", _step,
        prep=_prep, extra_cols=[type_col],
    )


def streaming_ewma(
    stream_df: DataFrame,
    value_col: str,
    time_col,
    alpha: float,
    *,
    partition_by: str,
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Stateful streaming EWMA — per-key state is ONE scalar (the last
    smoothed value), the theoretical minimum for the adjust=False
    recurrence: y_t = (1−α)·y_{t−1} + α·x_t.

    Each micro-batch sorts its rows, PREPENDS the carried state as a
    synthetic first observation, and runs the same cython
    ``ewm(adjust=False)`` kernel the batch operator uses — the seeded
    continuation is BIT-identical to one uninterrupted pass (step t
    depends only on (y_{t−1}, x_t), and step 0 of ewm IS the seed), so
    the drain over an ordered replay equals batch EWMA exactly, which
    the registered oracle (the ewma_events recursive CTE, α=0.3
    verified kernel) asserts.

    Contract: NULL values must be filtered upstream — pandas'
    ignore_na=False accumulates a WEIGHT state across NaNs that a
    carried scalar cannot represent (the keyed_scan holdback note);
    with NULLs excluded the scalar is sufficient.  Late rows smooth in
    ARRIVAL order (the streaming-lag late-data contract).
    """
    sort_cols = [time_col, *order_extra]
    out_name = f"{value_col}_ewma"

    def _step(full: pd.DataFrame):
        # the carried value is the key's prefix row: the seed IS step 0
        # of ewm(adjust=False), run per group by the grouped cython kernel
        if full[value_col].dtype != "float64":
            full[value_col] = full[value_col].astype("float64")
        full[out_name] = (
            full.groupby(partition_by, sort=False)[value_col]
            .ewm(alpha=alpha, adjust=False)
            .mean()
            .reset_index(level=0, drop=True)
            .sort_index()
        )
        last = full.groupby(partition_by, sort=False)[out_name].last()
        return full, last.index, last.to_numpy()

    return _bucketed_drain(stream_df, partition_by, sort_cols, value_col,
                           [out_name], value_col, _step)


def _dec6_to_double(micros: int) -> float:
    """Python replica of _num.dec_to_double for a DECIMAL(_,6) carried
    as integer micro-units: truncating split (sign of the dividend, the
    SQL decimal % semantics), exact integral conversion, one correctly
    rounded fractional division, one IEEE add — bit-equal to the SQL
    expression on both engines.  The split uses exact INTEGER floor
    division (not float true-division): near the DECIMAL(18,6)
    magnitude limit |micros| approaches 2^53, where a float quotient
    can round across an integer boundary and break the bit-equality
    contract with holt_winters_sql."""
    q = micros // 10**6 if micros >= 0 else -((-micros) // 10**6)
    r = micros - q * 10**6
    return float(q) + (r / 1e6)


def _round_double_py(e: float, nd: int = 6, guard: float = 1e9) -> float:
    """Python replica of _num.round_double: same ops, same order."""
    import math

    if abs(e) >= guard:
        return e
    scale = 10.0**nd
    mag = math.floor(abs(e) * scale + 0.5) / scale
    return -mag if e < 0.0 else mag


def streaming_holt_winters(
    stream_df: DataFrame,
    *,
    key_col: str,
    x_col: str = "x",
    micros_col: str = "y_micros",
    period: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
) -> DataFrame:
    """Stateful streaming Holt-Winters over FINALIZED day buckets —
    per-key state is exactly the recurrence's memory: (level, trend,
    the ``period``-slot seasonal queue), plus a ≤ 2·period init buffer
    that drains the moment initialization completes (the batch
    operator's l0/b0/s0 need the first two seasons; a stream cannot
    know them earlier, so the state machine buffers then replays —
    after that the buffer stays empty forever and the state is O(m)).

    Bit-exactness contract: every scalar op replicates
    operators/seasonal._hw_scalar_exprs in the SAME order on IEEE
    doubles (Python floats ARE the same doubles; 1−α is computed once,
    matching the SQL's repr(1.0−alpha) literal), and y values enter
    via :func:`_dec6_to_double` of the EXACT integer-micros bucket sum
    — so the drain over an ordered replay equals the batch
    holt_winters_sql statement bit-for-bit, which the registered
    oracle asserts.  The per-bucket Python loop is bounded by the
    bucket CALENDAR, never the event volume (the bounded-fold
    posture); events aggregate to buckets upstream.

    Contract: buckets must arrive FINALIZED and in order per key (the
    feeder's watermark duty); a late bucket would step the recurrence
    in arrival order like every streaming op here.
    """
    m = int(period)
    a, ca = float(alpha), 1.0 - float(alpha)
    bb, cb = float(beta), 1.0 - float(beta)
    g, cg = float(gamma), 1.0 - float(gamma)
    output_schema = (
        f"{key_col} string, day_x long, y_val double, "
        f"hw_fit double, hw_err double"
    )
    state_schema = (
        "bx array<long>, by array<long>, l double, b double, "
        "seas array<double>"
    )

    def _init(bx, by):
        s1m = sum(by[:m])
        s2m = sum(by[m : 2 * m])
        mf = float(m)
        t1 = _dec6_to_double(s1m) / mf
        t2 = _dec6_to_double(s2m) / mf
        l0 = t1
        b0 = (t2 - t1) / mf
        seas = [_dec6_to_double(by[i]) - l0 for i in range(m)]
        return l0, b0, seas

    def _step(l, b, seas, micros):
        yd = _dec6_to_double(micros)
        s1 = seas[0]
        fit = (l + b) + s1
        lnew = (a * (yd - s1)) + (ca * (l + b))
        bnew = (bb * (lnew - l)) + (cb * b)
        snew = (g * (yd - lnew)) + (cg * s1)
        return lnew, bnew, seas[1:] + [snew], fit, yd

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            x_col, kind="mergesort"
        )
        if state.exists:
            bx, by, l, b, seas = state.get
            bx, by, seas = list(bx), list(by), list(seas)
        else:
            bx, by, l, b, seas = [], [], 0.0, 0.0, []
        rows = []
        for x, micros in zip(batch[x_col], batch[micros_col]):
            x, micros = int(x), int(micros)
            if not seas:
                bx.append(x)
                by.append(micros)
                if len(by) == 2 * m:
                    l, b, seas = _init(bx, by)
                    for i in range(m, 2 * m):
                        l, b, seas, fit, yd = _step(l, b, seas, by[i])
                        rows.append((key[0], bx[i],
                                     _dec6_to_double(by[i]),
                                     _round_double_py(fit),
                                     _round_double_py(yd - fit)))
                    bx, by = [], []
            else:
                l, b, seas, fit, yd = _step(l, b, seas, micros)
                rows.append((key[0], x, yd,
                             _round_double_py(fit),
                             _round_double_py(yd - fit)))
        state.update((bx, by, float(l), float(b), seas))
        yield pd.DataFrame(
            rows, columns=[key_col, "day_x", "y_val", "hw_fit", "hw_err"]
        )

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            _update,
            output_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_croston(
    stream_df: DataFrame,
    *,
    key_col: str,
    x_col: str = "x",
    micros_col: str = "y_micros",
    alpha: float = 0.2,
) -> DataFrame:
    """Stateful streaming Croston over FINALIZED nonzero day buckets —
    per-key state is exactly the recurrence's memory: (z, p, last
    demand day), plus a ONE-bucket init buffer (the batch operator's
    z₀/p₀ need the first two nonzero buckets; the buffer holds the
    first until the second arrives, then stays empty forever).

    Bit-exactness contract (the streaming_holt_winters discipline):
    every scalar op replicates operators/seasonal._croston_scalar_exprs
    in the SAME order on IEEE doubles (1−α computed once, matching the
    SQL's repr literal; q is an exact integer day gap), and demand
    enters via :func:`_dec6_to_double` of the EXACT integer-micros
    bucket sum — so the drain over an ordered replay equals the batch
    croston_sql statement bit-for-bit, which the registered oracle
    asserts.

    Contract: buckets must arrive FINALIZED (nonzero-demand days only
    — the feeder's filter duty) and in order per key.
    """
    a = float(alpha)
    ca = 1.0 - a
    sba = 1.0 - a / 2.0
    output_schema = (
        f"{key_col} string, day_x long, y_val double, gap_days long, "
        f"croston_rate double, sba_rate double"
    )
    state_schema = "bx array<long>, by array<long>, z double, p double, px long"

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            x_col, kind="mergesort"
        )
        if state.exists:
            bx, by, z, p, px = state.get
            bx, by = list(bx), list(by)
        else:
            bx, by, z, p, px = [], [], 0.0, -1.0, 0
        rows = []
        for x, micros in zip(batch[x_col], batch[micros_col]):
            x, micros = int(x), int(micros)
            if p < 0.0 and not bx:
                bx, by = [x], [micros]
                continue
            if p < 0.0:
                z = _dec6_to_double(by[0])
                p = float(x - bx[0])
                px = bx[0]
                bx, by = [], []
            q = float(x - px)
            yd = _dec6_to_double(micros)
            z = (a * yd) + (ca * z)
            p = (a * q) + (ca * p)
            rate = z / p
            rows.append((key[0], x, yd, x - px,
                         _round_double_py(rate),
                         _round_double_py(rate * sba)))
            px = x
        state.update((bx, by, float(z), float(p), int(px)))
        yield pd.DataFrame(
            rows,
            columns=[key_col, "day_x", "y_val", "gap_days",
                     "croston_rate", "sba_rate"],
        )

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            _update,
            output_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
