"""The two workloads: each sets up its state on a fresh session, runs
one op of a given kind, and checks that op's output.

An op's ``check`` is ``"full"``, ``"sampled"`` or ``"lean"``. A lean op
skips only the checks that re-run a Spark job over a batch lag output
(the sampled series of ``wide``, ``long`` and ``hotkey``); every other
check runs on every op. The run makes the warm-up cycle sampled, the
last timed cycle full and the timed cycles between them lean.

An op returns the latencies it measured (one per timed kind), the input
rows it consumed and whether its output matched the reference. Every
call into the program sits inside a span named ``<layer>.<what>``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from time_sift_spark.interop import lag_matrix_np
from time_sift_spark.operators.dedup import (
    append_minhash_store,
    build_minhash_store,
    screen_new_docs_fuzzy,
)
from time_sift_spark.operators.lag import lag_features
from time_sift_spark.operators.scale import lag_features_hotkey
from time_sift_spark.sources.catalog import load_table
from time_sift_spark.streaming.lag_stream import run_stream_to_df, streaming_lag_features

from gen import DedupInputs, LagInputs, StreamInputs
from probes import BatchListener, dir_stats

# unordered, with lag 0 and a duplicate, as the reference operator allows
BATCH_LAGS = [3, 0, 1, 7, 3, 12, 2, 5]
VALUE_COLS = ["v1", "v2"]
STREAM_LAGS = [1, 2, 4, 8]


@dataclass
class OpResult:
    seconds: dict[str, float]
    rows: int
    ok: bool
    counts: dict[str, float] = field(default_factory=dict)
    batches: list[dict] = field(default_factory=list)  # streaming progress, one per micro-batch


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def wide_names(value_cols: list[str], lags: list[int]) -> list[str]:
    """The documented wide-layout column names, lag-major; a repeated lag
    gets a ``_p{position}`` suffix."""
    names, seen = [], set()
    for pos, k in enumerate(lags):
        for v in value_cols:
            names.append(f"{v}_lag{k}_p{pos}" if (v, k) in seen else f"{v}_lag{k}")
            seen.add((v, k))
    return names


def expected_lags(values: np.ndarray, lags: list[int], fill) -> np.ndarray:
    """(len(lags), n) reference matrix: NULL inputs are NaN; with a fill,
    every NULL a non-zero lag produces becomes the fill."""
    m = lag_matrix_np(values, lags, fill=np.nan)
    if fill is not None:
        for i, k in enumerate(lags):
            if k:
                m[i][np.isnan(m[i])] = fill
    return m


def _same(got, want) -> bool:
    got = np.asarray(pd.to_numeric(pd.Series(got), errors="coerce"), dtype=np.float64)
    return got.shape == want.shape and np.array_equal(got, want, equal_nan=True)


class LagBatch:
    """Batch lag features (``wide``, ``long``, ``hotkey``) and their
    streaming form (``drain``, see :class:`StreamLag`)."""

    name = "lag_batch"
    cycle = ("wide", "long", "hotkey", "drain")
    cycle_s = 9.5  # one cycle's seconds on a 4-vCPU host, to size the timed phase
    warmups = 1  # untimed cycles before it

    def __init__(self, inputs: LagInputs, stream: StreamInputs, root: str):
        self.inp = inputs
        self.root = root
        self.stream = StreamLag(stream, root)
        self.n_wide = 0

    def setup(self, spark, tr) -> None:
        with tr.span("catalog.load"):
            self.events = load_table(spark, "events", self.root)
        with tr.span("catalog.load"):
            self.skew = load_table(spark, "events_skew", self.root)
        self.stream.setup(spark, tr)

    def scan(self, tr) -> None:
        with tr.span("catalog.scan"):
            force(self.events)

    def op(self, kind: str, tr, check: str) -> OpResult:
        if kind == "drain":
            return self.stream.op(kind, tr, check)
        inp = self.inp
        counts: dict[str, float] = {}
        with tr.span(f"op.{kind}"):
            t0 = time.perf_counter()
            if kind == "wide":
                fill = None if self.n_wide % 2 == 0 else float("inf")
                self.n_wide += 1
                with tr.span("lag_plan.build"):
                    out = lag_features(self.events, VALUE_COLS, "ts", BATCH_LAGS,
                                       partition_by="key", order_extra="seq", fill=fill)
                with tr.span("lag.wide_exec"):
                    force(out)
            elif kind == "long":
                fill = None
                with tr.span("lag_plan.build"):
                    out = lag_features(self.events, VALUE_COLS, "ts", BATCH_LAGS,
                                       partition_by="key", order_extra="seq", layout="long")
                with tr.span("lag.long_exec"):
                    force(out)
            else:
                fill = None
                with tr.span("scale.prep"):
                    out = lag_features_hotkey(self.skew, VALUE_COLS, "ts", BATCH_LAGS,
                                              partition_by="key", order_extra="seq",
                                              hot_threshold=inp.hot_threshold)
                with tr.span("scale.exec"):
                    force(out)
            seconds = time.perf_counter() - t0
        if check == "lean":
            return OpResult({kind: seconds}, inp.rows, True, counts)
        with tr.span("bench.check"):
            truth = inp.skew_truth if kind == "hotkey" else inp.plain_truth
            ok = self._check(out, kind, fill, truth, hot_slice=check == "full")
            if check == "full" and kind != "hotkey":
                want = inp.rows * (len(BATCH_LAGS) if kind == "long" else 1)
                got = out.count()
                counts["out_rows_per_in_row"] = got / inp.rows
                ok = ok and got == want
        return OpResult({kind: seconds}, inp.rows, ok, counts)

    def _check(self, out, kind: str, fill, truth: dict, hot_slice: bool = False) -> bool:
        """Sampled series against ``lag_matrix_np``. With ``hot_slice``
        the hot key is checked too, on a slice of its timeline: a filter
        on ``ts`` cannot move below the window, so that check re-runs the
        whole hot-key path."""
        hot = self.inp.hot_key
        truth = {k: v for k, v in truth.items() if k != hot or hot_slice}
        cond = F.col("key").isin([int(k) for k in truth if k != hot])
        windows = {}
        if hot in truth:
            ts = truth[hot][0]
            lo, hi = ts[len(ts) // 2], ts[len(ts) // 2 + 2000]
            windows[hot] = (lo, hi)
            cond = cond | ((F.col("key") == hot) & F.col("ts").between(lo, hi))
        pdf = out.where(cond).toPandas()
        names = wide_names(VALUE_COLS, BATCH_LAGS)
        for key, (ts, seq, cols) in truth.items():
            part = pdf[pdf["key"] == key]
            if kind == "long":
                part = part.sort_values(["lag_pos", "ts", "seq"])
                if len(part) != len(BATCH_LAGS) * len(ts):
                    return False
            else:
                part = part.sort_values(["ts", "seq"])
            sel = slice(None)
            if key in windows:
                lo, hi = windows[key]
                sel = (ts >= lo) & (ts <= hi)
            if kind != "long" and (len(part) != len(ts[sel]) or not np.array_equal(part["seq"], seq[sel])):
                return False
            ref = {v: expected_lags(cols[v], BATCH_LAGS, fill) for v in VALUE_COLS}
            i = 0
            for pos, _ in enumerate(BATCH_LAGS):
                for v in VALUE_COLS:
                    want = ref[v][pos][sel]
                    if kind == "long":
                        got = part[f"{v}_lagged"].to_numpy()[pos * len(ts):(pos + 1) * len(ts)]
                    else:
                        got = part[names[i]].to_numpy()
                    if not _same(got, want):
                        return False
                    i += 1
        return True


class StreamLag:
    """The ``drain`` op of :class:`LagBatch`: ``streaming_lag_features``
    over a directory of parquet files, one micro-batch per file."""

    def __init__(self, inputs: StreamInputs, root: str):
        self.inp = inputs
        self.root = root
        self.dir = os.path.join(root, "stream.parquet")
        self.seq = 0

    def setup(self, spark, tr) -> None:
        self.spark = spark
        self.listener = BatchListener()
        spark.streams.addListener(self.listener)
        with tr.span("catalog.load"):
            self.batch = load_table(spark, "stream", self.root)
        self.ref = None

    def _reference(self) -> pd.DataFrame:
        """Batch ``lag_features`` over the same files, on the sampled keys.
        It is part of the check, so it runs under ``bench.check``."""
        if self.ref is None:
            sample = [int(k) for k in self.inp.truth]
            ref = lag_features(self.batch.where(F.col("key").isin(sample)), "v", "ts",
                               STREAM_LAGS, partition_by="key", order_extra="seq",
                               keep_cols=["key", "ts", "seq", "v"])
            self.ref = ref.toPandas().sort_values(["key", "ts", "seq"]).reset_index(drop=True)
        return self.ref

    def op(self, kind: str, tr, check: str) -> OpResult:
        spark = self.spark
        self.seq += 1
        name = f"perfbench_drain_{self.seq}"
        src = (spark.readStream.schema(self.batch.schema)
               .option("maxFilesPerTrigger", 1).parquet(self.dir))
        with tr.span("op.drain"):
            t0 = time.perf_counter()
            with tr.span("stream.build"):
                out = streaming_lag_features(src, "v", "ts", STREAM_LAGS,
                                             partition_by="key", order_extra=("seq",))
            with tr.span("stream.drain"):
                res = run_stream_to_df(out, name)
            seconds = time.perf_counter() - t0
        with tr.span("bench.check"):
            batches = self.listener.wait_for(name, self.inp.files)
            ref = self._reference()
            got = (res.where(F.col("key").isin([int(k) for k in self.inp.truth]))
                   .toPandas().sort_values(["key", "ts", "seq"]).reset_index(drop=True))
            ok = len(got) == len(ref) and all(
                np.array_equal(got[c].to_numpy(np.float64), ref[c].to_numpy(np.float64),
                               equal_nan=True)
                for c in ["key", "ts", "seq", "v", *[f"v_lag{k}" for k in STREAM_LAGS]]
            )
            ok = ok and self._check_truth(got)
            if check == "full":
                ok = ok and res.count() == self.inp.rows
            spark.catalog.dropTempView(name)
        counts = {"batches": len(batches)}
        if batches:
            counts["state_rows"] = batches[-1]["state_rows"]
        return OpResult({kind: seconds}, self.inp.rows, ok, counts, batches)

    def _check_truth(self, got: pd.DataFrame) -> bool:
        for key, (ts, seq, cols) in self.inp.truth.items():
            part = got[got["key"] == key]
            m = expected_lags(cols["v"], STREAM_LAGS, None)
            if not np.array_equal(part["seq"].to_numpy(), seq):
                return False
            if not all(_same(part[f"v_lag{k}"].to_numpy(), m[i]) for i, k in enumerate(STREAM_LAGS)):
                return False
        return True


class DedupIncremental:
    name = "dedup_incremental"
    cycle = ("increment",)
    cycle_s = 5.0
    warmups = 1

    def __init__(self, inputs: DedupInputs, root: str):
        self.inp = inputs
        self.root = root
        self.built = 0
        self.next_inc = 0

    def setup(self, spark, tr) -> None:
        """Builds a fresh store; the ops use the last one built."""
        self.spark = spark
        self.store = os.path.join(self.root, f"store{self.built}")
        self.built += 1
        with tr.span("catalog.load"):
            corpus = load_table(spark, "docs", self.root)
        with tr.span("dedup.build_store"):
            build_minhash_store(corpus, "doc_id", "text", self.store)
        self.input_bytes = dir_stats(os.path.join(self.root, "docs.parquet"))[1]

    def scan(self, tr) -> None:
        with tr.span("catalog.scan"):
            force(load_table(self.spark, "docs", self.root))

    def op(self, kind: str, tr, check: str) -> OpResult:
        spark = self.spark
        i = self.next_inc
        self.next_inc += 1
        name = f"inc_{i:03d}"
        with tr.span("op.increment"):
            with tr.span("catalog.load"):
                inc = load_table(spark, name, self.root)
            t0 = time.perf_counter()
            with tr.span("dedup.screen"):
                rows = screen_new_docs_fuzzy(spark, self.store, inc).collect()
            t1 = time.perf_counter()
            accepted = sorted(r["doc_id"] for r in rows if r["accepted"])
            with tr.span("dedup.append"):
                append_minhash_store(spark, self.store, inc.where(F.col("doc_id").isin(accepted)))
            t2 = time.perf_counter()
        with tr.span("bench.check"):
            ok = (len(rows) == self.inp.increment_docs
                  and accepted == sorted(self.inp.unique[i]))
            self.input_bytes += dir_stats(os.path.join(self.root, f"{name}.parquet"))[1]
            files, size = dir_stats(self.store)
        counts = {
            "accepted_docs": len(accepted),
            "accept_ratio": len(accepted) / max(1, len(rows)),
            "store_files": files,
            "store_bytes_per_input_byte": size / self.input_bytes,
        }
        return OpResult({"screen": t1 - t0, "append": t2 - t1}, len(rows), ok, counts)


WORKLOADS = {w.name: w for w in (LagBatch, DedupIncremental)}
