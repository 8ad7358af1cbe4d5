#!/usr/bin/env python3
"""Benchmark for time_sift_spark: batch and streaming lag features
(``lag_batch``) and incremental MinHash dedup (``dedup_incremental``), on
local[4] with one single-threaded closed-loop client.

    python3 perfbench/run.py --workload lag_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``perfbench/work/`` and removed at exit. Set-up (a session and the
workload's state) runs three times: first on a fresh JVM, then on new
sessions in that JVM; ``setup_s`` is the median. The last session runs
an untimed warm-up cycle, then a fixed number of timed op cycles sized
from ``--seconds``, in a closed loop. The warm-up cycle and the last
timed cycle are checked, the last more fully; the timed cycles between
them skip only the checks that re-run a batch lag job. A wrong result
counts as a failed op.

Inputs are sized so that a run of each workload, set-up included, takes
about a minute on a 4-vCPU host.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, the
spans go to ``perfbench/out/`` and a per-layer self-time table goes to
stderr. perfbench/README.md lists the workloads, the metrics and which
end-to-end metric each per-layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3  # set-ups per run; setup_s is their median
MIN_CYCLES = 3  # so that each op kind's median is over three or more ops
CORES = 4

SIZES = {
    "lag_batch": dict(rows=100_000, series=1_000, min_len=20),
    "dedup_incremental": dict(corpus_docs=800, increment_docs=200),
}
STREAM_SIZE = dict(files=2, rows_per_file=12_000, keys=1_000)  # lag_batch's drain

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "lag_wide_p50_s": "s",
    "lag_long_p50_s": "s",
    "lag_hotkey_p50_s": "s",
    "microbatch_p50_s": "s",
    "microbatch_p90_s": "s",
    "screen_p50_s": "s",
    "append_p50_s": "s",
    "session.start_s": "s",
    "catalog.load_ms": "ms",
    "catalog.scan_s": "s",
    "lag_plan.build_ms": "ms",
    "lag.wide_exec_s": "s",
    "lag.long_exec_s": "s",
    "lag.wide_out_rows_per_in_row": "ratio",
    "lag.long_out_rows_per_in_row": "ratio",
    "scale.prep_s": "s",
    "scale.exec_s": "s",
    "stream.build_ms": "ms",
    "stream.drain_s": "s",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.state_commit_ms": "ms",
    "dedup.build_store_s": "s",
    "dedup.screen_s": "s",
    "dedup.append_s": "s",
    "dedup.accepted_docs": "count",
    "dedup.accept_ratio": "ratio",
    "dedup.store_files": "count",
    "dedup.store_bytes_per_input_byte": "ratio",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "self.session_pct": "%",
    "self.catalog_pct": "%",
    "self.lag_plan_pct": "%",
    "self.lag_pct": "%",
    "self.scale_pct": "%",
    "self.stream_pct": "%",
    "self.dedup_pct": "%",
    "self.bench_pct": "%",
    "trace.op_p50_s": "s",
    "host.steal_s": "s",
}


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_STREAM_CKPT_DIR": tmp,
        "SPARK_GRAFT_CPUS": str(CORES),
        # no hsperfdata files in /tmp from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            "-XX:ReservedCodeCacheSize=512m -XX:+ExplicitGCInvokesConcurrent -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, q: float) -> float:
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def _geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def op_p50(per_kind: dict[str, list[float]]) -> float:
    """Geometric mean over op kinds of each kind's median latency."""
    return _geomean([_median(v) for v in per_kind.values()])


class Session:
    """A SparkSession on a JVM of its own; :meth:`start` starts a new
    session on the same JVM and :meth:`stop` ends that JVM."""

    def __init__(self, tr):
        self.start(tr)

    def start(self, tr) -> None:
        from time_sift_spark.session import get_spark

        with tr.span("session.start"):
            self.spark = get_spark(
                "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed_cycles(name: str, seconds: float) -> int:
    """The number of timed op cycles: fixed for a given ``--seconds``, so
    that every run does the same work and reads its counts at the same
    point; it lasts about ``seconds`` on a 4-vCPU host, or MIN_CYCLES
    cycles if those take longer."""
    import workloads

    return max(MIN_CYCLES, math.ceil(seconds / workloads.WORKLOADS[name].cycle_s))


def make_workload(name: str, seed: int, seconds: float, root: str):
    import numpy as np

    import gen
    import workloads

    rng = np.random.default_rng(seed)
    if name == "lag_batch":
        return workloads.LagBatch(gen.gen_lag_batch(rng, root, **SIZES[name]),
                                  gen.gen_stream(rng, root, **STREAM_SIZE), root)
    # one increment per warm-up and per timed cycle
    increments = workloads.DedupIncremental.warmups + timed_cycles(name, seconds)
    return workloads.DedupIncremental(
        gen.gen_dedup(rng, root, increments=increments, **SIZES[name]), root)


class Runner:
    """The set-up, the timed closed loop and the result of one run."""

    def __init__(self, args, work: str):
        from spans import Tracer

        self.args = args
        self.tracing = bool(args.trace)
        self.tr = Tracer(self.tracing)
        with self.tr.span("bench.generate"):
            self.wl = make_workload(args.workload, args.seed, args.seconds,
                                    os.path.join(work, "data"))
        self.session = None
        self.attempted = self.failed = 0
        self.ops = []  # OpResults: the warm-ups, then the timed ops

    def attempt(self, kind: str, check: str):
        self.attempted += 1
        try:
            res = self.wl.op(kind, self.tr, check)
        except Exception:  # one failed op must not end the run
            traceback.print_exc()
            self.failed += 1
            return None
        if not res.ok:
            print(f"wrong result: {self.wl.name} {kind} op {self.attempted}", file=sys.stderr)
            self.failed += 1
        return res

    def set_up(self) -> list[float]:
        """Seconds of each of SETUPS set-ups, a session start plus the
        workload's state: the first on a fresh JVM, the others on new
        sessions in that JVM. The last one's session runs the ops."""
        times = []
        for i in range(SETUPS):
            if i:
                self.session.spark.stop()  # the previous set-up's session, not timed
            t0 = time.perf_counter()
            if i == 0:
                self.session = Session(self.tr)
            else:
                self.session.start(self.tr)
            self.wl.setup(self.session.spark, self.tr)
            times.append(time.perf_counter() - t0)
        return times

    def cycle(self, check: str) -> None:
        for kind in self.wl.cycle:
            res = self.attempt(kind, check)
            if res is not None:
                self.ops.append(res)

    def run(self) -> dict:
        from probes import JvmProbe, host_steal_seconds

        try:
            setups = self.set_up()
            setup_s = _median(setups)
            for _ in range(self.wl.warmups):  # kept out of every timing
                self.cycle("sampled")
            timed_from = len(self.ops)
            cycles = timed_cycles(self.wl.name, self.args.seconds)
            t0, steal0 = time.perf_counter(), host_steal_seconds()
            for i in range(cycles):  # checks are never timed
                self.cycle("full" if i == cycles - 1 else "lean")
            steal = host_steal_seconds() - steal0
            print(f"{self.wl.name}: set-ups (s) {' '.join(f'{x:.3f}' for x in setups)}, "
                  f"{cycles} timed cycles in {time.perf_counter() - t0:.1f} s, "
                  f"host steal {steal:.1f} s; op latencies (s):",
                  " ".join(f"{k}={v:.3f}" for res in self.ops for k, v in res.seconds.items()),
                  file=sys.stderr)
            probe = JvmProbe(self.session.spark)
            timed = self.ops[timed_from:]
            per_kind: dict[str, list[float]] = {}
            for res in timed:
                for k, s in res.seconds.items():
                    per_kind.setdefault(k, []).append(s)
            if self.tracing:
                self.wl.scan(self.tr)
                metrics = layer_metrics(self.wl, self.tr, self.ops, timed_from, per_kind, probe)
                metrics["host.steal_s"] = steal
                units = PER_LAYER
            else:
                # one cycle's input rows over the sum of its kinds' median latencies
                cycle_s = sum(_median(v) for v in per_kind.values())
                metrics = {
                    "setup_s": setup_s,
                    "op_p50_s": op_p50(per_kind),
                    "rows_per_s": sum(res.rows for res in timed) / len(timed) * len(self.wl.cycle)
                    / cycle_s if cycle_s else 0.0,
                }
                units = END_TO_END
        finally:
            if self.session is not None:
                self.session.stop()
        out = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
        }
        if self.tracing:
            a = self.args
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            path = os.path.join(HERE, "out", f"trace-{a.workload}-{a.seed}.json")
            self.tr.dump(path, {"workload": a.workload, "seed": a.seed, "metrics": out["metrics"]})
            print(f"spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        return out


def layer_metrics(wl, tr, ops, timed_from: int, per_kind: dict, probe) -> dict:
    from workloads import DedupIncremental, LagBatch

    med = lambda name, scale=1.0: _median(tr.durations(name)) * scale  # noqa: E731
    m = {
        "session.start_s": med("session.start"),
        "catalog.load_ms": med("catalog.load", 1e3),
        "catalog.scan_s": med("catalog.scan"),
        "lag_plan.build_ms": med("lag_plan.build", 1e3),
        "lag.wide_exec_s": med("lag.wide_exec"),
        "lag.long_exec_s": med("lag.long_exec"),
        "scale.prep_s": med("scale.prep"),
        "scale.exec_s": med("scale.exec"),
        "stream.build_ms": med("stream.build", 1e3),
        "stream.drain_s": med("stream.drain"),
        "dedup.build_store_s": med("dedup.build_store"),
        "dedup.screen_s": med("dedup.screen"),
        "dedup.append_s": med("dedup.append"),
        "jvm.gc_s": probe.gc_seconds(),
        "jvm.heap_peak_mb": probe.heap_peak_mb(),
        "jvm.peak_rss_mb": probe.peak_rss_mb(),
    }
    # the timed cycles are fixed for a given --seconds, so counts read
    # after the last op repeat for a given seed
    last = ops[-1].counts if ops else {}
    if isinstance(wl, LagBatch):
        m.update({
            "lag_wide_p50_s": _median(per_kind.get("wide", [])),
            "lag_long_p50_s": _median(per_kind.get("long", [])),
            "lag_hotkey_p50_s": _median(per_kind.get("hotkey", [])),
        })
        for res in ops:
            for kind in ("wide", "long"):
                if kind in res.seconds and "out_rows_per_in_row" in res.counts:
                    m[f"lag.{kind}_out_rows_per_in_row"] = res.counts["out_rows_per_in_row"]
        drains = [res.counts for res in ops if "drain" in res.seconds]
        drain = drains[-1] if drains else {}
        timed_batches = [b for res in ops[timed_from:] for b in res.batches]
        trig = [b["trigger_ms"] / 1e3 for b in timed_batches]
        m.update({
            "microbatch_p50_s": _median(trig),
            "microbatch_p90_s": _quantile(trig, 0.9),
            "stream.batches": drain.get("batches", 0),
            "stream.state_rows": drain.get("state_rows", 0),
            "stream.add_batch_ms": _median([b["add_batch_ms"] for b in timed_batches]),
            "stream.wal_commit_ms": _median([b["wal_commit_ms"] for b in timed_batches]),
            "stream.commit_offsets_ms": _median([b["commit_offsets_ms"] for b in timed_batches]),
            "stream.state_mem_bytes": _median([b["state_mem_bytes"] for b in timed_batches]),
            "stream.state_commit_ms": _median([b["state_commit_ms"] for b in timed_batches]),
        })
    elif isinstance(wl, DedupIncremental):
        m.update({
            "screen_p50_s": _median(per_kind.get("screen", [])),
            "append_p50_s": _median(per_kind.get("append", [])),
            "dedup.accepted_docs": sum(r.counts["accepted_docs"] for r in ops),
            "dedup.accept_ratio": _median([r.counts["accept_ratio"] for r in ops]),
            "dedup.store_files": last.get("store_files", 0),
            "dedup.store_bytes_per_input_byte": last.get("store_bytes_per_input_byte", 0),
        })

    selfs = tr.self_times()
    total = sum(selfs.values()) or 1.0
    for layer in ("session", "catalog", "lag_plan", "lag", "scale", "stream", "dedup"):
        m[f"self.{layer}_pct"] = 100 * selfs.get(layer, 0.0) / total
    m["self.bench_pct"] = 100 * (selfs.get("bench", 0.0) + selfs.get("op", 0.0)) / total

    # tracing overhead: set this against op_p50_s of an untraced run of the same seed
    m["trace.op_p50_s"] = op_p50(per_kind)

    print(f"per-layer self time over the whole run ({total:.2f} s in spans):", file=sys.stderr)
    for layer, s in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:10s} {s:9.3f} s  {100 * s / total:5.1f}%", file=sys.stderr)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import time_sift_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        result = Runner(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
