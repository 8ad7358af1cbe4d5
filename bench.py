#!/usr/bin/env python
"""Benchmark harness — times registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Execution is forced with a noop datasource write (full plan runs, nothing
collected to the driver). Per query: one warm-up, then best-of-2 timed runs.

Timeout-proofing (a round-12 run ended rc=124 with parsed=null — its capture
window expired before the single end-of-run line printed):

* Queries are measured in GRADE_PRIORITY order (the registry's importance
  order), so whatever a budget cut omits is the least-important tail.
* A wall-clock budget (SPARK_GRAFT_BENCH_BUDGET seconds, counted from
  process start) stops measurement early; skipped queries are reported as
  ``not_measured`` in the compact line, never silently dropped.
* A fresh snapshot of the compact line is printed to stdout after EVERY
  measured query, so even a hard external kill leaves a parseable line in
  the driver's 2000-char capture tail. Console progress bars and WARN logs
  are silenced (they polluted the r12 tail); the full-precision record
  goes to stderr once at the end.
"""

from __future__ import annotations

import json
import os
import sys
import time

_T0 = time.monotonic()  # budget clock starts at import, before JVM spin-up

from time_sift_spark.queries import REGISTRY, _ordered_names
from time_sift_spark.session import get_spark

# The driver captures only the LAST 2000 chars of output and parses that
# (rounds 1-4 all recorded "parsed": null from an over-long line
# truncated mid-JSON). MAX_LINE leaves headroom for a trailing newline
# and any stray shutdown output.
MAX_LINE = 1950

# Wall-clock budget for the whole run (seconds, from process start). The
# capture window is ~1h (round 11 at ~45 min passed; round 12 at ~70 min on a
# 1.5x-slow box hit it); 2400s leaves margin even on a slow epoch.
BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2400"))

# Quiet sessions: no console progress bar (it wrote the r12 tail noise).
_QUIET_CONF = {"spark.ui.showConsoleProgress": "false"}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _remaining() -> float:
    return BUDGET - (time.monotonic() - _T0)


def compact_result_line(timings: dict, total: float, sf_val, not_measured: int) -> str:
    """ONE parseable JSON line within the driver's capture window:
    degrade per-query precision first, then (last resort) drop the
    cheapest SUCCESSFUL queries, reporting how many were omitted.
    Failed queries (sentinel -1.0) are never trimmed away — the compact
    line must surface failures even when space runs out (full data only
    goes to stderr, which the driver does not capture)."""

    failed = {k: v for k, v in timings.items() if v < 0}

    def line_for(qdict: dict, extra: dict) -> str:
        if failed:
            extra = {"n_failed": len(failed), **extra}
        if not_measured:
            extra = {"not_measured": not_measured, **extra}
        return json.dumps(
            {
                "metric": "sum_query_seconds",
                "value": total,
                "unit": "sec",
                "n_measured": len(timings),
                "queries": qdict,
                **extra,
                "sf": sf_val,
            },
            separators=(",", ":"),
        )

    for dp in (2, 1):
        out = line_for({k: round(v, dp) for k, v in timings.items()}, {})
        if len(out) <= MAX_LINE:
            return out
    ok = {k: v for k, v in timings.items() if v >= 0}
    ranked = sorted(ok, key=lambda k: -ok[k])
    for n_keep in range(len(ranked) - 1, -1, -1):
        trimmed = {k: round(timings[k], 1) for k in [*failed, *ranked[:n_keep]]}
        out = line_for(trimmed, {"queries_omitted": len(ok) - n_keep})
        if len(out) <= MAX_LINE:
            return out
    return line_for(dict(failed), {"queries_omitted": len(ok)})


def _emit_snapshot(timings: dict, sf_val, not_measured: int) -> None:
    """Write the current compact line as ONE atomic stdout write so a kill
    mid-run still leaves the previous complete line inside the capture
    tail (only a kill landing mid-syscall can truncate it)."""
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    line = compact_result_line(timings, total, sf_val, not_measured)
    sys.stdout.write(line + "\n")
    sys.stdout.flush()


def _time_query(spark, qd, sf_dir: str) -> float:
    spark.sparkContext.setJobDescription(
        f"bench:{qd.spark_fn.__name__}"
    )  # guide §1.5
    try:
        force(qd.spark_fn(spark, sf_dir))  # warm-up (JIT, file listing)
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            force(qd.spark_fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
    finally:
        spark.sparkContext.setJobDescription(None)
    return round(min(runs), 4)


def _is_streaming(name: str) -> bool:
    return name.startswith(("streaming_", "stream_"))


def _run_isolated(name: str, sf_dir: str) -> float:
    """Time one query in its OWN subprocess/JVM.  Stateful streaming
    queries run multi-batch drains whose timings in a 130-query aged
    session absorb 2-3x old-gen GC draws, slowly inflating the
    element-wise-max baseline the 2x regression gate compares against
    (VERDICT r6 #6); a fresh JVM per streaming query removes that noise
    source.  JVM startup is NOT in the measured window — the subprocess
    itself warms up then times, exactly like the in-process path."""
    import subprocess

    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=name)
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True,
            timeout=max(30.0, min(600.0, _remaining())),
        )
        sys.stderr.write(proc.stderr)
        line = proc.stdout.strip().splitlines()[-1]
        return float(json.loads(line)["sec"])
    except Exception as exc:
        print(f"[bench] {name} FAILED (isolated): {exc}", file=sys.stderr)
        return -1.0


def main() -> None:
    # many queries x 3 executions in one JVM: give the driver headroom so
    # late-run queries measure work, not old-gen GC (overridable via env)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf

    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        # child mode: time exactly one query in this fresh JVM
        spark = get_spark("time_sift_spark_bench_1q", extra_conf=_QUIET_CONF)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            sec = _time_query(spark, REGISTRY[only], sf_dir)
        except Exception as exc:
            print(f"[bench] {only} FAILED: {exc}", file=sys.stderr)
            sec = -1.0
        print(json.dumps({"query": only, "sec": sec}))
        return

    spark = get_spark("time_sift_spark_bench", extra_conf=_QUIET_CONF)
    spark.sparkContext.setLogLevel("ERROR")

    # GRADE_PRIORITY order: a budget cut omits the least-important tail.
    names = _ordered_names()
    timings: dict[str, float] = {}
    stopped_at = len(names)
    # Adaptive pre-query allowance (ADVICE r13): a fixed 15s/60s floor
    # lets one slower-than-allowance query overrun BUDGET. Track the
    # worst observed WALL time per class (in-process incl. warm-up;
    # streaming incl. child JVM) and require 1.2x that much headroom.
    worst_wall = {"stream": 60.0, "batch": 15.0}
    for i, name in enumerate(names):
        cls = "stream" if _is_streaming(name) else "batch"
        need = 1.2 * worst_wall[cls]
        if _remaining() < need:
            stopped_at = i
            print(
                f"[bench] budget {BUDGET:.0f}s reached after {i}/{len(names)} "
                f"queries; omitting the rest", file=sys.stderr,
            )
            break
        qd = REGISTRY[name]
        t_wall = time.monotonic()
        if _is_streaming(name):
            timings[name] = _run_isolated(name, sf_dir)
        else:
            try:
                timings[name] = _time_query(spark, qd, sf_dir)
            except Exception as exc:  # keep benching remaining queries
                print(f"[bench] {name} FAILED: {exc}", file=sys.stderr)
                timings[name] = -1.0
        worst_wall[cls] = max(worst_wall[cls], time.monotonic() - t_wall)
        _emit_snapshot(timings, sf_val, len(names) - i - 1)
        if (i + 1) % 20 == 0:
            # Free ContextCleaner-tracked state (localCheckpoint blocks,
            # broadcasts) whose Python refs died queries ago — BETWEEN
            # timed regions, so the collection cost never lands inside a
            # measurement (concurrent cycle via ExplicitGCInvokesConcurrent,
            # see session.py). r13's aged-session draws (2-7x on late-run
            # small queries) motivated this.
            try:
                spark._jvm.System.gc()
            except Exception:
                pass

    not_measured = len(names) - stopped_at if stopped_at < len(names) else 0

    # Full precision for humans / the repo record — with the recorded
    # standalone floors beside every measured streaming drain (r14
    # VERDICT item 9: availableNow drains draw 2-6x over their floors
    # under aged-JVM/box noise, and a PERF reader needs (floor,
    # in-bench) side by side to tell drain variance from a plan
    # regression without repo archaeology).  Floors are the committed
    # fresh-JVM best-of-2 records in STREAMING_FLOORS.json.
    floors = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "STREAMING_FLOORS.json")) as fh:
            floors = json.load(fh).get("floors", {})
    except Exception:
        pass
    stream_pairs = {
        n: {"floor": floors.get(n), "in_bench": t}
        for n, t in timings.items()
        if _is_streaming(n)
    }
    print(
        json.dumps({
            "queries_full": timings,
            "streaming_floor_vs_in_bench": stream_pairs,
            "sf": sf_val,
        }),
        file=sys.stderr,
    )
    sys.stderr.flush()
    _emit_snapshot(timings, sf_val, not_measured)


if __name__ == "__main__":
    main()
