"""bench.py contracts: the compact line always surfaces failures (ADVICE
r5) and a wall-clock budget cut still emits a parseable, labeled line
(VERDICT r12 #1 — a round-12 run ended rc=124/parsed=null because the single
end-of-run line never printed)."""

import json
import os
import subprocess
import sys

sys.path.insert(0, "/root/repo")

from bench import MAX_LINE, compact_result_line


def test_failed_queries_survive_trimming():
    # enough long-named queries that per-query precision alone can't fit
    timings = {f"query_with_a_rather_long_name_{i:03d}": 0.001 + i for i in range(200)}
    timings["broken_query_a"] = -1.0
    timings["broken_query_b"] = -1.0
    total = sum(t for t in timings.values() if t >= 0)
    line = compact_result_line(timings, total, 0.1, 0)
    assert len(line) <= MAX_LINE
    parsed = json.loads(line)
    # the failed entries are never folded into queries_omitted
    assert parsed["n_failed"] == 2
    assert parsed["queries"]["broken_query_a"] == -1.0
    assert parsed["queries"]["broken_query_b"] == -1.0
    # successful queries were trimmed (that's what forced the trim path)
    assert parsed.get("queries_omitted", 0) > 0


def test_no_failures_line_unchanged_shape():
    timings = {"q1": 1.0, "q2": 2.0}
    parsed = json.loads(compact_result_line(timings, 3.0, 0.1, 0))
    assert "n_failed" not in parsed
    assert parsed["queries"] == {"q1": 1.0, "q2": 2.0}


def test_not_measured_is_labeled():
    parsed = json.loads(compact_result_line({"q1": 1.0}, 1.0, 0.1, 42))
    assert parsed["not_measured"] == 42
    assert parsed["n_measured"] == 1


def test_tiny_budget_still_emits_parseable_line():
    """Run the real bench.py under an artificially tiny budget: it must
    stop early (GRADE_PRIORITY order), label the omitted tail, and leave
    a parseable compact line as the LAST stdout line."""
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_BUDGET="45",
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
    )
    env.pop("SPARK_GRAFT_BENCH_ONLY", None)
    proc = subprocess.run(
        [sys.executable, "/root/repo/bench.py"],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.strip()]
    assert lines, "no stdout at all"
    parsed = json.loads(lines[-1])
    assert parsed["metric"] == "sum_query_seconds"
    assert parsed["n_measured"] >= 1
    assert parsed["not_measured"] >= 1  # 45s cannot fit 315 queries
    assert parsed["n_measured"] + parsed["not_measured"] >= 300
    # every earlier snapshot line is parseable too (kill-at-any-point safety)
    for ln in lines:
        json.loads(ln)
    # the first measured query is the head of GRADE_PRIORITY
    from time_sift_spark.queries import _ordered_names

    assert _ordered_names()[0] in parsed["queries"]
