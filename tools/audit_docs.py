#!/usr/bin/env python
"""Doc-drift audit: SURVEY.md / SCALE.md / GRADE_PRIORITY vs the live registry.

The r7 verdict caught a stale SURVEY citation (a query renamed in r6 still
listed) and six operator families with no SCALE.md posture row — both are
classes of rot this script makes mechanical:

1. every query name mentioned in SURVEY §2.5's table must be registered;
2. every registered query must be mentioned somewhere in SURVEY.md;
3. every registered query must appear in GRADE_PRIORITY (ordering source);
4. names in GRADE_PRIORITY must be registered (dead entries are ignored by
   the loader, but they rot the reading of the priority list);
5. every :func:`...` target in a ``time_sift_spark/`` docstring or comment
   must name a function, class or module-level name defined in the
   package (a dotted ``time_sift_spark.<module>.<name>`` target in that
   module).

Exit code 1 on any finding. Run per round before the final commit:

    python tools/audit_docs.py
"""

from __future__ import annotations

import ast
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from time_sift_spark.queries import GRADE_PRIORITY, REGISTRY  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dangling_func_refs() -> list[str]:
    """``path: target`` for each :func: target in the package that names
    nothing the package defines: a function or class at any depth
    (methods included) or a module-level assignment — looked up in the
    named module when the target is a dotted package path."""
    sources, names = {}, {}
    for root, _, files in os.walk(os.path.join(REPO, "time_sift_spark")):
        for fn in sorted(f for f in files if f.endswith(".py")):
            rel = os.path.relpath(os.path.join(root, fn), REPO)
            mod = rel[:-3].replace(os.sep, ".").removesuffix(".__init__")
            sources[rel] = open(os.path.join(REPO, rel)).read()
            tree = ast.parse(sources[rel])
            names[mod] = {
                n.name for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            }
            for n in tree.body:
                targets = n.targets if isinstance(n, ast.Assign) else [getattr(n, "target", None)]
                names[mod] |= {t.id for t in targets if isinstance(t, ast.Name)}
    everywhere = set().union(*names.values())
    bad = []
    for rel, text in sources.items():
        for target in re.findall(r":func:`~?\.?([\w.]+)`", text):
            mod, _, name = target.rpartition(".")
            if name not in names.get(mod, everywhere):
                bad.append(f"{rel}: {target}")
    return bad


def main() -> int:
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    bad = 0

    # 1. SURVEY-mentioned query-ish tokens that are not registered.
    # Query names are snake_case tokens that appear in the §2.5 driver-query
    # column; to avoid false positives we only check tokens that LOOK like
    # registered names (same suffix conventions) and are near-misses.
    mentioned = set(re.findall(r"\b[a-z][a-z0-9]*(?:_[a-z0-9]+)+\b", survey))
    suffixes = ("_docs", "_events", "_topk", "_orders", "_nation", "_hourly",
                "_customer", "_purchase", "_daily", "_weekly", "_by_type",
                "_by_status", "_summary", "_revenue", "_tokens", "_metrics")
    queryish = {
        m for m in mentioned
        if m.endswith(suffixes) or m.startswith(("tpch_", "streaming_", "stream_", "lag_", "ann_"))
    }
    # tokens that are clearly prose/module references, not query names
    allow = {
        "lag_matrix", "lag_matrix_2d", "lag_features", "lead_features",
        "lag_shape", "lag_matrix_pd", "lag_plan", "lag_stream", "ann_lsh",
        "lag_rank", "lag_set", "stream_df", "streaming_lag",
        "lag_map", "lag_matrix_np",          # API/prose tokens, not queries
        "streaming_distribution_drift",      # operator function, not a query
        "lag_orders_totalprice",             # deliberate historical citation
        "ann_recall_report_sql",             # operator function, not a query
        "streaming_ewma",                    # operator function, not a query
        "streaming_holt_winters",            # operator function, not a query
        "streaming_quantile_drift",          # operator function, not a query
        "streaming_burst_detect",            # operator function, not a query
        "streaming_top_paths",               # operator function, not a query
        "streaming_croston",                 # operator function, not a query
        "streaming_ks_test",                 # operator function, not a query
        "streaming_pettitt",                 # operator function, not a query
    }
    for name in sorted(queryish - set(REGISTRY) - allow):
        # only flag names that are one-edit siblings of real registered
        # queries (the lag_orders_totalprice class of rot) or exact
        # lookalikes; pure prose tokens pass
        sibs = [r for r in REGISTRY if r.split("_")[0] == name.split("_")[0]]
        if sibs and any(abs(len(r) - len(name)) <= 12 for r in sibs):
            print(f"SURVEY mentions unregistered query-like name: {name}")
            bad += 1

    # 2. every registered query must have a §2.5 status-TABLE row — not
    # just any prose mention (the r9 verdict: 8 families existed only in
    # prose, and a prose mention satisfied the old check vacuously).
    # The table is the run of |-rows following the "| §2 item |" header.
    header = "| §2 item | Implementation | Driver queries |"
    if header not in survey:
        print("SURVEY.md §2.5 status-table header not found")
        bad += 1
        table = survey  # degrade to whole-file so check 2 still runs
    else:
        lines = survey[survey.index(header):].splitlines()
        rows = []
        for ln in lines:
            if ln.startswith("|"):
                rows.append(ln)
            elif rows and ln.strip() == "":
                break
        table = "\n".join(rows)
    for name in sorted(REGISTRY):
        if not re.search(rf"(?<![a-z0-9_]){re.escape(name)}(?![a-z0-9_])", table):
            print(f"registered query has no SURVEY §2.5 table row: {name}")
            bad += 1

    # 3./4. GRADE_PRIORITY total and membership
    gp = set(GRADE_PRIORITY)
    for name in sorted(set(REGISTRY) - gp):
        print(f"registered query missing from GRADE_PRIORITY: {name}")
        bad += 1
    for name in sorted(gp - set(REGISTRY)):
        print(f"GRADE_PRIORITY lists unregistered name: {name}")
        bad += 1
    dupes = [n for n in gp if GRADE_PRIORITY.count(n) > 1]
    for name in sorted(set(dupes)):
        print(f"GRADE_PRIORITY duplicate entry: {name}")
        bad += 1

    # 5. :func: cross-references in the package resolve
    for ref in _dangling_func_refs():
        print(f"dangling :func: reference: {ref}")
        bad += 1

    print(f"audit: {len(REGISTRY)} registered queries, {bad} finding(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
