"""The keyed scan (plans/keyed_scan.py) under every kernel that runs on it:
EWMA, Brown smoothing and greedy sequence packing. Tiny Arrow batches
force keys across batch boundaries, where the holdback loop works."""

import random

import numpy as np
import pandas as pd
import pytest

from tests.test_ewma import _tiny_arrow_batches
from time_sift_spark.operators.corpus import pack_sequences
from time_sift_spark.operators.ewma import brown_scan, ewma


def _scalar_brown(xs, a):
    """Brown's two chained recurrences stepped one value at a time, in the
    IEEE op order of pandas' adjust=False kernel."""
    one, a = np.float64(1.0), np.float64(a)
    coef = a / (one - a)
    s1 = s2 = None
    out = []
    for x in xs:
        if s1 is None:
            s1 = s2 = np.float64(x)
        else:
            s1 = (one - a) * s1 + a * np.float64(x)
            s2 = (one - a) * s2 + a * s1
        lev = np.float64(2.0) * s1 - s2
        tr = coef * (s1 - s2)
        out.append((lev, tr, lev + tr))
    return out


@pytest.mark.parametrize("batch", ["2", "7"])
def test_brown_scan_tiny_batches_match_scalar_recurrence(spark, batch):
    rng = np.random.RandomState(23)
    n_keys, n = 9, 13  # 13 rows per key: no batch size here divides it
    pdf = pd.DataFrame(
        {
            "k": np.repeat(np.arange(n_keys), n),
            "t": np.tile(np.arange(n, dtype="int64"), n_keys),
            "v": rng.randn(n_keys * n) * 10.0,
        }
    )
    with _tiny_arrow_batches(spark, batch):
        out = (
            brown_scan(spark.createDataFrame(pdf), "v", "t", 0.3, partition_by="k")
            .orderBy("k", "t")
            .toPandas()
        )
    got = list(zip(out.v_level, out.v_trend, out.v_fcst))
    expected = [
        row for k in range(n_keys) for row in _scalar_brown(pdf[pdf.k == k].v, 0.3)
    ]
    assert got == expected


def _greedy_bins(rows, budget):
    """Python greedy reference: per source (NULL its own group), docs in
    doc_id order with NULLs last, a NULL token count packing as 0."""
    groups = {}
    for src, did, tok in rows:
        groups.setdefault(src, []).append((did, tok))
    bins = {}
    for src, docs in groups.items():
        docs.sort(key=lambda d: (d[0] is None, d[0] or 0))
        bin_id = fill = 0
        for did, tok in docs:
            t = tok or 0
            if fill > 0 and fill + t > budget:
                bin_id, fill = bin_id + 1, 0
            fill += t
            bins[(src, did)] = bin_id
    return bins


def test_pack_sequences_tiny_batches_match_greedy_reference(spark):
    rng = random.Random(31)
    rows = [
        (f"s{rng.randrange(12)}", i, rng.choice([0, 1, 3, 5, 8, 13])) for i in range(1, 300)
    ]
    rows += [(None, 400 + i, rng.randint(1, 9)) for i in range(17)]  # NULL source
    rows += [("s1", 500, None), ("s2", None, 4), (None, None, 6)]  # NULL tokens, NULL ids
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    with _tiny_arrow_batches(spark, "3"):
        out = pack_sequences(df, "n_tokens", "doc_id", budget=12).collect()
    assert len(out) == len(rows)
    assert {(r.source, r.doc_id): r.bin_id for r in out} == _greedy_bins(rows, 12)
    assert {(r.source, r.doc_id, r.n_tokens) for r in out} == set(rows)


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_keyed_scan_plans_one_exchange_one_map_in_pandas(spark):
    pdf = pd.DataFrame({"k": [1, 1, 2], "t": [0, 1, 0], "v": [1.0, 2.0, 3.0]})
    events = spark.createDataFrame(pdf)
    docs = spark.createDataFrame(
        [("a", 1, 3), ("a", 2, 9), ("b", 3, 4)], "source string, doc_id long, n_tokens long"
    )
    for df in (
        ewma(events, "v", "t", 0.3, partition_by="k"),
        brown_scan(events, "v", "t", 0.3, partition_by="k"),
        pack_sequences(docs, "n_tokens", "doc_id", budget=10),
    ):
        plan = _final_plan(df)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("MapInPandas") == 1, plan
        assert "FlatMapGroupsInPandas" not in plan, plan


def test_pack_sequences_oracle_sql_matches_on_null_groups_and_counts(spark):
    """The DuckDB recurrence packs a NULL ``source`` group of 3+ rows and
    a mid-group NULL count as pack_sequences does: NULL keys form one
    group and a NULL count packs as 0 tokens (its output stays NULL)."""
    import duckdb

    from time_sift_spark.operators.corpus import pack_sequences_oracle_sql

    rows = [
        ("a", 1, 5), ("a", 2, None), ("a", 3, 4), ("a", 4, 3), ("a", 5, 6),
        (None, 6, 4), (None, 7, 5), (None, 8, 3), (None, 9, 7),
        ("b", 10, None), ("b", 11, 9), ("b", 12, 2),
    ]
    schema = "source string, doc_id long, n_tokens long"
    got = {
        (r.source, r.doc_id): (r.n_tokens, r.bin_id)
        for r in pack_sequences(
            spark.createDataFrame(rows, schema), "n_tokens", "doc_id", budget=10
        ).collect()
    }
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["source", "doc_id", "n_tokens"]))
    sql = pack_sequences_oracle_sql("docs", "n_tokens", "doc_id", budget=10)
    want = {
        (s, d): (None if pd.isna(n) else int(n), b)
        for s, d, n, b in con.execute(sql).fetchall()
    }
    assert len(got) == len(want) == len(rows)
    assert got == want
