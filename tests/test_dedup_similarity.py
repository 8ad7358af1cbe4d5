"""Semantic tests: the dedup/similarity operators must actually catch
planted duplicates/near-duplicates (the oracle parity tests only prove
Spark ≡ DuckDB, not that the operators do the right thing)."""

import numpy as np
import pandas as pd
import pytest

from time_sift_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from time_sift_spark.operators.similarity import (
    ann_lsh_topk,
    embedding_neardup_pairs,
    knn_cosine_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees today"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one-word edit
FAR = "completely different content about databases indexes and query planners running fast"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, NEAR), (2, FAR), (3, BASE), (4, "tiny"), (5, "")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    out = exact_dedup(docs, "doc_id", "text").toPandas()
    dup = out[out.n_copies > 1]
    assert len(dup) == 1 and dup.iloc[0].n_copies == 2 and dup.iloc[0].kept_id == 0
    assert out.n_copies.sum() == 6


def test_ngram_jaccard_finds_near_dup(docs):
    out = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).toPandas()
    pairs = set(map(tuple, out[["doc_id_a", "doc_id_b"]].to_numpy()))
    assert (0, 3) in pairs  # exact copy → jaccard 1.0
    assert (0, 1) in pairs  # one-word edit → high jaccard
    assert not any(2 in p for p in pairs)  # unrelated doc not paired


def test_minhash_identical_signatures(docs):
    sig = minhash_signatures(docs, "doc_id", "text").toPandas()
    s0 = sig[sig.doc_id == 0].sort_values("perm_id").minhash.tolist()
    s3 = sig[sig.doc_id == 3].sort_values("perm_id").minhash.tolist()
    s2 = sig[sig.doc_id == 2].sort_values("perm_id").minhash.tolist()
    assert s0 == s3  # identical text → identical signature
    assert s0 != s2
    assert len(s0) == 16


def test_minhash_lsh_catches_dups(docs):
    out = minhash_lsh_pairs(docs, "doc_id", "text").toPandas()
    pairs = {tuple(r) for r in out[["doc_id_a", "doc_id_b"]].to_numpy()}
    assert (0, 3) in pairs
    est = out.set_index(["doc_id_a", "doc_id_b"]).est_jaccard
    assert est.loc[(0, 3)] == 1.0
    # near-dup should band-collide too (high shingle overlap)
    assert (0, 1) in pairs


def test_simhash_hamming(docs):
    out = simhash(docs, "doc_id", "text").toPandas().set_index("doc_id").simhash
    def ham(a, b):
        return bin(int(a) ^ int(b)).count("1")
    assert ham(out[0], out[3]) == 0  # identical
    assert ham(out[0], out[1]) < ham(out[0], out[2])  # near closer than far


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(20, 16).astype("float32")
    base[6] = base[0] + rng.randn(16).astype("float32") * 0.01  # planted near-dup of 0 (same label block)
    pdf = pd.DataFrame({
        "vec_id": range(20),
        "embedding": [v.tolist() for v in base],
        "label": [i % 2 for i in range(20)],
    })
    return spark.createDataFrame(pdf)


def test_knn_topk(vectors):
    out = knn_cosine_topk(vectors, "vec_id", "embedding", query_pred="vec_id = 0", k=3).toPandas()
    assert out.iloc[0].neighbor_id == 6  # the planted near-dup ranks first
    assert out.iloc[0].cosine_sim > 0.99
    assert out["rank"].tolist() == [1, 2, 3]
    assert out.cosine_sim.is_monotonic_decreasing


def test_ann_recall_vs_brute(vectors):
    brute = knn_cosine_topk(vectors, "vec_id", "embedding", query_pred="vec_id < 20", k=3).toPandas()
    ann = ann_lsh_topk(vectors, "vec_id", "embedding", query_pred="vid < 20", k=3, num_planes=2).toPandas()
    # every ANN hit must be a genuine neighbor with identical cosine
    merged = ann.merge(brute, on=["query_id", "neighbor_id"], suffixes=("_a", "_b"), how="left")
    hit = merged.cosine_sim_b.notna()
    assert (merged[hit].cosine_sim_a == merged[hit].cosine_sim_b).all()
    # with only 2 planes (4 buckets) recall should be substantial
    recall = len(merged[hit]) / len(brute)
    assert recall > 0.3


def test_embedding_neardup(vectors):
    out = embedding_neardup_pairs(
        vectors, "vec_id", "embedding", threshold=0.95, block_col="label"
    ).toPandas()
    pairs = {tuple(r) for r in out[["vec_id_a", "vec_id_b"]].to_numpy()}
    assert (0, 6) in pairs  # planted near-dup shares the label block (both even)


def test_embedding_neardup_blocking(vectors):
    # 0 and 5 are in DIFFERENT label blocks (0 even, 5 odd) → blocked join
    # must NOT emit the pair; this asserts blocking actually restricts.
    out = embedding_neardup_pairs(
        vectors, "vec_id", "embedding", threshold=0.95, block_col="label"
    ).toPandas()
    assert all(a % 2 == b % 2 for a, b in out[["vec_id_a", "vec_id_b"]].to_numpy())


def test_blas_neardup_equals_expression(vectors):
    from time_sift_spark.operators.similarity import embedding_neardup_pairs_blas

    expr = embedding_neardup_pairs(
        vectors, "vec_id", "embedding", threshold=0.9, block_col="label"
    ).toPandas()
    blas = embedding_neardup_pairs_blas(
        vectors, "vec_id", "embedding", threshold=0.9, block_col="label"
    ).toPandas()
    a = set(map(tuple, expr[["vec_id_a", "vec_id_b"]].to_numpy()))
    b = set(map(tuple, blas[["vec_id_a", "vec_id_b"]].to_numpy()))
    assert a == b
    merged = expr.merge(blas, on=["vec_id_a", "vec_id_b"], suffixes=("_e", "_b"))
    assert (abs(merged.cosine_sim_e - merged.cosine_sim_b) < 1e-9).all()


def test_ann_lsh_probes_non64_dim(spark):
    # Regression (ADVICE r1): hyperplane dim was hardcoded to 64; zip_with
    # pads the shorter array with NULL, silently corrupting buckets for
    # any other width. The wrapper now probes the real width.
    from time_sift_spark.operators.similarity import ann_lsh_topk, knn_cosine_topk

    rng = np.random.RandomState(0)
    pdf = pd.DataFrame(
        {"vec_id": range(20), "embedding": [rng.randn(8).tolist() for _ in range(20)]}
    )
    df = spark.createDataFrame(pdf)
    ann = ann_lsh_topk(df, "vec_id", "embedding", query_pred="vid < 3", k=3).toPandas()
    assert len(ann) > 0 and ann["cosine_sim"].notna().all()
    exact = knn_cosine_topk(df, "vec_id", "embedding", query_pred="vec_id < 3", k=19).toPandas()
    m = ann.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_ann", "_exact"))
    assert len(m) == len(ann)
    assert np.allclose(m.cosine_sim_ann, m.cosine_sim_exact)


SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def recall_truth(spark):
    from time_sift_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF001)
    exact = knn_cosine_topk(
        emb, "vec_id", "embedding", query_pred="vec_id < 8", k=5
    ).toPandas()
    return emb, {q: set(g.neighbor_id) for q, g in exact.groupby("query_id")}


def _recall(got, truth):
    hits = sum(len(set(g.neighbor_id) & truth[q]) for q, g in got.groupby("query_id"))
    return hits / (5 * len(truth))


def test_ann_ivf_recall(recall_truth):
    # The ANN claim is graded, not just "runs": hash-sampled quantizer,
    # 32 centroids / nprobe=8 probes 25% of lists and must keep >= half
    # the true neighbors (measured 0.65 at sf0.01).
    from time_sift_spark.operators.similarity import ann_ivf_topk

    emb, truth = recall_truth
    got = ann_ivf_topk(
        emb, "vec_id", "embedding", query_pred="vec_id < 8", k=5,
        num_centroids=32, nprobe=8,
    ).toPandas()
    assert _recall(got, truth) >= 0.5


def test_ann_lsh_multitable_recall(recall_truth):
    # OR-amplification: 8 tables x 4 planes must beat one 6-plane table
    # decisively (measured 0.675 vs 0.075 at sf0.01).
    from time_sift_spark.operators.similarity import ann_lsh_topk

    emb, truth = recall_truth
    multi = ann_lsh_topk(
        emb, "vec_id", "embedding", query_pred="vid < 8", k=5,
        num_planes=4, num_tables=8, dim=64,
    ).toPandas()
    single = ann_lsh_topk(
        emb, "vec_id", "embedding", query_pred="vid < 8", k=5,
        num_planes=6, num_tables=1, dim=64,
    ).toPandas()
    r_multi, r_single = _recall(multi, truth), _recall(single, truth)
    assert r_multi >= 0.5
    assert r_multi > r_single + 0.2


def test_lsh_screen_recall_vs_exact_pairwise():
    """The composed LSH→verify screen vs brute-force exact shingle-Jaccard
    over ALL pairs (DuckDB, no LSH): the verify stage makes false
    positives impossible, and banding (8 bands × r=2) must keep recall
    high at threshold 0.5 (theoretical floor 1-(1-s²)^8 ≈ 0.90 at s=0.5,
    higher for stronger dups; measured 1.0 on this corpus)."""
    import duckdb

    from time_sift_spark.functions.text_fns import DUCK
    from time_sift_spark.operators.dedup import lsh_verified_neardup_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM '/root/testdata/sf0.01/documents.parquet'"
    )
    sig = lsh_verified_neardup_sql(DUCK, "documents", "doc_id", "text", threshold=0.5)
    screen = con.execute(sig).df()
    truth_sql = (
        sig[: sig.index("bands AS")]
        + """
    cand AS (
      SELECT a.did AS did_a, b.did AS did_b
      FROM tsets a JOIN tsets b ON a.did < b.did
    ),
"""
        + sig[sig.index("pairs AS"):]
    )
    truth = con.execute(truth_sql).df()
    ts = set(map(tuple, truth[["doc_id_a", "doc_id_b"]].to_numpy()))
    ss = set(map(tuple, screen[["doc_id_a", "doc_id_b"]].to_numpy()))
    assert not (ss - ts), "verify stage must make false positives impossible"
    assert len(ts & ss) / max(len(ts), 1) >= 0.9


def test_ngram_jaccard_blas_equals_expression(spark):
    """The BLAS incidence-matmul strategy must be bit-identical to the SQL
    expression form (same staged hashed tokens, exact integer counts,
    same IEEE division)."""
    from time_sift_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_blas,
    )
    from time_sift_spark.sources.catalog import load_table

    docs_df = load_table(spark, "documents", "/root/testdata/sf0.001")
    blocks = ("lang", "(n_chars div 200)")
    a = (
        ngram_jaccard_pairs(docs_df, "doc_id", "text", threshold=0.5, block_exprs=blocks)
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    b = (
        ngram_jaccard_pairs_blas(
            docs_df, "doc_id", "text", threshold=0.5, block_exprs=blocks
        )
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_ngram_jaccard_blas_null_semantics(spark):
    """NULL text and NULL block keys must match the SQL self-join exactly:
    a NULL text never passes the prefilter, a NULL block key never
    satisfies a.blk = b.blk — neither pairs with anything, and neither
    crashes the BLAS path (code-review r2)."""
    from time_sift_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_blas,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["a b c", "a b c", None, "a b c d", "a b c d"],
            "grp": ["x", "x", "x", None, None],
        }
    )
    df = spark.createDataFrame(pdf)
    a = (
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5, block_exprs=("grp",))
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    b = (
        ngram_jaccard_pairs_blas(df, "doc_id", "text", threshold=0.5, block_exprs=("grp",))
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    # only (1,2) survives: doc 3 has NULL text, docs 4/5 a NULL block key
    assert a[["doc_id_a", "doc_id_b"]].values.tolist() == [[1, 2]]
    pd.testing.assert_frame_equal(a, b)


def test_ngram_jaccard_blas_missing_column_typed_error(spark):
    """The BLAS path must raise the engine's typed ColumnNotFoundError on
    a bad column, not NameError (regression: the exception class wasn't
    imported in dedup.py)."""
    from time_sift_spark.errors import ColumnNotFoundError
    from time_sift_spark.operators.dedup import ngram_jaccard_pairs_blas

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a"]}))
    with pytest.raises(ColumnNotFoundError):
        ngram_jaccard_pairs_blas(df, "nope", "text", threshold=0.5)
    with pytest.raises(ColumnNotFoundError):
        ngram_jaccard_pairs_blas(df, "doc_id", "nope", threshold=0.5)


def test_ngram_jaccard_blas_string_ids(spark):
    """The output pair-id type follows the input id column (docstring
    contract shared with ngram_jaccard_pairs) — string ids must survive,
    not fail a hardcoded long schema."""
    from time_sift_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_blas,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": ["doc-b", "doc-a", "doc-c", "doc-d"],
            "text": ["a b c d", "a b c d", "a b c e", "zz yy xx"],
        }
    )
    df = spark.createDataFrame(pdf)
    a = (
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    b = (
        ngram_jaccard_pairs_blas(df, "doc_id", "text", threshold=0.5)
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    assert b.doc_id_a.dtype == object and len(b) >= 2
    pd.testing.assert_frame_equal(a, b)


def test_lsh_band_cap_bounds_skew(spark):
    """A boilerplate string duplicated across N docs must not explode the
    candidate count once band_freq_cap is set (the SCALE.md heavy-band
    mitigation); genuine near-dup pairs OUTSIDE the mega-cluster keep
    full recall. Identical text ⇒ identical signatures ⇒ the cluster's
    bands all exceed the cap together, so it vanishes from the screen
    (exact dedup is the right tool for it anyway)."""
    from time_sift_spark.operators.dedup import lsh_verified_neardup

    n_boiler = 60
    rows = [(i, BASE) for i in range(n_boiler)]
    extra = [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (102, "one two three four five six seven eight nine ten eleven twelve"),
        (103, "one two three four five six seven eight nine ten eleven thirteen"),
        (104, FAR),
    ]
    df = spark.createDataFrame(rows + extra, "doc_id long, text string")
    uncapped = lsh_verified_neardup(df, "doc_id", "text", threshold=0.5).toPandas()
    capped = lsh_verified_neardup(
        df, "doc_id", "text", threshold=0.5, band_freq_cap=8
    ).toPandas()
    # uncapped: the mega-cluster alone contributes C(60,2) verified pairs
    assert len(uncapped) >= n_boiler * (n_boiler - 1) // 2
    cpairs = set(map(tuple, capped[["doc_id_a", "doc_id_b"]].to_numpy()))
    # capped: no pair from the over-capped cluster survives the screen
    assert not any(a < 100 and b < 100 for a, b in cpairs)
    # full recall outside the cluster (exact pairwise truth: exactly the
    # two planted near-dup pairs clear threshold 0.5; FAR pairs with none)
    truth = ngram_jaccard_pairs(
        spark.createDataFrame(extra, "doc_id long, text string"),
        "doc_id",
        "text",
        threshold=0.5,
    ).toPandas()
    tpairs = set(map(tuple, truth[["doc_id_a", "doc_id_b"]].to_numpy()))
    assert tpairs == {(100, 101), (102, 103)}
    assert cpairs == tpairs


def test_neardup_clusters_transitivity(spark):
    """A→B and B→C near-dup pairs must land in ONE cluster even when A↔C
    alone would not pair (transitive closure), with min-id canonical."""
    from time_sift_spark.operators.dedup import neardup_clusters

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega one two"
    )
    chain_b = base.replace("one two", "one three")     # near base
    chain_c = chain_b.replace("alpha beta", "alpha bets")  # near chain_b
    rows = [
        (10, base), (11, chain_b), (12, chain_c),
        (20, "unrelated text about compilers parsers lexers and tokens entirely"),
        (30, base),  # exact copy of 10 — same cluster
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = neardup_clusters(df, "doc_id", "text", threshold=0.4).toPandas()
    by_doc = dict(zip(out.doc_id, out.cluster_id))
    assert by_doc[10] == by_doc[11] == by_doc[30] == 10
    # chain_c joins via chain_b (possibly not directly paired with base)
    assert by_doc.get(12, 10) == 10
    assert 20 not in by_doc  # singleton: absent from the pair graph
    canon = out[out.is_canonical]
    assert set(canon.doc_id) == {10}
    assert (out[out.cluster_id == 10].cluster_size.iloc[0]) == len(out[out.cluster_id == 10])


def test_connected_components_matches_union_find(spark):
    """Label propagation on random graphs ≡ a union-find reference."""
    import numpy as np
    import pandas as pd

    from time_sift_spark.operators.dedup import connected_components

    rng = np.random.RandomState(5)
    for trial in range(3):
        n, m = 40, rng.randint(10, 60)
        e = pd.DataFrame({"src": rng.randint(0, n, m), "dst": rng.randint(0, n, m)})
        e = e[e.src != e.dst]
        out = connected_components(spark.createDataFrame(e)).toPandas()

        parent = list(range(n))
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in e.itertuples(index=False):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        verts = sorted(set(e.src) | set(e.dst))
        # canonical label = min id in component
        comp = {}
        for v in verts:
            r = find(int(v))
            comp.setdefault(r, []).append(int(v))
        expect = {v: min(members) for r, members in comp.items() for v in members}
        got = dict(zip(out.id.astype(int), out.cluster_id.astype(int)))
        assert got == expect, f"trial {trial}: {got} != {expect}"


def test_connected_components_nonconvergence_raises(spark):
    """A graph whose diameter exceeds max_iterations must FAIL LOUDLY
    (ADVICE r5: silent fall-through returned split components)."""
    import pandas as pd
    import pytest

    from time_sift_spark.operators.dedup import connected_components

    # path graph 0-1-2-...-9: min-label needs ~9 hops to reach the end
    e = pd.DataFrame({"src": range(9), "dst": range(1, 10)})
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(spark.createDataFrame(e), max_iterations=2).collect()
    # and with enough iterations the same graph converges to one label
    out = connected_components(spark.createDataFrame(e), max_iterations=15).toPandas()
    assert set(out.cluster_id) == {0} and len(out) == 10


def _uf_labels(e):
    """Union-find reference: {vertex: min id in its component}."""
    import itertools

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in e.itertuples(index=False):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for v in itertools.chain(e.src, e.dst):
        comp.setdefault(find(int(v)), set()).add(int(v))
    return {v: min(ms) for ms in comp.values() for v in ms}


def test_connected_components_star_on_skewed_graphs(spark):
    """Large-star/small-star (the 100 TB default) ≡ union-find AND ≡ the
    propagate strategy on adversarial shapes: a long chain (diameter ≫
    star's round count), a hub star (max-degree skew), two cliques
    bridged by a chain (the mega-component + deep-path mix), and random
    graphs. The chain also proves the depth win: propagation would need
    ~120 hops; star must finish inside 25 rounds."""
    import numpy as np
    import pandas as pd

    from time_sift_spark.operators.dedup import connected_components

    rng = np.random.RandomState(11)
    chain = pd.DataFrame({"src": np.arange(120) + 500, "dst": np.arange(1, 121) + 500})
    hub = pd.DataFrame({"src": [0] * 60, "dst": np.arange(1, 61)})
    cl_a = pd.DataFrame([(a, b) for a in range(100, 110) for b in range(a + 1, 110)], columns=["src", "dst"])
    cl_b = pd.DataFrame([(a, b) for a in range(200, 210) for b in range(a + 1, 210)], columns=["src", "dst"])
    bridge = pd.DataFrame({"src": [109, 150, 151, 152], "dst": [150, 151, 152, 200]})
    mega = pd.concat([cl_a, cl_b, bridge], ignore_index=True)
    rand = pd.DataFrame({"src": rng.randint(0, 50, 80), "dst": rng.randint(0, 50, 80)})
    rand = rand[rand.src != rand.dst]

    for name, e in [("chain", chain), ("hub", hub), ("mega", mega), ("rand", rand)]:
        expect = _uf_labels(e)
        sdf = spark.createDataFrame(e)
        star = connected_components(sdf, strategy="star").toPandas()
        got = dict(zip(star.id.astype(int), star.cluster_id.astype(int)))
        assert got == expect, f"star vs union-find on {name}"
        if name != "chain":  # propagate would exceed 25 hops on the chain
            prop = connected_components(sdf, strategy="propagate").toPandas()
            got_p = dict(zip(prop.id.astype(int), prop.cluster_id.astype(int)))
            assert got_p == expect, f"propagate vs union-find on {name}"


def test_connected_components_star_chain_beats_diameter(spark):
    """The round count advantage is the point: a 120-edge chain converges
    in ≤ 10 star rounds (O(log² n)) where propagation needs ~120."""
    import numpy as np
    import pandas as pd

    from time_sift_spark.operators.dedup import connected_components

    chain = pd.DataFrame({"src": np.arange(120), "dst": np.arange(1, 121)})
    out = connected_components(
        spark.createDataFrame(chain), strategy="star", max_iterations=10
    ).toPandas()
    assert set(out.cluster_id) == {0} and len(out) == 121


# --------------------------------------------------------------------------
# Exact-substring (ExactSubstr) window dedup
# --------------------------------------------------------------------------


def test_exact_substring_pairs_finds_copied_span(spark):
    import pandas as pd

    from time_sift_spark.operators.dedup import exact_substring_pairs

    span = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "intro words here " + span + " outro text",
                    "different lead in " + span + " and a tail",
                    "totally unrelated content with no shared windows at all "
                    "just filler tokens going on and on",
                ],
            }
        )
    )
    out = exact_substring_pairs(docs, "doc_id", "text", k=10).toPandas()
    assert out[["doc_id_a", "doc_id_b"]].values.tolist() == [[1, 2]]
    # contiguous copied span of L=20 tokens -> L - k + 1 = 11 windows
    assert out.n_shared_windows.iloc[0] == 11


def test_exact_substring_gram_doc_cap_drops_boilerplate(spark):
    import pandas as pd

    from time_sift_spark.operators.dedup import exact_substring_pairs

    boiler = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(range(6)),
                "text": [f"doc {i} unique lead tokens {boiler}" for i in range(6)],
            }
        )
    )
    uncapped = exact_substring_pairs(docs, "doc_id", "text", k=10).toPandas()
    assert len(uncapped) == 15  # all 6-choose-2 pairs via the boilerplate
    capped = exact_substring_pairs(
        docs, "doc_id", "text", k=10, gram_doc_cap=5
    ).toPandas()
    assert len(capped) == 0  # the 6-doc window exceeds the cap and is dropped


def test_soft_dedup_downweights_clusters_keeps_singletons(spark):
    import pandas as pd

    from time_sift_spark.operators.dedup import soft_dedup

    # 6 exact near-copies (one cluster) + distinct singleton docs
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, dup + f" tail{i % 2}") for i in range(6)]
    rows += [(100 + i, f"unique document number {i} with its own words w{i} x{i} y{i}")
             for i in range(5)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = soft_dedup(df, "doc_id", "text", threshold=0.3).toPandas().set_index("doc_id")
    singles = out.loc[[100 + i for i in range(5)]]
    assert (singles.cluster_size == 1).all() and singles.kept.all()
    clustered = out.loc[[i for i in range(6)]]
    assert (clustered.cluster_size > 1).all()
    # the draw culls most duplicates but the canonical always survives
    assert clustered.kept.sum() < 6
    assert bool(out.loc[out.index.min(), "kept"]) or clustered.kept.sum() >= 1
    # kept implies kept_soft or canonical
    canon = clustered.index == clustered.cluster_id
    assert (clustered.kept == (clustered.kept_soft | canon)).all()


def test_line_dedup_drops_boilerplate_keeps_structure(spark):
    """CCNet line dedup: lines shared by > cap docs are dropped, short
    structural lines are exempt, surviving lines reassemble in original
    order, and all-dropped docs come back as ''."""
    import pandas as pd

    from time_sift_spark.operators.dedup import line_dedup

    header = "cookie banner: accept our cookies please"
    docs = [
        (i, f"{header}\n--\nunique body line number {i} with content\n{header}")
        for i in range(4)
    ]
    docs.append((4, header))  # boilerplate-only doc -> reassembles to ''
    docs.append((5, "short\nanother unique body line here"))
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    out = (
        line_dedup(df, "doc_id", "text", max_line_docs=3, min_line_chars=10)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(out) == 6
    # header appears in 5 docs > cap 3 -> dropped everywhere; '--' and
    # 'short' are under min_line_chars -> exempt, kept
    r0 = out.iloc[0]
    assert r0.text_dedup == "--\nunique body line number 0 with content"
    assert (r0.n_lines, r0.n_kept, r0.n_dropped) == (4, 2, 2)
    assert out.iloc[4].text_dedup == "" and out.iloc[4].n_dropped == 1
    assert out.iloc[5].text_dedup == "short\nanother unique body line here"
    assert out.iloc[5].n_dropped == 0


def test_line_dedup_in_document_repetition_not_cross_doc(spark):
    """Frequency counts DISTINCT docs: a line repeated 10x inside ONE
    doc must survive (in-document loops are repetition_filter's job)."""
    import pandas as pd

    from time_sift_spark.operators.dedup import line_dedup

    line = "this line repeats inside one single document"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["\n".join([line] * 10)]})
    )
    out = line_dedup(df, "doc_id", "text", max_line_docs=3, min_line_chars=10).toPandas()
    assert out.iloc[0].n_dropped == 0
    assert out.iloc[0].text_dedup == "\n".join([line] * 10)


def test_incremental_dedup_screen_and_idempotence(spark, tmp_path):
    """build → screen → append → re-screen: the persisted-fingerprint
    crawl screen rejects re-crawls of ingested pages without re-scanning
    the corpus, and after append_dedup_index folds an increment in, a
    re-screen of that same increment admits NOTHING (idempotent
    ingestion — the property a daily pipeline restarts rely on)."""
    from time_sift_spark.operators.dedup import (
        append_dedup_index,
        build_dedup_index,
        screen_new_docs,
    )
    from time_sift_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    path = str(tmp_path / "dedup_idx")
    build_dedup_index(docs.where("doc_id < 40"), "doc_id", "text", path)
    newb = (
        docs.where("doc_id >= 40").select("doc_id", "text")
        .unionAll(docs.where("doc_id < 5").selectExpr("doc_id + 1000 AS doc_id", "text"))
    )
    accepted = screen_new_docs(spark, path, newb).toPandas()
    assert set(accepted.doc_id) == set(range(40, 500))  # re-crawls rejected
    append_dedup_index(spark, path, screen_new_docs(spark, path, newb))
    rescreen = screen_new_docs(spark, path, newb).toPandas()
    assert len(rescreen) == 0  # idempotent after append


def test_incremental_fuzzy_screen(spark, tmp_path):
    """The persisted-MinHash crawl screen catches what the exact screen
    cannot: a re-crawl with one appended token (md5 differs, Jaccard
    stays ~(n-2)/(n-1)) is rejected; novel docs are accepted; within a
    batch the smaller-id member of a near-dup pair wins."""
    import pandas as pd

    from time_sift_spark.operators.dedup import (
        build_minhash_store,
        screen_new_docs_fuzzy,
    )

    corpus_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    corpus_text,
                    "one two three four five six seven eight nine ten",
                ],
            }
        )
    )
    path = str(tmp_path / "mh_store")
    build_minhash_store(corpus, "doc_id", "text", path)

    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11, 12, 13],
                "text": [
                    corpus_text + " qz",  # near-dup of corpus doc 1
                    "totally different words about spark shuffles and parquet files here",
                    "red orange yellow green blue indigo violet ultraviolet infrared xray",
                    "red orange yellow green blue indigo violet ultraviolet infrared gamma",
                    # ^ within-batch near-dup of doc 12 (one token changed)
                ],
            }
        )
    )
    out = (
        screen_new_docs_fuzzy(spark, path, batch, threshold=0.5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert not out.loc[10].accepted and out.loc[10].max_jaccard > 0.8
    assert out.loc[11].accepted and out.loc[11].max_jaccard == 0.0
    assert out.loc[12].accepted  # smaller id of the within-batch pair wins
    assert not out.loc[13].accepted  # shadowed by doc 12


def test_incremental_fuzzy_append_idempotence(spark, tmp_path):
    """After append_minhash_store folds an increment's accepted docs in,
    re-screening the same increment rejects every previously-accepted
    doc (each now has its exact twin, Jaccard 1.0, in the store) —
    idempotent fuzzy ingestion."""
    from time_sift_spark.operators.dedup import (
        append_minhash_store,
        build_minhash_store,
        screen_new_docs_fuzzy,
    )
    from time_sift_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    path = str(tmp_path / "mh_store")
    build_minhash_store(
        docs.where("doc_id < 40").select("doc_id", "text"), "doc_id", "text", path
    )
    newb = docs.where("doc_id >= 40 AND doc_id < 80").select("doc_id", "text")
    first = screen_new_docs_fuzzy(spark, path, newb).toPandas()
    accepted_ids = set(first[first.accepted].doc_id)
    assert accepted_ids  # the screen admits at least some novel docs
    append_minhash_store(
        spark, path, newb.where(f"doc_id IN ({','.join(map(str, accepted_ids))})")
    )
    rescreen = screen_new_docs_fuzzy(spark, path, newb).toPandas()
    re_acc = rescreen[rescreen.accepted]
    assert set(re_acc.doc_id).isdisjoint(accepted_ids)  # idempotent
    assert (rescreen.set_index("doc_id").loc[sorted(accepted_ids)].max_jaccard == 1.0).all()


def test_incremental_fuzzy_screen_string_ids(spark, tmp_path):
    """String doc ids work end-to-end in the fuzzy screen: the
    within-batch smaller-id-wins rule compares the RAW id column in its
    native type (nids CTE), so non-numeric ids form within-batch pairs
    instead of silently passing (the old CAST(substring(did,3) AS
    BIGINT) NULLed every comparison on Spark and errored on DuckDB).
    Inline SQL agrees Spark↔DuckDB and the persisted screen matches the
    inline form."""
    import duckdb

    from time_sift_spark.functions.text_fns import DUCK, SPARK
    from time_sift_spark.operators.dedup import (
        build_minhash_store,
        dedup_incremental_fuzzy_sql,
        screen_new_docs_fuzzy,
    )

    corpus_pdf = pd.DataFrame(
        {
            "doc_id": ["page-a", "page-b"],
            "text": [
                "alpha beta gamma delta epsilon zeta eta theta iota kappa",
                "one two three four five six seven eight nine ten",
            ],
        }
    )
    batch_pdf = pd.DataFrame(
        {
            "doc_id": ["crawl-m", "crawl-n", "crawl-z"],
            "text": [
                "red orange yellow green blue indigo violet ultraviolet infrared xray",
                "red orange yellow green blue indigo violet ultraviolet infrared gamma",
                # ^ within-batch near-dup pair: 'crawl-m' < 'crawl-n' lexically,
                # compared in the id column's NATIVE (string) type
                "alpha beta gamma delta epsilon zeta eta theta iota kappa qz",
                # ^ near-dup of corpus 'page-a'
            ],
        }
    )
    corpus = spark.createDataFrame(corpus_pdf)
    batch = spark.createDataFrame(batch_pdf)
    corpus.createOrReplaceTempView("_t_sfc")
    batch.createOrReplaceTempView("_t_sfn")
    got = (
        spark.sql(
            dedup_incremental_fuzzy_sql(SPARK, "_t_sfc", "_t_sfn", "doc_id", "text")
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc["crawl-m"].accepted  # smaller string id wins the pair
    assert not got.loc["crawl-n"].accepted  # shadowed within-batch
    assert not got.loc["crawl-z"].accepted  # rejected vs persisted corpus

    con = duckdb.connect()
    con.register("_t_sfc", corpus_pdf)
    con.register("_t_sfn", batch_pdf)
    exp = (
        con.execute(
            dedup_incremental_fuzzy_sql(DUCK, "_t_sfc", "_t_sfn", "doc_id", "text")
        )
        .df()
        .set_index("doc_id")
        .sort_index()
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    path = str(tmp_path / "mh_store_sid")
    build_minhash_store(corpus, "doc_id", "text", path)
    served = (
        screen_new_docs_fuzzy(spark, path, batch, threshold=0.5)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pd.testing.assert_frame_equal(served, got, check_dtype=False)


def _fz_doc(i: int, n: int = 30) -> str:
    """A deterministic n-token doc sharing no token with any other i."""
    return " ".join(f"t{i}x{j}" for j in range(n))


def _fz_pdf(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
        {"doc_id": "int64", "text": object}
    )


def _fz_frame(spark, rows):
    return spark.createDataFrame(_fz_pdf(rows), "doc_id long, text string")


def _py_minhash(text: str, k: int = 3, num_perm: int = 16, bands: int = 8, seed: int = 42):
    """(hashed shingle set, {(band, band key)}) of ``text``, recomputed in
    Python with the store's default params (the SQL chain's contract)."""
    import hashlib
    import re

    from time_sift_spark.operators.dedup import MERSENNE31, minhash_perms

    toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
    shingles = {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}
    hs = {int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles}
    sig = [min((a * h + b) % MERSENNE31 for h in hs) for a, b in minhash_perms(num_perm, seed)]
    r = num_perm // bands
    return hs, {(b, tuple(sig[b * r:(b + 1) * r])) for b in range(bands)}


def _fuzzy_served_vs_inline(spark, tmp_path, corpus_rows, batch_rows) -> pd.DataFrame:
    """Screen ``batch_rows`` against a store built from ``corpus_rows``
    and assert it equals the DuckDB inline oracle on the same inputs."""
    import duckdb

    from time_sift_spark.functions.text_fns import DUCK
    from time_sift_spark.operators.dedup import (
        build_minhash_store,
        dedup_incremental_fuzzy_sql,
        screen_new_docs_fuzzy,
    )

    path = str(tmp_path / "mh_edge")
    build_minhash_store(_fz_frame(spark, corpus_rows), "doc_id", "text", path)
    got = screen_new_docs_fuzzy(spark, path, _fz_frame(spark, batch_rows)).toPandas()
    con = duckdb.connect()
    con.register("_t_ec", _fz_pdf(corpus_rows))
    con.register("_t_en", _fz_pdf(batch_rows))
    exp = con.execute(
        dedup_incremental_fuzzy_sql(DUCK, "_t_ec", "_t_en", "doc_id", "text")
    ).df()
    got, exp = (f.sort_values("doc_id").reset_index(drop=True) for f in (got, exp))
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    return got.set_index("doc_id")


def test_fuzzy_screen_null_text_and_empty_increment(spark, tmp_path):
    """A NULL-text increment doc has no shingles, so it is accepted with
    max_jaccard 0.0; an empty increment returns 0 rows without error.
    Both equal the inline oracle."""
    corpus = [(1, _fz_doc(1)), (2, _fz_doc(2))]
    out = _fuzzy_served_vs_inline(spark, tmp_path, corpus, [(10, None), (11, _fz_doc(1))])
    assert out.loc[10].accepted and out.loc[10].max_jaccard == 0.0
    assert not out.loc[11].accepted
    assert len(_fuzzy_served_vs_inline(spark, tmp_path, corpus, [])) == 0


def test_fuzzy_screen_multi_band_candidate_exact_jaccard(spark, tmp_path):
    """A near-dup sharing several bands with one stored doc is one
    candidate per shared band; hits MAXes the identical Jaccards, so
    max_jaccard is exactly the Python-computed Jaccard of the hashed
    shingle sets."""
    near = _fz_doc(1) + " qz"
    hs_c, bands_c = _py_minhash(_fz_doc(1))
    hs_n, bands_n = _py_minhash(near)
    assert len(bands_c & bands_n) >= 2  # the case under test
    exact = len(hs_c & hs_n) / len(hs_c | hs_n)
    out = _fuzzy_served_vs_inline(
        spark, tmp_path, [(1, _fz_doc(1)), (2, _fz_doc(2))], [(10, near), (11, _fz_doc(3))]
    )
    assert not out.loc[10].accepted and out.loc[10].max_jaccard == exact
    assert out.loc[11].accepted and out.loc[11].max_jaccard == 0.0


def test_fuzzy_screen_within_batch_chain_smallest_wins(spark, tmp_path):
    """A chain a < b < c of mutual within-batch near-dups: only a is
    accepted, b and c are each shadowed by a smaller id."""
    base = _fz_doc(5)
    out = _fuzzy_served_vs_inline(
        spark, tmp_path, [(1, _fz_doc(1))],
        [(10, base), (11, base + " qz"), (12, base + " qz qy")],
    )
    assert list(out.accepted) == [True, False, False]
    assert (out.loc[[11, 12]].max_jaccard >= 0.5).all()


def test_fuzzy_append_crash_then_retry_leaves_store_unchanged(spark, tmp_path, monkeypatch):
    """An append whose one write lands but whose caller never learns it
    (a crash right after the write) is retried.  The retry must leave the
    store exactly as a clean single append leaves it: the same ``sigs``
    row count, the same verdicts for both increments, and the planted
    near-dups still rejected.  The store stays one artifact plus params."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from time_sift_spark.operators.dedup import (
        append_minhash_store,
        build_minhash_store,
        screen_new_docs_fuzzy,
    )

    corpus = _fz_frame(spark, [(1, _fz_doc(1)), (2, _fz_doc(2))])
    inc1 = _fz_frame(spark, [(10, _fz_doc(10)), (11, _fz_doc(11)), (12, _fz_doc(12))])
    inc2 = _fz_frame(  # planted near-dups of inc1's docs, plus one novel doc
        spark, [(20, _fz_doc(10) + " qz"), (21, _fz_doc(11) + " qz"), (22, _fz_doc(22))]
    )
    path, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    for p in (path, clean):
        build_minhash_store(corpus, "doc_id", "text", p)
    first = screen_new_docs_fuzzy(spark, path, inc1).toPandas()
    accepted = sorted(first[first.accepted].doc_id)
    assert accepted == [10, 11, 12]
    acc = inc1.where(inc1.doc_id.isin(accepted))

    real_parquet, calls = DataFrameWriter.parquet, []

    def write_then_crash(self, target, *a, **k):
        calls.append(target)
        real_parquet(self, target, *a, **k)
        raise RuntimeError("injected crash after the append's write")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        append_minhash_store(spark, path, acc)
    monkeypatch.undo()
    assert calls == [f"{path}/sigs"]  # the append is one write

    append_minhash_store(spark, path, acc)  # the retry
    append_minhash_store(spark, clean, acc)
    n_sigs = [spark.read.parquet(f"{p}/sigs").count() for p in (path, clean)]
    assert n_sigs[0] == n_sigs[1] == 5  # 2 corpus docs + 3 accepted, no duplicate
    assert sorted(os.listdir(path)) == ["params", "sigs"]
    verdicts = {}
    for p in (path, clean):
        verdicts[p] = [
            screen_new_docs_fuzzy(spark, p, b).toPandas().set_index("doc_id").sort_index()
            for b in (inc1, inc2)
        ]
    for got, exp in zip(verdicts[path], verdicts[clean]):
        pd.testing.assert_frame_equal(got, exp)
    re1, re2 = verdicts[path]
    assert not re1.accepted.any() and (re1.max_jaccard == 1.0).all()
    assert list(re2.accepted) == [False, False, True]  # planted near-dups rejected


def test_fuzzy_screen_plan_scans_store_once(spark, tmp_path):
    """The screen's executed plan scans the store (``sigs``) exactly
    once in total, never broadcasts store rows (the increment side is
    the broadcast), signs the increment behind ONE shuffle (every other
    use is reused), and carries no string side-tag filter."""
    import re

    from time_sift_spark.operators.dedup import build_minhash_store, screen_new_docs_fuzzy

    src = tmp_path / "src"
    src.mkdir()
    for name, lo, hi in (("corpus", 0, 40), ("inc", 40, 60)):
        rows = [(i, _fz_doc(i % 30)) for i in range(lo, hi)]
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(src / f"{name}.parquet")
    path = str(tmp_path / "mh_plan")
    build_minhash_store(spark.read.parquet(str(src / "corpus.parquet")), "doc_id", "text", path)
    inc_path = str(src / "inc.parquet")
    # render untruncated: by default scan Locations are cut to 100 chars
    # and long expression lists are elided
    keys = ("spark.sql.maxMetadataStringLength", "spark.sql.debug.maxToStringFields")
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "100000")
    try:
        out = screen_new_docs_fuzzy(spark, path, spark.read.parquet(inc_path))
        assert len(out.collect()) == 20
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    plan = plan.split("== Initial Plan ==")[0]
    nodes = []  # (depth, node text without its codegen-stage prefix)
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        nodes.append((len(line) - len(body), re.sub(r"^\*\(\d+\) ", "", body)))

    def below(i, stop=()):
        d0, out_, cut = nodes[i][0], [], None
        for d, text in nodes[i + 1:]:
            if d <= d0:
                break
            if cut is not None and d > cut:
                continue
            cut = d if text.startswith(stop) else None
            out_.append(text)
        return out_

    store_scans = [t for _, t in nodes if t.startswith("FileScan") and path in t]
    assert len(store_scans) == 1 and f"{path}/sigs]" in store_scans[0], plan
    # a broadcast may hold join OUTPUT over the store scan (hits), never
    # the store's rows themselves
    joins = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
             "BroadcastNestedLoopJoin", "CartesianProduct")
    for i, (_, t) in enumerate(nodes):
        if t.startswith("BroadcastExchange"):
            assert not any(path in x for x in below(i, joins)), plan
    boundary = ("Exchange", "BroadcastExchange", "ReusedExchange",
                "ShuffleQueryStage", "BroadcastQueryStage")
    signing = [
        i for i, (_, t) in enumerate(nodes)
        if t.startswith("Exchange ") and any(
            x.startswith("FileScan") and inc_path in x and "text#" in x
            for x in below(i, boundary)
        )
    ]
    assert len(signing) == 1, plan
    assert "StartsWith" not in plan


def test_every_builder_invalidates_before_rebuild():
    """Every persisted-index builder in ``time_sift_spark.operators`` (every
    ``build_*`` with a ``path``) keeps the artifacts.py marker contract:
    ``begin_build(spark, path)`` precedes its first write, ``commit_build``
    is its last write, and it writes no Python row (``createDataFrame``).
    So the params marker is absent for the whole rebuild window — a crash
    mid-rebuild reads as not-ready, never as ready-over-torn artifacts —
    and committing it starts no Python worker."""
    import ast
    import importlib
    import inspect
    import pkgutil
    import textwrap

    import time_sift_spark.operators as ops

    def is_write(n):
        if isinstance(n, ast.Attribute) and n.attr == "write":
            return True  # DataFrame.write
        return isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and (
            n.func.id in ("commit_build", "write_row") or n.func.id.startswith("_write_")
        )

    builders = {}
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for name, fn in vars(mod).items():
            if (name.startswith("build_") and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                    and "path" in inspect.signature(fn).parameters):
                builders[name] = fn
    assert len(builders) >= 14, sorted(builders)
    for name, fn in builders.items():
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        nodes = sorted(
            (n for n in ast.walk(tree) if hasattr(n, "lineno")),
            key=lambda n: (n.lineno, n.col_offset),
        )
        assert not any(
            isinstance(n, ast.Attribute) and n.attr == "createDataFrame" for n in nodes
        ), name
        begins = [
            i for i, n in enumerate(nodes)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
            and n.func.id == "begin_build"
            and [ast.unparse(x) for x in n.args] == ["spark", "path"]
        ]
        writes = [i for i, n in enumerate(nodes) if is_write(n)]
        assert begins and writes, name
        assert begins[0] < writes[0], name  # the invalidation precedes the first write
        last = nodes[writes[-1]]
        assert isinstance(last, ast.Call) and last.func.id == "commit_build", name
        assert ast.unparse(last.args[1]) == "path", name


def _crash_marker_fs(monkeypatch, method):
    """Make ``method`` of the marker's Hadoop FileSystem raise, for every
    artifacts.py call until ``monkeypatch.undo()``."""
    from time_sift_spark.operators import artifacts

    real = artifacts._marker

    class Crashing:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            if name != method:
                return getattr(self._fs, name)

            def crash(*a, **k):
                raise RuntimeError(f"injected crash in {method}")

            return crash

    def marker(spark, path):
        fs, m = real(spark, path)
        return Crashing(fs), m

    monkeypatch.setattr(artifacts, "_marker", marker)


def test_torn_rebuild_reads_not_ready(spark, tmp_path, monkeypatch):
    """A rebuild that crashes after artifacts start landing but before
    the new params write leaves the index NOT ready (the old marker was
    deleted up front), so serve paths re-build instead of silently
    serving a mix of new and stale artifacts."""
    from time_sift_spark.operators.dedup import build_dedup_index
    from time_sift_spark.queries import _index_ready

    path = str(tmp_path / "ddx")
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c", "d e f"]})
    )
    build_dedup_index(corpus, "doc_id", "text", path)
    assert _index_ready(path)

    _crash_marker_fs(monkeypatch, "create")  # the marker file's write
    with pytest.raises(RuntimeError, match="injected crash in create"):
        build_dedup_index(corpus, "doc_id", "text", path)
    monkeypatch.undo()
    assert not _index_ready(path)  # torn rebuild is visible, not silent
    build_dedup_index(corpus, "doc_id", "text", path)
    assert _index_ready(path)  # a completed rebuild restores readiness


def test_store_markers_write_no_python_row(spark, tmp_path, monkeypatch):
    """The MinHash store and the Bloom filter commit their params marker
    with SparkSession.createDataFrame patched to raise: no Python row is
    written.  read_params returns the builder's values with their Python
    types, and rewriting or reading the marker submits no Spark job."""
    import os

    from pyspark.sql import SparkSession

    from tests.test_sources import _jobs
    from time_sift_spark.operators.artifacts import begin_build, commit_build, read_params
    from time_sift_spark.operators.dedup import build_minhash_store
    from time_sift_spark.operators.sketch import build_bloom_filter

    corpus = _fz_frame(spark, [(1, _fz_doc(1)), (2, _fz_doc(2))])

    def python_row(*a, **k):
        raise AssertionError("a builder wrote a Python row")

    monkeypatch.setattr(SparkSession, "createDataFrame", python_row)
    mh, bloom = str(tmp_path / "mh"), str(tmp_path / "bloom")
    build_minhash_store(corpus, "doc_id", "text", mh, num_perm=32, bands=16, shingle_k=2, seed=7)
    build_bloom_filter(corpus, "text", bloom, m=4096, k=3)
    for path, want in (
        (mh, dict(id_col="doc_id", text_col="text", num_perm=32, bands=16, shingle_k=2,
                  seed=7)),
        (bloom, dict(text_col="text", m=4096, k=3)),
    ):
        with _jobs(spark) as read_jobs:
            got = read_params(spark, path)
        assert got == want
        assert {k: type(v) for k, v in got.items()} == {k: type(v) for k, v in want.items()}
        with _jobs(spark) as commit_jobs:  # the marker's delete and rewrite
            begin_build(spark, path)
            commit_build(spark, path, want)
        assert read_jobs == commit_jobs == [], (read_jobs, commit_jobs)
        assert read_params(spark, path) == want
        visible = [f for f in os.listdir(f"{path}/params") if not f.startswith(".")]
        assert visible == ["marker.json"], visible
    monkeypatch.undo()
    # a marker write that died before its rename reads as an error
    torn = tmp_path / "torn" / "params"
    os.makedirs(torn)
    (torn / "marker.json.tmp").write_text('{"text_col": "text", "m": 4096, "k": 3}')
    with pytest.raises(FileNotFoundError, match="never completed"):
        read_params(spark, str(tmp_path / "torn"))


def test_crash_before_marker_rename_reads_not_ready(spark, tmp_path, monkeypatch):
    """A rebuild that dies after the marker's temp file is written but
    before its rename leaves the store not ready and read_params
    raising; a clean rebuild then serves again."""
    import os

    from time_sift_spark.operators.artifacts import read_params
    from time_sift_spark.operators.dedup import build_minhash_store, screen_new_docs_fuzzy
    from time_sift_spark.queries import _index_ready

    path = str(tmp_path / "mh")
    corpus = _fz_frame(spark, [(1, _fz_doc(1)), (2, _fz_doc(2))])
    build_minhash_store(corpus, "doc_id", "text", path)
    _crash_marker_fs(monkeypatch, "rename")
    with pytest.raises(RuntimeError, match="injected crash in rename"):
        build_minhash_store(corpus, "doc_id", "text", path)
    monkeypatch.undo()
    assert [f for f in os.listdir(f"{path}/params") if not f.startswith(".")] == [
        "marker.json.tmp"
    ]
    assert not _index_ready(path)
    with pytest.raises(FileNotFoundError, match="never completed"):
        read_params(spark, path)
    with pytest.raises(FileNotFoundError, match="never completed"):
        screen_new_docs_fuzzy(spark, path, corpus)
    build_minhash_store(corpus, "doc_id", "text", path)
    assert _index_ready(path)
    assert not screen_new_docs_fuzzy(spark, path, corpus).toPandas().accepted.any()


def test_old_parquet_params_store_reads_not_ready(spark, tmp_path):
    """A store written by older code (a one-row parquet ``params`` table,
    no ``marker.json``) reads as not ready, and read_params refuses it
    instead of falling back: the registry rebuilds such a store."""
    import shutil

    from time_sift_spark.operators.artifacts import read_params, write_row
    from time_sift_spark.operators.dedup import build_minhash_store
    from time_sift_spark.queries import _index_ready

    path = str(tmp_path / "mh_old")
    corpus = _fz_frame(spark, [(1, _fz_doc(1)), (2, _fz_doc(2))])
    build_minhash_store(corpus, "doc_id", "text", path)
    params = read_params(spark, path)
    shutil.rmtree(f"{path}/params")
    write_row(spark, f"{path}/params", params,
              "id_col string, text_col string, num_perm int, bands int, shingle_k int, seed int")
    assert spark.read.parquet(f"{path}/params").first().asDict() == params
    assert not _index_ready(path)
    with pytest.raises(FileNotFoundError, match="never completed"):
        read_params(spark, path)
    build_minhash_store(corpus, "doc_id", "text", path)
    assert _index_ready(path) and read_params(spark, path) == params


def test_uri_rebuild_crash_removes_marker(spark, tmp_path, monkeypatch):
    """begin_build deletes the marker through the path's Hadoop
    FileSystem, so a rebuild into a ``file://`` URI that crashes in its
    first write leaves no ``params`` behind: the torn store reads as not
    ready (a local-path delete of the URI string misses the marker)."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from time_sift_spark.operators.dedup import build_minhash_store, screen_new_docs_fuzzy
    from time_sift_spark.queries import _index_ready

    local = tmp_path / "mh_uri"
    uri = local.as_uri()
    assert uri.startswith("file://")
    corpus = _fz_frame(spark, [(1, _fz_doc(1)), (2, _fz_doc(2))])
    build_minhash_store(corpus, "doc_id", "text", uri)
    assert _index_ready(str(local))

    def crash(self, *a, **k):
        raise RuntimeError("injected crash in the rebuild's first write")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_minhash_store(corpus, "doc_id", "text", uri)
    monkeypatch.undo()
    assert not os.path.exists(local / "params")
    assert not _index_ready(str(local))
    build_minhash_store(corpus, "doc_id", "text", uri)
    assert _index_ready(str(local))
    assert not screen_new_docs_fuzzy(spark, uri, corpus).toPandas().accepted.any()


def test_embedding_centroid_drift_planted_shift(spark):
    import numpy as np
    import pandas as pd
    import pytest

    from time_sift_spark.operators.similarity import embedding_centroid_drift

    rng = np.random.default_rng(5)
    dim = 8
    rows = []
    for i in range(40):
        # label 0: both vec_id%2 halves cluster on e1 -> no drift
        rows.append((i, (np.eye(dim)[0] + rng.normal(0, 0.01, dim)).tolist(), 0))
        # label 1: even ids on e1, odd ids on e2 -> near-orthogonal shift
        axis = 0 if i % 2 == 0 else 1
        rows.append((1000 + i, (np.eye(dim)[axis] + rng.normal(0, 0.01, dim)).tolist(), 1))
    # label 2: one side only (a single even id) -> drops out
    rows.append((2000, np.eye(dim)[0].tolist(), 2))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    df = spark.createDataFrame(pdf)
    out = {
        r["label"]: r
        for r in embedding_centroid_drift(df, "vec_id", "embedding", "label").collect()
    }
    assert 2 not in out
    assert out[0]["cosine_shift"] == pytest.approx(1.0, abs=0.01)
    assert out[0]["l2_shift"] < 0.05
    assert out[1]["cosine_shift"] == pytest.approx(0.0, abs=0.05)
    assert out[1]["l2_shift"] == pytest.approx(np.sqrt(2.0), abs=0.1)


def test_substring_remove_excises_all_but_canonical(spark):
    """A 6-token span copied from doc 1 into docs 2 and 3 (k=3): the
    canonical (earliest (doc,pos)) copy survives, every other
    occurrence's covered tokens are excised, unique prose is untouched."""
    import pandas as pd

    from time_sift_spark.operators.dedup import substring_remove

    span = "quick brown foxes jump over fences"
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            f"one unique opening here {span} and a tail",
            f"totally different start {span} closing words now",
            f"{span} third document body",
            "completely original content with nothing shared anywhere",
        ],
    })
    out = (
        substring_remove(spark.createDataFrame(pdf), "doc_id", "text", k=3)
        .toPandas().set_index("doc_id").sort_index()
    )
    # doc 1 holds the canonical copy: nothing removed
    assert out.loc[1, "n_removed"] == 0
    assert span in out.loc[1, "text_dedup"]
    # docs 2 and 3 lose exactly the 6 span tokens
    assert out.loc[2, "n_removed"] == 6
    assert span not in out.loc[2, "text_dedup"]
    assert "totally different start" in out.loc[2, "text_dedup"]
    assert "closing words now" in out.loc[2, "text_dedup"]
    assert out.loc[3, "n_removed"] == 6
    assert out.loc[3, "text_dedup"] == "third document body"
    # untouched doc reassembles to its (lowercased-token) self
    assert out.loc[4, "n_removed"] == 0
    assert out.loc[4, "n_kept"] == out.loc[4, "n_tokens"]


def test_substring_remove_boilerplate_cap_removes_everywhere(spark):
    """A gram in more than gram_doc_cap docs is boilerplate: removed
    from EVERY occurrence, canonical included (the CCNet rule)."""
    import pandas as pd

    from time_sift_spark.operators.dedup import substring_remove

    banner = "all rights reserved worldwide"
    pdf = pd.DataFrame({
        "doc_id": list(range(1, 6)),
        "text": [f"body text number {i} stands alone {banner}" for i in range(1, 6)],
    })
    out = (
        substring_remove(spark.createDataFrame(pdf), "doc_id", "text", k=4,
                         gram_doc_cap=3)
        .toPandas().set_index("doc_id").sort_index()
    )
    for i in range(1, 6):
        assert banner not in out.loc[i, "text_dedup"]
        # "stands alone" goes too: the shared-suffix windows that START
        # there ("stands alone all rights", ...) are themselves >cap
        # boilerplate grams, and coverage is per-window, not per-gram-end
        assert out.loc[i, "text_dedup"] == f"body text number {i}"
        assert out.loc[i, "n_removed"] == 6


def test_substring_remove_cross_engine_and_validation(spark):
    import duckdb
    import pandas as pd
    import pytest

    from time_sift_spark.functions.text_fns import DUCK
    from time_sift_spark.operators.dedup import substring_remove, substring_remove_sql

    span = "shared ten token window content appears here twice in corpus"
    pdf = pd.DataFrame({
        "doc_id": [10, 20, 30],
        "text": [
            f"intro words {span} outro words",
            f"other intro {span} other outro",
            "standalone document with its very own words only",
        ],
    })
    sdf = spark.createDataFrame(pdf)
    got = substring_remove(sdf, "doc_id", "text", k=10).toPandas()
    con = duckdb.connect()
    con.register("_ssr_t", pdf)
    exp = con.execute(
        substring_remove_sql(DUCK, "_ssr_t", "doc_id", "text", k=10)
    ).df()
    key = ["doc_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[sorted(got.columns)],
        exp.sort_values(key).reset_index(drop=True)[sorted(exp.columns)],
        check_dtype=False,
    )

    with pytest.raises(ValueError):
        substring_remove(
            sdf.selectExpr("CAST(doc_id AS STRING) AS doc_id", "text"),
            "doc_id", "text",
        )


def test_prefix_index_persisted_equals_inline_and_threshold_contract(spark, tmp_path):
    """query_prefix_index ≡ the inline PPJoin at the build θ; a tighter
    serve θ' ≥ θ is a SUBSET (lossless candidates re-filtered); a serve
    θ' < θ refuses loudly; the serve plan carries no explode subtree
    (tokenize/df/rank paid at build)."""
    import pandas as pd

    from time_sift_spark.operators.dedup import (
        build_prefix_index,
        prefix_jaccard_join,
        query_prefix_index,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "a completely different document about spark engines"),
        (4, "a completely different document about spark planners"),
        (5, "unrelated text with nothing shared at all here ok"),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    path = str(tmp_path / "ppj")
    build_prefix_index(df, "doc_id", "text", path, threshold=(1, 2))

    inline = prefix_jaccard_join(df, "doc_id", "text", threshold=(1, 2)).toPandas()
    served = query_prefix_index(spark, path).toPandas()
    pd.testing.assert_frame_equal(served, inline)
    assert len(served) >= 2  # both near-dup pairs found

    # tighter serve threshold: subset of the build-θ pairs
    tight = query_prefix_index(spark, path, threshold=(3, 4)).toPandas()
    t_pairs = set(zip(tight.doc_id_a, tight.doc_id_b))
    s_pairs = set(zip(served.doc_id_a, served.doc_id_b))
    assert t_pairs <= s_pairs
    inline_tight = prefix_jaccard_join(
        df, "doc_id", "text", threshold=(3, 4)
    ).toPandas()
    pd.testing.assert_frame_equal(tight, inline_tight)

    # below-build threshold refuses loudly
    import pytest as _pt

    with _pt.raises(ValueError, match="BELOW the build threshold"):
        query_prefix_index(spark, path, threshold=(1, 4))

    # serve plan: no explode (the build pipeline is absent)
    plan = query_prefix_index(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" not in plan and "posexplode" not in plan
    # both parquet artifacts are scanned (paths get elided in the
    # printed plan — match on their ReadSchemas instead)
    assert "hs:array<bigint>" in plan          # tsets scan
    assert "h:bigint" in plan                  # prefix scan


def test_simhash_neardup_band_screen_is_lossless(spark):
    """Pigeonhole contract: the banded screen finds EVERY pair within
    Hamming k — verified against the brute-force all-pairs distance on
    a small corpus with planted near-identical variants."""
    import itertools

    import pandas as pd

    from time_sift_spark.operators.dedup import simhash, simhash_neardup

    base = ("the quick brown fox jumps over the lazy dog while the "
            "cat naps by the warm stone wall in the late afternoon sun")
    docs = [(0, base)]
    # planted variants: single-token swaps → tiny Hamming perturbations
    for i, repl in enumerate(
        ["quick→swift", "lazy→idle", "warm→cold", "dog→dog"], start=1
    ):
        a, b = repl.split("→")
        docs.append((i, base.replace(a, b)))
    # unrelated documents
    docs += [
        (10, "completely different subject matter about spark shuffles "
             "partitions exchanges joins aggregations and codegen stages"),
        (11, "yet another unrelated text on parquet footers row groups "
             "column chunks dictionaries and page level statistics"),
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    sdf = spark.createDataFrame(pdf)
    got = (
        simhash_neardup(sdf, "doc_id", "text", k=3, bands=4)
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    sigs = simhash(sdf, "doc_id", "text").toPandas().set_index("doc_id").simhash
    brute = []
    for a, b in itertools.combinations(sorted(sigs.index), 2):
        d = bin(int(sigs[a]) ^ int(sigs[b])).count("1")
        if d <= 3:
            brute.append((a, b, d))
    assert list(map(tuple, got.itertuples(index=False))) == brute
    # the exact copy (dog→dog) is a distance-0 pair
    assert ((got.hamming == 0) & (got.doc_id_a == 0) & (got.doc_id_b == 4)).any()


def test_ngram_jaccard_prefix_lossless_and_cross_engine(spark):
    """r13 re-scope: the prefix-filtered form must equal the all-pairs
    expression form exactly (losslessness — same hashed-token feature,
    same jaccard expression), on real data AND on NULL edge cases, in
    BOTH dialects."""
    import duckdb

    from time_sift_spark.functions.text_fns import DUCK, SPARK
    from time_sift_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix,
        ngram_jaccard_prefix_sql,
    )
    from time_sift_spark.sources.catalog import load_table

    docs_df = load_table(spark, "documents", "/root/testdata/sf0.001")
    blocks = ("lang", "(n_chars div 200)")
    a = (
        ngram_jaccard_pairs(docs_df, "doc_id", "text", threshold=0.5,
                            block_exprs=blocks)
        .toPandas().sort_values(["doc_id_a", "doc_id_b"]).reset_index(drop=True)
    )
    b = (
        ngram_jaccard_prefix(docs_df, "doc_id", "text", threshold=(1, 2),
                             block_exprs=blocks)
        .toPandas().sort_values(["doc_id_a", "doc_id_b"]).reset_index(drop=True)
    )
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)

    # NULL text / NULL block key: pairs with nothing, never crashes
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["a b c", "a b c", None, "a b c d", "a b c d"],
        "grp": ["x", "x", "x", None, None],
    })
    df = spark.createDataFrame(pdf)
    e = (
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5,
                            block_exprs=("grp",))
        .toPandas().sort_values(["doc_id_a", "doc_id_b"]).reset_index(drop=True)
    )
    p = (
        ngram_jaccard_prefix(df, "doc_id", "text", threshold=(1, 2),
                             block_exprs=("grp",))
        .toPandas().sort_values(["doc_id_a", "doc_id_b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(e, p, check_dtype=False)

    # DuckDB dialect of the prefix statement agrees with DuckDB all-pairs
    con = duckdb.connect()
    con.register("_t_njp", pdf)
    dp = (
        con.execute(ngram_jaccard_prefix_sql(
            DUCK, "_t_njp", "doc_id", "text", threshold=(1, 2),
            block_exprs=("grp",),
        )).df().sort_values(["doc_id_a", "doc_id_b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        e.astype({"doc_id_a": "int64", "doc_id_b": "int64"}),
        dp.astype({"doc_id_a": "int64", "doc_id_b": "int64"}),
        check_dtype=False,
    )
