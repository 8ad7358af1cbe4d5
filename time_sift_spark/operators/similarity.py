"""Similarity search over embedding columns (charter extension).

* ``knn_cosine_topk`` — exact brute-force top-k: broadcast the (small)
  query set against all vectors, cosine in codegen'd array expressions,
  window top-k with a deterministic tie-break.  The baseline and the
  recall oracle for the ANN path.
* ``ann_lsh_topk`` — random-hyperplane LSH: vectors sharing the query's
  sign-bucket are the only candidates.  Buckets come from literal
  hyperplanes (seeded, rounded) so the whole pipeline is deterministic
  and DuckDB-expressible — the oracle runs the identical query.
* ``embedding_neardup_pairs`` — near-duplicate pairs (cosine ≥ τ) within
  blocks; the blocked self-join pattern that scales (never open n²).

Cosine values are sequential-double-fold on both engines — bit-exact
cross-engine (see functions.vector_fns), so rank ordering needs no
tolerance; ties broken by neighbor id.

Scale: the brute-force path is O(|Q|·n) with Q broadcast — right when Q
is small; the LSH path cuts candidates by ~2^planes.  At 100 TB you'd
additionally pre-partition vectors by bucket (done here via the bucket
equi-join, which Catalyst shuffles on the bucket key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..errors import ColumnNotFoundError, require_columns
from ..functions.vector_fns import VectorDialect, random_hyperplanes
from .artifacts import begin_build, commit_build, read_artifact, read_params

_VSPARK = VectorDialect("spark")
_VIEW_SEQ = [0]

# Testdata embeddings are 64-d; ann_lsh_topk probes the real width when
# dim isn't passed, the SQL generator takes an explicit dim parameter.
DEFAULT_DIM = 64


def knn_topk_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
) -> str:
    dot = vd.dot(f"q.{vec_col}", f"c.{vec_col}")
    cos = f"({dot} / greatest(q.nrm * c.nrm, 1e-300))"
    return f"""
    WITH v AS (
      SELECT {id_col}, {vec_col}, {vd.norm(vec_col)} AS nrm FROM {table}
    ),
    scored AS (
      SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
             {cos} AS cosine_sim
      FROM (SELECT * FROM v WHERE {query_pred}) q
      JOIN v c ON q.{id_col} <> c.{id_col}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= {k}
    """


def _lsh_keys_select(
    vd: VectorDialect,
    vec_col: str,
    src: str,
    num_planes: int,
    num_tables: int,
    seed: int,
    dim: int,
    *,
    multiprobe: bool = False,
) -> str:
    """(vid, bkey) rows for every LSH table — ONE definition shared by the
    inline query, the index builder, and the index query side, so the
    bucket computation cannot drift between build time and query time.
    One seed per table -> independent plane sets.

    ``multiprobe`` (QUERY side only — the stored data keeps exactly one
    bucket per table) additionally emits every 1-bit-flip neighbor of
    each bucket: a near neighbor that landed just across one hyperplane
    is then still probed.  Collision probability per table rises from
    p^b to p^b + b·p^(b-1)(1-p), which is what lifts sign-LSH recall at
    moderate plane counts without touching the index — the persisted
    bucket table serves exact and multiprobe queries alike.  Each bucket
    id is computed ONCE per table (inner projection) and the flips are
    integer XORs over it, not re-evaluations of the plane dot products.
    """
    buckets = {
        f"_b{t}": vd.lsh_bucket(vec_col, random_hyperplanes(num_planes, dim, seed + t))
        for t in range(num_tables)
    }
    inner_cols = ", ".join(f"{e} AS {name}" for name, e in buckets.items())
    inner = f"(SELECT vid, {inner_cols} FROM {src})"
    xor = (lambda a, b: f"({a} ^ {b})") if vd.name == "spark" else (
        lambda a, b: f"xor({a}, {b})"
    )
    keys = []
    for t in range(num_tables):
        variants = [f"_b{t}"]
        if multiprobe:
            variants += [xor(f"_b{t}", str(1 << f)) for f in range(num_planes)]
        keys += [f"concat('{t}_', CAST({v} AS STRING))" for v in variants]
    if vd.name == "spark":
        # OUTER explode, not explode: ``bks`` is a literal-constructed
        # array of len(keys) >= 1 non-null strings, so the two are
        # row-identical — but plain explode makes Catalyst infer a
        # ``size(bks) > 0`` constraint and push it down into the FILE
        # SCAN stage, where it re-evaluates every plane-dot fold a
        # second time at scan parallelism (measured: the pushed filter
        # doubled the fold work and pinned it to the 1-partition scan).
        return (
            f"SELECT vid, bkey FROM (SELECT vid, array({', '.join(keys)}) AS bks FROM {inner}) "
            f"LATERAL VIEW OUTER explode(bks) t AS bkey"
        )
    return f"SELECT vid, unnest([{', '.join(keys)}]) AS bkey FROM {inner}"


def ann_lsh_topk_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 1,
    seed: int = 42,
    dim: int = DEFAULT_DIM,
    multiprobe: bool = False,
) -> str:
    """Multi-table random-hyperplane LSH: ``num_tables`` independent hash
    tables of ``num_planes`` sign-bits each; a vector is a candidate if it
    shares the query's bucket in ANY table (OR-amplification — single-table
    sign-LSH recall decays as (1-θ/π)^planes, the union of L tables lifts
    it to 1-(1-p)^L).  Each (table, bucket) pair becomes one string key so
    the candidate step stays a pure equi-join — at scale the shuffle key,
    exactly like the MinHash band join (operators/dedup.py).

    ``multiprobe`` additionally probes every 1-bit-flip neighbor bucket on
    the QUERY side (see :func:`_lsh_keys_select`) — measured recall@5 on
    the sf0.01 truth rises 0.675 → 0.925 at planes=6/tables=12, gated in
    tests/test_ann_index.py.

    ``query_pred`` sees columns (vid, {vec_col}, nrm).  dim MUST match the
    embedding width: zip_with pads the shorter array with NULL, silently
    corrupting buckets.
    """
    dot = vd.dot(f"q.{vec_col}", f"c.{vec_col}")
    cos = f"({dot} / greatest(q.nrm * c.nrm, 1e-300))"

    def _keys_select(src: str, mp: bool = False) -> str:
        return _lsh_keys_select(
            vd, vec_col, src, num_planes, num_tables, seed, dim, multiprobe=mp
        )

    # The query side gets its OWN keys CTE with the predicate applied
    # BEFORE bucket computation: Catalyst inlines CTEs, so a shared keys
    # CTE referenced from both join sides would evaluate every plane dot
    # product over ALL n vectors twice (verified in the executed plan —
    # two Generate-explode subtrees). This shape costs n + |Q| bucket
    # computations instead of 2n.
    return f"""
    WITH v AS (
      SELECT {id_col} AS vid, {vec_col} AS {vec_col}, {vd.norm(vec_col)} AS nrm
      FROM {table}
    ),
    qv AS (
      SELECT * FROM v WHERE {query_pred}
    ),
    keys AS ({_keys_select("v")}),
    qkeys AS ({_keys_select("qv", multiprobe)}),
    cand AS (
      SELECT DISTINCT x.vid AS query_id, y.vid AS neighbor_id
      FROM qkeys x
      JOIN keys y ON x.bkey = y.bkey AND x.vid <> y.vid
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine_sim
      FROM cand
      JOIN v q ON q.vid = cand.query_id
      JOIN v c ON c.vid = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= {k}
    """


def _planes_values(vd: VectorDialect, num_planes: int, num_tables: int, seed: int, dim: int) -> str:
    """Hyperplanes as a VALUES relation (t, p, w, pl) — planes as DATA,
    not as inline expressions.  The expression-literal formulation
    (:func:`_lsh_keys_select`) embeds num_tables×num_planes dot products
    each carrying a dim-element literal array into the plan; at 12
    tables × 6 planes Catalyst spends ~25 s ANALYZING the tree (measured
    constant in data size).  Here the one dot expression is tiny and the
    planes ride a 72-row broadcast — the shape a 100 TB cluster wants
    anyway.  w = 1<<p is precomputed as data so no bit-shift arithmetic
    happens in SQL.  Bucket values are IDENTICAL to the expression form:
    same fold order, same >= 0 sign rule, same bit weights."""
    rows = []
    for t in range(num_tables):
        planes = random_hyperplanes(num_planes, dim, seed + t)
        for p in range(num_planes):
            rows.append(f"({t}, {p}, {1 << p}, {vd._lit_array(planes[p])})")
    body = ", ".join(rows)
    if vd.name == "spark":
        return f"SELECT * FROM VALUES {body} AS pv(t, p, w, pl)"
    return f"SELECT * FROM (VALUES {body}) AS pv(t, p, w, pl)"


def _multiprobe_cand_ctes(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    num_planes: int,
    num_tables: int,
    seed: int,
    dim: int,
) -> str:
    """The multiprobe-LSH candidate-generation CTE chain (planes-as-data
    formulation), shared by :func:`ann_lsh_multiprobe_sql` and
    :func:`hard_negatives_ann_sql` so the two cannot drift.  Emits CTEs
    ``v`` (vid, {vec_col}, emb, nrm), ``qv``, and ``cand`` (query_id,
    neighbor_id); callers append their scoring/ranking tail."""
    dot_sp = vd.dot("s.emb", "pv.pl")
    flips = ["b.b"] + [
        (f"(b.b ^ {1 << f})" if vd.name == "spark" else f"xor(b.b, {1 << f})")
        for f in range(num_planes)
    ]
    if vd.name == "spark":
        # OUTER explode plus an explicit NULL guard, as in _lsh_keys_select:
        # plain explode makes Catalyst infer ``size(fbs) > 0`` and push
        # the plane-dot folds into the scan-side Filter a second time
        qkeys = f"""
      SELECT vid, concat(CAST(t AS STRING), '_', CAST(fb AS STRING)) AS bkey
      FROM (SELECT b.vid, b.t, array({', '.join(flips)}) AS fbs
            FROM bkt b JOIN qv ON qv.vid = b.vid)
      LATERAL VIEW OUTER explode(fbs) f AS fb
      WHERE fb IS NOT NULL"""
    else:
        qkeys = f"""
      SELECT vid, concat(CAST(t AS STRING), '_', CAST(fb AS STRING)) AS bkey
      FROM (SELECT b.vid, b.t, unnest([{', '.join(flips)}]) AS fb
            FROM bkt b JOIN qv ON qv.vid = b.vid)"""
    if vd.name == "spark":
        to_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    else:
        to_double = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""v AS (
      SELECT {id_col} AS vid, {vec_col} AS {vec_col}, {to_double} AS emb,
             {vd.norm(vec_col)} AS nrm
      FROM {table}
    ),
    planes AS ({_planes_values(vd, num_planes, num_tables, seed, dim)}),
    bkt AS (
      SELECT s.vid, pv.t,
             SUM(CASE WHEN {dot_sp} >= 0 THEN pv.w ELSE 0 END) AS b
      FROM v s CROSS JOIN planes pv
      GROUP BY s.vid, pv.t
    ),
    keys AS (
      SELECT vid, concat(CAST(t AS STRING), '_', CAST(b AS STRING)) AS bkey
      FROM bkt
    ),
    qv AS (
      SELECT * FROM v WHERE {query_pred}
    ),
    qkeys AS ({qkeys}),
    cand AS (
      SELECT DISTINCT x.vid AS query_id, y.vid AS neighbor_id
      FROM qkeys x
      JOIN keys y ON x.bkey = y.bkey AND x.vid <> y.vid
    )"""


def ann_lsh_multiprobe_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 12,
    seed: int = 42,
    dim: int = DEFAULT_DIM,
) -> str:
    """Multiprobe multi-table LSH in the planes-as-data formulation.

    Buckets: vectors CROSS JOIN the (broadcast) plane relation, ONE
    codegen'd dot per (vector, plane), sign bits summed per (vid, table)
    — numerically identical buckets to :func:`_lsh_keys_select` (same
    fold, same sign rule, same weights) with a plan Catalyst analyzes in
    milliseconds instead of tens of seconds.

    Probes: the query keeps its exact bucket AND every 1-bit-flip
    neighbor per table (integer XORs over the already-computed bucket),
    lifting per-table collision probability from p^b to
    p^b + b·p^(b-1)(1-p).  Measured recall@5 on the sf0.01 truth: 0.925
    (plain multi-table LSH at the same planes: 0.675); gate in
    tests/test_ann_index.py.  Candidates remain a pure (table, bucket)
    string-key equi-join.
    """
    dot_q = vd.dot(f"q.{vec_col}", f"c.{vec_col}")
    cos = f"({dot_q} / greatest(q.nrm * c.nrm, 1e-300))"
    ctes = _multiprobe_cand_ctes(
        vd, table, id_col, vec_col, query_pred=query_pred,
        num_planes=num_planes, num_tables=num_tables, seed=seed, dim=dim,
    )
    return f"""
    WITH {ctes},
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine_sim
      FROM cand
      JOIN v q ON q.vid = cand.query_id
      JOIN v c ON c.vid = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= {k}
    """


def ann_lsh_multiprobe_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    if dim is None:
        from pyspark.sql import functions as F

        row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        dim = len(row[0]) if row else DEFAULT_DIM
    view = _next_view()
    sql = ann_lsh_multiprobe_sql(
        _VSPARK, view, id_col, vec_col, query_pred=query_pred, k=k,
        num_planes=num_planes, num_tables=num_tables, seed=seed, dim=dim,
    )
    return _run(df, sql, view)


def embedding_neardup_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    block_col: str,
) -> str:
    # norms are precomputed once per vector (CTE) instead of once per
    # pair — identical float result (same ops), ~3× less arithmetic in
    # the pairwise stage.
    dot = vd.dot(f"a.{vec_col}", f"b.{vec_col}")
    cos = f"({dot} / greatest(a.nrm * b.nrm, 1e-300))"
    return f"""
    WITH v AS (
      SELECT {id_col}, {block_col}, {vec_col}, {vd.norm(vec_col)} AS nrm
      FROM {table}
    )
    SELECT a.{id_col} AS vec_id_a, b.{id_col} AS vec_id_b,
           {cos} AS cosine_sim
    FROM v a
    JOIN v b ON a.{block_col} = b.{block_col} AND a.{id_col} < b.{id_col}
    WHERE {cos} >= {threshold}
    """


def ann_ivf_topk_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 2,
    train_pred: str = "TRUE",
) -> str:
    """IVF (inverted-file) ANN: a deterministic coarse quantizer.

    ``train_pred`` restricts the CENTROID draw (not the assignment or
    the query set) — the oracle form of the frozen-centroid append
    contract: :func:`build_ivf_index` on the ``train_pred`` subset
    followed by :func:`append_ivf_index` of the rest equals this
    statement with the same predicate, making append ≡ pinned-centroid
    rebuild driver-provable (the ann_ivf_appended_topk query).

    Centroids are a deterministic hash-ordered sample: the
    ``num_centroids`` vectors with the smallest ``md5(id)`` — an unbiased
    uniform draw (unlike an id-prefix, which inherits whatever the id
    order correlates with), still zero-training so the whole pipeline
    stays oracle-expressible.  ORDER BY + LIMIT is a distributed top-K in
    Spark (TakeOrderedAndProject), not a single-partition sort.  A true
    Lloyd/k-means quantizer is deliberately NOT used: centroid means are
    float sums whose order of accumulation differs across engines, which
    would break the bit-exact oracle gate; the recall cost of sampling vs
    one Lloyd step is measured in tests/test_dedup_similarity.py.
    Every vector is assigned to its nearest centroid (cosine); a query
    probes its ``nprobe`` nearest centroid lists only.  At scale the
    assignment is the partitioning key, so a query touches
    ~nprobe/num_centroids of the data.

    ``query_pred`` may reference ``id_col`` unqualified: in the one scope
    where it is interpolated the join partner (``cents``) renames its id
    to ``cid``, so resolution is unambiguous — no string rewriting of the
    predicate (which would corrupt column names containing ``id_col`` as
    a substring, or string literals).
    """
    cos_vc = vd.cosine(f"v.{vec_col}", f"c.{vec_col}")
    cos_qc = vd.cosine(f"q.{vec_col}", f"cand.{vec_col}")
    return f"""
    WITH cents AS (
      SELECT {id_col} AS cid, {vec_col} FROM {table}
      WHERE {train_pred}
      ORDER BY md5(CAST({id_col} AS STRING)), {id_col}
      LIMIT {num_centroids}
    ),
    assigned AS (
      SELECT vid, {vec_col}, cid FROM (
        SELECT v.{id_col} AS vid, v.{vec_col} AS {vec_col}, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.{id_col}
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM {table} v CROSS JOIN cents c
      ) WHERE crank = 1
    ),
    probes AS (
      SELECT vid AS query_id, cid FROM (
        SELECT v.{id_col} AS vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.{id_col}
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM {table} v CROSS JOIN cents c
        WHERE {query_pred}
      ) WHERE crank <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, cand.vid AS neighbor_id, {cos_qc} AS cosine_sim
      FROM probes p
      JOIN assigned cand ON cand.cid = p.cid AND cand.vid <> p.query_id
      JOIN {table} q ON q.{id_col} = p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def cluster_balanced_sample_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    num_cells: int = 16,
    cap: int = 10,
) -> str:
    """Cluster-balanced (diversity) sampling — the curation step that
    keeps a training subset SPANNING the embedding space instead of
    oversampling its dense regions (the DataComp/SemDeDup-adjacent
    'cap each cluster's contribution' rule).

    Same deterministic coarse quantizer as :func:`ann_ivf_topk_sql`
    (hash-ordered seed centroids, nearest-cosine assignment — zero
    training, so the whole pipeline is oracle-expressible), then a
    per-cell md5-rank cap: each cell forwards at most ``cap`` vectors,
    chosen by hash of their id (uniform within the cell, reproducible,
    cluster-layout-independent — the class_capped_sample discipline).
    Dense cells are truncated; sparse cells survive whole, which is the
    point.  At scale the centroid set is a broadcast relation, the
    assignment window partitions on the vector id, and the cap compiles
    to WindowGroupLimit (each input partition forwards ≤ cap rows per
    cell to the final exchange)."""
    cos_vc = vd.cosine(f"v.{vec_col}", f"c.{vec_col}")
    return f"""
    WITH cents AS (
      SELECT {id_col} AS cid, {vec_col} FROM {table}
      ORDER BY md5(CAST({id_col} AS STRING)), {id_col}
      LIMIT {num_cells}
    ),
    assigned AS (
      SELECT vid, cid FROM (
        SELECT v.{id_col} AS vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.{id_col}
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM {table} v CROSS JOIN cents c
      ) WHERE crank = 1
    )
    SELECT vid AS {id_col}, cid AS cell FROM (
      SELECT vid, cid,
             ROW_NUMBER() OVER (PARTITION BY cid
                                ORDER BY md5(CAST(vid AS STRING)), vid) AS rnk
      FROM assigned
    ) WHERE rnk <= {cap}
    """


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    num_cells: int = 16,
    cap: int = 10,
) -> DataFrame:
    view = _next_view()
    sql = cluster_balanced_sample_sql(
        _VSPARK, view, id_col, vec_col, num_cells=num_cells, cap=cap
    )
    return _run(df, sql, view)


def _explode_dims(vd: VectorDialect, src: str, cols: str = "cid") -> str:
    """(cols…, j, val) rows — one per vector dimension, j 1-based on BOTH
    engines (Spark posexplode is 0-based; +1 aligns it with DuckDB's
    native 1-based list indexing)."""
    if vd.name == "spark":
        return (
            f"SELECT {cols}, pos + 1 AS j, val FROM {src} "
            f"LATERAL VIEW posexplode(emb) t AS pos, val"
        )
    return (
        f"SELECT {cols}, j, emb[j] AS val FROM "
        f"(SELECT {cols}, emb, unnest(range(1, len(emb) + 1)) AS j FROM {src})"
    )


def _rebuild_array(vd: VectorDialect) -> str:
    """Per-group array rebuild of the per-dim means, ordered by j."""
    if vd.name == "spark":
        return "transform(array_sort(collect_list(struct(j, mj))), s -> s.mj)"
    return "list(mj ORDER BY j)"


def _mean_expr() -> str:
    """Cross-engine bit-exact mean: the per-dim sum is an EXACT decimal
    (order-independent — parallel partial aggregation cannot reassociate
    it), converted once via the deterministic dec_to_double, then one
    IEEE division by the integer count.  Identical doubles on both
    engines, so downstream cosines stay bit-exact (dialect contract of
    functions.vector_fns)."""
    from ._num import dec_to_double

    return f"({dec_to_double('s')} / n)"


def _round_then_quantize(expr: str) -> str:
    """DOUBLE→DECIMAL(27,6) with the text.py tie discipline: Spark rounds
    HALF_UP, DuckDB HALF_EVEN, and they diverge on representable .5e-7
    ties (multiples of 2^-7 — which float32-sourced embedding values ARE).
    round_double first is pure double arithmetic, engine-identical;
    whatever it does at the boundary, BOTH engines do the same thing
    (the bigram_fluency/dsir rule, _num.py)."""
    from ._num import round_double

    return round_double(expr, 6)


_rd_val = _round_then_quantize("val")


def lloyd_ctes(
    vd: VectorDialect,
    *,
    vec_col: str,
    num_centroids: int,
    iters: int,
) -> tuple[str, str]:
    """CTE chain refining the hash-sampled seed centroids with ``iters``
    unrolled Lloyd steps, every step oracle-expressible:

    assign  — each vector to its nearest (cosine) current centroid;
    update  — new centroid = per-dimension mean of its members, via the
              exact-decimal-sum discipline (see :func:`_mean_expr`), so
              the float means are bit-identical across engines — the one
              property whose absence forced the original quantizer to
              stay sample-only (the old docstring's "Lloyd would break
              the oracle" constraint no longer holds);
    carry   — a centroid whose cell emptied keeps its previous position
              (COALESCE), the standard empty-cluster rule.

    Returns (ctes_sql, final_centroids_cte_name).  Expects a CTE ``v``
    with columns (vid, emb DOUBLE[]) in scope.

    Norm discipline: both operands' norms are computed ONCE per row
    (``lv`` per vector, a per-iteration ``cn{i}`` per centroid) instead
    of per (vector, centroid) pair inside an inline cosine — the
    dominant cost of a Lloyd step is the n×K ranking pass, and the
    factored form does one dot + one division there (bit-identical
    values: same folds, same ops, one shared division).  The final
    centroid CTE carries ``nc`` so callers' assignment/probe rankings
    inherit the same factoring.
    """
    ctes = [
        f"""lv AS (
      SELECT vid, emb, {vd.norm("emb")} AS nv FROM v
    )""",
        f"""c0 AS ({_lloyd_seed_select(vd, "lv", num_centroids)})"""
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        ctes += _lloyd_iter_ctes(vd, i, prev=prev, lv="lv")
        prev = f"c{i}"
    return ",\n    ".join(ctes), prev


def _lloyd_seed_select(vd: VectorDialect, lv: str, num_centroids: int) -> str:
    """Hash-sampled seed centroids from the ``lv`` relation."""
    return f"""
      SELECT vid AS cid, emb AS cent, nv AS nc FROM {lv}
      ORDER BY md5(CAST(vid AS STRING)), vid
      LIMIT {num_centroids}
    """


def _lloyd_iter_ctes(
    vd: VectorDialect, i: int, *, prev: str, lv: str
) -> list[str]:
    """The three CTEs of ONE Lloyd step (assign a{i} / mean m{i} /
    carry+norm c{i}) reading vectors from ``lv`` and the previous
    centroids from ``prev``.  Shared by the unrolled one-statement chain
    (:func:`lloyd_ctes`, the oracle text) and the per-iteration staged
    trainer (:func:`_stage_lloyd`) so the two can never drift — any
    expression edit lands in both, keeping staged ≡ inline bit-exact."""
    dot = vd.dot("x.emb", "c.cent")
    cos = f"({dot} / greatest(x.nv * c.nc, 1e-300))"
    return [
        f"""a{i} AS (
      SELECT vid, emb, cid FROM (
        SELECT x.vid, x.emb, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos} DESC, c.cid) AS crank
        FROM {lv} x CROSS JOIN {prev} c
      ) WHERE crank = 1
    )""",
        f"""m{i} AS (
      SELECT cid, {_rebuild_array(vd)} AS cent FROM (
        SELECT cid, j, {_mean_expr()} AS mj FROM (
          SELECT cid, j, SUM(CAST({_rd_val} AS DECIMAL(27,6))) AS s, COUNT(*) AS n
          FROM ({_explode_dims(vd, f"a{i}")}) GROUP BY cid, j
        )
      ) GROUP BY cid
    )""",
        f"""c{i} AS ({_lloyd_carry_select(vd, i, prev)})""",
    ]


def _lloyd_carry_select(vd: VectorDialect, i: int, prev: str) -> str:
    """The carry+norm SELECT of step ``i`` (the c{i} CTE body) —
    rendered separately so :func:`_stage_lloyd` can run it as the
    step statement's final projection without re-parsing CTE text."""
    return f"""
      SELECT cid, cent, {vd.norm("cent")} AS nc FROM (
        SELECT p.cid, COALESCE(m.cent, p.cent) AS cent
        FROM {prev} p LEFT JOIN m{i} m ON m.cid = p.cid
      )
    """


def lloyd_train_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    num_centroids: int,
    iters: int,
) -> str:
    """One-statement centroid TRAINING — the unrolled Lloyd chain alone,
    ending in the (cid, cent, nc) relation.  The Spark front doors run
    this once, localCheckpoint the result, and serve every downstream
    reference from the staged frame: Catalyst inlines CTEs per
    reference, so the composed one-statement forms replan (and
    re-execute) the whole training chain per consumer — the r14
    baseline ivfpq plan carried 286 Exchanges for a 2000-row corpus,
    nearly all replanned training subtrees (guide §3.3: materialise an
    intermediate to truncate enormous plans).  The oracle keeps the
    inline one-statement text, so staged ≡ inline is driver-proven."""
    ctes, cfinal = lloyd_ctes(
        vd, vec_col=vec_col, num_centroids=num_centroids, iters=iters
    )
    td = "transform" if vd.name == "spark" else "list_transform"
    return f"""
    WITH v AS (
      SELECT {id_col} AS vid, {td}({vec_col}, x -> CAST(x AS DOUBLE)) AS emb
      FROM {table}
    ),
    {ctes}
    SELECT cid, cent, nc FROM {cfinal}
    """


def _lv_only_cte(vd: VectorDialect, repartition: int | None = None) -> str:
    """The ``lv`` relation alone (vectors + once-computed norms) — what
    a staged-centroid tail still needs from :func:`lloyd_ctes`.

    ``repartition`` (spark dialect only; the front doors pass
    ``defaultParallelism``) hash-distributes lv by vid so the tail's
    per-vid ranking windows run at that width instead of inheriting the
    single-file scan's 1-2 partitions — the rows are compute-dense
    (dim-wide cosine folds), which AQE's byte-based coalescing cannot
    see.  Value-identical: row distribution only."""
    hint = ""
    if repartition and vd.name == "spark":
        hint = f"/*+ REPARTITION({repartition}, vid) */ "
    return f"""lv AS (
      SELECT {hint}vid, emb, {vd.norm("emb")} AS nv FROM v
    )"""


def ann_ivf_refined_topk_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_centroids: int = 64,
    nprobe: int = 16,
    multi_assign: int = 3,
    lloyd_iters: int = 3,
    staged_centroids: str | None = None,
    dist_partitions: int | None = None,
) -> str:
    """IVF ANN with Lloyd-refined centroids, multi-assignment and exact
    re-rank — the recall-grade variant of :func:`ann_ivf_topk_sql`.

    Three recall levers over the plain hash-sampled IVF (measured 0.65):

    * ``lloyd_iters`` k-means steps reshape the cells around the actual
      density (exact-decimal means keep the oracle bit-exact);
    * ``multi_assign`` — every vector is indexed under its
      ``multi_assign`` nearest cells (replication factor m, the
      classic IVF spill/multi-assignment trick), so a neighbor sitting
      just across a cell boundary is still reachable;
    * candidates are re-ranked by EXACT cosine before the top-k cut.

    Honest cost accounting: candidate volume ≈ n·nprobe·multi_assign /
    num_centroids.  The testdata embeddings are isotropic Gaussian —
    the adversarial regime for any space-partitioning index (neighbors
    are spread almost uniformly over cells), so reaching recall ≥ 0.9
    HERE requires probing a large fraction (defaults ≈ 0.75·n
    candidates).  On real-world clustered embeddings the same structure
    reaches it at a far smaller probed fraction; the recall-vs-cost gate
    is asserted in tests/test_ann_index.py.

    Scale: each Lloyd step is one n×K cosine pass (centroids broadcast
    — K·dim doubles) + one per-(cid, dim) partial-aggregated mean; the
    final index is the same equi-join shape as plain IVF with an m×
    posting-list amplification.  ``query_pred`` sees (vid, emb).  All
    rankings use the factored cosine over the once-computed norms
    (lloyd_ctes' ``lv``/``nc`` discipline).

    The Spark dialect pins the probe list (|Q|·nprobe rows) as the
    broadcast side of the candidate join, so the query set must stay
    small: those rows are collected and shipped whole to every task, so
    they must fit ``spark.sql.maxBroadcastTableSize``.  Scoring the whole corpus
    against itself is out of scope.
    """
    cos_vc = f"({vd.dot('x.emb', 'c.cent')} / greatest(x.nv * c.nc, 1e-300))"
    cos_qc = f"({vd.dot('q.emb', 'c.emb')} / greatest(q.nv * c.nv, 1e-300))"
    if staged_centroids:
        ctes, cfinal = _lv_only_cte(vd, dist_partitions), staged_centroids
    else:
        ctes, cfinal = lloyd_ctes(
            vd, vec_col=vec_col, num_centroids=num_centroids, iters=lloyd_iters
        )
    # The probe list is queries × nprobe rows; it derives from the
    # checkpointed ``lv``, which carries no size stats, so without the
    # pin the cid candidate join plans as a SortMergeJoin that shuffles
    # the n × multi_assign posting list.
    probe_hint = "/*+ BROADCAST(p) */ " if vd.name == "spark" else ""
    if vd.name == "spark":
        to_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    else:
        to_double = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH v AS (
      SELECT {id_col} AS vid, {to_double} AS emb FROM {table}
    ),
    {ctes},
    assigned AS (
      SELECT vid, cid FROM (
        SELECT x.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM lv x CROSS JOIN {cfinal} c
      ) WHERE crank <= {multi_assign}
    ),
    probes AS (
      SELECT vid AS query_id, cid FROM (
        SELECT x.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM (SELECT * FROM lv WHERE {query_pred}) x
        CROSS JOIN {cfinal} c
      ) WHERE crank <= {nprobe}
    ),
    cand AS (
      SELECT {probe_hint}DISTINCT p.query_id, a.vid AS neighbor_id
      FROM probes p JOIN assigned a ON a.cid = p.cid AND a.vid <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos_qc} AS cosine_sim
      FROM cand
      JOIN lv q ON q.vid = cand.query_id
      JOIN lv c ON c.vid = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def _stage_lloyd(df: DataFrame, view: str, id_col: str, vec_col: str,
                 *, num_centroids: int, iters: int) -> str:
    """Train the Lloyd centroids ONCE over ``view`` and return a temp
    view over the lazily-checkpointed (cid, cent, nc) relation (see
    :func:`lloyd_train_sql` for why).

    Trains ITERATION BY ITERATION: in the one-statement chain every
    c{i} references c{i-1} twice (the assign pass and the empty-cell
    carry join), so CTE inlining re-executes the n×K assign pass
    2^(iters-i) times — 7 passes instead of 3 at iters=3 (measured:
    1.63/3.01/4.99 s at iters 1/2/3 over the same 2 000 vectors).
    Staging per step makes each pass run exactly once; ``lv`` (vectors
    + norms) is checkpointed so the source scan and norm folds are paid
    once, not once per iteration; each trained c{i} (K rows) is
    broadcast-pinned over a lazy checkpoint (see ``_pin`` below for the
    r15 collect-to-LocalRelation and seed-fusion negative results).
    Values are bit-identical by construction: both forms render the
    SAME step CTEs (:func:`_lloyd_iter_ctes`), pinned by
    tests/test_staged_training.py."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    td = "transform" if _VSPARK.name == "spark" else "list_transform"
    # Hash-repartition by vid BEFORE checkpointing: every assign pass
    # windows over vid, and Dataset.localCheckpoint preserves the
    # physical partitioning — so the n×K ranking sorts ride this one
    # exchange at full width instead of a fresh per-pass exchange that
    # AQE byte-coalesces to 1-2 partitions (the rows are compute-dense:
    # each carries a dim-wide cosine fold the byte heuristic can't see).
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    lv = spark.sql(f"""
      SELECT vid, emb, {_VSPARK.norm("emb")} AS nv FROM (
        SELECT {id_col} AS vid, {td}({vec_col}, x -> CAST(x AS DOUBLE)) AS emb
        FROM {view}
      )""").repartition(n_parts, "vid").localCheckpoint(eager=False)
    lvv = _next_view()
    lv.createOrReplaceTempView(lvv)

    def _pin(frame):
        # A checkpointed frame carries no size stats (LogicalRDD
        # defaults to "huge"), which would demote every centroid join
        # from broadcast to shuffle — the relation is num_centroids
        # rows, so pin the hint.  (r15 negative result, kept as a
        # warning: collecting each step to the driver and re-registering
        # it as a LocalRelation measured ~25% SLOWER end to end — the
        # per-step collect + createDataFrame py4j round-trips cost more
        # than the lazy checkpoint + broadcast they replaced; ivfpq
        # 6.2 → 8.3 s, pq_adc 3.7 → 5.3 s same-epoch A/B.)
        v = _next_view()
        F.broadcast(frame.localCheckpoint(eager=False)).createOrReplaceTempView(v)
        return v

    # (r15 negative result: fusing the seed into step 1's statement —
    # c0 referenced twice, re-executed per reference — measured ~10%
    # SLOWER end to end than the separate pinned seed statement, same
    # epoch; one fewer statement did not pay for the double TakeOrdered.)
    prev = _pin(spark.sql(_lloyd_seed_select(_VSPARK, lvv, num_centroids)))
    for i in range(1, iters + 1):
        a, m, _c = _lloyd_iter_ctes(_VSPARK, i, prev=prev, lv=lvv)
        prev = _pin(spark.sql(
            f"WITH {a},\n    {m}\n    {_lloyd_carry_select(_VSPARK, i, prev)}"
        ))
    return prev


def ann_ivf_refined_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_centroids: int = 64,
    nprobe: int = 16,
    multi_assign: int = 3,
    lloyd_iters: int = 3,
) -> DataFrame:
    """DataFrame form of :func:`ann_ivf_refined_topk_sql` with the
    Lloyd centroids trained once and staged.  The probe list of the
    ``query_pred`` rows is broadcast, so keep the query set small (see
    there)."""
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = _next_view()
    df.createOrReplaceTempView(view)
    cview = _stage_lloyd(df, view, id_col, vec_col,
                         num_centroids=num_centroids, iters=lloyd_iters)
    sql = ann_ivf_refined_topk_sql(
        _VSPARK,
        view,
        id_col,
        vec_col,
        query_pred=query_pred,
        k=k,
        num_centroids=num_centroids,
        nprobe=nprobe,
        multi_assign=multi_assign,
        lloyd_iters=lloyd_iters,
        staged_centroids=cview,
        dist_partitions=df.sparkSession.sparkContext.defaultParallelism,
    )
    return df.sparkSession.sql(sql)


def semantic_dedup_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    num_centroids: int = 16,
    multi_assign: int = 3,
    lloyd_iters: int = 3,
    staged_centroids: str | None = None,
    dist_partitions: int | None = None,
) -> str:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings, then look for
    near-duplicate pairs (cosine ≥ ``threshold``) ONLY within shared
    cells — never all-pairs.

    Blocking = the Lloyd-refined IVF quantizer (:func:`lloyd_ctes`) with
    ``multi_assign``-fold replication, so a duplicate pair straddling a
    cell boundary is still co-blocked if the two vectors share ANY of
    their m nearest cells.  Real semantic duplicates sit at cosine ≥ 0.9
    and virtually always share their primary cell; the isotropic-Gaussian
    testdata at τ=0.35 is the adversarial floor (pair recall ~0.85 with
    the defaults, measured vs brute force in tests/test_ann_index.py).

    Keep rule — deterministic single pass: a document is DROPPED iff it
    has a qualifying pair with a smaller-id document; ``dup_of`` reports
    the smallest such partner.  The smallest id of every duplicate group
    therefore always survives (it has no smaller partner).  This is the
    screen form of SemDeDup's one-exemplar-per-group rule: transitive
    chains may drop more than a greedy sequential pass would keep, which
    is the conservative direction for training-data dedup.

    Returns one row per input vector: ({id_col}, kept BOOLEAN, dup_of).

    Scale: candidate volume ≈ Σ_cells |cell|·m choose 2 — linear in n for
    bounded cell sizes; the pair join is a cid equi-join (shuffle key),
    exactly the MinHash band-join shape.  The BLAS twin
    (:func:`semantic_dedup_blas`) swaps the per-pair expression cosine
    for one gram matrix per cell.
    """
    # norms precomputed ONCE per vector (the embedding_neardup_sql
    # discipline, provided by lloyd_ctes' lv CTE): every ranking and the
    # pairwise stage evaluate one dot + one division instead of
    # re-deriving both operands' norms per pair (~3× less arithmetic,
    # bit-identical result — same fold, same ops).
    dot_ab = vd.dot("a.emb", "b.emb")
    cos_ab = f"({dot_ab} / greatest(a.nv * b.nv, 1e-300))"
    # The candidate relation is ~|cells|·(avg cell·m choose 2) pair KEYS
    # — a few MB that AQE coalesces to 1-2 post-DISTINCT partitions, yet
    # each row then pays a dim-wide cosine fold in the pairs stage
    # (measured 8.96 → 2.92 s at sf0.1 with the spread).  Round-robin
    # the deduped pairs across the session's cores; joins/aggs above
    # never depend on row order.
    cand_hint = ""
    if dist_partitions and vd.name == "spark":
        cand_hint = f"/*+ REPARTITION({dist_partitions}) */ "
    if staged_centroids:
        ctes, cfinal = _lv_only_cte(vd, dist_partitions), staged_centroids
    else:
        ctes, cfinal = lloyd_ctes(
            vd, vec_col=vec_col, num_centroids=num_centroids, iters=lloyd_iters
        )
    if vd.name == "spark":
        to_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    else:
        to_double = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    cos_vc = f"({vd.dot('x.emb', 'c.cent')} / greatest(x.nv * c.nc, 1e-300))"
    return f"""
    WITH v AS (
      SELECT {id_col} AS vid, {to_double} AS emb FROM {table}
    ),
    {ctes},
    cells AS (
      SELECT vid, cid FROM (
        SELECT x.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM lv x CROSS JOIN {cfinal} c
      ) WHERE crank <= {multi_assign}
    ),
    cand AS (
      SELECT {cand_hint}DISTINCT x.vid AS vid_a, y.vid AS vid_b
      FROM cells x JOIN cells y ON x.cid = y.cid AND x.vid < y.vid
    ),
    pairs AS (
      SELECT cand.vid_a, cand.vid_b
      FROM cand
      JOIN lv a ON a.vid = cand.vid_a
      JOIN lv b ON b.vid = cand.vid_b
      WHERE {cos_ab} >= {threshold}
    ),
    drops AS (
      SELECT vid_b AS vid, MIN(vid_a) AS dup_of FROM pairs GROUP BY vid_b
    )
    SELECT v.vid AS {id_col}, drops.vid IS NULL AS kept, drops.dup_of
    FROM v LEFT JOIN drops ON drops.vid = v.vid
    """


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    num_centroids: int = 16,
    multi_assign: int = 3,
    lloyd_iters: int = 3,
) -> DataFrame:
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = _next_view()
    df.createOrReplaceTempView(view)
    cview = _stage_lloyd(df, view, id_col, vec_col,
                         num_centroids=num_centroids, iters=lloyd_iters)
    sql = semantic_dedup_sql(
        _VSPARK,
        view,
        id_col,
        vec_col,
        threshold=threshold,
        num_centroids=num_centroids,
        multi_assign=multi_assign,
        lloyd_iters=lloyd_iters,
        staged_centroids=cview,
        dist_partitions=df.sparkSession.sparkContext.defaultParallelism,
    )
    return df.sparkSession.sql(sql)


def semantic_dedup_blas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    num_centroids: int = 16,
    multi_assign: int = 3,
    lloyd_iters: int = 3,
) -> DataFrame:
    """BLAS twin of :func:`semantic_dedup`: identical blocking (the SQL
    quantizer emits the (vid, cid, emb) cells), but the within-cell pair
    search runs as ONE numpy gram matrix per cell via ``applyInPandas``
    — the scale path once per-pair expression overhead dominates
    (mirrors embedding_neardup_pairs_blas).  A pair sharing two cells is
    emitted twice by the per-cell kernel and collapsed by the distinct
    before the keep rule, so the output matches the expression form up
    to float-reassociation at the threshold boundary (same caveat as the
    near-dup BLAS kernel)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = _next_view()
    df.createOrReplaceTempView(view)
    cfinal = _stage_lloyd(df, view, id_col, vec_col,
                          num_centroids=num_centroids, iters=lloyd_iters)
    cos_vc = f"({_VSPARK.dot('x.emb', 'c.cent')} / greatest(x.nv * c.nc, 1e-300))"
    cells = df.sparkSession.sql(
        f"""
        WITH v AS (
          SELECT {id_col} AS vid,
                 transform({vec_col}, x -> CAST(x AS DOUBLE)) AS emb
          FROM {view}
        ),
        {_lv_only_cte(_VSPARK, df.sparkSession.sparkContext.defaultParallelism)}
        SELECT vid, emb, cid FROM (
          SELECT x.vid, x.emb, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY x.vid
                                    ORDER BY {cos_vc} DESC, c.cid) AS crank
          FROM lv x CROSS JOIN {cfinal} c
        ) WHERE crank <= {multi_assign}
        """
    )

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(columns=["vid_a", "vid_b"])
        X = np.stack(pdf["emb"].to_numpy()).astype("float64")
        ids = pdf["vid"].to_numpy()
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0.0] = 1e-300
        C = (X / norms) @ (X / norms).T
        iu, ju = np.triu_indices(len(ids), k=1)
        m = C[iu, ju] >= threshold
        a, b = ids[iu[m]], ids[ju[m]]
        return pd.DataFrame({"vid_a": np.minimum(a, b), "vid_b": np.maximum(a, b)})

    # pair-id type follows the input id column (the ngram_jaccard BLAS
    # rule): a hard long cast would silently NULL non-numeric ids —
    # every row reported kept=true with a NULL id, diverging from the
    # SQL twin which preserves the id type.
    id_type = df.schema[id_col].dataType.simpleString()
    pairs = (
        cells.groupBy("cid")
        .applyInPandas(lambda pdf: _cell(pdf), f"vid_a {id_type}, vid_b {id_type}")
        .distinct()
    )
    drops = pairs.groupBy("vid_b").agg(F.min("vid_a").alias("dup_of"))
    base = df.select(F.col(id_col).alias(id_col))
    return base.join(
        drops, on=base[id_col] == drops["vid_b"], how="left"
    ).select(
        base[id_col],
        F.col("vid_b").isNull().alias("kept"),
        F.col("dup_of"),
    )


def ann_ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    view = _next_view()
    sql = ann_ivf_topk_sql(
        _VSPARK,
        view,
        id_col,
        vec_col,
        query_pred=query_pred,
        k=k,
        num_centroids=num_centroids,
        nprobe=nprobe,
    )
    return _run(df, sql, view)




def _run(df: DataFrame, sql: str, view: str) -> DataFrame:
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(sql)


def _next_view() -> str:
    _VIEW_SEQ[0] += 1
    return f"_ts_sim_in_{_VIEW_SEQ[0]}"


def knn_cosine_topk(df: DataFrame, id_col: str, vec_col: str, *, query_pred: str, k: int = 5) -> DataFrame:
    view = _next_view()
    return _run(df, knn_topk_sql(_VSPARK, view, id_col, vec_col, query_pred=query_pred, k=k), view)


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 1,
    seed: int = 42,
    dim: int | None = None,
    multiprobe: bool = False,
) -> DataFrame:
    """``dim`` defaults to the actual width of ``vec_col`` (probed from the
    first NON-NULL vector) so non-64-d embeddings get correct hyperplanes;
    pass it explicitly to skip the probe job. A wrong dim silently
    corrupts buckets (zip_with NULL-pads the shorter side), so the probe
    must never fall back on a null first row."""
    if dim is None:
        from pyspark.sql import functions as F

        row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        dim = len(row[0]) if row else DEFAULT_DIM
    view = _next_view()
    sql = ann_lsh_topk_sql(
        _VSPARK,
        view,
        id_col,
        vec_col,
        query_pred=query_pred,
        k=k,
        num_planes=num_planes,
        num_tables=num_tables,
        seed=seed,
        dim=dim,
        multiprobe=multiprobe,
    )
    return _run(df, sql, view)


def embedding_neardup_pairs(
    df: DataFrame, id_col: str, vec_col: str, *, threshold: float, block_col: str
) -> DataFrame:
    view = _next_view()
    sql = embedding_neardup_sql(
        _VSPARK, view, id_col, vec_col, threshold=threshold, block_col=block_col
    )
    return _run(df, sql, view)


def embedding_neardup_pairs_blas(
    df: DataFrame, id_col: str, vec_col: str, *, threshold: float, block_col: str
) -> DataFrame:
    """BLAS-path near-dup: same contract as :func:`embedding_neardup_pairs`,
    executed as one numpy gram-matrix per block via ``applyInPandas``
    (whole block per call — mapInPandas could split a block across Arrow
    batches and silently drop cross-batch pairs).

    ~7× faster than the expression form at 64-d/sf0.1 — the documented
    Arrow escape hatch once per-pair expression overhead dominates.
    float64 matmul may reassociate additions, so a pair whose cosine sits
    within ~1e-13 of the threshold could differ from the sequential-fold
    form; thresholds are never chosen that close in practice.
    """
    import numpy as np
    import pandas as pd

    for c in (id_col, vec_col, block_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(columns=["vec_id_a", "vec_id_b", "cosine_sim"])
        X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        ids = pdf[id_col].to_numpy()
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0.0] = 1e-300
        C = (X / norms) @ (X / norms).T
        iu, ju = np.triu_indices(len(ids), k=1)
        m = C[iu, ju] >= threshold
        a, b = ids[iu[m]], ids[ju[m]]
        return pd.DataFrame(
            {
                "vec_id_a": np.minimum(a, b),
                "vec_id_b": np.maximum(a, b),
                "cosine_sim": C[iu, ju][m],
            }
        )

    schema = "vec_id_a long, vec_id_b long, cosine_sim double"
    return df.select(id_col, vec_col, block_col).groupBy(block_col).applyInPandas(
        lambda pdf: _block(pdf), schema
    )


# ---------------------------------------------------------------------------
# Persisted ANN index: build once -> query many (SCALE.md amortization path)
# ---------------------------------------------------------------------------


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    num_planes: int = 6,
    num_tables: int = 1,
    seed: int = 42,
    dim: int | None = None,
) -> None:
    """Materialize the LSH structures the inline :func:`ann_lsh_topk`
    recomputes per query: ``{path}/vectors`` (vid, vector, norm),
    ``{path}/buckets`` (vid, bkey — one row per table), and the
    ``{path}/params`` marker so the query side rebuilds the IDENTICAL
    literal hyperplanes from the seed. Bucket keys come from the same
    generator as the inline query (`_lsh_keys_select`), so
    build→query returns exactly what the inline query returns — that is
    the contract the tests pin.

    At 100 TB this is the pipeline-level answer to "the bucketed table is
    recomputed per query": n vectors are hashed ONCE here; each query
    then hashes only its |Q| probes and equi-joins the persisted buckets.
    Buckets are repartitioned by bkey on write so a downstream reader
    gets bucket-clustered files (at cluster scale you'd write
    ``bucketBy(bkey)`` into a metastore table and skip the query-time
    shuffle entirely)."""
    require_columns(df, (id_col, vec_col))
    if dim is None:
        from pyspark.sql import functions as F

        row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        dim = len(row[0]) if row else DEFAULT_DIM
    spark = df.sparkSession
    view = _next_view()
    df.createOrReplaceTempView(view)
    vectors = spark.sql(
        f"SELECT {id_col} AS vid, {vec_col} AS {vec_col}, {_VSPARK.norm(vec_col)} AS nrm FROM {view}"
    )
    begin_build(spark, path)
    vectors.write.mode("overwrite").parquet(f"{path}/vectors")
    vview = _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    buckets = spark.sql(
        _lsh_keys_select(_VSPARK, vec_col, vview, num_planes, num_tables, seed, dim)
    )
    buckets.repartition("bkey").write.mode("overwrite").parquet(f"{path}/buckets")
    commit_build(spark, path, dict(id_col=id_col, vec_col=vec_col, num_planes=num_planes,
                                   num_tables=num_tables, seed=seed, dim=dim))


def query_lsh_index(
    spark, path: str, *, query_pred: str, k: int = 5, multiprobe: bool = False
) -> DataFrame:
    """Top-k against a persisted LSH index. ``query_pred`` sees the
    persisted vector columns (vid, <vec_col>, nrm). Only the |Q| query
    vectors are hashed; candidates come from an equi-join against the
    persisted bucket table — the data side's n bucket computations were
    paid once at build time (the executed plan contains exactly ONE
    bucket-explode subtree; the inline form has two).  ``multiprobe``
    expands the query-side probes with 1-bit-flip neighbor buckets — a
    recall knob that needs NO rebuild: the stored single-bucket-per-table
    index serves exact and multiprobe queries alike."""
    p = read_params(spark, path)
    vview, bview = _next_view(), _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    read_artifact(spark, path, "buckets").createOrReplaceTempView(bview)
    vec_col = p["vec_col"]
    dot = _VSPARK.dot(f"q.{vec_col}", f"c.{vec_col}")
    cos = f"({dot} / greatest(q.nrm * c.nrm, 1e-300))"
    qkeys = _lsh_keys_select(
        _VSPARK, vec_col, "qv", p["num_planes"], p["num_tables"], p["seed"], p["dim"],
        multiprobe=multiprobe,
    )
    return spark.sql(f"""
    WITH qv AS (
      SELECT * FROM {vview} WHERE {query_pred}
    ),
    qkeys AS ({qkeys}),
    cand AS (
      SELECT DISTINCT x.vid AS query_id, y.vid AS neighbor_id
      FROM qkeys x
      JOIN {bview} y ON x.bkey = y.bkey AND x.vid <> y.vid
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine_sim
      FROM cand
      JOIN {vview} q ON q.vid = cand.query_id
      JOIN {vview} c ON c.vid = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM ranked WHERE rank <= {k}
    """)


def append_lsh_index(spark, path: str, df: DataFrame) -> None:
    """Fold an increment into a persisted LSH index — the r9 VERDICT
    residual made real: SCALE.md's claim that bucket assignment is
    ROW-LOCAL means append ≡ rebuild EXACTLY, and now that is proven,
    not asserted (the ``dedup_incremental_docs`` discipline — the
    registered ``ann_lsh_appended_topk`` query's oracle is the INLINE
    full-corpus LSH SQL, so build-on-base + append-increment must
    reproduce the one-shot full build to the driver's value hash).

    Why exact: the hyperplanes are literals derived from (seed, dim)
    stored in ``params`` — no training state — so a vector's (norm,
    bucket keys) depend on that vector alone; appending its rows yields
    byte-identical artifacts to a full rebuild.  Contrast IVF
    (:func:`append_ivf_index`), whose rebuild would re-SAMPLE centroids.

    Idempotence AND crash recovery: the increment is anti-joined
    against the stored vids first, so a redelivered append is a no-op
    (duplicate vid rows would multiply the query's scored join).  The
    two artifacts cannot be appended atomically together, so the WRITE
    ORDER is the recovery rule: ``buckets`` first, then ``vectors`` —
    the artifact that DRIVES the anti-join commits LAST.  A failure
    between the two leaves bucket rows whose vid is absent from
    ``vectors``; the retry re-derives the same fresh set (bucket
    assignment is row-local and deterministic) and re-appends, so
    ``vectors`` stays duplicate-free while ``buckets`` may carry
    duplicate (vid, bkey) rows after a crash-retry — harmless by
    construction, because every consumer dedups candidates
    (``SELECT DISTINCT`` in the persisted top-k's cand CTE,
    ``GROUP BY`` in ``_lsh_screen_tail``), and orphaned bucket rows
    never join to a stored vector until the retry lands it.  The
    OPPOSITE order would strand vectors rows that the anti-join then
    skips forever — silent recall loss.  The anti-join reads the
    stored ``vectors`` column-pruned to vid — O(n) scan, O(increment)
    write; the 100 TB posture is unchanged (builds are one-time,
    appends pay the increment plus one pruned lookup column).
    """
    p = read_params(spark, path)
    id_col, vec_col = p["id_col"], p["vec_col"]
    require_columns(df, (id_col, vec_col))
    spark = df.sparkSession  # foreachBatch clone safety
    view = _next_view()
    df.createOrReplaceTempView(view)
    seen = read_artifact(spark, path, "vectors").select("vid")
    fresh = spark.sql(
        f"SELECT {id_col} AS vid, {vec_col} AS {vec_col}, "
        f"{_VSPARK.norm(vec_col)} AS nrm FROM {view}"
    ).join(seen, "vid", "left_anti").localCheckpoint(eager=False)
    fview = _next_view()
    fresh.createOrReplaceTempView(fview)
    spark.sql(
        _lsh_keys_select(
            _VSPARK, vec_col, fview, p["num_planes"], p["num_tables"],
            p["seed"], p["dim"],
        )
    ).repartition("bkey").write.mode("append").parquet(f"{path}/buckets")
    fresh.write.mode("append").parquet(f"{path}/vectors")


def _lsh_screen_tail(
    vd: VectorDialect, new_table: str, id_col: str, vec_col: str,
    *, threshold: float,
) -> str:
    """cand→scored→hits→final SELECT shared VERBATIM by the inline
    (oracle) and persisted (serve) forms of the vector near-dup screen —
    the ``_fuzzy_screen_tail`` discipline transplanted to embedding
    space.  Expects CTEs ``allv``(did, {vec_col}, nrm) and
    ``akeys``(did, bkey), dids carrying the ``'c:'``/``'n:'`` side tag;
    within-batch pairs compare RAW ids via the ``nids`` mapping CTE
    (min-id-wins, order-free).  A new vector is accepted when NO
    candidate reaches the cosine threshold; an exact re-crawl copy
    shares every table's bucket with its original, so it is a
    guaranteed candidate — recall 1.0 on exact twins by construction."""
    dot = vd.dot(f"a.{vec_col}", f"b.{vec_col}")
    cos = f"({dot} / greatest(a.nrm * b.nrm, 1e-300))"
    cast = "STRING" if vd.name == "spark" else "VARCHAR"
    return f"""
    nids AS (
      SELECT concat('n:', CAST({id_col} AS {cast})) AS did, {id_col} AS rid
      FROM {new_table}
    ),
    cand AS (
      SELECT y.did AS ndid, x.did AS odid
      FROM akeys x JOIN akeys y ON x.bkey = y.bkey
      LEFT JOIN nids xv ON xv.did = x.did
      LEFT JOIN nids yv ON yv.did = y.did
      WHERE y.did LIKE 'n:%'
        AND (x.did LIKE 'c:%'
             OR (x.did LIKE 'n:%' AND xv.rid < yv.rid))
      GROUP BY y.did, x.did
    ),
    scored AS (
      SELECT cand.ndid, {cos} AS csim
      FROM cand
      JOIN allv a ON a.did = cand.odid
      JOIN allv b ON b.did = cand.ndid
    ),
    hits AS (
      SELECT ndid, MAX(csim) AS max_cosine
      FROM scored WHERE csim >= {threshold!r} GROUP BY ndid
    )
    SELECT nt.{id_col} AS {id_col},
           COALESCE(h.max_cosine, 0.0) AS max_cosine,
           h.ndid IS NULL AS accepted
    FROM {new_table} nt
    LEFT JOIN hits h ON h.ndid = concat('n:', CAST(nt.{id_col} AS {cast}))
    """


def lsh_screen_sql(
    vd: VectorDialect,
    corpus_table: str,
    new_table: str,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.9,
    num_planes: int = 4,
    num_tables: int = 8,
    seed: int = 42,
    dim: int = DEFAULT_DIM,
) -> str:
    """Inline (one-statement) embedding near-dup SCREEN: which of
    ``new_table``'s vectors are cosine-≥-threshold twins of
    ``corpus_table`` (or of a smaller-id batch sibling)?  The
    fuzzy-dedup incremental screen transplanted to vectors — candidates
    only via multi-table LSH bucket equi-joins, never all-pairs; this
    form is the ORACLE for the persisted serve twin
    (:func:`screen_new_vectors_lsh`) and for the streaming ingest
    chain."""
    cast = "STRING" if vd.name == "spark" else "VARCHAR"
    tagged = f"""
    allv0 AS (
      SELECT concat('c:', CAST({id_col} AS {cast})) AS vid,
             {vec_col} AS {vec_col}, {vd.norm(vec_col)} AS nrm
      FROM {corpus_table}
      UNION ALL
      SELECT concat('n:', CAST({id_col} AS {cast})) AS vid,
             {vec_col} AS {vec_col}, {vd.norm(vec_col)} AS nrm
      FROM {new_table}
    )"""
    keys = _lsh_keys_select(vd, vec_col, "allv0", num_planes, num_tables, seed, dim)
    tail = _lsh_screen_tail(vd, new_table, id_col, vec_col, threshold=threshold)
    return f"""
    WITH {tagged},
    akeys AS (SELECT vid AS did, bkey FROM ({keys})),
    allv AS (SELECT vid AS did, {vec_col}, nrm FROM allv0),
    {tail}
    """


def screen_new_vectors_lsh(
    spark, path: str, new_df: DataFrame, *, threshold: float = 0.9
) -> DataFrame:
    """Incremental vector screen against a persisted LSH index: the
    batch is signed inline (|batch| bucket computations with the stored
    params); candidates come from the batch-keys × STORED-buckets
    equi-join plus smaller-id within-batch pairs; cosine verifies
    against the stored vectors.  The corpus is never re-signed — the
    100 TB ingest posture (the ``screen_new_docs_fuzzy`` twin in
    embedding space).  Output ≡ :func:`lsh_screen_sql` (persisted ≡
    inline, driver-proven): ({id_col}, max_cosine, accepted)."""
    spark = new_df.sparkSession  # foreachBatch clone safety
    p = read_params(spark, path)
    id_col, vec_col = p["id_col"], p["vec_col"]
    require_columns(new_df, (id_col, vec_col))
    nview = _next_view()
    new_df.createOrReplaceTempView(nview)
    sv, sb = _next_view(), _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(sv)
    read_artifact(spark, path, "buckets").createOrReplaceTempView(sb)
    ntagged = (
        f"(SELECT concat('n:', CAST({id_col} AS STRING)) AS vid, "
        f"{vec_col} AS {vec_col}, {_VSPARK.norm(vec_col)} AS nrm FROM {nview})"
    )
    nkeys = _lsh_keys_select(
        _VSPARK, vec_col, "ntag", p["num_planes"], p["num_tables"],
        p["seed"], p["dim"],
    )
    tail = _lsh_screen_tail(_VSPARK, nview, id_col, vec_col, threshold=threshold)
    # The batch arrives in O(1) scan partitions (one small file), and every
    # join here is a broadcast — so without an exchange the 32-fold bucket
    # signing, the bucket self-join fan-out AND the candidate cosine folds
    # all inherit that width and run near-single-threaded.  Round-robin the
    # tagged batch BELOW the key computation; row order never matters
    # (every downstream op is a join/agg).  Width is sized by BATCH ROWS
    # (≥32 rows per partition, capped at the session's cores): a ~110-row
    # ingest batch at full defaultParallelism width spread 3-4 rows per
    # task across ~24 screen stages — pure scheduling overhead (r14
    # measured the streaming ingest's screen epochs dominated by it);
    # at corpus-scale batches rows/32 ≥ cores and the width is
    # unchanged.  The count is one metadata-cheap job over the small
    # batch relation, paid before the screen statement.
    n_rows = new_df.count()
    n_parts = max(
        1,
        min(spark.sparkContext.defaultParallelism, (n_rows + 31) // 32),
    )
    return spark.sql(f"""
    WITH ntag AS (SELECT /*+ REPARTITION({n_parts}) */ * FROM {ntagged} _nt),
    akeys AS (
      SELECT vid AS did, bkey FROM ({nkeys})
      UNION ALL
      SELECT concat('c:', CAST(vid AS STRING)) AS did, bkey FROM {sb}
    ),
    allv AS (
      SELECT vid AS did, {vec_col}, nrm FROM ntag
      UNION ALL
      SELECT concat('c:', CAST(vid AS STRING)) AS did, {vec_col}, nrm FROM {sv}
    ),
    {tail}
    """)


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    num_centroids: int = 16,
) -> None:
    """Materialize the IVF structures :func:`ann_ivf_topk` recomputes per
    query: ``{path}/centroids`` (cid, vector) via the deterministic
    hash-ordered sample (distributed top-K, no single-partition sort) and
    ``{path}/assigned`` (vid, vector, cid) — every vector's nearest
    centroid, the n×K cosine pass paid ONCE. ``assigned`` is written
    repartitioned by cid, so each query's probe join reads
    bucket-clustered files (~nprobe/K of the data at cluster scale with
    partition pruning on a metastore table)."""
    require_columns(df, (id_col, vec_col))
    spark = df.sparkSession
    view = _next_view()
    df.createOrReplaceTempView(view)
    cos_vc = _VSPARK.cosine(f"v.{vec_col}", f"c.{vec_col}")
    begin_build(spark, path)
    spark.sql(f"""
      SELECT {id_col} AS cid, {vec_col} FROM {view}
      ORDER BY md5(CAST({id_col} AS STRING)), {id_col}
      LIMIT {num_centroids}
    """).write.mode("overwrite").parquet(f"{path}/centroids")
    cview = _next_view()
    read_artifact(spark, path, "centroids").createOrReplaceTempView(cview)
    assigned = spark.sql(f"""
      SELECT vid, {vec_col}, cid FROM (
        SELECT v.{id_col} AS vid, v.{vec_col} AS {vec_col}, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.{id_col}
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM {view} v CROSS JOIN {cview} c
      ) WHERE crank = 1
    """)
    assigned.repartition("cid").write.mode("overwrite").parquet(f"{path}/assigned")
    commit_build(spark, path, dict(id_col=id_col, vec_col=vec_col, num_centroids=num_centroids))


def query_ivf_index(
    spark, path: str, *, query_pred: str, k: int = 5, nprobe: int = 2
) -> DataFrame:
    """Top-k against a persisted IVF index. ``query_pred`` sees the
    assigned-vector columns (vid, <vec_col>, cid). The query pays |Q|×K
    probe cosines plus the candidate join against its nprobe lists; the
    build-time n×K assignment and the centroid sample are read, not
    recomputed (the executed plan has no TakeOrderedAndProject for the
    sample and no n×K assignment window — asserted in tests)."""
    p = read_params(spark, path)
    aview, cview = _next_view(), _next_view()
    read_artifact(spark, path, "assigned").createOrReplaceTempView(aview)
    read_artifact(spark, path, "centroids").createOrReplaceTempView(cview)
    vec_col = p["vec_col"]
    cos_vc = _VSPARK.cosine(f"v.{vec_col}", f"c.{vec_col}")
    cos_qc = _VSPARK.cosine(f"q.{vec_col}", f"cand.{vec_col}")
    return spark.sql(f"""
    WITH probes AS (
      SELECT vid AS query_id, cid FROM (
        SELECT v.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM {aview} v CROSS JOIN {cview} c
        WHERE {query_pred}
      ) WHERE crank <= {nprobe}
    ),
    scored AS (
      SELECT p.query_id, cand.vid AS neighbor_id, {cos_qc} AS cosine_sim
      FROM probes p
      JOIN {aview} cand ON cand.cid = p.cid AND cand.vid <> p.query_id
      JOIN {aview} q ON q.vid = p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """)


def append_ivf_index(spark, path: str, df: DataFrame) -> None:
    """Fold an increment into a persisted IVF index under FROZEN
    centroids — the standard production IVF posture (FAISS
    ``IndexIVF.add``): each new vector is assigned to its nearest
    STORED centroid (row-local given the centroid table, which is
    broadcast-sized), appended cid-clustered.

    Contract — weaker than LSH's and stated honestly: append ≡ rebuild
    *with the centroid set pinned*.  A full ``build_ivf_index`` over
    the grown corpus would re-draw the md5-ordered centroid sample, so
    append ≡ fresh-rebuild does NOT hold for IVF by construction;
    recall drifts as the corpus distribution moves and periodic
    retraining is the documented answer (SCALE.md, ANN persisted-index
    row).  ``tests/test_ann_index.py`` pins the pinned-centroid
    equivalence: query(build(base) + append(inc)) ≡ query(index whose
    assigned table was produced in one pass over base ∪ inc against
    the SAME centroids).

    Idempotent via the same vid anti-join as :func:`append_lsh_index`.
    """
    p = read_params(spark, path)
    id_col, vec_col = p["id_col"], p["vec_col"]
    require_columns(df, (id_col, vec_col))
    spark = df.sparkSession  # foreachBatch clone safety
    view = _next_view()
    df.createOrReplaceTempView(view)
    cview = _next_view()
    read_artifact(spark, path, "centroids").createOrReplaceTempView(cview)
    seen = read_artifact(spark, path, "assigned").select("vid")
    cos_vc = _VSPARK.cosine(f"v.{vec_col}", f"c.{vec_col}")
    assigned = spark.sql(f"""
      SELECT vid, {vec_col}, cid FROM (
        SELECT v.{id_col} AS vid, v.{vec_col} AS {vec_col}, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.{id_col}
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM {view} v CROSS JOIN {cview} c
      ) WHERE crank = 1
    """).join(seen, "vid", "left_anti")
    assigned.repartition("cid").write.mode("append").parquet(f"{path}/assigned")


def build_refined_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    num_centroids: int = 64,
    multi_assign: int = 3,
    lloyd_iters: int = 3,
) -> None:
    """Train-once / serve-many for the RECALL-GRADE IVF tier — the
    amortization the inline :func:`ann_ivf_refined_topk` cannot give
    (its Lloyd iterations retrain on every query, the dominant cost of
    the three heaviest bench entries).  Three artifacts:

    * ``{path}/vectors``   — (vid, emb DOUBLE[], nv): the cast-to-double
      vectors with their once-computed norms (the lloyd_ctes ``lv``
      discipline, persisted);
    * ``{path}/centroids`` — (cid, cent, nc): the Lloyd-refined
      centroids, trained HERE with the identical exact-decimal CTE chain
      the inline query unrolls — K rows, broadcast-sized forever after;
    * ``{path}/assigned``  — (vid, cid): every vector indexed under its
      ``multi_assign`` nearest cells, written repartitioned by cid so a
      query's probe join reads cell-clustered files (at cluster scale: a
      cid-partitioned metastore table + partition pruning).

    Training cost (the n×K Lloyd passes) is paid exactly once; a query
    then pays |Q|×K probe rankings + the cid equi-join.  Because every
    stored value (emb doubles, norms, centroid means) comes from the
    same bit-exact expressions the inline form evaluates, serve results
    are IDENTICAL to inline — the equivalence the registered query's
    oracle pins every round.
    """
    require_columns(df, (id_col, vec_col))
    spark = df.sparkSession
    view = _next_view()
    df.createOrReplaceTempView(view)
    vd = _VSPARK
    begin_build(spark, path)
    spark.sql(f"""
      SELECT vid, emb, {vd.norm("emb")} AS nv FROM (
        SELECT {id_col} AS vid, transform({vec_col}, x -> CAST(x AS DOUBLE)) AS emb
        FROM {view}
      )
    """).write.mode("overwrite").parquet(f"{path}/vectors")
    vview = _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    ctes, cfinal = lloyd_ctes(
        vd, vec_col=vec_col, num_centroids=num_centroids, iters=lloyd_iters
    )
    spark.sql(f"""
      WITH v AS (SELECT vid, emb FROM {vview}),
      {ctes}
      SELECT cid, cent, nc FROM {cfinal}
    """).write.mode("overwrite").parquet(f"{path}/centroids")
    cview = _next_view()
    read_artifact(spark, path, "centroids").createOrReplaceTempView(cview)
    cos_vc = f"({vd.dot('x.emb', 'c.cent')} / greatest(x.nv * c.nc, 1e-300))"
    assigned = spark.sql(f"""
      SELECT vid, cid FROM (
        SELECT x.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM {vview} x CROSS JOIN {cview} c
      ) WHERE crank <= {multi_assign}
    """)
    assigned.repartition("cid").write.mode("overwrite").parquet(f"{path}/assigned")
    commit_build(spark, path, dict(
        id_col=id_col, vec_col=vec_col, num_centroids=num_centroids,
        multi_assign=multi_assign, lloyd_iters=lloyd_iters,
    ))


def query_refined_ivf_index(
    spark, path: str, *, query_pred: str, k: int = 5, nprobe: int = 16
) -> DataFrame:
    """Top-k against a persisted refined-IVF index.  ``query_pred`` sees
    the stored vector columns (vid, emb, nv).  The executed plan contains
    NO Lloyd chain — centroids are a K-row parquet read — so the query
    pays |Q|×K probe cosines + the cid equi-join + the exact re-rank,
    nothing else (asserted in tests).  Values are identical to the
    inline form: same factored cosine over the same persisted norms."""
    vview, cview, aview = _next_view(), _next_view(), _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    read_artifact(spark, path, "centroids").createOrReplaceTempView(cview)
    read_artifact(spark, path, "assigned").createOrReplaceTempView(aview)
    vd = _VSPARK
    cos_vc = f"({vd.dot('x.emb', 'c.cent')} / greatest(x.nv * c.nc, 1e-300))"
    cos_qc = f"({vd.dot('q.emb', 'c.emb')} / greatest(q.nv * c.nv, 1e-300))"
    return spark.sql(f"""
    WITH probes AS (
      SELECT vid AS query_id, cid FROM (
        SELECT x.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM (SELECT * FROM {vview} WHERE {query_pred}) x
        CROSS JOIN {cview} c
      ) WHERE crank <= {nprobe}
    ),
    cand AS (
      SELECT DISTINCT p.query_id, a.vid AS neighbor_id
      FROM probes p JOIN {aview} a ON a.cid = p.cid AND a.vid <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos_qc} AS cosine_sim
      FROM cand
      JOIN {vview} q ON q.vid = cand.query_id
      JOIN {vview} c ON c.vid = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """)


def semantic_dedup_from_index(
    spark, path: str, id_col: str, *, threshold: float
) -> DataFrame:
    """Serve SemDeDup from a persisted refined-IVF index (built by
    :func:`build_refined_ivf_index` with the dedup's blocking params):
    the Lloyd training and the n×K multi-assignment — the dominant cost
    of the inline :func:`semantic_dedup` — are read, not recomputed.
    The pair screen is the same cid equi-join + exact-cosine threshold
    + smallest-partner keep rule over the SAME persisted cells and
    norms, so serve ≡ inline to the bit (the registered query's oracle
    is the inline SQL).  Returns ({id_col}, kept BOOLEAN, dup_of)."""
    vview, aview = _next_view(), _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    read_artifact(spark, path, "assigned").createOrReplaceTempView(aview)
    vd = _VSPARK
    cos_ab = f"({vd.dot('a.emb', 'b.emb')} / greatest(a.nv * b.nv, 1e-300))"
    return spark.sql(f"""
    WITH cand AS (
      SELECT DISTINCT x.vid AS vid_a, y.vid AS vid_b
      FROM {aview} x JOIN {aview} y ON x.cid = y.cid AND x.vid < y.vid
    ),
    pairs AS (
      SELECT cand.vid_a, cand.vid_b
      FROM cand
      JOIN {vview} a ON a.vid = cand.vid_a
      JOIN {vview} b ON b.vid = cand.vid_b
      WHERE {cos_ab} >= {threshold}
    ),
    drops AS (
      SELECT vid_b AS vid, MIN(vid_a) AS dup_of FROM pairs GROUP BY vid_b
    )
    SELECT v.vid AS {id_col}, drops.vid IS NULL AS kept, drops.dup_of
    FROM {vview} v LEFT JOIN drops ON drops.vid = v.vid
    """)


def matryoshka_knn_topk_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    prefix_dim: int = 32,
    rerank: int = 100,
) -> str:
    """Staged (matryoshka-style) retrieval: a COARSE cosine pass over
    only the first ``prefix_dim`` dimensions shortlists ``rerank``
    candidates per query, then exact full-width cosine re-ranks the
    shortlist — the adaptive-retrieval cost lever of
    Matryoshka-representation embeddings (Kusupati et al. 2022,
    arXiv:2205.13147), where models are trained so prefixes carry most
    of the signal.

    Cost: the n-scan pass does prefix_dim/dim of the arithmetic (and at
    a column store, reads that fraction of the vector bytes when the
    prefix is materialized as its own column); full vectors are touched
    only for |Q|·rerank pairs.  On the isotropic testdata (prefixes
    carry no preferential information — the un-trained worst case)
    prefix 32/64 with rerank=100/500 still measures recall@5 0.95,
    gated in tests/test_ann_index.py; MRL-trained embeddings reach it
    at far shorter prefixes.  Both passes are bit-exact sequential-fold
    cosines; ranks total-ordered with id tiebreaks.
    """
    pre = vd.slice("emb", 1, prefix_dim)
    cos_coarse = f"({vd.dot('q.pemb', 'c.pemb')} / greatest(q.pn * c.pn, 1e-300))"
    cos_full = f"({vd.dot('q.emb', 'c.emb')} / greatest(q.nv * c.nv, 1e-300))"
    if vd.name == "spark":
        to_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    else:
        to_double = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH v AS (
      SELECT {id_col} AS vid, emb, {pre} AS pemb,
             {vd.norm("emb")} AS nv, {vd.norm(pre)} AS pn
      FROM (SELECT {id_col}, {to_double} AS emb FROM {table})
    ),
    qv AS (
      SELECT * FROM v WHERE {query_pred}
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vid AS query_id, c.vid AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vid
                                  ORDER BY {cos_coarse} DESC, c.vid) AS crank
        FROM qv q JOIN v c ON q.vid <> c.vid
      ) WHERE crank <= {rerank}
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM (
        SELECT sl.query_id, sl.neighbor_id, {cos_full} AS cosine_sim
        FROM shortlist sl
        JOIN v q ON q.vid = sl.query_id
        JOIN v c ON c.vid = sl.neighbor_id
      )
    ) WHERE rank <= {k}
    """


def matryoshka_knn_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    prefix_dim: int = 32,
    rerank: int = 100,
) -> DataFrame:
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = _next_view()
    sql = matryoshka_knn_topk_sql(
        _VSPARK, view, id_col, vec_col, query_pred=query_pred, k=k,
        prefix_dim=prefix_dim, rerank=rerank,
    )
    return _run(df, sql, view)


def hard_negatives_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    positive_pairs: str,
    k: int = 5,
) -> str:
    """Hard-negative mining for retrieval/embedding training: for each
    query, the top-``k`` most similar items that are NOT its labeled
    positives (and not itself) — the highest-loss negatives a contrastive
    trainer wants.  ``positive_pairs`` is a relation (query_id,
    positive_id); exclusion is a broadcast LEFT ANTI join on the scored
    candidates, so mislabeled "near positives" can never leak into the
    negative set.  Same deterministic cosine + tie-break discipline as
    knn_cosine_topk — the mined set is reproducible to the hash digit.
    """
    dot = vd.dot(f"q.{vec_col}", f"c.{vec_col}")
    cos = f"({dot} / greatest(q.nrm * c.nrm, 1e-300))"
    return f"""
    WITH v AS (
      SELECT {id_col}, {vec_col}, {vd.norm(vec_col)} AS nrm FROM {table}
    ),
    pos AS ({positive_pairs}),
    scored AS (
      SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
             {cos} AS cosine_sim
      FROM (SELECT * FROM v WHERE {query_pred}) q
      JOIN v c ON q.{id_col} <> c.{id_col}
    ),
    nonpos AS (
      SELECT s.query_id, s.neighbor_id, s.cosine_sim
      FROM scored s
      LEFT JOIN pos p
        ON p.query_id = s.query_id AND p.positive_id = s.neighbor_id
      WHERE p.positive_id IS NULL
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM nonpos
    ) WHERE rank <= {k}
    """


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    positive_pairs_sql: str,
    k: int = 5,
) -> DataFrame:
    """BRUTE-FORCE hard-negative mining — the recall oracle, not the
    production path: ``JOIN v c ON q.id <> c.id`` plans a |Q|×n
    nested-loop, and the operator's real use case (mine negatives for
    EVERY training example) makes |Q| ≈ n — quadratic.  Production
    mining goes through :func:`hard_negatives_ann` (ANN shortlist +
    the same exclusion + exact re-rank); this form exists to measure
    its overlap (tests/test_ann_index.py), exactly the
    knn_cosine_topk / ann_* relationship."""
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = _next_view()
    sql = hard_negatives_sql(
        _VSPARK, view, id_col, vec_col, query_pred=query_pred,
        positive_pairs=positive_pairs_sql, k=k,
    )
    return _run(df, sql, view)


def _ct_tail(tau: float, n_neg: int) -> str:
    """Positive/negative split + triplet assembly over a ``ctsc``
    relation (query_id, neighbor_id, cosine_sim) — shared VERBATIM by
    the exact (oracle) and ANN-shortlist forms, the persisted≡inline
    discipline.  One ranked pass tags each candidate's side (cos ≥ τ →
    positive band), a second unordered window broadcasts the rank-1
    positive onto the anchor's rows (window-over-frame, no self-join,
    no staging), and anchors with no positive drop out — a triplet
    needs all three legs."""
    return f"""
    _ctr AS (
      SELECT query_id, neighbor_id, cosine_sim,
             (cosine_sim >= {tau!r}) AS is_pos,
             ROW_NUMBER() OVER (PARTITION BY query_id, (cosine_sim >= {tau!r})
                                ORDER BY cosine_sim DESC, neighbor_id) AS rnk
      FROM ctsc
    ),
    _ctp AS (
      SELECT query_id, neighbor_id, cosine_sim, is_pos, rnk,
             MAX(CASE WHEN is_pos AND rnk = 1 THEN neighbor_id END)
               OVER (PARTITION BY query_id) AS pos_id,
             MAX(CASE WHEN is_pos AND rnk = 1 THEN cosine_sim END)
               OVER (PARTITION BY query_id) AS pos_sim
      FROM _ctr
    )
    SELECT query_id AS anchor_id, pos_id AS positive_id, pos_sim,
           neighbor_id AS negative_id, cosine_sim AS neg_sim,
           (pos_sim - cosine_sim) AS margin,
           CAST(rnk AS BIGINT) AS neg_rank
    FROM _ctp
    WHERE NOT is_pos AND rnk <= {int(n_neg)} AND pos_id IS NOT NULL
    """


def contrastive_triplets_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    pos_threshold: float = 0.9,
    n_neg: int = 3,
) -> str:
    """Contrastive TRIPLET mining for embedding training — the
    label-free composition of the similarity tier into the artifact a
    contrastive trainer actually consumes: per anchor (``query_pred``),
    the single best NATURAL POSITIVE (most similar item with cosine ≥
    ``pos_threshold`` — the near-dup band; deterministic rank-1
    tie-break) paired with the ``n_neg`` HARDEST NEGATIVES (most
    similar items BELOW the band — highest-loss, the hard_negatives
    posture without needing labeled positives) and the training margin
    pos_sim − neg_sim per triplet.  Anchors with no positive in the
    band emit nothing — a triplet needs all three legs, and silence
    beats a fabricated positive.

    This exact form scores anchor × corpus (the knn_cosine_topk brute
    relation) — the ORACLE; production mining rides the multiprobe-LSH
    shortlist (:func:`contrastive_triplets_ann_sql`), same tail text.
    """
    dot = vd.dot(f"q.{vec_col}", f"c.{vec_col}")
    cos = f"({dot} / greatest(q.nrm * c.nrm, 1e-300))"
    return f"""
    WITH v AS (
      SELECT {id_col}, {vec_col}, {vd.norm(vec_col)} AS nrm FROM {table}
    ),
    ctsc AS (
      SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
             {cos} AS cosine_sim
      FROM (SELECT * FROM v WHERE {query_pred}) q
      JOIN v c ON q.{id_col} <> c.{id_col}
    ),
    {_ct_tail(pos_threshold, n_neg).strip()}
    """


def contrastive_triplets_ann_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    pos_threshold: float = 0.9,
    n_neg: int = 3,
    shortlist: int = 32,
    num_planes: int = 4,
    num_tables: int = 8,
    seed: int = 42,
    dim: int = DEFAULT_DIM,
) -> str:
    """Production form of :func:`contrastive_triplets_sql`: candidates
    come from the multiprobe-LSH top-``shortlist`` (bucket equi-joins,
    never anchor × corpus), then the SAME triplet tail runs on the
    shortlist.  Linear-ish at 100 TB like hard_negatives_ann; recall vs
    the exact form is gated in tests/test_ann_index.py rather than
    assumed (a shortlist can miss a positive → that anchor drops)."""
    inner = ann_lsh_topk_sql(
        vd, table, id_col, vec_col, query_pred=query_pred, k=shortlist,
        num_planes=num_planes, num_tables=num_tables, seed=seed, dim=dim,
        multiprobe=True,
    )
    return f"""
    WITH ctsc AS (
      SELECT query_id, neighbor_id, cosine_sim FROM ({inner}) _ctsl
    ),
    {_ct_tail(pos_threshold, n_neg).strip()}
    """


def contrastive_triplets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    pos_threshold: float = 0.9,
    n_neg: int = 3,
) -> DataFrame:
    """DataFrame front door for the exact form (the recall oracle)."""
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = _next_view()
    sql = contrastive_triplets_sql(
        _VSPARK, view, id_col, vec_col, query_pred=query_pred,
        pos_threshold=pos_threshold, n_neg=n_neg,
    )
    return _run(df, sql, view)


def contrastive_triplets_persisted(
    spark,
    path: str,
    *,
    query_pred: str,
    pos_threshold: float = 0.9,
    n_neg: int = 3,
    shortlist: int = 32,
) -> DataFrame:
    """Contrastive triplet mining SERVED from a persisted LSH index —
    the build-once posture the inline ANN form re-signs per run: the
    shortlist comes from :func:`query_lsh_index` (only the |anchors|
    probes are hashed; candidates equi-join the stored bucket table),
    then the SAME triplet tail text assembles positives, negatives,
    and margins.  Serve cost is independent of corpus size beyond the
    bucket scan — the nightly-mining posture of an embedding-training
    pipeline.  Output ≡ :func:`contrastive_triplets_ann_sql` with the
    same (planes, tables, seed, dim, shortlist) — persisted ≡ inline,
    driver-proven through the registered query's inline oracle."""
    sl = query_lsh_index(spark, path, query_pred=query_pred, k=shortlist,
                         multiprobe=True)
    view = _next_view()
    sl.createOrReplaceTempView(view)
    return spark.sql(f"""
    WITH ctsc AS (
      SELECT query_id, neighbor_id, cosine_sim FROM {view}
    ),
    {_ct_tail(pos_threshold, n_neg).strip()}
    """)


def hard_negatives_ann_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    positive_pairs: str,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 12,
    seed: int = 42,
    dim: int = DEFAULT_DIM,
) -> str:
    """ANN-backed hard-negative mining — the PRODUCTION path for
    mine-negatives-for-every-training-example workloads where the brute
    form's |Q|×n nested-loop (:func:`hard_negatives_sql`) is quadratic.

    Composition: the multiprobe-LSH candidate chain
    (:func:`_multiprobe_cand_ctes` — the 0.925-recall shortlist, a pure
    (table, bucket) string-key equi-join, never all-pairs) generates
    candidates; labeled positives are excluded by the same LEFT ANTI
    pattern as the brute form; survivors are re-ranked by EXACT cosine.
    Candidate volume per query is the bucket-collision set
    (~n·(num_tables·(1+num_planes))/2^num_planes), not n — the
    equi-join is the shuffle key at 100 TB.  Measured negative-set
    overlap vs the brute-mined truth is gated in
    tests/test_ann_index.py.

    ``positive_pairs`` is a relation (query_id, positive_id);
    ``query_pred`` sees (vid, {vec_col}, emb, nrm).  Deterministic to
    the hash digit: same hyperplanes-as-data buckets, same sequential-
    fold cosines, id tie-breaks.
    """
    dot_q = vd.dot(f"q.{vec_col}", f"c.{vec_col}")
    cos = f"({dot_q} / greatest(q.nrm * c.nrm, 1e-300))"
    ctes = _multiprobe_cand_ctes(
        vd, table, id_col, vec_col, query_pred=query_pred,
        num_planes=num_planes, num_tables=num_tables, seed=seed, dim=dim,
    )
    return f"""
    WITH {ctes},
    pos AS ({positive_pairs}),
    nonpos AS (
      SELECT s.query_id, s.neighbor_id
      FROM cand s
      LEFT JOIN pos p
        ON p.query_id = s.query_id AND p.positive_id = s.neighbor_id
      WHERE p.positive_id IS NULL
    ),
    scored AS (
      SELECT np.query_id, np.neighbor_id, {cos} AS cosine_sim
      FROM nonpos np
      JOIN v q ON q.vid = np.query_id
      JOIN v c ON c.vid = np.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def hard_negatives_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    positive_pairs_sql: str,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    if dim is None:
        from pyspark.sql import functions as F

        row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
        dim = len(row[0]) if row else DEFAULT_DIM
    view = _next_view()
    sql = hard_negatives_ann_sql(
        _VSPARK, view, id_col, vec_col, query_pred=query_pred,
        positive_pairs=positive_pairs_sql, k=k,
        num_planes=num_planes, num_tables=num_tables, seed=seed, dim=dim,
    )
    return _run(df, sql, view)


def embedding_centroid_drift_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    *,
    round_to: int = 6,
) -> str:
    """Embedding-space drift monitor per label: centroid cosine shift
    and L2 displacement between two deterministic halves of the corpus
    (``id % 2`` — the reference/current split an embedding pipeline
    re-runs after a re-embed or encoder upgrade).  The vector
    counterpart of quality.distribution_drift: scalar columns get TV/χ²
    bins, embedding columns get centroid geometry.

    Numerics: per-(label, side, dim) sums are exact decimals (the
    Lloyd mean discipline — parallel partial aggregation cannot
    reassociate them); each centroid coordinate is one dec→double cast
    + one IEEE division; the dim-indexed products quantize to decimal
    before their 64-term sums (exact, order-independent); SQRT is
    IEEE-correctly-rounded on both engines (unlike ln — it is the one
    transcendental-looking op the determinism rules allow); final
    ratios round_double.  Shape: posexplode → ONE (label, side, dim)
    shuffle with partial agg; everything after runs on the
    |labels|×2×dims centroid relation.  Labels missing a side drop out
    of the join (nothing to compare); zero-norm centroids yield NULL
    cosine (undefined, not invented).
    """
    from ._num import dec_to_double, round_double

    base = (
        f"(SELECT {label_col} AS lab, ({id_col} % 2) AS side, "
        f"{vec_col} AS emb FROM {table})"
    )
    ed = _explode_dims(vd, f"{base} _ebase", "lab, side")
    mean = _mean_expr()
    q12 = lambda e: f"CAST({round_double(e, 12)} AS DECIMAL(28,12))"  # noqa: E731
    dsum_dot = dec_to_double("SUM(dotp)")
    dsum_nr2 = dec_to_double("SUM(nr2)")
    dsum_nc2 = dec_to_double("SUM(nc2)")
    cos_raw = round_double(
        f"({dsum_dot} / SQRT({dsum_nr2} * {dsum_nc2}))", round_to
    )
    cos = (
        f"CASE WHEN {dsum_nr2} = 0.0 OR {dsum_nc2} = 0.0 "
        f"THEN CAST(NULL AS DOUBLE) ELSE {cos_raw} END"
    )
    l2 = round_double(f"SQRT({dec_to_double('SUM(d2)')})", round_to)
    return f"""
    WITH _ed AS ({ed}),
    _em AS (
      SELECT lab, side, j,
             CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DECIMAL(27,9)) AS s,
             COUNT(*) AS n
      FROM _ed GROUP BY lab, side, j
    ),
    _ec AS (SELECT lab, side, j, {mean} AS m, n FROM _em),
    _ej AS (
      SELECT a.lab AS lab, a.n AS n_ref, b.n AS n_cur,
             {q12('(a.m * b.m)')} AS dotp,
             {q12('(a.m * a.m)')} AS nr2,
             {q12('(b.m * b.m)')} AS nc2,
             {q12('((a.m - b.m) * (a.m - b.m))')} AS d2
      FROM (SELECT * FROM _ec WHERE side = 0) a
      JOIN (SELECT * FROM _ec WHERE side = 1) b
        ON a.lab = b.lab AND a.j = b.j
    )
    SELECT lab AS {label_col}, CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           {cos} AS cosine_shift,
           {l2} AS l2_shift
    FROM _ej GROUP BY lab, n_ref, n_cur
    """


def embedding_centroid_drift(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """DataFrame front door for :func:`embedding_centroid_drift_sql`."""
    for c in (id_col, vec_col, label_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = _next_view()
    return _run(
        df,
        embedding_centroid_drift_sql(
            _VSPARK, view, id_col, vec_col, label_col, round_to=round_to
        ),
        view,
    )


def ann_recall_report_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    truth_pred: str,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
    seed: int = 42,
    dim: int = DEFAULT_DIM,
    multiprobe: bool = True,
) -> str:
    """Retrieval evaluation AS A QUERY: per-query recall@k and MRR of
    the (multiprobe) LSH tier against the brute-force truth — the
    numbers tests/test_ann_index.py gates, computed by the engine
    itself so a production index can be audited in-pipeline (run it on
    a hash-sample of queries, alert when recall drifts — the
    quality-monitor pattern applied to the ANN tier).

    Rational by construction (nDCG's log2 discount is banned; these
    two are the standard transcendental-free IR metrics): recall@k =
    |approx ∩ truth| / |truth(q)|, MRR = 1 / (approx rank of the
    first truth-relevant hit) — each ONE IEEE division of exact
    integers, cross-engine hash-stable.  The denominator is the
    PER-QUERY truth count, not the constant k: the brute-force arm
    can legitimately return < k rows (corpus smaller than k, fewer
    eligible neighbors), and dividing by k there would understate
    recall and cap it below 1.0 for exactly the queries where the
    index did perfectly.  Shape: the two inline forms compose, the
    overlap join rides (query_id, neighbor_id), and the report
    relation is |Q| rows.
    """
    # the two inline forms expose different query-side column names
    # (knn keeps {id_col}; LSH aliases it vid) — hence two pred params
    truth = knn_topk_sql(vd, table, id_col, vec_col,
                         query_pred=truth_pred, k=k)
    approx = ann_lsh_topk_sql(
        vd, table, id_col, vec_col, query_pred=query_pred, k=k,
        num_planes=num_planes, num_tables=num_tables, seed=seed, dim=dim,
        multiprobe=multiprobe,
    )
    return f"""
    WITH _art AS ({truth}),
    _ara AS ({approx}),
    _arh AS (
      SELECT t.query_id AS query_id, a.rank AS arank
      FROM _art t LEFT JOIN _ara a
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    ),
    _arq AS (
      SELECT query_id,
             CAST(SUM(CASE WHEN arank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit,
             COUNT(*) AS n_truth,
             MIN(arank) AS first_rel_rank
      FROM _arh GROUP BY query_id
    )
    SELECT query_id, n_hit,
           (CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)) AS recall_at_k,
           CASE WHEN first_rel_rank IS NULL THEN 0.0
                ELSE (1.0 / CAST(first_rel_rank AS DOUBLE)) END AS mrr
    FROM _arq
    """


def _centroid_base(table: str, id_col: str, vec_col: str, label_col: str) -> str:
    """Shared train/eval split relation — even ids train, odd ids
    evaluate (the md5-free deterministic split: parity of the id)."""
    return (
        f"(SELECT {label_col} AS lab, ({id_col} % 2) AS side, "
        f"{id_col} AS vid, {vec_col} AS emb FROM {table})"
    )


def centroid_train_sql(
    vd: VectorDialect, table: str, id_col: str, vec_col: str, label_col: str
) -> str:
    """Per-label centroid TRAINING as a standalone statement →
    (lab, j, m) rows: exact decimal per-dim sums (order-independent)
    divided once — the Lloyd mean discipline.  ONE (label, dim)
    shuffle over the train-side explode.  The staged Spark path
    localCheckpoints this relation so the eval tail's two references
    (norms + the dot join) don't re-plan the train scan (Catalyst
    inlines per reference — the engine-wide staging rule)."""
    base = _centroid_base(table, id_col, vec_col, label_col)
    tr = _explode_dims(vd, f"(SELECT lab, emb FROM {base} _cb WHERE side = 0) _ct",
                       "lab")
    return f"""
    WITH _cct AS ({tr}),
    _ccm AS (
      SELECT lab, j,
             CAST(SUM(CAST(val AS DECIMAL(18,9))) AS DECIMAL(27,9)) AS s,
             COUNT(*) AS n
      FROM _cct GROUP BY lab, j
    )
    SELECT lab, j, {_mean_expr()} AS m FROM _ccm
    """


def centroid_predict_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    cent_table: str,
) -> str:
    """Prediction tail over a centroid relation ``cent_table``
    ((lab, j, m) — the inline ``_ccc`` CTE or a staged view): every
    odd-id embedding assigns to its highest-scoring centroid →
    (vid, actual, pred) rows.  The staged Spark path localCheckpoints
    THIS relation too — the report's confusion matrix references its
    input 3× (class roll-up UNION + the per-class sum), and unstaged
    each reference re-inlines the eval join + argmax window."""
    from ._num import dec_to_double, round_double

    base = _centroid_base(table, id_col, vec_col, label_col)
    ev = _explode_dims(vd, f"(SELECT vid, lab AS actual, emb FROM {base} _cb "
                           f"WHERE side = 1) _ce", "vid, actual")
    q12 = lambda e: f"CAST({round_double(e, 12)} AS DECIMAL(28,12))"  # noqa: E731
    score = f"({dec_to_double('dotd')} / SQRT({dec_to_double('nc2d')}))"
    return f"""
    WITH _ccn AS (
      SELECT lab, CAST(SUM({q12('(m * m)')}) AS DECIMAL(38,12)) AS nc2
      FROM {cent_table} GROUP BY lab
    ),
    _cce AS ({ev}),
    _ccd AS (
      SELECT e.vid AS vid, e.actual AS actual, c.lab AS lab,
             CAST(SUM({q12('(e.val * c.m)')}) AS DECIMAL(38,12)) AS dotd,
             CAST(MAX(n.nc2) AS DECIMAL(38,12)) AS nc2d
      FROM _cce e
      JOIN {cent_table} c ON c.j = e.j
      JOIN _ccn n ON n.lab = c.lab
      GROUP BY e.vid, e.actual, c.lab
    ),
    _ccs AS (
      SELECT vid, actual, lab, {score} AS score
      FROM _ccd
    )
    SELECT vid, actual, lab AS pred FROM (
      SELECT vid, actual, lab,
             ROW_NUMBER() OVER (PARTITION BY vid
                                ORDER BY score DESC, lab) AS rn
      FROM _ccs
    ) _ccr WHERE rn = 1
    """


def centroid_eval_report_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    cent_table: str,
    *,
    round_to: int = 6,
) -> str:
    """Eval + report tail over a centroid relation ``cent_table``:
    :func:`centroid_predict_sql` composed with the multi-class
    precision/recall/F1 report (experiment.classification_report_sql)
    over (pred, actual)."""
    from .experiment import classification_report_sql

    predict = centroid_predict_sql(
        vd, table, id_col, vec_col, label_col, cent_table
    )
    # classification_report_sql only branches on d.name, which the
    # vector dialect carries too — safe to pass through
    report = classification_report_sql(
        vd, "_ccp", "pred", "actual", round_to=round_to,
    ).strip().removeprefix("WITH ")
    return f"""
    WITH _ccp AS ({predict}),
    {report}
    """


def centroid_classifier_report_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    label_col: str,
    *,
    round_to: int = 6,
) -> str:
    """Nearest-centroid classification, trained AND evaluated in-engine:
    per-label centroids from the even-id half (exact decimal per-dim
    means — the Lloyd discipline), every odd-id embedding assigned to
    its highest-scoring centroid, and the multi-class
    precision/recall/F1 report (experiment.classification_report_sql)
    over (pred, actual) — the complete train → serve → evaluate loop of
    the simplest embedding classifier (Rocchio / nearest class mean) as
    ONE declarative statement.  Composes :func:`centroid_train_sql` +
    :func:`centroid_eval_report_sql` so the inline form IS structurally
    the staged form (shared expression text, the persisted-index
    discipline).

    Scoring: per (eval-id, label), score = Σ_j q12(val_j · m_j) /
    SQRT(Σ_j q12(m_j²)) — cosine without the per-id norm, which is
    constant within each argmax group (fewer IEEE ops, same winner);
    products quantize to decimal before their dim sums
    (order-independent), ties break to the smaller label.  Shape: ONE
    (label, dim) centroid shuffle over the train explode; the eval
    explode joins centroids on the dim key — (eval rows × labels × dim)
    partial-aggregated products, the brute-kNN cost profile with
    |labels| in place of n; the report runs on the ≤|labels|² matrix.
    """
    train = centroid_train_sql(vd, table, id_col, vec_col, label_col)
    tail = centroid_eval_report_sql(
        vd, table, id_col, vec_col, label_col, "_ccc", round_to=round_to
    ).strip().removeprefix("WITH ")
    return f"""
    WITH _ccc AS ({train}),
    {tail}
    """
