"""Product quantization (PQ) — compressed-embedding ANN for corpus scale.

Jégou et al. 2011 ("Product Quantization for Nearest Neighbor Search",
TPAMI) re-expressed in the engine's oracle-exact SQL discipline: split
each vector into ``m`` subvectors, k-means each subspace independently
(codebook of ``k_codes`` centroids per subspace), store each vector as
``m`` small codes, and answer queries by Asymmetric Distance Computation
(ADC): the query precomputes one (subspace, code) → squared-distance
table, and a stored vector's approximate distance is the SUM of m table
lookups — no access to the original floats.

Why it matters at 100 TB: a 64-d float32 embedding is 256 bytes; its
m=16 PQ code is 16 bytes — a 16× storage/scan/shuffle reduction for the
candidate-generation pass.  The ADC scoring join touches only the code
table + a broadcast distance table; full vectors are read ONLY for the
exact re-rank of the top-C candidates.

Determinism (the same machinery as operators/similarity.lloyd_ctes):
subspace k-means uses hash-sampled seeds and per-dimension EXACT-decimal
means (order-independent, bit-identical floats on both engines);
distances are sequential-fold squared-L2 (vector_fns.sqdist — bit-exact
cross-engine); the m-term ADC sum is decimal-quantized so parallel
aggregation cannot reassociate it; every rank is total-ordered with id
tiebreaks.  The whole train→encode→search pipeline therefore passes the
DuckDB value-hash oracle.

Honest quality note: on the isotropic-Gaussian testdata (incompressible
by construction) raw ADC top-5 recall is ~0.2 — PQ codes alone cannot
rank a worst-case corpus.  With exact re-rank of the ADC top-C (C=20%
here) recall@5 is 0.925+ (gated in tests/test_ann_index.py); on real
clustered embeddings the same pipeline needs a far smaller C.

All Lloyd subspaces train in ONE chain: the subspace id ``s`` is a
GROUP KEY (one (vid, s, svec) exploded frame), not m separate queries —
so the plan size is constant in m, the lesson of the multiprobe-LSH
planes-as-data rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..errors import ColumnNotFoundError, require_columns
from ..functions.vector_fns import VectorDialect
from ._num import dec_to_double
from .artifacts import begin_build, commit_build, read_artifact, read_params

_VSPARK = VectorDialect("spark")
_VIEW_SEQ = [0]


def _next_view() -> str:
    _VIEW_SEQ[0] += 1
    return f"_ts_pq_in_{_VIEW_SEQ[0]}"


def _check_pq_dim(df: DataFrame, vec_col: str, m: int, sub_dim: int) -> None:
    """Enforce the docstring's MUST: ``m * sub_dim`` == the actual vector
    width.  On a mismatch Spark's slice/zip_with pads the shorter side
    with NULL, distances go NULL, and the ranking silently degrades to
    cid tiebreaks instead of erroring — the exact 'silently corrupting'
    failure the LSH wrapper's dim probe guards against.  One first() over
    the non-null vectors, same cost as ann_lsh_topk's probe."""
    from pyspark.sql import functions as F

    row = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    if row is None:
        return  # empty/all-NULL input: nothing to corrupt
    dim = len(row[0])
    if m * sub_dim != dim:
        raise ValueError(
            f"PQ decomposition m={m} x sub_dim={sub_dim} = {m * sub_dim} "
            f"does not cover the {dim}-d vectors in {vec_col!r}"
        )


def _adc_rd(expr: str) -> str:
    """Round the DERIVED squared-distance double in pure double arithmetic
    BEFORE the decimal quantize of the ADC sum (the _num.py tie rule:
    Spark HALF_UP vs DuckDB HALF_EVEN diverge on representable .5e-7
    ties, and derived doubles can land on them)."""
    from .similarity import _round_then_quantize

    return _round_then_quantize(expr)


def _rebuild(vd: VectorDialect) -> str:
    if vd.name == "spark":
        return "transform(array_sort(collect_list(struct(j, mj))), s -> s.mj)"
    return "list(mj ORDER BY j)"


def _explode_svec_dims(vd: VectorDialect, src: str) -> str:
    """(s, cid, j, val) rows from an assignment CTE with (s, cid, svec)."""
    if vd.name == "spark":
        return (
            f"SELECT s, cid, pos + 1 AS j, val FROM {src} "
            f"LATERAL VIEW posexplode(svec) t AS pos, val"
        )
    return (
        "SELECT s, cid, j, svec[j] AS val FROM "
        f"(SELECT s, cid, svec, unnest(range(1, len(svec) + 1)) AS j FROM {src})"
    )


def _staged_sub_cte(
    vd: VectorDialect, m: int, sub_dim: int, dist_partitions: int | None
) -> str:
    """The ``sub`` relation for a staged-codebook tail, optionally
    hash-distributed over the encode window's (vid, s) key (spark
    dialect only; front doors pass ``defaultParallelism``): the encode
    ranking's rows are compute-dense (a sub_dim-wide distance per
    (subvector, codeword) pair), so AQE's byte-based coalescing would
    run it 1-2 wide off the single-file scan.  Value-identical — row
    distribution only."""
    if dist_partitions and vd.name == "spark":
        return (
            f"SELECT /*+ REPARTITION({dist_partitions}, vid, s) */ * "
            f"FROM ({_subspace_cte(vd, m, sub_dim)})"
        )
    return _subspace_cte(vd, m, sub_dim)


def _subspace_cte(vd: VectorDialect, m: int, sub_dim: int) -> str:
    """(vid, s, svec) — every vector exploded into its m subvectors; the
    subspace id is a group key so ALL codebooks train in one chain."""
    if vd.name == "spark":
        return (
            f"SELECT vid, s, slice(emb, s * {sub_dim} + 1, {sub_dim}) AS svec "
            f"FROM v LATERAL VIEW explode(sequence(0, {m - 1})) t AS s"
        )
    return (
        f"SELECT vid, s, list_slice(emb, s * {sub_dim} + 1, s * {sub_dim} + {sub_dim}) AS svec "
        f"FROM (SELECT vid, emb, unnest(range(0, {m})) AS s FROM v)"
    )


def pq_lloyd_ctes(
    vd: VectorDialect,
    *,
    m: int,
    sub_dim: int,
    k_codes: int,
    iters: int,
) -> tuple[str, str]:
    """CTE chain training all m subspace codebooks at once.

    Expects a CTE ``v`` (vid, emb DOUBLE[]) in scope; returns
    (ctes_sql, final_codebook_cte) where the codebook has columns
    (s, cid, cent).  Same exact-decimal update rule as
    similarity.lloyd_ctes, with (a) squared-L2 instead of cosine (PQ's
    metric) and (b) the subspace id in every group key.
    """
    ctes = [
        f"sub AS ({_subspace_cte(vd, m, sub_dim)})",
        f"""pc0 AS ({_pq_seed_select(vd, "sub", k_codes)})""",
    ]
    prev = "pc0"
    for i in range(1, iters + 1):
        ctes += _pq_iter_ctes(vd, i, prev=prev, sub="sub", sub_dim=sub_dim)
        prev = f"pc{i}"
    return ",\n    ".join(ctes), prev


def _pq_seed_select(vd: VectorDialect, sub: str, k_codes: int) -> str:
    """Per-subspace hash-sampled seed codebook from the ``sub`` relation."""
    return f"""
      SELECT s, cid, cent FROM (
        SELECT s, vid AS cid, svec AS cent,
               ROW_NUMBER() OVER (PARTITION BY s
                                  ORDER BY md5(CAST(vid AS STRING)), vid) AS rk
        FROM {sub}
      ) WHERE rk <= {k_codes}
    """


def _pq_iter_ctes(
    vd: VectorDialect, i: int, *, prev: str, sub: str, sub_dim: int
) -> list[str]:
    """The three CTEs of ONE subspace-Lloyd step (assign pa{i} / mean
    pm{i} / carry pc{i}).  Shared by the unrolled chain (the oracle
    text) and the per-iteration staged trainer (:func:`_stage_pq`) so
    staged ≡ inline stays bit-exact — see similarity._lloyd_iter_ctes."""
    sq = vd.sqdist_fixed("x.svec", "c.cent", sub_dim)
    return [
        f"""pa{i} AS (
      SELECT vid, s, svec, cid FROM (
        SELECT x.vid, x.s, x.svec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid, x.s
                                  ORDER BY {sq} ASC, c.cid) AS crank
        FROM {sub} x JOIN {prev} c ON c.s = x.s
      ) WHERE crank = 1
    )""",
        f"""pm{i} AS (
      SELECT s, cid, {_rebuild(vd)} AS cent FROM (
        SELECT s, cid, j, {_pq_mean_expr()} AS mj FROM (
          SELECT s, cid, j, SUM(CAST({_pq_rd_val()} AS DECIMAL(27,6))) AS sm, COUNT(*) AS n
          FROM ({_explode_svec_dims(vd, f"pa{i}")}) GROUP BY s, cid, j
        )
      ) GROUP BY s, cid
    )""",
        f"""pc{i} AS ({_pq_carry_select(i, prev)})""",
    ]


def _pq_mean_expr() -> str:
    return f"({dec_to_double('sm')} / n)"


def _pq_rd_val() -> str:
    from .similarity import _round_then_quantize

    return _round_then_quantize("val")


def _pq_carry_select(i: int, prev: str) -> str:
    """The carry SELECT of step ``i`` (the pc{i} CTE body) — rendered
    separately so :func:`_stage_pq` can run it as the step statement's
    final projection."""
    return f"""
      SELECT p.s, p.cid, COALESCE(mm.cent, p.cent) AS cent
      FROM {prev} p LEFT JOIN pm{i} mm ON mm.s = p.s AND mm.cid = p.cid
    """


def pq_train_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    m: int,
    sub_dim: int,
    k_codes: int,
    lloyd_iters: int,
) -> str:
    """One-statement PQ codebook TRAINING — the unrolled subspace-Lloyd
    chain alone, ending in the (s, cid, cent) relation.  Run once by the
    Spark front doors and localCheckpoint'ed so the encode/search tail's
    references read a staged frame instead of re-inlining (and
    re-executing) the whole chain per reference — see
    similarity.lloyd_train_sql for the measured plan blow-up."""
    if vd.name == "spark":
        to_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    else:
        to_double = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    ctes, cfin = pq_lloyd_ctes(
        vd, m=m, sub_dim=sub_dim, k_codes=k_codes, iters=lloyd_iters
    )
    return f"""
    WITH v AS (
      SELECT {id_col} AS vid, {to_double} AS emb FROM {table}
    ),
    {ctes}
    SELECT s, cid, cent FROM {cfin}
    """


def _stage_pq(df: DataFrame, view: str, id_col: str, vec_col: str,
              *, m: int, sub_dim: int, k_codes: int,
              lloyd_iters: int) -> str:
    """Train the PQ codebook ONCE over ``view`` and return a temp view
    over the lazily-checkpointed (s, cid, cent) relation.

    Trains ITERATION BY ITERATION like similarity._stage_lloyd: the
    one-statement chain's pc{i} references pc{i-1} twice (assign +
    carry), so CTE inlining re-executes the (n·m)×k_codes assign pass
    2^(iters-i) times (measured 0.98 s at iters=1 vs 4.14 s at iters=3
    over the same corpus — 7 passes, not 3).  ``sub`` (the subspace
    explode) is checkpointed so the n→n·m explode is paid once; each
    trained pc{i} (m·k_codes rows) is broadcast-pinned over a lazy
    checkpoint (see ``_pin`` below for the r15 negative results).
    Step CTEs are shared with the unrolled oracle text
    (:func:`_pq_iter_ctes`) so staged ≡ inline stays bit-exact."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    if _VSPARK.name == "spark":
        to_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    else:
        to_double = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    # Hash-repartition by the assign window's key BEFORE checkpointing
    # (partitioning survives localCheckpoint) so each (n·m)×k_codes
    # ranking sort runs at full width — see similarity._stage_lloyd.
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    sub = spark.sql(f"""
      WITH v AS (
        SELECT {id_col} AS vid, {to_double} AS emb FROM {view}
      )
      {_subspace_cte(_VSPARK, m, sub_dim)}""").repartition(
        n_parts, "vid", "s").localCheckpoint(eager=False)
    subv = _next_view()
    sub.createOrReplaceTempView(subv)

    def _pin(frame):
        # m * k_codes rows; broadcast-pin over a lazy checkpoint
        # (checkpointed frames carry no size stats, so joins would
        # demote to shuffles).  See similarity._stage_lloyd._pin for
        # the r15 collect-to-LocalRelation negative result.
        v = _next_view()
        F.broadcast(frame.localCheckpoint(eager=False)).createOrReplaceTempView(v)
        return v

    # (r15 negative result: fusing the seed into step 1's statement —
    # pc0 referenced twice per statement, even via a cheap TakeOrdered
    # rewrite — measured ~25% SLOWER end to end than the separate
    # pinned seed statement; see similarity._stage_lloyd.)
    prev = _pin(spark.sql(_pq_seed_select(_VSPARK, subv, k_codes)))
    for i in range(1, lloyd_iters + 1):
        pa, pm, _pc = _pq_iter_ctes(_VSPARK, i, prev=prev, sub=subv,
                                    sub_dim=sub_dim)
        prev = _pin(spark.sql(
            f"WITH {pa},\n    {pm}\n    {_pq_carry_select(i, prev)}"
        ))
    return prev


def pq_adc_topk_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    m: int = 16,
    sub_dim: int = 4,
    k_codes: int = 16,
    lloyd_iters: int = 3,
    rerank: int = 100,
    staged_codebook: str | None = None,
    dist_partitions: int | None = None,
) -> str:
    """Train → encode → ADC search → exact re-rank, one statement.

    ``m * sub_dim`` MUST equal the embedding width.  Plan shape: the
    codes table (vid, s, cid) is the only big frame; the query's
    distance table (|Q|·m·k_codes rows) broadcasts into an (s, cid)
    equi-join, the m-term sums collapse per (query, vid) with exact
    decimal addition, the ADC top-``rerank`` cut is a per-query window,
    and only those candidates touch full vectors again.  Output:
    (query_id, neighbor_id, l2_sq, rank) — exact distances, PQ-pruned.

    The Spark dialect pins that broadcast with a hint, so the query set
    must stay small: its |Q|·m·k_codes rows are collected and shipped
    whole to every task, so they must fit ``spark.sql.maxBroadcastTableSize``.  Scoring the whole
    corpus against itself is out of scope.
    """
    sq_dt = vd.sqdist_fixed("qs.svec", "c.cent", sub_dim)
    sq_exact = vd.sqdist("q.emb", "cand.emb")
    if staged_codebook:
        ctes, cfin = (
            f"sub AS ({_staged_sub_cte(vd, m, sub_dim, dist_partitions)})",
            staged_codebook,
        )
    else:
        ctes, cfin = pq_lloyd_ctes(
            vd, m=m, sub_dim=sub_dim, k_codes=k_codes, iters=lloyd_iters
        )
    if vd.name == "spark":
        to_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    else:
        to_double = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    # dt derives from the checkpointed codebook, which carries no size
    # stats, so without the pin the (s, cid) join plans as a
    # SortMergeJoin that shuffles the n·m code rows
    dt_hint = "/*+ BROADCAST(dt) */ " if vd.name == "spark" else ""
    return f"""
    WITH v AS (
      SELECT {id_col} AS vid, {to_double} AS emb FROM {table}
    ),
    {ctes},
    codes AS (
      SELECT vid, s, cid FROM (
        SELECT x.vid, x.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid, x.s
                                  ORDER BY {vd.sqdist_fixed("x.svec", "c.cent", sub_dim)} ASC, c.cid) AS crank
        FROM sub x JOIN {cfin} c ON c.s = x.s
      ) WHERE crank = 1
    ),
    qv AS (
      SELECT vid FROM v WHERE {query_pred}
    ),
    dt AS (
      SELECT qs.vid AS qvid, qs.s, c.cid, {sq_dt} AS dist
      FROM sub qs JOIN qv ON qv.vid = qs.vid
      JOIN {cfin} c ON c.s = qs.s
    ),
    adc AS (
      SELECT {dt_hint}dt.qvid AS query_id, codes.vid AS neighbor_id,
             SUM(CAST({_adc_rd("dt.dist")} AS DECIMAL(27,6))) AS approx
      FROM codes JOIN dt ON dt.s = codes.s AND dt.cid = codes.cid
      WHERE codes.vid <> dt.qvid
      GROUP BY dt.qvid, codes.vid
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY approx ASC, neighbor_id) AS arank
        FROM adc
      ) WHERE arank <= {rerank}
    )
    SELECT query_id, neighbor_id, l2_sq, rank FROM (
      SELECT query_id, neighbor_id, l2_sq,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY l2_sq ASC, neighbor_id) AS rank
      FROM (
        SELECT sl.query_id, sl.neighbor_id, {sq_exact} AS l2_sq
        FROM shortlist sl
        JOIN v q ON q.vid = sl.query_id
        JOIN v cand ON cand.vid = sl.neighbor_id
      )
    ) WHERE rank <= {k}
    """


def ivfpq_topk_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 8,
    cell_lloyd_iters: int = 2,
    m: int = 16,
    sub_dim: int = 4,
    k_codes: int = 16,
    lloyd_iters: int = 3,
    rerank: int = 50,
    staged_cells: str | None = None,
    staged_codebook: str | None = None,
    dist_partitions: int | None = None,
) -> str:
    """IVF-PQ — the composed billion-scale ANN layout (Jégou et al.
    2011 §V; the FAISS ``IVFx,PQy`` default): a Lloyd-refined COARSE
    quantizer prunes the corpus to ``nprobe``/``num_cells`` of its
    cells, and ONLY those cells' 16-byte PQ codes are ADC-scored —
    the two index structures this module and operators/similarity
    already train, composed so their costs MULTIPLY down:

    * candidate volume ≈ n·nprobe/num_cells (the IVF cut), and
    * each candidate costs m table lookups over its m-byte code (the
      PQ cut) — floats are touched only by the exact re-rank.

    At 100 TB this is the only inline-expressible layout whose scan
    cost per query is (n/num_cells)·nprobe·m BYTES: cells partition
    the codes table (the shuffle/pruning key), the distance table is a
    |Q|·m·k_codes broadcast, and the ADC collapse is the usual
    exact-decimal sum.  Training (coarse Lloyd + all-m-subspace PQ
    chain) is oracle-bit-exact like both parents.  Residual encoding
    (PQ over x − centroid) is deliberately NOT used: it would retrain
    codebooks per cell (m·num_cells chains) for a recall gain the
    exact re-rank already buys at these shortlist sizes — documented
    trade, not an omission.

    Recall accounting on the isotropic worst-case testdata: probing
    nprobe/num_cells of the cells bounds recall at the IVF mass
    covered; the registered query probes 50% and the measured
    recall@5 vs exact L2 is gated in tests/test_ann_index.py.
    Clustered real embeddings reach the same recall at far smaller
    probe fractions — the honest-cost doctrine of the whole ANN tier.
    """
    from .similarity import _lv_only_cte, lloyd_ctes

    sq_dt = vd.sqdist_fixed("qs.svec", "c.cent", sub_dim)
    sq_exact = vd.sqdist("q.emb", "cand.emb")
    cos_vc = f"({vd.dot('x.emb', 'c.cent')} / greatest(x.nv * c.nc, 1e-300))"
    if staged_cells:
        coarse_ctes, coarse_final = _lv_only_cte(vd, dist_partitions), staged_cells
    else:
        coarse_ctes, coarse_final = lloyd_ctes(
            vd, vec_col=vec_col, num_centroids=num_cells, iters=cell_lloyd_iters
        )
    if staged_codebook:
        pq_ctes, pq_final = (
            f"sub AS ({_staged_sub_cte(vd, m, sub_dim, dist_partitions)})",
            staged_codebook,
        )
    else:
        pq_ctes, pq_final = pq_lloyd_ctes(
            vd, m=m, sub_dim=sub_dim, k_codes=k_codes, iters=lloyd_iters
        )
    if vd.name == "spark":
        to_double = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    else:
        to_double = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH v AS (
      SELECT {id_col} AS vid, {to_double} AS emb FROM {table}
    ),
    {coarse_ctes},
    {pq_ctes},
    assigned AS (
      SELECT vid, cid FROM (
        SELECT x.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM lv x CROSS JOIN {coarse_final} c
      ) WHERE crank = 1
    ),
    codes AS (
      SELECT vid, s, cid FROM (
        SELECT x.vid, x.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid, x.s
                                  ORDER BY {vd.sqdist_fixed("x.svec", "c.cent", sub_dim)} ASC, c.cid) AS crank
        FROM sub x JOIN {pq_final} c ON c.s = x.s
      ) WHERE crank = 1
    ),
    probes AS (
      SELECT vid AS query_id, cid FROM (
        SELECT x.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM (SELECT * FROM lv WHERE {query_pred}) x
        CROSS JOIN {coarse_final} c
      ) WHERE crank <= {nprobe}
    ),
    cand AS (
      SELECT p.query_id, a.vid
      FROM probes p JOIN assigned a ON a.cid = p.cid AND a.vid <> p.query_id
    ),
    dt AS (
      SELECT qs.vid AS qvid, qs.s, c.cid, {sq_dt} AS dist
      FROM sub qs
      JOIN (SELECT DISTINCT query_id FROM probes) q ON q.query_id = qs.vid
      JOIN {pq_final} c ON c.s = qs.s
    ),
    adc AS (
      SELECT cand.query_id, cand.vid AS neighbor_id,
             SUM(CAST({_adc_rd("dt.dist")} AS DECIMAL(27,6))) AS approx
      FROM cand
      JOIN codes ON codes.vid = cand.vid
      JOIN dt ON dt.qvid = cand.query_id AND dt.s = codes.s AND dt.cid = codes.cid
      GROUP BY cand.query_id, cand.vid
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY approx ASC, neighbor_id) AS arank
        FROM adc
      ) WHERE arank <= {rerank}
    )
    SELECT query_id, neighbor_id, l2_sq, rank FROM (
      SELECT query_id, neighbor_id, l2_sq,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY l2_sq ASC, neighbor_id) AS rank
      FROM (
        SELECT sl.query_id, sl.neighbor_id, {sq_exact} AS l2_sq
        FROM shortlist sl
        JOIN v q ON q.vid = sl.query_id
        JOIN v cand ON cand.vid = sl.neighbor_id
      )
    ) WHERE rank <= {k}
    """


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 8,
    cell_lloyd_iters: int = 2,
    m: int = 16,
    sub_dim: int = 4,
    k_codes: int = 16,
    lloyd_iters: int = 3,
    rerank: int = 50,
) -> DataFrame:
    from .similarity import _stage_lloyd

    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    _check_pq_dim(df, vec_col, m, sub_dim)
    view = _next_view()
    df.createOrReplaceTempView(view)
    cells_v = _stage_lloyd(df, view, id_col, vec_col,
                           num_centroids=num_cells, iters=cell_lloyd_iters)
    cb_v = _stage_pq(df, view, id_col, vec_col, m=m, sub_dim=sub_dim,
                     k_codes=k_codes, lloyd_iters=lloyd_iters)
    sql = ivfpq_topk_sql(
        _VSPARK, view, id_col, vec_col, query_pred=query_pred, k=k,
        num_cells=num_cells, nprobe=nprobe, cell_lloyd_iters=cell_lloyd_iters,
        m=m, sub_dim=sub_dim, k_codes=k_codes, lloyd_iters=lloyd_iters,
        rerank=rerank, staged_cells=cells_v, staged_codebook=cb_v,
        dist_partitions=df.sparkSession.sparkContext.defaultParallelism,
    )
    return df.sparkSession.sql(sql)


def build_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    num_cells: int = 16,
    cell_lloyd_iters: int = 2,
    m: int = 16,
    sub_dim: int = 4,
    k_codes: int = 16,
    lloyd_iters: int = 3,
) -> None:
    """Train-once / serve-many for the composed IVF-PQ layout — BOTH
    quantizers (coarse cells + subspace codebooks) trained and applied
    at build time; a query touches only its probes, the probed cells'
    16-byte codes, and the exact-re-rank floats.  Artifacts:

    * ``{path}/vectors``   — (vid, emb DOUBLE[], nv);
    * ``{path}/centroids`` — (cid, cent, nc): Lloyd-refined coarse cells;
    * ``{path}/assigned``  — (vid, cid): nearest-cell assignment,
      repartitioned by cid (the pruning/partitioning key — at cluster
      scale, a cid-partitioned metastore table: a query READS
      nprobe/num_cells of the code bytes);
    * ``{path}/codebook``  — (s, cid, cent): all m subspace codebooks;
    * ``{path}/codes``     — (vid, s, cid): the m-byte codes,
      repartitioned by (s, cid);
    * ``{path}/params``    — written LAST (build-complete marker).

    Stored values come from the identical exact-decimal chains the
    inline :func:`ivfpq_topk_sql` evaluates → serve ≡ inline to the
    bit (the registered query's oracle is the inline statement)."""
    from .similarity import lloyd_ctes

    require_columns(df, (id_col, vec_col))
    _check_pq_dim(df, vec_col, m, sub_dim)
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
    coarse_ctes, coarse_final = lloyd_ctes(
        vd, vec_col=vec_col, num_centroids=num_cells, iters=cell_lloyd_iters
    )
    spark.sql(f"""
      WITH v AS (SELECT vid, emb FROM {vview}),
      {coarse_ctes}
      SELECT cid, cent, nc FROM {coarse_final}
    """).write.mode("overwrite").parquet(f"{path}/centroids")
    cview = _next_view()
    read_artifact(spark, path, "centroids").createOrReplaceTempView(cview)
    cos_vc = f"({vd.dot('x.emb', 'c.cent')} / greatest(x.nv * c.nc, 1e-300))"
    spark.sql(f"""
      SELECT vid, cid FROM (
        SELECT x.vid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid
                                  ORDER BY {cos_vc} DESC, c.cid) AS crank
        FROM {vview} x CROSS JOIN {cview} c
      ) WHERE crank = 1
    """).repartition("cid").write.mode("overwrite").parquet(f"{path}/assigned")
    pq_ctes, pq_final = pq_lloyd_ctes(
        vd, m=m, sub_dim=sub_dim, k_codes=k_codes, iters=lloyd_iters
    )
    spark.sql(f"""
      WITH v AS (SELECT vid, emb FROM {vview}),
      {pq_ctes}
      SELECT s, cid, cent FROM {pq_final}
    """).write.mode("overwrite").parquet(f"{path}/codebook")
    cbview = _next_view()
    read_artifact(spark, path, "codebook").createOrReplaceTempView(cbview)
    spark.sql(f"""
      WITH v AS (SELECT vid, emb FROM {vview}),
      sub AS ({_subspace_cte(vd, m, sub_dim)})
      SELECT vid, s, cid FROM (
        SELECT x.vid, x.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid, x.s
                                  ORDER BY {vd.sqdist_fixed("x.svec", "c.cent", sub_dim)} ASC, c.cid) AS crank
        FROM sub x JOIN {cbview} c ON c.s = x.s
      ) WHERE crank = 1
    """).repartition("s", "cid").write.mode("overwrite").parquet(f"{path}/codes")
    commit_build(spark, path, dict(
        id_col=id_col, vec_col=vec_col, num_cells=num_cells, cell_lloyd_iters=cell_lloyd_iters,
        m=m, sub_dim=sub_dim, k_codes=k_codes, lloyd_iters=lloyd_iters,
    ))


def query_ivfpq_index(
    spark, path: str, *, query_pred: str, k: int = 5, nprobe: int = 8, rerank: int = 50
) -> DataFrame:
    """Top-k against a persisted IVF-PQ index.  ``query_pred`` sees the
    stored vector columns (vid, emb, nv).  Query cost: |Q|×K probe
    rankings vs the stored centroids, the cid equi-join selecting the
    probed cells' code rows, the (s, cid) distance-table join, the
    exact-decimal ADC collapse, and the exact re-rank — NO training,
    NO data-side encode anywhere in the plan (asserted in tests)."""
    p = read_params(spark, path)
    m, sub_dim = p["m"], p["sub_dim"]
    vview, cview, aview, cbview, coview = (
        _next_view(), _next_view(), _next_view(), _next_view(), _next_view()
    )
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    read_artifact(spark, path, "centroids").createOrReplaceTempView(cview)
    read_artifact(spark, path, "assigned").createOrReplaceTempView(aview)
    read_artifact(spark, path, "codebook").createOrReplaceTempView(cbview)
    read_artifact(spark, path, "codes").createOrReplaceTempView(coview)
    vd = _VSPARK
    cos_vc = f"({vd.dot('x.emb', 'c.cent')} / greatest(x.nv * c.nc, 1e-300))"
    sq_dt = vd.sqdist_fixed("qs.svec", "c.cent", sub_dim)
    sq_exact = vd.sqdist("q.emb", "cand.emb")
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
      SELECT p.query_id, a.vid
      FROM probes p JOIN {aview} a ON a.cid = p.cid AND a.vid <> p.query_id
    ),
    qv AS (
      SELECT DISTINCT v.vid, v.emb FROM {vview} v
      JOIN (SELECT DISTINCT query_id FROM probes) q ON q.query_id = v.vid
    ),
    v AS (SELECT vid, emb FROM qv),
    qsub AS ({_subspace_cte(vd, m, sub_dim)}),
    dt AS (
      SELECT qs.vid AS qvid, qs.s, c.cid, {sq_dt} AS dist
      FROM qsub qs JOIN {cbview} c ON c.s = qs.s
    ),
    adc AS (
      SELECT cand.query_id, cand.vid AS neighbor_id,
             SUM(CAST({_adc_rd("dt.dist")} AS DECIMAL(27,6))) AS approx
      FROM cand
      JOIN {coview} codes ON codes.vid = cand.vid
      JOIN dt ON dt.qvid = cand.query_id AND dt.s = codes.s AND dt.cid = codes.cid
      GROUP BY cand.query_id, cand.vid
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY approx ASC, neighbor_id) AS arank
        FROM adc
      ) WHERE arank <= {rerank}
    )
    SELECT query_id, neighbor_id, l2_sq, rank FROM (
      SELECT query_id, neighbor_id, l2_sq,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY l2_sq ASC, neighbor_id) AS rank
      FROM (
        SELECT sl.query_id, sl.neighbor_id, {sq_exact} AS l2_sq
        FROM shortlist sl
        JOIN {vview} q ON q.vid = sl.query_id
        JOIN {vview} cand ON cand.vid = sl.neighbor_id
      )
    ) WHERE rank <= {k}
    """)


def build_pq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    m: int = 16,
    sub_dim: int = 4,
    k_codes: int = 16,
    lloyd_iters: int = 3,
) -> None:
    """Train-once / serve-many PQ: the inline :func:`pq_adc_topk`
    retrains all m subspace codebooks AND re-encodes every vector on
    every query — at 100 TB (and in the bench) that cost must amortize.
    Artifacts:

    * ``{path}/vectors``  — (vid, emb DOUBLE[]): cast-once vectors for
      the query-side distance tables and the exact re-rank;
    * ``{path}/codebook`` — (s, cid, cent): all m codebooks from ONE
      Lloyd chain (subspace id is a group key — plan constant in m),
      m×k_codes rows, broadcast-sized forever;
    * ``{path}/codes``    — (vid, s, cid): each vector as m one-byte
      codes — the 16×-compressed frame the ADC candidate pass scans,
      written repartitioned by (s, cid) so the distance-table join
      reads code-clustered files;
    * ``{path}/params``   — written LAST (the build-complete marker).

    Stored values come from the identical exact-decimal expressions the
    inline statement evaluates, so serve ≡ inline bit-for-bit — the
    registered query's oracle is the inline SQL."""
    require_columns(df, (id_col, vec_col))
    _check_pq_dim(df, vec_col, m, sub_dim)
    spark = df.sparkSession
    view = _next_view()
    df.createOrReplaceTempView(view)
    vd = _VSPARK
    begin_build(spark, path)
    spark.sql(f"""
      SELECT {id_col} AS vid, transform({vec_col}, x -> CAST(x AS DOUBLE)) AS emb
      FROM {view}
    """).write.mode("overwrite").parquet(f"{path}/vectors")
    vview = _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    ctes, cfin = pq_lloyd_ctes(
        vd, m=m, sub_dim=sub_dim, k_codes=k_codes, iters=lloyd_iters
    )
    spark.sql(f"""
      WITH v AS (SELECT vid, emb FROM {vview}),
      {ctes}
      SELECT s, cid, cent FROM {cfin}
    """).write.mode("overwrite").parquet(f"{path}/codebook")
    cbview = _next_view()
    read_artifact(spark, path, "codebook").createOrReplaceTempView(cbview)
    codes = spark.sql(f"""
      WITH v AS (SELECT vid, emb FROM {vview}),
      sub AS ({_subspace_cte(vd, m, sub_dim)})
      SELECT vid, s, cid FROM (
        SELECT x.vid, x.s, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vid, x.s
                                  ORDER BY {vd.sqdist_fixed("x.svec", "c.cent", sub_dim)} ASC, c.cid) AS crank
        FROM sub x JOIN {cbview} c ON c.s = x.s
      ) WHERE crank = 1
    """)
    codes.repartition("s", "cid").write.mode("overwrite").parquet(f"{path}/codes")
    commit_build(spark, path, dict(id_col=id_col, vec_col=vec_col, m=m, sub_dim=sub_dim,
                                   k_codes=k_codes, lloyd_iters=lloyd_iters))


def query_pq_index(
    spark, path: str, *, query_pred: str, k: int = 5, rerank: int = 100
) -> DataFrame:
    """ADC top-k against a persisted PQ index.  ``query_pred`` sees the
    stored vector columns (vid, emb).  The query pays: |Q|×m×k_codes
    distance-table entries (subspace explode of the |Q| probes only),
    the (s, cid) equi-join against the compressed codes frame, the
    exact-decimal ADC collapse, and the exact re-rank of the top-C —
    no training, no data-side encode (asserted in tests)."""
    p = read_params(spark, path)
    m, sub_dim = p["m"], p["sub_dim"]
    vview, cbview, coview = _next_view(), _next_view(), _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    read_artifact(spark, path, "codebook").createOrReplaceTempView(cbview)
    read_artifact(spark, path, "codes").createOrReplaceTempView(coview)
    vd = _VSPARK
    sq_dt = vd.sqdist_fixed("qs.svec", "c.cent", sub_dim)
    sq_exact = vd.sqdist("q.emb", "cand.emb")
    return spark.sql(f"""
    WITH qv AS (
      SELECT vid, emb FROM {vview} WHERE {query_pred}
    ),
    v AS (SELECT vid, emb FROM qv),
    qsub AS ({_subspace_cte(vd, m, sub_dim)}),
    dt AS (
      SELECT qs.vid AS qvid, qs.s, c.cid, {sq_dt} AS dist
      FROM qsub qs JOIN {cbview} c ON c.s = qs.s
    ),
    adc AS (
      SELECT dt.qvid AS query_id, codes.vid AS neighbor_id,
             SUM(CAST({_adc_rd("dt.dist")} AS DECIMAL(27,6))) AS approx
      FROM {coview} codes JOIN dt ON dt.s = codes.s AND dt.cid = codes.cid
      WHERE codes.vid <> dt.qvid
      GROUP BY dt.qvid, codes.vid
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY approx ASC, neighbor_id) AS arank
        FROM adc
      ) WHERE arank <= {rerank}
    )
    SELECT query_id, neighbor_id, l2_sq, rank FROM (
      SELECT query_id, neighbor_id, l2_sq,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY l2_sq ASC, neighbor_id) AS rank
      FROM (
        SELECT sl.query_id, sl.neighbor_id, {sq_exact} AS l2_sq
        FROM shortlist sl
        JOIN {vview} q ON q.vid = sl.query_id
        JOIN {vview} cand ON cand.vid = sl.neighbor_id
      )
    ) WHERE rank <= {k}
    """)


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    m: int = 16,
    sub_dim: int = 4,
    k_codes: int = 16,
    lloyd_iters: int = 3,
    rerank: int = 100,
) -> DataFrame:
    """DataFrame form of :func:`pq_adc_topk_sql` with the codebook
    trained once and staged.  The distance table of the ``query_pred``
    rows is broadcast, so keep the query set small (see there)."""
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    _check_pq_dim(df, vec_col, m, sub_dim)
    view = _next_view()
    df.createOrReplaceTempView(view)
    cb_v = _stage_pq(df, view, id_col, vec_col, m=m, sub_dim=sub_dim,
                     k_codes=k_codes, lloyd_iters=lloyd_iters)
    sql = pq_adc_topk_sql(
        _VSPARK, view, id_col, vec_col, query_pred=query_pred, k=k,
        m=m, sub_dim=sub_dim, k_codes=k_codes,
        lloyd_iters=lloyd_iters, rerank=rerank, staged_codebook=cb_v,
        dist_partitions=df.sparkSession.sparkContext.defaultParallelism,
    )
    return df.sparkSession.sql(sql)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — per-dimension 8-bit codes
# ---------------------------------------------------------------------------

def _sq8_explode(vd: VectorDialect, src: str) -> str:
    """(vid, j, x): 1-based dimension explode of a (vid, emb) relation."""
    if vd.name == "spark":
        return (f"SELECT vid, pos + 1 AS j, x FROM {src} "
                f"LATERAL VIEW posexplode(emb) t AS pos, x")
    return (f"SELECT vid, j, emb[j] AS x FROM "
            f"(SELECT vid, emb, unnest(range(1, len(emb) + 1)) AS j FROM {src})")


def _sq8_rebuild(vd: VectorDialect, col: str) -> str:
    """Per-dim stats column → dimension-ordered array (one row)."""
    if vd.name == "spark":
        return f"transform(array_sort(collect_list(struct(j, {col}))), s -> s.{col})"
    return f"list({col} ORDER BY j)"


def _sq8_quant(vd: VectorDialect) -> str:
    """emb + (lo_a, rng_a) → array<int> of 8-bit codes: each dimension
    maps to floor(255·(x−lo)/rng + 0.5), clamped to [0, 255].  floor of
    a derived double is the one rounding both engines share bit-for-bit
    (no HALF_UP/HALF_EVEN divergence — the _num.py tie rule)."""
    if vd.name == "spark":
        return ("zip_with(zip_with(emb, lo_a, (x, y) -> x - y), rng_a, "
                "(x, y) -> CAST(least(greatest("
                "floor(CAST(255 AS DOUBLE) * x / y + CAST(0.5 AS DOUBLE))"
                ", 0), 255) AS INT))")
    return ("list_transform(range(1, len(emb) + 1), i -> "
            "CAST(least(greatest("
            "floor(255.0 * (emb[i] - lo_a[i]) / rng_a[i] + 0.5)"
            ", 0), 255) AS INT))")


def _sq8_dequant(vd: VectorDialect) -> str:
    """code + (lo_a, rng_a) → reconstructed double array:
    x̂ = (c·rng)/255 + lo, identical operation order on both engines."""
    if vd.name == "spark":
        return ("zip_with(zip_with(code, rng_a, "
                "(x, y) -> CAST(x AS DOUBLE) * y / CAST(255 AS DOUBLE)), "
                "lo_a, (x, y) -> x + y)")
    return ("list_transform(range(1, len(code) + 1), i -> "
            "CAST(code[i] AS DOUBLE) * rng_a[i] / 255.0 + lo_a[i])")


def _sq8_tail(vd: VectorDialect, *, query_pred: str, k: int,
              shortlist: int) -> str:
    """The serve-side text over three staged relations — ``_sqv`` (vid,
    emb, nrm: cast vectors + norms), ``_sqs`` (one row: lo_a, rng_a),
    ``_sqc`` (vid, code) — shared VERBATIM by the inline statement and
    the persisted-index serve, so persisted ≡ inline is structural:
    dequantize codes, approximate-cosine ALL corpus codes per query
    (sequential-fold dot — deterministic, never a reassociating SUM),
    keep the top ``shortlist`` per query, exact-rerank only those."""
    dq = _sq8_dequant(vd)
    ap_dot = vd.dot("q.emb", "c.demb")
    ex_dot = vd.dot("q2.emb", "c2.emb")
    return f"""
    _sqd AS (
      SELECT vid, demb, {vd.norm("demb")} AS dnrm FROM (
        SELECT vid, {dq} AS demb FROM _sqc CROSS JOIN _sqs
      ) _sq_dq
    ),
    _sqq AS (
      SELECT vid, emb, nrm FROM _sqv WHERE {query_pred}
    ),
    _sqa AS (
      SELECT query_id, neighbor_id, approx FROM (
        SELECT q.vid AS query_id, c.vid AS neighbor_id,
               ({ap_dot} / greatest(q.nrm * c.dnrm, 1e-300)) AS approx,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vid
                 ORDER BY ({ap_dot} / greatest(q.nrm * c.dnrm, 1e-300)) DESC,
                          c.vid) AS arank
        FROM _sqq q JOIN _sqd c ON q.vid <> c.vid
      ) _sq_sl WHERE arank <= {int(shortlist)}
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT s.query_id, s.neighbor_id,
             ({ex_dot} / greatest(q2.nrm * c2.nrm, 1e-300)) AS cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY s.query_id
               ORDER BY ({ex_dot} / greatest(q2.nrm * c2.nrm, 1e-300)) DESC,
                        s.neighbor_id) AS rank
      FROM _sqa s
      JOIN _sqv q2 ON q2.vid = s.query_id
      JOIN _sqv c2 ON c2.vid = s.neighbor_id
    ) _sq_rr WHERE rank <= {int(k)}
    """


def sq8_topk_sql(
    vd: VectorDialect,
    table: str,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    shortlist: int = 32,
) -> str:
    """Scalar-quantized (SQ8) ANN top-k — the FAISS IndexScalarQuantizer
    (QT_8bit) posture re-expressed oracle-exact: one per-dimension
    (min, max) stats pass over the corpus, each vector stored as dim
    one-byte codes (4× smaller than float32, 8× than float64), queries
    score the RAW query vector against DEQUANTIZED codes (asymmetric,
    like ADC), and the exact re-rank touches full vectors for only the
    top-``shortlist`` candidates per query.

    Where it sits in the ANN ladder: PQ compresses harder (m bytes) but
    pays a codebook training pass; SQ8 is training-free (two MIN/MAX
    aggregates), reconstruction is per-dimension exact-range, and on
    hard isotropic data its dequantized cosine ranks nearly identically
    to exact (recall@5 ≈ 1.0 at 8 bits — gated in tests), so the
    shortlist can stay small.

    Determinism: stats are exact MIN/MAX; quantize/dequantize are
    shared-text double arithmetic with floor rounding; cosines are
    sequential folds; ranks carry id tiebreaks — the whole statement
    passes the DuckDB value-hash oracle.
    """
    cast = ("transform" if vd.name == "spark" else "list_transform")
    qt = _sq8_quant(vd)
    return f"""
    WITH _sqv AS (
      SELECT {id_col} AS vid,
             {cast}({vec_col}, x -> CAST(x AS DOUBLE)) AS emb,
             {vd.norm(f"{cast}({vec_col}, x -> CAST(x AS DOUBLE))")} AS nrm
      FROM {table} WHERE {vec_col} IS NOT NULL
    ),
    _sqx AS ({_sq8_explode(vd, "_sqv")}),
    _sqt AS (
      SELECT j, MIN(x) AS lo, MAX(x) AS hi FROM _sqx GROUP BY j
    ),
    _sqs AS (
      SELECT {_sq8_rebuild(vd, "lo")} AS lo_a,
             {_sq8_rebuild(vd, "rng")} AS rng_a
      FROM (SELECT j, lo, greatest(hi - lo, 1e-300) AS rng FROM _sqt) _sq_r
    ),
    _sqc AS (
      SELECT vid, {qt} AS code FROM _sqv CROSS JOIN _sqs
    ),
    {_sq8_tail(vd, query_pred=query_pred, k=k, shortlist=shortlist)}
    """


def sq8_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    query_pred: str,
    k: int = 5,
    shortlist: int = 32,
) -> DataFrame:
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = _next_view()
    sql = sq8_topk_sql(
        _VSPARK, view, id_col, vec_col,
        query_pred=query_pred, k=k, shortlist=shortlist,
    )
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(sql)


def build_sq8_index(df: DataFrame, id_col: str, vec_col: str, path: str) -> None:
    """Train-free build: ``{path}/vectors`` (vid, emb, nrm — for queries
    and the exact re-rank), ``{path}/stats`` (ONE row: lo_a, rng_a —
    broadcast-sized forever), ``{path}/codes`` (vid, code ARRAY<INT> —
    the 4-8× compressed frame the approximate pass scans), and
    ``{path}/params`` written LAST (the build-complete marker).  Stored
    values come from the same rendered expressions the inline statement
    evaluates, so serve ≡ inline bit-for-bit.  Appends are row-local
    (codes depend only on the frozen stats row), so append ≡ rebuild
    under frozen stats — the IVF frozen-centroid contract."""
    require_columns(df, (id_col, vec_col))
    spark = df.sparkSession
    vd = _VSPARK
    view = _next_view()
    df.createOrReplaceTempView(view)
    begin_build(spark, path)
    spark.sql(f"""
      SELECT vec_id AS vid, emb, {vd.norm("emb")} AS nrm FROM (
        SELECT {id_col} AS vec_id,
               transform({vec_col}, x -> CAST(x AS DOUBLE)) AS emb
        FROM {view} WHERE {vec_col} IS NOT NULL
      ) _sqb
    """).write.mode("overwrite").parquet(f"{path}/vectors")
    vview = _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    spark.sql(f"""
      WITH _sqx AS ({_sq8_explode(vd, vview)}),
      _sqt AS (SELECT j, MIN(x) AS lo, MAX(x) AS hi FROM _sqx GROUP BY j)
      SELECT {_sq8_rebuild(vd, "lo")} AS lo_a,
             {_sq8_rebuild(vd, "rng")} AS rng_a
      FROM (SELECT j, lo, greatest(hi - lo, 1e-300) AS rng FROM _sqt) _sq_r
    """).write.mode("overwrite").parquet(f"{path}/stats")
    sview = _next_view()
    read_artifact(spark, path, "stats").createOrReplaceTempView(sview)
    spark.sql(f"""
      SELECT vid, {_sq8_quant(vd)} AS code
      FROM (SELECT vid, emb FROM {vview}) _sqv CROSS JOIN {sview}
    """).write.mode("overwrite").parquet(f"{path}/codes")
    commit_build(spark, path, dict(id_col=id_col, vec_col=vec_col))


def query_sq8_index(
    spark, path: str, *, query_pred: str, k: int = 5, shortlist: int = 32
) -> DataFrame:
    """SQ8 top-k against a persisted index: the query pays the
    code-frame scan + dequantized scoring + the |Q|·shortlist exact
    re-rank — no stats pass, no encode (``query_pred`` sees the stored
    vector columns vid/emb/nrm)."""
    read_params(spark, path)  # build-complete gate
    vview, sview, cview = _next_view(), _next_view(), _next_view()
    read_artifact(spark, path, "vectors").createOrReplaceTempView(vview)
    read_artifact(spark, path, "stats").createOrReplaceTempView(sview)
    read_artifact(spark, path, "codes").createOrReplaceTempView(cview)
    vd = _VSPARK
    return spark.sql(f"""
    WITH _sqv AS (SELECT vid, emb, nrm FROM {vview}),
    _sqs AS (SELECT lo_a, rng_a FROM {sview}),
    _sqc AS (SELECT vid, code FROM {cview}),
    {_sq8_tail(vd, query_pred=query_pred, k=k, shortlist=shortlist)}
    """)
