"""PageRank — fixed-iteration power method as pure relational algebra.

The canonical iterative-graph workload (Page et al. 1999; the Spark/
GraphX and Flink/Gelly demo algorithm), expressed the way a relational
engine wants it: each iteration is ONE equi-join of the edge list with
the current rank vector, ONE partial-aggregated sum per destination, and
ONE left join back to the node set.  Unrolled to a fixed iteration count
as CTEs, the whole computation is a single declarative statement —
Catalyst sees every join and can pipeline scans, broadcast the bounded
relations (deg, nn), and AQE the per-iteration shuffles.

Determinism (the driver's value-hash gate): the per-destination
contribution sum is the ONLY reassociable float reduction, so each
contribution is quantized to DECIMAL(28,14) and summed exactly —
order-independent on any partitioning — then rounded to 12 decimals
(the dsum discipline of queries.py; scale-14 ties are not binary-
representable, and the decimal magnitudes stay < 10^12 so the final
decimal→double cast is a single exact conversion on both engines).  The
scalar per-node update ((1-d)/n + d·contrib) is identical-input IEEE
arithmetic — deterministic without quantization.

Scale posture (SCALE.md: pagerank): edges shuffle ONCE per iteration on
dst (the contribution aggregation); rank and deg are O(nodes) relations
joined on their keys; nn is a one-row aggregate STATE reduce (the
SinglePartition-of-state convention).  No driver-side loop state — the
unrolled plan ships whole.  The variant is the standard no-dangling-
redistribution form: nodes without out-edges leak their mass (total rank
< 1), documented because the synthetic link graphs used by the
registered query give every node a fixed out-degree, so no mass leaks
there.

Reference parity note: the reference (Rust lag-matrix crate,
src/lib.rs) has no graph surface; charter extension (SURVEY.md §2.5),
complementing the connected-components operators in operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..errors import ColumnNotFoundError
from ..functions.text_fns import SPARK, Dialect

__all__ = ["doc_link_edges_ctes", "pagerank_sql", "pagerank", "bfs_hops", "bfs_hops_sql", "triangle_count_sql", "triangle_counts", "clustering_coefficient_sql", "clustering_coefficients", "kcore_sql", "kcore", "label_propagation_sql", "label_propagation"]


def doc_link_edges_ctes(
    d: Dialect, table: str, id_col: str, *, fanout: int = 3
) -> str:
    """CTE fragment defining ``e``(src, dst): a deterministic synthetic
    link graph over ``table``'s actual id set — every row links to
    ``fanout`` md5-chosen rows (duplicates and self-loops kept: a
    multigraph is valid PageRank input and exercises edge multiplicity).

    The md5 draw picks a ROW NUMBER, then joins back to the id at that
    rank, so the construction works for ANY id set (sparse, string,
    non-contiguous) — never assumes ids are 0..n-1.  This is the
    link-graph analogue of how the dedup demos plant copies: the corpus
    has no native hyperlinks, so the query manufactures a reproducible
    web to rank.
    """
    cast = "STRING" if d.name == "spark" else "VARCHAR"
    js = ", ".join(f"({j})" for j in range(1, fanout + 1))
    draw = d.md5_long(
        f"concat('pr|', CAST(t.{id_col} AS {cast}), '#', CAST(js.j AS {cast}))"
    )
    return f"""
    _gn AS (SELECT COUNT(*) AS n FROM {table}),
    _rows AS (
      SELECT {id_col} AS did,
             ROW_NUMBER() OVER (ORDER BY {id_col}) AS rn
      FROM {table}
    ),
    _tgt AS (
      SELECT t.{id_col} AS src,
             (((({draw}) % _gn.n) + _gn.n) % _gn.n) + 1 AS trn
      FROM {table} t CROSS JOIN _gn CROSS JOIN (VALUES {js}) AS js(j)
    ),
    e AS (
      SELECT _tgt.src, _rows.did AS dst
      FROM _tgt JOIN _rows ON _rows.rn = _tgt.trn
    )
    """


def pagerank_sql(
    d: Dialect,
    edges_ctes: str,
    *,
    iters: int = 5,
    damping: float = 0.85,
    id_alias: str = "node",
    topk: int | None = None,
) -> str:
    """Full PageRank statement over a CTE fragment that defines
    ``e``(src, dst) — e.g. :func:`doc_link_edges_ctes`, or any caller-
    supplied edge relation wrapped as ``e AS (SELECT ... src, ... dst)``.

    Output: ({id_alias}, pagerank) — every node, or the top ``topk``
    ordered by (pagerank DESC, {id_alias}) when given (rank ties break
    on the id, so the cut is deterministic).
    """
    one_minus_d = repr(1.0 - damping)
    dmp = repr(damping)
    parts = [
        edges_ctes.strip().rstrip(","),
        """
    deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE) AS rank
      FROM nodes CROSS JOIN nn
    )""",
    ]
    for k in range(1, iters + 1):
        parts.append(f"""
    cb{k} AS (
      SELECT e.dst AS node,
             CAST(ROUND(SUM(CAST(r.rank / CAST(deg.outdeg AS DOUBLE)
                                 AS DECIMAL(28,14))), 12) AS DOUBLE) AS contrib
      FROM e
      JOIN r{k - 1} r ON r.node = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{k} AS (
      SELECT nodes.node,
             ({one_minus_d} / CAST(nn.n AS DOUBLE)
              + {dmp} * COALESCE(cb.contrib, CAST(0.0 AS DOUBLE))) AS rank
      FROM nodes CROSS JOIN nn
      LEFT JOIN cb{k} cb ON cb.node = nodes.node
    )""")
    tail = f"SELECT node AS {id_alias}, rank AS pagerank FROM r{iters}"
    if topk is not None:
        tail += f" ORDER BY pagerank DESC, {id_alias} LIMIT {topk}"
    return "WITH " + ",".join(parts) + "\n    " + tail


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    iters: int = 5,
    damping: float = 0.85,
    id_alias: str = "node",
    topk: int | None = None,
) -> DataFrame:
    """DataFrame front door: rank an explicit (src, dst) edge list.

    Executes ITERATIVELY, not as the single unrolled statement
    :func:`pagerank_sql` emits: Spark inlines every CTE reference, so
    the unrolled text replans the edge relation once per mention —
    measured 209 exchanges / 102 scans for 5 iterations where the
    algorithm needs ~3 per iteration.  Here edges/deg/nodes materialize
    ONCE (``localCheckpoint(eager=False)`` — the connected-components
    fixpoint convention, operators/dedup.py) and each iteration is one
    join→decimal-sum→left-join job over the checkpointed frames, so the
    per-iteration plan is CONSTANT-size at any iteration count.  The
    arithmetic is textually identical to pagerank_sql's (same decimal
    quantization, same literals), so iterative ≡ unrolled to the bit —
    the registered query's oracle is the unrolled statement.

    ``n`` is read once as a bounded driver scalar and re-embedded as a
    Python-repr literal: Python float division is the same IEEE op the
    engines perform, and repr round-trips exactly.
    """
    from pyspark.sql import functions as F

    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {edges.columns}")
    e = (
        edges.selectExpr(f"{src_col} AS src", f"{dst_col} AS dst")
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg")).localCheckpoint(eager=False)
    nodes = (
        e.selectExpr("src AS node")
        .union(e.selectExpr("dst AS node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()  # bounded driver scalar (one row per graph node id)
    r = nodes.withColumn("rank", F.expr(f"CAST({1.0 / n!r} AS DOUBLE)"))
    contrib_sum = (
        "CAST(ROUND(SUM(CAST(rank / CAST(outdeg AS DOUBLE) "
        "AS DECIMAL(28,14))), 12) AS DOUBLE)"
    )
    base = repr((1.0 - damping) / n)
    for _ in range(iters):
        cb = (
            e.join(r, e.src == r.node)
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.expr(contrib_sum).alias("contrib"))
        )
        r = (
            nodes.join(cb, nodes.node == cb.dst, "left")
            .select(
                "node",
                F.expr(
                    f"{base} + {damping!r} * COALESCE(contrib, CAST(0.0 AS DOUBLE))"
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    out = r.select(F.col("node").alias(id_alias), F.col("rank").alias("pagerank"))
    if topk is not None:
        out = out.orderBy(F.desc("pagerank"), id_alias).limit(topk)
    return out


def _tri_ctes(edges_ctes: str) -> str:
    """Shared CTE chain edges → und → deg → o → tri (one source of
    truth for the triangle enumeration so the count and the clustering-
    coefficient statements cannot drift)."""
    return f"""
    WITH {edges_ctes.strip().rstrip(',')},
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM e WHERE src <> dst
    ),
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und) ends
      GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
                  THEN und.u ELSE und.v END AS a,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
                  THEN und.v ELSE und.u END AS b,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
                  THEN dv.d ELSE du.d END AS db
      FROM und
      JOIN deg du ON du.node = und.u
      JOIN deg dv ON dv.node = und.v
    ),
    tri AS (
      SELECT w1.a AS na, w1.b AS nb, w2.b AS nc
      FROM o w1
      JOIN o w2 ON w2.a = w1.a
               AND (w1.db < w2.db OR (w1.db = w2.db AND w1.b < w2.b))
      JOIN o w3 ON w3.a = w1.b AND w3.b = w2.b
    )"""


def triangle_count_sql(
    edges_ctes: str,
    *,
    id_alias: str = "node",
    topk: int | None = 30,
) -> str:
    """Per-node triangle counts via degree-ordered edge orientation
    (the MapReduce triangle algorithm of Suri & Vassilvitskii 2011 /
    Cohen 2009), over a CTE fragment defining ``e``(src, dst).

    Shape: undirect + dedupe the edge list, compute degrees, orient
    every edge from the lower (degree, id) endpoint to the higher —
    orientation bounds oriented out-degree by O(√m), so the wedge
    self-join's output is Σ outdeg² = O(m^1.5), never the naive Σ deg².
    A triangle {a,b,c} with rank(a)<rank(b)<rank(c) is found exactly
    once: wedge (a→b, a→c) closed by oriented edge (b→c).  The rank
    order is compared TUPLE-wise on (deg, id) carried through the
    oriented relation — no global ROW_NUMBER, so there is NO
    single-partition window anywhere in the plan (the scale hazard a
    rank-column formulation would plant).  Integer-only arithmetic:
    nothing to quantize, hash-exact on any engine.

    Output: ({id_alias}, triangles) for nodes in ≥1 triangle, ordered
    (triangles DESC, {id_alias}) with an optional deterministic top-k.
    """
    tail = f" LIMIT {topk}" if topk is not None else ""
    return f"""
    {_tri_ctes(edges_ctes)},
    tcount AS (
      SELECT node, COUNT(*) AS triangles
      FROM (
        SELECT na AS node FROM tri
        UNION ALL SELECT nb AS node FROM tri
        UNION ALL SELECT nc AS node FROM tri
      ) corners
      GROUP BY node
    )
    SELECT node AS {id_alias}, triangles FROM tcount
    ORDER BY triangles DESC, {id_alias}{tail}
    """


def triangle_counts(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    id_alias: str = "node",
    topk: int | None = 30,
) -> DataFrame:
    """DataFrame front door: per-node triangle counts for an explicit
    (src, dst) edge list — same relational shape as
    :func:`triangle_count_sql`, but the oriented relation ``o``
    materializes ONCE (``localCheckpoint(eager=False)``, the pagerank/
    connected-components convention) instead of being inlined per
    mention: Spark re-plans a CTE at every reference, and ``o`` is
    referenced three times by the wedge closure, which would rescan the
    edge construction 3× (and anything upstream of it 9×)."""
    from pyspark.sql import functions as F

    tri, _deg = _tri_frames(edges, src_col, dst_col)
    out = (
        _tri_corner_counts(tri)
        .selectExpr(f"node AS {id_alias}", "triangles")
        .orderBy(F.desc("triangles"), id_alias)
    )
    return out.limit(topk) if topk is not None else out


def _tri_frames(edges: DataFrame, src_col: str, dst_col: str):
    """(tri, deg) DataFrames — the checkpointed-``o`` execution of
    :func:`_tri_ctes` (see triangle_counts' docstring for why the
    oriented relation must materialize once)."""
    from pyspark.sql import functions as F

    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {edges.columns}")
    e = edges.selectExpr(f"{src_col} AS src", f"{dst_col} AS dst")
    und = (
        e.where("src <> dst")
        .selectExpr("LEAST(src, dst) AS u", "GREATEST(src, dst) AS v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.selectExpr("u AS node")
        .unionAll(und.selectExpr("v AS node"))
        .groupBy("node")
        .count()
        .withColumnRenamed("count", "d")
    )
    lo = F.expr("du < dv OR (du = dv AND u < v)")
    o = (
        und.join(deg.selectExpr("node AS u", "d AS du"), "u")
        .join(deg.selectExpr("node AS v", "d AS dv"), "v")
        .select(
            F.when(lo, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lo, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(lo, F.col("dv")).otherwise(F.col("du")).alias("db"),
        )
        .localCheckpoint(eager=False)
    )
    w1 = o.selectExpr("a", "b AS nb", "db AS rb")
    w2 = o.selectExpr("a", "b AS nc", "db AS rc")
    wedges = w1.join(w2, "a").where("rb < rc OR (rb = rc AND nb < nc)")
    tri = wedges.join(
        o.selectExpr("a AS nb", "b AS nc"), ["nb", "nc"]
    ).selectExpr("a AS na", "nb", "nc")
    return tri, deg


def _tri_corner_counts(tri: DataFrame) -> DataFrame:
    """(node, triangles) from the triangle corner multiset."""
    corners = (
        tri.selectExpr("na AS node")
        .unionAll(tri.selectExpr("nb AS node"))
        .unionAll(tri.selectExpr("nc AS node"))
    )
    return corners.groupBy("node").count().withColumnRenamed("count", "triangles")


def clustering_coefficient_sql(
    edges_ctes: str,
    *,
    id_alias: str = "node",
    topk: int | None = 30,
) -> str:
    """Local clustering coefficient (Watts & Strogatz 1998) per node:
    2·triangles / (d·(d−1)) — how close the node's neighborhood is to a
    clique.  Shares the full triangle-enumeration CTE chain with
    :func:`triangle_count_sql` (one source of truth, :func:`_tri_ctes`);
    the coefficient is one IEEE division of two exact integers — no
    quantization.  Nodes of degree < 2 are excluded (the coefficient is
    undefined, and emitting 0 would conflate 'no neighbors to close'
    with 'open neighborhood').

    Output: ({id_alias}, triangles, degree, clustering_coeff) ordered
    (clustering_coeff DESC, {id_alias}) with an optional top-k.
    """
    tail = f" LIMIT {topk}" if topk is not None else ""
    return f"""
    {_tri_ctes(edges_ctes)},
    tcount AS (
      SELECT node, COUNT(*) AS triangles
      FROM (
        SELECT na AS node FROM tri
        UNION ALL SELECT nb AS node FROM tri
        UNION ALL SELECT nc AS node FROM tri
      ) corners
      GROUP BY node
    )
    SELECT deg.node AS {id_alias},
           COALESCE(t.triangles, 0) AS triangles,
           deg.d AS degree,
           CAST(2 * COALESCE(t.triangles, 0) AS DOUBLE)
             / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS clustering_coeff
    FROM deg LEFT JOIN tcount t ON t.node = deg.node
    WHERE deg.d >= 2
    ORDER BY clustering_coeff DESC, {id_alias}{tail}
    """


def clustering_coefficients(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    id_alias: str = "node",
    topk: int | None = 30,
) -> DataFrame:
    """DataFrame front door for :func:`clustering_coefficient_sql` —
    same checkpointed-``o`` execution as :func:`triangle_counts`."""
    from pyspark.sql import functions as F

    tri, deg = _tri_frames(edges, src_col, dst_col)
    t = _tri_corner_counts(tri)
    out = (
        deg.where("d >= 2")
        .join(t, "node", "left")
        .selectExpr(
            f"node AS {id_alias}",
            "COALESCE(triangles, 0) AS triangles",
            "d AS degree",
            "CAST(2 * COALESCE(triangles, 0) AS DOUBLE)"
            " / CAST(d * (d - 1) AS DOUBLE) AS clustering_coeff",
        )
        .orderBy(F.desc("clustering_coeff"), id_alias)
    )
    return out.limit(topk) if topk is not None else out


# Peel levels per checkpointed job in the iterative kcore — the
# measured knee (plan references grow 2^steps inside a group; 3 beat 2
# and 4 on the deep sf0.1 cascade: 3.96 vs 4.06 / 4.31 s).  Adaptive
# grouping (grow the group once the surviving set is small) measured
# NEGATIVE: each level inside a group re-executes its predecessor's
# degree chain per semi-join reference (the two broadcasts differ in
# projection, so their exchanges never reuse), so work grows ~2^steps
# regardless of data size.  A group of 6 below 4 096 nodes measured
# kcore_docs 5.0 → 8.0 s, and even 4 under 1 000 nodes lost to the
# flat 3 in an interleaved A/B (5.75/5.52/6.30 vs 5.92/5.89/6.89 s).
# The group size therefore stays flat.
_KCORE_GROUP = 3


def kcore_sql(
    edges_ctes: str,
    *,
    k: int,
    iters: int,
    id_alias: str = "node",
) -> str:
    """k-core membership as an UNROLLED peel chain (Seidman 1983;
    Batagelj & Zaveršnik 2003's peeling, truncated to ``iters`` levels):
    s0 = all nodes; s_{i+1} = nodes whose degree in the subgraph INDUCED
    by s_i is ≥ k.  Mirrors pagerank_sql's fixed-unroll role — this is
    the ORACLE formulation; executable peeling is :func:`kcore` (the
    iterative twin, bit-identical when it converges within ``iters``,
    loud failure when not).

    Output: ({id_alias}, core_degree) — the surviving nodes with their
    induced degree at the final level, ordered by id.  Integer-only.
    """
    # Every level references und once-per-arm and s_{i-1} twice; inlined
    # (the default for single-reference CTEs) that doubles per level —
    # an EXPONENTIAL re-expansion of the base scan by s_iters.  AS
    # MATERIALIZED pins each level to evaluate exactly once (DuckDB's
    # materialization hint; the oracle engine).
    parts = [
        edges_ctes.strip().rstrip(","),
        """
    und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM e WHERE src <> dst
    ),
    s0 AS MATERIALIZED (SELECT u AS n FROM und UNION SELECT v AS n FROM und)""",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    d{i} AS MATERIALIZED (
      SELECT node, COUNT(*) AS d FROM (
        SELECT und.u AS node FROM und
        JOIN s{i - 1} a ON a.n = und.u JOIN s{i - 1} b ON b.n = und.v
        UNION ALL
        SELECT und.v AS node FROM und
        JOIN s{i - 1} a ON a.n = und.u JOIN s{i - 1} b ON b.n = und.v
      ) ends GROUP BY node
    ),
    s{i} AS MATERIALIZED (SELECT node AS n FROM d{i} WHERE d >= {int(k)})""")
    tail = (
        f"SELECT d.node AS {id_alias}, d.d AS core_degree "
        f"FROM d{iters} d JOIN s{iters} s ON s.n = d.node "
        f"ORDER BY {id_alias}"
    )
    return "WITH " + ",".join(parts) + "\n    " + tail


def kcore(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    k: int,
    max_iterations: int = 20,
    id_alias: str = "node",
) -> DataFrame:
    """Iterative k-core peeling over checkpointed frames — the
    executable twin of :func:`kcore_sql` (the connected-components /
    pagerank convention: the unrolled statement replans the edge
    relation per CTE mention; here ``und`` materializes once and each
    peel round is one induced-degree job of CONSTANT plan size).

    Per level: two semi-joins restrict ``und`` to the surviving node
    set, an explode-ends groupBy computes induced degrees (one shuffle
    on the node key), and the ≥k filter yields the next set.  Levels
    run in GROUPS of ``_KCORE_GROUP`` between checkpoints/convergence
    probes: a deep cascade (the sf0.1 corpus peels ~2.4k nodes to an
    EMPTY core over dozens of levels) is dominated by per-round
    driver/job latency, not data — grouping measured 6.49 → 3.96 s
    there.  Within a group each level references its predecessor twice
    (the two semi-joins), so the plan grows 2^steps — fine at 3, the
    measured knee (the old ends-UNION doubled again per level, so its
    knee was 2).  The convergence probe stays sound under grouping:
    peeling is monotone (s_{i+1} ⊆ s_i), so equal COUNTs at group
    boundaries ⇔ equal sets ⇔ a fixpoint somewhere inside the group —
    and a fixpoint re-peels to itself, level for level.  Raises rather
    than returning a non-fixpoint set when ``max_iterations`` levels
    are exhausted — a silently-shallow peel would report a SUPERSET of
    the k-core.
    """
    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {edges.columns}")
    e = edges.selectExpr(f"{src_col} AS src", f"{dst_col} AS dst")
    und = (
        e.where("src <> dst")
        .selectExpr("LEAST(src, dst) AS u", "GREATEST(src, dst) AS v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Width by DATA, not core count (guide §2; the dedup._cc_star r15
    # rationale): every peel level re-reads ``und`` as the map side of
    # its semi-joins and degree exchange, and a small graph spread over
    # defaultParallelism partitions pays per-task scheduling on dozens
    # of levels (kcore anti-scaled 0.67 at 32 vs 8 cores in the r14
    # driver block).  The count doubles as the checkpoint materializer;
    # coalesce is narrow; at real scale n_edges/20k exceeds the core
    # count and the width is unchanged.
    n_edges = und.count()
    dp = max(1, edges.sparkSession.sparkContext.defaultParallelism)
    parts = max(1, min(dp, n_edges // 20_000 + 1))
    if parts < und.rdd.getNumPartitions():
        und = und.coalesce(parts)
    cur = (
        und.selectExpr("u AS n").union(und.selectExpr("v AS n")).distinct()
        .localCheckpoint(eager=False)
    )
    n_cur = cur.count()

    def _level(lvl):
        """One peel level: induced degrees over lvl's node set and the
        surviving ≥k node set.  explode(array(u, v)) counts both edge
        ends in ONE pass — the same multiset as the old two-arm UNION,
        with half the plan references."""
        ind = (
            und.join(lvl.selectExpr("n AS u"), "u", "left_semi")
            .join(lvl.selectExpr("n AS v"), "v", "left_semi")
        )
        deg = (
            ind.selectExpr("explode(array(u, v)) AS node")
            .groupBy("node")
            .count()
            .withColumnRenamed("count", "d")
        )
        return deg, deg.where(f"d >= {int(k)}").select(deg.node.alias("n"))

    done = 0
    converged = n_cur == 0
    while done < max_iterations and not converged:
        steps = min(_KCORE_GROUP, max_iterations - done)
        lvl = cur
        for _ in range(steps):
            _deg, lvl = _level(lvl)
        nxt = lvl.localCheckpoint(eager=False)
        n_nxt = nxt.count()
        done += steps
        converged = n_nxt == n_cur or n_nxt == 0
        cur, n_cur = nxt, n_nxt
    if not converged:
        raise RuntimeError(
            f"kcore did not converge within {max_iterations} iterations "
            f"({n_cur} nodes still in play) — raise max_iterations for "
            f"this graph"
        )
    # Final degrees recomputed from the checkpointed fixpoint set — at a
    # fixpoint this IS the last level's deg relation, value for value.
    deg, _ = _level(cur)
    return (
        deg.where(f"d >= {int(k)}")
        .selectExpr(f"node AS {id_alias}", "d AS core_degree")
        .orderBy(id_alias)
    )


# Label-propagation encode bounds: labels (node ids) < 2^40, neighbor
# counts < 2^23 — cnt·2^40 + (2^40−1−label) stays inside BIGINT, argmax
# of the encode = (max count, then MIN label), the attribution
# encode-compare idiom applied to the LPA tiebreak.
_LPA_LMOD = 1 << 40


def _lpa_vote_select(src_labels: str, und: str) -> str:
    """One synchronous LPA round as dialect-neutral SQL over
    ``{und}``(u, v) and ``{src_labels}``(n, lbl): every node adopts the
    most frequent neighbor label, ties to the SMALLEST label, keeping
    its own label when it has no neighbors.  Shared VERBATIM by the
    iterative executor and the unrolled oracle."""
    enc = f"(CAST(c.cnt AS BIGINT) * {_LPA_LMOD} + ({_LPA_LMOD} - 1 - c.lbl))"
    return f"""
      SELECT p.n AS n,
             COALESCE({_LPA_LMOD} - 1 - (MAX({enc}) % {_LPA_LMOD}), p.lbl) AS lbl
      FROM {src_labels} p
      LEFT JOIN (
        SELECT node, lbl, COUNT(*) AS cnt FROM (
          SELECT e.u AS node, l.lbl AS lbl FROM {und} e JOIN {src_labels} l ON l.n = e.v
          UNION ALL
          SELECT e.v AS node, l.lbl AS lbl FROM {und} e JOIN {src_labels} l ON l.n = e.u
        ) _votes GROUP BY node, lbl
      ) c ON c.node = p.n
      GROUP BY p.n, p.lbl"""


def label_propagation_sql(
    edges_ctes: str,
    *,
    iters: int,
    id_alias: str = "node",
) -> str:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), unrolled to ``iters`` fixed rounds — the ORACLE
    formulation (the pagerank/kcore twin discipline; executable
    iteration is :func:`label_propagation`).  Deterministic variant:
    every node simultaneously adopts its neighbors' most frequent
    label with ties to the SMALLEST label (the stochastic original
    breaks ties randomly; fixed rounds + min-tiebreak make the
    fixpoint question moot and the result reproducible — the
    fixed-unroll convention PageRank set).

    Output: ({id_alias}, community, community_size), community = the
    propagated label after ``iters`` rounds.  Integer-only: hash-exact.
    """
    parts = [
        edges_ctes.strip().rstrip(","),
        """
    _lund AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM e WHERE src <> dst
    ),
    _ll0 AS MATERIALIZED (
      SELECT n, n AS lbl FROM (
        SELECT u AS n FROM _lund UNION SELECT v AS n FROM _lund
      ) _lnodes
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""
    _ll{i} AS MATERIALIZED ({_lpa_vote_select(f'_ll{i - 1}', '_lund')}
    )"""
        )
    tail = f"""SELECT l.n AS {id_alias}, l.lbl AS community,
           CAST(COUNT(*) OVER (PARTITION BY l.lbl) AS BIGINT) AS community_size
    FROM _ll{iters} l
    ORDER BY {id_alias}"""
    return "WITH " + ",".join(parts) + "\n    " + tail


def label_propagation(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    iters: int = 4,
    id_alias: str = "node",
) -> DataFrame:
    """Iterative executor for :func:`label_propagation_sql` — each round
    is ONE vote statement of constant plan size over localCheckpointed
    frames (the kcore/pagerank convention: the unrolled text replans
    the edge relation per CTE mention; here the undirected relation
    materializes once and each round's labels checkpoint before the
    next).  Scale: per round, two label equi-joins + one
    partial-aggregated (node, label) vote count — one node-key shuffle;
    a celebrity node's vote partition is bounded by its degree (the
    pagerank hub answer: AQE skew split)."""
    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {edges.columns}")
    if iters < 1:
        raise ValueError(f"need >= 1 iteration, got {iters}")
    spark = edges.sparkSession
    e = edges.selectExpr(f"{src_col} AS src", f"{dst_col} AS dst")
    und = (
        e.where("src <> dst")
        .selectExpr("LEAST(src, dst) AS u", "GREATEST(src, dst) AS v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    und.createOrReplaceTempView("_ts_lpa_und")
    cur = (
        und.selectExpr("u AS n").union(und.selectExpr("v AS n")).distinct()
        .selectExpr("n", "n AS lbl")
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        cur.createOrReplaceTempView("_ts_lpa_cur")
        cur = spark.sql(
            _lpa_vote_select("_ts_lpa_cur", "_ts_lpa_und")
        ).localCheckpoint(eager=False)
    cur.createOrReplaceTempView("_ts_lpa_fin")
    return spark.sql(f"""
      SELECT l.n AS {id_alias}, l.lbl AS community,
             CAST(COUNT(*) OVER (PARTITION BY l.lbl) AS BIGINT) AS community_size
      FROM _ts_lpa_fin l
      ORDER BY {id_alias}
    """)


def bfs_hops_sql(
    d: Dialect,
    edges_ctes: str,
    seed_table: str,
    seed_id: str,
    seed_pred: str,
    *,
    max_hops: int = 4,
) -> str:
    """Multi-source BFS hop distance as ONE declarative statement —
    the unrolled form (the pagerank convention): level h is the
    distinct one-hop expansion of level h−1 along DIRECTED edges, and
    the distance is MIN(h) over the level a node first appears in
    (re-visits at deeper levels lose the MIN, so no visited-set is
    needed declaratively).  Completes the graph-distance surface next
    to components (reachability), PageRank (centrality), k-core
    (density) and LPA (communities): "how many clicks from the seed
    set" — the crawl-frontier / link-spam-radius question.

    Both engines run this text verbatim (pure ANSI over the edge CTEs)
    — it is the ORACLE and the proof twin of the iterative
    :func:`bfs_hops`, which anti-joins a visited set per round instead
    of re-expanding (at scale the unrolled re-expansion does O(Σ|level
    h| · fanout) work even inside already-visited regions; the
    iterative frontier pays only the NEW nodes — but replans per CTE
    mention, so the unrolled form stays oracle-only, exactly the
    kcore/pagerank split).  All distances are exact integers — no
    float discipline needed anywhere.
    """
    lv = [f"_l0 AS (SELECT {seed_id} AS did FROM {seed_table} WHERE {seed_pred})"]
    for h in range(1, max_hops + 1):
        lv.append(
            f"_l{h} AS (SELECT DISTINCT e.dst AS did "
            f"FROM _l{h - 1} JOIN e ON e.src = _l{h - 1}.did)"
        )
    union = "\n      UNION ALL ".join(
        f"SELECT did, {h} AS h FROM _l{h}" for h in range(max_hops + 1)
    )
    return f"""
    WITH {edges_ctes},
    {", ".join(lv)}
    SELECT did, CAST(MIN(h) AS INT) AS hops
    FROM ({union}) _bfsu
    GROUP BY did
    ORDER BY did
    """


def bfs_hops(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    seeds: DataFrame,
    *,
    max_hops: int = 4,
    id_alias: str = "node",
) -> DataFrame:
    """Iterative frontier BFS over checkpointed frames — the executable
    twin of :func:`bfs_hops_sql` (the kcore/pagerank convention).  Per
    round: ONE equi-join of the frontier with the edge list on the
    src key, a distinct, and an anti-join against the accumulated
    distance set, so each round's cost is proportional to the NEW
    frontier, never the visited region; rounds are bounded by
    ``max_hops`` (driver loop with a bounded scalar probe per round —
    the empty-frontier early exit).  ``seeds`` is a one-column frame of
    node ids at distance 0.
    """
    from pyspark.sql import functions as F

    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {edges.columns}")
    (sid,) = seeds.columns
    e = edges.selectExpr(f"{src_col} AS src", f"{dst_col} AS dst").localCheckpoint(
        eager=False
    )
    dist = (
        seeds.selectExpr(f"{sid} AS did").distinct()
        .withColumn("hops", F.lit(0).cast("int"))
        .localCheckpoint(eager=False)
    )
    frontier = dist.select("did")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.did == e.src)
            .select(e.dst.alias("did"))
            .distinct()
            .join(dist.select("did"), "did", "left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionAll(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("did")
    return dist.selectExpr(f"did AS {id_alias}", "hops").orderBy(id_alias)
