"""Deduplication suite for LLM data pipelines (charter extension):

* exact dedup            — md5 hash-groupBy
* n-gram Jaccard near-dup — blocked self-join over distinct token sets
* MinHash signatures + LSH banding — explode→min-agg formulation
* SimHash                — bit-vote aggregation

Every operator is generated as ONE SQL text per engine from the
dialect-paired builders (functions.text_fns.Dialect), so the DuckDB
oracle runs the *same* logical query — parity by construction.

Scale design notes (100 TB):
- md5 per shingle is computed ONCE (explode → hash → agg), not once per
  permutation; the only shuffle is the groupBy(doc_id).
- near-dup self-joins are BLOCKED (here: (lang, length-bucket); MinHash:
  LSH band keys) — never an unblocked O(n²) cross join.
- all hashing/aggregation is built-in-function SQL → whole-stage codegen,
  no Python on executors.

Reference: none of this exists in time-sift (SURVEY.md §2.4); these are
charter-mandated extensions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..errors import ColumnNotFoundError, require_columns
from ..functions.text_fns import Dialect
from .artifacts import begin_build, commit_build, read_artifact, read_params

MERSENNE31 = 2_147_483_647  # 2^31 - 1


def minhash_perms(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod (2^31-1).

    a ∈ [1, p-1], b ∈ [0, p-1]. With x < 2^32 and a < 2^31 the product
    stays under 2^63 — no int64 overflow in either engine.
    """
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, MERSENNE31)), int(rng.randint(0, MERSENNE31)))
        for _ in range(num_perm)
    ]


def _md5_32(d: Dialect, expr: str) -> str:
    """32-bit md5 prefix (8 hex digits) — small enough for overflow-free
    modular permutation hashing."""
    if d.name == "spark":
        return f"CAST(conv(substr(md5({expr}),1,8),16,10) AS BIGINT)"
    return f"(('0x' || substr(md5({expr}),1,8))::BIGINT)"


def _unnest(d: Dialect, arr: str, alias: str) -> str:
    return (f"explode({arr}) AS {alias}" if d.name == "spark" else f"unnest({arr}) AS {alias}")


def _int_div(d: Dialect, num: str, den: int) -> str:
    return f"({num} div {den})" if d.name == "spark" else f"({num} // {den})"


# ---------------------------------------------------------------------------
# SQL generators (one text per dialect)
# ---------------------------------------------------------------------------


def exact_dedup_sql(d: Dialect, table: str, id_col: str, text_col: str) -> str:
    return f"""
    SELECT md5({text_col}) AS text_hash,
           MIN({id_col}) AS kept_id,
           COUNT(*) AS n_copies
    FROM {table}
    GROUP BY md5({text_col})
    """


def hashed_tokens_expr(d: Dialect, text_col: str) -> str:
    """Distinct 64-bit-hashed token set of ``text_col`` — the ONE feature
    expression shared by the SQL and BLAS n-gram Jaccard strategies, so
    their 'identical by construction' claim is structural, not two string
    literals kept in sync by hand.

    Intersections run on HASHED tokens: only the intersection size feeds
    the Jaccard value, so each engine may use its own native 64-bit hash
    (xxhash64 / hash) — long compares beat string hashing ~3× in the
    pairwise stage, and a collision would need two distinct tokens in one
    block agreeing on 64 bits.
    """
    if d.name == "spark":
        return f"array_distinct(transform({d.tokens(text_col)}, t -> xxhash64(t)))"
    return f"list_distinct(list_transform({d.tokens(text_col)}, t -> hash(t)))"


def ngram_jaccard_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    threshold: float,
    block_exprs: tuple[str, ...] = ("1",),
) -> str:
    """Blocked pairwise Jaccard over distinct token sets (n=1 grams).

    ``block_exprs`` reference columns of ``table``; pairs are only formed
    where ALL block expressions match (the scale guard — never an open
    cross join).
    """
    toks = hashed_tokens_expr(d, text_col)
    if d.name == "spark":
        inter = "size(array_intersect(a.toks, b.toks))"
    else:
        inter = "len(list_filter(a.toks, x -> list_contains(b.toks, x)))"
    blocks = ", ".join(f"{e} AS blk{i}" for i, e in enumerate(block_exprs))
    on = " AND ".join(f"a.blk{i} = b.blk{i}" for i in range(len(block_exprs)))
    # size prefilter: jaccard >= τ implies |A∩B| >= τ/(1+τ)·(|A|+|B|) and
    # |A∩B| <= min(|A|,|B|), hence min >= τ/(1+τ)·(|A|+|B|) — never drops
    # a true pair. The 1e-9 slack keeps that guarantee under floating
    # point: τ/(1+τ) can round UP (found by hypothesis at τ=0.8, where
    # the rounded ratio × 9 exceeded the exact 4 and dropped a pair whose
    # jaccard was exactly 0.8); the slack dwarfs the ~1e-16·(n_sum) error
    # for any real token counts while only admitting boundary pairs the
    # exact jaccard test below still gates.
    min_ratio = threshold / (1.0 + threshold)
    prefilter = (
        f"CAST(least(a.n_toks, b.n_toks) AS DOUBLE) >= {min_ratio!r} * (a.n_toks + b.n_toks) - 1e-9"
    )
    # greatest(union,1): two zero-token docs give union 0 — Spark's ANSI
    # mode (4.x default) raises DIVIDE_BY_ZERO where DuckDB yields NaN.
    # Empty docs are non-duplicates here (exact dedup catches them).
    jaccard = "(CAST(n_inter AS DOUBLE) / CAST(greatest(n_sum - n_inter, 1) AS DOUBLE))"
    # NOTE: an inverted-index formulation (explode hashed tokens, join on
    # (block, hash), count per pair) was benchmarked and LOST here —
    # these documents share a small vocabulary, so high-df tokens make
    # sum(df^2) far exceed the pairwise intersection work. Pairwise over
    # hashed token arrays + the size prefilter is the right physical
    # shape for high-overlap corpora; the index shape wins only on
    # long-tail vocabularies.
    if d.name == "spark":
        # Salted self-join: block sizes are skewed (pair count ∝ size²),
        # so the a-side is salted by did and the b-side replicated to all
        # salts — identical pairs, each heavy block spread over SALT
        # tasks. Exactness is unaffected: pair (a,b) appears exactly once
        # (at a's salt).
        salt_n = 8
        return f"""
        WITH t AS (
          SELECT {id_col} AS did, {blocks}, {toks} AS toks, {d.size(toks)} AS n_toks
          FROM {table}
        ),
        a_side AS (
          SELECT *, pmod(hash(did), {salt_n}) AS salt FROM t
        ),
        b_side AS (
          SELECT t.*, s.salt FROM t LATERAL VIEW explode(sequence(0, {salt_n - 1})) s AS salt
        ),
        pairs AS (
          SELECT a.did AS doc_id_a, b.did AS doc_id_b,
                 {inter} AS n_inter,
                 a.n_toks + b.n_toks AS n_sum
          FROM a_side a JOIN b_side b
            ON {on} AND a.salt = b.salt AND a.did < b.did
          WHERE {prefilter}
        )
        SELECT doc_id_a, doc_id_b, {jaccard} AS jaccard
        FROM pairs
        WHERE {jaccard} >= {threshold}
        """
    return f"""
    WITH t AS (
      SELECT {id_col} AS did, {blocks}, {toks} AS toks, {d.size(toks)} AS n_toks
      FROM {table}
    ),
    pairs AS (
      SELECT a.did AS doc_id_a, b.did AS doc_id_b,
             {inter} AS n_inter,
             a.n_toks + b.n_toks AS n_sum
      FROM t a JOIN t b ON {on} AND a.did < b.did
      WHERE {prefilter}
    )
    SELECT doc_id_a, doc_id_b, {jaccard} AS jaccard
    FROM pairs
    WHERE {jaccard} >= {threshold}
    """


def _minhash_hashed_cte(
    d: Dialect, table: str, id_col: str, text_col: str, shingle_k: int
) -> str:
    """CTEs ending in ``hashed(did, h)`` — the tokenize → shingle → md5
    prefix of the MinHash chain.  :func:`_minhash_sig_cte` recomposes it
    with :func:`_minhash_sigw_select`; :func:`screen_new_docs_fuzzy`
    aggregates it once into signatures AND shingle sets, so the
    increment's chain runs once per screen.

    tokens are STAGED as a column before shingling: embedding the token
    pipeline inside the shingle lambda re-tokenizes once per shingle
    index (~7× slower, measured at sf0.1). Values are identical.
    The NULL guard filters the RAW text column, not _toks: tokens(x)
    IS NULL ⇔ x IS NULL (split/filter are NULL-propagating on both
    engines), and a `_toks IS NOT NULL` guard gets pushed below the
    projection by Catalyst, re-running the whole tokenizer inside the
    scan Filter (isnotnull(filter(split(...)))) — one extra full
    tokenize pass per statement at scan parallelism.
    """
    shingles = d.shingles("_toks", shingle_k)
    return f"""
    toked AS (
      SELECT {id_col} AS did, {d.tokens(text_col)} AS _toks
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    exploded AS (
      SELECT did, {_unnest(d, shingles, "sh")}
      FROM toked
    ),
    hashed AS (
      SELECT did, {_md5_32(d, "sh")} AS h FROM exploded
    )"""


def _minhash_sigw_select(
    d: Dialect, num_perm: int, seed: int, from_rel: str = "hashed", extra: str = ""
) -> str:
    """SELECT rendering ``(did, s0..s{P-1})`` wide MinHash signatures
    from a ``(did, h)`` relation — each permutation a cheap modular
    remap aggregated with MIN, one shuffle total.  ``extra`` appends
    more aggregates (``", collect_set(h) AS hs"``) to the same pass."""
    perms = minhash_perms(num_perm, seed)
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {MERSENNE31}) AS s{i}" for i, (a, b) in enumerate(perms)
    )
    return f"""SELECT did,
             {mins}{extra}
      FROM {from_rel}
      GROUP BY did"""


def _minhash_sig_cte(
    d: Dialect, table: str, id_col: str, text_col: str, num_perm: int, shingle_k: int, seed: int
) -> str:
    """CTEs ending in ``sigw(did, s0..s{P-1})`` — wide MinHash signatures
    (:func:`_minhash_hashed_cte` + :func:`_minhash_sigw_select`)."""
    return f"""{_minhash_hashed_cte(d, table, id_col, text_col, shingle_k)},
    sigw AS (
      {_minhash_sigw_select(d, num_perm, seed)}
    )"""


def minhash_signatures_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
) -> str:
    """Long-format signatures: (doc_id, perm_id, minhash).

    Spark rendering uses one posexplode scan — a WITH-CTE referenced N
    times is INLINED by Catalyst, so the UNION-ALL form would recompute
    the whole hash+agg pipeline per permutation. DuckDB materializes the
    CTE, where UNION ALL is fine.
    """
    cte = _minhash_sig_cte(d, table, id_col, text_col, num_perm, shingle_k, seed)
    sig_array = ", ".join(f"s{i}" for i in range(num_perm))
    if d.name == "spark":
        return f"""
        WITH {cte}
        SELECT did AS doc_id, perm_id, minhash
        FROM sigw LATERAL VIEW posexplode(array({sig_array})) t AS perm_id, minhash
        """
    cols = " UNION ALL ".join(
        f"SELECT did AS doc_id, {i} AS perm_id, s{i} AS minhash FROM sigw"
        for i in range(num_perm)
    )
    return f"""
    WITH {cte}
    {cols}
    """


def _band_keys(num_perm: int, bands: int) -> list[str]:
    """One bkey expression per LSH band (its ``sigw`` slots comma-joined),
    shared by every LSH path and the MinHash store so they cannot drift."""
    assert num_perm % bands == 0
    r = num_perm // bands
    return [
        "concat_ws(',', {cols})".format(cols=", ".join(f"s{b * r + j}" for j in range(r)))
        for b in range(bands)
    ]


def _band_selects(d: Dialect, num_perm: int, bands: int, carry: str = "") -> str:
    """SELECT rendering ``sigw`` as (did, band, bkey) — one row per LSH
    band (:func:`_band_keys`).  Spark gets one posexplode scan (see
    minhash_signatures_sql on CTE inlining); DuckDB a UNION ALL (its
    CTEs materialize).  ``carry`` appends more ``sigw`` columns to every
    band row (``", hs"``)."""
    band_keys = _band_keys(num_perm, bands)
    if d.name == "spark":
        return (
            f"SELECT did, band, bkey{carry} FROM sigw "
            f"LATERAL VIEW posexplode(array({', '.join(band_keys)})) t AS band, bkey"
        )
    return " UNION ALL ".join(
        f"SELECT did, {b} AS band, {key} AS bkey{carry} FROM sigw"
        for b, key in enumerate(band_keys)
    )


def minhash_lsh_pairs_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
) -> str:
    """LSH candidate pairs + estimated Jaccard (signature agreement rate).

    Docs sharing any band (r = num_perm/bands consecutive signature slots)
    become candidates; the band key join is the blocking that avoids the
    O(n²) cross product at scale.
    """
    band_selects = _band_selects(d, num_perm, bands)
    agree = " + ".join(f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(num_perm))
    return f"""
    WITH {_minhash_sig_cte(d, table, id_col, text_col, num_perm, shingle_k, seed)},
    bands AS ({band_selects}),
    cand AS (
      SELECT x.did AS did_a, y.did AS did_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.did < y.did
      GROUP BY x.did, y.did
    )
    SELECT cand.did_a AS doc_id_a, cand.did_b AS doc_id_b,
           (CAST({agree} AS DOUBLE) / {float(num_perm)}) AS est_jaccard
    FROM cand
    JOIN sigw a ON a.did = cand.did_a
    JOIN sigw b ON b.did = cand.did_b
    """


def lsh_verified_neardup_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
    band_freq_cap: int | None = None,
) -> str:
    """The 100 TB near-dup screen as ONE composed query:
    MinHash-LSH band-key blocking → exact shingle-Jaccard verification.

    Stage 1 (screen): docs sharing any LSH band become candidate pairs —
    the only join is a band-key equi-join, never O(n²).
    Stage 2 (verify): candidates get EXACT Jaccard over their distinct
    hashed ``shingle_k``-gram sets (the same feature set the signatures
    estimate), keeping pairs >= ``threshold``. At scale the verify join
    touches only |candidates| rows — the expensive exact pairwise work is
    bounded by the screen's selectivity, which is the whole point of the
    composition (vs. exact blocked pairwise over every block).

    ``band_freq_cap`` is the heavy-band mitigation (standard LSH
    practice): a (band, bkey) bucket holding more than ``cap`` docs is
    DROPPED before pairing, so one boilerplate string duplicated across
    millions of docs can no longer explode the candidate count — per
    surviving bucket the pair count is bounded by cap·(cap-1)/2. A pair
    is lost only if EVERY band it shares is over the cap, i.e. exactly
    the mega-cluster whose members are cheaper to collapse by exact
    dedup first (identical text ⇒ identical signatures ⇒ all bands
    over-capped together). The frequency count is a window over the same
    (band, bkey) key the candidate self-join shuffles on, so the cap
    adds no new shuffle key.

    Both stages reuse one tokenize→shingle→md5 derivation (the ``hashed``
    CTE); Catalyst inlines it into two scans, DuckDB materializes it.
    """
    band_selects = _band_selects(d, num_perm, bands)
    if band_freq_cap is not None:
        band_selects = f"""
      SELECT did, band, bkey FROM (
        SELECT did, band, bkey, COUNT(*) OVER (PARTITION BY band, bkey) AS nf
        FROM ({band_selects})
      ) WHERE nf <= {int(band_freq_cap)}"""
    if d.name == "spark":
        tset = "collect_set(h)"
        inter = "size(array_intersect(a.hs, b.hs))"
        setsize = "size"
    else:
        tset = "list(DISTINCT h)"
        inter = "len(list_filter(a.hs, x -> list_contains(b.hs, x)))"
        setsize = "len"
    # union = n_a + n_b - inter >= max(n_a, n_b) >= 1 for any candidate
    # (docs with zero shingles have no sigw row, so never become one).
    jaccard = "(CAST(n_inter AS DOUBLE) / CAST(n_sum - n_inter AS DOUBLE))"
    return f"""
    WITH {_minhash_sig_cte(d, table, id_col, text_col, num_perm, shingle_k, seed)},
    tsets AS (
      SELECT did, {tset} AS hs
      FROM hashed
      GROUP BY did
    ),
    bands AS ({band_selects}),
    cand AS (
      SELECT x.did AS did_a, y.did AS did_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.did < y.did
      GROUP BY x.did, y.did
    ),
    pairs AS (
      SELECT cand.did_a, cand.did_b,
             {inter} AS n_inter,
             {setsize}(a.hs) + {setsize}(b.hs) AS n_sum
      FROM cand
      JOIN tsets a ON a.did = cand.did_a
      JOIN tsets b ON b.did = cand.did_b
    )
    SELECT did_a AS doc_id_a, did_b AS doc_id_b, {jaccard} AS jaccard
    FROM pairs
    WHERE {jaccard} >= {threshold}
    """


def simhash_sql(
    d: Dialect, table: str, id_col: str, text_col: str, *, bits: int = 60
) -> str:
    """Per-doc SimHash over unigram token hashes: bit j of the output is
    the majority vote of bit j across the doc's token hashes (ties → 0).
    60 bits so the result fits signed int64 (md5_long is 60-bit)."""
    toks = d.tokens(text_col)
    shift = (lambda j: f"shiftright(h, {j})") if d.name == "spark" else (lambda j: f"(h >> {j})")
    votes = ",\n             ".join(
        f"SUM(CASE WHEN ({shift(j)} & 1) = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(bits)
    )
    recompose = " + ".join(f"(CASE WHEN v{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)" for j in range(bits))
    return f"""
    WITH exploded AS (
      SELECT {id_col} AS did, {_unnest(d, toks, "tok")}
      FROM {table}
    ),
    hashed AS (
      SELECT did, {d.md5_long("tok")} AS h FROM exploded
    ),
    votes AS (
      SELECT did,
             {votes}
      FROM hashed
      GROUP BY did
    )
    SELECT did AS doc_id, ({recompose}) AS simhash
    FROM votes
    """


# ---------------------------------------------------------------------------
# Operator wrappers (run the spark-dialect SQL against a DataFrame)
# ---------------------------------------------------------------------------

_SPARK = Dialect("spark")
_VIEW_SEQ = [0]


def _run(df: DataFrame, sql_fn, *args, **kwargs) -> DataFrame:
    _VIEW_SEQ[0] += 1
    view = f"_ts_dedup_in_{_VIEW_SEQ[0]}"
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(sql_fn(_SPARK, view, *args, **kwargs))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return _run(df, exact_dedup_sql, id_col, text_col)


def build_dedup_index(df: DataFrame, id_col: str, text_col: str, path: str) -> None:
    """Materialize the corpus's exact-dedup fingerprint table —
    ``{path}/hashes`` (text_hash = md5(text), kept_id = first ingested
    id), repartitioned by hash so an incremental screen equi-joins
    hash-clustered files — then ``params`` LAST (the completeness
    marker). This is the ingestion-side answer to "a daily increment
    must not re-scan the 100 TB corpus": the corpus is hashed ONCE; each
    increment thereafter joins only the (increment × fingerprint-table)
    pair. Same contract as the BM25/ANN persisted artifacts."""
    require_columns(df, (id_col, text_col))
    spark = df.sparkSession
    begin_build(spark, path)
    view = "_ts_ddb_in"
    df.createOrReplaceTempView(view)
    hashes = spark.sql(
        f"SELECT md5({text_col}) AS text_hash, MIN({id_col}) AS kept_id "
        f"FROM {view} GROUP BY md5({text_col})"
    )
    hashes.repartition("text_hash").write.mode("overwrite").parquet(f"{path}/hashes")
    commit_build(spark, path, dict(id_col=id_col, text_col=text_col))


def screen_new_docs(spark, path: str, new_df: DataFrame) -> DataFrame:
    """Incremental exact-dedup screen: admit only increment documents
    whose text hash appears neither in the persisted corpus fingerprints
    nor earlier in the increment itself (within-batch firsts by MIN id).
    Output: (kept_id AS <id_col>, text_hash) of accepted documents.
    The corpus side never re-scans — the anti-join touches the stored
    hash table only; within-batch dedup is one partial-aggregated
    groupBy over the increment."""
    p = read_params(spark, path)
    id_col, text_col = p["id_col"], p["text_col"]
    require_columns(new_df, (id_col, text_col))
    from pyspark.sql import functions as F

    firsts = (
        new_df.select(
            F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("_nid")
        )
        .groupBy("text_hash")
        .agg(F.min("_nid").alias(id_col))
    )
    corpus = read_artifact(spark, path, "hashes").select("text_hash")
    return firsts.join(corpus, "text_hash", "left_anti").select(id_col, "text_hash")


def append_dedup_index(spark, path: str, accepted: DataFrame) -> None:
    """Fold an increment's ACCEPTED documents into the fingerprint table
    (append-mode parquet — fingerprints are row-independent, so append ≡
    rebuild, the BM25 incremental-index contract). After the append, a
    re-screen of the same increment admits nothing — ingestion is
    idempotent (pinned in tests/test_dedup_similarity.py)."""
    p = read_params(spark, path)
    accepted.selectExpr(
        "text_hash", f"{p['id_col']} AS kept_id"
    ).repartition("text_hash").write.mode("append").parquet(f"{path}/hashes")


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, *, threshold: float, block_exprs: tuple[str, ...] = ("1",)
) -> DataFrame:
    return _run(df, ngram_jaccard_sql, id_col, text_col, threshold=threshold, block_exprs=block_exprs)


def _njp_hdist_select(d: Dialect, table: str, id_col: str, text_col: str,
                      block_exprs: tuple[str, ...]) -> str:
    """(did, blk0.., h): each doc's DISTINCT hashed-token set exploded,
    block attributes carried along — built from the SAME
    :func:`hashed_tokens_expr` feature as the all-pairs oracle, so
    'lossless vs the oracle' is structural (identical sets, identical
    sizes, identical jaccard values)."""
    blocks = ", ".join(f"{e} AS blk{i}" for i, e in enumerate(block_exprs))
    base = (f"SELECT {id_col} AS did, {blocks}, "
            f"{hashed_tokens_expr(d, text_col)} AS _hts FROM {table}")
    blk_cols = ", ".join(f"blk{i}" for i in range(len(block_exprs)))
    if d.name == "spark":
        # OUTER + null-filter on the generate output: a plain explode
        # over the _hts ATTRIBUTE makes InferFiltersFromGenerate add
        # `size(_hts) > 0 AND isnotnull(_hts)`, pushed below the
        # projection with the whole hashed-token chain inlined.
        # Row-identical: hashed tokens are never NULL, and NULL/empty
        # sets emit nothing under either form.
        return (f"SELECT did, {blk_cols}, h FROM ({base}) _njb "
                f"LATERAL VIEW OUTER explode(_hts) _njt AS h "
                f"WHERE h IS NOT NULL")
    return f"SELECT did, {blk_cols}, {_unnest(d, '_hts', 'h')} FROM ({base}) _njb"


def ngram_jaccard_prefix_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (1, 2),
    block_exprs: tuple[str, ...] = ("1",),
    staged_hdist: str | None = None,
    dist_partitions: int | None = None,
) -> str:
    """Blocked pairwise token Jaccard via PREFIX FILTERING — the
    LOSSLESS scale form of :func:`ngram_jaccard_sql` (r12 verdict's
    re-scope of the quadratic per-block comparator, measured 55× at 10×
    data): identical output — every pair with J ≥ num/den over distinct
    hashed-token sets within matching blocks — but candidate volume
    grows with TRUE-pair volume, not block size squared.

    The PPJoin lemma of :func:`prefix_jaccard_join_sql`, with the block
    key folded INTO the canonical order and the candidate join: each
    doc keeps its n − ⌈θ·n⌉ + 1 rarest tokens (document frequency
    ascending WITHIN its block — any order shared by block-mates
    satisfies the lemma, and rarest-first is what keeps join buckets
    self-limiting); a qualifying pair must share a prefix token in its
    block, so the (block, token) equi-join plus the integer mutual-size
    filter misses nothing, and the exact verify over the full sets
    keeps only true pairs.  All thresholds are exact integer
    cross-multiplications; the reported jaccard is the oracle's own
    expression (one IEEE division of exact integers, same
    ``greatest(union, 1)`` guard).

    Scale: one explode of the distinct-token stream; df and per-doc
    rank are one hash exchange each; the candidate join shuffles on
    (block, rare token); verify touches only |candidates| rows.  The
    all-pairs form stays registered as the ORACLE, so the driver proves
    losslessness on real data every round (the prefix_jaccard_join
    discipline).

    ``staged_hdist``: view holding :func:`_njp_hdist_select` output —
    the Spark front door checkpoints it (referenced 4×: sizes, df,
    rank, verify sets); the DuckDB oracle form inlines it.
    """
    num, den = int(threshold[0]), int(threshold[1])
    tset, inter, setsize, idiv = _ppj_exprs(d)
    ceil_tn = idiv(f"({num} * n + {den} - 1)", f"{den}")
    nblk = len(block_exprs)
    blk_cols = ", ".join(f"blk{i}" for i in range(nblk))
    t_blks = ", ".join(f"t.blk{i}" for i in range(nblk))
    f_on = " AND ".join(f"f.blk{i} = t.blk{i}" for i in range(nblk))
    c_on = " AND ".join(f"a.blk{i} = b.blk{i}" for i in range(nblk))
    hdist = (f"SELECT * FROM {staged_hdist}" if staged_hdist
             else _njp_hdist_select(d, table, id_col, text_col, block_exprs))
    jaccard = ("(CAST(n_inter AS DOUBLE) / "
               "CAST(greatest(n_sum - n_inter, 1) AS DOUBLE))")
    # Spark-only candidate spread before the verify folds — see
    # prefix_jaccard_join_sql.
    chint = ""
    if dist_partitions and d.name == "spark":
        chint = f"/*+ REPARTITION({dist_partitions}) */ "
    return f"""
    WITH _njh AS (
      {hdist}
    ),
    _njn AS (
      SELECT did, CAST(COUNT(*) AS BIGINT) AS n FROM _njh GROUP BY did
    ),
    _njf AS (
      SELECT {blk_cols}, h, CAST(COUNT(*) AS BIGINT) AS dfc
      FROM _njh GROUP BY {blk_cols}, h
    ),
    _njp AS (
      SELECT did, {blk_cols}, h, n FROM (
        SELECT t.did AS did, {t_blks}, t.h AS h, n.n AS n,
               ROW_NUMBER() OVER (PARTITION BY t.did
                                  ORDER BY f.dfc, t.h) AS rnk
        FROM _njh t JOIN _njf f ON {f_on} AND f.h = t.h
        JOIN _njn n ON n.did = t.did
      ) _njr WHERE rnk <= (n - {ceil_tn} + 1)
    ),
    _njc AS (
      SELECT {chint}a.did AS did_a, b.did AS did_b
      FROM _njp a JOIN _njp b
        ON {c_on} AND a.h = b.h AND a.did < b.did
       AND {den} * LEAST(a.n, b.n) >= {num} * GREATEST(a.n, b.n)
      GROUP BY a.did, b.did
    ),
    _njts AS (
      SELECT did, {tset} AS hs FROM _njh GROUP BY did
    ),
    _njv AS (
      SELECT c.did_a, c.did_b,
             {inter} AS n_inter,
             {setsize}(a.hs) + {setsize}(b.hs) AS n_sum
      FROM _njc c
      JOIN _njts a ON a.did = c.did_a
      JOIN _njts b ON b.did = c.did_b
    )
    SELECT did_a AS doc_id_a, did_b AS doc_id_b, {jaccard} AS jaccard
    FROM _njv
    WHERE {den} * n_inter >= {num} * (n_sum - n_inter)
    """


def ngram_jaccard_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (1, 2),
    block_exprs: tuple[str, ...] = ("1",),
) -> DataFrame:
    """DataFrame front door for :func:`ngram_jaccard_prefix_sql` —
    stages the exploded distinct-token relation once (lazy
    localCheckpoint; referenced 4×, and Catalyst would otherwise replan
    the tokenize → hash → distinct → explode subtree per reference)."""
    from ..functions.text_fns import SPARK as _S

    for c in (id_col, text_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    spark = df.sparkSession
    view = "_ts_njp_in"
    df.createOrReplaceTempView(view)
    staged = spark.sql(
        _njp_hdist_select(_S, view, id_col, text_col, block_exprs)
    ).localCheckpoint(eager=False)
    sview = "_ts_njp_hdist"
    staged.createOrReplaceTempView(sview)
    return spark.sql(
        ngram_jaccard_prefix_sql(
            _S, view, id_col, text_col, threshold=threshold,
            block_exprs=block_exprs, staged_hdist=sview,
            dist_partitions=spark.sparkContext.defaultParallelism,
        )
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, **kw) -> DataFrame:
    return _run(df, minhash_signatures_sql, id_col, text_col, **kw)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str, **kw) -> DataFrame:
    return _run(df, minhash_lsh_pairs_sql, id_col, text_col, **kw)


def lsh_verified_neardup(df: DataFrame, id_col: str, text_col: str, **kw) -> DataFrame:
    return _run(df, lsh_verified_neardup_sql, id_col, text_col, **kw)


def neardup_clusters_oracle_sql(
    d: Dialect, table: str, id_col: str, text_col: str, **kw
) -> str:
    """DuckDB-only oracle for :func:`neardup_clusters`: connected
    components over the verified near-dup pair graph via WITH RECURSIVE
    (min reachable id = component label). The recursion is the ORACLE
    formulation; the Spark side is iterative label propagation
    (:func:`neardup_clusters`) because a recursive join is exactly the
    unbounded-depth plan you don't want on a cluster — the iterative form
    bounds each step to one shuffle over the (shrinking) frontier."""
    pairs_sql = lsh_verified_neardup_sql(d, table, id_col, text_col, **kw)
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
      UNION ALL
      SELECT doc_id_b, doc_id_a FROM pairs
    ),
    verts AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, lbl) AS (
      SELECT id, id FROM verts
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.id = e.b
    ),
    labeled AS (
      SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM labeled
    """


def neardup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_iterations: int = 25,
    **kw,
) -> DataFrame:
    """Near-dup CLUSTER assignment — the step after pair detection in a
    real dedup pipeline: group transitively-connected near-dups into
    components and pick one canonical doc (min id) per component, so
    "keep one per cluster" is a filter on ``is_canonical``.

    Spark-first formulation: iterative min-label propagation (the Pregel
    / GraphX connected-components recurrence expressed in DataFrame ops).
    Each iteration is ONE shuffle (edge-label join + min-agg per vertex);
    convergence needs O(component diameter) iterations — near-dup
    clusters are shallow (dup clusters of text corpora are near-cliques:
    2-4 hops), so the loop runs ~3 times in practice. The driver-side
    loop iterates over ITERATIONS (a scalar per step), never over rows;
    ``localCheckpoint`` truncates lineage so the plan doesn't grow with
    the iteration count.

    Output: (doc_id, cluster_id, cluster_size, is_canonical) for every
    doc that appears in at least one verified pair. Singletons are
    deliberately absent — at 100 TB the pair graph is ≪ the corpus, and
    everything not in it is trivially its own canonical.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pairs = lsh_verified_neardup(df, id_col, text_col, **kw)
    # propagate, not star: near-dup pair graphs are near-cliques (2-4
    # hops), where one-hop propagation converges in ~3 cheap rounds and
    # star's per-round fixpoint checks cost more than they save. The
    # star strategy is the deep-graph/100 TB path (see
    # connected_components; graded on event chains in queries.py).
    labels = connected_components(
        pairs.selectExpr("doc_id_a AS src", "doc_id_b AS dst"),
        max_iterations=max_iterations,
        strategy="propagate",
    )
    w_size = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    return labels.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        w_size.cast("bigint").alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


def connected_components(
    edge_pairs: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    strategy: str = "star",
) -> DataFrame:
    """General connected-components over an undirected edge list.

    Two strategies, identical output contract — (id, cluster_id =
    minimum vertex id in the component) for every vertex with at least
    one edge; both property-tested against a union-find reference on
    random AND adversarially-skewed graphs (long paths, hub stars,
    cliques bridged by chains):

    * ``"star"`` (default): large-star/small-star alternation (Kiveris
      et al., *Connected Components in MapReduce and Beyond*, 2014).
      Each round rewires every vertex's larger/smaller neighbors onto
      its local minimum, collapsing components into stars in
      **O(log² n) rounds** independent of graph diameter — the 100 TB
      path, where a propagation bounded by diameter would need one
      shuffle per hop on e.g. chain-shaped near-dup graphs. Per round:
      a groupBy-min (map-side combinable — hub vertices partial-agg
      before the shuffle, so a mega-component's label never funnels
      through one reducer) + a unique-key join back; the edge count
      never exceeds the input edge count, so no round amplifies data.
    * ``"propagate"``: one-hop min-label propagation (the Pregel/GraphX
      recurrence) — one shuffle per hop, O(diameter) hops. Kept as the
      independently-derived comparator the property tests cross-check,
      and the better plan for known-shallow graphs (dup near-cliques:
      2-4 hops).

    Both raise rather than return split components when
    ``max_iterations`` is hit before the fixpoint. The driver loop
    iterates over iterations (scalar counts per step), never rows;
    ``localCheckpoint`` truncates lineage so the plan stays flat.
    """
    if strategy == "star":
        return _cc_star(edge_pairs, src=src, dst=dst, max_iterations=max_iterations)
    if strategy != "propagate":
        raise ValueError(f"strategy must be 'star' or 'propagate', got {strategy!r}")
    from pyspark.sql import functions as F

    edges = edge_pairs.selectExpr(f"{src} AS src", f"{dst} AS dst").unionAll(
        edge_pairs.selectExpr(f"{dst} AS src", f"{src} AS dst")
    )
    edges = edges.localCheckpoint()  # upstream (e.g. pair screen) runs ONCE
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "lbl", F.col("id")
    )
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                (F.col("lbl") != F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl"))).alias("_chg"),
            )
        ).localCheckpoint()
        changed = new_labels.where("_chg").count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        # falling through with changed > 0 would return SPLIT components
        # silently (labels short of the fixpoint) — a diameter >
        # max_iterations graph must fail loudly, not emit wrong clusters.
        if changed > 0:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{max_iterations} iterations ({changed} labels still "
                f"changing) — raise max_iterations for this graph"
            )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def _cc_star(
    edge_pairs: DataFrame, *, src: str, dst: str, max_iterations: int
) -> DataFrame:
    """Large-star/small-star connected components (see
    :func:`connected_components`, strategy='star').

    Invariants per round (the paper's): large-star connects every
    neighbor LARGER than u to u's local minimum m(u) = min(N(u) ∪ {u});
    small-star (over edges oriented child>parent) connects u and its
    smaller neighbors to m(u). Neither step grows the edge count past
    the input's, both preserve connectivity, and the alternation reaches
    the all-stars fixpoint in O(log² n) rounds.

    Fixpoint test (ONE job per round, which doubles as the lazy
    checkpoint's materializer): the edge set is a forest of stars iff
    (a) no child has two distinct parents and (b) no parent is itself a
    child. Soundness: every produced edge is oriented child > parent
    (small-star emits (u, m) and (v, m) with m the group minimum, so
    parent < child always); under (a)+(b) each connected piece is a
    depth-1 tree whose unique root is smaller than every leaf, and since
    both steps preserve connectivity, that root is the original
    component's minimum — exactly the label contract."""
    from pyspark.sql import functions as F

    # oriented child>parent: (u, v) with u > v; self-loops dropped
    edges = (
        edge_pairs.selectExpr(
            f"greatest({src}, {dst}) AS u", f"least({src}, {dst}) AS v"
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # Size the iterated frame's width by its DATA, not the session's
    # core count (guide §2 — partitioning that scales): every star
    # round re-reads this checkpoint as the map side of its exchanges,
    # and a tiny graph spread over defaultParallelism partitions pays
    # per-task scheduling on every one of ~10 rounds (the r14 scaling
    # block measured graph queries FASTER at 8 cores than 32 for
    # exactly this reason).  coalesce is narrow — no shuffle — and at
    # real scale n_edges/20k exceeds the core count, leaving full width.
    n_edges = edges.count()
    dp = max(1, edges.sparkSession.sparkContext.defaultParallelism)
    parts = max(1, min(dp, n_edges // 20_000 + 1))
    if parts < edges.rdd.getNumPartitions():
        edges = edges.coalesce(parts)
    # vertex set from the ORIGINAL pairs (not the self-loop-filtered edge
    # set) so a vertex appearing only in self-loops still gets a label —
    # matching the propagate strategy's contract exactly
    vertices = (
        edge_pairs.selectExpr(f"{src} AS id")
        .unionAll(edge_pairs.selectExpr(f"{dst} AS id"))
        .distinct()
        .localCheckpoint()
    )

    def _sym_stats(e: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(sym, m): symmetric neighborhoods of the (distinct, oriented
        child>parent) edge set, and ONE aggregation per node carrying
        m = min(N(u) ∪ {u}) PLUS the node's child-edge and parent-edge
        counts — the star-forest conditions ride the min-label exchange
        the round pays anyway (guide §2.4: two operations keyed the same
        way share one exchange), so convergence costs no extra shuffle."""
        sym = e.select("u", "v", F.lit(1).alias("_c")).unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"), F.lit(0).alias("_c"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"),
            F.sum("_c").alias("_nc"),
            F.sum(1 - F.col("_c")).alias("_np"),
        )
        return sym, m

    def _large_star(sym: DataFrame, m: DataFrame) -> DataFrame:
        # larger nbrs → m. No distinct here: duplicates can't change
        # small-star's min-aggs and its output distinct restores the
        # canonical set — one fewer shuffle per round.
        return (
            sym.join(m.select("u", "m"), "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is oriented u > v: every neighbor of u here is smaller, so
        # m = min neighbors; u and its other smaller nbrs attach to m
        m = e.groupBy("u").agg(F.min("v").alias("m"))
        with_m = e.join(m, "u")
        own = m.select(F.col("u"), F.col("m").alias("v"))
        moved = with_m.where(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        return own.unionAll(moved).where(F.col("u") != F.col("v")).distinct()

    done = 0
    while True:
        # The round's first aggregation doubles as the star-forest probe
        # (the r13 probe was a separate count_distinct + semi-join pass
        # over the new edge set — one full extra exchange per round):
        # the current edge set is a forest of stars iff no node is a
        # child twice (_nc > 1: two distinct parents, e is distinct) or
        # a child and a parent at once (_nc > 0 AND _np > 0). Soundness
        # argument unchanged from the r13 probe (see docstring above).
        sym, m = _sym_stats(edges)
        m = m.localCheckpoint(eager=False)  # probe materializes; join reuses
        if m.where("_nc > 1 OR (_nc > 0 AND _np > 0)").isEmpty():
            break
        if done >= max_iterations:
            raise RuntimeError(
                f"connected_components(star) did not converge within "
                f"{max_iterations} rounds — raise max_iterations for this graph"
            )
        # One round per checkpointed job.  Grouping G rounds into one
        # lazy plan (the kcore grouping) measured NEGATIVE here: it
        # re-executes the duplicated sym/m subtrees, because exchange
        # reuse does not collapse them across the large-star/small-star
        # alternation (the two consumers differ in projection, so their
        # exchanges are not identical), and the work grows ~2^G.  The
        # sf0.1 chain graph measured 9.9 s at G=1, 14.3 s at G=2 and
        # 50.1 s at G=3 (fresh-JVM best-of-2).  The kcore win does not
        # transfer because kcore's within-group references are
        # semi-joins against ONE shared relation, not an alternation.
        edges = _small_star(_large_star(sym, m)).localCheckpoint(eager=False)
        done += 1
    # all-stars fixpoint: each non-minimum vertex has exactly its
    # component minimum as parent; minima have no outgoing edge
    return vertices.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("_parent")),
        "id",
        "left",
    ).select("id", F.coalesce("_parent", "id").alias("cluster_id"))


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 60) -> DataFrame:
    return _run(df, simhash_sql, id_col, text_col, bits=bits)


def _simhash_band_tail(
    d: Dialect,
    id_col: str,
    *,
    bits: int,
    k: int,
    bands: int,
) -> str:
    """The banded Hamming-ball pair screen over a ``_shs`` relation
    (did, simhash) — shared VERBATIM by the one-statement form
    (:func:`simhash_neardup_sql`, the oracle) and the staged front door
    (:func:`simhash_neardup`), the _hx_tail discipline.

    Pigeonhole blocking (Manku, Jain & Das Sarma 2007 §3): split the
    signature into ``bands`` equal bit-slices; two signatures within
    Hamming distance ``k < bands`` MUST agree on at least one slice
    (k flipped bits can dirty at most k < bands slices) — so slice
    equality is a LOSSLESS candidate key for the ≤ k ball, the banded
    MinHash-LSH discipline applied to Hamming space.  Candidates come
    from one self-equi-join per slice value (never all-pairs); the
    exact distance verifies via bit_count(xor) on candidate pairs
    only.  Distance-0 duplicates surface too (every slice agrees).
    """
    if bits % bands != 0:
        raise ValueError(f"bands must divide bits, got {bits} % {bands}")
    if not (0 <= k < bands):
        raise ValueError(f"need 0 <= k < bands for lossless blocking, got k={k}")
    width = bits // bands
    mask = (1 << width) - 1
    shift = (
        (lambda e, j: f"shiftright({e}, {j})")
        if d.name == "spark"
        else (lambda e, j: f"({e} >> {j})")
    )
    band_rows = " UNION ALL ".join(
        f"SELECT did, simhash, {j} AS band_idx, "
        f"({shift('simhash', j * width)} & {mask}) AS band_val FROM _shs"
        for j in range(bands)
    )
    if d.name == "spark":
        ham = "bit_count(x_sig ^ y_sig)"
    else:
        ham = "bit_count(xor(x_sig, y_sig))"
    return f"""
    _shb AS (
      {band_rows}
    ),
    _shc AS (
      SELECT DISTINCT x.did AS id_a, y.did AS id_b,
             x.simhash AS x_sig, y.simhash AS y_sig
      FROM _shb x JOIN _shb y
        ON y.band_idx = x.band_idx AND y.band_val = x.band_val
       AND x.did < y.did
    )
    SELECT id_a AS {id_col}_a, id_b AS {id_col}_b,
           CAST({ham} AS INT) AS hamming
    FROM _shc
    WHERE {ham} <= {int(k)}
    ORDER BY id_a, id_b
    """


def simhash_neardup_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    bits: int = 60,
    k: int = 3,
    bands: int = 4,
) -> str:
    """SimHash near-duplicate PAIRS within Hamming distance ``k``: the
    signature tier's missing join — :func:`simhash_sql` gives each doc
    a 60-bit majority-vote fingerprint whose Hamming distance tracks
    cosine similarity of the token multiset (Charikar 2002), and this
    screen finds every pair within ``k`` flipped bits WITHOUT a
    pairwise scan, via the pigeonhole band blocking of
    :func:`_simhash_band_tail` (lossless for k < bands, Manku et al.
    2007 — Google's production web-dedup design).

    Complements the other near-dup tiers: MinHash-LSH is probabilistic
    in candidate RECALL (a true pair can miss every band); the SimHash
    band screen is DETERMINISTICALLY lossless for its ball but the
    ball is Hamming, not Jaccard.  Exact verification (bit_count of
    xor) touches candidate pairs only.

    Scale shape: the signature relation is one explode + one (doc)
    groupBy (the simhash_sql plan); bands are a bands× row expansion
    of the SIGNATURE relation (4 rows/doc — not the corpus); ONE
    shuffle on (band_idx, band_val); verify is per candidate pair.
    Boilerplate-heavy corpora skew band buckets exactly like LSH bands
    — the band-frequency cap pattern applies unchanged if needed.
    """
    return f"""
    WITH _shs AS (
      SELECT doc_id AS did, simhash
      FROM ({simhash_sql(d, table, id_col, text_col, bits=bits)}) _shsi
    ),
    {_simhash_band_tail(d, id_col, bits=bits, k=k, bands=bands).strip()}
    """


def simhash_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 60,
    k: int = 3,
    bands: int = 4,
) -> DataFrame:
    """DataFrame front door for :func:`simhash_neardup_sql`, with the
    signature relation STAGED (lazy localCheckpoint): ``_shs`` feeds
    ``bands`` UNION ALL branches and Catalyst inlines CTEs per
    reference, so the one-statement form would run the 60-vote
    signature aggregation ``bands`` times."""
    from ..functions.text_fns import SPARK as _S_sh

    staged = simhash(df, id_col, text_col, bits=bits).localCheckpoint(eager=False)
    staged.createOrReplaceTempView("_ts_shs_staged")
    return df.sparkSession.sql(f"""
    WITH _shs AS (SELECT doc_id AS did, simhash FROM _ts_shs_staged),
    {_simhash_band_tail(_S_sh, id_col, bits=bits, k=k, bands=bands).strip()}
    """)


def ngram_jaccard_pairs_blas(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float,
    block_exprs: tuple[str, ...] = ("1",),
) -> DataFrame:
    """Same pairs and jaccard values as :func:`ngram_jaccard_pairs`,
    different physical strategy: per-block dense doc×token incidence
    matrix, intersection counts via ONE BLAS matmul per block.

    Tokens are staged by the SAME Spark SQL expression as the SQL form
    (distinct xxhash64 of the shared tokenizer), so the feature sets are
    identical by construction; intersection counts are exact small
    integers in float64 and the jaccard division is the same IEEE double
    op the SQL expression performs — bit-identical output, verified
    against the unchanged DuckDB oracle.

    Why this beats the per-pair expression: array_intersect allocates and
    hashes per PAIR (1.1M pairs × ~47-element arrays at sf0.1); the
    incidence matmul is n²·|vocab_block| fused multiply-adds in dgemm.
    Blocks are whole groups per applyInPandas call (mapInPandas could
    split one across Arrow batches and silently drop cross-batch pairs —
    same reasoning as embedding_neardup_pairs_blas). Memory is
    n_block × vocab_block doubles (~30 MB at the sf0.1 worst block);
    at 100 TB, finer blocking bounds both sides.
    """
    import numpy as np
    import pandas as pd

    for c in (id_col, text_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")

    toks = hashed_tokens_expr(_SPARK, text_col)
    blocks = [f"({e}) AS _blk{i}" for i, e in enumerate(block_exprs)]
    blk_cols = [f"_blk{i}" for i in range(len(block_exprs))]
    # NULL semantics mirror the SQL self-join exactly: a NULL text never
    # passes its size prefilter, and a NULL block key never satisfies
    # a.blk = b.blk — so both kinds of row pair with nothing and are
    # dropped here (Spark's groupBy would otherwise pool NULL blocks
    # into one joinable group).
    staged = df.selectExpr(f"{id_col} AS _did", *blocks, f"{toks} AS _toks").where(
        " AND ".join(f"{c} IS NOT NULL" for c in ["_toks", *blk_cols])
    )

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id_a": [], "doc_id_b": [], "jaccard": []})
        if len(pdf) < 2:
            return empty
        ids = pdf["_did"].to_numpy()
        tok_arrays = [np.asarray(t, dtype=np.int64) for t in pdf["_toks"]]
        lens = np.array([len(t) for t in tok_arrays])
        # all-empty token sets stay in: at threshold 0.0 the SQL form
        # emits their jaccard-0 pairs, and the matmul below is exact for
        # an empty vocab (B is n×0, intersections all 0).
        all_toks = np.concatenate(tok_arrays) if tok_arrays else np.array([], dtype=np.int64)
        vocab, inverse = np.unique(all_toks, return_inverse=True)
        B = np.zeros((len(ids), len(vocab)), dtype=np.float64)
        B[np.repeat(np.arange(len(ids)), lens), inverse] = 1.0
        inter = B @ B.T
        iu, ju = np.triu_indices(len(ids), k=1)
        n_inter = inter[iu, ju]
        n_sum = lens[iu] + lens[ju]
        # identical formula to the SQL expression, including greatest(,1)
        jac = n_inter / np.maximum(n_sum - n_inter, 1).astype(np.float64)
        m = jac >= threshold
        a, b = ids[iu[m]], ids[ju[m]]
        return pd.DataFrame(
            {
                "doc_id_a": np.minimum(a, b),
                "doc_id_b": np.maximum(a, b),
                "jaccard": jac[m],
            }
        )

    # the pair-id type follows the input id column (string/int ids work
    # alike — np.minimum/maximum compare elementwise for both)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"doc_id_a {id_type}, doc_id_b {id_type}, jaccard double"
    return staged.groupBy(*blk_cols).applyInPandas(lambda p: _block(p), schema)


def exact_substring_pairs_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    min_shared: int = 1,
    gram_doc_cap: int | None = None,
) -> str:
    """Exact-substring cross-document duplication (the ExactSubstr signal
    of Lee et al. 2022, arXiv:2107.06499, re-based from suffix arrays to
    the shuffle-join primitives Spark has): two documents are flagged
    when they share at least ``min_shared`` IDENTICAL ``k``-token
    windows — verbatim copy-paste that MinHash (set overlap, order-blind)
    and SimHash (global profile) both dilute on long documents.

    Shape: tokenize once, explode k-shingles, hash each window with the
    shared 60-bit md5 (computed once per window — the explode→hash→agg
    discipline of this module), DISTINCT per (doc, window-hash), then a
    window-hash equi-join counts shared windows per pair.  Never
    all-pairs: candidates exist only where a window hash collides.

    ``gram_doc_cap`` is the boilerplate mitigation, same rule as
    ``band_freq_cap``: a window occurring in more than ``cap`` documents
    (license headers, navigation chrome) is dropped before pairing, so
    pair volume per surviving window is bounded by cap·(cap-1)/2; the
    mega-template itself is cheaper to collapse by exact dedup first.

    Output: (doc_id_a, doc_id_b, n_shared_windows), doc_id_a < doc_id_b.
    A true suffix-array pass also yields the maximal span length;
    windowed hashing trades that for distributability — n_shared_windows
    of a contiguous copied span of length L is L - k + 1, so span length
    is recoverable as n_shared_windows + k - 1 when the share is one
    contiguous block.
    """
    shingles = d.shingles("toks", k)
    grams = f"""
      SELECT DISTINCT did, {d.md5_long("sh")} AS g FROM (
        SELECT did, {_unnest(d, shingles, "sh")} FROM base
      )"""
    if gram_doc_cap is not None:
        grams = f"""
      SELECT did, g FROM (
        SELECT did, g, COUNT(*) OVER (PARTITION BY g) AS nf
        FROM ({grams})
      ) WHERE nf <= {int(gram_doc_cap)}"""
    return f"""
    WITH base AS (
      SELECT {id_col} AS did, {d.tokens(text_col)} AS toks FROM {table}
    ),
    grams AS ({grams})
    SELECT a.did AS doc_id_a, b.did AS doc_id_b, COUNT(*) AS n_shared_windows
    FROM grams a JOIN grams b ON a.g = b.g AND a.did < b.did
    GROUP BY a.did, b.did
    HAVING COUNT(*) >= {int(min_shared)}
    """


def exact_substring_pairs(
    df: DataFrame, id_col: str, text_col: str, **kw
) -> DataFrame:
    return _run(df, exact_substring_pairs_sql, id_col, text_col, **kw)


def _ssr_pos_explode(d: Dialect, table: str, id_col: str, arr_expr: str,
                     elem_alias: str, where: str) -> str:
    """(did, pos, {elem_alias}) from positionally exploding ``arr_expr``
    — Spark 0-based posexplode / DuckDB 1-based unnest-range (the
    line_dedup pattern).  Cross-engine safety: each engine is
    SELF-consistent (token and window positions share one base), and
    every cross-position computation downstream is base-shift-invariant
    (argmin ordering, within-doc frames) — positions never reach the
    output.

    Spark uses OUTER posexplode: plain posexplode makes Catalyst infer a
    ``size(_arr) > 0`` constraint and push it into the FILE SCAN, where
    the whole ``arr_expr`` chain (tokenize + shingle build, interpreted
    HOFs) re-evaluates per row at scan parallelism — measured 4.87 →
    1.37 s on the winnow fingerprint relation at sf0.1.  Row-identical
    for every caller: either ``where`` guarantees a non-empty array
    (shingles clamp to ≥ 1 element) or the caller filters the element
    downstream (NULL never passes an IN/equality) — a NEW caller must
    keep one of those two properties."""
    if d.name == "spark":
        return (
            f"SELECT did, pos, {elem_alias} FROM "
            f"(SELECT {id_col} AS did, {arr_expr} AS _arr FROM {table} WHERE {where}) "
            f"LATERAL VIEW OUTER posexplode(_arr) t AS pos, {elem_alias}"
        )
    return (
        f"SELECT did, i AS pos, _arr[i] AS {elem_alias} FROM "
        f"(SELECT did, _arr, unnest(range(1, len(_arr) + 1)) AS i FROM "
        f"(SELECT {id_col} AS did, {arr_expr} AS _arr FROM {table} WHERE {where}))"
    )


def _ssr_wins_from_tokens(d: Dialect, tk_rel: str, k: int) -> str:
    """(did, pos, g) from a (_sid, toks) tokenized relation: every
    k-token window start with its 60-bit gram hash — the shared gram
    construction of the excision statement."""
    where = f"toks IS NOT NULL AND {d.size('toks')} >= 1"
    inner = _ssr_pos_explode(d, tk_rel, "_sid", d.shingles("toks", k),
                             "sh", where)
    return f"SELECT did, pos, {d.md5_long('sh')} AS g FROM ({inner})"


def _ssr_tokens_select(d: Dialect, table: str, id_col: str,
                       text_col: str) -> str:
    """The tokenize projection the window builder consumes — split out
    so the Spark front door can STAGE it (localCheckpoint): Catalyst
    pushes the explode's not-null/size predicates down into the scan,
    re-inlining the tokens() split 3-4× per row (measured 5.5 s vs
    0.4 s for the projection alone at sf0.1); a materialized token
    frame makes tokenization a guaranteed single pass."""
    return f"SELECT {id_col} AS _sid, {d.tokens(text_col)} AS toks FROM {table}"


def _ssr_wins_select(d: Dialect, table: str, id_col: str, text_col: str,
                     k: int) -> str:
    """One-statement (did, pos, g) form over the raw table — the oracle
    text; the Spark front door replaces the inline tokens subquery with
    its checkpointed twin (same rendered fragments)."""
    staged = f"({_ssr_tokens_select(d, table, id_col, text_col)}) _srwb"
    return _ssr_wins_from_tokens(d, staged, k)


# position bound for the (did, pos) → BIGINT occurrence encoding:
# pos < 2^20 tokens per document and |did| < 2^43 — the attribution
# encode-compare discipline (exact integer argmin, no struct-ordering
# dialect divergence).
_SSR_POS_MOD = 1 << 20


def _ssr_stats_body(d: Dialect, src: str, gram_doc_cap: int | None) -> str:
    """FLAGGED-gram statistics over a (did, pos, enc, g) relation: one
    HASH aggregation (map-side partial combine, never a sort) keeping
    ONLY grams that can flag a removal — n_occ ≥ 2 covers both rules,
    since ``n_docs > cap ≥ 1`` implies two occurrences.  The output is
    the kept-gram volume (duplicated grams only — a small fraction of
    the corpus on real data), which is what makes the join-back
    broadcast-able."""
    nd = ", COUNT(DISTINCT did) AS n_docs" if gram_doc_cap is not None else ""
    return (
        f"SELECT g, MIN(enc) AS min_enc{nd} FROM {src} "
        f"GROUP BY g HAVING COUNT(*) >= 2"
    )


def substring_remove_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    gram_doc_cap: int | None = None,
    staged_wins: str | None = None,
) -> str:
    """Duplicate-SPAN removal — the excision step of ExactSubstr dedup
    (Lee et al. 2022, arXiv:2107.06499 §4.1: "deduplicating the dataset
    by removing all but one occurrence of each repeated substring"),
    completing what :func:`exact_substring_pairs_sql` only FINDS: every
    k-token window whose gram repeats anywhere in the corpus is excised
    from every occurrence EXCEPT one canonical copy, and each document
    reassembles from its surviving tokens in original order (the
    line_dedup reassembly generalized from lines to token spans).

    Rules, all deterministic:

    * gram key = the shared 60-bit md5 over the k-token shingle — the
      same window hashing as exact_substring_pairs, so "pair found
      there" ≡ "span removed here";
    * canonical occurrence = the corpus-wide argmin of (doc, position),
      chosen via an exact integer encode (did·2^20 + pos — the
      attribution encode-compare idiom; bounds documented at
      ``_SSR_POS_MOD``), so exactly one copy of every duplicated span
      survives, in the earliest document;
    * a gram in more than ``gram_doc_cap`` documents is boilerplate and
      is removed EVERYWHERE (canonical included) — the band-freq-cap
      rule carried over as CCNet-style boilerplate semantics;
    * a token is removed when ANY removal-flagged window covers it
      (window start p covers token positions [p, p+k-1]);
    * documents shorter than k tokens form one undersized whole-doc
      window (the shingles() clamp), so exact whole-doc twins below k
      tokens still dedup.

    Shape (the r12 verdict's sf1 fix — the r11 window form sorted the
    ENTIRE gram stream inside its gram partitions, the measured ~16×
    superlinearity at 10× data): documents are SINGLE ROWS, so
    everything per-document is ROW-LOCAL array arithmetic — only the
    gram statistics need a shuffle, and they are now a HASH aggregation,
    never a sort.  ONE narrow explode+hash pass feeds a
    partial-aggregated groupBy(g) that keeps ONLY flaggable grams
    (n_occ ≥ 2 — see :func:`_ssr_stats_body`); the occurrence stream
    joins back against that small relation (AQE broadcast-converts it
    on real corpora, where duplicated grams are a few percent — the
    probe side then streams with ZERO additional exchange; a
    pathological all-duplicate corpus degrades to one more hash
    exchange, still sort-free), then ONLY the flagged (did, pos) rows —
    the removals — aggregate per doc and join back to the base table,
    where coverage expansion, token filtering, and reassembly are
    per-row array expressions (covered = distinct-flatten of the
    flagged spans; kept = ordered set-minus of positions; O(span
    tokens), hash-based — never a (did, pos) equi-join, never a
    corpus-wide sort).  The Spark front door materializes the window
    stream once (``staged_wins``), so the stats and probe references
    are two reads of local blocks, not two explodes — the same volume
    a single shuffle of the stream would have written.  A
    million-document boilerplate gram costs ONE stats row, not 10¹²
    pairs.  Output: ({id_col}, text_dedup, n_tokens, n_kept,
    n_removed) for every input row — NULL/empty docs reassemble to ''.

    ``staged_wins``: name of a view already holding the (did, pos, g)
    window stream (:func:`_ssr_wins_from_tokens` over checkpointed
    tokens) — the Spark front door materializes it ONCE so (a) the
    tokenize pass runs a single time (Catalyst's predicate pushdown
    otherwise re-inlines the split 3-4× per row — see
    :func:`_ssr_tokens_select`) and (b) the stats and probe references
    both read the materialized blocks instead of recomputing the
    explode; passing None (the DuckDB oracle) inlines the windows as a
    CTE, so staged ≡ one-statement is structural (shared rendered
    text).
    """
    if gram_doc_cap is not None and int(gram_doc_cap) < 1:
        # The stats relation keeps only n_occ >= 2 grams (n_docs > cap >= 1
        # implies two occurrences); cap 0 would flag single-occurrence
        # grams the stats filter has already dropped (ADVICE r13).
        raise ValueError(f"gram_doc_cap must be >= 1, got {gram_doc_cap}")
    toks = d.tokens(text_col)
    wins = (f"SELECT * FROM {staged_wins}" if staged_wins
            else _ssr_wins_select(d, table, id_col, text_col, k))
    enc = f"(did * {_SSR_POS_MOD} + pos)"
    if gram_doc_cap is not None:
        rm_pred = (f"s.n_docs > {int(gram_doc_cap)} OR "
                   f"w.enc <> s.min_enc")
    else:
        rm_pred = "w.enc <> s.min_enc"
    stats = _ssr_stats_body(d, "_srw", gram_doc_cap)
    # FAST PATH: most documents have NO removals (rps empty after the
    # LEFT JOIN) — their _cov stays NULL and the whole coverage/except/
    # index-reassembly machinery is skipped per row (CASE is lazy on
    # both engines); clean docs reassemble as a direct token join,
    # which is value-identical to keeping every index.
    if d.name == "spark":
        rps_agg = "array_sort(collect_list(pos))"
        empty = "CAST(array() AS ARRAY<INT>)"
        cov = (f"CASE WHEN size(_rps) > 0 THEN "
               f"array_distinct(flatten(transform(_rps, "
               f"p -> sequence(p, p + {int(k) - 1})))) END")
        kept = ("CASE WHEN _cov IS NOT NULL AND size(_tk) >= 1 THEN "
                "array_except(sequence(0, size(_tk) - 1), _cov) END")
        reasm = "concat_ws(' ', transform(_kept, i -> element_at(_tk, i + 1)))"
        clean = "concat_ws(' ', _tk)"
    else:
        rps_agg = "list_sort(list(pos))"
        empty = "[]"
        cov = (f"CASE WHEN len(_rps) > 0 THEN "
               f"list_distinct(flatten(list_transform(_rps, "
               f"p -> generate_series(p, p + {int(k) - 1})))) END")
        kept = ("CASE WHEN _cov IS NOT NULL THEN "
                "list_filter(generate_series(1, len(_tk)), "
                "i -> NOT list_contains(_cov, i)) END")
        reasm = "array_to_string(list_transform(_kept, i -> _tk[i]), ' ')"
        clean = "array_to_string(_tk, ' ')"
    n_kept = (f"CASE WHEN _cov IS NULL THEN {d.size('_tk')} "
              f"ELSE {d.size('_kept')} END")
    return f"""
    WITH _srw AS (
      SELECT did, pos, {enc} AS enc, g
      FROM ({wins})
    ),
    _srg AS ({stats}),
    _sra AS (
      SELECT w.did, {rps_agg} AS rps
      FROM _srw w JOIN _srg s ON w.g = s.g
      WHERE {rm_pred} GROUP BY w.did
    ),
    _srb AS (
      SELECT b.{id_col} AS did_out, {d.tokens(f"b.{text_col}")} AS _tk,
             COALESCE(a.rps, {empty}) AS _rps
      FROM {table} b LEFT JOIN _sra a ON a.did = b.{id_col}
    ),
    _src AS (SELECT did_out, _tk, {cov} AS _cov FROM _srb),
    _srk AS (SELECT did_out, _tk, _cov, {kept} AS _kept FROM _src)
    SELECT did_out AS {id_col},
           COALESCE(CASE WHEN _cov IS NULL THEN {clean}
                         ELSE {reasm} END, '') AS text_dedup,
           CAST(COALESCE({d.size('_tk')}, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE({n_kept}, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE({d.size('_tk')}, 0)
                - COALESCE({n_kept}, 0) AS BIGINT) AS n_removed
    FROM _srk
    """


def substring_remove(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 10,
    gram_doc_cap: int | None = None,
) -> DataFrame:
    """DataFrame entry point for :func:`substring_remove_sql`.  Stages
    (r12 verdict's sf1 fix) the tokenized corpus and then the (did,
    pos, g) window stream via localCheckpoint: tokenization runs
    exactly once (predicate pushdown otherwise re-inlines the split
    3-4× per row), and the stats + probe references of the excision
    statement both read the materialized window blocks instead of
    recomputing the explode — every remaining step is a hash
    aggregation or hash join, no corpus-wide sort anywhere."""
    from ..functions.text_fns import SPARK as _S

    for c in (id_col, text_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"substring_remove needs an integral id column for the "
            f"(doc, pos) canonical-occurrence encode; got {id_col!r} of "
            f"type {id_type} (see _SSR_POS_MOD)"
        )
    spark = df.sparkSession
    view = "_ts_ssr_in"
    df.createOrReplaceTempView(view)
    tkview = "_ts_ssr_tk"
    spark.sql(
        _ssr_tokens_select(_S, view, id_col, text_col)
    ).localCheckpoint(eager=False).createOrReplaceTempView(tkview)
    wview = "_ts_ssr_wins"
    spark.sql(
        _ssr_wins_from_tokens(_S, tkview, k)
    ).localCheckpoint(eager=False).createOrReplaceTempView(wview)
    return spark.sql(
        substring_remove_sql(
            _S, view, id_col, text_col, k=k, gram_doc_cap=gram_doc_cap,
            staged_wins=wview,
        )
    )


def line_dedup_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    max_line_docs: int = 5,
    min_line_chars: int = 10,
) -> str:
    """CCNet-style line/paragraph-level deduplication (Wenzek et al.
    2020, arXiv:1911.00359 §3.1, re-based from sequential shard hashing
    to the engine's shuffle-join primitives): drop every LINE whose
    trimmed content appears in more than ``max_line_docs`` documents —
    boilerplate (navigation chrome, cookie banners, license headers)
    repeats across pages while body prose does not — and reassemble each
    document from its surviving lines in original order.  The one
    standard corpus-dedup granularity between document-level
    (exact/MinHash/semantic) and window-level (ExactSubstr), closing
    that gap in the suite.

    Rules, all deterministic:

    * line key = 60-bit md5 of ``trim(line)`` — the explode→hash→agg
      discipline of this module; frequency = COUNT(DISTINCT doc) so
      in-document repetition (the repetition_filter signal) doesn't
      trigger cross-document dropping;
    * lines with fewer than ``min_line_chars`` trimmed chars are EXEMPT
      (blank lines, list bullets, '---' separators — document structure,
      not content; without the exemption every blank line in the corpus
      exceeds any cap and formatting is destroyed);
    * ``max_line_docs`` is the df-cap rule (the band-frequency-cap /
      gram_doc_cap pattern): it simultaneously defines "boilerplate" AND
      bounds the skew case — the frequency table is (key, count) rows,
      never a pair join, so a line shared by a million documents costs
      one counter, not 10¹² pairs.

    Shape: one split+explode, one partial-aggregated frequency count
    (shuffle on the 60-bit line key), one broadcast-friendly key join
    back, one groupBy(doc) reassembly ordered by line position.  Output:
    ({id_col}, text_dedup, n_lines, n_kept, n_dropped) for EVERY input
    row (all-lines-dropped documents reassemble to '').
    """
    lines_arr = d.split(text_col, "\\n")
    if d.name == "spark":
        ex = (
            # OUTER + null-filter ≡ plain posexplode (split() elements
            # are never NULL) — kills the inferred size(_ls)>0 scan
            # constraint that re-splits every row (_ssr_pos_explode).
            f"SELECT did, pos, line FROM "
            f"(SELECT {id_col} AS did, {lines_arr} AS _ls FROM {table}) "
            f"LATERAL VIEW OUTER posexplode(_ls) t AS pos, line "
            f"WHERE line IS NOT NULL"
        )
        # collect_list skips NULLs: dropped lines vanish before the sort
        reasm = (
            "concat_ws(chr(10), transform(array_sort(collect_list("
            "CASE WHEN NOT dropped THEN struct(pos, line) END)), s -> s.line))"
        )
    else:
        ex = (
            f"SELECT did, i AS pos, _ls[i] AS line FROM "
            f"(SELECT did, _ls, unnest(range(1, len(_ls) + 1)) AS i FROM "
            f"(SELECT {id_col} AS did, {lines_arr} AS _ls FROM {table}))"
        )
        reasm = (
            "string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT dropped)"
        )
    return f"""
    WITH lines AS ({ex}),
    keyed AS (
      SELECT did, pos, line,
             CASE WHEN length(trim(line)) >= {int(min_line_chars)}
                  THEN {d.md5_long("trim(line)")} END AS lkey
      FROM lines
    ),
    freq AS (
      SELECT lkey, COUNT(DISTINCT did) AS ndocs
      FROM keyed WHERE lkey IS NOT NULL GROUP BY lkey
    ),
    flagged AS (
      SELECT k.did, k.pos, k.line,
             (k.lkey IS NOT NULL AND COALESCE(f.ndocs, 0) > {int(max_line_docs)}) AS dropped
      FROM keyed k LEFT JOIN freq f ON f.lkey = k.lkey
    ),
    agg AS (
      SELECT did,
             COUNT(*) AS n_lines,
             SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS n_dropped,
             {reasm} AS text_dedup
      FROM flagged GROUP BY did
    )
    SELECT b.{id_col}, COALESCE(a.text_dedup, '') AS text_dedup,
           CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(COALESCE(a.n_lines, 0) - COALESCE(a.n_dropped, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(a.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM {table} b LEFT JOIN agg a ON a.did = b.{id_col}
    """


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_line_docs: int = 5,
    min_line_chars: int = 10,
) -> DataFrame:
    """DataFrame entry point for :func:`line_dedup_sql`."""
    return _run(
        df, line_dedup_sql, id_col, text_col,
        max_line_docs=max_line_docs, min_line_chars=min_line_chars,
    )


def soft_dedup_sql(
    d: Dialect, table: str, id_col: str, text_col: str, **kw
) -> str:
    """DuckDB-only oracle for :func:`soft_dedup` (wraps the recursive
    cluster oracle with the corpus left-join + the integer keep draw)."""
    clusters = neardup_clusters_oracle_sql(d, table, id_col, text_col, **kw)
    h32 = f"('0x' || substr(md5(CAST(d.{id_col} AS VARCHAR)), 1, 8))::BIGINT"
    return f"""
    WITH clusters AS ({clusters})
    SELECT d.{id_col} AS doc_id,
           COALESCE(c.cluster_id, d.{id_col}) AS cluster_id,
           COALESCE(c.cluster_size, 1) AS cluster_size,
           ({h32} * COALESCE(c.cluster_size, 1) < 4294967296) AS kept_soft,
           (({h32} * COALESCE(c.cluster_size, 1) < 4294967296)
            OR COALESCE(c.is_canonical, TRUE)) AS kept
    FROM {table} d LEFT JOIN clusters c ON c.doc_id = d.{id_col}
    """


def soft_dedup(
    df: DataFrame, id_col: str, text_col: str, *, max_iterations: int = 25, **kw
) -> DataFrame:
    """Soft (probabilistic) deduplication — DOWNWEIGHT duplicates instead
    of dropping all but one: every document survives with probability
    1/cluster_size via a deterministic md5 draw, so a cluster of k
    near-dups contributes ~1 expected survivor while which member
    survives is unbiased (hard canonical-only dedup always keeps the
    min id — a systematic bias toward whatever early ids correlate
    with).  Two flags:

    * ``kept_soft`` — the pure draw (E[survivors per cluster] = 1, but a
      cluster can lose every member);
    * ``kept``      — draw OR canonical (guarantees ≥1 survivor per
      cluster at the cost of a slight upward bias; singletons always
      kept).

    The draw is integer-exact cross-engine: 32-bit md5 prefix × size <
    2³², no float probability anywhere.  Shape: the near-dup cluster
    pass (pair screen + label propagation) + ONE left join back onto
    the corpus.  The join strategy is deliberately UNHINTED: the
    cluster frame's size is the duplicate population, and on the
    dup-saturated corpora dedup exists for (30-50% of a web crawl) it
    is O(n) rows — a forced broadcast would hit the ~8 GB build-side
    cliff by construction, and an explicit hint can't be overridden by
    AQE.  Left to AQE, the join broadcasts when the cluster frame's
    RUNTIME size is small (the common case) and falls back to a
    shuffle join when it isn't — the only plan that survives both
    regimes.
    """
    from pyspark.sql import functions as F

    for c in (id_col, text_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    clusters = neardup_clusters(
        df, id_col, text_col, max_iterations=max_iterations, **kw
    )
    base = df.select(F.col(id_col).alias("_sd_id"))
    h32 = F.expr("CAST(conv(substr(md5(CAST(_sd_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
    size = F.coalesce(F.col("cluster_size"), F.lit(1))
    draw = (h32 * size) < F.lit(4294967296)
    return (
        base.join(clusters, base["_sd_id"] == clusters["doc_id"], "left")
        .select(
            F.col("_sd_id").alias("doc_id"),
            F.coalesce(F.col("cluster_id"), F.col("_sd_id")).alias("cluster_id"),
            size.cast("bigint").alias("cluster_size"),
            draw.alias("kept_soft"),
            (draw | F.coalesce(F.col("is_canonical"), F.lit(True))).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental FUZZY dedup — persisted MinHash store + per-increment screen
# ---------------------------------------------------------------------------


def _verify_exprs(d: Dialect) -> tuple[str, str, str, str]:
    """(tset, inter, setsize, jaccard) fragments for exact shingle-set
    verification — the same texts lsh_verified_neardup_sql and
    decontaminate_fuzzy_sql inline; factored so the incremental screen's
    inline and persisted forms cannot drift from them."""
    if d.name == "spark":
        tset, inter, setsize = "collect_set(h)", "size(array_intersect(a.hs, b.hs))", "size"
    else:
        tset = "list(DISTINCT h)"
        inter = "len(list_filter(a.hs, x -> list_contains(b.hs, x)))"
        setsize = "len"
    jaccard = "(CAST(n_inter AS DOUBLE) / CAST(n_sum - n_inter AS DOUBLE))"
    return tset, inter, setsize, jaccard


def _fuzzy_screen_tail(
    d: Dialect, new_table: str, id_col: str, *, threshold: float
) -> str:
    """cand→pairs→hits→final SELECT of the inline (oracle) fuzzy screen,
    over CTEs ``bands``(did, band, bkey) and ``tsets``(did, hs) whose
    dids carry a ``'c:'``/``'n:'`` side tag.  The persisted (serve) form,
    screen_new_docs_fuzzy, applies the same candidate and verify rules
    without tags; oracle parity pins the two together.

    Candidate rule: an increment doc pairs with every same-band corpus
    doc, and with every SMALLER-id increment doc (min-id-wins within the
    batch, the semantic_dedup ``drops`` convention — a rejected near-dup
    still shadows its own later near-dups, keeping the screen one-pass
    and order-free).  The within-batch order compares the RAW id column
    in its NATIVE type (``nids`` maps did → raw id), never a cast of the
    tag-stripped string, so any orderable id type works on both engines.
    Verification is EXACT Jaccard over the hashed shingle sets, so
    acceptance is exact given the band screen (the
    lsh_verified_neardup_sql contract).  max_jaccard reports only
    at-or-above-threshold matches (0.0 for accepted docs), matching
    decontaminate_fuzzy_sql's ``hits`` convention."""
    _, inter, setsize, jaccard = _verify_exprs(d)
    cast = "STRING" if d.name == "spark" else "VARCHAR"
    return f"""
    nids AS (
      SELECT concat('n:', CAST({id_col} AS {cast})) AS did, {id_col} AS rid
      FROM {new_table}
    ),
    cand AS (
      SELECT y.did AS ndid, x.did AS odid
      FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
      LEFT JOIN nids xv ON xv.did = x.did
      LEFT JOIN nids yv ON yv.did = y.did
      WHERE y.did LIKE 'n:%'
        AND (x.did LIKE 'c:%'
             OR (x.did LIKE 'n:%' AND xv.rid < yv.rid))
      GROUP BY y.did, x.did
    ),
    pairs AS (
      SELECT cand.ndid,
             {inter} AS n_inter,
             {setsize}(a.hs) + {setsize}(b.hs) AS n_sum
      FROM cand
      JOIN tsets a ON a.did = cand.odid
      JOIN tsets b ON b.did = cand.ndid
    ),
    hits AS (
      SELECT ndid, MAX({jaccard}) AS max_jaccard
      FROM pairs
      WHERE {jaccard} >= {threshold}
      GROUP BY ndid
    )
    SELECT nt.{id_col} AS doc_id,
           COALESCE(h.max_jaccard, 0.0) AS max_jaccard,
           h.ndid IS NULL AS accepted
    FROM {new_table} nt
    LEFT JOIN hits h ON h.ndid = concat('n:', CAST(nt.{id_col} AS {cast}))
    """


def dedup_incremental_fuzzy_sql(
    d: Dialect,
    corpus_table: str,
    new_table: str,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
) -> str:
    """Inline (oracle) form of the incremental FUZZY dedup screen: admit
    an increment document only if its exact shingle-set Jaccard stays
    below ``threshold`` against EVERY corpus document and every
    smaller-id increment document.  The near-duplicate complement of the
    exact incremental screen (screen_new_docs): a re-crawl with one
    changed token hashes to a new md5 (exact screen admits it) but keeps
    Jaccard ≈ (n-1)/n (this screen rejects it).

    Composition: both sides union into one 'c:'/'n:'-tagged stream (the
    decontaminate_fuzzy_sql shape), ONE MinHash chain signs both, LSH
    band keys block candidates (never all-pairs), exact verify via
    _fuzzy_screen_tail.  Output: one row per increment doc —
    (doc_id, max_jaccard, accepted).
    """
    cast = "STRING" if d.name == "spark" else "VARCHAR"
    union = (
        f"(SELECT concat('c:', CAST({id_col} AS {cast})) AS uid, {text_col} AS _utxt "
        f"FROM {corpus_table} "
        f"UNION ALL "
        f"SELECT concat('n:', CAST({id_col} AS {cast})) AS uid, {text_col} AS _utxt "
        f"FROM {new_table})"
    )
    sig_cte = _minhash_sig_cte(d, union, "uid", "_utxt", num_perm, shingle_k, seed)
    tset, _, _, _ = _verify_exprs(d)
    band_selects = _band_selects(d, num_perm, bands)
    tail = _fuzzy_screen_tail(d, new_table, id_col, threshold=threshold)
    return f"""
    WITH {sig_cte},
    tsets AS (
      SELECT did, {tset} AS hs FROM hashed GROUP BY did
    ),
    bands AS ({band_selects}),
    {tail}
    """


def _write_minhash_store(spark, view: str, path: str, mode: str, p) -> None:
    """Write ``view``'s docs to ``{path}/sigs`` with the store params
    ``p`` in ONE statement: one aggregate signs each doc and collects its
    shingle set, so a doc's band keys (what makes it a candidate) and its
    set (what verifies it) land in one row — no write order to keep."""
    from ..functions.text_fns import SPARK as _S

    tset, _, _, _ = _verify_exprs(_S)
    sigw = _minhash_sigw_select(_S, p["num_perm"], p["seed"], extra=f", {tset} AS hs")
    spark.sql(f"""
    WITH {_minhash_hashed_cte(_S, view, p["id_col"], p["text_col"], p["shingle_k"])},
    sigw AS ({sigw})
    SELECT did, array({', '.join(_band_keys(p["num_perm"], p["bands"]))}) AS bkeys, hs
    FROM sigw
    """).write.mode(mode).parquet(f"{path}/sigs")


def build_minhash_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    num_perm: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
) -> None:
    """Materialize the corpus's MinHash store for incremental fuzzy
    screening — ``{path}/sigs``, one row per doc (did, bkeys = its LSH
    band keys, hs = its distinct hashed shingle set) — then ``params``
    LAST (the completeness marker, the build_dedup_index contract).  The
    100 TB corpus is tokenized, shingled, and signed ONCE; every
    increment thereafter touches one scan of ``sigs``.  Stores in the
    earlier two-artifact layout (``tsets`` + ``bands``) cannot be read:
    rebuild them."""
    require_columns(df, (id_col, text_col))
    spark = df.sparkSession
    begin_build(spark, path)
    df.createOrReplaceTempView("_ts_mhf_build")
    p = dict(id_col=id_col, text_col=text_col, num_perm=num_perm, bands=bands,
             shingle_k=shingle_k, seed=seed)
    _write_minhash_store(spark, "_ts_mhf_build", path, "overwrite", p)
    commit_build(spark, path, p)


def screen_new_docs_fuzzy(
    spark, path: str, new_df: DataFrame, *, threshold: float = 0.5
) -> DataFrame:
    """Incremental fuzzy screen against a persisted MinHash store.  One
    aggregate signs each increment doc (MinHash MINs + shingle set); its
    bands, carrying the sets, are broadcast into ONE scan of ``sigs``
    with ``bkeys`` posexploded, so the stored set is on the joined row
    and the exact-Jaccard verify runs on the join output.  Within-batch
    pairs come from the increment-bands self-join (smaller native-type
    id wins, _fuzzy_screen_tail's rule); ``hits`` MAXes a pair's
    per-shared-band Jaccards, so no DISTINCT.  Cost O(increment +
    candidates); the increment's bands and sets must fit a broadcast.
    Output ≡ dedup_incremental_fuzzy_sql (persisted ≡ inline): (doc_id,
    max_jaccard, accepted)."""
    from ..functions.text_fns import SPARK as _S

    # Temp views are PER-SESSION: inside foreachBatch the batch frame
    # belongs to a cloned micro-batch session, so every view registration
    # and the final sql() must run on new_df's OWN session or the views
    # resolve against the wrong catalog (streaming_dedup_fuzzy_docs).
    spark = new_df.sparkSession
    p = read_params(spark, path)
    id_col, text_col = p["id_col"], p["text_col"]
    require_columns(new_df, (id_col, text_col))
    nview = "_ts_mhf_new"
    new_df.createOrReplaceTempView(nview)
    read_artifact(spark, path, "sigs").createOrReplaceTempView("_ts_mhf_sigs")
    tset, inter, setsize, jaccard = _verify_exprs(_S)
    sigw = _minhash_sigw_select(_S, p["num_perm"], p["seed"], extra=f", {tset} AS hs")
    pair_cols = f"{inter} AS n_inter, {setsize}(a.hs) + {setsize}(b.hs) AS n_sum"
    return spark.sql(f"""
    WITH {_minhash_hashed_cte(_S, nview, id_col, text_col, p["shingle_k"])},
    sigw AS ({sigw}),
    nbands AS ({_band_selects(_S, p["num_perm"], p["bands"], carry=", hs")}),
    cbands AS (SELECT * FROM _ts_mhf_sigs LATERAL VIEW posexplode(bkeys) t AS band, bkey),
    pairs AS (
      SELECT /*+ BROADCAST(b) */ b.did AS ndid, {pair_cols}
      FROM nbands b JOIN cbands a ON a.band = b.band AND a.bkey = b.bkey
      UNION ALL
      SELECT /*+ BROADCAST(a) */ b.did AS ndid, {pair_cols}
      FROM nbands a JOIN nbands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.did < b.did
    ),
    hits AS (
      SELECT ndid, MAX({jaccard}) AS max_jaccard
      FROM pairs WHERE {jaccard} >= {threshold} GROUP BY ndid
    )
    SELECT /*+ BROADCAST(h) */ nt.{id_col} AS doc_id,
           COALESCE(h.max_jaccard, 0.0) AS max_jaccard,
           h.ndid IS NULL AS accepted
    FROM {nview} nt LEFT JOIN hits h ON h.ndid = nt.{id_col}
    """)


def append_minhash_store(spark, path: str, accepted_docs: DataFrame) -> None:
    """Fold an increment's ACCEPTED documents (id + text) into the
    MinHash store in one write, signed with the store's own params
    (append ≡ rebuild, the append_dedup_index contract).  Docs whose id
    is already stored are anti-joined away first, so a retried or
    redelivered append leaves the store unchanged.  Re-screening the
    increment afterwards admits nothing: each accepted doc now has its
    exact twin (Jaccard 1.0) in the store."""
    spark = accepted_docs.sparkSession  # foreachBatch clone safety, as above
    p = read_params(spark, path)
    id_col, text_col = p["id_col"], p["text_col"]
    require_columns(accepted_docs, (id_col, text_col))
    seen = read_artifact(spark, path, "sigs").select("did")
    accepted_docs.join(
        seen, accepted_docs[id_col] == seen["did"], "left_anti"
    ).createOrReplaceTempView("_ts_mhf_append")
    _write_minhash_store(spark, "_ts_mhf_append", path, "append", p)


def _ppj_exprs(d: Dialect):
    """(tset, inter, setsize, idiv) — the PPJoin dialect snippets,
    shared verbatim by the inline statement and the persisted-index
    serve path so the verify arithmetic cannot drift between them."""
    if d.name == "spark":
        return (
            "collect_set(h)",
            "size(array_intersect(a.hs, b.hs))",
            "size",
            lambda a_, b_: f"({a_} DIV {b_})",
        )
    return (
        "list(DISTINCT h)",
        "len(list_filter(a.hs, x -> list_contains(b.hs, x)))",
        "len",
        lambda a_, b_: f"({a_} // {b_})",
    )


def prefix_jaccard_join_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (1, 2),
    shingle_k: int = 3,
    brute: bool = False,
    staged_hdist: str | None = None,
    dist_partitions: int | None = None,
) -> str:
    """EXACT all-pairs Jaccard similarity join via PREFIX FILTERING —
    the PPJoin discipline (Chaudhuri et al. 2006; Xiao et al. 2008;
    Vernica et al. 2010 for the MapReduce shape): every pair with
    J ≥ θ over distinct hashed ``shingle_k``-gram sets is returned,
    with a LOSSLESSNESS GUARANTEE the MinHash tier cannot give (LSH
    trades recall for cost; the prefix filter trades nothing — it is
    exact blocked pairwise whose blocking key provably catches every
    qualifying pair).

    The lemma: order each doc's shingles by a GLOBAL canonical order
    (document frequency ascending, shingle ascending — rarest first);
    with θ = num/den, a doc of set size n keeps its first
    n − ⌈θ·n⌉ + 1 shingles as its PREFIX.  Any pair with
    |x∩y| ≥ ⌈θ·max(|x|,|y|)⌉ (implied by J ≥ θ) must share a prefix
    shingle — per-doc ⌈θ·n⌉ under-bounds the pair overlap requirement
    exactly when the mutual size filter den·min ≥ num·max holds, which
    J ≥ θ also implies — so the candidate equi-join on prefix shingles
    plus the integer size filter misses nothing, and the exact verify
    keeps only true pairs.

    Determinism: ⌈θ·n⌉ = (num·n + den − 1) intdiv den — exact integer
    arithmetic (the pinball rank idiom); the size filter and the final
    J ≥ θ compare are pure integer cross-multiplications
    (den·n_inter ≥ num·n_union), never a float threshold; the reported
    jaccard is one IEEE division of exact integers (the
    lsh_verified_neardup convention).

    Scale: df and per-doc rank are one shuffle each; the candidate join
    shuffles on the PREFIX SHINGLE — and prefix shingles are by
    construction each doc's RAREST features (the df-ascending canonical
    order is the whole trick), so bucket sizes are self-limiting where
    LSH needs an explicit band-frequency cap.  The verify touches only
    |candidates| rows.  ``brute=True`` replaces the candidate screen
    with the open all-pairs join — the ORACLE form, so the driver
    proves prefix-filtered ≡ brute force (losslessness) every round;
    never run the brute form at scale.

    Spark plan note: the distinct (doc, shingle-hash) relation is
    referenced four times (df, sizes, rank, verify sets) — the
    engine-wide staging rule applies; the front door stages it
    (``staged_hdist``), the oracle keeps the inline text.
    """
    num, den = int(threshold[0]), int(threshold[1])
    tset, inter, setsize, idiv = _ppj_exprs(d)
    shingles = d.shingles("_toks", shingle_k)
    ceil_tn = idiv(f"({num} * n + {den} - 1)", f"{den}")
    hdist = (
        f"SELECT did, h FROM {staged_hdist}" if staged_hdist
        else f"""SELECT DISTINCT did, h FROM (
        SELECT did, {_md5_32(d, "sh")} AS h FROM (
          SELECT did, {_unnest(d, shingles, "sh")} FROM (
            SELECT {id_col} AS did, {d.tokens(text_col)} AS _toks
            FROM {table} WHERE {text_col} IS NOT NULL
          ) _ppt1
        ) _ppt2
      ) _ppt3"""
    )
    # Spark-only (front doors pass defaultParallelism): candidate pairs
    # are few MB of ids that AQE coalesces to 1-2 partitions, but each
    # pays an array_intersect verify — round-robin them (see
    # query_prefix_index; value-identical, row distribution only).
    chint = ""
    if dist_partitions and d.name == "spark":
        chint = f"/*+ REPARTITION({dist_partitions}) */ "
    if brute:
        cand = f"""
      SELECT {chint}a.did AS did_a, b.did AS did_b
      FROM _ppn a JOIN _ppn b ON a.did < b.did"""
    else:
        cand = f"""
      SELECT {chint}a.did AS did_a, b.did AS did_b
      FROM _ppp a JOIN _ppp b
        ON a.h = b.h AND a.did < b.did
       AND {den} * LEAST(a.n, b.n) >= {num} * GREATEST(a.n, b.n)
      GROUP BY a.did, b.did"""
    jaccard = "(CAST(n_inter AS DOUBLE) / CAST(n_sum - n_inter AS DOUBLE))"
    return f"""
    WITH _pph AS (
      {hdist}
    ),
    _ppn AS (
      SELECT did, CAST(COUNT(*) AS BIGINT) AS n FROM _pph GROUP BY did
    ),
    _ppf AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS dfc FROM _pph GROUP BY h
    ),
    _ppp AS (
      SELECT did, h, n FROM (
        SELECT t.did AS did, t.h AS h, n.n AS n,
               ROW_NUMBER() OVER (PARTITION BY t.did
                                  ORDER BY f.dfc, t.h) AS rnk
        FROM _pph t JOIN _ppf f ON f.h = t.h JOIN _ppn n ON n.did = t.did
      ) _ppr WHERE rnk <= (n - {ceil_tn} + 1)
    ),
    _ppc AS ({cand}
    ),
    _ppts AS (
      SELECT did, {tset} AS hs FROM _pph GROUP BY did
    ),
    _ppv AS (
      SELECT c.did_a, c.did_b,
             {inter} AS n_inter,
             {setsize}(a.hs) + {setsize}(b.hs) AS n_sum
      FROM _ppc c
      JOIN _ppts a ON a.did = c.did_a
      JOIN _ppts b ON b.did = c.did_b
    )
    SELECT did_a AS doc_id_a, did_b AS doc_id_b, {jaccard} AS jaccard
    FROM _ppv
    WHERE {den} * n_inter >= {num} * (n_sum - n_inter)
    ORDER BY doc_id_a, doc_id_b
    """


def prefix_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (1, 2),
    shingle_k: int = 3,
) -> DataFrame:
    """DataFrame front door for :func:`prefix_jaccard_join_sql` —
    stages the distinct (doc, shingle-hash) relation once (lazy
    localCheckpoint): df, sizes, per-doc rank, and the verify sets all
    read it, and Catalyst would otherwise replan the tokenize → shingle
    → md5 subtree per reference."""
    from ..functions.text_fns import SPARK as _S

    for c in (id_col, text_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    spark = df.sparkSession
    view = "_ts_ppj_in"
    df.createOrReplaceTempView(view)
    inline = prefix_jaccard_join_sql(
        _S, view, id_col, text_col, threshold=threshold, shingle_k=shingle_k
    )
    hdist_sel = inline.split("_pph AS (", 1)[1].split("\n    ),", 1)[0]
    staged = spark.sql(hdist_sel).localCheckpoint(eager=False)
    sview = "_ts_ppj_hdist"
    staged.createOrReplaceTempView(sview)
    return spark.sql(
        prefix_jaccard_join_sql(
            _S, view, id_col, text_col, threshold=threshold,
            shingle_k=shingle_k, staged_hdist=sview,
            dist_partitions=spark.sparkContext.defaultParallelism,
        )
    )


def build_prefix_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    *,
    threshold: tuple[int, int] = (1, 2),
    shingle_k: int = 3,
) -> None:
    """Materialize the PPJoin structures :func:`prefix_jaccard_join`
    recomputes per run — the build-once posture applied to the LOSSLESS
    dedup tier (the LSH-bucket/BM25-postings discipline):

    * ``{path}/prefix`` — (did, h, n): each doc's prefix entries under
      the BUILD threshold θ (the df-ascending rank, the size, the
      rarest shingles), repartitioned by the candidate join key h;
    * ``{path}/tsets``  — (did, hs): the full distinct hash set per
      doc for the exact verify, did-clustered;
    * ``{path}/params`` LAST (the ``_index_ready`` marker), carrying
      (num, den, shingle_k).

    The tokenize → shingle → md5 → df → rank pipeline is paid ONCE; a
    serve (:func:`query_prefix_index`) is candidates ⋈ verify over the
    two parquet tables.  THRESHOLD CONTRACT: a θ'-prefix LENGTHENS as
    θ' drops, so the stored θ-prefix remains a lossless candidate
    source for any SERVE threshold θ' ≥ θ (the size and verify filters
    re-apply at θ'); serving below the build θ would silently lose
    pairs, so the serve path refuses it loudly.
    """
    from ..functions.text_fns import SPARK as _S

    require_columns(df, (id_col, text_col))
    num, den = int(threshold[0]), int(threshold[1])
    spark = df.sparkSession
    view = "_ts_ppb_in"
    df.createOrReplaceTempView(view)
    inline = prefix_jaccard_join_sql(
        _S, view, id_col, text_col, threshold=threshold, shingle_k=shingle_k
    )
    # reuse the inline statement's own text up to the prefix relation
    # (shared rendering — the build cannot drift from the inline form)
    head = inline.split("_ppc AS (", 1)[0].rstrip().rstrip(",")
    begin_build(spark, path)
    spark.sql(f"{head}\nSELECT did, h, n FROM _ppp").repartition("h").write.mode(
        "overwrite"
    ).parquet(f"{path}/prefix")
    tset, _, _, _ = _ppj_exprs(_S)
    spark.sql(
        f"{head}\nSELECT did, {tset} AS hs FROM _pph GROUP BY did"
    ).repartition("did").write.mode("overwrite").parquet(f"{path}/tsets")
    commit_build(spark, path, dict(num=num, den=den, shingle_k=shingle_k, id_col=id_col,
                                   text_col=text_col))


def query_prefix_index(
    spark, path: str, *, threshold: tuple[int, int] | None = None
) -> DataFrame:
    """Serve the exact Jaccard pair join from a persisted PPJoin index:
    candidates equi-join the stored prefix table on the shingle hash,
    the verify joins the stored per-doc sets — the tokenize/df/rank
    build pipeline is ABSENT from the serve plan (pytest-pinned: no
    explode subtree).  ``threshold`` defaults to the build θ; a serve
    θ' ≥ θ tightens the same stored candidates losslessly (integer
    cross-multiplication check num'·den ≥ num·den'), and θ' < θ raises
    — the stored prefixes are too short to guarantee recall there.
    Output ≡ :func:`prefix_jaccard_join_sql` at θ' (persisted ≡ inline,
    driver-proven through the registered query's inline oracle)."""
    p = read_params(spark, path)
    num, den = int(p["num"]), int(p["den"])
    if threshold is None:
        qn, qd = num, den
    else:
        qn, qd = int(threshold[0]), int(threshold[1])
        if qn * den < num * qd:
            raise ValueError(
                f"serve threshold {qn}/{qd} is BELOW the build threshold "
                f"{num}/{den}: the stored prefixes are too short to "
                f"guarantee losslessness — rebuild the index at the lower θ"
            )
    from ..functions.text_fns import SPARK as _S

    _, inter, setsize, _ = _ppj_exprs(_S)
    pv, tv = "_ts_ppq_prefix", "_ts_ppq_tsets"
    read_artifact(spark, path, "prefix").createOrReplaceTempView(pv)
    read_artifact(spark, path, "tsets").createOrReplaceTempView(tv)
    jaccard = "(CAST(n_inter AS DOUBLE) / CAST(n_sum - n_inter AS DOUBLE))"
    # Candidates are a few MB of id pairs that AQE coalesces to 1-2
    # post-GROUP-BY partitions, but each pays an array_intersect over
    # the two verify sets — round-robin them across the session's cores
    # (measured 6.72 → 1.92 s at sf0.1; value-identical, joins/aggs
    # above never depend on row order).
    n_parts = max(1, spark.sparkContext.defaultParallelism)
    return spark.sql(f"""
    WITH _ppc AS (
      SELECT /*+ REPARTITION({n_parts}) */ a.did AS did_a, b.did AS did_b
      FROM {pv} a JOIN {pv} b
        ON a.h = b.h AND a.did < b.did
       AND {qd} * LEAST(a.n, b.n) >= {qn} * GREATEST(a.n, b.n)
      GROUP BY a.did, b.did
    ),
    _ppv AS (
      SELECT c.did_a, c.did_b,
             {inter} AS n_inter,
             {setsize}(a.hs) + {setsize}(b.hs) AS n_sum
      FROM _ppc c
      JOIN {tv} a ON a.did = c.did_a
      JOIN {tv} b ON b.did = c.did_b
    )
    SELECT did_a AS doc_id_a, did_b AS doc_id_b, {jaccard} AS jaccard
    FROM _ppv
    WHERE {qd} * n_inter >= {qn} * (n_sum - n_inter)
    ORDER BY doc_id_a, doc_id_b
    """)


def winnow_fingerprints_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    window: int = 4,
    df_cap: int | None = None,
) -> str:
    """Document fingerprints by WINNOWING (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS algorithm): hash every ``shingle_k``-gram by
    position, slide a ``window``-wide frame over the position sequence,
    keep each frame's MINIMUM hash, emit the DISTINCT kept values per
    document.  The guarantee MinHash cannot give: any shared token run
    of length ≥ window + shingle_k − 1 produces at least one SHARED
    fingerprint (both documents' frames over that run select the same
    minimum), while the fingerprint density stays ~2/(window+1) of all
    positions — local, deterministic sampling with a detection floor.

    Taking DISTINCT minimum VALUES per document (rather than MOSS's
    rightmost-tie position bookkeeping) yields the identical
    fingerprint SET — position metadata only matters for locating the
    match, which exact_substring_pairs already does.

    ``df_cap`` drops fingerprints shared by more than ``df_cap``
    documents BEFORE any pairing — the boilerplate mitigation, same
    discipline as the LSH band-frequency cap and the CCNet line-df cap.

    Plan: one explode (position-indexed shingles), one per-doc window
    min (rides the doc-key exchange), one DISTINCT — all shuffles on
    the doc key until the optional df screen.  All values exact
    integers.
    """
    # tokens staged as a column BEFORE shingling (the _minhash_sig_cte
    # rule: a token pipeline inside the shingle lambda re-tokenizes once
    # per shingle index, ~7x slower at sf0.1).  The NULL guard sits on
    # the RAW text column inside _wtk (tokens(x) IS NULL ⇔ x IS NULL):
    # a `_toks IS NOT NULL` guard above the projection gets pushed into
    # the scan Filter with the tokenizer inlined — one extra tokenize
    # pass per row (the _minhash_sig_cte rule's filter half).  With it,
    # _toks is never NULL and the shingles clamp keeps ≥ 1 element, the
    # _ssr_pos_explode caller contract.
    toked = (f"(SELECT {id_col} AS {id_col}, {d.tokens(text_col)} AS _toks "
             f"FROM {table} WHERE {text_col} IS NOT NULL) _wtk")
    pos_sel = _ssr_pos_explode(
        d, toked, id_col, d.shingles("_toks", shingle_k), "sh",
        "TRUE",
    )
    fp = f"""
    _wnp AS (
      SELECT did, pos, {_md5_32(d, "sh")} AS h
      FROM ({pos_sel}) _wn1
    ),
    _wnm AS (
      SELECT DISTINCT did, mh FROM (
        SELECT did, pos,
               MIN(h) OVER (PARTITION BY did ORDER BY pos
                            ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW) AS mh,
               ROW_NUMBER() OVER (PARTITION BY did ORDER BY pos) AS rn
        FROM _wnp
      ) _wn2 WHERE rn >= {window}
    )"""
    if df_cap is not None:
        fp += f""",
    _wnf AS (
      SELECT did, mh FROM (
        SELECT did, mh, COUNT(*) OVER (PARTITION BY mh) AS dfc FROM _wnm
      ) _wn3 WHERE dfc <= {int(df_cap)}
    )"""
    return fp


def winnow_pairs_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    window: int = 4,
    df_cap: int = 50,
    min_shared: int = 2,
) -> str:
    """Near-dup candidate pairs from shared winnowing fingerprints:
    docs sharing ≥ ``min_shared`` fingerprints, with the shared count —
    the MOSS match screen.  The join key is the fingerprint (blocking
    discipline), the df cap bounds bucket sizes, and the detection
    floor is structural: a shared run of ≥ window+shingle_k−1 tokens
    cannot be missed (vs MinHash-LSH's probabilistic recall)."""
    fps = winnow_fingerprints_sql(
        d, table, id_col, text_col,
        shingle_k=shingle_k, window=window, df_cap=df_cap,
    )
    src = "_wnf" if df_cap is not None else "_wnm"
    return f"""
    WITH {fps}
    SELECT a.did AS doc_id_a, b.did AS doc_id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM {src} a JOIN {src} b ON a.mh = b.mh AND a.did < b.did
    GROUP BY a.did, b.did
    HAVING COUNT(*) >= {min_shared}
    ORDER BY doc_id_a, doc_id_b
    """


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    window: int = 4,
    df_cap: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """DataFrame front door for :func:`winnow_pairs_sql` — stages the
    fingerprint relation once (lazy localCheckpoint): the pair
    self-join references it twice and Catalyst would replan the
    explode + window-min subtree per side."""
    from ..functions.text_fns import SPARK as _S

    for c in (id_col, text_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    spark = df.sparkSession
    view = "_ts_wn_in"
    df.createOrReplaceTempView(view)
    fps = winnow_fingerprints_sql(
        _S, view, id_col, text_col,
        shingle_k=shingle_k, window=window, df_cap=df_cap,
    )
    staged = spark.sql(f"WITH {fps} SELECT did, mh FROM _wnf").localCheckpoint(
        eager=False
    )
    staged.createOrReplaceTempView("_ts_wn_fps")
    return spark.sql(f"""
    SELECT a.did AS doc_id_a, b.did AS doc_id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM _ts_wn_fps a JOIN _ts_wn_fps b ON a.mh = b.mh AND a.did < b.did
    GROUP BY a.did, b.did
    HAVING COUNT(*) >= {min_shared}
    ORDER BY doc_id_a, doc_id_b
    """)


def containment_join_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (4, 5),
    shingle_k: int = 3,
    brute: bool = False,
    staged_hdist: str | None = None,
    dist_partitions: int | None = None,
) -> str:
    """EXACT set-containment join — C(src→dst) = |src∩dst| / |src| ≥ θ
    over distinct hashed ``shingle_k``-gram sets, src ≠ dst.  The
    ASYMMETRIC companion of :func:`prefix_jaccard_join_sql`: Jaccard
    misses a short document quoted inside a long one (the union term
    dilutes), which is exactly the benchmark-contamination and
    quote-detection signal — a doc whose shingles are ≥ θ contained in
    another is a copy/quote regardless of the host's length.

    Losslessness (the containment prefix lemma): |src∩dst| ≥ ⌈θ·n_src⌉
    means fewer than n_src − ⌈θ·n_src⌉ + 1 of src's shingles can miss
    dst — so src's PREFIX of that size in ANY global canonical order
    (df ascending, hash ascending — rarest first, the bucket-limiting
    choice) must intersect dst.  Only the PROBE side prunes; the
    indexed side keeps full postings (an asymmetric join has no mutual
    size filter).  The candidate equi-join therefore misses nothing
    and the exact verify keeps only true pairs.  ⌈θ·n⌉ is exact
    integer arithmetic ((num·n + den − 1) intdiv den); the verify is an
    integer cross-multiplication; the reported containment is one IEEE
    division of exact integers.

    Scale shape: shared distinct (doc, shingle-hash) relation (staged
    by the front door — referenced by sizes, df, prefix, postings, and
    verify sets); candidates shuffle on the probe's RAREST shingles;
    verify touches |candidates| rows.  Boilerplate shingles make the
    indexed postings deep — they sit LAST in every probe's prefix
    order, so they join only for probes whose whole prefix is
    boilerplate (the PPJoin self-limiting property, one-sided).

    Output: (src_id, dst_id, containment), both directions possible.
    ``brute=True`` replaces the candidate screen with the open
    all-pairs join — the ORACLE form, so the driver proves the prefix
    screen lossless on real data every round (never run it at scale).
    """
    num, den = int(threshold[0]), int(threshold[1])
    tset, inter, setsize, idiv = _ppj_exprs(d)
    shingles = d.shingles("_toks", shingle_k)
    ceil_tn = idiv(f"({num} * n + {den} - 1)", f"{den}")
    hdist = (
        f"SELECT did, h FROM {staged_hdist}" if staged_hdist
        else f"""SELECT DISTINCT did, h FROM (
        SELECT did, {_md5_32(d, "sh")} AS h FROM (
          SELECT did, {_unnest(d, shingles, "sh")} FROM (
            SELECT {id_col} AS did, {d.tokens(text_col)} AS _toks
            FROM {table} WHERE {text_col} IS NOT NULL
          ) _cjt1
        ) _cjt2
      ) _cjt3"""
    )
    contain = "(CAST(n_inter AS DOUBLE) / CAST(n_src AS DOUBLE))"
    # Spark-only candidate spread before the verify folds — see
    # prefix_jaccard_join_sql.
    chint = ""
    if dist_partitions and d.name == "spark":
        chint = f"/*+ REPARTITION({dist_partitions}) */ "
    return f"""
    WITH _cjh AS (
      {hdist}
    ),
    _cjn AS (
      SELECT did, CAST(COUNT(*) AS BIGINT) AS n FROM _cjh GROUP BY did
    ),
    _cjf AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS dfc FROM _cjh GROUP BY h
    ),
    _cjp AS (
      SELECT did, h, n FROM (
        SELECT t.did AS did, t.h AS h, n.n AS n,
               ROW_NUMBER() OVER (PARTITION BY t.did
                                  ORDER BY f.dfc, t.h) AS rnk
        FROM _cjh t JOIN _cjf f ON f.h = t.h JOIN _cjn n ON n.did = t.did
      ) _cjr WHERE rnk <= (n - {ceil_tn} + 1)
    ),
    _cjc AS ({f'''
      SELECT {chint}a.did AS src, b.did AS dst
      FROM _cjn a JOIN _cjn b ON a.did <> b.did''' if brute else f'''
      SELECT {chint}a.did AS src, b.did AS dst
      FROM _cjp a JOIN _cjh b ON a.h = b.h AND a.did <> b.did
      GROUP BY a.did, b.did'''}
    ),
    _cjs AS (
      SELECT did, {tset} AS hs FROM _cjh GROUP BY did
    ),
    _cjv AS (
      SELECT c.src, c.dst,
             {inter} AS n_inter,
             {setsize}(a.hs) AS n_src
      FROM _cjc c
      JOIN _cjs a ON a.did = c.src
      JOIN _cjs b ON b.did = c.dst
    )
    SELECT src AS src_id, dst AS dst_id, {contain} AS containment
    FROM _cjv
    WHERE {den} * n_inter >= {num} * n_src
    ORDER BY src_id, dst_id
    """


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (4, 5),
    shingle_k: int = 3,
) -> DataFrame:
    """DataFrame front door for :func:`containment_join_sql` — stages
    the distinct (doc, shingle-hash) relation once (lazy
    localCheckpoint; referenced 5×: sizes, df, prefix, postings,
    verify sets)."""
    from ..functions.text_fns import SPARK as _S

    for c in (id_col, text_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    spark = df.sparkSession
    view = "_ts_cj_in"
    df.createOrReplaceTempView(view)
    # Stage the same (did, h) relation containment_join_sql inlines as
    # _cjh — rendered by the shared helper rather than parsed out of the
    # statement text (ADVICE r13: a formatting-only edit to the template
    # must not be able to silently stage the wrong fragment).
    hdist_sel = _cjs_hdist_select(_S, view, id_col, text_col, shingle_k)
    staged = spark.sql(hdist_sel).localCheckpoint(eager=False)
    sview = "_ts_cj_hdist"
    staged.createOrReplaceTempView(sview)
    return spark.sql(
        containment_join_sql(
            _S, view, id_col, text_col, threshold=threshold,
            shingle_k=shingle_k, staged_hdist=sview,
            dist_partitions=spark.sparkContext.defaultParallelism,
        )
    )


def _cjs_hdist_select(d: Dialect, table: str, id_col: str, text_col: str,
                      shingle_k: int, where: str = "TRUE") -> str:
    """Distinct (did, h) shingle hashes of ``table`` rows passing
    ``where`` — the shared feature construction of the containment
    screen (identical text on the build side, the probe side, and the
    brute oracle, so index ≡ inline is structural)."""
    shingles = d.shingles("_toks", shingle_k)
    return f"""SELECT DISTINCT did, h FROM (
        SELECT did, {_md5_32(d, "sh")} AS h FROM (
          SELECT did, {_unnest(d, shingles, "sh")} FROM (
            SELECT {id_col} AS did, {d.tokens(text_col)} AS _toks
            FROM {table} WHERE ({where}) AND {text_col} IS NOT NULL
          ) _cst1
        ) _cst2
      ) _cst3"""


def containment_screen_oracle_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    bench_pred: str,
    threshold: tuple[int, int] = (4, 5),
    shingle_k: int = 3,
) -> str:
    """Brute single-statement form of the incremental containment
    screen: every NON-benchmark row of ``table`` reports how many
    benchmark rows (``bench_pred``) contain ≥ num/den of its shingles,
    and the worst such containment.  Pairs come from the complete
    shingle-hash equi-join (a pair with zero shared shingles has
    containment 0 and cannot pass any positive threshold), so this IS
    the exhaustive answer — the ORACLE the index-serving Spark path
    must reproduce exactly.

    ``max_containment`` is defined over CONTAMINATING pairs only
    (≥ θ); sub-threshold overlaps report 0.0 — the screen's prefix
    pruning guarantees every ≥ θ pair is found but not every weaker
    one, and an operator whose output depended on unfound pairs could
    not be served from an index.  Incoming rows with no qualifying
    benchmark partner (or no tokens at all) report (0, 0.0, false).

    Output: ({id_col}, n_contaminating, max_containment, contaminated)
    for every non-benchmark row.
    """
    num, den = int(threshold[0]), int(threshold[1])
    hb = _cjs_hdist_select(d, table, id_col, text_col, shingle_k,
                           where=f"({bench_pred})")
    hi = _cjs_hdist_select(d, table, id_col, text_col, shingle_k,
                           where=f"NOT ({bench_pred})")
    return f"""
    WITH _csb AS ({hb}),
    _csi AS ({hi}),
    _csn AS (
      SELECT did, CAST(COUNT(*) AS BIGINT) AS n FROM _csi GROUP BY did
    ),
    _csp AS (
      SELECT i.did AS src, b.did AS dst, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM _csi i JOIN _csb b ON b.h = i.h
      GROUP BY i.did, b.did
    ),
    _csq AS (
      SELECT p.src,
             CAST(COUNT(*) AS BIGINT) AS n_contaminating,
             MAX(p.n_inter) AS max_inter,
             MAX(n.n) AS n_src
      FROM _csp p JOIN _csn n ON n.did = p.src
      WHERE {den} * p.n_inter >= {num} * n.n
      GROUP BY p.src
    )
    SELECT b.{id_col},
           CAST(COALESCE(q.n_contaminating, 0) AS BIGINT) AS n_contaminating,
           COALESCE(CAST(q.max_inter AS DOUBLE) / CAST(q.n_src AS DOUBLE),
                    CAST(0 AS DOUBLE)) AS max_containment,
           COALESCE(q.n_contaminating, 0) > 0 AS contaminated
    FROM (SELECT {id_col} FROM {table} WHERE NOT ({bench_pred})) b
    LEFT JOIN _csq q ON q.src = b.{id_col}
    ORDER BY {id_col}
    """


def build_containment_index(
    df: DataFrame, id_col: str, text_col: str, path: str, *, shingle_k: int = 3
) -> None:
    """Benchmark-side artifacts for the incremental containment screen
    (the decontamination posture: eval suites are built ONCE, then
    every crawl increment screens against them):

    * ``{path}/postings`` — distinct (did, h) shingle hashes,
      h-clustered so the candidate equi-join reads key-local files;
    * ``{path}/sizes``    — (did, n) set sizes (the verify only needs
      the PROBE's size — benchmark sizes are not read at serve time,
      but stored for audits);
    * ``{path}/df``       — (h, dfc) benchmark document frequencies:
      the probe side's canonical prefix order (rarest-in-benchmark
      first; a shingle the benchmark has never seen sorts FIRST with
      df 0 — it cannot match anything, and the lemma accepts ANY
      fixed global order);
    * ``{path}/params``   — written LAST (build-complete marker).

    Appending new benchmark docs = appending row-independent postings
    + REBUILDING df (df is a full-side aggregate — the BM25 persisted-
    index stats-merge caveat applies; rebuild keeps the prefix order
    honest, and df only ORDERS the prefix, so a stale df costs recall
    nothing — the lemma holds for any order — only bucket balance).
    """
    from ..functions.text_fns import SPARK as _S

    require_columns(df, (id_col, text_col))
    spark = df.sparkSession
    view = "_ts_csb_in"
    df.createOrReplaceTempView(view)
    begin_build(spark, path)
    hd = spark.sql(
        _cjs_hdist_select(_S, view, id_col, text_col, shingle_k)
    ).localCheckpoint(eager=False)
    hd.createOrReplaceTempView("_ts_csb_hd")
    hd.repartition("h").write.mode("overwrite").parquet(f"{path}/postings")
    spark.sql(
        "SELECT did, CAST(COUNT(*) AS BIGINT) AS n FROM _ts_csb_hd GROUP BY did"
    ).write.mode("overwrite").parquet(f"{path}/sizes")
    spark.sql(
        "SELECT h, CAST(COUNT(*) AS BIGINT) AS dfc FROM _ts_csb_hd GROUP BY h"
    ).write.mode("overwrite").parquet(f"{path}/df")
    commit_build(spark, path, dict(id_col=id_col, text_col=text_col, shingle_k=shingle_k))


def screen_docs_containment(
    spark,
    path: str,
    docs: DataFrame,
    *,
    threshold: tuple[int, int] = (4, 5),
) -> DataFrame:
    """Screen an increment against a persisted benchmark containment
    index: per incoming doc, how many benchmark docs contain ≥ num/den
    of its shingles, and the worst hit.  The increment pays: its own
    shingle pass (staged once — read by sizes, prefix, and verify), a
    broadcast-sized df join for the prefix order, the prefix ⨝ stored
    postings candidate join, and a verify over |candidates| grouped
    pairs.  The benchmark is NEVER re-shingled — cost is O(increment +
    candidates), the incremental-dedup contract.  Output ≡ the brute
    :func:`containment_screen_oracle_sql` statement (driver-proven)."""
    from ..functions.text_fns import SPARK as _S

    p = read_params(spark, path)
    id_col, text_col, shingle_k = p["id_col"], p["text_col"], p["shingle_k"]
    require_columns(docs, (id_col, text_col))
    num, den = int(threshold[0]), int(threshold[1])
    view = "_ts_css_in"
    docs.createOrReplaceTempView(view)
    read_artifact(spark, path, "postings").createOrReplaceTempView("_ts_css_post")
    read_artifact(spark, path, "df").createOrReplaceTempView("_ts_css_df")
    hd = spark.sql(
        _cjs_hdist_select(_S, view, id_col, text_col, shingle_k)
    ).localCheckpoint(eager=False)
    hd.createOrReplaceTempView("_ts_css_hd")
    idiv = _ppj_exprs(_S)[3]
    ceil_tn = idiv(f"({num} * n + {den} - 1)", f"{den}")
    return spark.sql(f"""
    WITH _csn AS (
      SELECT did, CAST(COUNT(*) AS BIGINT) AS n FROM _ts_css_hd GROUP BY did
    ),
    _cspfx AS (
      SELECT did, h, n FROM (
        SELECT t.did AS did, t.h AS h, n.n AS n,
               ROW_NUMBER() OVER (PARTITION BY t.did
                                  ORDER BY COALESCE(f.dfc, 0), t.h) AS rnk
        FROM _ts_css_hd t
        LEFT JOIN _ts_css_df f ON f.h = t.h
        JOIN _csn n ON n.did = t.did
      ) _csr WHERE rnk <= (n - {ceil_tn} + 1)
    ),
    _csc AS (
      SELECT a.did AS src, b.did AS dst
      FROM _cspfx a JOIN _ts_css_post b ON b.h = a.h
      GROUP BY a.did, b.did
    ),
    _csp AS (
      SELECT c.src, c.dst, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM _csc c
      JOIN _ts_css_hd i ON i.did = c.src
      JOIN _ts_css_post b ON b.did = c.dst AND b.h = i.h
      GROUP BY c.src, c.dst
    ),
    _csq AS (
      SELECT p.src,
             CAST(COUNT(*) AS BIGINT) AS n_contaminating,
             MAX(p.n_inter) AS max_inter,
             MAX(n.n) AS n_src
      FROM _csp p JOIN _csn n ON n.did = p.src
      WHERE {den} * p.n_inter >= {num} * n.n
      GROUP BY p.src
    )
    SELECT b.{id_col},
           CAST(COALESCE(q.n_contaminating, 0) AS BIGINT) AS n_contaminating,
           COALESCE(CAST(q.max_inter AS DOUBLE) / CAST(q.n_src AS DOUBLE),
                    CAST(0 AS DOUBLE)) AS max_containment,
           COALESCE(q.n_contaminating, 0) > 0 AS contaminated
    FROM {view} b
    LEFT JOIN _csq q ON q.src = b.{id_col}
    ORDER BY {id_col}
    """)


def novelty_score_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
) -> str:
    """Per-document NOVELTY against the corpus in ingestion (id) order:
    the fraction of a doc's distinct ``shingle_k``-gram shingles whose
    corpus-wide FIRST occurrence (min id) is this document.  The
    curation dial between exact dedup and quality scoring — a verbatim
    re-crawl scores ~0, a genuinely new document ~1, boilerplate-heavy
    pages sit low without being exact dupes (RefinedWeb-style "what
    does this doc add" pruning; with id = crawl order this is the
    streaming-corpus novelty curve).

    Deterministic by construction: first occurrence is an exact
    integer MIN per shingle hash; the score is one IEEE division of
    exact counts.  Documents with no tokens report (0, 0, 0.0) — they
    add nothing and are flagged as such, not dropped.

    Scale shape: one distinct (did, h) explode; the first-occurrence
    aggregation is a partial-aggregated hash groupBy on h (a
    boilerplate shingle in a million docs costs ONE stats row); the
    join back touches the same (did, h) stream; per-doc counts ride a
    did groupBy.  No sort, no pair join, nothing quadratic anywhere.

    Output: ({id_col}, n_shingles, n_novel, novelty), one row per
    input row.
    """
    hdist = _cjs_hdist_select(d, table, id_col, text_col, shingle_k)
    return f"""
    WITH _nvh AS ({hdist}),
    _nvm AS (
      SELECT h, MIN(did) AS first_did FROM _nvh GROUP BY h
    ),
    _nvj AS (
      SELECT n.did,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN m.first_did = n.did THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM _nvh n JOIN _nvm m ON m.h = n.h
      GROUP BY n.did
    )
    SELECT b.{id_col},
           COALESCE(j.n_shingles, 0) AS n_shingles,
           COALESCE(j.n_novel, 0) AS n_novel,
           COALESCE(CAST(j.n_novel AS DOUBLE)
                    / CAST(j.n_shingles AS DOUBLE),
                    CAST(0 AS DOUBLE)) AS novelty
    FROM {table} b
    LEFT JOIN _nvj j ON j.did = b.{id_col}
    ORDER BY {id_col}
    """


def novelty_score(
    df: DataFrame, id_col: str, text_col: str, *, shingle_k: int = 3
) -> DataFrame:
    """DataFrame front door for :func:`novelty_score_sql` (single
    statement — the hdist stream is referenced twice, but both
    references feed ONE join whose sides Spark plans from the same
    exchange; measured cheap enough that staging buys nothing)."""
    return _run(df, novelty_score_sql, id_col, text_col,
                shingle_k=shingle_k)
