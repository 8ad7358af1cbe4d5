"""Corpus-preparation operators for LLM training-data pipelines:
document chunking, PII redaction, benchmark decontamination.

Charter extension (no reference counterpart — the reference is a lag
kernel, src/lib.rs:3-4).  Design rules as the rest of the engine:

* every expression is built-in-function SQL rendered from the shared
  Dialect (functions/text_fns.py), so the DuckDB oracle is the SAME
  logical expression — zero Python on executors;
* chunking and redaction are pure projections / explodes: shuffle-free,
  scan-bandwidth-bound at 100 TB;
* decontamination is a blocking-key EQUI-join on n-gram hashes (never
  all-pairs), with the benchmark side broadcast — the benchmark corpus
  is orders of magnitude smaller than the training corpus by nature.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import require_columns
from ..functions.text_fns import SPARK, Dialect
from ..plans.keyed_scan import keyed_scan

__all__ = [
    "chunk_documents",
    "chunk_documents_sql",
    "redact_pii",
    "redact_pii_sql",
    "decontaminate",
    "decontaminate_sql",
    "decontaminate_fuzzy",
    "decontaminate_fuzzy_sql",
    "pack_sequences",
    "pack_sequences_oracle_sql",
    "temperature_resample",
    "temperature_resample_oracle_sql",
    "budget_sample",
    "PII_PATTERNS",
]


# --------------------------------------------------------------------------
# Chunking
# --------------------------------------------------------------------------


def _chunk_exprs(d: Dialect, text: str, size: int, overlap: int) -> tuple[str, str]:
    """(start-position sequence expr, chunk substring expr over `_pos`)."""
    if size <= 0:
        raise ValueError(f"chunk size must be positive, got {size}")
    if not (0 <= overlap < size):
        raise ValueError(f"overlap must be in [0, size), got {overlap} for size {size}")
    step = size - overlap
    seq = (
        f"sequence(1, greatest(length({text}), 1), {step})"
        if d.name == "spark"
        else f"generate_series(1, greatest(length({text}), 1), {step})"
    )
    return seq, f"substr({text}, _pos, {size})"


def chunk_documents(
    df: DataFrame,
    text_col: str,
    *,
    size: int = 200,
    overlap: int = 50,
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Split each document into fixed-width character windows with
    overlap — the standard pre-embedding chunker.  Output one row per
    chunk: id columns + ``chunk_start`` (1-based), ``chunk``,
    ``n_chars_chunk``.  Pure explode+substring projection: no shuffle,
    embarrassingly parallel at any scale.  Empty documents yield one
    empty chunk (the position sequence is clamped to [1])."""
    require_columns(df, [text_col, *id_cols])
    seq, sub = _chunk_exprs(SPARK, text_col, size, overlap)
    return (
        df.select(*id_cols, text_col, F.explode(F.expr(seq)).alias("_pos"))
        .select(
            *id_cols,
            F.col("_pos").alias("chunk_start"),
            F.expr(sub).alias("chunk"),
            F.expr(f"length({sub})").alias("n_chars_chunk"),
        )
    )


def chunk_documents_sql(
    d: Dialect,
    table: str,
    text: str,
    *,
    size: int = 200,
    overlap: int = 50,
    id_cols: Sequence[str] = ("doc_id",),
) -> str:
    from .dedup import _unnest

    seq, sub = _chunk_exprs(d, text, size, overlap)
    ids = ", ".join(id_cols)
    return f"""
    SELECT {ids}, _pos AS chunk_start, {sub} AS chunk, length({sub}) AS n_chars_chunk
    FROM (SELECT {ids}, {text}, {_unnest(d, seq, "_pos")} FROM {table})
    """


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Patterns restricted to the syntax intersection of Java regex (Spark)
# and RE2 (DuckDB): no lookaround, no backreferences.  SSN (3-2-4) and
# phone (3-3-4) shapes are disjoint, so redaction order cannot overlap.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    "phone": (r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
}


def _redact_exprs(d: Dialect, text: str) -> dict[str, str]:
    redacted = text
    counts = {}
    for kind, (pat, repl) in PII_PATTERNS.items():
        counts[f"n_{kind}s"] = d.size(d.regexp_extract_all(text, pat))
        redacted = d.regexp_sub(redacted, pat, repl)
    return {"text_redacted": redacted, **counts}


def redact_pii(
    df: DataFrame, text_col: str, *, keep_cols: Sequence[str] = ()
) -> DataFrame:
    """Replace emails / SSNs / phone numbers with typed placeholder
    tokens; per-kind match counts come along for audit.  A projection —
    no shuffle, scales with scan bandwidth."""
    require_columns(df, [text_col, *keep_cols])
    ex = _redact_exprs(SPARK, text_col)
    return df.select(
        *keep_cols, *[F.expr(e).alias(name) for name, e in ex.items()]
    )


def redact_pii_sql(
    d: Dialect, table: str, text: str, *, keep_cols: Sequence[str] = ()
) -> str:
    ex = _redact_exprs(d, text)
    cols = ", ".join([*keep_cols, *[f"{e} AS {name}" for name, e in ex.items()]])
    return f"SELECT {cols} FROM {table}"


# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------


def decontaminate(
    train_df: DataFrame,
    bench_df: DataFrame,
    text_col: str,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Flag training documents sharing any word ``k``-gram with a
    held-out benchmark corpus (the standard eval-contamination screen).

    Output: one row per training doc — ``id_col``,
    ``n_contaminated_ngrams`` (distinct shared k-grams), ``contaminated``.

    Scale shape: both sides explode to (key, gram-hash) rows and meet in
    an EQUI-join on the 64-bit gram hash; the benchmark side is distinct
    and broadcast (eval suites are ~MBs against a ~100 TB training
    corpus), so the screen costs one scan of each side and zero
    train-side shuffles before the per-doc count."""
    require_columns(train_df, [id_col, text_col])
    require_columns(bench_df, [text_col])
    # stage tokens as a COLUMN before shingling: an inline token pipeline
    # is re-evaluated per shingle index by the array transform (~60x per
    # doc — measured 4.6s -> 0.5s at sf0.1). The oracle keeps the
    # single-expression form; values are identical either way.
    grams = SPARK.shingles("_toks", k)
    toks = F.expr(SPARK.tokens(text_col)).alias("_toks")
    bench_hashes = (
        bench_df.select(toks)
        .select(F.explode(F.expr(grams)).alias("_g"))
        .select(F.expr(SPARK.md5_long("_g")).alias("_h"))
        .distinct()
    )
    if broadcast_bench:
        bench_hashes = F.broadcast(bench_hashes)
    train_grams = (
        train_df.select(id_col, toks)
        .select(id_col, F.explode(F.expr(grams)).alias("_g"))
        .select(id_col, F.expr(SPARK.md5_long("_g")).alias("_h"))
        .distinct()
    )
    hits = (
        train_grams.join(bench_hashes, "_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )
    return (
        train_df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_ngrams", F.lit(0)).alias("n_contaminated_ngrams"),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_sql(
    d: Dialect,
    train_table: str,
    bench_table: str,
    text: str,
    *,
    k: int = 8,
    id_col: str = "doc_id",
) -> str:
    from .dedup import _unnest

    # tokens are STAGED as a column and NULL-guarded before shingling —
    # the _minhash_sig_cte convention. The guard also pins cross-engine
    # NULL semantics: DuckDB renders shingles(NULL) as [''] (one empty
    # gram, which would let two NULL-text docs "contaminate" each other)
    # while Spark yields NULL -> zero rows; filtering NULL-text rows
    # makes both engines emit zero grams, matching the DataFrame form.
    # The guard sits on the RAW text column (tokens(x) IS NULL ⇔ x IS
    # NULL): a `_toks IS NOT NULL` guard above the projection is pushed
    # into the scan Filter with the tokenizer inlined — one extra full
    # tokenize pass per row (the _minhash_sig_cte rule).
    grams = d.shingles("_toks", k)
    h = d.md5_long("_g")
    un = _unnest(d, grams, "_g")
    return f"""
    WITH bench_hashes AS (
      SELECT DISTINCT {h} AS _h
      FROM (SELECT {un}
            FROM (SELECT {d.tokens(text)} AS _toks FROM {bench_table}
                  WHERE {text} IS NOT NULL))
    ),
    train_grams AS (
      SELECT DISTINCT {id_col}, {h} AS _h
      FROM (SELECT {id_col}, {un}
            FROM (SELECT {id_col}, {d.tokens(text)} AS _toks FROM {train_table}
                  WHERE {text} IS NOT NULL))
    ),
    hits AS (
      SELECT {id_col}, COUNT(*) AS n_contaminated_ngrams
      FROM train_grams JOIN bench_hashes USING (_h)
      GROUP BY {id_col}
    )
    SELECT t.{id_col},
           COALESCE(h.n_contaminated_ngrams, 0) AS n_contaminated_ngrams,
           COALESCE(h.n_contaminated_ngrams, 0) > 0 AS contaminated
    FROM {train_table} t LEFT JOIN hits h ON t.{id_col} = h.{id_col}
    """


def decontaminate_fuzzy_sql(
    d: Dialect,
    train_table: str,
    bench_table: str,
    text: str,
    *,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
) -> str:
    """FUZZY benchmark decontamination (the GPT-3 appendix-C screen, the
    near-duplicate complement of :func:`decontaminate_sql`'s exact
    k-gram overlap): flag a training document when its shingle-set
    Jaccard against ANY benchmark item reaches ``threshold`` — a
    lightly paraphrased or truncated eval leak shares few exact 8-grams
    but keeps a high Jaccard.

    Composition (all existing machinery, never all-pairs): both corpora
    union into ONE side-tagged stream ('t:'/'b:' id prefixes), one
    MinHash signature chain covers both, LSH band keys block candidate
    generation, and the band join keeps only CROSS-side (train, bench)
    pairs — train×train and bench×bench pairs are never formed.
    Candidates verify by EXACT Jaccard over their hashed shingle sets
    before the threshold, so the flag is exact given the screen (same
    contract as lsh_verified_neardup_sql).

    Output: one row per training doc — ({id_col}, max_jaccard,
    n_bench_matches, contaminated).  Scale shape: the benchmark side is
    MBs against a 100 TB corpus, so its band keys are a tiny fraction
    of the stream; the only joins are the band-key equi-join and the
    verify join over |cross-side candidates|.
    """
    from .dedup import _band_selects, _minhash_sig_cte

    cast = "STRING" if d.name == "spark" else "VARCHAR"
    union = (
        f"(SELECT concat('t:', CAST({id_col} AS {cast})) AS uid, {text} AS _utxt "
        f"FROM {train_table} "
        f"UNION ALL "
        f"SELECT concat('b:', CAST({bench_id_col} AS {cast})) AS uid, {text} AS _utxt "
        f"FROM {bench_table})"
    )
    sig_cte = _minhash_sig_cte(d, union, "uid", "_utxt", num_perm, shingle_k, seed)
    band_selects = _band_selects(d, num_perm, bands)
    if d.name == "spark":
        tset = "collect_set(h)"
        inter = "size(array_intersect(a.hs, b.hs))"
        setsize = "size"
    else:
        tset = "list(DISTINCT h)"
        inter = "len(list_filter(a.hs, x -> list_contains(b.hs, x)))"
        setsize = "len"
    jaccard = "(CAST(n_inter AS DOUBLE) / CAST(n_sum - n_inter AS DOUBLE))"
    return f"""
    WITH {sig_cte},
    tsets AS (
      SELECT did, {tset} AS hs FROM hashed GROUP BY did
    ),
    bands AS ({band_selects}),
    cand AS (
      SELECT x.did AS tdid, y.did AS bdid
      FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey
      WHERE x.did LIKE 't:%' AND y.did LIKE 'b:%'
      GROUP BY x.did, y.did
    ),
    pairs AS (
      SELECT cand.tdid,
             {inter} AS n_inter,
             {setsize}(a.hs) + {setsize}(b.hs) AS n_sum
      FROM cand
      JOIN tsets a ON a.did = cand.tdid
      JOIN tsets b ON b.did = cand.bdid
    ),
    hits AS (
      SELECT tdid, MAX({jaccard}) AS max_jaccard,
             CAST(COUNT(*) AS BIGINT) AS n_bench_matches
      FROM pairs
      WHERE {jaccard} >= {threshold}
      GROUP BY tdid
    )
    SELECT t.{id_col},
           COALESCE(h.max_jaccard, 0.0) AS max_jaccard,
           CAST(COALESCE(h.n_bench_matches, 0) AS BIGINT) AS n_bench_matches,
           h.tdid IS NOT NULL AS contaminated
    FROM {train_table} t
    LEFT JOIN hits h ON h.tdid = concat('t:', CAST(t.{id_col} AS {cast}))
    """


def decontaminate_fuzzy(
    train_df: DataFrame,
    bench_df: DataFrame,
    text_col: str,
    *,
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """DataFrame entry point for :func:`decontaminate_fuzzy_sql`."""
    require_columns(train_df, [id_col, text_col])
    require_columns(bench_df, [bench_id_col, text_col])
    train_df.createOrReplaceTempView("_ts_dcf_train")
    bench_df.createOrReplaceTempView("_ts_dcf_bench")
    sql = decontaminate_fuzzy_sql(
        SPARK, "_ts_dcf_train", "_ts_dcf_bench", text_col,
        id_col=id_col, bench_id_col=bench_id_col, threshold=threshold,
        num_perm=num_perm, bands=bands, shingle_k=shingle_k, seed=seed,
    )
    return train_df.sparkSession.sql(sql)


# --------------------------------------------------------------------------
# Sequence packing
# --------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str,
    *,
    budget: int,
    group_by: Sequence[str] = ("source",),
) -> DataFrame:
    """Greedy in-order sequence packing: walk each group's documents in
    ``order_col`` order, accumulating token counts into bins of at most
    ``budget`` tokens; a document that would overflow the open bin
    starts the next one (an over-budget single document still occupies
    its own bin).  The pretraining batch-construction primitive — pack
    short documents into fixed-length training sequences with minimal
    padding.

    Output: group columns + ``order_col`` + ``n_tokens`` + ``bin_id``
    (0-based per group).

    Greedy packing is a sequential recurrence over the group's order, so
    it is a kernel on :func:`~time_sift_spark.plans.keyed_scan.keyed_scan`:
    one shuffle on the group key, one sort by (group, ``order_col``
    ascending, NULLs last — the oracle's ``ORDER BY``), then one Python
    loop per partition that resets at each group boundary.  Token counts
    are computed JVM-side BEFORE the shuffle; Python touches only
    (id, int) pairs, never text.  A NULL token count packs as 0 tokens.
    At 100 TB the group key is the shard (source/file/date), which is
    exactly the granularity real packers use: packing across shards
    would destroy data-order reproducibility, and bounded shards bound
    the Python state.  The DuckDB oracle replays the identical
    recurrence as a recursive CTE (:func:`pack_sequences_oracle_sql`).
    """
    require_columns(df, [token_col, order_col, *group_by])
    if budget <= 0:
        raise ValueError(f"token budget must be positive, got {budget}")
    gcols = list(group_by)
    slim = df.select(*gcols, order_col, F.col(token_col).cast("long").alias("n_tokens"))
    budget_ = int(budget)

    def _pack(pdf):
        gid = pdf.groupby(gcols, sort=False, dropna=False).ngroup().to_numpy()
        toks = pdf["n_tokens"].fillna(0).to_numpy(dtype="int64")
        bins = np.empty(len(pdf), dtype="int64")
        bin_id = fill = 0
        for i, t in enumerate(toks):
            if i and gid[i] != gid[i - 1]:
                bin_id = fill = 0
            elif fill > 0 and fill + t > budget_:
                bin_id, fill = bin_id + 1, 0
            fill += t
            bins[i] = bin_id
        pdf["bin_id"] = bins
        return pdf

    return keyed_scan(
        slim, gcols, [F.asc_nulls_last(order_col)], _pack, slim.schema.add("bin_id", "long")
    )


def pack_sequences_oracle_sql(
    table: str,
    token_expr: str,
    order_col: str,
    *,
    budget: int,
    group_by: Sequence[str] = ("source",),
) -> str:
    """The same greedy recurrence as a DuckDB recursive CTE (rn → rn+1
    per group, carrying the open bin's fill).  As in pack_sequences, NULL
    group keys form one group and a NULL token count fills 0 tokens."""
    g = ", ".join(group_by)
    gj = " AND ".join(f"s.{c} IS NOT DISTINCT FROM r.{c}" for c in group_by)
    sg = ", ".join(f"s.{c}" for c in group_by)
    b = int(budget)
    return f"""
    WITH RECURSIVE seq AS (
      SELECT {g}, {order_col}, CAST({token_expr} AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY {order_col}) AS rn
      FROM {table}
    ),
    rec AS (
      SELECT {g}, {order_col}, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id, coalesce(n_tokens, 0) AS fill
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT {sg}, s.{order_col}, s.n_tokens, s.rn,
             CASE WHEN r.fill > 0 AND r.fill + coalesce(s.n_tokens, 0) > {b}
                  THEN r.bin_id + 1 ELSE r.bin_id END AS bin_id,
             CASE WHEN r.fill > 0 AND r.fill + coalesce(s.n_tokens, 0) > {b}
                  THEN coalesce(s.n_tokens, 0)
                  ELSE r.fill + coalesce(s.n_tokens, 0) END AS fill
      FROM rec r JOIN seq s ON {gj} AND s.rn = r.rn + 1
    )
    SELECT {g}, {order_col}, n_tokens, bin_id FROM rec
    """


# --------------------------------------------------------------------------
# Temperature-based mixture resampling
# --------------------------------------------------------------------------


def temperature_resample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    *,
    alpha: float = 0.5,
    resolution: int = 10000,
) -> DataFrame:
    """Deterministic temperature-flattened mixture sampling: keep each
    group (source/language) with probability chosen so kept counts are
    proportional to ``count_g ** alpha`` — the standard
    temperature-sampling scheme for rebalancing training-data mixtures
    (alpha=1 keeps the natural distribution, alpha=0 equalizes groups).

    rate_g = (count_min / count_g) ** (1 - alpha): the smallest group
    is kept in full, larger groups are down-sampled toward the
    flattened shares.  Selection is the engine's hash-filter discipline
    (md5 of the row id vs a per-group integer threshold — reproducible
    row-for-row on any cluster size, no RNG state); thresholds use only
    IEEE division/sqrt/floor on exact counts, so both engines compute
    the identical integer.

    Plan shape: one tiny groupBy for counts -> scalar min via a
    broadcast one-row cross join -> threshold joined back as a
    BROADCAST (|groups| rows) -> pure filter on the fact side.  The
    big table never shuffles.

    ``alpha`` is restricted to {0, 0.5, 1}: those thresholds need only
    sqrt/identity (correctly-rounded IEEE ops, bit-identical across
    engines); a free exponent would go through pow/exp/ln, whose last
    ulp is libm-specific — the same reason BM25 uses rational idf.
    """
    require_columns(df, [group_col, id_col])
    if alpha not in (0.0, 0.5, 1.0):
        raise ValueError(f"alpha must be one of 0, 0.5, 1 — got {alpha}")
    if resolution <= 0:
        raise ValueError(f"resolution must be positive, got {resolution}")
    ratio = "(CAST(_cmin AS DOUBLE) / CAST(_cnt AS DOUBLE))"
    frac = {0.0: ratio, 0.5: f"SQRT({ratio})", 1.0: "1.0"}[alpha]
    thresh = f"CAST(FLOOR({frac} * {int(resolution)}.0) AS BIGINT)"

    from pyspark.sql import Window

    # the scalar min rides a window over the COUNTS frame (|groups| rows,
    # bounded) rather than a crossJoin of a second aggregate — a separate
    # agg subtree would make Catalyst scan the corpus twice for counts
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_cnt"))
    rates = counts.withColumn(
        "_cmin", F.min("_cnt").over(Window.partitionBy())
    ).selectExpr(group_col, f"{thresh} AS _keep_below")
    keyed = df.withColumn(
        "_hmod",
        F.expr(
            f"CAST(conv(substr(md5(CAST({id_col} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            f" % {int(resolution)}"
        ),
    )
    return (
        keyed.join(F.broadcast(rates), group_col)
        .where(F.col("_hmod") < F.col("_keep_below"))
        .drop("_hmod", "_keep_below")
    )


def temperature_resample_oracle_sql(
    table: str,
    group_col: str,
    id_col: str,
    select_cols: Sequence[str],
    *,
    alpha: float = 0.5,
    resolution: int = 10000,
) -> str:
    """The same mixture filter as one DuckDB statement."""
    if alpha not in (0.0, 0.5, 1.0):
        raise ValueError(f"alpha must be one of 0, 0.5, 1 — got {alpha}")
    ratio = "(CAST(_cmin AS DOUBLE) / CAST(_cnt AS DOUBLE))"
    frac = {0.0: ratio, 0.5: f"SQRT({ratio})", 1.0: "1.0"}[alpha]
    thresh = f"CAST(FLOOR({frac} * {int(resolution)}.0) AS BIGINT)"
    cols = ", ".join(f"t.{c}" for c in select_cols)
    return f"""
    WITH counts AS (
      SELECT {group_col}, COUNT(*) AS _cnt FROM {table} GROUP BY {group_col}
    ),
    rates AS (
      SELECT {group_col}, {thresh} AS _keep_below
      FROM counts CROSS JOIN (SELECT MIN(_cnt) AS _cmin FROM counts)
    )
    SELECT {cols}
    FROM {table} t JOIN rates r USING ({group_col})
    WHERE (('0x' || substr(md5(CAST(t.{id_col} AS VARCHAR)), 1, 8))::BIGINT)
            % {int(resolution)} < r._keep_below
    """


def epoch_upsample_sql(
    d: Dialect,
    table: str,
    id_col: str,
    group_col: str,
    weights: dict[str, float],
) -> str:
    """Dataset mixing by REPEAT factors — the >1-epoch half of corpus
    rebalancing (mixture_resample handles the ≤1 downsampling half):
    a doc from a group with weight w is emitted ⌊w⌋ times plus once
    more with probability frac(w), so the group's expected token share
    scales by exactly w — how pretraining mixtures upsample high-value
    sources (wiki ×3.5, code ×2) without materializing w as a float
    per row (Hoffmann et al. 2022-style epoch schedules; repetition
    factors are data curation's standard knob).

    Determinism: the fractional repeat is an exact integer md5 draw —
    32-bit id-hash < round(frac(w)·2³²), the soft_dedup/dsir_resample
    coin — never an RNG; the weight table is a VALUES relation joined
    in (planes-as-data: no per-row literal trees), unlisted groups
    default to weight 1.  Output one row per (doc, repeat) with the
    1-based ``rep`` index, so downstream shuffles see distinct rows.

    Scale: weight relation is |groups|-row broadcast; the explode
    multiplies rows by ~Σw/|groups| — size downstream shuffle
    partitions for the POST-upsample row count (the chunking rule).
    """
    if not weights:
        raise ValueError("weights must name at least one group")
    rows = []
    for g, w in sorted(weights.items()):
        if w < 1.0:
            raise ValueError(
                f"epoch_upsample needs weights >= 1 (got {g}={w}); "
                "use mixture_resample for downsampling"
            )
        base = int(w)
        thr = round((float(w) - base) * 4294967296)
        gq = "'" + g.replace("'", "''") + "'"
        rows.append(f"({gq}, {base}, {thr})")
    vals = ", ".join(rows)
    h32 = (
        f"CAST(conv(substr(md5(concat('epoch|', CAST({id_col} AS STRING))),1,8),16,10) AS BIGINT)"
        if d.name == "spark"
        else f"(('0x' || substr(md5(concat('epoch|', CAST({id_col} AS VARCHAR))),1,8))::BIGINT)"
    )
    n_reps = (
        "(COALESCE(w.base, 1) + CASE WHEN COALESCE(w.thr, 0) > 0 "
        f"AND {h32} < COALESCE(w.thr, 0) THEN 1 ELSE 0 END)"
    )
    if d.name == "spark":
        seq = f"explode(sequence(1, {n_reps})) AS rep"
        frm = f"FROM {table} t LEFT JOIN (SELECT * FROM VALUES {vals} AS _w(grp, base, thr)) w ON t.{group_col} = w.grp"
        return f"""
    SELECT {id_col}, {group_col}, rep FROM (
      SELECT t.{id_col} AS {id_col}, t.{group_col} AS {group_col}, {seq}
      {frm}
    )"""
    return f"""
    SELECT t.{id_col} AS {id_col}, t.{group_col} AS {group_col},
           unnest(range(1, {n_reps} + 1)) AS rep
    FROM {table} t
    LEFT JOIN (SELECT * FROM (VALUES {vals}) _w(grp, base, thr)) w
      ON t.{group_col} = w.grp
    """


def epoch_upsample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """DataFrame front door for :func:`epoch_upsample_sql`."""
    require_columns(df, [id_col, group_col])
    view = "_ts_epoch_in"
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(
        epoch_upsample_sql(SPARK, view, id_col, group_col, weights)
    )


def budget_sample(
    df: DataFrame,
    id_col: str,
    token_col: str,
    score_col: str,
    *,
    token_budget: int,
    num_buckets: int = 32,
) -> DataFrame:
    """Token-budget corpus selection — the pretraining data-mix step
    after scoring: keep the highest-``score_col`` documents whose
    CUMULATIVE ``token_col`` stays within ``token_budget`` (greedy
    prefix in (score DESC, id) order — the standard quality-ranked cut,
    not a knapsack: a document that overflows the budget is dropped and
    so is everything ranked below it, which keeps the selection a
    PREFIX and therefore reproducible and monotone in the budget).

    The running token total is :func:`~.prefix.prefix_sum_global` over
    the NEGATED score (two-pass Blelloch scan — exact decimal addends,
    one bucket exchange, never a single-task global window), so the
    distributed cut equals the single-task window bit-for-bit and a
    DuckDB window oracle can check it.

    Output: ({id_col}, {score_col}, {token_col}, cum_tokens) for the
    kept prefix.
    """
    from pyspark.sql import functions as F

    from .prefix import prefix_sum_global

    require_columns(df, [id_col, token_col, score_col])
    neg = df.withColumn("_negscore", -F.col(score_col))
    ps = prefix_sum_global(
        neg, token_col, "_negscore",
        order_extra=[id_col], num_buckets=num_buckets, out_col="cum_tokens",
    )
    return (
        ps.where(F.col("cum_tokens") <= F.lit(token_budget))
        .select(id_col, score_col, token_col, "cum_tokens")
    )
