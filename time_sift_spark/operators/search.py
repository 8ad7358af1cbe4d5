"""Full-text relevance search: BM25 scoring over an exploded posting list.

The training-data engine's retrieval primitive — rank documents of the
corpus against a bag-of-terms query (used for eval-set mining, targeted
corpus slicing, and as the lexical arm of hybrid lexical+ANN retrieval
next to operators/similarity.py).

Plan shape (Spark-first, no UDFs anywhere):

    tokenize (JVM regexp, functions/text_fns) -> explode -> FILTER to
    the query's terms (predicate lands directly above the generator, so
    the posting list materialized is |matching postings|, not |corpus
    tokens|) -> groupBy (doc, term) for tf -> groupBy term for df
    (a |Q|-row frame, broadcast back) -> per-doc score -> distributed
    top-k (TakeOrderedAndProject — no single-partition window).

Corpus statistics (N, total token count) are one tree-aggregated row
cross-joined back as a broadcast — never a driver collect.

Determinism (cross-engine value-hash discipline): the classic BM25 idf
is ln((N - df + 0.5)/(df + 0.5)); ln() is a transcendental whose last
ulp differs between the JVM and DuckDB's libm, so this operator uses
the *rational* idf — the same fraction WITHOUT the log.  Every
remaining operation is IEEE +,-,*,/ (correctly rounded, bit-identical
on identical inputs on both engines); per-term scores are quantized to
DECIMAL and summed exactly (order-independent — the queries.dsum
discipline), so the per-doc score is reproducible to the hash digit.
Rational idf preserves the df-ordering of ln (monotone transform) —
rankings agree with log-BM25 on which docs out-rank which per term;
document it as the "BM25-rational" scoring variant.

At 100 TB: the only wide operation is the (doc, term) count — an
equi-shuffle on doc_id of the FILTERED postings (|docs containing a
query term| × |Q| rows at most).  df and corpus stats are tiny
broadcasts.  Skewed stop-word queries are bounded by ``max_df_frac``
(the band-frequency-cap pattern of operators/dedup.py): a query term
whose df exceeds that fraction of N is dropped from scoring before the
per-doc join, so one stop-word term cannot pull the whole corpus into
the scored frame.  The comparison ``df <= frac · n_docs`` is decimal ×
integer — exact on both engines, so the cap itself is oracle-stable.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ColumnNotFoundError, require_columns
from ..functions.text_fns import DUCK, SPARK, Dialect
from .artifacts import begin_build, commit_build, read_artifact, read_params, write_row

_BM25_STATS = "n_docs long, sum_dl long"  # the one-row corpus totals

__all__ = [
    "bm25_topk",
    "bm25_topk_oracle_sql",
    "build_text_index",
    "append_text_index",
    "query_text_index",
    "keyword_extract",
    "keyword_extract_sql",
    "phrase_search",
    "phrase_search_sql",
    "build_phrase_index",
    "append_phrase_index",
    "query_phrase_index",
]


def _score_sql(k1: float, b: float) -> str:
    """Per-(doc, term) BM25-rational partial score — pure IEEE arithmetic
    over exact integer inputs (tf, df, dl, n_docs, sum_dl), identical
    expression text on both engines."""
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    idf = (
        "((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
        " / (CAST(df AS DOUBLE) + 0.5))"
    )
    tf_part = (
        f"(CAST(tf AS DOUBLE) * ({k1!r} + 1.0)) / "
        f"(CAST(tf AS DOUBLE) + {k1!r} * (1.0 - {b!r} + {b!r} * "
        f"(CAST(dl AS DOUBLE) / {avgdl})))"
    )
    return f"({idf} * {tf_part})"


def _agg_score_sql(k1: float, b: float, round_to: int) -> str:
    """Exact-sum the per-term partials: DECIMAL(18,6) quantize (same
    width reasoning as autocorr.exact_corr_sql — 18 avoids Spark's
    precision-loss rescale), order-independent SUM, HALF_UP round."""
    return (
        f"CAST(ROUND(SUM(CAST({_score_sql(k1, b)} AS DECIMAL(18,6))), {round_to}) "
        "AS DOUBLE)"
    )


def _term_list_sql(terms: Sequence[str]) -> str:
    quoted = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"({quoted})"


def bm25_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    terms: Sequence[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    round_to: int = 4,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Top-``k`` documents by BM25-rational relevance to ``terms``.

    Returns ``(id_col, n_terms, score)`` ordered by (score DESC, id) —
    the id tiebreak makes the k-boundary deterministic across engines.

    ``max_df_frac`` drops any query term whose document frequency
    exceeds that fraction of the corpus BEFORE the per-doc scoring join
    (the module-docstring skew guard) — such a term's idf is near zero
    anyway, while its posting list is by definition a large fraction of
    the corpus.  A query left with zero surviving terms returns empty.
    """
    for c in (text_col, id_col):
        if c not in docs.columns:
            raise ColumnNotFoundError(f"column {c!r} not in DataFrame")
    terms = list(dict.fromkeys(terms))  # dedupe, keep order
    if not terms:
        raise ValueError("bm25_topk needs at least one query term")
    if max_df_frac is not None and not (0.0 < max_df_frac <= 1.0):
        raise ValueError(f"max_df_frac must be in (0, 1], got {max_df_frac}")

    base = docs.select(
        F.col(id_col), F.expr(SPARK.tokens(text_col)).alias("toks")
    ).select(id_col, "toks", F.size("toks").alias("dl"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )
    # explode_outer: plain explode over the toks ATTRIBUTE makes
    # InferFiltersFromGenerate push size/isnotnull constraints below the
    # projection, re-running the tokenizer in the scan Filter.  The
    # explicit term-null filter drops the NULL term an OUTER explode
    # emits for NULL/empty arrays (row-identical; the isin would too,
    # but only while no caller passes a NULL term — keep the row
    # identity independent of caller input, ADVICE r14).  Free after
    # predicate pushdown: isNotNull is implied by the isin semijoin.
    postings = (
        base.select(id_col, "dl", F.explode_outer("toks").alias("term"))
        .where(F.col("term").isNotNull() & F.col("term").isin(terms))
    )
    tf = postings.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_df_frac is not None:
        dfreq = (
            dfreq.crossJoin(F.broadcast(stats.select("n_docs")))
            .where(F.expr(f"df <= {max_df_frac!r} * n_docs"))
            .drop("n_docs")
        )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col, "dl")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.expr(_agg_score_sql(k1, b, round_to)).alias("score"),
        )
    )
    return (
        scored.select(id_col, "n_terms", "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(int(k))
    )


def bm25_topk_oracle_sql(
    table: str,
    text_col: str,
    id_col: str,
    terms: Sequence[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    round_to: int = 4,
    dialect: Dialect = DUCK,
    max_df_frac: float | None = None,
) -> str:
    """The same plan rendered as one SQL statement (DuckDB oracle)."""
    terms = list(dict.fromkeys(terms))
    toks = dialect.tokens(text_col)
    cap = (
        f" WHERE df <= {max_df_frac!r} * (SELECT n_docs FROM stats)"
        if max_df_frac is not None
        else ""
    )
    return f"""
    WITH base AS (
      SELECT {id_col}, {toks} AS toks FROM {table}
    ),
    sized AS (
      SELECT {id_col}, {dialect.size('toks')} AS dl, toks FROM base
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM sized
    ),
    tf AS (
      SELECT {id_col}, dl, u.term, COUNT(*) AS tf
      FROM sized, UNNEST(toks) AS u(term)
      WHERE u.term IN {_term_list_sql(terms)}
      GROUP BY {id_col}, dl, u.term
    ),
    dfreq AS (
      SELECT term, df FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term){cap}
    )
    SELECT {id_col}, n_terms, score FROM (
      SELECT tf.{id_col}, COUNT(*) AS n_terms,
             {_agg_score_sql(k1, b, round_to)} AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
      GROUP BY tf.{id_col}, dl
    )
    ORDER BY score DESC, {id_col}
    LIMIT {int(k)}
    """


# --------------------------------------------------------------------------
# Persisted inverted index (build/serve split — the ANN-index pattern,
# operators/similarity.py:build_lsh_index, applied to lexical retrieval)
# --------------------------------------------------------------------------


def build_text_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
) -> None:
    """Materialize the inverted structures :func:`bm25_topk` recomputes
    per query: ``{path}/postings`` (term, id, tf, dl) — the full
    (document, term) frequency table, repartitioned by term so a reader
    gets term-clustered files — and ``{path}/stats`` (one row: n_docs,
    sum_dl).  The ``{path}/params`` marker is committed LAST, so its
    presence implies a complete build (the ``operators/artifacts.py``
    contract).

    At 100 TB: tokenize-explode-count is paid ONCE over the corpus;
    every query then reads only the row groups whose term column
    intersects its terms (min/max pruning on the term-clustered files —
    at cluster scale, a metastore table bucketed by term) and scores
    |matching postings| rows.  This is what an inverted index IS in
    columnar-lake terms."""
    require_columns(docs, (text_col, id_col))
    base = docs.select(
        F.col(id_col), F.expr(SPARK.tokens(text_col)).alias("toks")
    ).select(id_col, "toks", F.size("toks").alias("dl"))
    # explode_outer + term null-filter — see bm25_topk (row-identical:
    # token elements are never NULL).
    postings = (
        base.select(id_col, "dl", F.explode_outer("toks").alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    spark = docs.sparkSession
    begin_build(spark, path)
    postings.repartition("term").write.mode("overwrite").parquet(f"{path}/postings")
    base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).write.mode("overwrite").parquet(f"{path}/stats")
    commit_build(spark, path, dict(id_col=id_col, text_col=text_col))


def query_text_index(
    spark,
    path: str,
    terms: Sequence[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    round_to: int = 4,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Top-k BM25-rational against a persisted inverted index — returns
    exactly what the inline :func:`bm25_topk` returns on the same corpus
    (the build→serve ≡ inline contract the oracle checks).  The term
    filter sits directly on the postings scan (PushedFilters: In(term))
    so only matching row groups are read; df and corpus stats remain
    tiny broadcasts.  ``max_df_frac`` is the same stop-word skew guard
    as the inline form — here it additionally prevents READING the bulk
    of a stop-word's posting list into the scoring join."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("query_text_index needs at least one query term")
    if max_df_frac is not None and not (0.0 < max_df_frac <= 1.0):
        raise ValueError(f"max_df_frac must be in (0, 1], got {max_df_frac}")
    p = read_params(spark, path)
    id_col = p["id_col"]
    tf = read_artifact(spark, path, "postings").where(F.col("term").isin(terms))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = read_artifact(spark, path, "stats")
    if max_df_frac is not None:
        dfreq = (
            dfreq.crossJoin(F.broadcast(stats.select("n_docs")))
            .where(F.expr(f"df <= {max_df_frac!r} * n_docs"))
            .drop("n_docs")
        )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col, "dl")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.expr(_agg_score_sql(k1, b, round_to)).alias("score"),
        )
    )
    return (
        scored.select(id_col, "n_terms", "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(int(k))
    )


def append_text_index(
    docs: DataFrame,
    path: str,
) -> None:
    """Incremental index maintenance — the answer to the staleness cliff
    named for persisted indexes in SCALE.md: new documents append their
    postings without recomputing the existing corpus.

    The new docs' (term, id, tf, dl) rows append to ``{path}/postings``
    (parquet append mode — the term-clustering of OLD files is
    untouched; new files are term-repartitioned among themselves), and
    ``{path}/stats`` is replaced with the summed totals (old stats row +
    the delta — one tiny read, never a corpus rescan).  Document
    frequencies are NOT stored (recomputed per query from the filtered
    postings), so df correctness after append is automatic.

    Contract (pinned in tests): build(A) + append(B) answers every query
    exactly like build(A ∪ B).  Caller owns id uniqueness across
    appends — re-appending an existing doc double-counts it, exactly as
    appending it to the corpus would.
    """
    spark = docs.sparkSession
    p = read_params(spark, path)
    id_col, text_col = p["id_col"], p["text_col"]
    require_columns(docs, (text_col, id_col))
    base = docs.select(
        F.col(id_col), F.expr(SPARK.tokens(text_col)).alias("toks")
    ).select(id_col, "toks", F.size("toks").alias("dl"))
    # explode_outer + term null-filter — see bm25_topk.
    postings = (
        base.select(id_col, "dl", F.explode_outer("toks").alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    postings.repartition("term").write.mode("append").parquet(f"{path}/postings")
    old = spark.read.schema(_BM25_STATS).parquet(f"{path}/stats").collect()[0]
    delta = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    write_row(spark, f"{path}/stats", dict(
        n_docs=old["n_docs"] + delta["n_docs"],
        sum_dl=(old["sum_dl"] or 0) + (delta["sum_dl"] or 0),
    ), _BM25_STATS)


def keyword_extract_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    topn: int = 3,
    min_df: int = 2,
    max_df_frac: float = 0.5,
) -> str:
    """Per-document keyword extraction — top-n terms by rational TF-IDF
    tf · (N − df + 0.5)/(df + 0.5) (the module's BM25-rational idf, a
    monotone transform of ln-idf, so term rankings agree while every op
    stays IEEE +,-,*,/ — bit-exact cross-engine, no quantization).

    Unlike :func:`bm25_topk` (query-conditioned retrieval), this scores
    EVERY (doc, term) pair: the per-doc tf groupBy is the one wide
    shuffle (|corpus tokens| input, |distinct doc-term| output); df and
    N are a broadcast-sized term relation and a one-row aggregate state.
    ``min_df`` prunes hapax noise; ``max_df_frac`` is the stop-word cap
    (terms in more than that fraction of docs carry no keyword signal
    and would otherwise dominate the ranked-window input).  The per-doc
    rank window partitions on doc_id — never a global window.

    Output: ({id_col}, term, tf, df, score, rnk ≤ topn), ordered
    ({id_col}, rnk) — fully deterministic (score ties break on term).
    """
    from .dedup import _unnest

    toks = d.tokens(text_col)
    # ``stats`` counts EVERY base row (NULL-text docs included), so the
    # NULL guard cannot move to the raw text column here.  The Spark
    # branch instead filters the generate OUTPUT via LATERAL VIEW OUTER
    # (row-identical: token elements are never NULL, and NULL/empty
    # token arrays emit nothing under either form) — a `_toks IS NOT
    # NULL` guard above the projection gets pushed into the scan Filter
    # with the tokenizer inlined, one extra tokenize pass per row.
    if d.name == "spark":
        tok = f"""
      SELECT {id_col}, term FROM base
      LATERAL VIEW OUTER explode(_toks) _kt AS term
      WHERE term IS NOT NULL"""
    else:
        tok = f"""
      SELECT {id_col}, {_unnest(d, "_toks", "term")}
      FROM base WHERE _toks IS NOT NULL"""
    return f"""
    WITH base AS (
      SELECT {id_col}, {toks} AS _toks FROM {table}
    ),
    tok AS ({tok}
    ),
    tf AS (
      SELECT {id_col}, term, COUNT(*) AS tf FROM tok GROUP BY {id_col}, term
    ),
    stats AS (SELECT COUNT(*) AS n_docs FROM base),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.{id_col}, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf AS DOUBLE)
               * ((CAST(stats.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5)
                  / (CAST(dfreq.df AS DOUBLE) + 0.5)) AS score
      FROM tf
      JOIN dfreq ON dfreq.term = tf.term
      CROSS JOIN stats
      WHERE dfreq.df >= {int(min_df)}
        AND CAST(dfreq.df AS DOUBLE) <= {max_df_frac!r} * CAST(stats.n_docs AS DOUBLE)
    ),
    ranked AS (
      SELECT {id_col}, term, tf, df, score,
             ROW_NUMBER() OVER (
               PARTITION BY {id_col} ORDER BY score DESC, term
             ) AS rnk
      FROM scored
    )
    SELECT {id_col}, term, tf, df, score, rnk
    FROM ranked WHERE rnk <= {int(topn)}
    ORDER BY {id_col}, rnk
    """


def keyword_extract(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    topn: int = 3,
    min_df: int = 2,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """DataFrame front door for :func:`keyword_extract_sql`."""
    for c in (id_col, text_col):
        if c not in docs.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {docs.columns}")
    view = "_ts_kw_in"
    docs.createOrReplaceTempView(view)
    return docs.sparkSession.sql(
        keyword_extract_sql(
            SPARK, view, id_col, text_col,
            topn=topn, min_df=min_df, max_df_frac=max_df_frac,
        )
    )


def phrase_search_sql(
    d: Dialect,
    table: str,
    text_col: str,
    id_col: str,
    phrase: Sequence[str],
) -> str:
    """Exact PHRASE search over positional postings: documents where the
    query tokens appear CONSECUTIVELY, with the match count — the
    capability BM25's bag-of-words scoring cannot express ("new york"
    must not match "york … new"), and the positional-index half of a
    lexical retrieval stack.

    The classic anchor trick makes it ONE join + one groupBy, never
    m−1 chained self-joins: each posting of a phrase term computes its
    implied phrase START (pos − offset via the m-row query relation),
    and a start where ALL m distinct offsets appear is a match —
    ``COUNT(DISTINCT off) = m`` (duplicate tokens in the phrase are
    handled by the offset join fanning one posting to each of its
    offsets).  Cross-engine: positions are 0-based on Spark / 1-based
    on DuckDB (the _ssr_pos_explode bases), but anchors only compare
    WITHIN an engine — base-shift-invariant, positions never reach the
    output.

    Scale shape: the term filter sits directly above the positional
    explode (the BM25 posting convention — postings volume = matching
    tokens only, never the corpus token stream); the m-row query
    relation joins broadcast-style; the (doc, anchor) groupBy and the
    per-doc count are partial-aggregated exchanges on doc-sized keys.
    """
    from .dedup import _ssr_pos_explode

    terms = [t for t in phrase]
    if not terms:
        raise ValueError("phrase_search needs at least one term")
    m = len(terms)
    q = lambda s: "'" + s.replace("'", "''") + "'"  # noqa: E731
    qrel = " UNION ALL ".join(
        f"SELECT {q(t)} AS qt, {i} AS off" for i, t in enumerate(terms)
    )
    in_list = ", ".join(q(t) for t in sorted(set(terms)))
    postings = _ssr_pos_explode(
        d, table, id_col, d.tokens(text_col), "term",
        f"{text_col} IS NOT NULL",
    )
    return f"""
    WITH _phq AS (
      {qrel}
    ),
    _php AS (
      SELECT did, pos, term FROM ({postings}) WHERE term IN ({in_list})
    ),
    _pha AS (
      SELECT p.did AS did, p.pos - q.off AS anchor
      FROM _php p JOIN _phq q ON q.qt = p.term
      GROUP BY p.did, p.pos - q.off
      HAVING COUNT(DISTINCT q.off) = {m}
    )
    SELECT did AS {id_col}, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM _pha GROUP BY did
    """


def phrase_search(
    df: DataFrame,
    text_col: str,
    id_col: str,
    phrase: Sequence[str],
) -> DataFrame:
    """DataFrame front door for :func:`phrase_search_sql`."""
    for c in (text_col, id_col):
        if c not in df.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {df.columns}")
    view = "_ts_phrase_in"
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(
        phrase_search_sql(SPARK, view, text_col, id_col, phrase)
    )


def build_phrase_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
) -> None:
    """Materialize the POSITIONAL postings :func:`phrase_search`
    recomputes per query: ``{path}/postings_pos`` (term, id, pos) —
    the full positional index, repartitioned by term so a reader gets
    term-clustered files — with ``{path}/params`` written LAST (the
    _index_ready completeness contract).  Positions are the Spark
    0-base; the serve side only ever DIFFERENCES them (anchors), so
    the base never matters.

    At 100 TB: the tokenize + positional explode is paid ONCE; each
    phrase query then reads only its terms' row groups (min/max
    pruning on the term-clustered files) — the positional half of the
    inverted index build_text_index materializes for scoring."""
    require_columns(docs, (text_col, id_col))
    # posexplode_outer + null-filter on the generate OUTPUT: plain
    # posexplode makes Catalyst infer a size(toks) > 0 constraint and
    # push it below the projection, re-running the tokenizer inside the
    # scan Filter per row.  Row-identical: token elements are never
    # NULL, and empty token arrays emit nothing under either form.
    postings = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.expr(SPARK.tokens(text_col)).alias("toks"))
        .select(id_col, F.posexplode_outer("toks").alias("pos", "term"))
        .where(F.col("term").isNotNull())
    )
    spark = docs.sparkSession
    begin_build(spark, path)
    postings.repartition("term").write.mode("overwrite").parquet(
        f"{path}/postings_pos"
    )
    commit_build(spark, path, dict(id_col=id_col, text_col=text_col))


def query_phrase_index(
    spark,
    path: str,
    phrase: Sequence[str],
) -> DataFrame:
    """Phrase search against the persisted positional index — returns
    exactly what the inline :func:`phrase_search` returns on the same
    corpus (build→serve ≡ inline, the ANN/bm25 persisted contract).
    The term filter sits directly on the postings scan (PushedFilters:
    In(term)) so only matching row groups are read; the anchor
    groupBy + per-doc count run on |matching postings| rows — the
    corpus tokenize/explode subtree is ABSENT from this plan."""
    terms = [t for t in phrase]
    if not terms:
        raise ValueError("query_phrase_index needs at least one term")
    m = len(terms)
    p = read_params(spark, path)
    id_col = p["id_col"]
    qrel = spark.createDataFrame(
        [(t, i) for i, t in enumerate(terms)], "qt string, off int"
    )
    postings = (
        read_artifact(spark, path, "postings_pos")
        .where(F.col("term").isin(sorted(set(terms))))
    )
    anchors = (
        postings.join(F.broadcast(qrel), postings["term"] == qrel["qt"])
        .select(id_col, (F.col("pos") - F.col("off")).alias("anchor"), "off")
        .groupBy(id_col, "anchor")
        .agg(F.countDistinct("off").alias("n_off"))
        .where(F.col("n_off") == m)
    )
    return anchors.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )


def append_phrase_index(
    docs: DataFrame,
    path: str,
) -> None:
    """Incremental maintenance for the POSITIONAL index: new documents
    append their (term, id, pos) rows to ``{path}/postings_pos`` —
    parquet append mode, old files' term-clustering untouched, new
    files term-repartitioned among themselves.  Phrase matching has no
    corpus-level statistics at all (anchors are purely within-doc), so
    the append IS the whole maintenance — no stats merge, and
    build(A) + append(B) ≡ build(A ∪ B) structurally (pinned in
    tests).  Caller owns id uniqueness across appends (re-appending a
    doc double-counts its matches, exactly as the corpus union would).
    """
    p = read_params(docs.sparkSession, path)
    id_col, text_col = p["id_col"], p["text_col"]
    require_columns(docs, (text_col, id_col))
    postings = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.expr(SPARK.tokens(text_col)).alias("toks"))
        # posexplode_outer + null-filter — see build_phrase_index.
        .select(id_col, F.posexplode_outer("toks").alias("pos", "term"))
        .where(F.col("term").isNotNull())
    )
    postings.repartition("term").write.mode("append").parquet(
        f"{path}/postings_pos"
    )


# ---------------------------------------------------------------------------
# TF-IDF cosine document-pair screen (r13)
# ---------------------------------------------------------------------------

def _tfc_weights_select(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int,
    pair_df_cap: int,
) -> str:
    """(did, term, wt): the TF-IDF weight relation — explode + hash +
    tf groupBy + df window + the df-cap filter, split out so the Spark
    front door can STAGE it (localCheckpoint): the statement reads it
    THREE times (norms + both pair-join sides), and Catalyst would
    otherwise replan the whole explode chain per reference."""
    from .dedup import _unnest

    toks = d.tokens(text_col)
    shingles = d.shingles("_toks", shingle_k)
    # Both row guards sit on the RAW text column so neither pushes a
    # tokenizer into the scan Filter (`_toks IS NOT NULL AND
    # size(_toks) >= 1` above the projection made the scan tokenize
    # every row twice more):
    #   _toks IS NOT NULL   ⇔  text IS NOT NULL        (NULL-propagation)
    #   size(_toks) >= 1    ⇔  lower(text) has a [a-z0-9] char
    # — the regex form is exactly as cross-engine-safe as tokens()
    # itself, which already depends on the engines agreeing on
    # lower() + this character class.
    if d.name == "spark":
        guard = (f"{text_col} IS NOT NULL AND "
                 f"lower({text_col}) RLIKE '[a-z0-9]'")
        # LATERAL VIEW OUTER + null-filter instead of a select-clause
        # explode: plain explode's inferred size-constraint re-evaluates
        # the shingle chain at the scan (see dedup._ssr_pos_explode);
        # row-identical — shingles clamp to >= 1 non-null element under
        # the guard.  Measured 1.42 -> 1.20 s at sf0.1, collect-compared
        # identical (260 388 rows).
        sh_rel = f"""
              SELECT did, sh FROM (
                SELECT did, {shingles} AS _sharr
                FROM (SELECT {id_col} AS did, {toks} AS _toks
                      FROM {table} WHERE {guard}) _tcb
              ) LATERAL VIEW OUTER explode(_sharr) t AS sh
              WHERE sh IS NOT NULL"""
    else:
        guard = (f"{text_col} IS NOT NULL AND "
                 f"regexp_matches(lower({text_col}), '[a-z0-9]')")
        sh_rel = f"""
              SELECT did, {_unnest(d, shingles, "sh")}
              FROM (SELECT {id_col} AS did, {toks} AS _toks
                    FROM {table} WHERE {guard}) _tcb"""
    return f"""
      SELECT did, term,
             CAST(tf AS DOUBLE)
               * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS wt
      FROM (
        SELECT did, term, tf,
               CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
        FROM (
          SELECT did, term, COUNT(*) AS tf FROM (
            SELECT did, {d.md5_long("sh")} AS term FROM ({sh_rel}
            ) _tcx
          ) _tct GROUP BY did, term
        ) _tcf
      ) _tcdf
      CROSS JOIN (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table}
      ) s
      WHERE df <= {int(pair_df_cap)}
    """


def tfidf_cosine_pairs_sql(
    d: Dialect,
    table: str,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.3,
    shingle_k: int = 3,
    pair_df_cap: int = 64,
    staged_w: str | None = None,
) -> str:
    """Document near-dup pairs by TF-IDF-weighted cosine over hashed
    ``shingle_k``-gram terms — the frequency-weighted complement of the
    set-based Jaccard tier (repeated spans COUNT here; Jaccard's
    distinct sets ignore multiplicity, SimHash's global profile dilutes
    local repetition).  The classic all-pairs-similarity inverted-index
    shape (Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    Search", WWW): pairs exist only where a term posting collides —
    never an open cross join.

    Rules, all deterministic:

    * term = 60-bit md5 of the k-token shingle (the explode→hash→agg
      discipline); tf = occurrences per (doc, term);
    * weight = tf · (N / df) — the RATIONAL idf of this module (ln is
      a transcendental whose last ulp differs across engines; N/df is
      IEEE division of exact integers and preserves df-ordering);
    * a term in more than ``pair_df_cap`` documents leaves the vector
      space entirely (the band-frequency-cap rule as DYNAMIC STOP-WORD
      semantics: it bounds every posting bucket's pair fan-out at
      cap², and a term that common carries ~no idf signal anyway);
    * dot and squared norms are per-term double products quantized to
      DECIMAL(27,6) before the SUM (the ADC discipline — parallel
      aggregation cannot reassociate them), so cosine is reproducible
      to the hash digit;
    * cosine = dot / (sqrt(n2_a) · sqrt(n2_b)), both roots taken
      BEFORE the product (one shared evaluation order).

    Output: (doc_id_a, doc_id_b, cosine) for cosine ≥ ``threshold``,
    doc_id_a < doc_id_b.

    Scale shape: one corpus explode+hash; tf groupBy [1 exchange]; df
    is a window over the tf frame [1 term-key exchange]; the pair join
    shuffles on the term hash with per-bucket fan-out ≤ cap²; pair dot
    groupBy [1]; norms join back broadcast-sized per pair side.  The
    Spark front door STAGES the weight relation (``staged_w``,
    localCheckpoint — it is read three times: norms + both pair-join
    sides); the DuckDB oracle keeps the inline text, so staged ≡
    one-statement is structural.
    """
    from ._num import dec_to_double, round_double

    quant = lambda e: f"CAST({round_double(e, 6)} AS DECIMAL(27,6))"
    cos = (f"({dec_to_double('dp.dot')} / "
           f"(sqrt({dec_to_double('na.n2')}) * sqrt({dec_to_double('nb.n2')})))")
    w = (f"SELECT did, term, wt FROM {staged_w}" if staged_w
         else _tfc_weights_select(d, table, id_col, text_col,
                                  shingle_k=shingle_k,
                                  pair_df_cap=pair_df_cap))
    return f"""
    WITH _tcw AS (
      {w}
    ),
    _tc2 AS (
      SELECT did, SUM({quant("wt * wt")}) AS n2 FROM _tcw GROUP BY did
    ),
    _tcp AS (
      SELECT a.did AS did_a, b.did AS did_b,
             SUM({quant("a.wt * b.wt")}) AS dot
      FROM _tcw a JOIN _tcw b ON a.term = b.term AND a.did < b.did
      GROUP BY a.did, b.did
    )
    SELECT did_a AS doc_id_a, did_b AS doc_id_b, cosine FROM (
      SELECT dp.did_a, dp.did_b, {cos} AS cosine
      FROM _tcp dp
      JOIN _tc2 na ON na.did = dp.did_a
      JOIN _tc2 nb ON nb.did = dp.did_b
    ) _tcc WHERE cosine >= {threshold!r}
    """


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.3,
    shingle_k: int = 3,
    pair_df_cap: int = 64,
) -> DataFrame:
    """DataFrame front door for :func:`tfidf_cosine_pairs_sql` — stages
    the (did, term, wt) weight relation once (lazy localCheckpoint)."""
    for c in (id_col, text_col):
        if c not in docs.columns:
            raise ColumnNotFoundError(f"column {c!r} not in {docs.columns}")
    spark = docs.sparkSession
    view = "_ts_tfc_in"
    docs.createOrReplaceTempView(view)
    staged = spark.sql(
        _tfc_weights_select(
            SPARK, view, id_col, text_col,
            shingle_k=shingle_k, pair_df_cap=pair_df_cap,
        )
    ).localCheckpoint(eager=False)
    sview = "_ts_tfc_w"
    staged.createOrReplaceTempView(sview)
    return spark.sql(
        tfidf_cosine_pairs_sql(
            SPARK, view, id_col, text_col, threshold=threshold,
            shingle_k=shingle_k, pair_df_cap=pair_df_cap, staged_w=sview,
        )
    )
