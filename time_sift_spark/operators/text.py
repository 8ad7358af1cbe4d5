"""Text-analysis operators for LLM data pipelines (charter extension,
SURVEY.md §2.4): token counting, quality scoring, language ID,
document fingerprinting.

All expressions are built-in-function SQL rendered by
functions.text_fns.Dialect('spark') — pure Catalyst/codegen, zero Python
on executors.  Embarrassingly parallel (no shuffle at all): each operator
is a projection, so at 100 TB it scales with scan bandwidth.  The DuckDB
oracles render the same logical expressions via Dialect('duck').
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ColumnNotFoundError, require_columns
from ..functions.text_fns import SPARK
from .artifacts import begin_build, commit_build, read_artifact, read_params


def text_stats(df: DataFrame, text_col: str, *, keep_cols: Sequence[str] = ()) -> DataFrame:
    """Per-document counting + quality metrics.

    Outputs: n_chars_txt, n_tokens_ws (whitespace), n_tokens_bpe (BPE-ish
    regex), n_tokens_alnum, punct_ratio, digit_ratio, stopword_ratio_en,
    mean_token_len, quality_score.
    """
    require_columns(df, [text_col, *keep_cols])
    c = text_col
    # stage tokens once (the oracle keeps the single-expression form —
    # values identical, this only removes repeated tokenization)
    staged = df.select(*keep_cols, c, F.expr(SPARK.tokens(c)).alias("_toks"))
    toks = "_toks"
    return staged.select(
        *keep_cols,
        F.expr(SPARK.char_count(c)).alias("n_chars_txt"),
        F.expr(SPARK.ws_token_count(c)).alias("n_tokens_ws"),
        F.expr(SPARK.bpe_token_count(c)).alias("n_tokens_bpe"),
        F.expr(SPARK.size(toks)).alias("n_tokens_alnum"),
        F.expr(SPARK.ratio(SPARK.punct_count(c), SPARK.char_count(c))).alias("punct_ratio"),
        F.expr(SPARK.ratio(SPARK.digit_count(c), SPARK.char_count(c))).alias("digit_ratio"),
        F.expr(SPARK.ratio(SPARK.stopword_hits(toks, "en"), SPARK.size(toks))).alias(
            "stopword_ratio_en"
        ),
        F.expr(SPARK.mean_token_len(c, toks)).alias("mean_token_len"),
        F.expr(SPARK.quality_score(c, toks)).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str, *, keep_cols: Sequence[str] = ()) -> DataFrame:
    """Heuristic language identification → ``lang_pred`` column.

    CJK char-ratio gate, then stopword-hit argmax over {en,es,fr,de} with
    fixed priority tie-break; 'und' when nothing matches.
    """
    require_columns(df, [text_col, *keep_cols])
    staged = df.select(*keep_cols, text_col, F.expr(SPARK.tokens(text_col)).alias("_toks"))
    return staged.select(*keep_cols, F.expr(SPARK.lang_id(text_col, "_toks")).alias("lang_pred"))


def fingerprint(
    df: DataFrame, text_col: str, *, k: int = 3, keep_cols: Sequence[str] = ()
) -> DataFrame:
    """Shingle-hash content fingerprint → ``fingerprint`` (int64).

    Min md5-derived hash over word k-shingles (a 1-permutation MinHash):
    robust to reordering whole blocks, sensitive to local wording, and
    cross-engine stable. Sub-k-token docs hash their whole token list
    (the shingle builder clamps to one undersized shingle).

    Executed as explode → hash → min-agg rather than a nested array
    expression: tokens/md5 are computed once per shingle instead of the
    projection re-evaluating the token pipeline per reference, at the
    cost of one small groupBy shuffle on ``keep_cols``.  ``keep_cols``
    must therefore uniquely key the rows (e.g. doc_id).
    """
    require_columns(df, [text_col, *keep_cols])
    if not keep_cols:
        raise ColumnNotFoundError("fingerprint requires keep_cols naming a unique row key")
    # stage tokens as a column — shingling over an inline token pipeline
    # re-tokenizes per shingle index (~7× slower, measured)
    staged = df.select(*keep_cols, F.expr(SPARK.tokens(text_col)).alias("_toks"))
    exploded = staged.select(*keep_cols, F.explode(F.expr(SPARK.shingles("_toks", k))).alias("_sh"))
    hashed = exploded.select(*keep_cols, F.expr(SPARK.md5_long("_sh")).alias("_h"))
    return hashed.groupBy(*keep_cols).agg(F.min("_h").alias("fingerprint"))


def gopher_rule_exprs(d, text_col: str, toks: str) -> dict[str, str]:
    """Named quality-rule booleans in either dialect (Gopher-style repetition
    and shape filters, Rae et al. 2021 §A1.1 adapted to the primitives the
    two engines share).  ``toks`` is a pre-staged token-array column."""
    return {
        "r_word_count": f"({d.ws_token_count(text_col)} BETWEEN 30 AND 100000)",
        "r_mean_word_len": f"({d.mean_token_len(text_col, toks)} BETWEEN 2.0 AND 10.0)",
        "r_symbol_ratio": f"({d.ratio(d.punct_count(text_col), d.char_count(text_col))} < 0.1)",
        "r_digit_ratio": f"({d.ratio(d.digit_count(text_col), d.char_count(text_col))} < 0.2)",
        "r_stopwords": f"({d.stopword_hits(toks, 'en')} >= 2)",
    }


def quality_filter(
    df: DataFrame, text_col: str, *, keep_cols: Sequence[str] = ()
) -> DataFrame:
    """Per-document named quality rules + the conjunctive ``keep`` flag.

    Unlike text_stats' scalar quality_score, this exposes WHICH rule
    rejected a document — the operational need when tuning a corpus
    filter. Pure projection: no shuffle, scan-bandwidth-bound."""
    require_columns(df, [text_col, *keep_cols])
    rules = gopher_rule_exprs(SPARK, text_col, "_toks")
    staged = df.select(*keep_cols, text_col, F.expr(SPARK.tokens(text_col)).alias("_toks"))
    out_cols = [F.expr(e).alias(name) for name, e in rules.items()]
    keep_expr = " AND ".join(rules.values())
    return staged.select(*keep_cols, *out_cols, F.expr(keep_expr).alias("keep"))


def quality_filter_sql(d, table: str, text: str, *, keep_cols: Sequence[str] = ()) -> str:
    rules = gopher_rule_exprs(d, text, "_toks")
    ids = ", ".join(keep_cols)
    sel = ", ".join(f"{e} AS {name}" for name, e in rules.items())
    keep_expr = " AND ".join(rules.values())
    return f"""
    SELECT {ids}, {sel}, {keep_expr} AS keep
    FROM (SELECT {ids}, {text}, {d.tokens(text)} AS _toks FROM {table})
    """


def repetition_stats_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    *,
    short_k: int = 2,
    long_k: int = 5,
    max_top_short: float = 0.20,
    max_dup_long: float = 0.15,
    max_repeat_token: float = 0.10,
) -> str:
    """Intra-document repetition filters (Gopher/Rae et al. 2021 §A1.1
    adapted to token fractions — the corpus has no line structure, so the
    n-gram family is the signal): per document,

    * ``top_{short_k}gram_frac`` — occurrences of the most frequent
      short n-gram over all short-n-gram occurrences (catches "batch
      batch batch ..." loops);
    * ``repeat_token_frac`` — fraction of adjacent token pairs that are
      the same token (immediate stutter);
    * ``dup_{long_k}gram_frac`` — fraction of long-n-gram occurrences
      whose gram occurs at least twice (block-level copy-paste);

    plus per-rule booleans and the conjunctive ``keep``.  Thresholds
    default to the Gopher-published magnitudes re-based to token
    fractions.  A document with fewer than ``long_k`` tokens has no
    long grams and DROPS OUT (no signal to judge it by — compose with
    quality_filter's r_word_count for minimum-length policy).

    Shape: ONE native token explode, ONE keyed window producing the
    n-gram columns as ``long_k - 1`` LEAD slots (an interpreted
    transform()-lambda shingle build measured ~12× slower — the
    bigram_fluency lesson), then two partial-aggregated counts joined on
    the document key; no pairwise anything, scan-bandwidth-bound at
    corpus scale.  All fractions are integer-over-integer IEEE division
    — no rounding needed for cross-engine hash equality.
    """
    kmax = max(short_k, long_k)
    # OUTER + `w IS NOT NULL` ≡ plain posexplode here (token arrays never
    # contain NULL elements; NULL/empty arrays are dropped by the filter
    # either way) — but plain posexplode makes Catalyst push an inferred
    # size(tokens(text)) > 0 constraint into the scan, re-tokenizing
    # every row a second time (see dedup._ssr_pos_explode).  The w
    # filter sits on generate OUTPUT, so nothing can push below.  Same
    # pattern at every `_toks` explode in this module.
    if d.name == "spark":
        ex = (
            f"SELECT {id_col}, pos, w FROM base "
            f"LATERAL VIEW OUTER posexplode(_toks) t AS pos, w WHERE w IS NOT NULL"
        )
    else:
        ex = (
            f"SELECT {id_col}, i AS pos, _toks[i] AS w FROM "
            f"(SELECT {id_col}, _toks, unnest(range(1, len(_toks) + 1)) AS i FROM base)"
        )
    over = f"OVER (PARTITION BY {id_col} ORDER BY pos)"
    leads = ", ".join(
        f"LEAD(w, {j}) {over} AS w{j + 1}" for j in range(1, kmax)
    )
    scols = ", ".join(f"w{j + 1}" for j in range(short_k))
    lcols = ", ".join(f"w{j + 1}" for j in range(long_k))
    rules = {
        f"r_top_{short_k}gram": f"(top_{short_k}gram_frac <= {max_top_short!r})",
        "r_repeat_token": f"(repeat_token_frac <= {max_repeat_token!r})",
        f"r_dup_{long_k}gram": f"(dup_{long_k}gram_frac <= {max_dup_long!r})",
    }
    sel_rules = ", ".join(f"{e} AS {name}" for name, e in rules.items())
    keep = " AND ".join(rules.values())
    return f"""
    WITH base AS (
      SELECT {id_col}, {d.tokens(text_col)} AS _toks FROM {table}
    ),
    tok AS ({ex}),
    grams AS (
      SELECT {id_col}, w AS w1, {leads} FROM tok
    ),
    gs AS (
      SELECT {id_col}, {scols}, COUNT(*) AS c
      FROM grams WHERE w{short_k} IS NOT NULL
      GROUP BY {id_col}, {scols}
    ),
    ss AS (
      SELECT {id_col}, SUM(c) AS total_s, MAX(c) AS max_s,
             SUM(CASE WHEN w1 = w2 THEN c ELSE 0 END) AS rep_s
      FROM gs GROUP BY {id_col}
    ),
    gl AS (
      SELECT {id_col}, {lcols}, COUNT(*) AS c
      FROM grams WHERE w{long_k} IS NOT NULL
      GROUP BY {id_col}, {lcols}
    ),
    sl AS (
      SELECT {id_col}, SUM(c) AS total_l,
             SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_l
      FROM gl GROUP BY {id_col}
    ),
    fracs AS (
      SELECT ss.{id_col},
             {d.ratio("max_s", "total_s")} AS top_{short_k}gram_frac,
             {d.ratio("rep_s", "total_s")} AS repeat_token_frac,
             {d.ratio("dup_l", "total_l")} AS dup_{long_k}gram_frac
      FROM ss JOIN sl ON ss.{id_col} = sl.{id_col}
    )
    SELECT {id_col}, top_{short_k}gram_frac, repeat_token_frac,
           dup_{long_k}gram_frac, {sel_rules}, {keep} AS keep
    FROM fracs
    """


def repetition_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    short_k: int = 2,
    long_k: int = 5,
    max_top_short: float = 0.20,
    max_dup_long: float = 0.15,
    max_repeat_token: float = 0.10,
) -> DataFrame:
    """DataFrame entry point for :func:`repetition_stats_sql` (the Spark
    dialect renders the same logical plan the DuckDB oracle runs)."""
    require_columns(df, [text_col, id_col])
    sql = repetition_stats_sql(
        SPARK, "_ts_rep_in", text_col, id_col,
        short_k=short_k, long_k=long_k,
        max_top_short=max_top_short, max_dup_long=max_dup_long,
        max_repeat_token=max_repeat_token,
    )
    df.createOrReplaceTempView("_ts_rep_in")
    return df.sparkSession.sql(sql)


def bigram_fluency_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    *,
    round_to: int = 6,
) -> str:
    """Corpus-trained bigram fluency score — the oracle-exact stand-in
    for LM-perplexity quality filtering (CCNet/Gopher-style): train a
    bigram model ON THE CORPUS (count tables), then score each document
    by its MEAN CONDITIONAL PROBABILITY  avg_i P(w_i | w_{i-1}).

    Why mean probability and not log-perplexity: ln() differs in the
    last ulp between engines (the engine-wide no-transcendentals rule);
    the rational form is a monotone-equivalent *ranking* signal for the
    filtering decision at a threshold.  Interpretation is two-sided,
    exactly like perplexity filters: very LOW fluency = unusual/garbled
    token transitions; very HIGH fluency = degenerate predictability
    (loops score near 1.0) — production pipelines drop both tails.

    Laplace smoothing, P = (c12 + 1) / (c1 + V) with V the continuation
    vocabulary size: without it a one-off transition in a one-off
    context scores a perfect 1.0 (the classic unsmoothed-LM overfit —
    observed on garbled text before the fix), because the corpus IS the
    training set.  Smoothed, rare contexts are pulled toward 1/V and
    the score discriminates: loops > natural reuse > garbage.

    Numerics: probabilities are ratios of exact counts (one IEEE
    division each), per-doc summed under the exact-decimal dsum
    discipline, divided by the exact bigram count — hashable to the
    digit.  Shape: one explode→count pass builds the model (bigram +
    context tables, both partial-aggregated; V is one scalar row
    broadcast back), per-doc scoring is an equi-join on the bigram key
    + one groupBy(doc).  Documents with fewer than 2 tokens have no
    bigrams and drop out (no model to score them under — document,
    don't invent).
    """
    # bigrams via native explode + LEAD window: posexplode/unnest is a
    # codegen'd Generate and the pairing is ONE keyed window pass —
    # measured ~12× faster than building per-bigram shingle strings (or
    # structs) inside an interpreted transform() lambda at sf0.1
    if d.name == "spark":
        ex = (
            f"SELECT {id_col}, pos, w FROM base "
            f"LATERAL VIEW OUTER posexplode(_toks) t AS pos, w WHERE w IS NOT NULL"
        )
    else:
        ex = (
            f"SELECT {id_col}, i AS pos, _toks[i] AS w FROM "
            f"(SELECT {id_col}, _toks, unnest(range(1, len(_toks) + 1)) AS i FROM base)"
        )
    from ._num import round_double

    # round the DERIVED double in pure double arithmetic FIRST
    # (engine-identical), then quantize: casting an arbitrary quotient
    # straight to DECIMAL can land within one double-multiply rounding
    # of a .5e-6 boundary, which the two engines resolve differently
    # (observed on the DSIR ratio — one addend flipped its last decimal
    # digit and the driver hash diverged)
    p = round_double("(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + vsz AS DOUBLE))", 6)
    psum = f"CAST(ROUND(SUM(CAST({p} AS DECIMAL(27,6))), {round_to}) AS DOUBLE)"
    return f"""
    WITH base AS (
      SELECT {id_col}, {d.tokens(text_col)} AS _toks FROM {table}
    ),
    tok AS ({ex}),
    bg AS (
      SELECT {id_col}, w1, w2 FROM (
        SELECT {id_col}, w AS w1,
               LEAD(w) OVER (PARTITION BY {id_col} ORDER BY pos) AS w2
        FROM tok
      ) WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''
    ),
    bgc AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
    ),
    ugc AS (
      SELECT w1, SUM(c12) AS c1 FROM bgc GROUP BY w1
    ),
    vocab AS (
      SELECT COUNT(DISTINCT w2) AS vsz FROM bgc
    )
    SELECT bg.{id_col}, COUNT(*) AS n_bigrams,
           ({psum} / COUNT(*)) AS fluency
    FROM bg
    JOIN bgc ON bgc.w1 = bg.w1 AND bgc.w2 = bg.w2
    JOIN ugc ON ugc.w1 = bg.w1
    CROSS JOIN vocab
    GROUP BY bg.{id_col}
    """


def bigram_fluency(df: DataFrame, text_col: str, id_col: str, *, round_to: int = 6) -> DataFrame:
    """DataFrame entry point for :func:`bigram_fluency_sql`."""
    require_columns(df, [text_col, id_col])
    sql = bigram_fluency_sql(SPARK, "_ts_flu_in", text_col, id_col, round_to=round_to)
    df.createOrReplaceTempView("_ts_flu_in")
    return df.sparkSession.sql(sql)


def dsir_weights_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    *,
    target_pred: str,
    round_to: int = 6,
) -> str:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169) in the engine's
    oracle-exact rational form: score every document by how much more
    likely its token transitions are under a TARGET distribution than
    under the full corpus,

        weight(doc) = avg_i  P_target(w_i|w_{i-1}) / P_corpus(w_i|w_{i-1})

    with both bigram models Laplace-smoothed over the SAME corpus
    vocabulary (so a transition unseen in the target degrades gracefully
    to ~(1/(ct1+V)) / P_corpus instead of zeroing the document).
    ``target_pred`` is a row predicate over the source table selecting
    the target exemplars (an in-domain seed set, a trusted source, a
    language).  Selection = rank by weight / keep above a threshold —
    the importance-resampling step is the caller's deterministic-hash
    sampler over these weights.

    The published DSIR uses hashed n-gram features and log-ratios; the
    mean-probability-ratio form ranks identically for a threshold
    decision and contains no transcendentals (the engine's value-hash
    rule).  Shape: the fluency pipeline run once (one explode + one LEAD
    window), TWO count models from the same bigram stream (corpus +
    target — the target side is a filtered re-aggregation, not a second
    scan), one scoring equi-join.  Documents with no bigrams drop out.
    """
    if d.name == "spark":
        ex = (
            f"SELECT {id_col}, is_t, pos, w FROM base "
            f"LATERAL VIEW OUTER posexplode(_toks) t AS pos, w WHERE w IS NOT NULL"
        )
    else:
        ex = (
            f"SELECT {id_col}, is_t, i AS pos, _toks[i] AS w FROM "
            f"(SELECT {id_col}, is_t, _toks, unnest(range(1, len(_toks) + 1)) AS i FROM base)"
        )
    from ._num import round_double

    p_t = "(CAST(COALESCE(ct12, 0) + 1 AS DOUBLE) / CAST(COALESCE(ct1, 0) + vsz AS DOUBLE))"
    p_c = "(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + vsz AS DOUBLE))"
    # pure-double round BEFORE the decimal quantize — see bigram_fluency
    r = round_double(f"({p_t} / {p_c})", 6)
    rsum = f"CAST(ROUND(SUM(CAST({r} AS DECIMAL(27,6))), {round_to}) AS DOUBLE)"
    return f"""
    WITH base AS (
      SELECT {id_col}, {d.tokens(text_col)} AS _toks,
             CASE WHEN {target_pred} THEN 1 ELSE 0 END AS is_t
      FROM {table}
    ),
    tok AS ({ex}),
    bg AS (
      SELECT {id_col}, is_t, w1, w2 FROM (
        SELECT {id_col}, is_t, w AS w1,
               LEAD(w) OVER (PARTITION BY {id_col} ORDER BY pos) AS w2
        FROM tok
      ) WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''
    ),
    bgc AS (
      SELECT w1, w2, COUNT(*) AS c12, SUM(is_t) AS ct12
      FROM bg GROUP BY w1, w2
    ),
    ugc AS (
      SELECT w1, SUM(c12) AS c1, SUM(ct12) AS ct1 FROM bgc GROUP BY w1
    ),
    vocab AS (
      SELECT COUNT(DISTINCT w2) AS vsz FROM bgc
    )
    SELECT bg.{id_col}, COUNT(*) AS n_bigrams,
           ({rsum} / COUNT(*)) AS dsir_weight
    FROM bg
    JOIN bgc ON bgc.w1 = bg.w1 AND bgc.w2 = bg.w2
    JOIN ugc ON ugc.w1 = bg.w1
    CROSS JOIN vocab
    GROUP BY bg.{id_col}
    """


def dsir_weights(
    df: DataFrame, text_col: str, id_col: str, *, target_pred: str, round_to: int = 6
) -> DataFrame:
    """DataFrame entry point for :func:`dsir_weights_sql`."""
    require_columns(df, [text_col, id_col])
    sql = dsir_weights_sql(
        SPARK, "_ts_dsir_in", text_col, id_col,
        target_pred=target_pred, round_to=round_to,
    )
    df.createOrReplaceTempView("_ts_dsir_in")
    return df.sparkSession.sql(sql)


def dsir_resample_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    *,
    target_pred: str,
    round_to: int = 6,
) -> str:
    """The importance-RESAMPLING step of DSIR (Xie et al. 2023) — the
    deterministic-hash sampler the weights exist for, registered so the
    pipeline end (select the target-like subset) is oracle-checked, not
    left as an exercise: document kept iff

        u(doc) * w_max < weight(doc),   u(doc) = md5-32bit(id) / 2^32

    i.e. an independent acceptance draw with probability weight/w_max —
    Gumbel-free importance resampling whose acceptance is EXACT integer
    /double arithmetic (the soft-dedup draw discipline: both sides of
    the comparison are one IEEE multiply of identical doubles — no RNG
    state, identical on any cluster size and on both engines).

    ``w_max`` is the corpus max weight (one broadcast scalar row), so
    the highest-weight document is kept with probability 1 and expected
    survivors = Σw / w_max.  Shape: the dsir_weights pipeline (one
    explode + LEAD pass, two count models) + one scalar cross join +
    a projection.  Output: ({id_col}, dsir_weight, kept BOOLEAN).
    """
    inner = dsir_weights_sql(
        d, table, text_col, id_col, target_pred=target_pred, round_to=round_to
    )
    if d.name == "spark":
        h32 = f"CAST(conv(substr(md5(CAST({id_col} AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    else:
        h32 = f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))::BIGINT)"
    return f"""
    WITH w AS ({inner}),
    wmax AS (SELECT MAX(dsir_weight) AS mw FROM w)
    SELECT {id_col}, dsir_weight,
           (CAST({h32} AS DOUBLE) * mw < dsir_weight * 4294967296.0) AS kept
    FROM w CROSS JOIN wmax
    """


def dsir_resample(
    df: DataFrame, text_col: str, id_col: str, *, target_pred: str, round_to: int = 6
) -> DataFrame:
    """DataFrame entry point for :func:`dsir_resample_sql`."""
    require_columns(df, [text_col, id_col])
    sql = dsir_resample_sql(
        SPARK, "_ts_dsirr_in", text_col, id_col,
        target_pred=target_pred, round_to=round_to,
    )
    df.createOrReplaceTempView("_ts_dsirr_in")
    return df.sparkSession.sql(sql)


def _qc_fkey(d, n_buckets: int) -> str:
    """Hashed-bigram feature key — ONE text shared by the inline
    statement and the build/serve split, so persisted weights join the
    exact keys the inline form computes."""
    bigram = "concat(w1, ' ', w2)"
    return f"({d.md5_long(bigram)} % {int(n_buckets)})"


def _qc_exprs(alpha: float, round_to: int) -> tuple[str, str, str]:
    """(per-feature posterior r, prior p0, exact-decimal score sum) —
    shared verbatim between the inline statement and the serve side so
    persisted ≡ inline is bit-exact. alpha literals via repr so both
    engines parse identical doubles."""
    from ._num import round_double

    r = round_double(
        f"(CAST(cpos + {alpha!r} AS DOUBLE) / CAST(ctot + {2 * alpha!r} AS DOUBLE))", 6
    )
    p0 = round_double(
        f"(CAST(tpos + {alpha!r} AS DOUBLE) / CAST(ttot + {2 * alpha!r} AS DOUBLE))", 6
    )
    rsum = (
        f"CAST(ROUND(SUM(CAST(COALESCE({r}, p0) AS DECIMAL(27,6))), {round_to}) AS DOUBLE)"
    )
    return r, p0, rsum


def quality_classifier_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    *,
    label_pred: str,
    train_pred: str,
    alpha: float = 0.5,
    n_buckets: int = 65536,
    round_to: int = 6,
) -> str:
    """FastText-style quality-classifier inference (Joulin et al. 2016,
    arXiv:1607.01759) as pure JVM expressions — the LEARNED companion of
    the rule-based filters (Gopher rules, repetition stats): a linear
    model over HASHED BIGRAM features whose weights are a RELATION,
    trained deterministically in the same statement and equi-joined back
    onto the exploded documents (at 100 TB: a broadcast weight table —
    the planes-as-data pattern, never per-feature literal expressions).

    The three fastText ingredients, re-based to the engine's rules:

    * word-bigram features via the native explode + LEAD convention
      (unigrams carry no signal on a shared-vocabulary corpus — the
      DSIR measurement; bigrams do);
    * FEATURE HASHING: fkey = md5-60bit(bigram) mod ``n_buckets`` — the
      fastText hashing trick that bounds the weight table at a fixed
      size regardless of corpus vocabulary (the property that makes the
      weight relation broadcastable at any scale; collisions are part
      of the model, identical on both engines);
    * a linear scorer: per-feature weight r_f = (c_pos + α) /
      (c_total + 2α), the Laplace-smoothed posterior P(positive |
      feature) from the ``train_pred`` rows labeled by ``label_pred``;
      doc score = MEAN r_f over its feature occurrences, unseen
      features scoring the TRAINED PRIOR p0 (no evidence → prior);
      ``predicted`` = score >= p0.

    The published form averages embeddings into a softmax — ln/exp
    break cross-engine hashing (the engine rule); mean-posterior vs the
    prior ranks identically for the threshold decision a corpus filter
    actually makes.  Numerics follow the fluency/DSIR discipline:
    ratios of exact counts, round_double in pure double arithmetic
    BEFORE the decimal quantize, exact-decimal sum, one IEEE division.

    Shape: ONE explode + ONE LEAD window builds the feature stream;
    training is a filtered partial-agg count over it; the prior is one
    scalar row (broadcast); scoring is an equi-join on the int feature
    key + groupBy(doc).  Documents with fewer than 2 tokens have no
    bigrams and drop out (nothing to score them by — the fluency rule).
    Output: ({id_col}, n_bigrams, quality_score, predicted).
    """
    if d.name == "spark":
        ex = (
            f"SELECT did, is_t, is_pos, pos, w FROM base "
            f"LATERAL VIEW OUTER posexplode(_toks) t AS pos, w WHERE w IS NOT NULL"
        )
    else:
        ex = (
            f"SELECT did, is_t, is_pos, i AS pos, _toks[i] AS w FROM "
            f"(SELECT did, is_t, is_pos, _toks, unnest(range(1, len(_toks) + 1)) AS i FROM base)"
        )
    fkey = _qc_fkey(d, n_buckets)
    r, p0, rsum = _qc_exprs(alpha, round_to)
    return f"""
    WITH base AS (
      SELECT {id_col} AS did, {d.tokens(text_col)} AS _toks,
             CASE WHEN {train_pred} THEN 1 ELSE 0 END AS is_t,
             CASE WHEN {label_pred} THEN 1 ELSE 0 END AS is_pos
      FROM {table}
    ),
    tok AS ({ex}),
    feats AS (
      SELECT did, is_t, is_pos, {fkey} AS fkey FROM (
        SELECT did, is_t, is_pos, w AS w1,
               LEAD(w) OVER (PARTITION BY did ORDER BY pos) AS w2
        FROM tok
      ) WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''
    ),
    weights AS (
      SELECT fkey, SUM(is_pos) AS cpos, COUNT(*) AS ctot
      FROM feats WHERE is_t = 1 GROUP BY fkey
    ),
    prior AS (
      SELECT {p0} AS p0 FROM (
        SELECT SUM(is_pos) AS tpos, COUNT(*) AS ttot FROM feats WHERE is_t = 1
      )
    )
    SELECT feats.did AS {id_col}, COUNT(*) AS n_bigrams,
           ({rsum} / COUNT(*)) AS quality_score,
           (({rsum} / COUNT(*)) >= MIN(p0)) AS predicted
    FROM feats
    LEFT JOIN weights ON weights.fkey = feats.fkey
    CROSS JOIN prior
    GROUP BY feats.did
    """


def quality_classifier_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    label_pred: str,
    train_pred: str,
    alpha: float = 0.5,
    n_buckets: int = 65536,
    round_to: int = 6,
) -> DataFrame:
    """DataFrame entry point for :func:`quality_classifier_sql`."""
    require_columns(df, [text_col, id_col])
    sql = quality_classifier_sql(
        SPARK, "_ts_qc_in", text_col, id_col,
        label_pred=label_pred, train_pred=train_pred,
        alpha=alpha, n_buckets=n_buckets, round_to=round_to,
    )
    df.createOrReplaceTempView("_ts_qc_in")
    return df.sparkSession.sql(sql)


def build_quality_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    *,
    label_pred: str,
    train_pred: str,
    alpha: float = 0.5,
    n_buckets: int = 65536,
    round_to: int = 6,
) -> None:
    """Train-once half of the quality classifier: materialize the weight
    relation (``{path}/weights``: fkey, cpos, ctot — exact integer
    counts, at most ``n_buckets`` rows by construction) and the prior
    totals (``{path}/prior``: tpos, ttot — a one-row re-aggregation of
    the weights frame, never a second corpus pass), then ``params``
    LAST (the completeness marker). Counts are stored as integers and
    the posterior/prior doubles are recomputed at serve time with the
    SAME shared expression text (:func:`_qc_exprs`), so serve ≡ inline
    is bit-exact — the ANN build/serve contract applied to the text
    tier. At 100 TB the training explode runs ONCE here instead of
    inside every scoring query (the r7-verdict amortization doctrine)."""
    require_columns(df, [text_col, id_col])
    spark = df.sparkSession
    view = "_ts_qcb_in"
    df.createOrReplaceTempView(view)
    d = SPARK
    ex = (
        "SELECT did, is_pos, pos, w FROM base "
        "LATERAL VIEW OUTER posexplode(_toks) t AS pos, w WHERE w IS NOT NULL"
    )
    fkey = _qc_fkey(d, n_buckets)
    weights = spark.sql(f"""
    WITH base AS (
      SELECT {id_col} AS did, {d.tokens(text_col)} AS _toks,
             CASE WHEN {label_pred} THEN 1 ELSE 0 END AS is_pos
      FROM {view} WHERE {train_pred}
    ),
    tok AS ({ex}),
    feats AS (
      SELECT did, is_pos, {fkey} AS fkey FROM (
        SELECT did, is_pos, w AS w1,
               LEAD(w) OVER (PARTITION BY did ORDER BY pos) AS w2
        FROM tok
      ) WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''
    )
    SELECT fkey, SUM(is_pos) AS cpos, COUNT(*) AS ctot
    FROM feats GROUP BY fkey
    """)
    begin_build(spark, path)
    weights.write.mode("overwrite").parquet(f"{path}/weights")
    wview = "_ts_qcb_w"
    read_artifact(spark, path, "weights").createOrReplaceTempView(wview)
    spark.sql(
        f"SELECT SUM(cpos) AS tpos, SUM(ctot) AS ttot FROM {wview}"
    ).write.mode("overwrite").parquet(f"{path}/prior")
    commit_build(spark, path, dict(id_col=id_col, text_col=text_col, alpha=float(alpha),
                                   n_buckets=n_buckets, round_to=round_to))


def score_quality_model(spark, path: str, df: DataFrame) -> DataFrame:
    """Serve half: score a corpus frame against persisted weights. The
    scored side pays only its own feature explode; the weight relation
    (≤ n_buckets rows regardless of corpus size — the feature-hashing
    guarantee) arrives as a broadcast equi-join, and the prior is a
    one-row cross join. No training subtree in the plan: no is_t
    filter, no weight aggregation — those were paid at build time."""
    p = read_params(spark, path)
    id_col, text_col = p["id_col"], p["text_col"]
    require_columns(df, [text_col, id_col])
    view, wview, pview = "_ts_qcs_in", "_ts_qcs_w", "_ts_qcs_p"
    df.createOrReplaceTempView(view)
    read_artifact(spark, path, "weights").createOrReplaceTempView(wview)
    read_artifact(spark, path, "prior").createOrReplaceTempView(pview)
    d = SPARK
    fkey = _qc_fkey(d, p["n_buckets"])
    r, p0, rsum = _qc_exprs(p["alpha"], p["round_to"])
    return spark.sql(f"""
    WITH base AS (
      SELECT {id_col} AS did, {d.tokens(text_col)} AS _toks FROM {view}
    ),
    tok AS (
      SELECT did, pos, w FROM base LATERAL VIEW OUTER posexplode(_toks) t AS pos, w WHERE w IS NOT NULL
    ),
    feats AS (
      SELECT did, {fkey} AS fkey FROM (
        SELECT did, w AS w1,
               LEAD(w) OVER (PARTITION BY did ORDER BY pos) AS w2
        FROM tok
      ) WHERE w2 IS NOT NULL AND w1 <> '' AND w2 <> ''
    ),
    weights AS (SELECT fkey, cpos, ctot FROM {wview}),
    prior AS (SELECT {p0} AS p0 FROM {pview})
    SELECT feats.did AS {id_col}, COUNT(*) AS n_bigrams,
           ({rsum} / COUNT(*)) AS quality_score,
           (({rsum} / COUNT(*)) >= MIN(p0)) AS predicted
    FROM feats
    LEFT JOIN weights ON weights.fkey = feats.fkey
    CROSS JOIN prior
    GROUP BY feats.did
    """)


def readability_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    *,
    round_to: int = 6,
) -> str:
    """Per-document readability + lexical-diversity panel: Flesch
    Reading Ease, Flesch-Kincaid grade, type-token ratio, and the
    Simpson repeat probability — the classic corpus-quality signals a
    pre-training filter thresholds on (too-hard, too-easy, and
    too-repetitive tails all get dropped).

    Classic formulas on deterministic structural proxies:

    - syllables(word) ≈ max(#vowel groups ``[aeiouy]+``, 1) — the
      standard heuristic; exact syllabification needs a dictionary.
    - sentences = max(#terminator runs ``[.!?]+``, 1).  The synthetic
      corpus has NO punctuation, so every registered-query doc is one
      sentence and words-per-sentence degenerates to the word count —
      the formulas stay well-defined (documented, not hidden); the unit
      tests synthesize punctuated text to exercise the splitter.
    - flesch  = 206.835 − 1.015·(W/S) − 84.6·(Syl/W)
    - fk_grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59
    - ttr = types/W;  simpson_rep = Σ nᵢ(nᵢ−1) / (W(W−1)) — the
      probability two tokens drawn without replacement are equal (1 −
      Simpson diversity), a rational repetition signal that needs no
      transcendentals (the Shannon-entropy stand-in under the
      engine-wide no-ln rule).

    Numerics: every count is an exact BIGINT; each ratio is ONE IEEE
    division of exact integers; the formula lines are pure double
    arithmetic on those quotients, round_double'd at the end —
    hashable to the digit on both engines.  Shape: one explode feeds a
    (doc, token) partial-aggregated groupBy, then the per-doc reduce —
    ONE logical shuffle chain on the doc key; sentence counts ride the
    grouping keys (functionally dependent on the doc id), never a
    join-back.  Docs with zero alphanumeric tokens drop out (no tokens
    — nothing to score; document, don't invent).
    """
    from ._num import round_double
    from .dedup import _unnest

    syl = f"GREATEST({d.size(d.regexp_extract_all('w', '[aeiouy]+'))}, 1)"
    sent = (
        f"GREATEST({d.size(d.regexp_extract_all(text_col, '[.!?]+'))}, 1)"
    )
    wps = "(CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))"
    spw = "(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))"
    flesch = f"(206.835 - 1.015 * {wps} - 84.6 * {spw})"
    fk = f"(0.39 * {wps} + 11.8 * {spw} - 15.59)"
    ttr = "(CAST(n_types AS DOUBLE) / CAST(n_words AS DOUBLE))"
    simpson = (
        "CASE WHEN n_words > 1 THEN "
        + round_double(
            "(CAST(rep AS DOUBLE) / CAST(n_words * (n_words - 1) AS DOUBLE))",
            round_to,
        )
        + " ELSE CAST(0.0 AS DOUBLE) END"
    )
    return f"""
    WITH base AS (
      -- NULL guard on the RAW text column (tokens(x) IS NULL ⇔ x IS
      -- NULL; NULL-text rows emit no tokens either way): `_toks IS NOT
      -- NULL` above the projection gets pushed into the scan Filter
      -- with the tokenizer inlined — one extra tokenize pass per row.
      SELECT {id_col} AS did, {d.tokens(text_col)} AS _toks,
             {sent} AS n_sent
      FROM {table} WHERE {text_col} IS NOT NULL
    ),
    tok AS (
      -- Spark: OUTER + null-filter on the generate output — a plain
      -- explode over the _toks ATTRIBUTE makes InferFiltersFromGenerate
      -- add `size(_toks) > 0 AND isnotnull(_toks)`, which pushes below
      -- the projection with the tokenizer inlined (complex generator
      -- inputs are exempt, attributes are not).  Row-identical: token
      -- elements are never NULL, empty arrays emit nothing either way.
      {(f"SELECT did, n_sent, w FROM base "
        f"LATERAL VIEW OUTER explode(_toks) _rt AS w WHERE w IS NOT NULL"
        if d.name == "spark" else
        f'SELECT did, n_sent, {_unnest(d, "_toks", "w")} FROM base')}
    ),
    tc AS (
      SELECT did, n_sent, w, COUNT(*) AS n, {syl} AS syl
      FROM tok GROUP BY did, n_sent, w
    ),
    agg AS (
      SELECT did, n_sent,
             CAST(SUM(n) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(syl * n) AS BIGINT) AS n_syllables,
             CAST(SUM(n * (n - 1)) AS BIGINT) AS rep
      FROM tc GROUP BY did, n_sent
    )
    SELECT did AS {id_col}, n_words, CAST(n_sent AS BIGINT) AS n_sentences,
           n_syllables, n_types,
           {round_double(flesch, round_to)} AS flesch,
           {round_double(fk, round_to)} AS fk_grade,
           {round_double(ttr, round_to)} AS ttr,
           {simpson} AS simpson_rep
    FROM agg
    """


def readability(
    df: DataFrame, text_col: str, id_col: str, *, round_to: int = 6
) -> DataFrame:
    """DataFrame entry point for :func:`readability_sql`."""
    require_columns(df, [text_col, id_col])
    view = "_ts_readability_in"
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(
        readability_sql(SPARK, view, text_col, id_col, round_to=round_to)
    )


def token_label_chisq_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    label_expr: str,
    *,
    min_df: int = 2,
    round_to: int = 6,
) -> str:
    """Per-token chi-square association with a boolean document label —
    the classic feature-selection screen (which vocabulary separates
    positive documents from negative ones) run as ONE explode pass.

    For each token with document frequency ≥ ``min_df``, form the 2×2
    presence/label contingency table (a = positive docs containing it,
    b = negative docs containing it, c/d = the complements) and score

        χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)).

    Rational form — exact integer counts, then a fixed double
    expression tree (products of exact-in-double integers, one final
    IEEE division), round_double'd: deterministic on both engines with
    no transcendentals (the bigram-fluency discipline).  A token
    present in EVERY document has c+d = 0 and is scored 0 (carries no
    signal — CASE-guarded, not an error).

    Shape: explode → DISTINCT (doc, label, token) collapses repeats
    map-side, the per-token groupBy is the one wide shuffle, and the
    label totals are a one-row aggregate STATE crossed back in.  At
    100 TB the contingency counts fit BIGINT (≤ doc count) and the χ²
    products run in double — magnitude ~N⁵ ≤ 1e60 is double range
    (overflow-free), losing only ulps that both engines lose
    identically on the SAME expression tree.
    """
    from ._num import round_double
    from .dedup import _unnest

    num = (
        "(CAST(n_tot AS DOUBLE) * (CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)"
        " - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))"
        " * (CAST(a AS DOUBLE) * CAST(dd AS DOUBLE)"
        " - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))"
    )
    den = (
        "(CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)"
        " * CAST(a + c AS DOUBLE) * CAST(b + dd AS DOUBLE))"
    )
    chisq = (
        f"CASE WHEN (c + dd) = 0 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE {round_double(f'({num} / {den})', round_to)} END"
    )
    return f"""
    WITH base AS (
      SELECT {id_col} AS did,
             CASE WHEN {label_expr} THEN 1 ELSE 0 END AS pos,
             {d.tokens(text_col)} AS _toks
      FROM {table}
    ),
    tok AS (
      -- `tot` counts every base row, so the NULL guard cannot move to
      -- the raw text column; the Spark branch filters the generate
      -- OUTPUT via LATERAL VIEW OUTER instead (row-identical: token
      -- elements are never NULL) — a `_toks IS NOT NULL` guard above
      -- the projection is pushed into the scan Filter with the
      -- tokenizer inlined, one extra tokenize pass per row.
      SELECT DISTINCT did, pos, w FROM ({(
        f"SELECT did, pos, w FROM base "
        f"LATERAL VIEW OUTER explode(_toks) _xt AS w WHERE w IS NOT NULL"
        if d.name == "spark" else
        f"SELECT did, pos, {_unnest(d, '_toks', 'w')} "
        f"FROM base WHERE _toks IS NOT NULL"
      )}
      )
    ),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg,
             CAST(COUNT(*) AS BIGINT) AS n_tot
      FROM base
    ),
    tc AS (
      SELECT w, CAST(SUM(pos) AS BIGINT) AS a,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS b
      FROM tok GROUP BY w
      HAVING COUNT(*) >= {min_df}
    ),
    ct AS (
      SELECT w, a, b, (n_pos - a) AS c, (n_neg - b) AS dd, n_tot
      FROM tc CROSS JOIN tot
    )
    SELECT w AS token, (a + b) AS df, a AS df_pos, b AS df_neg,
           {chisq} AS chisq
    FROM ct
    """


def token_label_chisq(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_expr: str,
    *,
    min_df: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """DataFrame entry point for :func:`token_label_chisq_sql`."""
    require_columns(df, [text_col, id_col])
    view = "_ts_chisq_in"
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(
        token_label_chisq_sql(
            SPARK, view, text_col, id_col, label_expr,
            min_df=min_df, round_to=round_to,
        )
    )


def gini_feature_select_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    label_col: str,
    *,
    min_df: int = 2,
    topk: int = 100,
    round_to: int = 6,
) -> str:
    """Per-token GINI IMPURITY REDUCTION against a MULTI-CLASS document
    label — the CART split criterion as a vocabulary screen: which
    tokens, used as a presence split, most purify the label
    distribution.  The multi-class companion of
    :func:`token_label_chisq_sql` (which is 2×2 by construction):

        ΔGini(w) = G(base) − (n_w/N)·G(docs ∋ w) − ((N−n_w)/N)·G(rest)
        G(S)     = 1 − Σ_c p_c²

    Rational-form determinism: every Σ p² is computed from the EXACT
    integer identity Σ n_c² / n² — the squared counts are summed as
    exact DECIMAL(38,0) (order-independent; BIGINT would overflow at
    n_c ~ 1e12 docs), and the absent-class completion for the
    without-split arm uses Σ_all (n_l−n_wl)² = T2 + Σ_present
    ((n_l−n_wl)² − n_l²) so the (token × class) relation never needs
    rows for classes a token misses.  The only doubles are the final
    fixed expression tree (dec_to_double'd exact decimals, exact-in-
    double BIGINTs, three divisions), round_double'd — no
    transcendentals (the chi-square discipline).

    Shape: explode → DISTINCT (doc, label, token), one (token, label)
    groupBy, one token groupBy; label totals and (N, T2) are
    broadcast-sized state crossed back in.  Output: top-``topk`` tokens
    by gain (token tiebreak) with df ≥ ``min_df`` — a distributed
    top-K, not a single-partition sort.
    """
    from ._num import dec_to_double, round_double
    from .dedup import _unnest

    dec = lambda e: f"CAST({e} AS DECIMAL(18,0))"  # noqa: E731
    nd, nwd = "CAST(n_tot AS DOUBLE)", "CAST(n_w AS DOUBLE)"
    wod = "CAST(n_tot - n_w AS DOUBLE)"
    g_base = f"(1.0 - ({dec_to_double('t2')} / ({nd} * {nd})))"
    g_with = f"(1.0 - ({dec_to_double('s_w')} / ({nwd} * {nwd})))"
    g_wo = f"(1.0 - ({dec_to_double('(t2 + sw2)')} / ({wod} * {wod})))"
    raw_gain = (
        f"(({g_base} - (({nwd} / {nd}) * {g_with}))"
        f" - (({wod} / {nd}) * {g_wo}))"
    )
    gain = (
        f"CASE WHEN (n_tot - n_w) = 0 THEN CAST(0.0 AS DOUBLE)"
        f" ELSE {round_double(raw_gain, round_to)} END"
    )
    return f"""
    WITH base AS (
      SELECT {id_col} AS did, {label_col} AS lbl, {d.tokens(text_col)} AS _toks
      FROM {table}
    ),
    tok AS (
      -- `nl` counts every base row per label — the token_label_chisq
      -- OUTER-explode rationale applies verbatim.
      SELECT DISTINCT did, lbl, w FROM ({(
        f"SELECT did, lbl, w FROM base "
        f"LATERAL VIEW OUTER explode(_toks) _xt AS w WHERE w IS NOT NULL"
        if d.name == "spark" else
        f"SELECT did, lbl, {_unnest(d, '_toks', 'w')} "
        f"FROM base WHERE _toks IS NOT NULL"
      )}
      )
    ),
    nl AS (
      SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_l FROM base GROUP BY lbl
    ),
    st AS (
      SELECT CAST(SUM(n_l) AS BIGINT) AS n_tot,
             CAST(SUM({dec('n_l')} * {dec('n_l')}) AS DECIMAL(38,0)) AS t2
      FROM nl
    ),
    twl AS (
      SELECT w, lbl, CAST(COUNT(*) AS BIGINT) AS n_wl FROM tok GROUP BY w, lbl
    ),
    tw AS (
      SELECT t.w AS w, CAST(SUM(t.n_wl) AS BIGINT) AS n_w,
             CAST(SUM({dec('t.n_wl')} * {dec('t.n_wl')}) AS DECIMAL(38,0)) AS s_w,
             CAST(SUM(({dec('(l.n_l - t.n_wl)')} * {dec('(l.n_l - t.n_wl)')})
                      - ({dec('l.n_l')} * {dec('l.n_l')})) AS DECIMAL(38,0)) AS sw2
      FROM twl t JOIN nl l ON l.lbl = t.lbl
      GROUP BY t.w
      HAVING SUM(t.n_wl) >= {min_df}
    )
    SELECT w AS token, n_w AS df, {gain} AS gini_gain
    FROM tw CROSS JOIN st
    ORDER BY gini_gain DESC, token
    LIMIT {topk}
    """


def gini_feature_select(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    *,
    min_df: int = 2,
    topk: int = 100,
    round_to: int = 6,
) -> DataFrame:
    """DataFrame entry point for :func:`gini_feature_select_sql`."""
    require_columns(df, [text_col, id_col, label_col])
    view = "_ts_gini_in"
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(
        gini_feature_select_sql(
            SPARK, view, text_col, id_col, label_col,
            min_df=min_df, topk=topk, round_to=round_to,
        )
    )


def hash_vectorize_sql(
    d,
    table: str,
    text_col: str,
    id_col: str,
    *,
    dim: int = 64,
) -> str:
    """Feature-HASHING (the hashing trick — Weinberger et al. 2009)
    vectorizer: each token routes to ``h % dim`` with a ±1 SIGN drawn
    from an independent bit of the same hash, and the document's sparse
    vector is the signed count per dimension — the fixed-width,
    vocabulary-free representation a linear scorer or sketch-based
    similarity consumes when a learned vocabulary (quality-classifier
    style) is unavailable or must stay drift-free across corpus
    versions.  The sign hash is what makes collision noise zero-mean
    (unbiased inner products), the property plain modulo-bucketed
    counts lack.

    Output: sparse (doc, dim_idx, weight) triples, zero weights
    dropped.  Determinism: md5_long is non-negative (60-bit), so the
    modulo needs no double-mod fold; the sign bit is the hash's parity
    AFTER the dim division (independent of ``h % dim`` for even
    ``dim``... which is exactly when independence matters — documented
    choice: bit 60-down draw via intdiv, never the reused low bits).
    All values exact BIGINTs — no float anywhere.

    Plan: one token explode + ONE (doc, dim) partial-aggregated
    shuffle; at 100 TB the (doc, dim) key count is ≤ docs × dim and
    combiner-friendly (repeated tokens collapse map-side).
    """
    from .dedup import _int_div, _unnest

    toks = d.tokens(text_col)
    h = d.md5_long("tok")
    sign = f"CASE WHEN ({_int_div(d, h, dim)} % 2) = 0 THEN 1 ELSE -1 END"
    return f"""
    WITH _fhx AS (
      -- NULL guard on the RAW text column (tokens(x) IS NULL ⇔ x IS
      -- NULL): `_toks IS NOT NULL` above the projection gets pushed
      -- into the scan Filter with the tokenizer inlined (the
      -- _minhash_sig_cte rule).  Spark additionally explodes OUTER +
      -- null-filter on the generate output — a plain explode over the
      -- _toks ATTRIBUTE makes InferFiltersFromGenerate re-introduce the
      -- pushed constraint (see readability_sql).
      {(f"SELECT did, tok FROM ("
        f"SELECT {id_col} AS did, {toks} AS _toks FROM {table} "
        f"WHERE {text_col} IS NOT NULL) _fh0 "
        f"LATERAL VIEW OUTER explode(_toks) _ft AS tok "
        f"WHERE tok IS NOT NULL"
        if d.name == "spark" else
        f'''SELECT did, {_unnest(d, "_toks", "tok")} FROM (
        SELECT {id_col} AS did, {toks} AS _toks FROM {table}
        WHERE {text_col} IS NOT NULL
      ) _fh0''')}
    ),
    _fhw AS (
      SELECT did, CAST(({h} % {dim}) AS INT) AS dim_idx,
             CAST(SUM({sign}) AS BIGINT) AS weight
      FROM _fhx
      GROUP BY did, CAST(({h} % {dim}) AS INT)
    )
    SELECT did AS {id_col}, dim_idx, weight
    FROM _fhw WHERE weight <> 0
    ORDER BY {id_col}, dim_idx
    """


def hash_vectorize(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    dim: int = 64,
) -> DataFrame:
    """DataFrame entry point for :func:`hash_vectorize_sql`."""
    require_columns(df, [text_col, id_col])
    view = "_ts_fh_in"
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(
        hash_vectorize_sql(SPARK, view, text_col, id_col, dim=dim)
    )
