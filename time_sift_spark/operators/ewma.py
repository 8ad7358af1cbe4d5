"""Exponentially-weighted smoothing per series: exact EWMA, Brown double
exponential smoothing, and the horizon-truncated EWMA.

EWMA's recurrence y_t = α·x_t + (1−α)·y_{t−1} is inherently sequential
per series — not expressible as a SQL window aggregate without
numerically-explosive closed forms — so :func:`ewma` and
:func:`brown_scan` are kernels on :func:`~time_sift_spark.plans.keyed_scan.keyed_scan`:
one shuffle on the series key (the partitioning the lag plan uses), one
sort, and pandas' vectorized cython ``groupby().ewm()`` over whole keys,
no Python row loop.  Each key must fit in one executor's memory — the
same per-series locality assumption the reference makes (src/lib.rs:487-488).
Unit tests pin values against pandas ``ewm(adjust=False)``; the driver
oracle is a recursive CTE stepping the recurrence per key (bit-exact for
not-null input — see queries.ewma_events).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from ..errors import require_columns
from ..plans.keyed_scan import keyed_scan


def _prep(df, value_col, time_col, alpha, partition_by, order_extra, out_cols):
    """Shared validation, column slice and output schema of the keyed EWMA
    operators: (slim frame, keys, sort columns, Arrow schema)."""
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    sort_cols = [time_col, *order_extra]
    in_cols = [*keys, *sort_cols, value_col]
    require_columns(df, in_cols)
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    types = dict(df.dtypes)
    schema = ", ".join(
        [f"`{c}` {types[c]}" for c in in_cols] + [f"`{c}` double" for c in out_cols]
    )
    return df.select(*in_cols), keys, sort_cols, schema


def _ewm(pdf, keys, col, alpha):
    # one grouped cython adjust=False pass; keys are contiguous, so the
    # group-major output is in row order
    g = pdf.groupby(keys, sort=False, dropna=False)[col]
    return g.ewm(alpha=alpha, adjust=False).mean().to_numpy()


def ewma(
    df: DataFrame,
    value_col: str,
    time_col: str,
    alpha: float,
    *,
    partition_by: str | Sequence[str],
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Append ``{value}_ewma`` (the adjust=False recurrence) per series,
    ordered by (``time_col``, ``order_extra``) ascending, NULLs first.

    A kernel on the keyed scan: every key is computed in ONE cython
    ``groupby().ewm()`` call, never stitched across Arrow batches, so NaN
    values keep pandas' accumulated-weight semantics exactly.
    """
    out_name = f"{value_col}_ewma"
    slim, keys, sort_cols, schema = _prep(
        df, value_col, time_col, alpha, partition_by, order_extra, [out_name]
    )

    def _kernel(pdf):
        pdf[out_name] = _ewm(pdf, keys, value_col, alpha)
        return pdf

    return keyed_scan(slim, keys, sort_cols, _kernel, schema)


def brown_scan(
    df: DataFrame,
    value_col: str,
    time_col: str,
    alpha: float,
    *,
    partition_by: str | Sequence[str],
    order_extra: Sequence[str] = (),
) -> DataFrame:
    """Brown double exponential smoothing per series — level, trend and
    one-step forecast from TWO chained adjust=False EWMAs (Brown 1959;
    the single-parameter linear-trend member of the Holt family):

        s1_t = α·x_t  + (1−α)·s1_{t−1}
        s2_t = α·s1_t + (1−α)·s2_{t−1}
        level_t    = 2·s1_t − s2_t
        trend_t    = (α/(1−α))·(s1_t − s2_t)
        forecast_t = level_t + trend_t          (x̂_{t+1})

    Because both recurrences are plain EWMAs, the whole operator is two
    vectorized cython ``groupby().ewm()`` passes inside ONE keyed-scan
    kernel — no Python row loop — on :func:`ewma`'s plan (hash-repartition
    + sort once, stream Arrow batches, hold back the in-progress key).
    Holt's two-parameter form needs a genuinely scalar loop per row;
    Brown's buys the trend component at EWMA cost, which is why it is the
    production path here.

    Bit-exactness contract (the driver's value-hash gate): pandas'
    adjust=False kernel evaluates fl(fl((1−α)·y) + fl(α·x)) and divides
    by (1−α)+α == 1.0 exactly for α=0.3 (verified — see
    queries.ewma_events); the second pass feeds s1 through the same
    kernel, and the derived columns are elementwise IEEE ops in the SAME
    order as the paired recursive-CTE oracle (2·s1−s2; the α/(1−α)
    constant is written as the division 0.3/(1−0.3) on BOTH sides — its
    fl differs from literal 0.428…, and fl(1−0.3) differs from literal
    0.7, so neither is ever spelled as a folded constant).

    Scale: identical posture to :func:`ewma` — one shuffle on the series
    key, per-key rows bounded by the series-locality assumption the
    reference makes globally (src/lib.rs:487-488).  Not-null input for
    oracle-grade parity (pandas carries over NaN where SQL propagates
    NULL).
    """
    l_name = f"{value_col}_level"
    t_name = f"{value_col}_trend"
    f_name = f"{value_col}_fcst"
    slim, keys, sort_cols, schema = _prep(
        df, value_col, time_col, alpha, partition_by, order_extra, [l_name, t_name, f_name]
    )
    a = np.float64(alpha)
    coef = a / (np.float64(1.0) - a)  # fl(α/(1−α)) — same division as the oracle

    def _kernel(pdf):
        s1 = _ewm(pdf, keys, value_col, alpha)
        s2 = _ewm(pdf.assign(_s1=s1), keys, "_s1", alpha)
        level = np.float64(2.0) * s1 - s2
        trend = coef * (s1 - s2)
        pdf[l_name] = level
        pdf[t_name] = trend
        pdf[f_name] = level + trend
        return pdf

    return keyed_scan(slim, keys, sort_cols, _kernel, schema)


def ewma_horizon(
    df,
    value_col: str,
    time_col: str,
    *,
    partition_by: str,
    order_extra=(),
    alpha: float = 0.2,
    horizon: int = 50,
    out_col: str | None = None,
):
    """Horizon-truncated EWMA — the hash-gradeable variant of the
    sequential recurrence.

    The exact adjust=False EWMA needs the full per-key history (the
    keyed partition scan, :func:`ewma`); truncating the memory to the
    last ``horizon`` observations bounds the state the
    way a production streaming feature does (contributions beyond the
    horizon carry weight (1-alpha)^horizon ≈ 0) and turns the operator
    into a per-row fold over a bounded sliding window: collect the frame
    as an ordered array, fold acc*(1-a)+a*x left-to-right. Both engines
    run the SAME sequential double fold over the SAME ordered array, so
    the result is bit-exact cross-engine — no rounding tolerance needed.

    Cost: one window Exchange plus O(horizon) array cells per row — the
    horizon is the explicit memory/accuracy knob.

    NULL semantics (part of the cross-engine contract): NULL values are
    SKIPPED — they occupy a slot in the row-count frame but contribute
    nothing to the fold (Spark's ``collect_list`` drops them; the paired
    DuckDB oracle must filter them identically with
    ``list(v) FILTER (WHERE v IS NOT NULL)``). A row whose entire frame
    is NULL-valued yields NULL (Spark's empty array and DuckDB's NULL
    list are both normalized to NULL before folding).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out_col = out_col or f"{value_col}_ewma{horizon}"
    require_columns(df, [partition_by, value_col, time_col, *order_extra])
    w = (
        Window.partitionBy(partition_by)
        .orderBy(time_col, *order_extra)
        .rowsBetween(-(int(horizon) - 1), 0)
    )
    arr = F.collect_list(value_col).over(w)
    fold = (
        f"CASE WHEN size(_arr) = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        f"aggregate(slice(_arr, 2, size(_arr) - 1), "
        f"element_at(_arr, 1), "
        f"(acc, x) -> acc * CAST({1 - alpha} AS DOUBLE) + CAST({alpha} AS DOUBLE) * x) END"
    )
    return (
        df.withColumn("_arr", arr)
        .withColumn(out_col, F.expr(fold))
        .drop("_arr")
    )
