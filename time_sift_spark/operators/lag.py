"""Public lag/lead feature operators (reference O1-O4 analogues).

The reference exposes ``lag_matrix`` / ``lag_matrix_2d`` free functions plus
a ``CreateLagMatrix`` method-call trait (/root/reference/src/lib.rs:258-440)
— all pure delegation to one kernel.  Our analogue: ``lag_features`` (the
one entry point, delegating to plans.lag_plan.build_lag_plan) plus a
``with_lags`` curried form for ``df.transform(...)`` pipelines.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import InvalidLagsError
from ..plans.lag_plan import build_lag_plan

__all__ = ["lag_features", "lead_features", "with_lags", "lag_shape"]


def lag_features(
    df: DataFrame,
    value_cols: str | Sequence[str],
    time_col: str,
    lags,
    *,
    partition_by: str | Sequence[str] | None = None,
    order_extra: str | Sequence[str] | None = None,
    fill=None,
    layout: str = "wide",
    keep_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Append time-lagged copies of ``value_cols`` to ``df``.

    Wide layout ≅ reference ColumnMajor output (src/lib.rs:724-754); long
    layout ≅ RowMajor output (src/lib.rs:693-723).  See
    plans.lag_plan.build_lag_plan for the full semantics contract.
    """
    return build_lag_plan(
        df,
        value_cols,
        time_col,
        lags,
        partition_by=partition_by,
        order_extra=order_extra,
        fill=fill,
        layout=layout,
        keep_cols=keep_cols,
    )


def lead_features(
    df: DataFrame,
    value_cols: str | Sequence[str],
    time_col: str,
    leads,
    *,
    partition_by: str | Sequence[str] | None = None,
    order_extra: str | Sequence[str] | None = None,
    fill=None,
    keep_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Forward shifts (no reference counterpart — lags only there).

    Reusing the lag plan over a descending time ordering is wrong for
    ties, so this is the direct form: ``LEAD(v, k)`` over the same single
    window spec, built by plans.lag_plan.build_lag_plan; a duplicated lead
    k gets the ``_p{pos}`` suffix, as lags do.
    """
    return build_lag_plan(
        df,
        value_cols,
        time_col,
        leads,
        partition_by=partition_by,
        order_extra=order_extra,
        fill=fill,
        keep_cols=keep_cols,
        _shift=(F.lead, "lead"),
    )


def with_lags(value_cols, time_col, lags, **kwargs):
    """Curried form for ``df.transform(with_lags(...))`` pipelines.

    Analogue of the reference's method-call sugar trait ``CreateLagMatrix``
    (src/lib.rs:258-440): zero added logic, pure delegation.
    """

    def _apply(df: DataFrame) -> DataFrame:
        return lag_features(df, value_cols, time_col, lags, **kwargs)

    return _apply


def lag_shape(df: DataFrame) -> dict:
    """Shape introspection ≅ the reference ``LagMatrix`` accessors
    (src/lib.rs:148-218): num_cols from the schema, lag column inventory
    from the naming convention. Row counts are data-dependent in a lazy
    engine, so ``num_rows`` is intentionally absent (call ``df.count()``).
    """
    import re

    lag_cols = [c for c in df.columns if re.search(r"_lag\d+(_p\d+)?$", c)]
    lags = sorted({int(m.group(1)) for c in lag_cols if (m := re.search(r"_lag(\d+)", c))})
    return {
        "num_cols": len(df.columns),
        "columns": list(df.columns),
        "lag_columns": lag_cols,
        "lags_present": lags,
        "is_long": {"lag_pos", "lag"} <= set(df.columns),
    }
