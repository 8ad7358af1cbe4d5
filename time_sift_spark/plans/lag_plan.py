"""The single lag-feature plan builder — every public lag API routes here.

This is the Spark-native re-expression of the reference's three kernels
(``lag_matrix`` /root/reference/src/lib.rs:487-538, ``lag_matrix_2d``
row-major branch src/lib.rs:693-723 and column-major branch
src/lib.rs:724-754).  Where the reference allocates a dense buffer and
memcpy-loops per lag row, we declare ALL lag expressions over ONE shared
window spec so Catalyst plans exactly one Exchange (hash-partitioned by
the series key) + one in-partition sort, evaluating every lag in a single
pass over the sorted rows (WindowExec).  No Python runs on executors.

Semantics honored (SURVEY.md §2.1 fine print):

* Lag set is an arbitrary iterable — order preserved in the output,
  duplicates legal (duplicate output columns / rows), lag 0 = identity
  (reference src/lib.rs:304,493; test src/lib.rs:846-865).
* Shift direction: lag k prepends k fills and drops the last k elements
  (src/lib.rs:263-264,519-523) — exactly ``LAG(v, k) OVER (... ORDER BY t)``.
* ``fill=None`` → Spark-native NULL beyond the partition start;
  ``fill=x`` → ``coalesce(lag(v,k), lit(x))`` reproduces the reference's
  caller-supplied fill (src/lib.rs:452; the docs recommend +inf,
  src/lib.rs:18-20).
* Quirk Q1 fixed: a lag ≥ series length yields an all-fill column —
  well-defined here, a usize-underflow panic in the reference
  (src/lib.rs:520).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..errors import ColumnNotFoundError, InvalidLagsError, validate_lags

__all__ = ["build_lag_plan", "lag_column_names"]


def _as_list(x) -> list[str]:
    if x is None:
        return []
    if isinstance(x, str):
        return [x]
    return list(x)


def lag_column_names(
    value_cols: Sequence[str], lags: Sequence[int], _stem: str = "lag"
) -> list[str]:
    """Output column names for the wide layout, in lag-set order.

    ``{value}_lag{k}``; a duplicated lag k gets ``{value}_lag{k}_p{pos}``
    for occurrences after the first (the reference emits genuinely
    duplicate rows/columns, which Spark column names cannot).
    ``lead_features`` names its columns with the ``lead`` stem.
    """
    names: list[str] = []
    seen: set[tuple[str, int]] = set()
    for pos, k in enumerate(lags):
        for v in value_cols:
            if (v, k) in seen:
                names.append(f"{v}_{_stem}{k}_p{pos}")
            else:
                names.append(f"{v}_{_stem}{k}")
                seen.add((v, k))
    return names


def _window(partition_by: list[str], order_by: list[str]) -> WindowSpec:
    if partition_by:
        return Window.partitionBy(*partition_by).orderBy(*order_by)
    # Single global series: one window partition → one task. Correct but a
    # scaling cliff; operators.scale.lag_features_global is the 100 TB path
    # (range buckets + max(lag) halo). We keep this exact form for small /
    # already-partitioned data.
    return Window.orderBy(*order_by)


def _lagged(col: str, k: int, w: WindowSpec, fill, shift) -> Column:
    expr = shift(F.col(col), k).over(w) if k != 0 else F.col(col)
    if fill is not None and k != 0:
        expr = F.coalesce(expr, F.lit(fill))
    return expr


def build_lag_plan(
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
    _shift=(F.lag, "lag"),
) -> DataFrame:
    """Build the lazy lag-feature plan (no job is submitted).

    ``_shift`` is private: ``(F.lead, "lead")`` makes this the
    forward-shift plan of ``operators.lag.lead_features``.

    Parameters
    ----------
    layout
        ``"wide"`` — the ColumnMajor analogue (src/lib.rs:724-754): one row
        per time step, one output column per (lag-set position × value
        column), lag-major ordering of columns (src/lib.rs:736).
        ``"long"`` — the RowMajor analogue (src/lib.rs:693-723): one row per
        (lag-set position × input row) carrying explicit ``lag_pos`` and
        ``lag`` columns; ``lag_pos`` preserves arbitrary lag-set order
        (lag-major row grouping, src/lib.rs:699-704).
    """
    value_cols = _as_list(value_cols)
    if not value_cols:
        raise InvalidLagsError("value_cols must name at least one column")
    lag_list = validate_lags(lags)
    partition_by = _as_list(partition_by)
    order_extra = _as_list(order_extra)
    if layout not in ("wide", "long"):
        raise ValueError(f"layout must be 'wide' or 'long', got {layout!r}")

    missing = [c for c in (value_cols + [time_col] + partition_by + order_extra) if c not in df.columns]
    if missing:
        raise ColumnNotFoundError(f"columns not in DataFrame: {missing}; have {df.columns}")

    shift, stem = _shift
    order_by = [time_col, *order_extra]
    w = _window(partition_by, order_by)
    keep = list(keep_cols) if keep_cols is not None else [*partition_by, time_col, *order_extra]

    if layout == "wide":
        names = lag_column_names(value_cols, lag_list, _stem=stem)
        exprs: list[Column] = []
        i = 0
        for k in lag_list:
            for v in value_cols:
                exprs.append(_lagged(v, k, w, fill, shift).alias(names[i]))
                i += 1
        return df.select(*keep, *exprs)

    # long: stage 1 evaluates every lag over the single shared window spec
    # (one Exchange+Sort); stage 2 packs per-lag structs and explodes.
    # Window expressions are not legal inside a generator, hence two
    # projections — Catalyst fuses them, the shuffle count stays 1.
    staged = df.select(
        *keep,
        *[
            _lagged(v, k, w, fill, shift).alias(f"_lp{pos}_{v}")
            for pos, k in enumerate(lag_list)
            for v in value_cols
        ],
    )
    entries = []
    for pos, k in enumerate(lag_list):
        fields = [
            F.lit(pos).alias("lag_pos"),
            F.lit(k).alias("lag"),
            *[F.col(f"_lp{pos}_{v}").alias(f"{v}_lagged") for v in value_cols],
        ]
        entries.append(F.struct(*fields))
    exploded = staged.select(*keep, F.explode(F.array(*entries)).alias("_lag_entry"))
    return exploded.select(
        *keep,
        F.col("_lag_entry.lag_pos").alias("lag_pos"),
        F.col("_lag_entry.lag").alias("lag"),
        *[F.col(f"_lag_entry.{v}_lagged").alias(f"{v}_lagged") for v in value_cols],
    )
