"""Scale paths for lag windows too large for one task.

``Window.partitionBy(key)`` sends all of a key's rows to one task, and
``Window.orderBy(t)`` with no partitionBy sends the whole table to one
task: the scaling cliff of SURVEY.md §4/§7, once per hot key and once
for a global series.  Both go through one lazy halo kernel
(:func:`lag_features_hotkey`; the global form is the same kernel over a
constant key):

1. **Stats frame.**  One aggregate per key computes the row count and
   ``percentile_approx`` time bounds.  Keys below ``hot_threshold`` are
   filtered out and the distinct bounds of the rest are broadcast-joined
   back (left join).  A row's bucket is the number of its key's bounds
   strictly below its time; cold keys and NULL keys sit in bucket 0.
2. **Halo.**  Each hot bucket but the key's last contributes its last
   ``max(lags)`` rows to EVERY later bucket of the key.  Any row's
   ``max(lags)`` true predecessors from earlier buckets are then among
   those tail rows, whatever the bucket sizes: empty buckets, buckets
   shorter than ``max(lags)`` and heavy timestamp ties need no merge
   step.  Cost: ``max(lags)·nb·(nb-1)/2`` halo rows per hot key, and
   the key's last bucket gets ``(nb-1)·max(lags)`` of them (SCALE.md).
3. **One window.**  Real and halo rows run through one
   ``partitionBy(key, bucket)`` window built by
   :func:`plans.lag_plan.build_lag_plan`; halo rows are dropped after.

Nothing runs eagerly: calling either function submits no Spark job,
and the stats aggregate runs inside the caller's job.

Exactness requires exchange reuse.  The real rows and the halo rows
are two branches of one union, and each joins the stats frame.  Spark
evaluates that frame once and reuses the broadcast in both branches
(``ReusedExchange`` in the executed plan, pinned by a test).  Without
reuse it would run twice, and ``percentile_approx`` merges partial
sketches in shuffle-fetch order, so on a cluster two runs over a large
key can return different bounds: halo and real rows would then be
bucketed differently and the lags would be wrong without an error.
Both functions therefore raise when ``spark.sql.exchange.reuse`` is
off.  (A single-branch form, one ``explode`` of each row into its own
bucket and, for tail rows, the later ones, needs no reuse but shuffles
every row twice.)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ColumnNotFoundError, validate_lags
from ..plans.lag_plan import build_lag_plan


def _numeric_time(df: DataFrame, time_col: str) -> Column:
    """Time column as double for quantile bucketing. TIMESTAMP_NTZ
    rejects a direct numeric cast (DATATYPE_MISMATCH), so re-tag it as
    TIMESTAMP first (UTC session pin makes that value-preserving);
    numeric/long time columns cast straight through unchanged."""
    c = F.col(time_col)
    if dict(df.dtypes).get(time_col) == "timestamp_ntz":
        c = c.cast("timestamp")
    return c.cast("double")


def lag_features_global(
    df: DataFrame,
    value_cols: str | Sequence[str],
    time_col: str,
    lags,
    *,
    order_extra: str | Sequence[str] | None = None,
    fill=None,
    num_buckets: int = 32,
    relative_error: float = 0.001,
) -> DataFrame:
    """Exact global-order lag features without a single-task window.

    Same output contract as operators.lag.lag_features(wide) with
    ``partition_by=None``; use this one when the series is large.  The
    series is one hot key of :func:`lag_features_hotkey`: its rows split
    into ~``num_buckets`` equi-depth time buckets, each bucket windowed
    on its own with the tails of all earlier buckets as halo.  Like that
    function it needs ``spark.sql.exchange.reuse`` on.
    """
    return lag_features_hotkey(
        df.withColumn("_key", F.lit(0)), value_cols, time_col, lags,
        partition_by="_key", order_extra=order_extra, fill=fill,
        hot_threshold=0, num_buckets=num_buckets, relative_error=relative_error,
    ).drop("_key")


def lag_features_hotkey(
    df: DataFrame,
    value_cols: str | Sequence[str],
    time_col: str,
    lags,
    *,
    partition_by: str,
    order_extra: str | Sequence[str] | None = None,
    fill=None,
    hot_threshold: int = 5_000_000,
    num_buckets: int = 32,
    relative_error: float = 0.001,
) -> DataFrame:
    """Per-key lag features where keys with at least ``hot_threshold``
    rows decompose into (key, bucket) halo windows (SCALE.md lag-family
    first cliff).

    A key's bounds are ``percentile_approx`` of its times at
    ``i/num_buckets`` with relative error ``relative_error``, computed
    by a lazy per-key stats frame that is broadcast-joined to the rows;
    the last ``max(lags)`` rows of every bucket are copied into every
    later bucket of the key as halo rows.  Cold keys keep one bucket, so
    hot and cold rows share one window: there is no cold/hot split.

    Output contract and values are identical to
    ``lag_features(df, ..., partition_by=key)`` (property-tested); only
    the physical partitioning differs: a hot key's work is spread over
    ~num_buckets tasks instead of one.  Building the plan submits no job.

    Requires ``spark.sql.exchange.reuse`` (on by default) so that real
    and halo rows share one evaluation of the bounds; raises
    ``RuntimeError`` when it is off (see the module docstring).
    """
    value_cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    order_extra = (
        [] if order_extra is None else [order_extra] if isinstance(order_extra, str) else list(order_extra)
    )
    if not isinstance(partition_by, str):
        raise ColumnNotFoundError("lag_features_hotkey takes a single key column name")
    key = partition_by
    lag_list = validate_lags(lags)
    order_by = [time_col, *order_extra]
    missing = [c for c in (value_cols + [key] + order_by) if c not in df.columns]
    if missing:
        raise ColumnNotFoundError(f"columns not in DataFrame: {missing}")
    if df.sparkSession.conf.get("spark.sql.exchange.reuse", "true").lower() != "true":
        raise RuntimeError(
            "halo lag needs spark.sql.exchange.reuse=true: the real and halo "
            "rows must share one evaluation of the approximate bucket bounds"
        )

    cols = list(dict.fromkeys([key, *order_by, *value_cols]))
    rows = df.select(*cols, _numeric_time(df, time_col).alias("_t"))
    # num_buckets < 2 asks for no split: one bound at the key's maximum
    probs = [i / num_buckets for i in range(1, num_buckets)] or [1.0]
    accuracy = int(1 / relative_error) if relative_error > 0 else 2**31 - 1
    stats = (
        rows.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.percentile_approx("_t", probs, accuracy).alias("_bounds"),
        )
        .where(F.col("_n") >= hot_threshold)
        .select(key, F.array_distinct("_bounds").alias("_bounds"))
    )
    bounds = F.coalesce(F.col("_bounds"), F.array().cast("array<double>"))
    rows = rows.join(F.broadcast(stats), key, "left").select(
        *cols,
        F.size(F.filter(bounds, lambda b: F.col("_t") > b)).alias("_bucket"),
        F.size(bounds).alias("_nb"),
        F.lit(False).alias("_halo"),
    )

    # halo: the last max_lag rows of each bucket below the key's last,
    # copied into every later bucket of the key.  Both union branches
    # read one broadcast of ``stats`` (Spark reuses the identical
    # exchange while the conf checked above is on), so halo and real
    # rows are bucketed by one set of bounds.
    w_tail = Window.partitionBy(key, "_bucket").orderBy(*[F.col(c).desc() for c in order_by])
    halo = (
        rows.where(F.col("_bucket") < F.col("_nb"))
        .withColumn("_rn", F.row_number().over(w_tail))
        .where(F.col("_rn") <= max(lag_list))
        .select(
            *cols,
            F.explode(F.sequence(F.col("_bucket") + 1, F.col("_nb"))).alias("_bucket"),
            "_nb",
            F.lit(True).alias("_halo"),
        )
    )
    return (
        build_lag_plan(
            rows.unionByName(halo), value_cols, time_col, lag_list,
            partition_by=[key, "_bucket"], order_extra=order_extra, fill=fill,
            keep_cols=[key, *order_by, "_halo"],
        )
        .where(~F.col("_halo"))
        .drop("_halo")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | str,
    *,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-hardened shuffle join: spread each hot join key over
    ``salt`` reducer partitions.

    The left (large, skewed) side gets a deterministic per-row salt —
    ``pmod(xxhash64(all columns), salt)`` — so a hot key's rows fan out
    over ``salt`` reducers; the right side is replicated ``salt`` times
    (one copy per salt value, via a literal ``explode(sequence(...))`` —
    no Python, no cartesian operator), so every left row still meets
    every matching right row exactly once.  Result rows are identical to
    the plain join (property-tested, incl. key multiplicity).

    When to reach for this instead of AQE's skew-join split: AQE can
    only split what it can measure at a stage boundary — a first-stage
    map-side skew (straight scan into join) or a key so hot one
    partition exceeds every split threshold still lands on one reducer.
    Salting moves the decision to plan time at the cost of a ``salt``×
    replication of the right side — so keep the right side the smaller
    input.  (A right side small enough to broadcast should broadcast
    instead; salting is for mid-size rights that fit memory ``salt``
    times but not per-executor.)

    ``how``: "inner" or "left" (replication preserves multiplicity for
    both; full/right outer would multiply unmatched right rows and are
    rejected).
    """
    keys = [on] if isinstance(on, str) else list(on)
    missing = [k for k in keys if k not in left.columns or k not in right.columns]
    if missing:
        raise ColumnNotFoundError(f"join key(s) not on both sides: {missing}")
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    hash_cols = ", ".join(left.columns)
    lsalt = left.withColumn(
        "_salt", F.expr(f"pmod(xxhash64({hash_cols}), {int(salt)})").cast("int")
    )
    rsalt = right.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, {int(salt) - 1})"))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return lsalt.join(rsalt, [*keys, "_salt"], how).drop("_salt")


# --------------------------------------------------------------------------
# Z-order (Morton) data layout
# --------------------------------------------------------------------------


def zvalue_expr(d, xcol: str, ycol: str, *, bits: int = 8) -> str:
    """Morton interleave of two ``bits``-bit non-negative bucket columns
    (Morton 1966; the Delta/Iceberg OPTIMIZE ZORDER layout key): bit i
    of x lands at position 2i+1, bit i of y at 2i, so sorting by the
    z-value clusters rows that are close in BOTH dimensions — a range
    predicate on EITHER column prunes most blocks, which a single-column
    sort only achieves for its leading column.

    Dialect-paired pure-integer arithmetic (shift/mod — no UDF, no
    lookup join); ``d`` is a functions.text_fns.Dialect.
    """
    terms = []
    for i in range(bits):
        if d.name == "spark":
            terms.append(f"shiftleft(shiftright({xcol}, {i}) % 2, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({ycol}, {i}) % 2, {2 * i})")
        else:
            terms.append(f"((({xcol} >> {i}) % 2) << {2 * i + 1})")
            terms.append(f"((({ycol} >> {i}) % 2) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def zorder_block_stats_sql(
    d,
    table: str,
    x_expr: str,
    y_expr: str,
    *,
    bits: int = 8,
    rows_per_block_shift: int = 6,
) -> str:
    """Per-z-block clustering audit: bucket both dimensions, interleave,
    group rows into blocks of 2^shift consecutive z-values (the file/
    row-group analogue), and report each block's row count and min/max
    extent in BOTH dimensions.  Small per-block spans in x AND y are
    the measurable clustering property that makes z-ordered files
    prunable by either predicate — the audit a layout job runs after
    OPTIMIZE ZORDER, expressed engine-natively.

    At 100 TB the layout itself is ``repartitionByRange(zv) +
    sortWithinPartitions(zv)`` on the write path; this statement is the
    read-side proof, ONE shuffle on the block id.
    """
    from .dedup import _int_div

    z = zvalue_expr(d, "_zx", "_zy", bits=bits)
    block = _int_div(d, "_zv", 1 << rows_per_block_shift)
    return f"""
    WITH _zb AS (
      SELECT {x_expr} AS _zx, {y_expr} AS _zy FROM {table}
    ),
    _zv AS (
      SELECT _zx, _zy, {z} AS _zv FROM _zb
    )
    SELECT {block} AS block_id,
           COUNT(*) AS n_rows,
           MIN(_zx) AS x_min, MAX(_zx) AS x_max,
           MIN(_zy) AS y_min, MAX(_zy) AS y_max,
           MAX(_zx) - MIN(_zx) AS x_span,
           MAX(_zy) - MIN(_zy) AS y_span
    FROM _zv
    GROUP BY {block}
    ORDER BY block_id
    """
