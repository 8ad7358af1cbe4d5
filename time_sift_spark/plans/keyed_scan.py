"""The one physical form of every batch per-series recurrence that has no
window form (EWMA, Brown smoothing, greedy sequence packing).

Such a recurrence runs in pandas under the reference's series-locality
assumption (a whole series in one buffer, src/lib.rs:487-488), bounded
here per key rather than globally.  The plan is one hash Exchange on the
key, one sort within partitions by (key, order) and one ``mapInPandas``:
ONE Python iterator per partition, not one Arrow round trip per key as a
grouped-map ``applyInPandas`` pays (per-group overhead dominates when
keys are many and small).

The iterator holds back the rows of the key still in progress at the end
of each Arrow batch and prepends them to the next batch, so the kernel
only ever sees whole keys and every key is computed in exactly ONE
kernel call.  A carried-scalar stitch across the boundary is NOT
sufficient: pandas ``ewm(adjust=False, ignore_na=False)`` keeps an
accumulated-weight state across NaN values that a single carried output
cannot represent.  Holdback memory is one key's rows — the same
per-series bound a grouped map assumes.  NULL keys form one group
(``dropna=False``), matching Spark's groupBy.
"""

from __future__ import annotations

from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructType


def keyed_scan(
    df: DataFrame,
    keys: Sequence[str],
    sort_cols: Sequence[str | Column],
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: StructType | str,
) -> DataFrame:
    """Run ``kernel`` over ``df`` partitioned by ``keys`` and sorted by
    (``keys``, ``sort_cols``).

    ``kernel`` receives an owned frame of whole keys, key-contiguous and
    in sort order, and returns the rows of ``schema``.  Within one call,
    grouping by ``keys`` with ``sort=False, dropna=False`` yields the
    groups in row order, so a group-major result lines up with the rows.
    """
    keys = list(keys)

    def _scan(batches):
        leftover = None
        for pdf in batches:
            if leftover is not None:
                pdf = pd.concat([leftover, pdf], ignore_index=True)
                leftover = None
            if len(pdf) == 0:
                continue
            gid = pdf.groupby(keys, sort=False, dropna=False).ngroup()
            done = (gid != gid.iloc[-1]).to_numpy()
            leftover = pdf[~done]
            if done.any():
                yield kernel(pdf[done].reset_index(drop=True))
        if leftover is not None and len(leftover):
            yield kernel(leftover.reset_index(drop=True))

    parted = df.repartition(*keys).sortWithinPartitions(*keys, *sort_cols)
    return parted.mapInPandas(_scan, schema)
