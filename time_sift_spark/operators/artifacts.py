"""The persisted-store contract: begin, commit, read.

A persisted index is a directory of artifact tables plus a one-row
``{path}/params`` table whose ``_SUCCESS`` file ``_index_ready`` reads as
"build complete".  The 14 builders — dedup: ``build_dedup_index``,
``build_minhash_store``, ``build_prefix_index``, ``build_containment_index``;
similarity: ``build_lsh_index``, ``build_ivf_index``,
``build_refined_ivf_index``; pq: ``build_pq_index``, ``build_ivfpq_index``,
``build_sq8_index``; search: ``build_text_index``, ``build_phrase_index``;
text: ``build_quality_model``; sketch: ``build_bloom_filter`` — and their
readers make three calls:

* ``begin_build`` deletes the marker before the first artifact write, via
  the path's Hadoop FileSystem (so ``file://``, ``hdfs://`` and ``s3a://``
  stores too): a rebuild that crashes mid-write reads as not ready, never
  as ready over a mix of new and stale artifacts.
* ``commit_build``, the last write, writes the marker row from JVM
  literals: no Python worker starts (about 2 s on a fresh SparkContext,
  4-vCPU host), and ``params`` is one part file.
* ``read_params`` reads the marker with its declared schema, so a serve
  call runs no schema-inference job.

Every artifact table is read with ``read_artifact``, whose schema comes
from one parquet footer on the driver (``sources.catalog.read_parquet``):
registering a store's views runs no Spark job either.

Each store declares its params DDL once, as a module constant that its
builder and its readers share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..sources.catalog import read_parquet

__all__ = ["begin_build", "commit_build", "read_artifact", "read_params", "write_row"]


def begin_build(spark: SparkSession, path: str) -> None:
    """Delete ``{path}/params`` if present, so ``_index_ready(path)`` is
    false for the whole (re)build."""
    sc = spark.sparkContext
    marker = sc._jvm.org.apache.hadoop.fs.Path(f"{path}/params")
    marker.getFileSystem(sc._jsc.hadoopConfiguration()).delete(marker, True)


def write_row(spark: SparkSession, target: str, row: dict, schema: str) -> None:
    """Overwrite the table ``target`` with ``row`` (field → value), typed
    by the DDL ``schema``: one part file, built from literals."""
    spark.range(1, numPartitions=1).select(*(
        F.lit(row[f.name]).cast(f.dataType).alias(f.name)
        for f in DataType.fromDDL(schema).fields
    )).write.mode("overwrite").parquet(target)


def commit_build(spark: SparkSession, path: str, params: dict, schema: str) -> None:
    """Write the ``{path}/params`` marker; call it after every artifact write."""
    write_row(spark, f"{path}/params", params, schema)


def read_params(spark: SparkSession, path: str, schema: str) -> Row:
    """The marker row of the store at ``path``, read with ``schema``."""
    rows = spark.read.schema(schema).parquet(f"{path}/params").collect()
    if not rows:
        raise FileNotFoundError(f"{path}/params holds no row: the build never completed")
    return rows[0]


def read_artifact(spark: SparkSession, path: str, name: str) -> DataFrame:
    """The artifact table ``{path}/{name}`` of a store; no Spark job runs."""
    return read_parquet(spark, f"{path}/{name}")
