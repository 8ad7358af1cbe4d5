"""The persisted-store contract: begin, commit, read.

A persisted index is a directory of artifact tables plus a completeness
marker, ``{path}/params/marker.json``: the build parameters as one JSON
object, whose presence ``_index_ready`` reads as "build complete".  The
14 builders — dedup: ``build_dedup_index``, ``build_minhash_store``,
``build_prefix_index``, ``build_containment_index``; similarity:
``build_lsh_index``, ``build_ivf_index``, ``build_refined_ivf_index``; pq:
``build_pq_index``, ``build_ivfpq_index``, ``build_sq8_index``; search:
``build_text_index``, ``build_phrase_index``; text: ``build_quality_model``;
sketch: ``build_bloom_filter`` — and their readers make three calls:

* ``begin_build`` deletes ``{path}/params`` before the first artifact
  write: a rebuild that crashes mid-write reads as not ready, never as
  ready over a mix of new and stale artifacts.
* ``commit_build``, the last write, writes the JSON to a temp file in
  ``params/`` and renames it to ``marker.json``: the rename commits.
* ``read_params`` reads ``marker.json`` back as a dict.

All three run on the driver through the path's Hadoop FileSystem under
the session's Hadoop conf (``file://``, ``hdfs://``, ``s3a://``), and
none runs a Spark job.  Param values are str, int or float, which JSON
round-trips exactly.  A store written by older code has a parquet
``params`` table and no ``marker.json``: it reads as not ready, and the
registry rebuilds it.

Every artifact table is read with ``read_artifact``, whose schema comes
from one parquet footer on the driver (``sources.catalog.read_parquet``):
registering a store's views runs no Spark job either.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ..sources.catalog import read_parquet

__all__ = ["begin_build", "commit_build", "hadoop_path", "read_artifact", "read_params",
           "write_row"]


def hadoop_path(spark: SparkSession, path: str):
    """``(fs, p)``: the Hadoop Path of ``path`` (local, ``file://``,
    ``hdfs://``, ``s3a://``) and its FileSystem, under the conf
    ``sources.catalog._footer`` uses."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf()), p


def _marker(spark: SparkSession, path: str):
    """``(fs, marker)`` of the store at ``path``: ``params/marker.json``."""
    return hadoop_path(spark, f"{path}/params/marker.json")


def _index_ready(path: str) -> bool:
    """Whether the local store at ``path`` has its ``params/marker.json``.
    Every builder commits it last (begin_build → artifacts →
    commit_build), so it implies every earlier table landed; a build that
    died mid-write, or a store written by older code, lacks it and is
    rebuilt rather than served."""
    return os.path.exists(os.path.join(path, "params", "marker.json"))


def begin_build(spark: SparkSession, path: str) -> None:
    """Delete ``{path}/params`` if present, so ``_index_ready(path)`` is
    false for the whole (re)build."""
    fs, marker = _marker(spark, path)
    fs.delete(marker.getParent(), True)


def write_row(spark: SparkSession, target: str, row: dict, schema: str) -> None:
    """Overwrite the table ``target`` with ``row`` (field → value), typed
    by the DDL ``schema``: one part file, built from literals."""
    spark.range(1, numPartitions=1).select(*(
        F.lit(row[f.name]).cast(f.dataType).alias(f.name)
        for f in DataType.fromDDL(schema).fields
    )).write.mode("overwrite").parquet(target)


def commit_build(spark: SparkSession, path: str, params: dict) -> None:
    """Write the ``params/marker.json`` marker; call it after every
    artifact write."""
    fs, marker = _marker(spark, path)
    tmp = marker.suffix(".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(params).encode())
    finally:
        out.close()
    if not fs.rename(tmp, marker):
        raise OSError(f"could not rename {tmp} to {marker}")


def read_params(spark: SparkSession, path: str) -> dict:
    """The build parameters of the store at ``path``, from its marker."""
    fs, marker = _marker(spark, path)
    if not fs.exists(marker):
        raise FileNotFoundError(f"{path}: build never completed; rebuild the store")
    stream = fs.open(marker)
    try:
        text = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(text)


def read_artifact(spark: SparkSession, path: str, name: str) -> DataFrame:
    """The artifact table ``{path}/{name}`` of a store; no Spark job runs."""
    return read_parquet(spark, f"{path}/{name}")
