"""Table catalog over the driver-generated parquet testdata.

The reference has no I/O at all (in-memory slices only,
/root/reference/src/lib.rs:487-488); sources/sinks are Spark built-ins.
Parquet is the default so Catalyst pushdown / pruning / partition
discovery come for free — check with ``df.explain`` that ``PushedFilters``
and a narrow ``ReadSchema`` reach the scan.

Loading a table is metadata only and runs no Spark job: ``read_parquet``
reads one parquet footer on the driver and converts it with Spark's own
footer converter, so the DataFrame gets exactly the schema inference
would give, without inference's one-task schema job. ``load_table``, the
stream's ``ts`` sniff and every persisted-store artifact read
(``operators.artifacts.read_artifact``) go through it.
"""

from __future__ import annotations

import functools
import json
import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-built SparkSession able to read the testdata.

    The engine must not assume its own ``session.get_spark`` built the
    session — an external harness passes a bare one. Every conf here is
    runtime-settable (verified: ``spark.sql.legacy.parquet.nanosAsLong``
    flips a read-path check, not a static plan property). Without it,
    reading events.parquet (TIMESTAMP(NANOS)) raises PARQUET_TYPE_ILLEGAL.
    UTC pins timestamp rendering so results match the DuckDB oracle
    regardless of the harness machine's zone.
    """
    import warnings

    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # TIMESTAMP(MICROS) parquet with isAdjustedToUTC=false (what the
        # driver's current testdata writes) infers as TIMESTAMP_NTZ under
        # the Spark-4 default, and NTZ rejects unix_micros / numeric
        # casts everywhere downstream — read it as plain TIMESTAMP.
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception as exc:  # conf locked static on some future Spark
            # Surface it: a silent failure here resurfaces later as an
            # unexplained PARQUET_TYPE_ILLEGAL / timezone drift at read
            # time (this exact coupling cost round 1 its events queries).
            warnings.warn(f"could not set {key}={val} on this session: {exc}")


_FOOTER_CLASSES = (
    "org.apache.hadoop.fs.Path",
    "org.apache.parquet.HadoopReadOptions",
    "org.apache.parquet.format.converter.ParquetMetadataConverter",
    "org.apache.parquet.hadoop.Footer",
    "org.apache.parquet.hadoop.ParquetFileReader",
    "org.apache.parquet.hadoop.util.HadoopInputFile",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat",
    "org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter",
)


@functools.lru_cache(maxsize=None)
def _footer_classes(jvm) -> SimpleNamespace:
    """The JVM classes of the footer read, resolved once per gateway: a
    dotted lookup costs one py4j round trip per package level."""

    def resolve(name: str):
        obj = jvm
        for part in name.split("."):
            obj = getattr(obj, part)
        return obj

    return SimpleNamespace(**{n.rsplit(".", 1)[1]: resolve(n) for n in _FOOTER_CLASSES})


def _first_data_file(fs, directory):
    """The first listed entry of ``directory`` whose name Spark reads as
    data (not ``_``/``.``-prefixed), without building the full listing."""
    entries = fs.listStatusIterator(directory)
    while entries.hasNext():
        st = entries.next()
        if not st.getPath().getName().startswith(("_", ".")):
            return st
    return None


def _footer(spark: SparkSession, path: str) -> tuple[StructType, list[str]] | None:
    """``(schema, nanos)`` of the parquet at ``path`` from one footer read
    on the driver: the StructType Spark's schema inference gives it (the
    same ``readSchemaFromFooter`` and converter, under this session's
    conf), and its INT64 TIMESTAMP(NANOS) columns.

    None where inference must run instead: a partitioned layout (the
    first entry is a directory), a path holding no data file, session-wide
    schema merging, or any error reading the footer — so partition
    columns and a missing or corrupt path behave exactly as before."""
    from py4j.protocol import Py4JJavaError

    j = _footer_classes(spark._jvm)
    state = spark._jsparkSession.sessionState()
    sql_conf = state.conf()
    if sql_conf.isParquetSchemaMergingEnabled():
        return None
    conf = state.newHadoopConf()
    try:
        p = j.Path(path)
        fs = p.getFileSystem(conf)
        st = fs.getFileStatus(p)
        if st.isDirectory():
            st = _first_data_file(fs, p)
            if st is None or st.isDirectory():
                return None
        options = j.HadoopReadOptions.builder(conf).withMetadataFilter(
            j.ParquetMetadataConverter.SKIP_ROW_GROUPS
        ).build()
        reader = j.ParquetFileReader.open(j.HadoopInputFile.fromStatus(st, conf), options)
        try:
            footer = reader.getFooter()
        finally:
            reader.close()
        jschema = j.ParquetFileFormat.readSchemaFromFooter(
            j.Footer(st.getPath(), footer), j.ParquetToSparkSchemaConverter(sql_conf)
        )
        schema = StructType.fromJson(json.loads(jschema.json()))
        # Under nanosAsLong a TIMESTAMP(NANOS) column is typed bigint; the
        # annotation is only legal on INT64, so bigint columns are the
        # only candidates (INT96 is typed timestamp, never flagged).
        parquet = footer.getFileMetaData().getSchema()
        nanos = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, LongType)
            and str(parquet.getType(f.name).getLogicalTypeAnnotation()).startswith("TIMESTAMP(NANOS")
        ]
    except Py4JJavaError:
        return None
    return schema, nanos


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    found = _footer(spark, path)
    if found is None:
        return spark.read.parquet(path), []
    schema, nanos = found
    return spark.read.schema(schema).parquet(path), nanos


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table at ``path``, read without the schema-inference
    job: the schema comes from one footer read on the driver
    (``_footer``), so building the DataFrame runs no Spark job. Works on
    any Hadoop FileSystem; a partitioned layout or a path with no data
    file keeps Spark's inference. The schema follows the session's
    parquet confs (``nanosAsLong``, ``inferTimestampNTZ``): call
    ``ensure_session_confs`` first where they matter."""
    return _read_parquet(spark, path)[0]


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Table ``name`` of the scale-factor directory ``sf_dir``; metadata
    only, no Spark job (``read_parquet``)."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    ensure_session_confs(spark)
    df, nanos = _read_parquet(spark, path)
    # TIMESTAMP(NANOS) parquet columns arrive as long ns (the
    # spark.sql.legacy.parquet.nanosAsLong session default); convert to
    # TimestampType. Integer `div` — ns epoch values (~1.7e18) exceed
    # double's 2^53 mantissa, a float division would corrupt them. The
    # testdata's ns values are µs-aligned so this is lossless and matches
    # DuckDB's TIMESTAMP(us) read of the same file.
    from pyspark.sql import functions as F

    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # Belt-and-braces: if the session's NTZ-inference conf could not be
    # set (locked static, or the scan schema was already cached), re-tag
    # NTZ columns as TIMESTAMP — value-preserving under the UTC pin.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_events_stream(
    spark: SparkSession, sf_dir: str | None = None, *, ts_type: str = "timestamp"
) -> DataFrame:
    """Streaming read of ``events.parquet`` with ``ts`` normalized.

    The driver's testdata has shipped two physical encodings for ``ts``:
    TIMESTAMP(NANOS) (arrives as epoch-ns long under the nanosAsLong
    session conf) and TIMESTAMP(MICROS) (arrives as TIMESTAMP once
    inferTimestampNTZ is off). A file stream needs an explicit schema, so
    sniff the parquet footer (``_footer``: a driver-side metadata read, no
    job) and build the matching one; either way the caller sees ``ts`` as
    TIMESTAMP (``ts_type="timestamp"``) or epoch-µs long
    (``ts_type="us_long"``).
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    ensure_session_confs(spark)
    found = _footer(spark, os.path.join(sf_dir, "events.parquet"))
    from pyspark.sql import functions as F

    nanos = found is not None and "ts" in found[1]
    schema = (
        "event_id long, ts {}, user_id long, event_type string, "
        "value double, props string"
    ).format("long" if nanos else "timestamp")
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        us = F.expr("ts div 1000")
        return stream.withColumn(
            "ts", us if ts_type == "us_long" else F.timestamp_micros(us)
        )
    if ts_type == "us_long":
        return stream.withColumn("ts", F.unix_micros("ts"))
    return stream


def ensure_bucketed_table(
    spark: SparkSession,
    base_name: str,
    df: DataFrame,
    bucket_key: str,
    *,
    num_buckets: int = 8,
    cache_key: str = "",
) -> str:
    """Materialize ``df`` as an external BUCKETED (and per-bucket sorted)
    table and return its catalog name — the co-located-join primitive:
    two tables bucketed on their join keys with equal bucket counts
    sort-merge-join with ZERO Exchange on either side (the shuffle was
    paid once at write time, not per query; at 100 TB this is how a fact
    table joins a fact table repeatedly without re-shuffling petabytes).

    Build-once: if the table is already in this session's catalog it is
    reused as-is; a fresh session pays one rebuild (the in-memory catalog
    does not survive the session, though the files do).
    """
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(cache_key.encode()).hexdigest()[:8] if cache_key else "d"
    name = f"{base_name}_{key}"
    if spark.catalog.tableExists(name):
        return name
    path = os.path.join(tempfile.gettempdir(), f"ts_bucketed_{name}")
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, bucket_key)
        .sortBy(bucket_key)
        .option("path", path)
        .saveAsTable(name)
    )
    return name


def register_views(spark: SparkSession, sf_dir: str | None = None, tables=TABLES) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for t in tables:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)


def write_parquet(df: DataFrame, path: str, *, mode: str = "overwrite", partition_by=None) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*([partition_by] if isinstance(partition_by, str) else partition_by))
    writer.parquet(path)


# Non-parquet formats: thin wrappers so every source/sink goes through one
# module (schema always explicit — inferSchema is a full extra pass and
# non-deterministic on messy data; never in the scale path).


def read_csv(spark: SparkSession, path: str, schema, *, header: bool = True, **options) -> DataFrame:
    return spark.read.options(header=header, **options).schema(schema).csv(path)


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite", header: bool = True, **options) -> None:
    df.write.mode(mode).options(header=header, **options).csv(path)


def read_json(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    return spark.read.options(**options).schema(schema).json(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite", **options) -> None:
    df.write.mode(mode).options(**options).json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).orc(path)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite", **options) -> None:
    df.write.mode(mode).options(**options).orc(path)


# Lakehouse table formats (Delta/Iceberg/Hudi) need their connector jars,
# which are not in this image — gate behind an import-try per the charter.
try:  # pragma: no cover
    import delta  # noqa: F401

    HAVE_DELTA = True
except ImportError:
    HAVE_DELTA = False


def delta_usable(spark: SparkSession) -> bool:
    """Delta needs BOTH the python package and a session built with the
    Delta SQL extension + catalog (jars are latched at JVM startup — they
    cannot be added to a running externally-built session)."""
    if not HAVE_DELTA:
        return False
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "io.delta.sql.DeltaSparkSessionExtension" in ext


def write_lakehouse_table(
    df: DataFrame, path: str, *, table_format: str = "delta", mode: str = "overwrite", **options
) -> str:
    """Lakehouse sink with graceful format negotiation: writes Delta when
    the connector is usable in this session, else degrades to plain
    parquet at the same path — same rows, no transaction log. Returns
    the format that actually landed so callers/tests can see which
    branch ran. (Iceberg/Hudi would slot in behind the same negotiation
    the moment their jars are present.)"""
    fmt = table_format
    if fmt == "delta" and not delta_usable(df.sparkSession):
        fmt = "parquet"
    df.write.format(fmt).mode(mode).options(**options).save(path)
    return fmt


def read_lakehouse_table(
    spark: SparkSession, path: str, *, table_format: str = "delta", **options
) -> DataFrame:
    """Source side of :func:`write_lakehouse_table` — resolves the same
    negotiation so a pair of calls in one environment always agrees on
    the format."""
    fmt = table_format
    if fmt == "delta" and not delta_usable(spark):
        fmt = "parquet"
    return spark.read.format(fmt).options(**options).load(path)
