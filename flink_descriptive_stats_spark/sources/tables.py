"""Source layer: parquet table loading with schema normalization.

The reference's only source is an in-memory synthetic collection
(ProfileJob.java:86); our engine reads real columnar sources. One wrinkle the
test tables exercise: parquet TIMESTAMP(NANOS) columns, which Spark has no
native type for. We read them via ``spark.sql.legacy.parquet.nanosAsLong``
and convert to TimestampType with *integer* division (nanos exceed double's
53-bit mantissa, so FP division would corrupt timestamps) — truncation to
micros matches DuckDB's ns->ms truncation for the epoch-millis stats space.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_descriptive_stats_spark.functions.memo import SessionCache

#: per-session parquet-footer schema memo, keyed by (path, size, mtime).
#: ``spark.read.parquet`` without a schema launches a footer-inference
#: Spark job on EVERY call — pure fixed cost repeated for each of the ~300
#: table loads a full bench pass performs over the same handful of
#: fixture paths. Caching the SCHEMA (metadata only — exactly what a
#: catalog/metastore provides at scale) and passing it to
#: ``spark.read.schema(...)`` skips that job; the file listing itself
#: stays fresh per call, so no data or result is ever reused. The stat
#: stamp makes a rewritten file miss instead of serving its old schema.
_SCHEMA_MEMO = SessionCache(64)


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        key = (path,)           # not a local path: key on the path alone
    return _SCHEMA_MEMO.get_or_build(
        spark, key, lambda: spark.read.parquet(path).schema)


def normalize_table(df: DataFrame, table: str) -> DataFrame:
    """Normalize physical-encoding drift to the logical table schema.

    The testdata fixtures have re-encoded timestamp columns across rounds
    (TIMESTAMP(NANOS) read as long under the legacy conf, TIMESTAMP_NTZ,
    plain TIMESTAMP(MICROS)); this is the single place that maps whatever
    the parquet footer says onto the logical TimestampType the operators
    expect. Works on both batch and streaming DataFrames (pure select).
    """
    from flink_descriptive_stats_spark.oracle import TABLE_SCHEMAS
    expected = dict(TABLE_SCHEMAS.get(table, []))
    cols = []
    for f in df.schema.fields:
        if expected.get(f.name) == "timestamp" and isinstance(f.dataType, T.LongType):
            # nanos-as-long: integer division (nanos exceed double's 53-bit
            # mantissa, FP division would corrupt timestamps)
            cols.append(F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
                        .alias(f.name))
        elif isinstance(f.dataType, T.TimestampNTZType):
            # Session TZ is pinned to UTC, so NTZ wall time == the UTC
            # instant; normalizing to TimestampType keeps one code path.
            cols.append(F.col(f.name).cast("timestamp").alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def load_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # defensive: driver-owned sessions don't come through get_spark(); keep
    # wide aggs inside whole-stage codegen (see session.py)
    spark.conf.set("spark.sql.codegen.maxFields", "500")
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(path)
    return normalize_table(df, table)


def stream_table(spark: SparkSession, src_dir: str, table: str,
                 schema: T.StructType | None = None,
                 **reader_options) -> DataFrame:
    """``readStream`` analogue of :func:`load_table`.

    readStream requires an explicit schema; deriving it from a batch read of
    the same directory (instead of hard-coding one) means a testdata
    re-encoding of the physical timestamp unit changes one code path, not
    every streaming consumer. Normalization is shared with the batch path.

    The batch-derived schema requires at least one file present; for a
    cold-start landing directory (empty until the first file arrives) pass
    ``schema`` explicitly — it goes through the same normalization.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = schema if schema is not None \
        else spark.read.parquet(src_dir).schema
    reader = spark.readStream.schema(raw_schema)
    for k, v in reader_options.items():
        reader = reader.option(k, v)
    return normalize_table(reader.parquet(src_dir), table)


def load_binary_dir(spark: SparkSession, path: str,
                    glob: str | None = None) -> DataFrame:
    """Binary-file ingestion for the multimodal operators: read a
    directory of payload files (images, audio, arbitrary blobs) through
    Spark's built-in ``binaryFile`` source into the (id, payload,
    n_bytes, path) shape the decode/feature operators consume — id is a
    deterministic 63-bit hash of the file path (stable across runs and
    listings; the path column keeps the human mapping).

    This is how multimodal corpora actually arrive (one file per asset,
    not parquet); the source is scan-parallel across files, supports
    ``pathGlobFilter`` pushdown (``glob``), and prunes the ``content``
    column when a query only touches metadata — the same columnar
    discipline as the parquet path."""
    from pyspark.sql import functions as F
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    pid = F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10) \
        .cast("bigint")
    return df.select(pid.alias("id"),
                     F.col("content").alias("payload"),
                     F.col("length").alias("n_bytes"),
                     F.col("path").alias("path"))


def load_text_dir(spark: SparkSession, path: str,
                  glob: str | None = None) -> DataFrame:
    """One-file-per-document corpus ingestion: read a directory of text
    files (``wholetext`` — one row per FILE, not per line) into the
    documents shape every text/dedup operator consumes: (doc_id, text,
    source, n_chars, path), doc_id a deterministic 63-bit path hash and
    source the parent directory name (the usual provenance convention
    for scraped corpora). Scan-parallel across files with
    ``pathGlobFilter`` pushdown."""
    from pyspark.sql import functions as F
    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    # wholetext must go through the text() parameter (the reader option
    # spelling is silently ignored by the line-mode path)
    df = reader.text(path, wholetext=True).withColumn(
        "path", F.input_file_name())
    pid = F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10) \
        .cast("bigint")
    src = F.element_at(F.split(F.col("path"), "/"), -2)
    return df.select(pid.alias("doc_id"),
                     F.col("value").alias("text"),
                     src.alias("source"),
                     F.length("value").alias("n_chars"),
                     "path")
