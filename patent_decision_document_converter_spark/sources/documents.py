"""Spark IO for the interleaved `documents` table.

Schema (BASELINE.json input_hint):
    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

Output table:
    spans_out(doc_id, mode, spans, findings, n_spans_in, n_spans_out)

Write layout: parquet partitioned by `bucket` = pmod(xxhash64(doc_id), N) —
the Iceberg-style bucket transform — so (a) co-located reads by doc_id need
no shuffle at matching bucket counts, (b) per-bucket checkpoint manifests
make restarts resumable at bucket granularity.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_TYPE = StructType([
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
])

DOCUMENTS_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", ArrayType(SPAN_TYPE), False),
])

FINDING_TYPE = StructType([
    StructField("id", StringType()),
    StructField("message", StringType()),
    StructField("match", StringType()),
    StructField("index", IntegerType()),
    StructField("context", StringType()),
])

SPANS_OUT_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("mode", StringType(), False),
    StructField("spans", ArrayType(SPAN_TYPE), False),
    StructField("findings", ArrayType(FINDING_TYPE), False),
    StructField("n_spans_in", IntegerType(), False),
    StructField("n_spans_out", IntegerType(), False),
])


def doc_bucket(n_buckets: int) -> Column:
    """The bucket transform every writer and job partitions by."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def create_documents_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Build the documents DataFrame from generator rows
    (sources.generator.make_documents_rows)."""
    data = [
        (
            r["doc_id"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]],
        )
        for r in rows
    ]
    return spark.createDataFrame(data, DOCUMENTS_SCHEMA)


def write_documents(df: DataFrame, path: str, n_buckets: int = 32) -> None:
    """Write the documents table bucket-partitioned by doc_id hash."""
    (
        df.withColumn("bucket", doc_bucket(n_buckets))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_documents_table(
    df: DataFrame, table: str, n_buckets: int = 32, location: str | None = None
) -> None:
    """Catalog-table twin of :func:`write_documents` via the
    DataFrameWriterV2 API: ``writeTo(table).partitionedBy(bucket)``.

    Against the built-in session catalog this creates a bucket-
    partitioned parquet table; against an Iceberg/Delta catalog the SAME
    calls go through their v2 connectors — this is the path COVERAGE.md
    documents as the table-format story, now exercised (not just
    modeled) in tests/test_sources.py."""
    w = (
        df.withColumn("bucket", doc_bucket(n_buckets))
        .writeTo(table)
        .using("parquet")
        .partitionedBy(F.col("bucket"))
    )
    if location:
        w = w.tableProperty("location", location)
    try:
        w.createOrReplace()
    except AnalysisException as e:
        # the built-in session catalog supports CREATE but not REPLACE
        # TABLE AS SELECT; atomic replace needs a true v2 catalog
        # (Iceberg/Delta).  Emulate with drop+create there.
        if e.getCondition() != "UNSUPPORTED_FEATURE.TABLE_OPERATION":
            raise
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
        w.create()


def overwrite_document_partitions(df: DataFrame, table: str, n_buckets: int = 32) -> None:
    """Dynamic partition overwrite: replaces exactly the bucket
    partitions present in ``df`` (recomputed from doc_id, so callers
    pass plain (doc_id, spans) frames), leaving every other partition
    byte-untouched — the idempotent re-run/backfill primitive for the
    resumable jobs when the corpus lives in a catalog table instead of
    a raw parquet layout."""
    out = df.withColumn("bucket", doc_bucket(n_buckets))
    try:
        out.writeTo(table).overwritePartitions()
    except Exception:
        # v1 session-catalog tables reject the DataFrameWriterV2 write
        # path ("Cannot write into v1 table"); the semantically-identical
        # v1 spelling is dynamic-mode INSERT OVERWRITE.  With an
        # Iceberg/Delta catalog the v2 branch above is taken.
        spark = df.sparkSession
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "dynamic")
        try:
            # insertInto is positional: match the table's column order
            out.select(spark.table(table).columns).write.mode("overwrite").insertInto(table)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def write_media(df: DataFrame, path: str, n_buckets: int = 32) -> None:
    """Write a media sidecar table (doc_id, media_ref, format, payload)
    partitioned by (bucket, format).

    Both partition keys turn the extraction job's filters into pure
    partition pruning: the resume path's ``bucket NOT IN done`` skips
    completed buckets without opening a file, and each dispatcher leg's
    ``format = 'html'|'pdf'|'txt'`` filter reads ONLY its own format's
    files — the four per-leg scans over one mixed table stop re-reading
    shared row groups (PLANS.md round-4 audit).  Bucket is the same
    doc_id-hash function as :func:`write_documents`, so the media table
    stays aligned with its documents table."""
    (
        df.withColumn("bucket", doc_bucket(n_buckets))
        .write.mode("overwrite")
        .partitionBy("bucket", "format")
        .parquet(path)
    )
