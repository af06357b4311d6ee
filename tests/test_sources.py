"""Source-format coverage: JSONL round-trip, raw-text-dir ingestion, and
the bucketed-table shuffle-free join strategy."""

import os

import pytest
from pyspark.sql import functions as F

from patent_decision_document_converter_spark.plans.job import convert_documents, get_spark
from patent_decision_document_converter_spark.plans.registry import convert_text
from patent_decision_document_converter_spark.sources import ingest
from patent_decision_document_converter_spark.sources.documents import create_documents_df
from patent_decision_document_converter_spark.sources.generator import (
    doc_text_from_spans,
    make_documents_rows,
)


@pytest.fixture(scope="module")
def spark():
    yield get_spark(app_name="pytest-sources", master="local[4]", shuffle_partitions=4)


def test_jsonl_roundtrip_and_convert(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("jsonl"))
    rows = make_documents_rows(25, seed=17, mega_frac=0.0)
    df = create_documents_df(spark, rows)
    ingest.write_documents_jsonl(df, os.path.join(base, "docs"))
    back = ingest.read_documents_jsonl(spark, os.path.join(base, "docs"))

    orig = {r["doc_id"]: r.asDict(recursive=True) for r in convert_documents(df, "pct").collect()}
    rt = {r["doc_id"]: r.asDict(recursive=True) for r in convert_documents(back, "pct").collect()}
    assert orig == rt  # JSONL round-trip is conversion-lossless


def test_gzipped_jsonl_ingestion(spark, tmp_path_factory):
    """Crawl dumps arrive as .jsonl.gz; Spark's Hadoop codecs decompress
    transparently, so the SAME schema-pinned reader must ingest gzipped
    lines byte-identically to plain JSONL.  (Note for 100 TB: gzip is
    NOT splittable — one file = one task — so upstream dumps should be
    many ~100 MB-1 GB files; the reader parallelizes across files.)"""
    import gzip
    import json as json_mod

    base = str(tmp_path_factory.mktemp("jsonlgz"))
    rows = make_documents_rows(20, seed=29, mega_frac=0.0)
    os.makedirs(os.path.join(base, "gz"), exist_ok=True)
    # two .gz shards, to exercise the file-parallel path
    for shard in range(2):
        with gzip.open(os.path.join(base, "gz", f"part-{shard}.jsonl.gz"), "wt", encoding="utf-8") as f:
            for r in rows[shard::2]:
                f.write(json_mod.dumps({"doc_id": r["doc_id"], "spans": r["spans"]}, ensure_ascii=False) + "\n")

    back = ingest.read_documents_jsonl(spark, os.path.join(base, "gz"))
    df = create_documents_df(spark, rows)
    orig = {r["doc_id"]: r.asDict(recursive=True) for r in convert_documents(df, "pct").collect()}
    rt = {r["doc_id"]: r.asDict(recursive=True) for r in convert_documents(back, "pct").collect()}
    assert orig == rt


def test_raw_text_dir_ingestion(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("rawtxt"))
    rows = make_documents_rows(10, seed=23, media_spans=0, mega_frac=0.0)
    rows = [
        {"doc_id": r["doc_id"], "spans": [s for s in r["spans"] if s["kind"] == "text"]}
        for r in rows
    ]
    ingest.stage_raw_text_dir(rows, base)
    docs = ingest.read_raw_text_dir(spark, base)
    assert docs.count() == 10

    out = {r["doc_id"]: r for r in convert_documents(docs, "officeAction").collect()}
    for r in rows:
        expected = convert_text(doc_text_from_spans(r["spans"]), "officeAction")
        assert out[r["doc_id"]]["spans"][0]["text"] == expected


def test_sql_udf_surface(spark):
    """Registered SQL UDFs run the exact fused pipelines."""
    from patent_decision_document_converter_spark.plans.registry import register_sql_udfs

    names = register_sql_udfs(spark)
    assert "convert_officeAction" in names and len(names) == 8
    rows = make_documents_rows(8, seed=41, media_spans=0, mega_frac=0.0)
    df = spark.createDataFrame(
        [(r["doc_id"], doc_text_from_spans([s for s in r["spans"] if s["kind"] == "text"])) for r in rows],
        ["doc_id", "text"],
    )
    df.createOrReplaceTempView("raw_docs")
    got = {
        r["doc_id"]: (r["oa"], r["par"])
        for r in spark.sql(
            "SELECT doc_id, convert_officeAction(text) AS oa, convert_paragraph(text) AS par FROM raw_docs"
        ).collect()
    }
    for r in df.collect():
        assert got[r["doc_id"]] == (
            convert_text(r["text"], "officeAction"),
            convert_text(r["text"], "paragraph"),
        )


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Faster-join strategy: co-bucketed saveAsTable tables sort-merge
    join with ZERO Exchange in the plan (the persisted-layout form of
    'repartition once, join many times' at corpus scale)."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    rows = make_documents_rows(60, seed=31, mega_frac=0.0)
    df = create_documents_df(spark, rows)
    converted = convert_documents(df, "pct")

    import shutil

    spark.sql("DROP TABLE IF EXISTS docs_bkt")
    spark.sql("DROP TABLE IF EXISTS conv_bkt")
    # a previously interrupted run can leave an orphan managed-table dir
    for t in ("docs_bkt", "conv_bkt"):
        shutil.rmtree(os.path.join("spark-warehouse", t), ignore_errors=True)
    df.write.bucketBy(4, "doc_id").sortBy("doc_id").mode("overwrite").saveAsTable("docs_bkt")
    converted.write.bucketBy(4, "doc_id").sortBy("doc_id").mode("overwrite").saveAsTable("conv_bkt")

    # force the SMJ path (not broadcast) so the bucket layout carries the join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("docs_bkt")
            .join(spark.table("conv_bkt").withColumnRenamed("spans", "spans_out"), "doc_id")
            .select("doc_id", F.size("spans").alias("n_in"), F.size("spans_out").alias("n_out"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == 60
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_writeto_table_overwrite_partitions(spark, tmp_path_factory):
    """The DataFrameWriterV2 catalog path (writeTo + overwritePartitions)
    exercised for real: create a bucket-partitioned documents table,
    dynamically overwrite ONE bucket's partitions with changed docs, and
    verify the touched bucket updated while every other partition stayed
    byte-identical. Same calls route through Iceberg/Delta connectors
    when such a catalog is configured."""
    from patent_decision_document_converter_spark.sources.documents import (
        overwrite_document_partitions,
        write_documents_table,
    )

    loc = str(tmp_path_factory.mktemp("v2tbl"))
    table = "v2_docs_test"

    def doc(i, text):
        return {
            "doc_id": f"d{i}",
            "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
        }

    rows = [doc(i, f"原文{i}") for i in range(20)]
    df = create_documents_df(spark, rows)
    write_documents_table(df, table, n_buckets=4, location=loc)
    try:
        tbl = spark.read.table(table)
        assert tbl.count() == 20
        assert "bucket" in tbl.columns

        # pick the docs of one bucket and rewrite ONLY them
        target = tbl.select("doc_id", "bucket").collect()
        by_bucket = {}
        for r in target:
            by_bucket.setdefault(r["bucket"], []).append(r["doc_id"])
        bucket_id, ids = sorted(by_bucket.items())[0]
        changed = [
            doc(i, f"改訂{i}") for i in range(20) if f"d{i}" in set(ids)
        ]
        before = {
            r["doc_id"]: r["spans"][0]["text"]
            for r in tbl.collect()
        }
        overwrite_document_partitions(
            create_documents_df(spark, changed), table, n_buckets=4
        )

        after_rows = spark.read.table(table).collect()
        after = {r["doc_id"]: r["spans"][0]["text"] for r in after_rows}
        assert len(after_rows) == 20  # dynamic overwrite: no dup, no loss
        for did, text in after.items():
            if did in set(ids):
                assert text.startswith("改訂"), (did, text)
            else:
                assert text == before[did], (did, text)
        # partition pruning still works on the table read
        pruned = spark.read.table(table).filter(F.col("bucket") == bucket_id)
        assert {r["doc_id"] for r in pruned.collect()} == set(ids)

        # a frame whose columns are in another order than the table's
        # lands by name, not by position
        reordered = create_documents_df(
            spark, [doc(i, f"再改訂{i}") for i in range(20) if f"d{i}" in set(ids)]
        ).select("spans", "doc_id")
        overwrite_document_partitions(reordered, table, n_buckets=4)
        again_rows = spark.read.table(table).collect()
        again = {r["doc_id"]: r["spans"][0]["text"] for r in again_rows}
        assert len(again_rows) == 20
        assert all(again[d] == f"再改訂{d[1:]}" for d in ids)
        assert all(again[d] == before[d] for d in again if d not in set(ids))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
