"""Stage-by-stage timing of the extraction pipeline — locates where the
wall-clock goes at a given parallelism level (diagnosis tool for the
N→4N scaling work; not part of the bench record).  Ends with the number
of Spark jobs one ``run_extract_job`` call submits, so an eager probe
that re-runs the extraction DAG shows up as a count, without tracing.

Usage: python tools/profile_extract_stages.py <cpus> [n_docs_k]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    nk = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    base = f"/tmp/bench_scaling_extract_{nk}k"
    docs_dir, media_dir = f"{base}/docs", f"{base}/media"

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from patent_decision_document_converter_spark.operators.extract import extract_main_content
    from patent_decision_document_converter_spark.operators.pdf import (
        enrich_media_spans,
        pdf_extract_text_df,
    )
    from patent_decision_document_converter_spark.plans.extract_job import (
        extract_and_enrich,
        run_extract_job,
    )
    from patent_decision_document_converter_spark.plans.job import convert_documents

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "64" if nk == 60 else "128")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .appName(f"profile-extract-{cpus}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(docs_dir)
    media = spark.read.parquet(media_dir)
    docs.count()
    media.count()

    # warm python workers
    warm = docs.select("doc_id").limit(32 * cpus)
    convert_documents(
        extract_and_enrich(docs.join(warm, "doc_id"), media), "officeAction"
    ).select(F.count("*")).head()

    def t(label, df, force_col):
        best = None
        for _ in range(2):
            t0 = time.time()
            df.select(F.sum(F.crc32(force_col)).alias("f"), F.count("*")).head()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        print(f"{label:38s} {best:7.2f}s", flush=True)
        return best

    # individual legs
    pdf_only = media.filter(F.col("format") == "pdf")
    t("pdf_extract_text_df (20k pdfs)", pdf_extract_text_df(pdf_only, permissive=True), F.col("text"))
    ext = extract_main_content(media, permissive_pdf=True)
    t("extract_main_content (all media)", ext, F.col("main_text"))
    enr = extract_and_enrich(docs, media)
    t("extract_and_enrich", enr, F.to_json("spans"))
    conv_only = convert_documents(docs, "officeAction")
    t("convert_documents (docs, no extract)", conv_only, F.to_json("spans"))
    full = convert_documents(extract_and_enrich(docs, media), "officeAction")
    t("FULL pipeline", full, F.to_json("spans"))

    sc = spark.sparkContext
    sc.setJobGroup("run_extract_job", "one run_extract_job call")
    with tempfile.TemporaryDirectory() as out:
        run_extract_job(spark, docs_dir, media_dir, out)
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("run_extract_job")
    print(f"{'Spark jobs per run_extract_job call':38s} {len(jobs):7d}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
