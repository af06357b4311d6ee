"""End-to-end extraction job: raw media payloads → cleaned span sequences.

The north-star pipeline in one spark-submit entry (the composition the
reference user runs by hand: extract each figure/attachment, paste it
into the document, convert):

1. read the interleaved documents table (doc_id, spans:array<struct<
   kind,text,media_ref,offset>>) and its media sidecar (doc_id,
   media_ref, format, payload:binary),
2. route every payload through :func:`..operators.extract.
   extract_main_content` (HTML boilerplate strip / PDF layout parse /
   text normalize — per-format legs, all shuffle-free),
3. splice the extracted text into the span sequences via
   :func:`..operators.pdf.enrich_media_spans` (co-partitioned join on
   doc_id, dense re-offset — the output re-satisfies the
   (kind, text, media_ref, order) invariant),
4. convert the enriched documents with the requested mode pipeline
   (salted ``mapInPandas``, same engine as :func:`.job.run_job`),
5. bucketed write with per-bucket manifests (lineage + row/span/media
   counts) through the same resume/commit path as :func:`.job.run_job`:
   completed buckets are pruned from BOTH input scans (bucket is a pure
   function of doc_id, so the media scan prunes without a join).

Scale: no step collects data-sized results to the driver; the only
driver materialization is the per-bucket manifest stats (≤ n_buckets
rows).  The bucket filter reaches the parquet scans as a partition
filter when the tables were written partitioned by bucket (e.g. via
``sources.documents.write_documents``).

Reference: the browser tool's per-document flow (index.js: file input →
convert → download); this job is its corpus-scale batch twin.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_main_content
from ..operators.pdf import enrich_media_spans
from .job import (
    commit_buckets,
    completed_buckets,
    convert_documents,
    get_spark,
    job_arg_parser,
    pending_buckets,
)


def extract_and_enrich(
    docs: DataFrame,
    media: DataFrame,
    permissive_pdf: bool = True,
) -> DataFrame:
    """(docs, media) → documents with extracted media text spliced in.

    Media rows whose extraction yields NULL (unknown format, or a
    corrupt PDF under ``permissive_pdf``) simply don't enrich — their
    media spans pass through untouched, the job keeps running.  Docs
    with an empty spans array pass through the doc-level enrich join
    unchanged, so the output doc set equals the input's.
    """
    extracted = extract_main_content(media, permissive_pdf=permissive_pdf).filter(
        F.col("main_text").isNotNull()
    )
    return enrich_media_spans(
        docs.select("doc_id", "spans"),
        extracted.select("doc_id", "media_ref", F.col("main_text").alias("text")),
    )


def run_extract_job(
    spark: SparkSession,
    docs_path: str,
    media_path: str,
    output_path: str,
    mode: str = "officeAction",
    n_buckets: int = 32,
    resume: bool = True,
    permissive_pdf: bool = True,
) -> dict:
    """spark-submit entry: read → extract → enrich → convert → bucketed
    write with manifests.  Returns job metrics (buckets, docs, media)."""
    lineage = {
        "mode": mode,
        "n_buckets": n_buckets,
        "docs_path": docs_path,
        "media_path": media_path,
    }
    done = completed_buckets(output_path, lineage) if resume else set()
    docs, buckets = pending_buckets(spark.read.parquet(docs_path), n_buckets, done)
    media, _ = pending_buckets(spark.read.parquet(media_path), n_buckets, done, what="media")
    metrics = {"mode": mode, "buckets_done": len(done), "buckets_run": len(buckets)}
    if buckets:
        enriched = extract_and_enrich(docs, media, permissive_pdf=permissive_pdf)
        media_texts = F.sum(F.size(F.filter("spans", lambda s: s["kind"] == "media_text")))
        metrics |= commit_buckets(
            convert_documents(enriched, mode), output_path, n_buckets, buckets, lineage,
            extra_aggs={"media_texts": media_texts},
        )
    return metrics


def main() -> None:
    p = job_arg_parser("Extraction → conversion job")
    p.add_argument("--docs", required=True)
    p.add_argument("--media", required=True)
    p.add_argument("--strict-pdf", action="store_true")
    a = p.parse_args()
    spark = get_spark("patent-decision-extract-job", master=a.master)
    m = run_extract_job(
        spark,
        a.docs,
        a.media,
        a.output,
        mode=a.mode,
        n_buckets=a.buckets,
        resume=not a.no_resume,
        permissive_pdf=not a.strict_pdf,
    )
    print(json.dumps(m))


if __name__ == "__main__":
    main()
