"""End-to-end corpus curation: the training-data pipeline composed.

One job wiring every layer of the engine the way a 100 TB pretraining
corpus build would:

    documents(doc_id, spans)
      → convert (fused mode pipeline, typo findings)        plans.job
      → quarantine split (findings ≠ clean)                 plans.job
      → quality gates (token/char/diversity thresholds)     operators.textstats
      → language filter                                     operators.textstats
      → exact dedup (content-hash, keep canonical)          operators.dedup
      → near-dup removal (MinHash LSH candidates →
        integer-Jaccard verify → keep min doc_id)           operators.dedup
      → curated spans + per-stage metrics

Scale shape: every stage is either a per-row projection or a short-key
shuffle already analyzed in PLANS.md; the near-dup verify runs ONLY on
LSH candidate pairs (semi-join pushdown), never all-pairs.  Stage
counts are computed in ONE pass per retained frame (cheap aggregates),
and the converted frame is persisted once since three branches consume
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cachereg import track
from ..operators import dedup, textstats
from .job import convert_documents, quarantine_split


def extract_text(converted: DataFrame) -> DataFrame:
    """(doc_id, text) view of converted spans ('\\n'-joined text spans in
    offset order — media spans excluded from the text key)."""
    return converted.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
        ).alias("text"),
    )


def curate_corpus(
    docs: DataFrame,
    mode: str = "officeAction",
    min_chars: int = 20,
    min_tokens: int = 8,
    min_distinct_permille: int = 200,
    keep_langs: tuple[str, ...] | None = None,
    jaccard_threshold_tenths: int = 8,
    max_dup_line_permille: int | None = None,
    max_top_bigram_permille: int | None = None,
    substring_dedup_min_run: int | None = None,
) -> tuple[DataFrame, dict]:
    """Run the full curation pipeline; returns (curated spans DataFrame,
    per-stage metrics dict).

    Intermediates are persisted via functions.cachereg — after consuming
    the returned DataFrame (write/collect), call
    ``functions.cachereg.release_cached()`` to free executor storage
    memory; repeated runs in one session otherwise accumulate blocks.

    The token-count gate is script-aware: spaceless CJK text tokenizes
    to very few whitespace tokens, so docs whose mean token length is
    CJK-run-sized (≥10 chars) pass on ``min_chars`` alone.

    ``max_dup_line_permille`` / ``max_top_bigram_permille`` enable the
    Gopher-family repetition gates (textstats.repetition_signals) —
    off by default; Gopher's own cut-offs are ≈300 / ≈180.

    ``substring_dedup_min_run`` enables span-level substring dedup (Lee
    et al. keep-one-occurrence) AFTER doc-level near-dedup: among the
    SURVIVORS, LSH candidate pairs that stayed below the whole-doc
    Jaccard threshold but share a common token run of at least this many
    word-3-shingles get the duplicated span cut from the higher doc_id's
    text.  The cut is source-byte surgery (r4): every kept character of
    the affected doc's flat text is byte-identical to the input —
    casing and whitespace survive.  Affected docs are still re-emitted
    as a single flat text span (the char-offset splice cannot preserve
    positional media interleaving; unaffected docs keep their span
    structure bit-identical) and carry ``substring_cut = true``."""
    metrics: dict[str, int] = {"input_docs": docs.count()}

    converted = track(convert_documents(docs, mode=mode))
    clean, quarantined = quarantine_split(converted)
    metrics["quarantined"] = quarantined.count()

    text = extract_text(clean)
    quality = textstats.quality_scores(text)
    passed_quality = quality.filter(
        (F.col("n_chars") >= min_chars)
        & (F.col("distinct_permille") >= min_distinct_permille)
        & ((F.col("n_tokens") >= min_tokens) | (F.col("mean_tok_len_x10") >= 100))
    ).select("doc_id")
    if keep_langs:
        langs = textstats.lang_id(text)
        passed_quality = passed_quality.join(
            langs.filter(F.col("pred_lang").isin(*keep_langs)).select("doc_id"), "doc_id"
        )
    text_q = text.join(passed_quality, "doc_id")
    metrics["after_quality"] = text_q.count()

    if max_dup_line_permille is not None or max_top_bigram_permille is not None:
        rep = textstats.repetition_signals(text_q)
        cond = F.lit(True)
        if max_dup_line_permille is not None:
            cond = cond & (F.col("dup_line_permille") <= max_dup_line_permille)
        if max_top_bigram_permille is not None:
            cond = cond & (F.col("top_bigram_permille") <= max_top_bigram_permille)
        text_q = text_q.join(rep.filter(cond).select("doc_id"), "doc_id")
        metrics["after_repetition"] = text_q.count()

    # exact dedup: keep the canonical (min doc_id) row per content hash
    hashed = text_q.select(
        "doc_id", dedup.normalized_text("text").alias("_norm"), "text"
    ).withColumn(
        "content_hash",
        F.conv(F.substring(F.md5("_norm"), 1, 15), 16, 10).cast("long"),
    )
    canonical = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    text_e = hashed.join(canonical, ["content_hash", "doc_id"], "left_semi").select(
        "doc_id", "text"
    )
    text_e = track(text_e)
    metrics["after_exact_dedup"] = text_e.count()

    # near-dup removal: LSH candidates -> integer-Jaccard verify.
    # char-5-gram shingles: script-agnostic (word shingles are blind on
    # spaceless CJK text)
    sigs = dedup.minhash_signatures(text_e, shingle_k=5, unit="char")
    cands = dedup.minhash_lsh_candidates(sigs)
    near = dedup.ngram_jaccard_pairs(
        text_e,
        shingle_k=5,
        unit="char",
        threshold_tenths=jaccard_threshold_tenths,
        candidates=cands,
    )
    # cluster-aware canonical selection: pairwise id_b-dropping mishandles
    # transitive chains (A~B, B~C but A!~C would drop B and C, losing a
    # distinct doc C and keeping none of its cluster if ids interleave);
    # connected components keep exactly one doc — the min id — per
    # near-dup cluster
    clusters = dedup.connected_components(near)
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    survivors = text_e.join(drops, "doc_id", "left_anti").select("doc_id")
    metrics["after_near_dedup"] = survivors.count()

    curated = converted.join(survivors, "doc_id", "left_semi")

    if substring_dedup_min_run is not None:
        # candidate pairs where BOTH endpoints survived doc-level dedup:
        # below the whole-doc threshold, but possibly sharing a verbatim span
        surv_text = text_e.join(survivors, "doc_id", "left_semi")
        cands_surv = (
            cands.join(survivors.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
            .join(survivors.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        )
        cut = track(
            dedup.remove_common_runs(
                surv_text, cands_surv, shingle_k=3, min_run=substring_dedup_min_run
            )
        )
        metrics["substring_cut_docs"] = cut.count()
        spans_t = curated.schema["spans"].dataType
        cut_rows = cut.select(
            "doc_id",
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("new_text").alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ).cast(spans_t).alias("_new_spans"),
        )
        curated = (
            curated.join(cut_rows, "doc_id", "left")
            .withColumn(
                "spans", F.coalesce(F.col("_new_spans"), F.col("spans"))
            )
            .withColumn(
                "n_spans_out",
                F.when(F.col("_new_spans").isNotNull(), F.lit(1)).otherwise(
                    F.col("n_spans_out")
                ).cast("int"),
            )
            # the splice now preserves source bytes (casing/whitespace
            # outside the cut are byte-identical), but media spans and
            # span structure still collapse into one flat text span —
            # flag rewritten docs so downstream consumers can detect it
            .withColumn("substring_cut", F.col("_new_spans").isNotNull())
            .drop("_new_spans")
        )
    else:
        curated = curated.withColumn("substring_cut", F.lit(False))

    metrics["curated_docs"] = metrics["after_near_dedup"]
    return curated, metrics


def main() -> None:
    import argparse
    import json

    from .job import MODES, get_spark, parallelism_floor

    p = argparse.ArgumentParser(description="Corpus curation pipeline")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--mode", default="officeAction", choices=sorted(MODES))
    p.add_argument("--min-chars", type=int, default=20)
    p.add_argument("--min-tokens", type=int, default=8)
    p.add_argument("--min-distinct-permille", type=int, default=200)
    p.add_argument("--langs", default=None, help="comma-separated keep list")
    p.add_argument(
        "--substring-dedup-min-run", type=int, default=None,
        help="enable span-level substring dedup among near-dedup survivors "
             "(min consecutive shared word-3-shingles to cut)",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args()

    spark = get_spark(app_name="corpus-curation", master=args.master)
    docs = parallelism_floor(spark.read.parquet(args.input))
    curated, metrics = curate_corpus(
        docs,
        mode=args.mode,
        min_chars=args.min_chars,
        min_tokens=args.min_tokens,
        min_distinct_permille=args.min_distinct_permille,
        keep_langs=tuple(args.langs.split(",")) if args.langs else None,
        substring_dedup_min_run=args.substring_dedup_min_run,
    )
    curated.write.mode("overwrite").parquet(args.output)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
