"""Megadoc skew experiment (north_rule: "salts and repartitions on doc_id
hash to defuse skew from mega-documents").

Corpus: FIXTURES.md distribution WITH the mega tail (~0.5% docs at
100-1000x median span count).  On a small corpus a single megadoc row is
a material fraction of all work, so partition-level balance is the whole
game: a coarse partitioning that co-locates megadocs serializes them
behind one task, while fine-grained salted hash partitioning spreads
megadocs across the executor pool and bounds the straggler to ONE doc's
cost (a row is the minimum schedulable unit — within-doc splitting would
break the sequential conversion semantics).

Reports wall-clock for three layouts at the same parallelism:
  coarse   — 4 partitions by raw doc_id hash (megadocs pile up)
  fine     — cpus*4 partitions by doc_id hash
  salted   — cpus*4 partitions by salted hash (job.py salt_buckets)
plus the theoretical floor (total single-thread work / cores) and the
max single-doc cost (the unsplittable-straggler bound).

Writes BENCH_SKEW.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = 6000
SEED = 42
CPUS = 32


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from patent_decision_document_converter_spark.plans.job import convert_documents
    from patent_decision_document_converter_spark.sources.documents import DOCUMENTS_SCHEMA
    from patent_decision_document_converter_spark.sources.generator import (
        make_document_text,
        make_documents_rows,
    )

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .appName("skew-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from patent_decision_document_converter_spark.plans.job import (
        convert_documents_auto,
        convert_documents_exploded,
        pick_convert_strategy,
    )

    rows = make_documents_rows(N_DOCS, seed=SEED)  # mega tail INCLUDED
    span_counts = sorted(len(r["spans"]) for r in rows)
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA).persist()
    df.count()
    rows_u = make_documents_rows(N_DOCS, seed=SEED, mega_frac=0.0)  # uniform twin
    df_u = spark.createDataFrame(rows_u, schema=DOCUMENTS_SCHEMA).persist()
    df_u.count()
    # warm python workers
    warm = convert_documents(df.limit(32 * CPUS), "officeAction", n_partitions=CPUS)
    warm.select(F.count("*")).head()

    def timed(tag: str, frame, fn) -> dict:
        best = None
        for _ in range(2):
            t0 = time.time()
            # checksum action, NOT count(*): on the exploded plan a bare
            # count lets Catalyst prune the conversion work entirely
            # (measured 0.5s vs 3.8s) — the checksum forces every
            # converted span to materialize on both strategies
            fn(frame).select(F.sum(F.crc32(F.to_json(F.col("spans"))))).head()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(f"{tag}: {best:.2f}s", flush=True)
        return {"layout": tag, "sec": round(best, 3)}

    def nested(n_partitions, salt_buckets=0):
        return lambda d: convert_documents(
            d, mode="officeAction", n_partitions=n_partitions, salt_buckets=salt_buckets
        )

    layouts = [
        timed("coarse_4part", df, nested(4)),
        timed("fine_128part", df, nested(CPUS * 4)),
        timed("salted_128part", df, nested(CPUS * 4, salt_buckets=16)),
        timed("exploded", df, lambda d: convert_documents_exploded(d, "officeAction")),
        timed(
            "auto",
            df,
            lambda d: convert_documents_auto(d, "officeAction", n_partitions=CPUS * 4),
        ),
    ]
    layouts_uniform = [
        timed("u_salted_128part", df_u, nested(CPUS * 4, salt_buckets=16)),
        timed("u_exploded", df_u, lambda d: convert_documents_exploded(d, "officeAction")),
        timed(
            "u_auto",
            df_u,
            lambda d: convert_documents_auto(d, "officeAction", n_partitions=CPUS * 4),
        ),
    ]

    # boundary-rich corpus: ONE ~6 MB megadoc whose spans interleave
    # media every ~10 text spans and which holds most of the corpus
    # work — the regime the exploded strategy exists for (an
    # unsplittable multi-second ROW under nested conversion, but 4000
    # independent runs once exploded).  A 10x-smaller first cut showed
    # the trap: a 600 KB megadoc converts in under a second, so fixed
    # job overhead swamped the straggler and salted-nested "won" a
    # corpus that was never actually skewed in wall-clock terms.
    import random as _random

    _rng = _random.Random(123)
    bspans, boff = [], 0
    for i in range(40000):
        bspans.append(
            {"kind": "text", "text": make_document_text(_rng, 2), "media_ref": "", "offset": boff}
        )
        boff += 1
        if i % 10 == 0:
            bspans.append(
                {"kind": "figure", "text": "", "media_ref": f"media://figure/{i}", "offset": boff}
            )
            boff += 1
    rows_b = make_documents_rows(1000, seed=7, mega_frac=0.0) + [
        {"doc_id": "boundary-mega", "spans": bspans}
    ]
    df_b = spark.createDataFrame(rows_b, schema=DOCUMENTS_SCHEMA).persist()
    df_b.count()
    layouts_boundary = [
        timed("b_salted_128part", df_b, nested(CPUS * 4, salt_buckets=16)),
        timed("b_exploded", df_b, lambda d: convert_documents_exploded(d, "officeAction")),
        timed(
            "b_auto",
            df_b,
            lambda d: convert_documents_auto(d, "officeAction", n_partitions=CPUS * 4),
        ),
    ]

    picks = {
        "mega_tail": pick_convert_strategy(df),
        "uniform": pick_convert_strategy(df_u),
        "boundary_mega": pick_convert_strategy(df_b),
    }
    print("strategy picks:", picks, flush=True)

    def _sec(ls, tag):
        return next(r["sec"] for r in ls if r["layout"] == tag)

    auto_vs_best = {
        "mega_tail": round(
            _sec(layouts, "auto")
            / min(_sec(layouts, "salted_128part"), _sec(layouts, "exploded")),
            3,
        ),
        "uniform": round(
            _sec(layouts_uniform, "u_auto")
            / min(_sec(layouts_uniform, "u_salted_128part"), _sec(layouts_uniform, "u_exploded")),
            3,
        ),
        "boundary_mega": round(
            _sec(layouts_boundary, "b_auto")
            / min(_sec(layouts_boundary, "b_salted_128part"), _sec(layouts_boundary, "b_exploded")),
            3,
        ),
    }

    report = {
        "input": {
            "n_docs": N_DOCS,
            "seed": SEED,
            "mega_tail": True,
            "span_count_p50": span_counts[len(span_counts) // 2],
            "span_count_max": span_counts[-1],
            "mega_share_of_spans": round(
                sum(c for c in span_counts if c > 10 * span_counts[len(span_counts) // 2])
                / sum(span_counts),
                3,
            ),
        },
        "cpus": CPUS,
        "layouts": layouts,
        "layouts_uniform": layouts_uniform,
        "layouts_boundary": layouts_boundary,
        "strategy_picks": picks,
        "auto_vs_best": auto_vs_best,
        "note": (
            "a row is the minimum schedulable unit; the fine/salted layouts bound "
            "the straggler to max single-doc cost, the coarse layout serializes "
            "whole megadoc groups behind single tasks; 'auto' measures the "
            "straggler-cost-model strategy pick (includes its stats job) vs the "
            "better hand-picked strategy on each corpus — on the mega-tail and "
            "uniform corpora max_doc*cores/total < 3 so auto stays nested+salt; "
            "post-r5 (array-native run assembly + explicit fan-out repartition) "
            "salted nested still wins the mega tail while the uniform corpus is "
            "a wash between the strategies. boundary_mega (one media-interleaved "
            "megadoc holding most of the corpus work — an unsplittable ROW under "
            "nested conversion, ~4000 independent runs once exploded) is the "
            "exploded strategy's design regime: auto picks exploded there and "
            "per-run fan-out beats the salted layout's single-task straggler "
            "bound"
        ),
    }
    with open(os.path.join(REPO, "BENCH_SKEW.json"), "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
