"""The Spark conversion job (SURVEY.md §3.4).

Physical plan (one shuffle max):
    Scan(parquet, spans column only)
      -> [Exchange(round-robin, defaultParallelism)]   # parallelism floor
      -> MapInPandas(fused mode pipeline, Arrow batches)
      -> Write(parquet, bucketed by doc_id hash) + per-bucket manifests

The parallelism floor (:func:`parallelism_floor`) sits on the raw input
scan, where counting partitions only plans the scan.  Building the
conversion itself (:func:`convert_documents`) runs no Spark job: its
Python stage inherits the partitioning of whatever plan feeds it.

Span semantics (FIXTURES.md §1 / BASELINE north_rule):
- a document's text = '\\n'.join(kind='text' span texts, ordered by offset);
- media spans (figure/table) are HARD segment boundaries: each maximal run
  of text spans between media spans is converted as one unit; media spans
  pass through bit-identical, order preserved;
- for documents with no media spans this reduces exactly to the reference's
  whole-document conversion, so span-sequence equality with the reference
  fixture corpus holds by construction;
- output offsets are re-densified 0..n-1 in document order (the per-row
  invariant is (kind, text, media_ref, order)).

Resumability (north_rule): each bucket is written by dynamic partition
overwrite, then its manifest JSON (doc/span/finding counts plus the run's
lineage: mode, n_buckets and input path(s)) is renamed into place.  A
restart skips buckets that have a manifest and refuses to resume when any
manifest's lineage differs from the call's; file contents are not
fingerprinted.  A bucket without a manifest is re-run and its data
replaced, so re-running a bucket never duplicates rows.
"""

from __future__ import annotations

import argparse
import json
import os
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..functions import typo
from ..operators.dedup import stage_barrier
from ..sources.documents import FINDING_TYPE, SPANS_OUT_SCHEMA, doc_bucket
from .registry import MODES, mode_fn

# Arrow batch sizing: document rows are large (KB-MB); keep batches small
# enough that a batch of megadocs fits executor memory (SURVEY.md §4.2).
ARROW_MAX_RECORDS = 256


def get_spark(
    app_name: str = "patent-decision-extraction",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    import os as _os

    cpus = _os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan — partition coalescing and skew-join
        # splitting are the first line of defense against data skew at
        # corpus scale (the salted repartition handles the rest)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # spill-awareness: cap scan split size so a partition of fat
        # document rows fits executor memory at the target SF
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # document rows are KB-MB; small Arrow batches bound the python
        # worker's peak memory when megadocs cluster in a batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.driver.memory", _os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return b.getOrCreate()


def _run_kernel(mode: str) -> Callable[[str], tuple[str, list[dict]]]:
    """One text run -> (converted text, typo findings) for a mode.

    Runs on executors: the fused pipeline callable and the trie/regex
    constants are module-level (built once per Python worker, not per batch).
    """
    fn = mode_fn(mode)
    if mode in ("paragraph", "html"):
        return lambda text: (fn(text), [])
    fields = FINDING_TYPE.fieldNames()

    def convert(text: str) -> tuple[str, list[dict]]:
        res = typo.check(text)
        found = [{k: it[k] for k in fields} for it in res["items"]] if res["hasError"] else []
        return fn(text), found

    return convert


def _convert_rows(mode: str):
    """Build the mapInPandas function for a mode: one row = one document."""
    convert = _run_kernel(mode)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            col_doc_id, col_spans, col_findings = [], [], []
            col_n_in, col_n_out = [], []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                spans = sorted(spans, key=lambda s: s["offset"])
                n_in = len(spans)

                out_spans: list[dict] = []
                findings: list[dict] = []
                run_texts: list[str] = []

                def flush_run():
                    if not run_texts:
                        return
                    converted, found = convert("\n".join(run_texts))
                    findings.extend(found)
                    out_spans.append(
                        {"kind": "text", "text": converted, "media_ref": "", "offset": -1}
                    )
                    run_texts.clear()

                for s in spans:
                    if s["kind"] == "text":
                        run_texts.append(s["text"])
                    else:
                        flush_run()
                        out_spans.append(
                            {
                                "kind": s["kind"],
                                "text": s["text"],
                                "media_ref": s["media_ref"],
                                "offset": -1,
                            }
                        )
                flush_run()

                for i, s in enumerate(out_spans):
                    s["offset"] = i

                col_doc_id.append(doc_id)
                col_spans.append(out_spans)
                col_findings.append(findings)
                col_n_in.append(n_in)
                col_n_out.append(len(out_spans))
            yield pd.DataFrame(
                {
                    "doc_id": col_doc_id,
                    "mode": [mode] * len(col_doc_id),
                    "spans": col_spans,
                    "findings": col_findings,
                    "n_spans_in": col_n_in,
                    "n_spans_out": col_n_out,
                }
            )

    return run


def convert_documents(
    df: DataFrame,
    mode: str = "officeAction",
    n_partitions: int | None = None,
    salt_buckets: int = 0,
) -> DataFrame:
    """documents(doc_id, spans) -> spans_out DataFrame.

    Purely lazy: building the conversion runs no Spark job.  With
    ``n_partitions`` set, one repartition by doc_id hash (optionally
    salted — `salt_buckets` > 0 spreads hot hash ranges; doc granularity
    is preserved since the UDF is per-row, the salt only balances
    partitions).  Without it the Python stage inherits the input's
    partitioning shuffle-free; a single-split input gets its parallelism
    floor where it is read (:func:`parallelism_floor`), not here, since
    counting the partitions of a plan with a shuffle runs every stage
    before it.
    """
    if mode not in MODES:
        raise KeyError(f"unknown mode {mode!r}")
    sdf = df.select("doc_id", "spans")
    if n_partitions:
        key = F.xxhash64("doc_id")
        if salt_buckets:
            key = key + F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(salt_buckets))
        sdf = sdf.repartition(n_partitions, key)
    return sdf.mapInPandas(_convert_rows(mode), schema=SPANS_OUT_SCHEMA)


def _convert_runs(mode: str):
    """mapInPandas fn for the exploded strategy: one row = one text RUN."""
    convert = _run_kernel(mode)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            results = [convert(text) for text in pdf["run_text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ord_key": pdf["ord_key"],
                    "text": [text for text, _ in results],
                    "findings": [found for _, found in results],
                }
            )

    return run


_RUNS_OUT_SCHEMA = StructType(
    [
        SPANS_OUT_SCHEMA["doc_id"],
        StructField("ord_key", IntegerType(), False),
        StructField("text", StringType(), False),
        SPANS_OUT_SCHEMA["findings"],
    ]
)


def _assemble_runs(df: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> one row per text RUN:
    ``(doc_id, ord_key:int, run_text)``, hash-repartitioned on
    ``(doc_id, ord_key)`` so one doc's runs spread across tasks.

    Run assembly is ARRAY-NATIVE: staged array expressions (one
    offset-sorted span array → run start/last indices = consecutive-text
    boundaries → contiguous slices, O(n·log n) total regardless of how
    many media boundaries interleave) build the per-doc runs array
    before any explode — no Window, no groupBy.  The r5 plan
    audit showed the old
    explode → window(run_id) → groupBy(doc_id, run_id) shape never
    actually fanned out: the groupBy reused the window's hash(doc_id)
    exchange (doc_id ⊆ grouping keys satisfies the clustered
    distribution), so EVERY run of a megadoc stayed in one partition
    through the Python stage.  Here the only pre-Python exchange is an
    explicit repartition on (doc_id, ord_key) — true per-run fan-out —
    and the window sort plus both two-level collect_list aggregations
    are gone.  The staged runs array is wrapped in
    :func:`~..operators.dedup.stage_barrier` so
    ``InferFiltersFromGenerate``'s implicit ``size(_runs) > 0`` filter
    cannot be predicate-pushed below the staging projection (which would
    re-inline — and re-evaluate — the whole assembly inside the Filter
    node; see PLANS.md "Round-5 plan audit").

    Dirty-data alignment with the nested strategy: a NULL-kind span is
    a run boundary plus a passthrough row — the nested per-row loop
    sends anything ``kind != 'text'`` (including NULL) down the media
    branch, whereas the pre-r5 window shape silently dropped null-kind
    spans (its ``kind != 'text'`` predicates are NULL-valued there).
    The offset sort is stable (comparator ``array_sort`` = TimSort on
    an Object[]), so tied offsets group into runs in array order like
    Python's ``sorted(spans, key=offset)``; note the downstream
    re-stitch still orders its output rows by (ord_key, ...), so docs
    with DUPLICATE offsets remain outside the exploded≡nested contract
    (input_hint: offset is the span's position — unique per doc).
    """

    def cmp(a: Column, b: Column) -> Column:
        # offset only, ties -> 0: Spark's comparator array_sort is
        # TimSort on an Object[] (STABLE), so tied offsets keep array
        # order — byte-for-byte the semantics of the nested strategy's
        # Python `sorted(spans, key=offset)`
        return F.when(a["offset"] < b["offset"], -1).when(a["offset"] > b["offset"], 1).otherwise(0)

    empty_runs = F.array().cast("array<struct<ord_key:int,run_text:string>>")

    # p0: ONE offset-sorted span array, staged per doc.  ALL spans stay
    # — a NULL-kind span is a run BOUNDARY and a passthrough row, same
    # as any media kind, because the nested strategy's per-row loop
    # sends anything `kind != 'text'` (including NULL) down the media
    # branch; the pre-r5 window shape silently DROPPED null-kind spans
    # (`kind != 'text'` is NULL-valued in both its filters), diverging
    # from nested on dirty data.
    # Every stage below is barriered: the staged arrays are read inside
    # per-element lambdas further down, so a CollapseProject inline
    # would re-evaluate them once per ELEMENT (the interpreted-HOF
    # O(n²) pitfall — a megadoc's 11k-span array re-scanned 11k times).
    # Two rejected drafts, both measured on megadocs: an
    # aggregate-accumulator scan (appending to the accumulator array
    # copies it per element — O(run_len²), 2× slower than the window it
    # replaced) and a per-text-span media-offset count (O(n·m) — fine
    # for a handful of figures, quadratic on boundary-rich docs whose
    # media interleave every few spans).  The boundary-index form below
    # is O(n·log n) in the span count, full stop.
    p0 = df.select(
        "doc_id",
        stage_barrier(F.array_sort(F.col("spans"), cmp)).alias("_sorted"),
    )

    def text_at(i: Column) -> Column:
        # out-of-bounds F.get returns NULL -> eqNullSafe -> False, so the
        # i=0 / i=n-1 edges need no special casing
        return F.get("_sorted", i)["kind"].eqNullSafe(F.lit("text"))

    # p1: a run is a maximal stretch of consecutive text elements in the
    # sorted array (anything between two texts of one run is itself a
    # text by construction).  Start indices: text whose predecessor is
    # not text; last indices: text whose successor is not text.  O(n).
    n_all = F.size("_sorted")
    seq = F.when(n_all > 0, F.sequence(F.lit(0), n_all - 1)).otherwise(
        F.array().cast("array<int>")
    )
    p1 = p0.select(
        "doc_id",
        "_sorted",
        stage_barrier(F.filter(seq, lambda i: text_at(i) & ~text_at(i - 1))).alias("_starts"),
        stage_barrier(F.filter(seq, lambda i: text_at(i) & ~text_at(i + 1))).alias("_lasts"),
    )
    # p2: zip starts with lasts (every run has exactly one of each) and
    # slice — each text element lands in exactly one run, O(n) total.
    runs_arr = F.zip_with(
        "_starts",
        "_lasts",
        lambda a, b: F.struct(
            F.get("_sorted", a)["offset"].cast("int").alias("ord_key"),
            F.array_join(
                F.transform(F.slice("_sorted", a + 1, b - a + 1), lambda t: t["text"]),
                "\n",
            ).alias("run_text"),
        ),
    )
    staged = p1.select(
        "doc_id",
        stage_barrier(F.coalesce(runs_arr, empty_runs)).alias("_runs"),
    )
    # EXPLICIT partition count: a column-only repartition is
    # REPARTITION_BY_COL, which AQE freely coalesces by BYTES — and the
    # skew this path defuses is CPU skew (a megadoc's runs are a few MB
    # of shuffle but minutes of convert CPU), so byte-coalescing would
    # quietly fold the fan-out back into one task.  An explicit count is
    # REPARTITION_BY_NUM, which AQE never coalesces.
    spark = df.sparkSession
    n_parts = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return (
        staged.select("doc_id", F.explode("_runs").alias("r"))
        .select(
            "doc_id",
            F.col("r.ord_key").alias("ord_key"),
            F.col("r.run_text").alias("run_text"),
        )
        .repartition(n_parts, "doc_id", "ord_key")
    )


def convert_documents_exploded(df: DataFrame, mode: str = "officeAction") -> DataFrame:
    """Exploded-strategy twin of :func:`convert_documents` — IDENTICAL
    output (north_star shape: per-run fan-out, ordered re-stitch).

    Text runs between media spans are independent conversion units by
    construction, so here each run becomes its OWN row before the Python
    stage: a megadoc whose spans interleave media is processed by many
    tasks in parallel instead of one straggler task.  Use for skewed
    corpora where the megadoc tail dominates; the nested strategy wins
    on uniform corpora.

    Plan (r5 rewrite, see :func:`_assemble_runs`): array-native run
    assembly → explode runs → repartition(doc_id, ord_key) →
    MapInPandas(convert) → union media rows → groupBy(doc_id) ordered
    re-stitch.  Two shuffles total: the fan-out repartition of assembled
    run text and the re-stitch aggregation of converted text — the same
    exchange count as the old window-based shape, which shipped the same
    text bytes but never spread a doc's runs beyond one partition.

    Assumes ``doc_id`` is a key (input_hint: unique) — duplicate ids
    would be merged by the re-stitch groupBy, whereas the nested
    strategy is per-row.
    """
    if mode not in MODES:
        raise KeyError(f"unknown mode {mode!r}")
    converted = _assemble_runs(df).mapInPandas(_convert_runs(mode), schema=_RUNS_OUT_SCHEMA)
    converted = converted.select(
        "doc_id",
        "ord_key",
        F.lit("text").alias("kind"),
        "text",
        F.lit("").alias("media_ref"),
        "findings",
    )
    # anything not kind='text' — INCLUDING null kind — passes through as
    # a media row, matching the nested loop's else-branch exactly
    media = df.select(
        "doc_id",
        F.explode(
            F.filter(F.col("spans"), lambda s: ~s["kind"].eqNullSafe(F.lit("text")))
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.offset").alias("ord_key"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.array().cast(SPANS_OUT_SCHEMA["findings"].dataType).alias("findings"),
    )
    stitched = (
        converted.unionByName(media)
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ord_key", "kind", "text", "media_ref", "findings"))
            ).alias("_ordered")
        )
        .select(
            "doc_id",
            F.lit(mode).alias("mode"),
            F.transform(
                F.col("_ordered"),
                lambda s, i: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
            F.flatten(F.transform(F.col("_ordered"), lambda s: s["findings"])).alias("findings"),
            F.size(F.col("_ordered")).alias("n_spans_out"),
        )
    )
    # LEFT join from the input's doc_id universe: a doc with an empty
    # spans array yields no exploded rows (and so no stitched row) but
    # must still appear in the output — with empty spans/findings — to
    # keep the IDENTICAL-output contract with the nested strategy.
    n_in = df.select("doc_id", F.size("spans").alias("n_spans_in"))
    empty_spans = F.array().cast(SPANS_OUT_SCHEMA["spans"].dataType)
    empty_findings = F.array().cast(SPANS_OUT_SCHEMA["findings"].dataType)
    return n_in.join(stitched, "doc_id", "left").select(
        "doc_id",
        F.coalesce("mode", F.lit(mode)).alias("mode"),
        F.coalesce("spans", empty_spans).alias("spans"),
        F.coalesce("findings", empty_findings).alias("findings"),
        F.col("n_spans_in").cast("int").alias("n_spans_in"),
        F.coalesce(F.col("n_spans_out"), F.lit(0)).cast("int").alias("n_spans_out"),
    )


def pick_convert_strategy(
    df: DataFrame, straggler_factor: int = 3, min_runs: int = 32
) -> str:
    """Choose nested vs exploded conversion from cheap corpus stats.

    Cost model (validated by tools/bench_skew.py): with salted fine
    partitioning the nested strategy's wall-clock is
    ``max(max_doc_cost, total_cost / cores)`` — a megadoc is one
    unsplittable task.  The exploded strategy removes the straggler term
    (runs are the schedulable unit) but pays ~2 extra full-data shuffles
    (run assembly + re-stitch).  So exploding is only worth it when one
    document exceeds a core's fair share by enough to cover that
    overhead:

        exploded  iff  max(n_spans) >= min_runs                (fan-out exists)
                   and max(n_spans) * cores >= straggler_factor * total_spans

    Span counts proxy per-doc cost (runs are the parallelism grain — a
    giant doc with FEW spans is one run either way and nested+salt is
    the best anyone can do).  One sum+max aggregation over the spans
    sizes (a single small job); at warehouse scale the same two numbers
    come free from table statistics / write manifests.  The
    bench_skew mega-tail corpus sits at ``max*cores/total ≈ 1.6`` and
    measures nested-salted FASTER than exploded (4.4s vs 7.5s), so the
    threshold of 3 correctly keeps it nested; exploded wins once a
    single doc is ≥3 fair shares (the 100 TB scenario: one 10^6-span
    interleaved megadoc that would otherwise pin a task for hours).
    """
    r = (
        df.select(F.size("spans").alias("n"))
        .agg(F.sum("n").alias("total"), F.max("n").alias("mx"))
        .head()
    )
    total, mx = (r["total"] or 0), (r["mx"] or 0)
    cores = df.sparkSession.sparkContext.defaultParallelism
    if mx >= min_runs and mx * cores >= straggler_factor * max(total, 1):
        return "exploded"
    return "nested"


def convert_documents_auto(
    df: DataFrame,
    mode: str = "officeAction",
    n_partitions: int | None = None,
    salt_buckets: int = 16,
    straggler_factor: int = 3,
    min_runs: int = 32,
) -> DataFrame:
    """Strategy-adaptive conversion: measure span-count skew once, then
    run the nested (one mapInPandas, zero/one exchange) or exploded
    (per-run fan-out + window re-stitch) strategy — both produce
    IDENTICAL output (pinned by the convert_interleaved_* oracle twins),
    so the choice is purely physical.  Callers that know their corpus
    call the specific strategy; this is the right default for unknown
    corpora (tools/bench_skew.py measures auto within noise of the
    better hand-picked strategy on both uniform and mega-tail corpora).
    """
    if pick_convert_strategy(df, straggler_factor, min_runs) == "exploded":
        return convert_documents_exploded(df, mode)
    return convert_documents(
        df, mode, n_partitions=n_partitions, salt_buckets=salt_buckets if n_partitions else 0
    )


def quarantine_split(out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Job-level gate replacing the reference's abort-on-typo modal
    (app.js:486-494): clean rows vs rows with findings."""
    clean = out.filter(F.size("findings") == 0)
    quarantined = out.filter(F.size("findings") > 0)
    return clean, quarantined


# ---------------------------------------------------------------------------
# Checkpointed, resumable write (north_rule: per-partition lineage + metrics)
# ---------------------------------------------------------------------------

def _manifest_path(output_path: str, bucket: int) -> str:
    return os.path.join(output_path, "_manifests", f"bucket={bucket}.json")


def completed_buckets(output_path: str, lineage: dict | None = None) -> set[int]:
    """Bucket ids that have a manifest under ``output_path``.

    With ``lineage`` (the manifest fields naming a run: mode, n_buckets
    and input path(s)), raise ValueError when any manifest holds other
    values: resuming would mix the outputs of two different runs.
    """
    mdir = os.path.join(output_path, "_manifests")
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for f in os.listdir(mdir):
        if not (f.startswith("bucket=") and f.endswith(".json")):
            continue
        if lineage:
            with open(os.path.join(mdir, f)) as fh:
                manifest = json.load(fh)
            theirs = {k: manifest.get(k) for k in lineage}
            if theirs != lineage:
                raise ValueError(
                    f"{output_path} holds manifest {f} of another run ({theirs}, "
                    f"this run is {lineage}); refusing to resume. Use a new "
                    "output path."
                )
        done.add(int(f[len("bucket="):-len(".json")]))
    return done


def parallelism_floor(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to defaultParallelism when its plan yields fewer
    partitions than half the cluster's cores; otherwise return it as is.

    A small single-file input is one scan split, so every downstream
    stage would run as ONE task on one core.  Apply the floor to a raw
    scan: there counting partitions only plans the scan, while on a plan
    with a shuffle it runs every stage before it.  With enough splits
    (the 100 TB case — thousands of row groups) this is a no-op and
    scan-level pushdown and pruning are untouched.  File-split configs
    (``spark.sql.files.minPartitionNum``) cannot substitute: ranged
    splits of a single-row-group parquet still land every row in one
    task.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, target // 2):
        return df.repartition(target)
    return df


def distinct_buckets_validated(
    df: DataFrame, n_buckets: int, validate: bool, what: str = "input"
) -> list[int]:
    """Collect the distinct bucket ids; with ``validate``, fail fast when a
    pre-existing ``bucket`` column disagrees with this job's ``n_buckets``
    or holds NULL.

    The jobs always RECOMPUTE output buckets / manifests with
    :func:`~..sources.documents.doc_bucket` but prune resumed input on the
    layout's pre-existing bucket column — a layout written with a
    different ``n_buckets`` would silently skip or re-run the wrong docs
    on resume.  The check rides the same column-pruned scan that already
    collects the distinct ids (map-side partial agg to ≤ n_buckets rows;
    at 100 TB it adds only the doc_id column to the scan), so a loud
    mismatch costs no extra pass.
    """
    if not validate:
        return [r["bucket"] for r in df.select("bucket").distinct().collect()]
    bad_row = ~F.col("bucket").eqNullSafe(doc_bucket(n_buckets))
    rows = df.groupBy("bucket").agg(F.max(bad_row.cast("int")).alias("_bad")).collect()
    bad = sorted((r["bucket"] for r in rows if r["_bad"]), key=str)
    if bad:
        raise ValueError(
            f"{what} layout's pre-existing bucket column disagrees with "
            f"n_buckets={n_buckets} for bucket ids {bad[:8]}"
            f"{'...' if len(bad) > 8 else ''}: the layout was written with "
            "a different bucket count or holds NULL buckets. Re-run with the "
            "layout's n_buckets, or drop the bucket column to recompute."
        )
    return [r["bucket"] for r in rows]


def pending_buckets(
    df: DataFrame, n_buckets: int, done: set[int], what: str = "input"
) -> tuple[DataFrame, list[int]]:
    """Attach the bucket column (or validate a pre-existing one) and prune
    the ``done`` buckets; returns (pruned df under its
    :func:`parallelism_floor`, its distinct bucket ids).

    On a bucket-partitioned layout the prune is partition pruning: no
    data of a completed bucket is read.  NULL buckets survive the prune so
    that validation rejects them.
    """
    has_bucket = "bucket" in df.columns
    if not has_bucket:
        df = df.withColumn("bucket", doc_bucket(n_buckets))
    if done:
        df = df.filter(F.col("bucket").isNull() | ~F.col("bucket").isin(sorted(done)))
    buckets = distinct_buckets_validated(df, n_buckets, validate=has_bucket, what=what)
    return parallelism_floor(df), buckets


def commit_buckets(
    out: DataFrame,
    output_path: str,
    n_buckets: int,
    buckets: list[int],
    lineage: dict,
    extra_aggs: dict[str, Column] | None = None,
) -> dict:
    """Write ``out`` (spans_out rows) bucketed by doc_id hash, then one
    manifest per bucket; returns ``docs`` plus one total per ``extra_aggs``.

    Dynamic partition overwrite replaces exactly the buckets written, so
    a re-run bucket (manifest lost, run killed mid-write) ends with one
    copy of each doc.  Counts come from the WRITTEN data (a column-pruned
    scan of 4 small columns plus whatever ``extra_aggs`` read) rather than
    a second run of the conversion DAG.  Each manifest carries
    ``lineage`` and is renamed into place, so none is ever half-written.
    """
    data = os.path.join(output_path, "data")
    # bucket is a pure function of doc_id: recompute it instead of joining
    # it back from the input (no shuffle; stays aligned with the input layout)
    (
        out.withColumn("bucket", doc_bucket(n_buckets))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(data)
    )
    extra = extra_aggs or {}
    stats = (
        out.sparkSession.read.parquet(data)
        .filter(F.col("bucket").isin(buckets))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_spans_in").alias("spans_in"),
            F.sum("n_spans_out").alias("spans_out"),
            F.sum(F.size("findings")).alias("findings"),
            *(agg.alias(k) for k, agg in extra.items()),
        )
        .collect()
    )
    os.makedirs(os.path.join(output_path, "_manifests"), exist_ok=True)
    for r in stats:
        path = _manifest_path(output_path, r["bucket"])
        with open(path + ".tmp", "w") as f:
            json.dump({k: int(v) for k, v in r.asDict().items()} | lineage, f)
        os.replace(path + ".tmp", path)
    return {
        "docs": sum(r["doc_count"] for r in stats),
        **{k: sum(int(r[k]) for r in stats) for k in extra},
    }


def run_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    mode: str = "officeAction",
    n_buckets: int = 32,
    resume: bool = True,
) -> dict:
    """spark-submit entry: read -> convert -> bucketed write with manifests.

    Resumable (see the module docstring): buckets with a manifest are
    pruned from the INPUT scan and their outputs are left untouched.
    """
    lineage = {"mode": mode, "n_buckets": n_buckets, "input_path": input_path}
    done = completed_buckets(output_path, lineage) if resume else set()
    df, buckets = pending_buckets(spark.read.parquet(input_path), n_buckets, done)
    metrics = {"mode": mode, "buckets_done": len(done), "buckets_run": len(buckets)}
    if buckets:
        out = convert_documents(df.select("doc_id", "spans"), mode)
        metrics |= commit_buckets(out, output_path, n_buckets, buckets, lineage)
    return metrics


def job_arg_parser(description: str) -> argparse.ArgumentParser:
    """The options both job CLIs share; each job adds its input flags."""
    p = argparse.ArgumentParser(description=description)
    p.add_argument("--output", required=True)
    p.add_argument("--mode", default="officeAction", choices=sorted(MODES))
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--master", default=None)
    return p


def main() -> None:
    p = job_arg_parser("Patent-decision document conversion job")
    p.add_argument("--input", required=True)
    args = p.parse_args()

    spark = get_spark(master=args.master)
    m = run_job(
        spark, args.input, args.output, args.mode,
        n_buckets=args.buckets, resume=not args.no_resume,
    )
    print(json.dumps(m))


if __name__ == "__main__":
    main()
