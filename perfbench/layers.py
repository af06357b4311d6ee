"""Per-layer measurements for the traced run.

Each layer is timed from outside, around calls into its public functions;
nothing inside the package is instrumented.  Spans are kept in memory by
:class:`Tracer` and written out once, at the end of the run.

Layers, named after the modules they time:

* ``sources``  - scan of the input tables, forced with a checksum;
* ``registry`` - L0: the workload's text runs replayed single-threaded
  through ``widths.to_half_width``, every registry step of the mode in
  order, and ``typo.check``;
* ``job``      - L1: an identity ``mapInPandas`` on the plan that feeds the
  conversion's Python stage, against ``convert_documents`` itself;
* ``plan``     - L2: L0 core-seconds against the cores, the costliest doc
  and the costliest Python-stage partition;
* ``commit``   - L3: one whole job call, bucketed write and manifests;
* ``extract``  - ``extract_main_content`` per format and ``extract_and_enrich``.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from patent_decision_document_converter_spark.functions import typo, widths
from patent_decision_document_converter_spark.operators.extract import extract_main_content
from patent_decision_document_converter_spark.plans.extract_job import extract_and_enrich
from patent_decision_document_converter_spark.plans.job import convert_documents
from patent_decision_document_converter_spark.plans.registry import MODES, REGISTRY
from patent_decision_document_converter_spark.sources.documents import SPANS_OUT_SCHEMA

from . import oracle
from .workloads import WORKLOADS

FORMATS = ("pdf", "html", "txt")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and the run's trace id."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "trace_id": self.trace_id,
            "parent": self._open[-1] if self._open else None,
            "name": name,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it its child spans cover
        (children of one span run one after another, never overlapping)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return {s["name"]: s["end"] - s["start"] - child_s[s["id"]] for s in self.spans}


# ---------------------------------------------------------------------------
# L0: registry replay
# ---------------------------------------------------------------------------


def step_keys(mode: str) -> list[tuple[str, str]]:
    """(chain, step) for the mode's pre-step and every enabled registry step."""
    return [("pre", "to_half_width")] + [
        (chain, st.name) for chain in MODES[mode] for st in REGISTRY.get(chain) if st.enabled
    ]


def step_metric(chain: str, step: str) -> str:
    """``<chain>.<step>.core_s``: the registry chains name the layer, and a
    ``registry.`` prefix would take the longest step names past 64 letters."""
    return f"{chain}.{step}.core_s"


class StepReplay:
    """``registry.mode_fn(mode)`` unrolled, timing every step on its own.

    Same fold and the same fail-safe: if any registry step raises, the run
    falls back to its unconverted input, and ``fallbacks`` counts it."""

    def __init__(self, mode: str):
        self.steps = [
            ((chain, st.name), st.fn, st.args)
            for chain in MODES[mode]
            for st in REGISTRY.get(chain)
            if st.enabled
        ]
        self.core_s: dict[tuple[str, str], float] = defaultdict(float)
        self.fallbacks = 0

    def __call__(self, text: str) -> str:
        clock = time.perf_counter
        t0 = clock()
        current = widths.to_half_width("" if text is None else str(text))
        t1 = clock()
        self.core_s[("pre", "to_half_width")] += t1 - t0
        for key, fn, args in self.steps:
            try:
                current = str(fn(current, *args))
            except Exception:
                self.core_s[key] += clock() - t1
                self.fallbacks += 1
                return "" if text is None else str(text)
            t2 = clock()
            self.core_s[key] += t2 - t1
            t1 = t2
        return current


class TimedCheck:
    def __init__(self):
        self.core_s = 0.0

    def __call__(self, text: str) -> dict:
        t0 = time.perf_counter()
        try:
            return typo.check(text)
        finally:
            self.core_s += time.perf_counter() - t0


def replay_l0(docs: list[dict], mode: str, expected: dict[str, str]) -> dict:
    """Replay every doc single-threaded; per-step and per-doc core seconds.
    ``mismatches`` counts docs whose unrolled replay differs from the
    oracle's ``mode_fn`` replay (it should be 0: the unrolling is faithful)."""
    convert = StepReplay(mode)
    check = None if mode in oracle.NO_FINDINGS_MODES else TimedCheck()
    doc_s: dict[str, float] = {}
    mismatches = 0
    for d in docs:
        t0 = time.perf_counter()
        out = oracle.replay_doc(d["spans"], convert, check)
        doc_s[d["doc_id"]] = time.perf_counter() - t0
        mismatches += oracle.digest(*out) != expected[d["doc_id"]]
    return {
        "steps": dict(convert.core_s),
        "typo_s": check.core_s if check else None,
        "fallbacks": convert.fallbacks,
        "doc_s": doc_s,
        "mismatches": mismatches,
    }


# ---------------------------------------------------------------------------
# L1 / L2: the conversion's Python stage
# ---------------------------------------------------------------------------


def checksum(df: DataFrame) -> int:
    """Force every output span through serialisation; returns the checksum."""
    return df.select(F.sum(F.crc32(F.to_json("spans")))).head()[0]


def python_stage_input(converted: DataFrame) -> DataFrame:
    """The plan that feeds ``converted``'s mapInPandas, as a DataFrame of
    its own - whatever partitioning ``convert_documents`` chose included."""
    spark = converted.sparkSession
    node = converted._jdf.logicalPlan()
    while node.nodeName() != "MapInPandas":
        node = node.child()
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, node.child()
    )
    return DataFrame(jdf, spark)


def identity_stage(pre: DataFrame, mode: str, batches) -> DataFrame:
    """mapInPandas with the conversion's output schema and no work per row."""

    def run(it):
        import pandas as pd

        for pdf in it:
            batches.add(1)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mode": [mode] * n,
                    "spans": pdf["spans"],
                    "findings": [[]] * n,
                    "n_spans_in": [0] * n,
                    "n_spans_out": [0] * n,
                }
            )

    return pre.mapInPandas(run, schema=SPANS_OUT_SCHEMA)


def doc_partitions(pre: DataFrame) -> dict[str, int]:
    """doc_id -> index of the Python-stage partition that carries it."""
    rows = pre.select("doc_id", F.spark_partition_id().alias("pid")).collect()
    return {r["doc_id"]: r["pid"] for r in rows}


def partition_floor_s(doc_s: dict[str, float], doc_pid: dict[str, int]) -> float:
    """The largest summed L0 cost of one partition: no schedule can finish
    the stage sooner, since a partition runs on one core."""
    per_part: dict[int, float] = defaultdict(float)
    for doc_id, pid in doc_pid.items():
        per_part[pid] += doc_s[doc_id]
    return max(per_part.values(), default=0.0)


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def per_layer_metrics() -> list[dict]:
    """Every per-layer metric the traced run emits, with unit and direction."""

    def m(name: str, unit: str, better: str = "lower") -> dict:
        return {"name": name, "unit": unit, "better": better}

    steps = []
    for mode in dict.fromkeys(w.mode for w in WORKLOADS.values()):
        for chain, step in step_keys(mode):
            name = step_metric(chain, step)
            if name not in steps:
                steps.append(name)
    return [
        m("sources.scan_s", "s"),
        m("sources.input_mb", "MB"),
        *(m(s, "s") for s in steps),
        m("typo.check.core_s", "s"),
        m("registry.core_s", "s"),
        m("registry.docs_per_s_1t", "docs/s", "higher"),
        m("registry.max_doc_s", "s"),
        m("registry.fallbacks", "count"),
        m("job.boundary_s", "s"),
        m("job.convert_s", "s"),
        m("job.boundary_share", "ratio"),
        m("job.arrow_batches", "count"),
        m("plan.partitions", "count", "higher"),
        m("plan.core_s", "s"),
        m("plan.ideal_s", "s"),
        m("plan.doc_floor_s", "s"),
        m("plan.partition_floor_s", "s"),
        m("plan.efficiency", "ratio", "higher"),
        m("plan.unexplained_s", "s"),
        m("commit.job_s", "s"),
        m("commit.write_s", "s"),
        m("commit.files", "count"),
        m("commit.out_mb", "MB"),
        m("commit.manifests", "count"),
        *(m(f"extract.{fmt}_s", "s") for fmt in FORMATS),
        m("extract.enrich_s", "s"),
        m("extract.yield", "ratio", "higher"),
        *(m(f"extract.{fmt}_errors", "count") for fmt in FORMATS),
        m("trace.overhead_s", "s"),
    ]


def traced_run(
    spark: SparkSession,
    wl,
    inputs,
    run_job,
    untraced_job_s: float,
    cores: int,
    work: str,
    tracer: Tracer,
) -> tuple[dict, int]:
    """Every layer call once; returns (per-layer metrics, failed docs of
    the traced job).  ``run_job(out_path)`` runs the workload's job.  Only
    the layers the workload runs are in the metrics: no registry steps of
    another mode, and no ``extract.*`` without a media table."""
    out: dict[str, float] = {}
    docs_df = spark.read.parquet(inputs.docs_path).select("doc_id", "spans")
    media_df = spark.read.parquet(inputs.media_path) if inputs.media_path else None

    with tracer.span("sources.scan") as sp:
        checksum(docs_df)
        if media_df is not None:
            media_df.select(F.sum(F.crc32("payload"))).head()
    out["sources.scan_s"] = sp["end"] - sp["start"]
    out["sources.input_mb"] = inputs.input_bytes() / 1e6

    docs = oracle.job_inputs(oracle.read_docs(inputs.docs_path), inputs.media_text)
    with tracer.span("registry.replay", docs=len(docs)):
        l0 = replay_l0(docs, wl.mode, inputs.expected)
    for (chain, step), s in l0["steps"].items():
        out[step_metric(chain, step)] = s
    core_s = sum(l0["doc_s"].values())
    if l0["typo_s"] is not None:
        out["typo.check.core_s"] = l0["typo_s"]
    out["registry.core_s"] = core_s
    out["registry.docs_per_s_1t"] = len(docs) / core_s
    out["registry.max_doc_s"] = max(l0["doc_s"].values())
    out["registry.fallbacks"] = l0["fallbacks"]

    source = extract_and_enrich(docs_df, media_df) if media_df is not None else docs_df
    converted = convert_documents(source, wl.mode)
    pre = python_stage_input(converted)
    batches = spark.sparkContext.accumulator(0)
    with tracer.span("job.boundary") as sp:
        checksum(identity_stage(pre, wl.mode, batches))
    out["job.boundary_s"] = sp["end"] - sp["start"]
    out["job.arrow_batches"] = batches.value
    with tracer.span("job.convert") as sp:
        checksum(converted)
    convert_s = sp["end"] - sp["start"]
    out["job.convert_s"] = convert_s
    out["job.boundary_share"] = out["job.boundary_s"] / convert_s

    with tracer.span("plan.partition_map"):
        doc_pid = doc_partitions(pre)
    ideal_s = core_s / cores
    floor_s = partition_floor_s(l0["doc_s"], doc_pid)
    out["plan.partitions"] = pre.rdd.getNumPartitions()
    out["plan.core_s"] = core_s
    out["plan.ideal_s"] = ideal_s
    out["plan.doc_floor_s"] = out["registry.max_doc_s"]
    out["plan.partition_floor_s"] = floor_s
    out["plan.efficiency"] = ideal_s / convert_s
    out["plan.unexplained_s"] = convert_s - max(ideal_s, floor_s)

    job_out = os.path.join(work, "traced-job")
    shutil.rmtree(job_out, ignore_errors=True)
    with tracer.span("commit.job") as sp:
        run_job(job_out)
    job_s = sp["end"] - sp["start"]
    out["commit.job_s"] = job_s
    out["commit.write_s"] = job_s - convert_s
    out["commit.files"] = sum(
        1 for _, _, files in os.walk(os.path.join(job_out, "data"))
        for f in files if not f.startswith((".", "_"))
    )
    out["commit.out_mb"] = oracle.data_bytes(os.path.join(job_out, "data")) / 1e6
    out["commit.manifests"] = len(os.listdir(os.path.join(job_out, "_manifests")))
    out["trace.overhead_s"] = job_s - untraced_job_s
    # an unrolled replay that disagrees with the oracle would make every
    # L0 number suspect, so it fails the run like a wrong output does
    failed = oracle.failed_docs(job_out, inputs.expected) + l0["mismatches"]
    shutil.rmtree(job_out, ignore_errors=True)

    if media_df is not None:
        rows, texts = 0, 0
        for fmt in FORMATS:
            part = media_df.filter(F.col("format") == fmt)
            with tracer.span(f"extract.{fmt}") as sp:
                r = extract_main_content(part, permissive_pdf=True).select(
                    F.count("*").alias("rows"),
                    F.count("main_text").alias("texts"),
                    F.count("error").alias("errors"),
                    F.sum(F.crc32(F.coalesce("main_text", F.lit("")))).alias("c"),
                ).head()
            out[f"extract.{fmt}_s"] = sp["end"] - sp["start"]
            out[f"extract.{fmt}_errors"] = r["errors"]
            rows, texts = rows + r["rows"], texts + r["texts"]
        out["extract.yield"] = texts / rows
        with tracer.span("extract.enrich") as sp:
            checksum(extract_and_enrich(docs_df, media_df))
        out["extract.enrich_s"] = sp["end"] - sp["start"]
    return out, failed
