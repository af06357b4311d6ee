"""Spark-job integration tests: span-sequence equality, media pass-through,
permutation invariance, quarantine, resumable checkpointing.

Uses one shared local SparkSession (module scope) — JVM startup dominates.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from patent_decision_document_converter_spark.plans.job import (
    completed_buckets,
    convert_documents,
    get_spark,
    parallelism_floor,
    pending_buckets,
    quarantine_split,
    run_job,
)
from patent_decision_document_converter_spark.plans.registry import convert_text
from patent_decision_document_converter_spark.sources.documents import (
    create_documents_df,
    write_documents,
)
from patent_decision_document_converter_spark.sources.generator import (
    doc_text_from_spans,
    make_documents_rows,
)

from .conftest import read_fixture, spark_jobs_during


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="pytest-engine", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="module")
def docs_rows():
    return make_documents_rows(60, seed=42, mega_frac=0.0)


def test_fixture_docs_match_reference(spark):
    """Fixture documents as single-text-span docs: the converted span text
    must byte-equal the reference golden (the BASELINE equality gate)."""
    from .conftest import FIXTURES, read_golden

    rows = [
        {
            "doc_id": fx,
            "spans": [{"kind": "text", "text": read_fixture(fx), "media_ref": "", "offset": 0}],
        }
        for fx in FIXTURES
    ]
    df = create_documents_df(spark, rows)
    out = {
        r["doc_id"]: r
        for r in convert_documents(df, "officeAction").collect()
    }
    for fx in FIXTURES:
        spans = out[fx]["spans"]
        assert len(spans) == 1
        assert spans[0]["kind"] == "text"
        assert spans[0]["text"] == read_golden(f"{fx}__officeAction")


def test_media_passthrough_and_order(spark, docs_rows):
    df = create_documents_df(spark, docs_rows)
    out = {r["doc_id"]: r for r in convert_documents(df, "pct").collect()}
    for row in docs_rows:
        got = out[row["doc_id"]]["spans"]
        in_media = [
            (s["kind"], s["text"], s["media_ref"])
            for s in sorted(row["spans"], key=lambda s: s["offset"])
            if s["kind"] != "text"
        ]
        got_media = [
            (s["kind"], s["text"], s["media_ref"]) for s in got if s["kind"] != "text"
        ]
        assert got_media == in_media  # bit-identical, in order
        # offsets dense 0..n-1
        assert [s["offset"] for s in got] == list(range(len(got)))


def test_permutation_invariance(spark, docs_rows):
    """Physically permuted span arrays give identical output (offset sort)."""
    import random

    rng = random.Random(0)
    permuted = []
    for r in docs_rows[:20]:
        spans = list(r["spans"])
        rng.shuffle(spans)
        permuted.append({"doc_id": r["doc_id"], "spans": spans})
    df1 = create_documents_df(spark, docs_rows[:20])
    df2 = create_documents_df(spark, permuted)
    o1 = sorted(convert_documents(df1, "pct").collect(), key=lambda r: r["doc_id"])
    o2 = sorted(convert_documents(df2, "pct").collect(), key=lambda r: r["doc_id"])
    assert [r.asDict(recursive=True) for r in o1] == [r.asDict(recursive=True) for r in o2]


def test_text_run_semantics_no_media_equals_reference(spark):
    """Docs without media: output text == convert_text of the joined text."""
    rows = make_documents_rows(10, seed=7, media_spans=0, mega_frac=0.0)
    rows = [
        {"doc_id": r["doc_id"], "spans": [s for s in r["spans"] if s["kind"] == "text"]}
        for r in rows
    ]
    df = create_documents_df(spark, rows)
    out = {r["doc_id"]: r for r in convert_documents(df, "officeAction").collect()}
    for r in rows:
        expected = convert_text(doc_text_from_spans(r["spans"]), "officeAction")
        got = out[r["doc_id"]]["spans"]
        assert len(got) == 1 and got[0]["text"] == expected


def test_exploded_strategy_equals_nested(spark, docs_rows):
    """convert_documents_exploded must produce IDENTICAL rows to the
    nested strategy — same spans, same findings order — including on
    permuted span arrays and media-interleaved docs."""
    from patent_decision_document_converter_spark.plans.job import (
        convert_documents_exploded,
    )

    mega = [
        {"doc_id": "mega-" + r["doc_id"], "spans": r["spans"]}
        for r in make_documents_rows(6, seed=99, mega_frac=1.0)  # force megadocs
    ]
    # empty / media-only docs: explode yields no text rows — must not drop
    degenerate = [
        {"doc_id": "empty-spans", "spans": []},
        {
            "doc_id": "media-only",
            "spans": [{"kind": "figure", "text": "[図1]", "media_ref": "m:1", "offset": 0}],
        },
    ]
    rows = docs_rows + mega + degenerate
    df = create_documents_df(spark, rows)
    for mode in ("officeAction", "pct", "html"):
        nested = {
            r["doc_id"]: r.asDict(recursive=True)
            for r in convert_documents(df, mode).collect()
        }
        exploded = {
            r["doc_id"]: r.asDict(recursive=True)
            for r in convert_documents_exploded(df, mode).collect()
        }
        assert nested == exploded, mode


def test_exploded_runs_fan_out_and_plan(spark):
    """The exploded strategy must ACTUALLY fan a megadoc's runs across
    partitions — the r5 plan audit found the old explode → window →
    groupBy(doc_id, run_id) shape never did: the groupBy reused the
    window's hash(doc_id) exchange (doc_id ⊆ grouping keys), so every
    run of a doc stayed in ONE partition through the Python stage.
    Guards: (a) one many-boundary megadoc's runs occupy >1 partition at
    the MapInPandas input, via an explicit-count repartition
    (REPARTITION_BY_NUM) that AQE's byte-based coalescing cannot fold
    back into one task (the skew defused here is CPU skew, not bytes);
    (b) no Window in the plan and the fan-out exchange keys on
    (doc_id, ord_key); (c) the run-assembly aggregate is never
    re-inlined into a Filter node (stage_barrier holds — PLANS.md
    round-5 pushdown audit)."""
    import re

    from patent_decision_document_converter_spark.plans.job import (
        _assemble_runs,
        convert_documents_exploded,
    )

    spans = []
    for i in range(200):
        spans.append({"kind": "text", "text": f"line {i}\n本文", "media_ref": "", "offset": 2 * i})
        spans.append({"kind": "figure", "text": "", "media_ref": f"m:{i}", "offset": 2 * i + 1})
    df = create_documents_df(spark, [{"doc_id": "mega", "spans": spans}])

    runs = _assemble_runs(df)
    assert runs.count() == 200
    n_parts = runs.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_parts > 1, "megadoc runs collapsed into one partition"

    plan = (
        convert_documents_exploded(df, "officeAction")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "REPARTITION_BY_NUM" in plan
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+, ord_key#\d+", plan)
    for line in plan.splitlines():
        if "Filter" in line:
            # the assembly's HOF signatures must never re-inline into a
            # Filter (pushdown barrier): zip_with builds the runs,
            # array_sort stages the span order
            assert "zip_with(" not in line, "run assembly re-inlined into a Filter"
            assert "array_sort(" not in line, "span staging re-inlined into a Filter"

    # many-boundary parity: 200 runs + 200 media spans must re-stitch to
    # the identical row the nested strategy produces
    nested = convert_documents(df, "officeAction").collect()[0].asDict(recursive=True)
    exploded = convert_documents_exploded(df, "officeAction").collect()[0].asDict(recursive=True)
    assert nested == exploded


def test_auto_strategy_pick_and_parity(spark, docs_rows):
    """pick_convert_strategy implements the straggler cost model: a doc
    holding >= straggler_factor core-fair-shares of span work goes
    exploded; everything else (uniform AND mild mega tails) stays
    nested+salt, which bench_skew measures faster.  Auto output equals
    the nested strategy either way."""
    from patent_decision_document_converter_spark.plans.job import (
        convert_documents_auto,
        pick_convert_strategy,
    )

    uniform = create_documents_df(spark, docs_rows)   # mega_frac=0.0
    assert pick_convert_strategy(uniform) == "nested"

    # one doc = 900 of 990 total spans; with local[4] that is
    # 900*4/990 ≈ 3.6 fair shares >= factor 3 -> exploded
    def span(i):
        return {"kind": "text", "text": f"span {i} 本文", "media_ref": "", "offset": i}

    dominated = create_documents_df(
        spark,
        [{"doc_id": f"small-{j}", "spans": [span(i) for i in range(10)]} for j in range(9)]
        + [{"doc_id": "monster", "spans": [span(i) for i in range(900)]}],
    )
    assert pick_convert_strategy(dominated) == "exploded"

    for df in (uniform, dominated):
        want = {
            r["doc_id"]: r.asDict(recursive=True)
            for r in convert_documents(df, "pct").collect()
        }
        got = {
            r["doc_id"]: r.asDict(recursive=True)
            for r in convert_documents_auto(df, "pct").collect()
        }
        assert got == want


def test_quarantine_split(spark):
    rows = [
        {"doc_id": "bad", "spans": [{"kind": "text", "text": "これは、、誤記です", "media_ref": "", "offset": 0}]},
        {"doc_id": "good", "spans": [{"kind": "text", "text": "これは正しい文です。", "media_ref": "", "offset": 0}]},
    ]
    df = create_documents_df(spark, rows)
    out = convert_documents(df, "officeAction")
    clean, quarantined = quarantine_split(out)
    assert [r["doc_id"] for r in clean.collect()] == ["good"]
    assert [r["doc_id"] for r in quarantined.collect()] == ["bad"]


def test_run_job_resumable(spark, docs_rows, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("job"))
    inp, outp = os.path.join(base, "in"), os.path.join(base, "out")
    df = create_documents_df(spark, docs_rows)
    write_documents(df, inp, n_buckets=4)

    m1 = run_job(spark, inp, outp, "pct", n_buckets=4)
    assert m1["buckets_run"] > 0 and m1["docs"] == len(docs_rows)
    done = completed_buckets(outp)
    assert len(done) == m1["buckets_run"]

    # resume: nothing left to do
    m2 = run_job(spark, inp, outp, "pct", n_buckets=4)
    assert m2["buckets_run"] == 0 and m2["buckets_done"] == len(done)

    # partial restart: delete one manifest -> exactly that bucket re-runs
    victim = sorted(done)[0]
    os.remove(os.path.join(outp, "_manifests", f"bucket={victim}.json"))
    shutil.rmtree(os.path.join(outp, "data", f"bucket={victim}"))
    m3 = run_job(spark, inp, outp, "pct", n_buckets=4)
    assert m3["buckets_run"] == 1

    # final output complete and correct row count
    total = spark.read.parquet(os.path.join(outp, "data")).count()
    assert total == len(docs_rows)


def test_parallelism_floor_at_scan(spark, docs_rows, tmp_path):
    """A small single-split input (one parquet file on the driver's
    testdata = one scan partition) must NOT run the whole Python
    conversion stage as one task on one core: ``pending_buckets`` hands
    the jobs their input scan under ``parallelism_floor``, which
    round-robins it up to defaultParallelism when it has fewer than half
    that many partitions — and is a no-op when splits already suffice
    (the 100 TB case)."""
    df = create_documents_df(spark, docs_rows)
    target = spark.sparkContext.defaultParallelism
    single, wide = str(tmp_path / "single"), str(tmp_path / "wide")
    df.coalesce(1).write.parquet(single)
    df.repartition(target).write.parquet(wide)

    assert parallelism_floor(df.coalesce(1)).rdd.getNumPartitions() == target
    floored, _ = pending_buckets(spark.read.parquet(single), 4, set())
    assert floored.rdd.getNumPartitions() == target

    # enough input splits -> no repartition is inserted
    scan, _ = pending_buckets(spark.read.parquet(wide), 4, set())
    plan = convert_documents(scan, "pct")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # the floor changes plan shape only, never results
    outp = str(tmp_path / "out")
    run_job(spark, single, outp, "pct", n_buckets=4)
    a = spark.read.parquet(os.path.join(outp, "data")).drop("bucket").collect()
    b = convert_documents(df, "pct").collect()
    assert sorted((r.asDict(recursive=True) for r in a), key=lambda r: r["doc_id"]) == sorted(
        (r.asDict(recursive=True) for r in b), key=lambda r: r["doc_id"]
    )


def test_convert_documents_builds_without_running(spark, docs_rows):
    """Building the conversion submits no Spark job, also over a shuffle,
    where counting partitions would run every stage before the write."""
    df = create_documents_df(spark, docs_rows).repartition(3)
    assert spark_jobs_during(spark, lambda: convert_documents(df, "pct")) == []


def test_run_job_rerun_bucket_is_exactly_once(spark, docs_rows, tmp_path):
    """A bucket whose manifest is lost while its data stays re-runs by
    replacing its partition, not appending to it: one row per doc_id, and
    the new manifest counts one copy of each doc."""
    inp, outp = str(tmp_path / "in"), str(tmp_path / "out")
    write_documents(create_documents_df(spark, docs_rows), inp, n_buckets=4)
    run_job(spark, inp, outp, "pct", n_buckets=4)
    victim = min(completed_buckets(outp))
    manifest = os.path.join(outp, "_manifests", f"bucket={victim}.json")
    with open(manifest) as f:
        first = json.load(f)
    os.remove(manifest)

    assert run_job(spark, inp, outp, "pct", n_buckets=4)["buckets_run"] == 1
    ids = [r["doc_id"] for r in spark.read.parquet(os.path.join(outp, "data")).collect()]
    assert sorted(ids) == sorted(r["doc_id"] for r in docs_rows)
    with open(manifest) as f:
        again = json.load(f)
    assert again == first
    assert again["doc_count"] == spark.read.parquet(inp).filter(F.col("bucket") == victim).count()


def test_run_job_resumes_over_killed_write(spark, docs_rows, tmp_path):
    """A run killed while committing one bucket leaves no manifest, a
    truncated manifest tmp, a duplicated part file (a half-done append)
    and a dead staging directory.  Resume re-runs that bucket alone and
    ends with one row per doc_id, the original manifest and no tmp."""
    inp, outp = str(tmp_path / "in"), str(tmp_path / "out")
    write_documents(create_documents_df(spark, docs_rows), inp, n_buckets=4)
    run_job(spark, inp, outp, "pct", n_buckets=4)
    victim = min(completed_buckets(outp))
    manifest = os.path.join(outp, "_manifests", f"bucket={victim}.json")
    with open(manifest) as f:
        first = json.load(f)
    os.remove(manifest)
    with open(manifest + ".tmp", "w") as f:
        f.write(json.dumps(first)[:10])
    data = os.path.join(outp, "data")
    vdir = os.path.join(data, f"bucket={victim}")
    part = next(p for p in sorted(os.listdir(vdir)) if p.endswith(".parquet"))
    shutil.copy(os.path.join(vdir, part), os.path.join(vdir, "part-99999-killed.parquet"))
    staging = os.path.join(data, ".spark-staging-dead")
    os.makedirs(staging)
    shutil.copy(os.path.join(vdir, part), staging)

    assert run_job(spark, inp, outp, "pct", n_buckets=4)["buckets_run"] == 1
    ids = [r["doc_id"] for r in spark.read.parquet(data).collect()]
    assert sorted(ids) == sorted(r["doc_id"] for r in docs_rows)
    with open(manifest) as f:
        assert json.load(f) == first
    assert not os.path.exists(manifest + ".tmp")


def test_run_job_refuses_foreign_manifests(spark, docs_rows, tmp_path):
    """Resuming into an output whose manifests name another mode, bucket
    count or input path raises instead of skipping or mixing buckets."""
    inp, other, outp = (str(tmp_path / n) for n in ("in", "other", "out"))
    create_documents_df(spark, docs_rows).write.parquet(inp)  # no bucket column
    shutil.copytree(inp, other)
    run_job(spark, inp, outp, "pct", n_buckets=4)
    for path, mode, n_buckets in [(inp, "officeAction", 4), (inp, "pct", 8), (other, "pct", 4)]:
        with pytest.raises(ValueError, match="refusing to resume"):
            run_job(spark, path, outp, mode, n_buckets=n_buckets)
    assert run_job(spark, inp, outp, "pct", n_buckets=4)["buckets_run"] == 0


def test_null_bucket_fails_validation(spark, docs_rows, tmp_path):
    """A layout holding a NULL bucket (a bucket=__HIVE_DEFAULT_PARTITION__
    directory) fails the bucket validation instead of passing it."""
    inp = str(tmp_path / "in")
    write_documents(create_documents_df(spark, docs_rows), inp, n_buckets=4)
    stray = create_documents_df(spark, [{"doc_id": "stray", "spans": []}])
    (
        stray.withColumn("bucket", F.lit(None).cast("int"))
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(inp)
    )
    assert os.path.isdir(os.path.join(inp, "bucket=__HIVE_DEFAULT_PARTITION__"))
    with pytest.raises(ValueError, match="NULL buckets"):
        run_job(spark, inp, str(tmp_path / "out"), "pct", n_buckets=4)


@pytest.mark.parametrize(
    "module, inputs",
    [("job", ["--input", "in"]), ("extract_job", ["--docs", "in", "--media", "in"])],
)
def test_job_cli_rejects_unknown_mode(module, inputs, tmp_path):
    """Both job CLIs check --mode against the registry at parse time."""
    res = subprocess.run(
        [
            sys.executable, "-m", f"patent_decision_document_converter_spark.plans.{module}",
            *inputs, "--output", str(tmp_path / "out"), "--mode", "officeActoin",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120,
    )
    assert res.returncode == 2 and "invalid choice" in res.stderr, res.stderr[-2000:]
