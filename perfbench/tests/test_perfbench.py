"""Tests for the benchmark's own helpers: the replay oracle, the partition
floor and the metric names.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import os
import re

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from patent_decision_document_converter_spark.operators.pdf import synth_pdf_table
from patent_decision_document_converter_spark.plans.extract_job import run_extract_job
from patent_decision_document_converter_spark.plans.job import convert_documents, get_spark
from patent_decision_document_converter_spark.sources.documents import (
    create_documents_df,
    write_documents,
    write_media,
)
from patent_decision_document_converter_spark.sources.generator import make_documents_rows
from perfbench import layers, oracle, workloads
from perfbench.run import END_TO_END

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FIXTURES = ["例文_1", "例文_2", "例文_3"]


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)


def _fixture(name: str) -> str:
    # newline='': the fixtures' \r\n line ends are part of the input
    with open(os.path.join(ROOT, "tests", "fixtures", f"{name}.txt"), newline="", encoding="utf-8") as f:
        return f.read()


def _fixture_docs() -> list[dict]:
    docs = []
    for name in FIXTURES:
        text = _fixture(name)
        docs.append({"doc_id": name, "spans": [
            {"kind": "text", "text": text, "media_ref": "", "offset": 0}]})
        # the same text cut into lines, with a figure and a table between them
        lines = text.split("\n")
        half = len(lines) // 2
        spans = [{"kind": "text", "text": t, "media_ref": "", "offset": i}
                 for i, t in enumerate(lines)]
        spans.insert(half, {"kind": "figure", "text": "", "media_ref": "media://f/1", "offset": -1})
        spans.append({"kind": "table", "text": "t", "media_ref": "media://t/2", "offset": -1})
        spans = [dict(s, offset=i) for i, s in enumerate(spans)]
        docs.append({"doc_id": f"{name}-cut", "spans": spans[::-1]})  # offsets carry the order
    return docs


def _dirty_docs() -> list[dict]:
    docs = make_documents_rows(30, seed=11, mega_frac=0.0)
    t = lambda text, off: {"kind": "text", "text": text, "media_ref": "", "offset": off}  # noqa: E731
    docs += [
        {"doc_id": "empty", "spans": []},
        {"doc_id": "tied", "spans": [t("２つ目", 1), t("一つ目", 1), t("第１条", 0)]},
        {"doc_id": "null-kind", "spans": [
            t("前", 0), {"kind": None, "text": "x", "media_ref": "m", "offset": 1}, t("後", 2)]},
        {"doc_id": "media-only", "spans": [
            {"kind": "figure", "text": "", "media_ref": "media://f/9", "offset": 0}]},
        {"doc_id": "blank-text", "spans": [t("", 0), t("", 1)]},
    ]
    return docs


@pytest.mark.parametrize("mode", ["officeAction", "paragraph"])
@pytest.mark.parametrize("corpus", ["fixtures", "dirty"])
def test_replay_matches_convert_documents(spark, mode, corpus):
    docs = _fixture_docs() if corpus == "fixtures" else _dirty_docs()
    expected = oracle.expected_digests(docs, mode, {})
    rows = convert_documents(create_documents_df(spark, docs), mode).collect()
    got = {r["doc_id"]: oracle.output_digest(r.asDict(recursive=True)) for r in rows}
    assert got == expected


def _layout(path: str) -> dict[str, list[str]]:
    """Partition directory -> doc_ids of the one data file it holds."""
    out = {}
    for d, _, names in os.walk(path):
        data = [n for n in names if not n.startswith((".", "_"))]
        if data:
            assert len(data) == 1, d
            ids = pq.read_table(os.path.join(d, data[0]), columns=["doc_id"])["doc_id"]
            out[os.path.relpath(d, path)] = sorted(ids.to_pylist())
    return out


def test_tables_match_the_spark_writers(spark, tmp_path):
    rows = workloads._extract_rows(seed=3, n_docs=40)
    ids = [r["doc_id"] for r in rows]
    media = workloads.media_rows(ids, 3)
    ours, theirs = str(tmp_path / "ours"), str(tmp_path / "theirs")
    workloads.write_bucketed(rows, workloads.DOCS_ARROW, f"{ours}/docs", ["bucket"])
    workloads.write_bucketed(media, workloads.MEDIA_ARROW, f"{ours}/media", ["bucket", "format"])
    write_documents(create_documents_df(spark, rows).coalesce(1), f"{theirs}/docs")
    pdf_ids = [(m["doc_id"],) for m in media if m["format"] == "pdf"]
    pdfs = synth_pdf_table(spark.createDataFrame(pdf_ids, "doc_id string"))
    others = spark.createDataFrame(
        [tuple(m.values()) for m in media if m["format"] != "pdf"],
        "doc_id string, media_ref string, format string, payload binary",
    )
    cols = ("doc_id", "media_ref", "format", "payload")
    write_media(pdfs.select(*cols).unionByName(others).coalesce(1), f"{theirs}/media")

    for table in ("docs", "media"):
        assert _layout(f"{ours}/{table}") == _layout(f"{theirs}/{table}")
    payloads = [
        dict(zip(*pq.read_table(f"{t}/media", columns=["media_ref", "payload"]).to_pydict().values()))
        for t in (ours, theirs)
    ]
    assert payloads[0] == payloads[1]
    docs = [sorted(oracle.read_docs(f"{t}/docs"), key=lambda d: d["doc_id"]) for t in (ours, theirs)]
    assert docs[0] == docs[1]


def test_spark_xxhash64(spark):
    values = ["", "7", "doc-000123", "例文_1", "x" * 31, "y" * 32, "z" * 77]
    want = spark.createDataFrame([(v,) for v in values], "v string").select(F.xxhash64("v"))
    assert [workloads.spark_xxhash64(v) for v in values] == [r[0] for r in want.collect()]


def test_extract_replay_matches_run_extract_job(spark, tmp_path):
    rows = workloads._extract_rows(seed=3, n_docs=24)
    docs_path, media_path = str(tmp_path / "docs"), str(tmp_path / "media")
    workloads.write_bucketed(rows, workloads.DOCS_ARROW, docs_path, ["bucket"])
    workloads.write_bucketed(
        workloads.media_rows([r["doc_id"] for r in rows], 3), workloads.MEDIA_ARROW,
        media_path, ["bucket", "format"],
    )
    media_text = {
        f"{workloads._media_format(r['doc_id'])}:{r['doc_id']}":
            workloads.expected_media_text(r["doc_id"], 3)
        for r in rows
    }
    expected = oracle.expected_digests(oracle.read_docs(docs_path), "officeAction", media_text)
    out = str(tmp_path / "out")
    run_extract_job(spark, docs_path, media_path, out)
    assert oracle.failed_docs(out, expected) == 0
    # every media row came back as exactly one media_text span
    assert all(
        sum(s["kind"] == "media_text" for s in d["spans"]) == 1
        for d in oracle.job_inputs(rows, media_text)
    )


def test_failed_docs_counts_missing_duplicated_and_wrong(spark, tmp_path):
    docs = make_documents_rows(12, seed=2, mega_frac=0.0)
    expected = oracle.expected_digests(docs, "pct", {})
    out = str(tmp_path / "out")
    from patent_decision_document_converter_spark.plans.job import run_job

    write_documents(create_documents_df(spark, docs), str(tmp_path / "in"))
    run_job(spark, str(tmp_path / "in"), out, mode="pct")
    assert oracle.failed_docs(out, expected) == 0
    wrong = dict(expected, **{docs[0]["doc_id"]: "0" * 40})
    assert oracle.failed_docs(out, wrong) == 1
    missing = dict(expected, extra="0" * 40)  # manifests no longer sum to the input
    assert oracle.failed_docs(out, missing) == len(missing)


def test_partition_floor_on_two_partitions(spark):
    docs = [{"doc_id": d, "spans": []} for d in "abcd"]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(d["doc_id"], []) for d in docs], 2),
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    doc_pid = layers.doc_partitions(df)
    assert doc_pid == {"a": 0, "b": 0, "c": 1, "d": 1}
    cost = {"a": 1.0, "b": 2.0, "c": 0.5, "d": 0.25}
    assert layers.partition_floor_s(cost, doc_pid) == 3.0
    assert layers.partition_floor_s(cost, {"a": 0, "b": 1, "c": 1, "d": 1}) == 2.75


def test_step_replay_is_mode_fn():
    from patent_decision_document_converter_spark.plans.registry import mode_fn

    text = _fixture("例文_1")
    for mode in ("officeAction", "paragraph", "pct"):
        replay = layers.StepReplay(mode)
        assert replay(text) == mode_fn(mode)(text)
        assert {k for k, v in replay.core_s.items() if v > 0} <= set(layers.step_keys(mode))


def test_metric_names_are_valid_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    per_layer = layers.per_layer_metrics()
    assert bench["per_layer"] == per_layer
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    names = [m["name"] for m in per_layer] + list(END_TO_END)
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
