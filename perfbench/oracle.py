"""Single-process replay of the conversion jobs, and output checks.

The replay follows the job's span semantics without Spark: sort a doc's
spans by offset, join each maximal run of ``kind='text'`` spans with
``'\\n'``, convert the run with ``registry.mode_fn`` (plus ``typo.check``
findings in every mode but paragraph/html), pass every other span through
and number the output spans 0..n-1.  For the extract job the replay runs
over the enriched spans: each media span whose payload yields text is
followed by a ``media_text`` span carrying it.

A doc's output is compared through a digest of its
``(kind, text, media_ref, order)`` spans plus its findings.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from collections.abc import Callable

import pyarrow.parquet as pq

from patent_decision_document_converter_spark.functions import typo
from patent_decision_document_converter_spark.plans.registry import mode_fn

NO_FINDINGS_MODES = ("paragraph", "html")


def read_docs(path: str) -> list[dict]:
    """A documents table as written, as ``[{"doc_id", "spans"}]`` rows."""
    return pq.read_table(path, columns=["doc_id", "spans"]).to_pylist()


def data_bytes(path: str) -> int:
    """Bytes of the data files under a table directory (no checksums or markers)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def enrich(spans: list[dict], media_text: dict[str, str]) -> list[dict]:
    """``operators.pdf.enrich_media_spans`` for one doc."""
    out = []
    for s in sorted(spans, key=lambda s: s["offset"]):
        out.append(s)
        if s["kind"] == "media" and s["media_ref"] in media_text:
            out.append(
                {"kind": "media_text", "text": media_text[s["media_ref"]],
                 "media_ref": s["media_ref"]}
            )
    return [dict(s, offset=i) for i, s in enumerate(out)]


def replay_doc(
    spans: list[dict], convert: Callable[[str], str], check: Callable | None
) -> tuple[list[tuple], list[tuple]]:
    """One doc through the job's per-row loop: (output spans, findings)."""
    out: list[tuple] = []
    findings: list[tuple] = []
    run: list[str] = []

    def flush() -> None:
        if not run:
            return
        text = "\n".join(run)
        out.append(("text", convert(text), ""))
        if check is not None:
            res = check(text)
            if res["hasError"]:
                findings.extend(
                    (it["id"], it["message"], it["match"], it["index"], it["context"])
                    for it in res["items"]
                )
        run.clear()

    for s in sorted(spans, key=lambda s: s["offset"]):
        if s["kind"] == "text":
            run.append(s["text"])
        else:
            flush()
            out.append((s["kind"], s["text"], s["media_ref"]))
    flush()
    return [(*s, i) for i, s in enumerate(out)], findings


def digest(spans: list, findings: list) -> str:
    blob = json.dumps([[list(s) for s in spans], [list(f) for f in findings]], ensure_ascii=False)
    return hashlib.sha1(blob.encode()).hexdigest()


def job_inputs(docs: list[dict], media_text: dict[str, str]) -> list[dict]:
    """The spans the conversion stage sees: enriched when there is media text."""
    if not media_text:
        return docs
    return [{"doc_id": d["doc_id"], "spans": enrich(d["spans"], media_text)} for d in docs]


def expected_digests(docs: list[dict], mode: str, media_text: dict[str, str]) -> dict[str, str]:
    convert = mode_fn(mode)
    check = None if mode in NO_FINDINGS_MODES else typo.check
    return {
        d["doc_id"]: digest(*replay_doc(d["spans"], convert, check))
        for d in job_inputs(docs, media_text)
    }


def output_digest(row: dict) -> str:
    spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
    findings = [
        (f["id"], f["message"], f["match"], f["index"], f["context"]) for f in row["findings"]
    ]
    return digest(spans, findings)


def failed_docs(output_path: str, expected: dict[str, str]) -> int:
    """Docs whose output row is missing, duplicated or differs from the
    replay, plus output rows for docs that were never input.  A manifest
    total that disagrees with the input count fails every doc."""
    rows = pq.read_table(
        os.path.join(output_path, "data"), columns=["doc_id", "spans", "findings"]
    ).to_pylist()
    seen = Counter(r["doc_id"] for r in rows)
    bad = {
        r["doc_id"]
        for r in rows
        if seen[r["doc_id"]] != 1 or expected.get(r["doc_id"]) != output_digest(r)
    }
    bad |= expected.keys() - seen.keys()
    mdir = os.path.join(output_path, "_manifests")
    manifest_docs = 0
    for name in os.listdir(mdir) if os.path.isdir(mdir) else ():
        with open(os.path.join(mdir, name)) as f:
            manifest_docs += json.load(f)["doc_count"]
    if manifest_docs != len(expected):
        return len(expected)
    return min(len(expected), len(bad))
