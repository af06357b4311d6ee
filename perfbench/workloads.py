"""Seeded inputs for the benchmark's two workloads.

Every documents table comes from ``sources.generator.make_documents_rows``
with the run's seed.  A workload's inputs and the expected per-doc digests
are cached per seed under the work directory, so generation stays outside
the timed region and outside ``setup_s``.

The tables are written without Spark, in the layout
``sources.documents.write_documents`` and ``write_media`` give them: hive
directories per ``bucket = pmod(xxhash64(doc_id), 32)`` (and per
``format`` for media), one file per directory.  Generating through Spark
would start and warm the JVM before the set-up is timed, so ``setup_s``
would depend on whether the seed's inputs were already cached.  A test
checks the layout, the rows and the PDF payloads against the Spark writers.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from patent_decision_document_converter_spark.operators.pdf import _encode_pdf, _synth_runs
from patent_decision_document_converter_spark.sources.generator import make_documents_rows

from . import oracle


@dataclass(frozen=True)
class Workload:
    name: str
    job: str  # "convert" runs plans.job.run_job, "extract" plans.extract_job.run_extract_job
    mode: str


# why each workload is there is told once, in BENCHMARK.json
WORKLOADS = {
    w.name: w
    for w in (
        Workload("convert_megatail", "convert", "officeAction"),
        Workload("extract_media", "extract", "officeAction"),
    )
}

MEGATAIL_DOCS = 400
MEGA_EVERY = 200  # 0.5% megadocs
MEGA_DONORS = 300  # a megadoc carries the text spans of 300 generated docs
EXTRACT_DOCS = 1_000


def _megatail_rows(seed: int) -> list[dict]:
    """The generator's default shape, with the megadoc tail held steady.

    ``make_documents_rows`` draws a megadoc's size from 100-1000x the
    median; with 0.5% megadocs that single draw would decide the whole
    run's wall time, and it changes with every seed.  Here each megadoc
    is assembled from the text spans of a fixed number of generated docs
    (plus the media of the first), and sits at a fixed doc_id, so its
    cost and its bucket repeat across seeds while its text does not.
    """
    rows = make_documents_rows(MEGATAIL_DOCS, seed=seed, mega_frac=0.0)
    slots = range(MEGA_EVERY // 2, MEGATAIL_DOCS, MEGA_EVERY)
    donors = make_documents_rows(
        len(slots) * MEGA_DONORS, seed=seed + 1, mega_frac=0.0, permute_frac=0.0
    )
    rng = random.Random(seed)
    for k, i in enumerate(slots):
        group = donors[k * MEGA_DONORS : (k + 1) * MEGA_DONORS]
        spans = [s for d in group for s in d["spans"] if s["kind"] == "text"]
        for media in (s for s in group[0]["spans"] if s["kind"] != "text"):
            spans.insert(rng.randrange(len(spans) + 1), media)
        spans = [dict(s, offset=j) for j, s in enumerate(spans)]
        if rng.random() < 0.2:
            rng.shuffle(spans)
        rows[i] = {"doc_id": rows[i]["doc_id"], "spans": spans}
    return rows


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _media_format(doc_id: str) -> str:
    return ("pdf", "html", "txt")[int(doc_id) % 3]


def expected_media_text(doc_id: str, seed: int) -> str:
    """The main text extraction must recover from ``doc_id``'s payload,
    worked out from how the payload was made rather than by parsing it."""
    fmt = _media_format(doc_id)
    if fmt == "html":
        return f"{_md5(f'{seed}:m1:{doc_id}')} {_md5(f'{seed}:m2:{doc_id}')}"
    if fmt == "txt":
        return f"{_md5(f'{seed}:t1:{doc_id}')} {_md5(f'{seed}:t2:{doc_id}')}"
    # synth_pdf_table: 3 + id % 3 lines "p(<i>) md5(ref:<tag><i>)" per
    # page, a second page on every fourth id
    d, ref = int(doc_id), f"pdf:{doc_id}"
    pages = []
    for pg in range(2 if d % 4 == 0 else 1):
        tag = "l" if pg == 0 else f"p{pg}l"
        pages.append("\n".join(f"p({ln}) {_md5(f'{ref}:{tag}{ln}')}" for ln in range(3 + d % 3)))
    return "\n".join(pages)


def _media_payload(doc_id: str, seed: int) -> bytes:
    if _media_format(doc_id) == "html":
        nav, m1, m2 = (_md5(f"{seed}:{k}:{doc_id}") for k in ("nav", "m1", "m2"))
        return f'<div class="nav"><a href="#">{nav}</a></div><p>{m1} {m2}</p>'.encode()
    t1, t2 = (_md5(f"{seed}:{k}:{doc_id}") for k in ("t1", "t2"))
    return f"  {t1} \n\n {t2}\t".encode()


def _extract_rows(seed: int, n_docs: int = EXTRACT_DOCS) -> list[dict]:
    rows = make_documents_rows(
        n_docs, seed=seed, median_text_spans=2, media_spans=0, mega_frac=0.0
    )
    out = []
    for r in rows:
        # numeric ids: synth_pdf_table derives page count and compression from int(doc_id)
        doc_id = r["doc_id"].removeprefix("doc-")
        ref = f"{_media_format(doc_id)}:{doc_id}"
        media = {"kind": "media", "text": "", "media_ref": ref, "offset": len(r["spans"])}
        out.append({"doc_id": doc_id, "spans": r["spans"] + [media]})
    return out


N_BUCKETS = 32  # the bucket count of write_documents / write_media and both jobs
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def spark_xxhash64(s: str, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of one string column value: XXH64 of its UTF-8
    bytes with Spark's seed 42, as a signed 64-bit integer."""
    data, i = s.encode(), 0
    n = len(data)
    word = lambda k: int.from_bytes(data[i : i + k], "little")  # noqa: E731
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], word(8))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h = (_rotl(h ^ _round(0, word(8)), 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h = (_rotl(h ^ (word(4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
     ("offset", pa.int32())]
)
DOCS_ARROW = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])
MEDIA_ARROW = pa.schema(
    [("doc_id", pa.string()), ("media_ref", pa.string()), ("format", pa.string()),
     ("payload", pa.binary())]
)


def write_bucketed(rows: list[dict], schema: pa.Schema, path: str, by: list[str]) -> None:
    """``rows`` as a parquet table partitioned by ``by``, one file per
    directory, where ``bucket`` is ``write_documents``' doc_id hash."""
    rows = [dict(r, bucket=spark_xxhash64(r["doc_id"]) % N_BUCKETS) for r in rows]
    table = pa.Table.from_pylist(rows, schema.append(pa.field("bucket", pa.int32())))
    pq.write_to_dataset(table, path, partition_cols=by)


def media_rows(doc_ids: list[str], seed: int) -> list[dict]:
    """The media sidecar: for PDFs the payload ``synth_pdf_table`` makes."""
    rows = []
    for d in doc_ids:
        fmt = _media_format(d)
        if fmt == "pdf":
            payload = _encode_pdf([], compress=int(d) % 2 == 0, pages=_synth_runs(f"pdf:{d}", int(d)))
        else:
            payload = _media_payload(d, seed)
        rows.append({"doc_id": d, "media_ref": f"{fmt}:{d}", "format": fmt, "payload": payload})
    return rows


@dataclass
class Inputs:
    docs_path: str
    media_path: str | None
    expected: dict[str, str]  # doc_id -> digest of the expected output row
    media_text: dict[str, str]  # media_ref -> expected extracted text

    @property
    def n_docs(self) -> int:
        return len(self.expected)

    def input_bytes(self) -> int:
        return sum(oracle.data_bytes(p) for p in (self.docs_path, self.media_path) if p)


def ensure_inputs(wl: Workload, seed: int, cache_root: str) -> Inputs:
    """Generate (or reuse) the workload's tables and expected digests.
    The cache key includes the code that makes them, so an edit to the
    generator or the oracle never reuses stale inputs."""
    code = hashlib.sha1()
    for mod in (__file__, oracle.__file__):
        with open(mod, "rb") as f:
            code.update(f.read())
    root = os.path.join(cache_root, f"{wl.name}-seed{seed}-{code.hexdigest()[:12]}")
    docs_path = os.path.join(root, "docs")
    media_path = os.path.join(root, "media") if wl.job == "extract" else None
    ready = os.path.join(root, "expected.json")
    if not os.path.exists(ready):
        shutil.rmtree(root, ignore_errors=True)  # what an interrupted run left
        if wl.name == "convert_megatail":
            rows = _megatail_rows(seed)
        else:
            rows = _extract_rows(seed)
        write_bucketed(rows, DOCS_ARROW, docs_path, ["bucket"])
        media_text = {}
        if media_path:
            ids = [r["doc_id"] for r in rows]
            write_bucketed(media_rows(ids, seed), MEDIA_ARROW, media_path, ["bucket", "format"])
            media_text = {f"{_media_format(d)}:{d}": expected_media_text(d, seed) for d in ids}
        # the digests are replayed from the table as written, not from rows
        docs = oracle.read_docs(docs_path)
        expected = oracle.expected_digests(docs, wl.mode, media_text)
        with open(ready + ".tmp", "w") as f:
            json.dump({"expected": expected, "media_text": media_text}, f)
        os.replace(ready + ".tmp", ready)
    with open(ready) as f:
        cached = json.load(f)
    return Inputs(docs_path, media_path, cached["expected"], cached["media_text"])

