"""In-suite driver-contract gate: a representative subset of the
``__spark_entry__`` queries compared against their DuckDB oracles
(rows + sorted schema + order-insensitive value hash — the same
comparison the driver runs), so `pytest tests/ -x -q` alone catches an
oracle/engine divergence.  The full sweep stays in
tools/check_contract.py."""

import hashlib

import duckdb
import pytest

import __spark_entry__ as entry
from patent_decision_document_converter_spark.plans import contract
from patent_decision_document_converter_spark.plans.job import get_spark

SF_DIR = "/root/testdata/sf0.001"

# cheap but diverse: scan-agg, window/island, dedup, repetition, packing,
# multimodal, and the frozen-reference conversion gates (incl. interleaved)
SUBSET = [
    "events_hourly",
    "run_compress_orderkeys",
    "dedup_exact",
    "text_repetition",
    "corpus_token_batches",
    "corpus_chunk_docs",
    "media_features",
    "corpus_html_dom_hints",
    "media_features_png",
    "media_features_jpeg",
    "media_pdf_extract",
    "extract_main_dispatch",
    "convert_office_action",
    "convert_interleaved_spans",
]

TABLES = ["lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def spark():
    yield get_spark(app_name="pytest-contract", master="local[4]", shuffle_partitions=4)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield c
    c.close()


def _norm(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _digest(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, con, name):
    fn = entry.queries()[name]
    sql = entry.oracle_sql()[name]

    df = fn(spark, SF_DIR)
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]

    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert _digest(s_cols, s_rows) == _digest(d_cols, d_rows)


def test_bench_queries_are_registered():
    """bench.py only reaches a stale query name after minutes of running."""
    import bench

    assert [n for n in bench.BENCH_QUERIES if n not in contract.QUERIES] == []


# ---------------------------------------------------------------------------
# adversarial-corpus gate: the same oracle comparison over a documents
# table salted with the rows that historically broke engines/oracles —
# NULL text, empty text, whitespace-only, sub-shingle token counts,
# vertical-tab whitespace (the Java-vs-RE2 \s dialect pin), exact dups.
# Pins the winnow/simhash LEFT-JOIN and NULL-fold fixes from round 2.
# ---------------------------------------------------------------------------

ADV_SUBSET = [
    "dedup_exact",
    "dedup_bloom_membership",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "text_token_stats",
    "text_winnow_fp",
    "text_repetition",
    "text_unigram_surprise",
    "corpus_token_batches",
]


@pytest.fixture(scope="module")
def adv_dir(spark, tmp_path_factory):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    adversarial = [
        (9001, None),                       # NULL text
        (9002, ""),                         # empty
        (9003, "   \t  "),                  # whitespace-only
        (9004, "single"),                   # below every shingle k
        (9005, "two tokens"),
        (9006, "a\x0bb  c　d"),         # \x0b: Java \s vs RE2 \s dialect pin
        (9007, "dup dup dup dup dup dup"),  # heavy repetition
        (9008, "dup dup dup dup dup dup"),  # exact duplicate of 9007
        (9009, "行頭　全角空白と改行\nを含む日本語のみの本文"),
    ]
    extra = spark.createDataFrame(adversarial, "doc_id long, text string").selectExpr(
        "doc_id",
        "text",
        "'xx' AS lang",
        "'adversarial' AS source",
        "CAST(COALESCE(length(text), 0) AS BIGINT) AS n_chars",
    )
    d = str(tmp_path_factory.mktemp("adv_sf"))
    base.unionByName(extra).coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


@pytest.fixture(scope="module")
def adv_con(adv_dir):
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{adv_dir}/documents.parquet/*.parquet')"
    )
    yield c
    c.close()


@pytest.mark.parametrize("name", ADV_SUBSET)
def test_query_matches_oracle_adversarial(spark, adv_dir, adv_con, name):
    fn = entry.queries()[name]
    sql = entry.oracle_sql()[name]

    df = fn(spark, adv_dir)
    s_cols = df.columns
    s_rows = [tuple(r) for r in df.collect()]

    res = adv_con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert _digest(s_cols, s_rows) == _digest(d_cols, d_rows)
