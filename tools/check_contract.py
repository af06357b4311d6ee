"""Local stand-in for the driver's CORRECTNESS gate.

Runs every ``queries()`` entry of ``__spark_entry__.py`` on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares:
row count, sorted column names, and an order-insensitive value hash
(rows sorted, every value stringified).  Exit 0 iff all match.

Usage: python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ["lineitem", "events", "documents", "embeddings"]


def _kind_spark(t: str) -> str:
    t = t.lower()
    if t in ("bigint", "int", "smallint", "tinyint", "long"):
        return "int"
    if t in ("double", "float"):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    if t in ("string", "varchar"):
        return "str"
    return t


def _kind_duck(t: str) -> str:
    t = t.upper()
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT", "UBIGINT", "NUMBER"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("VARCHAR", "STRING", "TEXT"):
        return "str"
    return t.lower()


def norm_value(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\x00")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .appName("contract-check")
        .getOrCreate()
    )
    from patent_decision_document_converter_spark.plans.session import (
        silence_windowexec_warning,
    )

    silence_windowexec_warning(spark)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from patent_decision_document_converter_spark.functions.cachereg import (
        release_cached,
    )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            # drop operator-persisted intermediates (band tables, normed
            # vectors, quantized k-means frames) between queries — the
            # full sweep otherwise accumulates them in executor storage
            release_cached()
        if name not in oracles:
            print(f"okNR {name}: rows={len(srows)} (rows-only, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue

        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            skinds = {f.name: _kind_spark(f.dataType.simpleString()) for f in sdf.schema.fields}
            okinds = {d[0]: _kind_duck(str(d[1])) for d in res.description}
            mismatch = {
                c: (skinds[c], okinds[c])
                for c in skinds
                if okinds.get(c) and skinds[c] != okinds[c]
            }
            if mismatch:
                problems.append(f"type-kind mismatch {mismatch}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sh = table_digest(scols, srows)
            oh = table_digest(ocols, orows)
            if sh != oh:
                problems.append(f"valuehash spark={sh} oracle={oh}")
                # show a few differing rows for debugging
                sset = {tuple(norm_value(v) for v in r) for r in srows}
                # align columns by name for comparison
                sidx = sorted(range(len(scols)), key=lambda i: scols[i])
                oidx = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = {tuple(norm_value(r[i]) for i in sidx) for r in srows}
                oset = {tuple(norm_value(r[i]) for i in oidx) for r in orows}
                for d in list(sset - oset)[:3]:
                    print(f"    spark-only: {d}")
                for d in list(oset - sset)[:3]:
                    print(f"    oracle-only: {d}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok   {name}: rows={len(srows)} ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
