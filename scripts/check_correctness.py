"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, when an ``oracle_sql()``
entry exists, the oracle on DuckDB over the same parquet — comparing
row count, sorted column names, and an order-insensitive value digest.

Usage: python scripts/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from bootleg_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


class UnhashableColumn(TypeError):
    """Raised for list/array cells: the DRIVER's canonicalizer (pandas
    lexsort) cannot hash them, so the mirror must reject them too —
    round 1 shipped four queries the local gate passed and the driver
    err'd on (VERDICT r1 'What's wrong' #1)."""


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        raise UnhashableColumn("array-typed output column — driver gate would err")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


# Spark simpleString dtype -> DuckDB column types that survive the
# driver canonicalizer with IDENTICAL text form. Anything outside the
# allowed set (HUGEINT from SUM() OVER, DECIMAL, UINTEGER promotions)
# reaches the driver as float64/Decimal and hashes "32.0" vs Spark's
# "32" — the r04 pack_spans failure class. norm_cell's float
# normalizer MASKS this locally, so the lint must be structural.
_DTYPE_ALLOWED = {
    "tinyint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "smallint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "int": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "bigint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "float": {"FLOAT", "DOUBLE"},
    "double": {"FLOAT", "DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "binary": {"BLOB"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
}


def lint_oracle_dtypes(con, sql: str, sdf) -> list[str]:
    """Structural dtype parity between the Spark result schema and the
    DuckDB oracle's DESCRIBE output (by column name). Returns mismatch
    messages; empty = clean. Catches engine type promotion (HUGEINT /
    DECIMAL / unsigned) that the value-digest comparison cannot, since
    the local float normalizer and the driver canonicalizer disagree on
    exactly those cells (VERDICT r4 'What's wrong' #1)."""
    try:
        rows = con.execute(f"DESCRIBE ({sql})").fetchall()
    except Exception as e:  # oracle itself broken — main loop reports it
        return [f"describe failed: {type(e).__name__}: {str(e)[:120]}"]
    dtypes = {r[0]: r[1].upper() for r in rows}
    msgs = []
    for f in sdf.schema.fields:
        spark_t = f.dataType.simpleString()
        duck_t = dtypes.get(f.name)
        if duck_t is None:
            continue  # column-set mismatch is reported by ok_cols
        allowed = _DTYPE_ALLOWED.get(spark_t)
        if allowed is None:
            continue  # arrays/structs: rejected by UnhashableColumn path
        # DECIMAL(p,s) etc. carry parameters; match on the base word
        base = duck_t.split("(")[0].strip()
        if base not in allowed and duck_t not in allowed:
            msgs.append(
                f"oracle-dtype: col '{f.name}' spark={spark_t} duckdb={duck_t}"
                " — cast the oracle expression (driver hash would diverge)"
            )
    return msgs


def digest(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    # the iterative-family oracles on sf0.1 grew an uncapped JVM to 7.6 GB
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    spark = get_spark(cores=8, extra_conf={"spark.sql.shuffle.partitions": "8"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows={len(srows)} ({time.time()-t0:.1f}s) [no oracle]")
            n_weak += 1
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        dtype_msgs = lint_oracle_dtypes(con, oracles[name], sdf)
        if dtype_msgs:
            for m in dtype_msgs:
                print(f"FAIL {name}: {m}")
            n_fail += 1
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_rows = len(srows) == len(orows)
        try:
            ok_hash = ok_cols and digest(srows, scols) == digest(orows, ocols)
        except UnhashableColumn as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        status = "PASS" if (ok_cols and ok_rows and ok_hash) else "FAIL"
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1
        print(
            f"{status} {name}: rows {len(srows)}/{len(orows)} cols_ok={ok_cols} "
            f"hash_ok={ok_hash} ({time.time()-t0:.1f}s)"
        )
        if status == "FAIL" and ok_cols:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            s_set = {tuple(norm_cell(r[i]) for i in order) for r in srows}
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            o_set = {tuple(norm_cell(r[i]) for i in oorder) for r in orows}
            only_s = list(s_set - o_set)[:3]
            only_o = list(o_set - s_set)[:3]
            print(f"   spark-only: {only_s}")
            print(f"   oracle-only: {only_o}")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
