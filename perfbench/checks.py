"""Output checks. Each returns a list of failure messages (empty = pass).

They run outside the timed sections. Timed passes are checked through
an order-insensitive digest (row count plus a sum of row hashes) that
Spark computes inside the pass with an ``Observation``; the digest of a
pass must equal the digest of the warm-up pass, whose rows were compared
in full against an independent reference.
"""

from __future__ import annotations

from collections import Counter


def norm(v):
    """A cell in comparable form: floats to 6 significant digits."""
    if isinstance(v, float):
        return float(f"{v:.6g}")
    return v


def norm_rows(rows) -> list[tuple]:
    return [tuple(norm(v) for v in r) for r in rows]


def same_rows(expected, got, what: str) -> list[str]:
    """``got`` must hold exactly the rows of ``expected``, each once."""
    exp, seen = Counter(norm_rows(expected)), Counter(norm_rows(got))
    msgs = []
    dups = [r for r, c in seen.items() if c > 1]
    if dups:
        msgs.append(f"{what}: {len(dups)} rows repeated, e.g. {dups[0]}")
    missing = [r for r in exp if r not in seen]
    extra = [r for r in seen if r not in exp]
    if missing:
        msgs.append(f"{what}: {len(missing)} expected rows missing, e.g. {missing[0]}")
    if extra:
        msgs.append(f"{what}: {len(extra)} unexpected rows, e.g. {extra[0]}")
    return msgs


def same_digest(expected: dict, got: dict, what: str) -> list[str]:
    if expected != got:
        return [f"{what}: digest {got} differs from the checked pass's {expected}"]
    return []


def oracle_rows(sql: str, tables: dict[str, str]) -> list[tuple]:
    """Run ``sql`` on DuckDB with each ``name -> parquet path`` as a view."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchall()
    finally:
        con.close()
