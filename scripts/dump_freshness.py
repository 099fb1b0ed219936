"""Regenerate COVERAGE.md's driver-evidence freshness table.

For every queries() entry: the latest round whose CORRECTNESS_r{N}.json
has a fully-green row (rows+schema+hash, no err), and whether the entry
sits inside the driver gate's 50-query window under the current dict
order. Run after reordering queries() or when a new CORRECTNESS file
lands, and paste the output over the table in COVERAGE.md (§ "Driver
evidence freshness").

Usage: python scripts/dump_freshness.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

WINDOW = 50


def green(entry: dict | None) -> bool:
    return bool(
        entry
        and all(entry.get(x) for x in ("rows_match", "schema_match", "hash_match"))
        and not entry.get("err")
    )


def main() -> None:
    import __spark_entry__ as entrymod

    rounds: list[tuple[str, dict]] = []
    for path in sorted(glob.glob(str(ROOT / "CORRECTNESS_r*.json"))):
        tag = re.search(r"CORRECTNESS_(r\d+)\.json", os.path.basename(path)).group(1)
        rounds.append((tag, json.load(open(path))))

    names = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    n_rows_only = len([k for k in names if k not in oracles])
    # the count line COVERAGE.md's prose must quote (VERDICT r4 nit #2:
    # the prose said "71" while the dict had 79 — emit it, don't hand-edit)
    print(
        f"Every `queries()` entry ({len(names)}) carries an oracle — "
        f"{n_rows_only} rows-only entries.\n"
    )
    print("| # | query | last driver-green | in next-round window |")
    print("|---|---|---|---|")
    stale = []
    for i, k in enumerate(names):
        last = next((tag for tag, data in reversed(rounds) if green(data.get(k))), "never")
        in_window = i < WINDOW
        if not in_window and last == "never":
            stale.append(k)
        print(
            f"| {i + 1} | `{k}` | {last} | "
            f"{'yes' if in_window else 'no (stable tail)'} |"
        )
    if stale:
        print(f"\nWARNING: never-checked queries OUTSIDE the window: {stale}",
              file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
