"""Shared constants for the deterministic synthetic corpus derivation.

The pipeline's test/bench input is an Iceberg-shaped ``pages`` table
(url, warc_ts, html, text, lang — BASELINE.json input_hint) plus a
Bootleg-style entity profile (aliases → scored candidate entities,
types, KG relations — reference bootleg/symbols/entity_profile.py).
At sandbox scale both are derived *relationally and deterministically*
from the driver-provided ``documents`` parquet, with every formula
below mirrored 1:1 in the DuckDB oracle SQL (``bootleg_spark.oracle``)
so the driver's correctness gate checks each stage end-to-end.

Keep all magic numbers HERE so Spark and oracle cannot drift.
"""

from __future__ import annotations

# pages
URL_PREFIX = "https://example.org/"
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z; warc_ts = BASE_EPOCH + doc_id

# entity profile
N_VARIANTS = 3  # entities per alias (Q{alias_id*3+v}, v in 0..2)
MAX_CANDIDATES = 3  # reference test fixture value (entity_mappings/config.json)
SCORE_MULT_ALIAS = 31
SCORE_MULT_VARIANT = 57
SCORE_MOD = 100
TYPE_NAMES = ("organization", "place", "concept")
REL_NAMES = ("works_with", "located_in", "part_of")
# kg edges are alias-targeted: entity k points at target alias
# t = 1 + ((k*A + B) % n_aliases), with one edge per target VARIANT
# (obj qnum = t*3 + v2, rel = REL_NAMES[(k + v2) % 3]) — so whichever
# variant a scorer picks for the co-mentioned alias, an edge exists
KG_EDGES = ((7, 5), (13, 1))

# entity-string budgets (reference defaults, bootleg_args.py:85-109)
MAX_ENT_KG_LEN = 100
MAX_ENT_TYPE_LEN = 20

# scoring
EMB_DIM = 64
PROB_THRESHOLD = 0.0
MAX_SEQ_WINDOW_LEN = 64
