"""DuckDB oracle SQL — ANSI-SQL mirrors of the Spark pipeline stages.

Each constant/formula comes from ``bootleg_spark.synthspec`` so the
Spark DataFrame plans (``bootleg_spark.sources.synth`` and the
operators) and these SQL strings cannot drift. The driver runs these on
pre-registered views of the same parquet (region nation customer
supplier part orders lineitem events documents embeddings) and
hash-compares values against the Spark results.

DuckDB-specific idioms used:
- parallel ``unnest`` of equal-length lists zips positionally (used for
  word positions);
- ``string_split`` (Spark: ``split``).
"""

from __future__ import annotations

from bootleg_spark import synthspec as S
from bootleg_spark.functions.textproc import STOP_WORDS

_STOPLIST_SQL = ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(STOP_WORDS))


def _case(expr: str, names: tuple[str, ...]) -> str:
    branches = " ".join(
        f"WHEN {i} THEN '{n}'" for i, n in enumerate(names[:-1])
    )
    return f"CASE ({expr}) {branches} ELSE '{names[-1]}' END"


# -- base CTEs ---------------------------------------------------------------

WORDS = f"""
words AS (
  SELECT doc_id,
         unnest(range(0, len(string_split(text, ' ')))) AS mention_pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
)"""

ALIASES = f"""
aliases AS (
  SELECT alias, CAST(row_number() OVER (ORDER BY alias) AS BIGINT) AS alias_id
  FROM (
    SELECT DISTINCT word AS alias FROM words
    WHERE len(word) >= 2
      AND word NOT IN ({_STOPLIST_SQL})
      AND NOT regexp_matches(word, '^[0-9]+$')
  )
)"""

ENTITIES = f"""
entities AS (
  SELECT 'Q' || CAST(alias_id * {S.N_VARIANTS} + v.variant AS BIGINT) AS qid,
         CAST(alias_id * {S.N_VARIANTS} + v.variant AS BIGINT) AS qnum,
         CAST(alias_id * {S.N_VARIANTS} + v.variant AS BIGINT) AS eid,
         alias, alias_id, v.variant AS variant,
         CAST((alias_id * {S.SCORE_MULT_ALIAS} + v.variant * {S.SCORE_MULT_VARIANT})
              % {S.SCORE_MOD} AS DOUBLE) AS score,
         {_case('v.variant', S.TYPE_NAMES)} AS type_name,
         alias || ' (' || {_case('v.variant', S.TYPE_NAMES)} || ')' AS title,
         'entity for ' || alias || ' variant ' || CAST(v.variant AS VARCHAR) AS descr
  FROM aliases CROSS JOIN (VALUES (0), (1), (2)) AS v(variant)
)"""

ALIAS_CANDS = f"""
alias_cands AS (
  SELECT alias, qid, qnum, score,
         CAST(row_number() OVER (PARTITION BY alias ORDER BY score DESC, qnum DESC)
              AS INTEGER) AS rank
  FROM entities
  QUALIFY rank <= {S.MAX_CANDIDATES}
)"""


def _kg_edge_sql(a: int, b: int, v2: int) -> str:
    obj = f"(1 + (qnum * {a} + {b}) % n.n) * {S.N_VARIANTS} + {v2}"
    return f"""
  SELECT qid AS subj_qid,
         {_case(f'(qnum + {v2}) % 3', S.REL_NAMES)} AS rel,
         'Q' || CAST({obj} AS BIGINT) AS obj_qid,
         qnum AS subj_qnum,
         CAST({obj} AS BIGINT) AS obj_qnum
  FROM entities CROSS JOIN (SELECT count(DISTINCT alias_id) AS n FROM entities) n
  WHERE {obj} <> qnum"""


KG_RELATIONS = (
    "\nkg_relations AS (\n  SELECT DISTINCT subj_qid, rel, obj_qid, subj_qnum, obj_qnum FROM ("
    + "\n  UNION ALL".join(
        _kg_edge_sql(a, b, v2) for (a, b) in S.KG_EDGES for v2 in range(S.N_VARIANTS)
    )
    + "\n  )\n)"
)

REDIRECTS = """
redirects AS (
  SELECT qid AS src_qid, 'Q' || CAST(qnum - 1 AS BIGINT) AS dst_qid
  FROM entities
  WHERE alias_id % 3 = 0 AND variant > 0
)"""

# -- pipeline CTEs ------------------------------------------------------------

MENTIONS = """
mentions AS (
  SELECT w.doc_id, w.mention_pos, a.alias
  FROM words w JOIN aliases a ON w.word = a.alias
)"""

LINKED = """
linked AS (
  SELECT m.doc_id, m.mention_pos, m.alias, c.qid
  FROM mentions m JOIN alias_cands c ON m.alias = c.alias AND c.rank = 1
)"""

DOC_ENTITIES = """
doc_entities AS (
  SELECT DISTINCT doc_id, qid FROM linked
)"""

TRIPLES = """
triples AS (
  SELECT DISTINCT k.subj_qid AS subj, k.rel AS pred, k.obj_qid AS obj
  FROM doc_entities e1
  JOIN doc_entities e2 ON e1.doc_id = e2.doc_id AND e1.qid <> e2.qid
  JOIN kg_relations k ON k.subj_qid = e1.qid AND k.obj_qid = e2.qid
)"""


def with_ctes(*ctes: str, final: str) -> str:
    return "WITH " + ",".join(ctes) + "\n" + final


# -- shared fragment builders (single source for formulas duplicated
# across oracle strings — change here, every consumer follows) ---------------


def shingle_body_sql(n: int, src: str = "documents", extra_where: str = "") -> str:
    """CTE body: DISTINCT (id, shingle) over word n-grams of src.text —
    the SQL mirror of ``explode(dsh)`` over ``operators.dedup.doc_shingle_arrays``."""
    where = f" AND {extra_where}" if extra_where else ""
    return f"""
  SELECT DISTINCT doc_id AS id, s.shingle
  FROM {src},
  LATERAL (
    SELECT array_to_string(list_slice(string_split(text,' '), i + 1, i + {n}), ' ') AS shingle
    FROM unnest(range(0, greatest(len(string_split(text,' ')) - {n - 1}, 0))) AS t(i)
  ) s
  WHERE len(s.shingle) > 0{where}"""


def band_minima_body_sql() -> str:
    """CTE body: per-(id, band) MinHash bucket minima over a ``sh``
    CTE — mirror of ``operators.dedup._band_minima_arrays``."""
    vals = ",".join(f"({b})" for b in range(8))
    return f"""
  SELECT id, b.band AS band, min(md5(CAST(b.band AS VARCHAR) || ':' || shingle)) AS min_hash
  FROM sh CROSS JOIN (VALUES {vals}) b(band)
  GROUP BY id, b.band"""


def marker_count_sql(lang: str) -> str:
    """Count of a language's marker words in text — mirror of
    ``operators.textstats._count_in`` over ``LANG_MARKERS[lang]``."""
    from bootleg_spark.operators.textstats import LANG_MARKERS

    ms = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"len(list_filter(string_split(text,' '), w -> w IN ({ms})))"


def lang_case_sql() -> str:
    """pred_lang CASE — renders the SAME ``lang_ladder_rules`` the
    Spark expressions render (one ladder definition, three call
    sites)."""
    from bootleg_spark.operators.textstats import lang_ladder_rules

    cnt = {lang: marker_count_sql(lang) for lang, _ in lang_ladder_rules()}
    whens = []
    for lang, rest in lang_ladder_rules():
        conds = [f"{cnt[lang]} >= {cnt[r]}" for r in rest] + [f"{cnt[lang]} > 0"]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + "\n              ".join(whens) + "\n              ELSE 'und' END"


def md5_draw_sql(id_expr: str, seed: int) -> str:
    """Uniform draw in [0,1) — mirror of ``sampling._uniform_draw``:
    md5 of "seed:id", first 8 hex digits as a big-endian uint, / 2^32.
    DuckDB parses the hex via the '0x' string cast; verified equal to
    Spark's conv(substring(md5,1,8),16,10)."""
    return (
        f"(('0x' || substr(md5('{seed}:' || CAST({id_expr} AS VARCHAR)), 1, 8))::UBIGINT"
        f" / 4294967296.0)"
    )


def quality_sql() -> str:
    """quality score — mirror of ``textstats.quality_exprs['quality']``."""
    n_words = "len(string_split(text,' '))"
    mean_len = f"(len(text) - ({n_words} - 1)) * 1.0 / {n_words}"
    stop_ratio = f"round({marker_count_sql('en')} * 1.0 / {n_words}, 6)"
    return f"""round(CASE WHEN {n_words} >= 5
                   AND {mean_len} >= 2.0
                   AND {mean_len} <= 12.0
             THEN 1.0 - abs({stop_ratio} - 0.05)
             ELSE 0.0 END, 6)"""


BASE = (WORDS, ALIASES, ENTITIES, ALIAS_CANDS, KG_RELATIONS)
PIPELINE = BASE + (MENTIONS, LINKED, DOC_ENTITIES, TRIPLES)
