"""Mention extraction.

Three extractors, mirroring the reference's pluggable
``MENTION_EXTRACTOR_OPTIONS`` (bootleg/end2end/extract_mentions.py:27-30;
the third, NER-driven slot lives at the bottom of this module):

- :func:`extract_mentions_ngram` — full Bootleg semantics
  (bootleg/utils/mention_extractor_utils.py:110-204): longest-first
  n-gram search against the alias dictionary with noun-phrase /
  split-noun / stopword-boundary / numeric filters, plural-variant
  lookups, greedy overlap suppression, span-sorted output. Runs as an
  Arrow-batched pandas UDF with the alias set broadcast. The reference
  derives noun-ness from spaCy POS tags; spaCy is not available in this
  environment, so noun-ness is the deterministic POS-free heuristic
  "not a stopword, not punctuation, not numeric" (risk + fallback noted
  in SURVEY.md §7.4). On the reference's own annotator fixture this
  reproduces the golden output (tests/test_end_to_end/
  test_annotator.py:66-80): see tests/test_mentions.py.

- :func:`extract_mentions_word` — pure-relational single-token matcher
  (posexplode + lnrm + broadcast semi-join). Fully expressible in ANSI
  SQL, so it anchors the DuckDB oracle for every downstream relational
  stage. It is also the 100-TB fast path when the alias dictionary is
  single-token: no Python at all, whole-stage codegen end to end.

Both emit one row per mention: (input columns.., mention_pos, alias,
char_start, char_end).
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from bootleg_spark.functions.lnrm import lnrm, lnrm_ascii_col
from bootleg_spark.functions.textproc import PUNC, STOP_WORDS, _PUNC_TABLE

_MENTION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("alias", StringType()),
            StructField("char_start", IntegerType()),
            StructField("char_end", IntegerType()),
        ]
    )
)

_RE_TOKEN = re.compile(r"\S+")

# texts where every token lnrms to itself (lowercased): only ASCII
# alnum + single spaces — the precondition for the dead-pass skip in
# ngram_extract_aliases (any punctuation/unicode can shrink a gram's
# lnrm word count, e.g. 'Foo & Bar' -> 'foo bar'). Checked with
# fullmatch, NOT match+'$': '$' matches before a trailing newline, so
# 'the spark\n' would wrongly take the clean path and drop the final
# mention ('spark\n'.lower() never keys the dict).
_SKIP_SAFE_RE = re.compile(r"[A-Za-z0-9 ]*")


def tokenize_with_offsets(text: str, clean: bool | None = None) -> list[tuple[str, int]]:
    """Whitespace tokens with char offsets, peeling boundary punctuation
    into separate tokens (deterministic stand-in for spaCy's tokenizer;
    the reference reads ``token.idx`` per spaCy token,
    mention_extractor_utils.py:118-120).

    ``clean`` short-circuits the pure-alnum+space check when the caller
    already matched _SKIP_SAFE_RE (ngram_extract_aliases does — avoids a
    second O(len) regex scan per document on the hot path)."""
    # fast path: pure alnum+space text has nothing to peel — skip the
    # per-token boundary loops AND the regex Match objects (tokenization
    # was ~36% of fused-path Python time on the clean web corpus;
    # str.split + a running offset is ~4× the finditer form)
    if clean is None:
        clean = _SKIP_SAFE_RE.fullmatch(text) is not None
    if clean:
        out = []
        pos = 0
        for w in text.split(" "):
            if w:
                out.append((w, pos))
            pos += len(w) + 1
        return out
    out: list[tuple[str, int]] = []
    for m in _RE_TOKEN.finditer(text):
        chunk, idx = m.group(), m.start()
        # peel leading punctuation
        while chunk and chunk[0] in PUNC:
            out.append((chunk[0], idx))
            chunk, idx = chunk[1:], idx + 1
        # peel trailing punctuation; split possessive "'s" into its own
        # token like spaCy does (tagged PART there → non-noun here)
        tail: list[tuple[str, int]] = []
        while chunk and chunk[-1] in PUNC and not chunk.endswith("'s"):
            tail.append((chunk[-1], idx + len(chunk) - 1))
            chunk = chunk[:-1]
        if chunk.endswith("'s") and len(chunk) > 2:
            tail.append(("'s", idx + len(chunk) - 2))
            chunk = chunk[:-2]
        if chunk:
            out.append((chunk, idx))
        out.extend(reversed(tail))
    return out


@lru_cache(maxsize=1 << 18)
def _pos_keep(tok: str) -> bool:
    """POS-free noun-ness heuristic (replaces spaCy KEEP_POS={PROPN,NOUN},
    mention_extractor_utils.py:36). Memoized per token."""
    t = tok.lower()
    if t in STOP_WORDS or t in PUNC or t in ("s", "'s"):
        return False
    n = lnrm(t)
    return bool(n) and not n.isnumeric()


def ngram_extract_aliases(
    text: str,
    all_aliases,
    min_alias_len: int = 1,
    max_alias_len: int = 6,
    dict_max_words: int | None = None,
    _generic_only: bool = False,
) -> list[tuple[str, int, int]]:
    """Pure-Python n-gram mention extractor.

    Returns [(alias, char_start, char_end)] sorted by span, reproducing
    ``ngram_spacy_extract_aliases`` (mention_extractor_utils.py:138-204)
    with the POS-free noun heuristic.

    ``dict_max_words`` (the longest alias's word count) enables an exact
    dead-pass skip, valid ONLY when no token of the gram can shrink or
    vanish under lnrm — i.e. the text is pure ASCII alnum+space, so an
    n-token window always lnrms to exactly n words and cannot key a
    shorter dict entry. Any other character (apostrophes merging "'s",
    punctuation-only tokens that lnrm deletes — 'Foo & Bar' → 'foo bar',
    combining marks) disables the skip for the whole row. ≈halves
    extractor time on clean web text with a short dictionary; output
    provably unchanged (tests/test_mentions.py pins the punctuated case).

    ``_generic_only`` (tests only) disables every fast path — the clean
    tokenizer, the dead-pass skip, and the specialized unigram pass — so
    differential tests (tests/test_mentions.py hypothesis fuzz) can pin
    the optimized paths against the one generic loop.
    """
    # _generic_only forces skip_safe False, which also routes
    # tokenize_with_offsets down its generic finditer path
    skip_safe = (not _generic_only) and _SKIP_SAFE_RE.fullmatch(text) is not None
    toks = tokenize_with_offsets(text, clean=skip_safe)
    if not toks:
        return []
    keep = [_pos_keep(t) for t, _ in toks]
    used: list[tuple[str, int, int]] = []
    n_toks = len(toks)
    for n in range(min(max_alias_len, n_toks), min_alias_len - 1, -1):
        if dict_max_words is not None and n > dict_max_words and skip_safe:
            continue
        if n == 1 and not _generic_only:
            # specialized single-token pass (the hot pass on web text):
            # every generic filter below is subsumed by _pos_keep for a
            # 1-gram — keep=True already excludes stopwords, punctuation,
            # "'s"/"s" and numerics — so only the neighbor checks, the
            # dict lookup and overlap suppression remain; no per-window
            # list slicing or joining. On pure-alnum text lnrm(tok) ==
            # tok.lower() and the possessive/punct variants are
            # identities, so they are skipped too. (1.8× fused-path
            # Python throughput measured — 12.9k → 23.3k pages/s
            # single-core; output pinned identical by the oracle gate +
            # annotator goldens.)
            for start in range(n_toks):
                if not keep[start]:
                    continue
                if start > 0 and keep[start - 1]:
                    continue
                if start + 1 < n_toks and keep[start + 1]:
                    continue
                tok, start_char = toks[start]
                end_char = start_char + len(tok)
                final = None
                g1 = tok.lower() if skip_safe else lnrm(tok)
                if g1 in all_aliases:
                    final = g1
                elif not skip_safe:
                    g3 = lnrm(tok.replace("'s", ""))
                    if g3 in all_aliases:
                        final = g3
                    else:
                        g4 = lnrm(g3.translate(_PUNC_TABLE))
                        if g4 in all_aliases:
                            final = g4
                if final is None:
                    continue
                if any(start_char < ue and end_char > us for _, us, ue in used):
                    continue
                used.append((final, start_char, end_char))
            continue
        for start in range(0, n_toks - n + 1):
            gram = toks[start : start + n]
            start_char = gram[0][1]
            end_char = gram[-1][1] + len(gram[-1][0])
            gram_keep = keep[start : start + n]
            # is_noun_phrase (mention_extractor_utils.py:54-59)
            if not any(gram_keep):
                continue
            # is_split_noun (:62-80): noun continues left or right
            if start > 0 and gram_keep[0] and keep[start - 1]:
                continue
            if start + n < n_toks and gram_keep[-1] and keep[start + n]:
                continue
            # bounded_by_stopword (:83-100)
            first_t, last_t = gram[0][0], gram[-1][0]
            is_important = first_t[0].isupper() or start == 0
            if first_t.lower() in ("s", "'s") or last_t.lower() in ("s", "'s"):
                continue
            if not is_important and (first_t.lower() in STOP_WORDS or first_t.lower() in PUNC):
                continue
            if last_t.lower() in STOP_WORDS or last_t.lower() in PUNC:
                continue
            # is_numeric (:103-107)
            joined = " ".join(t for t, _ in gram)
            if lnrm(joined).isnumeric():
                continue
            # alias-dict lookup with plural/punct variants (:160-178)
            final = None
            g1 = lnrm(joined)
            if g1 in all_aliases:
                final = g1
            else:
                g2 = lnrm(joined.replace(" 's", "'s"))
                if g2 in all_aliases:
                    final = g2
                else:
                    g3 = lnrm(joined.replace("'s", ""))
                    if g3 in all_aliases:
                        final = g3
                    else:
                        g4 = lnrm(g3.translate(_PUNC_TABLE))
                        if g4 in all_aliases:
                            final = g4
            if final is None:
                continue
            # greedy overlap suppression, longest-first wins (:180-196)
            if any(start_char < ue and end_char > us for _, us, ue in used):
                continue
            used.append((final, start_char, end_char))
    return sorted(used, key=lambda e: (e[1], e[2]))


def _explode_mentions(df: DataFrame, col: str, make_spans) -> DataFrame:
    """One row per mention: (df columns.., mention_pos, alias,
    char_start, char_end), from an Arrow-batched pandas UDF over
    ``col``. ``make_spans()`` runs on the executor once per batch (where
    it reads the broadcasts) and returns ``value -> [(alias, start,
    end)]``; null values yield no mentions."""

    @F.pandas_udf(_MENTION_SCHEMA)
    def _extract(values: pd.Series) -> pd.Series:
        spans = make_spans()
        return values.map(
            lambda v: []
            if v is None
            else [{"alias": a, "char_start": s, "char_end": e} for a, s, e in spans(v)]
        )

    exploded = df.select("*", F.posexplode(_extract(F.col(col))).alias("mention_pos", "_m"))
    return exploded.select(
        *df.columns,
        F.col("mention_pos").cast("int"),
        F.col("_m.alias").alias("alias"),
        F.col("_m.char_start").alias("char_start"),
        F.col("_m.char_end").alias("char_end"),
    )


def max_alias_words(aliases) -> int:
    """The longest alias's word count: the ``dict_max_words`` bound of
    :func:`ngram_extract_aliases`' dead-pass skip."""
    return max((len(a.split()) for a in aliases), default=1)


def _ngram_spans(alias_set_bc):
    """``make_spans`` over the broadcast alias set. The word bound is
    taken here, once, on the driver; a batch only reads the broadcast."""
    dict_w = max_alias_words(alias_set_bc.value)

    def make_spans():
        aliases = alias_set_bc.value
        return lambda t: ngram_extract_aliases(t, aliases, dict_max_words=dict_w)

    return make_spans


def extract_mentions_ngram(df: DataFrame, alias_set_bc, text_col: str = "text") -> DataFrame:
    """Explode each row into mention rows via the n-gram extractor.

    ``alias_set_bc`` is a ``sc.broadcast``-ed frozenset of lnrm aliases —
    Spark's shared read-only memory, replacing the reference's mmap'd
    marisa trie shared across pool workers (extract_mentions.py:130).
    """
    return _explode_mentions(df, text_col, _ngram_spans(alias_set_bc))


def extract_mentions_ngram_from_html(df: DataFrame, alias_set_bc) -> DataFrame:
    """:func:`extract_mentions_ngram` with the boilerplate strip FUSED
    into the same pandas UDF (guide §4.1: each chained ArrowEvalPython
    node spawns its own Python worker per task and round-trips the page
    text through Arrow; the r06 ``mentions_ngram`` plan carried two).
    One worker, one hop, byte-identical output — ``extract_html_text``
    is deterministic and is exactly what the staged plan ran first."""
    from bootleg_spark.functions.textproc import extract_html_text

    ngram_spans = _ngram_spans(alias_set_bc)

    def make_spans():
        spans = ngram_spans()
        return lambda h: spans(extract_html_text(bytes(h)))

    return _explode_mentions(df, "html", make_spans)


def extract_mentions_word(df: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Relational single-token mention extraction.

    posexplode(split(text)) → normalize → broadcast hash join with the
    alias dimension, entirely inside whole-stage codegen — the shape
    that survives 100 TB.

    Normalization fast path: aliases are lnrm images and lnrm is
    idempotent, so a word whose ``lower()`` equals an alias needs no
    regex at all (if lower(w) is an lnrm fixed point, lnrm(w) =
    lower(w)). Single scan, two broadcast LEFT joins: the cheap
    lowercase key first, then the two-regex lnrm key computed ONLY for
    rows the first join missed (conditional expression — regexes never
    run on the fast-path majority).
    """
    fast_dim = alias_df.select(F.col("alias").alias("_fast_alias"))
    slow_dim = alias_df.select(F.col("alias").alias("_slow_alias"))
    words = df.select(
        "*", F.posexplode(F.split(F.col("text"), " ")).alias("mention_pos", "_word")
    )
    j1 = words.join(
        F.broadcast(fast_dim), F.lower(F.col("_word")) == F.col("_fast_alias"), "left"
    )
    # lnrm fast-skip (r07): a word already matching ^[a-z0-9]*$ is an
    # lnrm fixed point with lower(w) == w, so its slow key equals the
    # fast key that just MISSED — the slow join can only miss too.
    # Null the key instead of computing it: one anchored char-class
    # probe replaces lower + two substituting regexes + trim on the
    # clean-word majority of the corpus (guide §1.2 "per-task work").
    j2 = j1.withColumn(
        "_lnrm",
        F.when(
            F.col("_fast_alias").isNull() & ~F.col("_word").rlike("^[a-z0-9]*$"),
            lnrm_ascii_col(F.col("_word")),
        ),
    ).join(F.broadcast(slow_dim), F.col("_lnrm") == F.col("_slow_alias"), "left")
    return (
        j2.withColumn("alias", F.coalesce("_fast_alias", "_slow_alias"))
        .where(F.col("alias").isNotNull() & (F.length("alias") > 0))
        .select(*df.columns, "mention_pos", "alias")
    )


# ---------------------------------------------------------------------------
# NER-based extractor (third strategy slot)
# ---------------------------------------------------------------------------

# spaCy entity classes the reference keeps (mention_extractor_utils.py:38-48)
NER_CLASSES = frozenset(
    {"PERSON", "NORP", "ORG", "GPE", "LOC", "PRODUCT", "EVENT", "WORK_OF_ART", "LANGUAGE"}
)


def regex_ner_spans(text: str) -> list[tuple[str, int, int, str]]:
    """Deterministic tagger for cased text: maximal runs of capitalized
    tokens -> 'ORG' spans, digit runs -> 'CARDINAL' (filtered out by
    NER_CLASSES, exercising the class filter). A real spaCy/other
    pipeline slots into the same (text, start, end, label) shape."""
    spans: list[tuple[str, int, int, str]] = []
    toks = tokenize_with_offsets(text)
    i = 0
    while i < len(toks):
        tok, idx = toks[i]
        if tok[:1].isupper():
            j = i
            while j + 1 < len(toks) and toks[j + 1][0][:1].isupper():
                j += 1
            end = toks[j][1] + len(toks[j][0])
            spans.append((text[idx:end], idx, end, "ORG"))
            i = j + 1
        elif tok.isdigit():
            spans.append((tok, idx, idx + len(tok), "CARDINAL"))
            i += 1
        else:
            i += 1
    return spans


def gazetteer_ner_fn(gazetteer: dict[str, str]):
    """Build a tagger from a surface->label gazetteer (lnrm'd keys):
    greedy longest-first scan, the deterministic stand-in this
    environment uses for spaCy NER (spaCy absent — SURVEY §7.4). The
    DISPATCH + class-filter + variant + overlap logic around it
    (ner_extract_aliases) is the real reference semantics."""

    def _tag(text: str) -> list[tuple[str, int, int, str]]:
        toks = tokenize_with_offsets(text)
        spans: list[tuple[str, int, int, str]] = []
        n_toks = len(toks)
        taken = [False] * n_toks
        for n in range(min(6, n_toks), 0, -1):
            for start in range(0, n_toks - n + 1):
                if any(taken[start : start + n]):
                    continue
                gram = toks[start : start + n]
                surface = lnrm(" ".join(t for t, _ in gram))
                label = gazetteer.get(surface)
                if label is not None:
                    s = gram[0][1]
                    e = gram[-1][1] + len(gram[-1][0])
                    spans.append((text[s:e], s, e, label))
                    for t in range(start, start + n):
                        taken[t] = True
        spans.sort(key=lambda x: (x[1], x[2]))
        return spans

    return _tag


def ner_extract_aliases(text: str, all_aliases, ner_fn) -> list[tuple[str, int, int]]:
    """NER-driven mention extraction (spacy_extract_aliases,
    mention_extractor_utils.py:207-268): keep tagged spans whose class
    is in NER_CLASSES, lnrm them, try the possessive merge/strip
    variants against the alias dict, greedily suppress overlaps
    (first-come, spans arrive largest-context-first from the tagger),
    sort by span."""
    used: list[tuple[str, int, int]] = []
    for etext, start, end, label in ner_fn(text):
        if label not in NER_CLASSES:
            continue
        gram = lnrm(etext)
        n_words = len(gram.split())
        if n_words < 1 or n_words > 6:
            continue
        final = None
        if gram in all_aliases:
            final = gram
        else:
            merged = lnrm(etext.replace(" 's", "'s"))
            if merged in all_aliases:
                final = merged
            else:
                noplural = lnrm(etext.replace("'s", ""))
                if noplural in all_aliases:
                    final = noplural
        if final is None:
            continue
        if any(start < ue and end > us for _, us, ue in used):
            continue
        used.append((final, start, end))
    return sorted(used, key=lambda x: (x[1], x[2]))


def extract_mentions_ner(df: DataFrame, alias_set_bc, gazetteer_bc=None) -> DataFrame:
    """Explode rows into NER-extracted mention rows — the third
    extractor strategy (MENTION_EXTRACTOR_OPTIONS['spacy'],
    extract_mentions.py:27-30). ``gazetteer_bc`` (broadcast
    surface->label dict) selects the deterministic gazetteer tagger;
    without it the capitalized-run regex tagger runs."""

    def make_spans():
        aliases = alias_set_bc.value
        ner_fn = (
            gazetteer_ner_fn(gazetteer_bc.value)
            if gazetteer_bc is not None
            else regex_ner_spans
        )
        return lambda t: ner_extract_aliases(t, aliases, ner_fn)

    return _explode_mentions(df, "text", make_spans)


def extract_mentions_ngram_relational_multi(
    df: DataFrame,
    alias_df: DataFrame,
    min_alias_len: int = 1,
    max_alias_len: int = 6,
) -> DataFrame:
    """Multi-word generalization of
    :func:`extract_mentions_ngram_relational` — the full n-gram
    extractor (bootleg/utils/mention_extractor_utils.py:138-204) as a
    relational plan, valid on the same guarded class (single-spaced
    ``[A-Za-z0-9]+`` words) but for dictionaries of ANY word count:
    real Bootleg alias maps are mostly multi-word, so the mentions-only
    JVM fast path needs this form.

    On the guarded class the Python semantics reduce exactly to:

    - candidate windows (i, n), n = max_alias_len..min_alias_len:
      ≥1 noun-ish token; no noun continuation across either boundary;
      boundary tokens not 's'; first token not a stopword unless
      capitalized or sentence-initial; last token not a stopword
      (numeric can only fire for n=1, where the noun-ish flag already
      excludes digits; the 's/punct lookup variants are identities —
      no apostrophes or punctuation exist in the class);
    - dictionary membership of the lowercased gram (lnrm == lower);
    - greedy longest-first acceptance in (n desc, i asc) order, then
      span-sorted output.

    Plan shape and the row-copy amplification cap: a naive explode of
    every (n, i) window materializes ~Σ_{n=1..6}(L−n+1) ≈ 6·L rows per
    L-token document, each duplicating the full ``_arr/_arrl/_keep``
    doc arrays — a ~6×-per-token row-copy amplification (no shuffle, it
    streams through codegen, but real memory-bandwidth cost; VERDICT r4
    nit #3). So the explode runs at START grain instead: an array-lambda filter keeps only indices that
    pass every n-INDEPENDENT necessary condition — no left noun
    continuation, first token not ``'s'``, first token a stopword only
    when capitalized/sentence-initial, and (the big one) first token
    present among the alias dictionary's FIRST tokens, evaluated as a
    codegen ``InSet`` hash probe built from the (broadcast-sized by
    contract) alias dim at plan time. Only surviving starts explode
    their ≤6 n-windows, so the heavy arrays are copied ~(matched-start
    fraction)·6 times per token instead of 6. Measured (BENCH.md
    "Multi-word matcher window cap (round 5)"): neutral (0.99–1.02×) when dictionary first tokens
    densely cover the corpus — the interpreted filter pass offsets the
    explode savings — and 1.40× on 600-token docs with sparse coverage,
    the realistic alias-map shape. Then ONE broadcast join keyed
    by the gram string, and a per-document fold implementing the greedy
    acceptance over the few dict-matched candidates (interpreted HOF,
    but at candidate grain — a handful of elements per document).
    Equality with the Python extractor is pinned by a hypothesis
    differential fuzz over capitalized multi-word vocab
    (tests/test_mentions.py).
    """
    stop = sorted(STOP_WORDS)

    def nounish(w):
        return (~w.isin(*stop)) & (~w.rlike("^[0-9]+$")) & (F.length(w) > 0)

    base = (
        df.withColumn("_arr", F.split(F.col("text"), " "))
        .withColumn("_arrl", F.transform(F.col("_arr"), F.lower))
        .withColumn("_keep", F.transform(F.col("_arrl"), nounish))
        .withColumn("_len", F.size(F.col("_arr")))
        # documents shorter than min_alias_len have no windows — and a
        # descending F.sequence with start < stop THROWS rather than
        # yielding empty (Python's range just yields nothing), so the
        # filter must run before the explode
        .where(F.col("_len") >= min_alias_len)
    )

    def keep_at(j):
        return F.coalesce(F.get(F.col("_keep"), j), F.lit(False))

    def start_ok(i):
        """n-independent NECESSARY conditions for any window at i —
        must be a superset of the full candidate predicate below (the
        n-dependent checks re-run after the explode)."""
        first_l = F.element_at(F.col("_arrl"), i + 1)
        split_left = (i > 0) & keep_at(i) & keep_at(i - 1)
        is_important = (i == 0) | F.substring(
            F.element_at(F.col("_arr"), i + 1), 1, 1
        ).rlike("[A-Z]")
        ok = (
            ~split_left
            & ~first_l.isin("s")
            & (is_important | ~first_l.isin(*stop))
            & (i <= F.col("_len") - min_alias_len)
        )
        return ok

    # dictionary first tokens, collected from the alias dim (which
    # the join below broadcasts anyway — same memory contract).
    # >10 values makes Catalyst compile isin() to an InSet hash
    # probe, O(1) per token at any dictionary size.
    firsts = sorted(
        {
            (r["alias"] or "").split(" ")[0]
            for r in alias_df.select("alias").distinct().collect()
        }
    )
    starts = F.filter(
        F.sequence(F.lit(0), F.col("_len") - 1),
        lambda i: start_ok(i) & F.element_at(F.col("_arrl"), i + 1).isin(*firsts),
    )
    si = base.withColumn("_i", F.explode(starts))
    wins = si.withColumn(
        "_n",
        F.explode(
            F.sequence(
                F.least(F.lit(max_alias_len), F.col("_len") - F.col("_i")),
                F.lit(min_alias_len),
                F.lit(-1),
            )
        ),
    )

    i, n = F.col("_i"), F.col("_n")
    last_l = F.element_at(F.col("_arrl"), i + n)
    any_keep = F.array_contains(F.slice(F.col("_keep"), i + 1, n), True)
    split_right = (i + n < F.col("_len")) & keep_at(i + n - 1) & keep_at(i + n)
    bad_tail = last_l.isin("s") | last_l.isin(*stop)
    cand = wins.where(any_keep & ~split_right & ~bad_tail)
    cand = cand.withColumn("_gram", F.concat_ws(" ", F.slice(F.col("_arrl"), i + 1, n)))
    hits = cand.join(
        F.broadcast(alias_df.select(F.col("alias").alias("_gram"))), "_gram"
    )
    # greedy longest-first acceptance per document: sort candidates by
    # (n desc, i asc), fold keeping non-overlapping token ranges. The
    # fold is an interpreted HOF but runs over dict-MATCHED candidates
    # only (a handful per document).
    per_doc = hits.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct((-n).alias("negn"), i.alias("i"), n.alias("n"), F.col("_gram").alias("g")))
        ).alias("_cands"),
        F.first("_arr").alias("_arr"),
        *[F.first(c).alias(c) for c in df.columns if c != "doc_id"],
    )
    empty = F.array().cast(
        "array<struct<negn:int,i:int,n:int,g:string>>"
    )
    accepted = F.aggregate(
        F.col("_cands"),
        empty,
        lambda acc, c: F.when(
            F.exists(acc, lambda a: (a["i"] < c["i"] + c["n"]) & (a["i"] + a["n"] > c["i"])),
            acc,
        ).otherwise(F.concat(acc, F.array(c))),
    )
    out = per_doc.withColumn("_m", F.explode(accepted))
    mi, mn = F.col("_m.i"), F.col("_m.n")
    char_start = F.when(mi == 0, F.lit(0)).otherwise(
        F.length(F.concat_ws(" ", F.slice(F.col("_arr"), 1, mi))) + 1
    )
    gram_len = F.length(F.concat_ws(" ", F.slice(F.col("_arr"), mi + 1, mn)))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy(mi)
    return (
        out.withColumn("char_start", char_start.cast("int"))
        .withColumn("char_end", (F.col("char_start") + gram_len).cast("int"))
        .withColumn("mention_pos", (F.row_number().over(w) - 1).cast("int"))
        .select(
            *df.columns,
            "mention_pos",
            F.col("_m.g").alias("alias"),
            "char_start",
            "char_end",
        )
    )


def extract_mentions_ngram_relational(
    df: DataFrame,
    alias_df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """EXACT ngram-extractor semantics as pure JVM expressions, valid
    on rows the caller guards to be single-spaced alnum words
    (``[A-Za-z0-9]+( [A-Za-z0-9]+)*``) with a single-token alias
    dictionary: there tokenize_with_offsets == split(' '), lnrm ==
    lower, and every multi-gram pass is provably dead (no
    possessives), so the extractor reduces to the relational model the
    mentions_ngram ORACLE already encodes — a token is a mention iff
    its lowercase form is noun-ish (non-stopword, non-numeric), has no
    noun-ish neighbor, and is in the dictionary. Mixed case is handled
    exactly as the Python clean fast path does (``tok.lower()`` for
    both the noun heuristic and the dict key; spans on the original
    text).

    Whole plan: array lambdas (codegen) to find isolated noun-ish token
    indices, explode ONLY those (≈1% of tokens on web text), one
    broadcast join for dictionary membership, char spans by prefix
    length. Output schema matches :func:`extract_mentions_ngram`;
    equality with the Python extractor on guarded rows is pinned by
    test_parity + the triples_neural/linked_neural golden oracles.
    """
    stop = sorted(STOP_WORDS)

    def nounish(w):
        lw = F.lower(w)
        return (~lw.isin(*stop)) & (~lw.rlike("^[0-9]+$")) & (F.length(lw) > 0)

    # materialize the flag array as a COLUMN before indexing into it:
    # referencing the transform() expression directly inside the filter
    # lambda would INLINE it at every flag_at() call — 3 full-array
    # stoplist+regex evaluations per token, O(n²) per page (measured
    # 40x slower at bench scale)
    with_flags = df.withColumn("_arr", F.split(F.col(text_col), " ")).withColumn(
        "_flags", F.transform(F.col("_arr"), nounish)
    )

    def flag_at(i):
        return F.coalesce(F.get(F.col("_flags"), i), F.lit(False))

    idxs = F.filter(
        F.sequence(F.lit(0), F.size(F.col("_arr")) - 1),
        lambda i: flag_at(i) & ~flag_at(i - 1) & ~flag_at(i + 1),
    )
    exploded = with_flags.withColumn("_tok_idx", F.explode(idxs)).withColumn(
        "_w", F.get("_arr", "_tok_idx")
    )
    hits = exploded.join(
        F.broadcast(alias_df.select(F.col("alias").alias("_dict_alias"))),
        F.lower(F.col("_w")) == F.col("_dict_alias"),
    )
    char_start = F.when(F.col("_tok_idx") == 0, F.lit(0)).otherwise(
        F.length(F.concat_ws(" ", F.slice(F.col("_arr"), 1, F.col("_tok_idx")))) + 1
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("doc_id").orderBy("_tok_idx")
    return (
        hits.withColumn("char_start", char_start.cast("int"))
        .withColumn("char_end", (F.col("char_start") + F.length("_w")).cast("int"))
        .withColumn("mention_pos", (F.row_number().over(w) - 1).cast("int"))
        .select(
            *df.columns,
            "mention_pos",
            F.lower(F.col("_w")).alias("alias"),
            "char_start",
            "char_end",
        )
    )
