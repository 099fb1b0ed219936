"""Deterministic text processing: tokenizer, HTML boilerplate strip,
context-window extraction, entity-string building, mention filters.

These are the pure functions applied inside Arrow-batched pandas UDFs.
Semantics re-implemented (NOT copied) from the reference:

- context window:   bootleg/dataset.py:173-224  (``extract_context``)
- entity string:    bootleg/dataset.py:227-337  (``get_structural_entity_str``,
                    ``get_entity_string``)
- mention filters:  bootleg/utils/mention_extractor_utils.py:54-135
- stopword list:    bootleg/symbols/constants.py:50-230 (NLTK English
                    stopwords — public)

The reference tokenizes with a HuggingFace BERT tokenizer; transformers
is not available here, so we use a deterministic whitespace tokenizer
with the same *interface* (tokenize / convert_tokens_to_string /
model_max_length). All windowing arithmetic is preserved exactly; only
the subword segmentation differs, which is a model choice, not a
dataflow choice.
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass

# NLTK English stopwords, as embedded by the reference
# (bootleg/symbols/constants.py:50-230).
STOP_WORDS = frozenset(
    """a about above after again against ain all am an and any are aren aren't
    as at be because been before being below between both but by can couldn
    couldn't d did didn didn't do does doesn doesn't doing don don't down
    during each few for from further had hadn hadn't has hasn hasn't have
    haven haven't having he her here hers herself him himself his how i if in
    into is isn isn't it it's its itself just ll m ma me mightn mightn't more
    most mustn mustn't my myself needn needn't no nor not now o of off on once
    only or other our ours ourselves out over own re s same shan shan't she
    she's should should've shouldn shouldn't so some such t than that that'll
    the their theirs them themselves then there these they this those through
    to too under until up ve very was wasn wasn't we were weren weren't what
    when where which while who whom why will with won won't wouldn wouldn't y
    you you'd you'll you're you've your yours yourself yourselves""".split()
)

# Punctuation set used by the mention-boundary filter
# (mention_extractor_utils.py:35 ``PUNC = string.punctuation``).
PUNC = set("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")
_PUNC_TABLE = str.maketrans(dict.fromkeys("".join(PUNC)))


@dataclass
class WhitespaceTokenizer:
    """Deterministic stand-in for the reference's HF tokenizer.

    Interface-compatible subset used by ``extract_context``
    (dataset.py:196-225): ``model_max_length``, ``tokenize``,
    ``convert_tokens_to_string``.
    """

    model_max_length: int = 512

    def tokenize(self, text: str) -> list[str]:
        return text.split()

    def convert_tokens_to_string(self, tokens: list[str]) -> str:
        return " ".join(tokens)


DEFAULT_TOKENIZER = WhitespaceTokenizer()


# ---------------------------------------------------------------------------
# HTML boilerplate strip (our input is the BASELINE.json pages table; the
# reference consumes pre-extracted JSONL, so the extractor contract is
# "deterministic and byte-identical per url" — BASELINE.json input_hint).
# ---------------------------------------------------------------------------

_RE_DROP_BLOCKS = re.compile(
    r"<(script|style|nav|footer|header|head)\b[^>]*>.*?</\1>",
    re.IGNORECASE | re.DOTALL,
)
_RE_COMMENTS = re.compile(r"<!--.*?-->", re.DOTALL)
_RE_TAGS = re.compile(r"<[^>]+>")


def extract_html_text(html_bytes: bytes | str | None) -> str | None:
    """Strip boilerplate from an HTML page, deterministically.

    Drops <head>, <script>, <style>, <nav>, <footer>, <header> blocks and
    comments, replaces remaining tags with spaces, unescapes entities,
    collapses whitespace. Pure function of the bytes — the same url always
    yields the same text (north_rule per-row invariant).
    """
    if html_bytes is None:
        return None
    if isinstance(html_bytes, (bytes, bytearray)):
        raw = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        raw = html_bytes
    raw = _RE_COMMENTS.sub(" ", raw)
    raw = _RE_DROP_BLOCKS.sub(" ", raw)
    raw = _RE_TAGS.sub(" ", raw)
    raw = _html.unescape(raw)
    return " ".join(raw.split())


def render_page_html(doc_id: int, text: str) -> bytes:
    """Deterministic HTML template used to synthesize the ``pages`` table
    at test scale (FIXTURES.md §1 synth recipe). Round-trips exactly:
    ``extract_html_text(render_page_html(i, t)) == t``.
    """
    return (
        f"<html><head><title>doc {doc_id}</title>"
        f"<style>p{{margin:0}}</style></head>"
        f"<body><nav>home | about</nav>"
        f"<p>{text}</p>"
        f"<script>var v={doc_id};</script>"
        f"<footer>copyright example.org</footer></body></html>"
    ).encode("utf-8")


# ---------------------------------------------------------------------------
# Context window (reference semantics: dataset.py:173-224)
# ---------------------------------------------------------------------------

def extract_context(span: tuple[int, int], sentence: str, max_seq_window_len: int) -> str:
    """Mark a char span with [ent_start]/[ent_end] and window tokens around
    it, shifting budget toward the longer side (dataset.py:173-224)."""
    start_pieces = []
    if span[0] > 0 and sentence[span[0] - 1] != " ":
        start_pieces.append(" ")
    start_pieces.append("[ent_start]")
    if span[0] < len(sentence) and sentence[span[0]] != " ":
        start_pieces.append(" ")
    end_pieces = []
    if span[1] > 0 and sentence[span[1] - 1] != " ":
        end_pieces.append(" ")
    end_pieces.append("[ent_end]")
    if span[1] < len(sentence) and sentence[span[1]] != " ":
        end_pieces.append(" ")
    char_window = DEFAULT_TOKENIZER.model_max_length * 20
    with_entity_toks = (
        f"{sentence[max(0, span[0] - char_window):span[0]]}"
        f"{''.join(start_pieces)}"
        f"{sentence[span[0]:span[1]]}"
        f"{''.join(end_pieces)}"
        f"{sentence[span[1]:span[1] + char_window]}"
    )
    tokens = DEFAULT_TOKENIZER.tokenize(with_entity_toks)
    span_tok_l = tokens.index("[ent_start]")
    span_tok_r = tokens.index("[ent_end]") + 1
    if span_tok_l < len(tokens) - span_tok_r:
        prev_context = tokens[max(0, span_tok_l - max_seq_window_len // 2): span_tok_l]
        next_context = tokens[span_tok_l: span_tok_r + max_seq_window_len - len(prev_context)]
    else:
        next_context = tokens[span_tok_r: span_tok_r + max_seq_window_len // 2]
        prev_context = tokens[
            max(0, span_tok_l - (max_seq_window_len - len(next_context))): span_tok_r
        ]
    return DEFAULT_TOKENIZER.convert_tokens_to_string(prev_context + next_context)


# ---------------------------------------------------------------------------
# Entity string (reference semantics: dataset.py:227-337)
# ---------------------------------------------------------------------------

_RE_PARENS = re.compile(r"(\(.*\))")


def structural_entity_str(items: list[str], max_tok_len: int, sep_tok: str) -> tuple[str, int]:
    """``" {sep} " + " {sep} ".join(items[:i])`` with the largest ``i`` whose
    whitespace-token length stays within ``max_tok_len``; always keeps at
    least one item (dataset.py:227-248)."""
    i = 1
    over_len = 0
    while True:
        res = f" {sep_tok} " + f" {sep_tok} ".join(items[:i])
        if len(res.split()) > max_tok_len or i > len(items):
            if i < len(items):
                over_len = 1
            res = f" {sep_tok} " + f" {sep_tok} ".join(items[: max(1, i - 1)])
            break
        i += 1
    return res, over_len


@dataclass
class EntityStringConstants:
    """Budget/flag constants for entity-string building
    (defaults: bootleg/utils/parser/bootleg_args.py:85-109)."""

    max_ent_kg_len: int = 100
    max_ent_type_len: int = 20
    use_desc: bool = True
    use_kg: bool = True
    use_types: bool = True


def build_entity_string(
    title: str,
    desc: str | None,
    typenames: list[str],
    kg_items: list[str],
    constants: EntityStringConstants = EntityStringConstants(),
) -> tuple[str, list[int], int, int]:
    """Compose ``title [ent_type] t.. [ent_kg] rel tail_title.. [ent_desc] d``
    with word-budget truncation + title-word span indices
    (dataset.py:251-337). ``kg_items`` are pre-built ``"rel tail_title"``
    strings in deterministic (rel, tail_qid) order.
    """
    over_kg_len = 0
    over_type_len = 0
    desc_str = "[ent_desc] " + (desc or "") if constants.use_desc else ""
    title_str = _RE_PARENS.sub("", title or "").strip()
    if constants.use_kg:
        kg_str, over = structural_entity_str(kg_items, constants.max_ent_kg_len, "[ent_kg]")
        over_kg_len += over
        desc_str = " ".join([kg_str, desc_str])
    if constants.use_types:
        type_str, over = structural_entity_str(typenames, constants.max_ent_type_len, "[ent_type]")
        over_type_len += over
        desc_str = " ".join([type_str, desc_str])
    ent_str = " ".join([title_str, desc_str])
    ent_split = ent_str.split()
    ent_str = " ".join(ent_split)
    title_spans: list[int] = []
    if len(title_str) > 0:
        title_pieces = set(title_str.split())
        to_skip = False
        for e_id, ent_w in enumerate(ent_split):
            if ent_w == "[ent_type]":
                to_skip = True
            if ent_w == "[ent_desc]":
                to_skip = False
            if to_skip:
                continue
            if ent_w in title_pieces and ent_w not in STOP_WORDS:
                title_spans.append(e_id)
    return ent_str, title_spans, over_type_len, over_kg_len


def word_spans_to_char_spans(text: str, spans: list) -> list[list[int]]:
    """Word spans → char spans on arbitrary-whitespace text — the
    reference's get_char_spans (utils/preprocessing/
    convert_to_char_spans.py:34-62) re-derived: words are maximal runs
    of non-``str.isspace()`` characters (NOT the regex ``\\S`` class,
    which disagrees on a few control characters); span ``[w0, w1)``
    maps to [first char of word w0, last char of word w1-1 + 1).
    Pure function — called from the Arrow-batched UDF in
    sources/sentences.py, never per-row from the JVM."""
    starts: list[int] = []
    ends: list[int] = []
    prev_space = True
    for i, c in enumerate(text):
        if c.isspace():
            prev_space = True
        else:
            if prev_space:
                starts.append(i)
                ends.append(i + 1)
                prev_space = False
            else:
                ends[-1] = i + 1
    out = []
    for w0, w1 in spans:
        if not (0 <= w0 < w1 <= len(starts)):
            raise ValueError(f"span [{w0},{w1}) outside {len(starts)} words")
        out.append([starts[w0], ends[w1 - 1]])
    return out


def char_span_to_word_span(text: str, char_start: int, char_end: int) -> list[int]:
    """Char span → word span, exactly the reference's backwards-compat
    formula (mention_extractor_utils.py:202):
    ``[len(text[:start].split()), len(text[:end].split())]`` — i.e.
    whitespace-split word counts of the prefixes."""
    return [len(text[:char_start].split()), len(text[:char_end].split())]
