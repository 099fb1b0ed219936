"""JVM html strip and its guards: ① as Catalyst expressions.

On rows that provably take the Python extractor's clean-text fast path,
the boilerplate strip (:func:`html_text_expr`) is byte-identical to
``extract_html_text`` and runs in whole-stage codegen — no Python
workers, no Arrow traffic. With
``mentions.extract_mentions_ngram_relational`` (②) it is the JVM front
half of ``KgPipeline.linked_relational``; candidates and scoring (③–④)
go through the one ``link_neural`` scorer, so any encoder works there.

An all-JVM feature-hash scorer for ③–④ lost the round-4 measurement
(BENCH.md "Mention-matcher strategies": fused mapInPandas 2.15 s vs
9.9 s all-JVM at sf0.1×50 on 32 pinned cores) and was deleted.

Guards (each checked per row; the JVM front half is exact only on rows
passing both):

- :func:`jvm_extractable_expr` — html decodes to ASCII-printable +
  basic whitespace with no '&': then Python's ``html.unescape`` is the
  identity and ``str.split()`` agrees with Java ``\\s``.
- :func:`clean_text_expr` — extracted text is single-spaced
  ``[A-Za-z0-9]`` words (the ``_SKIP_SAFE_RE`` class minus double
  spaces), where ``extract_mentions_ngram_relational`` is exact, and
  short enough that ``extract_context``'s char-window clipping
  (tokenizer.model_max_length * 20 chars) cannot cut a token.

Semantics mirrored: ``functions.textproc.extract_html_text``; the
matcher after it mirrors bootleg/utils/mention_extractor_utils.py:110-204.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# ASCII printable + space/tab/newline/CR, minus '&' (\x26): on this
# class html.unescape is the identity and every whitespace char is in
# Java's \s. \A..\z anchors (NOT ^..$ — '$' matches before a trailing
# newline; the round-3 mentions bug, same class).
JVM_HTML_GUARD_RE = "\\A[\\x20-\\x25\\x27-\\x7E\\t\\n\\r]*\\z"

# single-spaced alnum words: the Python extractor's skip-safe class
# minus double spaces (split(' ') would emit empty tokens there and
# change neighbor adjacency vs the whitespace-collapsing tokenizer)
CLEAN_TEXT_RE = "\\A[A-Za-z0-9]+( [A-Za-z0-9]+)*\\z"

# extract_context clips prefix/suffix at model_max_length * 20 chars
# (textproc.py:150); as long as the whole text fits, the clip is a
# provable no-op. The context window now runs in Python on the same
# text, so this bound is conservative; it keeps the guarded class the
# one the relational matcher was checked on
MAX_JVM_CONTEXT_CHARS = 512 * 20


def jvm_extractable_expr(html_col) -> F.Column:
    """True when the JVM regex chain is provably byte-identical to
    :func:`bootleg_spark.functions.textproc.extract_html_text`.
    ``cast("string")`` (not ``decode``, which THROWS on malformed
    UTF-8 under ANSI) wraps the bytes leniently; invalid sequences
    surface as replacement chars, fail the ASCII class, and route the
    row to the Python path."""
    return html_col.cast("string").rlike(JVM_HTML_GUARD_RE)


def html_text_expr(html_col) -> F.Column:
    """JVM mirror of ``extract_html_text`` (textproc.py:90-108), valid
    under :func:`jvm_extractable_expr`: drop comments, drop
    script/style/nav/footer/header/head blocks (same backreferenced
    regex), strip remaining tags, collapse whitespace. The unescape
    step is skipped — the guard guarantees no '&'."""
    s = html_col.cast("string")
    s = F.regexp_replace(s, "(?s)<!--.*?-->", " ")
    s = F.regexp_replace(
        s, "(?is)<(script|style|nav|footer|header|head)\\b[^>]*>.*?</\\1>", " "
    )
    s = F.regexp_replace(s, "<[^>]+>", " ")
    return F.trim(F.regexp_replace(s, "\\s+", " "))


def clean_text_expr(text_col) -> F.Column:
    return text_col.rlike(CLEAN_TEXT_RE) & (
        F.length(text_col) <= F.lit(MAX_JVM_CONTEXT_CHARS)
    )
