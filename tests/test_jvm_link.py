"""Parity tests for the JVM front half of linking (operators/jvm_link.py).

The html strip is pinned against extract_html_text on the guarded
class, and linked_relational (JVM strip + relational matcher, then the
shared link_neural scorer) against the staged pipeline on the full
synthetic corpus, for the default and a custom encoder."""

import pytest
from pyspark.sql import functions as F

from bootleg_spark import synthspec as S
from bootleg_spark.functions.textproc import extract_html_text
from bootleg_spark.operators import jvm_link
from bootleg_spark.plans.pipeline import KgPipeline
from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# HTML extraction: JVM expr ≡ Python on the guarded class
# ---------------------------------------------------------------------------

_GUARDED_HTMLS = [
    b"<html><head><title>t</title></head><body><p>hello world</p></body></html>",
    b"<html><body><nav>a | b</nav>plain text<script>var x=1;</script></body></html>",
    b"<p>multi</p>\n<p>line\ttabs</p>\r\n<!-- comment -->tail",
    b"<STYLE>p{}</STYLE>UPPER case TAGS<FOOTER>f</FOOTER>mid",
    b"no tags at all",
    b"",
    b"   \t\r\n  ",
    b"<p>nested <b>bold <i>deep</i></b> text</p>",
    b"<script>if (a<b) { x; }</script>after",
    b"<!-- <p>commented out</p> -->visible",
]

_UNGUARDED_HTMLS = [
    b"<p>a &amp; b</p>",  # entity: unescape not identity
    "<p>café</p>".encode("utf-8"),  # non-ASCII
    b"<p>\xff\xfe broken</p>",  # invalid UTF-8
    b"<p>vertical\x0btab</p>",  # \x0b: Python splits, Java \s doesn't
]


def test_jvm_html_extraction_matches_python(spark):
    df = spark.createDataFrame([(h,) for h in _GUARDED_HTMLS], "html binary")
    got = df.select(
        jvm_link.jvm_extractable_expr(F.col("html")).alias("ok"),
        jvm_link.html_text_expr(F.col("html")).alias("text"),
    ).collect()
    for h, r in zip(_GUARDED_HTMLS, got):
        assert r["ok"] is True, h
        assert r["text"] == extract_html_text(h), h


def test_jvm_guard_rejects_unguarded_html(spark):
    df = spark.createDataFrame([(h,) for h in _UNGUARDED_HTMLS], "html binary")
    oks = [r["ok"] for r in df.select(
        jvm_link.jvm_extractable_expr(F.col("html")).alias("ok")
    ).collect()]
    assert oks == [False] * len(_UNGUARDED_HTMLS)


def test_clean_text_guard(spark):
    rows = [
        ("hello world 42", True),
        ("Mixed Case OK", True),
        ("double  space", False),
        ("trailing ", False),
        ("punct!", False),
        ("a" * (jvm_link.MAX_JVM_CONTEXT_CHARS + 1), False),  # window clip
        ("", False),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "t string")
    got = [r["ok"] for r in df.select(jvm_link.clean_text_expr(F.col("t")).alias("ok")).collect()]
    assert got == [e for _, e in rows]


# ---------------------------------------------------------------------------
# End-to-end: relational and staged linking, one answer
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("encoder", ["default", "mlp"])
def test_linked_relational_matches_fused(spark, pipe, encoder):
    """linked_relational swaps only ①–② for JVM expressions and scores
    through the same link_neural step as the staged plan, so its rows
    equal linked()'s exactly — probs included, and with a custom
    encoder as well as the default one."""
    if encoder == "mlp":
        from bootleg_spark.functions.embedding import make_mlp_encoder

        pipe = KgPipeline(spark, SF_SMOKE, encoder=make_mlp_encoder(S.EMB_DIM))
    cols = ["url", "mention_pos", "alias", "char_start", "char_end", "qid_pred", "prob"]
    staged = sorted(tuple(r) for r in pipe.linked().select(*cols).collect())
    rel = sorted(tuple(r) for r in pipe.linked_relational().select(*cols).collect())
    assert rel == staged and len(staged) > 0


def test_linked_relational_raises_outside_guard(spark, pipe):
    """A page outside the JVM guard (here an html entity, which fails
    ``jvm_extractable_expr``) fails the query, naming the page, instead
    of yielding wrong rows."""
    from bootleg_spark.functions.textproc import render_page_html

    text = pipe.pages().select("text").first()["text"]
    dirty = spark.createDataFrame(
        [("https://x/dirty", render_page_html(900001, text + " &amp; extra"), 900001)],
        "url string, html binary, doc_id long",
    )
    mixed = pipe.pages().select("url", "html", "doc_id").unionByName(dirty)
    with pytest.raises(Exception, match="page outside the JVM guard: https://x/dirty"):
        pipe.linked_relational(mixed).collect()


def test_fused_triples_match_staged_on_dirty_corpus(spark, pipe):
    """A corpus mixing guarded and unguarded rows (an html entity, and
    punctuated text): the fused kernel's triples must equal the staged
    plan's on every row."""
    from bootleg_spark.functions.textproc import render_page_html

    base = pipe.pages()
    # dirty rows: entity-bearing html (fails the '&' guard) and
    # punctuated text (fails the clean-text guard) — both still carry
    # real mentions
    texts = [r["text"] for r in base.select("text").limit(2).collect()]
    dirty = spark.createDataFrame(
        [
            ("https://x/1", render_page_html(900001, texts[0] + " &amp; extra"), 900001),
            ("https://x/2", render_page_html(900002, texts[1] + ", punctuated!"), 900002),
        ],
        "url string, html binary, doc_id long",
    ).select(
        "url",
        F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
        "html",
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
        "doc_id",
    )
    mixed = base.unionByName(dirty)
    fused = {tuple(r) for r in pipe.triples(mixed).collect()}
    staged = {tuple(r) for r in pipe.triples(mixed, fused=False).collect()}
    assert fused == staged and len(fused) > 0


def test_salted_candidate_join_matches_broadcast(spark, pipe):
    """attach_candidates_salted (the beyond-broadcast-budget shuffle
    form, salted against head-alias skew) must produce exactly the
    broadcast join's rows."""
    from bootleg_spark.operators.candidates import (
        attach_candidates,
        attach_candidates_salted,
    )
    from bootleg_spark.operators.mentions import extract_mentions_word

    docs = pipe.dims["documents"].select("doc_id", "text")
    m = extract_mentions_word(docs, pipe.dims["aliases"])
    cols = ["doc_id", "mention_pos", "alias", "cand_qids", "cand_eids"]
    bc = attach_candidates(m, pipe.grouped_cands)
    salted = attach_candidates_salted(m, pipe.grouped_cands, salt_n=8)
    a = {tuple(map(str, r)) for r in bc.select(*cols).collect()}
    b = {tuple(map(str, r)) for r in salted.select(*cols).collect()}
    assert a == b and len(a) > 0


def test_multiword_extractor_short_docs_no_crash(spark):
    """Review regression: descending F.sequence throws when start <
    stop, so documents shorter than min_alias_len must be filtered
    before the window explode (Python's range just yields nothing)."""
    from bootleg_spark.operators.mentions import (
        extract_mentions_ngram_relational_multi,
    )

    df = spark.createDataFrame(
        [(1, "spark"), (2, "new york"), (3, "x")], "doc_id long, text string"
    )
    adf = spark.createDataFrame([("new york",), ("spark",)], "alias string")
    got = {
        (r["doc_id"], r["alias"])
        for r in extract_mentions_ngram_relational_multi(
            df, adf, min_alias_len=2
        ).collect()
    }
    assert got == {(2, "new york")}  # 1-word docs yield nothing, no crash


def test_jvm_html_extraction_fuzz_against_python(spark):
    """Randomized differential check of the JVM extraction chain vs
    extract_html_text over the guarded class: random nests of guarded
    tags, comments, dropped blocks, whitespace runs, and text."""
    import random

    rng = random.Random(7)
    words = ["alpha", "beta", "Gamma", "42", "x"]
    tags = ["p", "b", "i", "div", "span"]
    drop = ["script", "style", "nav", "footer", "header", "head"]

    def frag(depth):
        r = rng.random()
        if depth > 3 or r < 0.35:
            return " ".join(rng.choices(words, k=rng.randint(0, 4)))
        if r < 0.5:
            return f"<!-- {frag(depth + 1)} -->"
        if r < 0.65:
            d = rng.choice(drop)
            # reference regex is case-insensitive on the tag
            dt = d.upper() if rng.random() < 0.3 else d
            return f"<{dt}>{frag(depth + 1)}</{dt}>"
        t = rng.choice(tags)
        ws = rng.choice([" ", "\t", "\n", "\r\n", ""])
        return f"<{t}>{frag(depth + 1)}</{t}>{ws}{frag(depth + 1)}"

    htmls = [frag(0).encode("utf-8") for _ in range(300)]
    df = spark.createDataFrame([(h,) for h in htmls], "html binary")
    got = df.select(
        jvm_link.jvm_extractable_expr(F.col("html")).alias("ok"),
        jvm_link.html_text_expr(F.col("html")).alias("text"),
    ).collect()
    n_ok = 0
    for h, r in zip(htmls, got):
        assert r["ok"] is True, h  # generator stays inside the guard class
        assert r["text"] == extract_html_text(h), h
        n_ok += 1
    assert n_ok == 300
