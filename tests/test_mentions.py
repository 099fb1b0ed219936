"""Mention extraction parity with the reference's annotator golden
(tests/test_end_to_end/test_annotator.py:66-80) and filter unit tests
(mention_extractor_utils.py semantics)."""

import pyspark.sql.functions as F

from bootleg_spark.operators.mentions import (
    extract_mentions_ngram,
    ngram_extract_aliases,
    tokenize_with_offsets,
)

# the reference's 3-alias test fixture
# (tests/data/entity_loader/entity_data/entity_mappings, FIXTURES.md §3)
FIXTURE_ALIASES = frozenset({"alias1", "multi word alias2", "word alias3"})


def test_reference_annotator_golden():
    out = ngram_extract_aliases(
        "alias1 and alias2 and multi word alias3 I have no idea", FIXTURE_ALIASES
    )
    # golden: only alias1 at [0, 6] — "word alias3" is split-noun-suppressed
    # (left neighbor "multi" is nounish), "multi word alias3" is not an alias
    assert out == [("alias1", 0, 6)]


def test_multiword_and_overlap():
    # note: with the POS-free noun heuristic, a nounish right/left neighbor
    # split-noun-suppresses the gram (spaCy would let a VERB neighbor pass —
    # documented divergence, SURVEY.md §7.4); bound with stopwords here
    out = ngram_extract_aliases("so multi word alias2 is good", FIXTURE_ALIASES)
    assert out == [("multi word alias2", 3, 20)]
    # the contained 2-gram "word alias2" must not also fire (overlap kept out)
    out = ngram_extract_aliases("the multi word alias2 and alias1", FIXTURE_ALIASES)
    assert [a for a, _, _ in out] == ["multi word alias2", "alias1"]


def test_plural_possessive_variants():
    aliases = frozenset({"spark"})
    out = ngram_extract_aliases("Spark's planner", aliases)
    assert [a for a, _, _ in out] == ["spark"]


def test_numeric_and_stopword_filters():
    aliases = frozenset({"42", "the"})
    assert ngram_extract_aliases("it is 42 now", aliases) == []  # numeric dropped
    assert ngram_extract_aliases("the word", aliases) == []  # stopword boundary


def test_capitalized_start_exception():
    # stopword boundary is waived when the first token is capitalized
    # (bounded_by_stopword, mention_extractor_utils.py:88-91)
    aliases = frozenset({"the beatles"})
    out = ngram_extract_aliases("and then The Beatles were there", aliases)
    assert [a for a, _, _ in out] == ["the beatles"]
    # lowercase mid-sentence start → stopword boundary applies
    out = ngram_extract_aliases("and then the beatles were there", aliases)
    assert out == []


def test_dead_pass_skip_is_output_preserving():
    """Regression (round-2 advice): lnrm deletes punctuation-only tokens,
    so a (dict_max_words+1)-token gram like 'Foo & Bar' collapses to a
    shorter dict alias. The dead-pass skip must not fire on such text."""
    aliases = frozenset({"foo bar"})
    expected = [("foo bar", 4, 13)]
    got = ngram_extract_aliases(
        "the Foo & Bar is here", aliases, dict_max_words=2
    )
    assert got == expected
    # same result without the hint (ground truth)
    assert ngram_extract_aliases("the Foo & Bar is here", aliases) == expected
    # double-punct collapse: 5 tokens -> 3 lnrm words (would be missed by
    # both the old skip AND the old eff_max=dict_w+1 caller cap)
    aliases3 = frozenset({"foo bar baz"})
    got3 = ngram_extract_aliases("Foo & Bar & Baz", aliases3, dict_max_words=3)
    assert got3 == ngram_extract_aliases("Foo & Bar & Baz", aliases3) != []
    # on pure-alnum text the skip stays active and output is unchanged
    clean = "the foo bar is here"
    assert ngram_extract_aliases(clean, aliases, dict_max_words=2) == (
        ngram_extract_aliases(clean, aliases)
    )


def test_trailing_newline_disables_clean_fast_path():
    """Regression (round-3 advice, high): ``$`` matches *before* a
    trailing newline, so ``re.match(_SKIP_SAFE_RE, 'the spark\\n')``
    wrongly classified the text as clean — the last token kept its
    '\\n', the alias lookup used tok.lower() instead of lnrm, and the
    final-word mention was silently dropped. Fixed with fullmatch."""
    aliases = frozenset({"spark"})
    assert ngram_extract_aliases("the spark\n", aliases, dict_max_words=1) == [
        ("spark", 4, 9)
    ]
    assert ngram_extract_aliases("the spark\n", aliases, dict_max_words=1) == (
        ngram_extract_aliases("the spark\n", aliases, _generic_only=True)
    )
    # tokenize_with_offsets had the same hole in its internal clean check
    assert tokenize_with_offsets("a b\n") == tokenize_with_offsets("a b\n", clean=False)


def test_punct_boundary_tokens():
    toks = tokenize_with_offsets("hello, (world) ok")
    assert ("hello", 0) in toks and ("," , 5) in toks
    assert ("(", 7) in toks and ("world", 8) in toks and (")", 13) in toks


def test_spark_extractor_matches_pure_python(spark):
    texts = [
        "alias1 and alias2 and multi word alias3 I have no idea",
        "so multi word alias2 wins",
        "",
    ]
    bc = spark.sparkContext.broadcast(FIXTURE_ALIASES)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])
    got = (
        extract_mentions_ngram(df, bc)
        .select("id", "alias", "char_start", "char_end")
        .orderBy("id", "char_start")
        .collect()
    )
    expected = []
    for i, t in enumerate(texts):
        for a, s, e in ngram_extract_aliases(t, FIXTURE_ALIASES):
            expected.append((i, a, s, e))
    assert [tuple(r) for r in got] == expected


def test_ner_extract_regex_tagger():
    """Cased text through the capitalized-run tagger: class filter,
    possessive variants, overlap suppression (spacy_extract_aliases
    semantics, mention_extractor_utils.py:207-268)."""
    from bootleg_spark.operators.mentions import (
        ner_extract_aliases,
        regex_ner_spans,
    )

    text = "New York 's mayor visited Apple and 42 things"
    aliases = frozenset({"new york", "apple", "42"})
    got = ner_extract_aliases(text, aliases, regex_ner_spans)
    # "New York 's" -> possessive merge; "42" is CARDINAL -> filtered
    assert [a for a, _, _ in got] == ["new york", "apple"]
    s0, e0 = got[0][1], got[0][2]
    assert text[s0:e0].startswith("New York")


def test_ner_gazetteer_longest_first_and_classes():
    from bootleg_spark.operators.mentions import (
        gazetteer_ner_fn,
        ner_extract_aliases,
    )

    gaz = {"new york": "GPE", "york": "GPE", "tax": "CARDINAL"}
    fn = gazetteer_ner_fn(gaz)
    text = "new york tax york"
    got = ner_extract_aliases(text, frozenset(gaz), fn)
    # longest-first: "new york" wins over inner "york"; "tax" class-filtered;
    # trailing standalone "york" still matches
    assert [a for a, _, _ in got] == ["new york", "york"]
    assert got[0][1] == 0 and got[0][2] == 8
    assert text[got[1][1]:got[1][2]] == "york"


def test_relational_extractor_equals_python(spark):
    """On clean-token rows with a 1-token dictionary the relational
    extractor must reproduce the Python n-gram extractor row-for-row
    (spans, positions, aliases)."""
    from bootleg_spark.operators.mentions import (
        extract_mentions_ngram,
        extract_mentions_ngram_relational,
    )
    from bootleg_spark.sources import synth
    from tests.conftest import SF_SMOKE

    d = synth.build_dims(spark, SF_SMOKE)
    docs = d["documents"].select("doc_id", "text")
    alias_bc = spark.sparkContext.broadcast(
        frozenset(r["alias"] for r in d["aliases"].collect())
    )
    py = extract_mentions_ngram(docs, alias_bc)
    rel = extract_mentions_ngram_relational(docs, d["aliases"])
    cols = ["doc_id", "mention_pos", "alias", "char_start", "char_end"]
    a = {tuple(r) for r in py.select(*cols).collect()}
    b = {tuple(r) for r in rel.select(*cols).collect()}
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# Differential fuzz: every fast path (clean tokenizer, dead-pass skip,
# specialized unigram pass) must be output-identical to the one generic
# loop. The round-2 high-severity bug (lnrm-collapsed grams escaping the
# dead-pass skip on punctuated text) is exactly the class this pins.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_FUZZ_VOCAB = [
    "spark", "data", "Foo", "Bar's", "the", "and", "of", "42", "&", "x,y",
    "café", "naïve", "--", "it's", "O'Neil", "a.b", "HELLO", "(spark)",
    "foo", "bar", "s", "'s", ".", "word's", "préfix", "",
    # newline-bearing tokens: the round-3 ADVICE high bug was '$'
    # matching before a trailing '\n' so 'the spark\n' took the clean
    # fast path and silently dropped the final mention — the vocab was
    # joined with spaces so the fuzz never generated '\n'
    "spark\n", "\n", "foo\nbar", "data\n\n", "\tspark",
]
_FUZZ_ALIASES = frozenset(
    {"spark", "data", "foo", "foo bar", "oneil", "cafe", "x y", "hello",
     "word", "spark data", "a b", "naive", "prefix", "42 foo"}
)

_texts = st.lists(st.sampled_from(_FUZZ_VOCAB), min_size=0, max_size=12).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(_texts)
def test_fast_paths_match_generic_extractor(text):
    fast = ngram_extract_aliases(text, _FUZZ_ALIASES, dict_max_words=2)
    generic = ngram_extract_aliases(text, _FUZZ_ALIASES, _generic_only=True)
    assert fast == generic, text


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(["spark", "Data", "42", "x", "HELLO", ""]),
                min_size=0, max_size=10).map(" ".join))
def test_clean_tokenizer_matches_finditer(text):
    # precondition of the clean fast path: pure alnum+space
    assert tokenize_with_offsets(text, clean=True) == tokenize_with_offsets(text, clean=False)


def test_relational_multiword_extractor_equals_python(spark):
    """The multi-word relational extractor must reproduce the Python
    n-gram extractor row-for-row on the guarded class (single-spaced
    alnum words, mixed case) with a MULTI-WORD dictionary — including
    longest-first overlap suppression, the capitalized-stopword
    exception, and split-noun boundaries."""
    import itertools
    import random

    from bootleg_spark.operators.mentions import (
        extract_mentions_ngram_relational_multi,
    )

    aliases = frozenset(
        {"new york", "new york city", "york", "city hall", "the hall",
         "spark", "data engine", "big data engine", "hall"}
    )
    vocab = ["New", "York", "City", "Hall", "the", "spark", "Big", "Data",
             "engine", "of", "42", "and", "x"]
    rng = random.Random(1234)
    texts = [
        " ".join(rng.choices(vocab, k=rng.randint(1, 14))) for _ in range(300)
    ]
    texts += [
        "New York City Hall",          # nested overlaps, longest wins
        "the hall",                    # sentence-initial stopword is important
        "spark the hall",              # mid-sentence 'the hall' — 'the' lowercase stopword
        "Big Data engine and data engine",
        "York",
        "x the Hall",
    ]
    expected = []
    for t in texts:
        for a, s, e in ngram_extract_aliases(t, aliases):
            expected.append((t, a, s, e))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    adf = spark.createDataFrame([(a,) for a in sorted(aliases)], "alias string")
    got = [
        (r["text"], r["alias"], r["char_start"], r["char_end"])
        for r in extract_mentions_ngram_relational_multi(df, adf).collect()
    ]
    assert sorted(got) == sorted(expected)
    assert len(got) > 50  # the fixture really exercises matches
