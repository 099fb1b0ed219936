"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline extensions) as (spark, sf_dir) -> DataFrame;
``oracle_sql()`` gives the DuckDB-runnable ANSI-SQL equivalent for every
relationally-expressible one. The neural-scorer queries use golden-
parquet oracles generated by a single-process reference implementation
(scripts/build_neural_golden.py); every other query derives its oracle
relationally. All queries are oracle-checked.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bootleg_spark import oracle as O
from bootleg_spark import synthspec as S
from bootleg_spark.functions.lnrm import lnrm_ascii_sql
from bootleg_spark.operators import dedup, similarity, stats, textclean, textstats
from bootleg_spark.operators.candidates import attach_candidates, grouped_candidates
from bootleg_spark.operators.linking import link_popularity
from bootleg_spark.operators.mentions import extract_mentions_word
from bootleg_spark.operators.triples import doc_entities, triples_from_doc_entities
from bootleg_spark.plans.pipeline import KgPipeline, extract_text
from bootleg_spark.sources import synth

# tau for the linked_threshold query: must sit strictly inside the
# observed prob range of the neural goldens at EVERY sf so the oracle
# check exercises both kept and dropped rows (see _q_linked_threshold)
LINKED_TAU = 0.35

# shared LSH-clustering oracle prefix: shingles → md5 band minima →
# candidate pairs → undirected edges → recursive reachability. Used by
# BOTH dup_clusters and dedup_keep so the two oracles cannot desync on
# band count / shingle width.
_LSH_CLUSTER_CTES = f"""
WITH RECURSIVE sh AS ({O.shingle_body_sql(3)}
),
buckets AS ({O.band_minima_body_sql()}
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.min_hash = b.min_hash AND a.id < b.id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)"""

def _pipe(spark: SparkSession, sf_dir: str) -> KgPipeline:
    """The pipeline for (session, sf_dir), held in synth's scan entry:
    a rewritten documents.parquet rebuilds it with the scan and dims."""
    entry = synth._scan_entry(spark, sf_dir)
    if "pipe" not in entry:
        entry["pipe"] = KgPipeline(spark, sf_dir)
    return entry["pipe"]


def _docs(spark, sf_dir):
    return synth.read_documents(spark, sf_dir)


def _dims(spark, sf_dir):
    return synth.build_dims(spark, sf_dir)


def _events(spark, sf_dir):
    return synth._scan_entry(spark, sf_dir, "events.parquet")["scan"]


def _emb(spark, sf_dir):
    return synth._scan_entry(spark, sf_dir, "embeddings.parquet")["scan"]


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline (pages → ngram mentions → candidates →
    neural disambiguation → co-occurrence ⋈ relations → dedup'd triples)
    at sf0.001."""
    return _pipe(spark, "/root/testdata/sf0.001").triples()


# --------------------------------------------------------------------------
# Spark queries
# --------------------------------------------------------------------------

def _q_pages_extract_text(spark, sf_dir):
    p = extract_text(synth.pages_table(spark, sf_dir))
    return p.select("url", F.col("text_extracted").alias("extracted"))


def _q_alias_vocab(spark, sf_dir):
    return synth.alias_vocab(_docs(spark, sf_dir))


def _q_entities_dim(spark, sf_dir):
    return _dims(spark, sf_dir)["entities"].select(
        "qid", "qnum", "alias", "alias_id", "variant", "score", "type_name", "title", "descr"
    )


def _q_alias_cands_topk(spark, sf_dir):
    return _dims(spark, sf_dir)["alias_cands"].select("alias", "qid", "score", "rank")


def _q_kg_relations_dim(spark, sf_dir):
    return _dims(spark, sf_dir)["kg_relations"].select("subj_qid", "rel", "obj_qid")


def _word_mentions(spark, sf_dir):
    d = _dims(spark, sf_dir)
    m = extract_mentions_word(d["documents"].select("doc_id", "text"), d["aliases"])
    return m.select("doc_id", F.col("mention_pos").cast("long").alias("mention_pos"), "alias"), d


def _q_mentions_word(spark, sf_dir):
    m, _ = _word_mentions(spark, sf_dir)
    return m


def _linked_pop(spark, sf_dir):
    m, d = _word_mentions(spark, sf_dir)
    mc = attach_candidates(m, grouped_candidates(d["alias_cands"]))
    return link_popularity(mc).select("doc_id", "mention_pos", "alias", F.col("qid_pred").alias("qid")), d


def _q_linked_popularity(spark, sf_dir):
    linked, _ = _linked_pop(spark, sf_dir)
    return linked


def _q_triples_popularity(spark, sf_dir):
    linked, d = _linked_pop(spark, sf_dir)
    ents = doc_entities(linked, qid_col="qid")
    return triples_from_doc_entities(ents, d["kg_relations"])


def _q_qid_counts(spark, sf_dir):
    linked, _ = _linked_pop(spark, sf_dir)
    return stats.qid_counts(linked)


def _q_alias_histogram(spark, sf_dir):
    m, _ = _word_mentions(spark, sf_dir)
    return stats.alias_counts(m)


def _q_alias_text_histogram(spark, sf_dir):
    d = _dims(spark, sf_dir)
    return stats.alias_text_counts(d["documents"], d["aliases"])


def _q_alias_entity_pair_hist(spark, sf_dir):
    linked, _ = _linked_pop(spark, sf_dir)
    return stats.alias_entity_pair_counts(linked)


def _q_mentions_per_doc_hist(spark, sf_dir):
    m, _ = _word_mentions(spark, sf_dir)
    return stats.mentions_per_doc_hist(m)


def _q_cand_count_hist(spark, sf_dir):
    return stats.cand_count_hist(_dims(spark, sf_dir)["alias_cands"])


def _q_qid_count_buckets(spark, sf_dir):
    linked, _ = _linked_pop(spark, sf_dir)
    # exact quantiles here: mirrors the SQL oracle bit-for-bit; the
    # operator's scale default is percentile_approx (see stats.py)
    return stats.qid_count_buckets(stats.qid_counts(linked), exact=True)


def _gold_qid():
    return F.concat(F.lit("Q"), (F.col("alias_id") * S.N_VARIANTS).cast("string"))


def _q_slice_eval(spark, sf_dir):
    linked, d = _linked_pop(spark, sf_dir)
    with_gold = linked.join(F.broadcast(d["aliases"]), "alias").withColumn(
        "qid_gold", _gold_qid()
    )
    with_slice = with_gold.join(
        d["documents"].select("doc_id", F.col("lang").alias("slice_name")), "doc_id"
    )
    return stats.slice_eval(with_slice, pred_col="qid")


def _q_recall_at_k(spark, sf_dir):
    m, d = _word_mentions(spark, sf_dir)
    mc = attach_candidates(m, grouped_candidates(d["alias_cands"]))
    with_gold = mc.join(F.broadcast(d["aliases"]), "alias").withColumn("qid_gold", _gold_qid())
    return stats.recall_at_k(with_gold)


def _q_entity_strings(spark, sf_dir):
    return _pipe(spark, sf_dir).ent_strs.select("qid", "ent_str")


def _q_entity_strings_multi(spark, sf_dir):
    """Entity strings over a NAMED multi-type system: the 'hyena' system
    of the synthetic profile carries 3 typenames per entity and the
    4-word [ent_type] budget keeps exactly 2 — pinning both the
    multi-type composition and structural_entity_str truncation
    (dataset.py:227-337) in SQL."""
    from bootleg_spark import synthspec as S2
    from bootleg_spark.functions.textproc import EntityStringConstants
    from bootleg_spark.operators.linking import entity_strings
    from bootleg_spark.sources.profile import profile_entity_types

    d = _dims(spark, sf_dir)
    etypes = profile_entity_types(_profile(spark, sf_dir), max_types=10)
    consts = EntityStringConstants(max_ent_kg_len=S2.MAX_ENT_KG_LEN, max_ent_type_len=4)
    return entity_strings(
        d["entities"], d["kg_relations"], entity_types=etypes,
        type_system="hyena", constants=consts,
    ).select("qid", "ent_str")


def _q_title_spans(spark, sf_dir):
    """Title-word span indices inside the entity string
    (dataset.py:319-337: words of the de-parenthesized title, excluding
    stopwords, skipping the [ent_type]..[ent_desc] section) — exploded
    to (qid, word_idx) scalar rows, re-derived independently in SQL."""
    from bootleg_spark.operators.linking import entity_strings

    d = _dims(spark, sf_dir)
    es = entity_strings(d["entities"], d["kg_relations"], with_title_spans=True)
    return es.select("qid", F.explode("title_spans").alias("word_idx")).select(
        "qid", F.col("word_idx").cast("long").alias("word_idx")
    )


def _q_entity_embeddings(spark, sf_dir):
    """Static entity-embedding matrix (extract_all_entities analogue),
    exploded to (qid, dim_idx, val) — golden-parquet oracle from the
    single-process reference (scripts/build_neural_golden.py)."""
    pipe = _pipe(spark, sf_dir)
    return pipe.emb_df.select("qid", F.posexplode("emb").alias("dim_idx", "val")).select(
        "qid", F.col("dim_idx").cast("long").alias("dim_idx"), F.round("val", 6).alias("val")
    )


def _q_mentions_ngram(spark, sf_dir):
    pipe = _pipe(spark, sf_dir)
    from bootleg_spark.operators.mentions import extract_mentions_ngram_from_html

    # fused single-UDF form (r07): the staged extract_text →
    # extract_mentions_ngram chain ran TWO ArrowEvalPython nodes, each
    # with its own worker pool and an Arrow round trip of the page text;
    # the staged operators remain the compositional/testing surface
    m = extract_mentions_ngram_from_html(
        pipe.pages().select("url", "html"), pipe.alias_set_bc
    )
    return m.select(
        "url",
        F.col("mention_pos").cast("long").alias("mention_pos"),
        "alias",
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
    )


def _q_mentions_relational(spark, sf_dir):
    """The all-JVM mention matcher (extract_mentions_ngram_relational +
    JVM html strip, operators/jvm_link.py): zero Python, whole-stage
    codegen end to end. Must reproduce the Python n-gram extractor
    row-for-row — same oracle SQL as mentions_ngram."""
    pipe = _pipe(spark, sf_dir)
    from bootleg_spark.operators import jvm_link
    from bootleg_spark.operators.mentions import extract_mentions_ngram_relational

    p = pipe.pages().select(
        "url", "doc_id", jvm_link.html_text_expr(F.col("html")).alias("text_extracted")
    )
    m = extract_mentions_ngram_relational(
        p, pipe.dims["aliases"], text_col="text_extracted"
    )
    return m.select(
        "url",
        F.col("mention_pos").cast("long").alias("mention_pos"),
        "alias",
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
    )


# Multi-word dictionary for the relational multi matcher's driver
# query: corpus phrases chosen so nested overlaps exercise the greedy
# longest-first fold ("stream table hash" ⊃ "table hash" ⊃ "table"/
# "hash"). Mirrored verbatim in the oracle's VALUES list.
_MULTI_DICT = (
    "stream table hash", "slow hash batch", "table hash", "part filter",
    "customer join", "merge group", "slow key", "filter small",
    "table", "hash", "filter", "spark", "merge",
)
# Tokens mapped to the stopword 'the' to derive a boundary-rich corpus
# for the multi-word driver row: the raw synthetic text is a dense noun
# run, so split-noun suppression (correct reference semantics) leaves
# almost no multi-word window eligible. Replacing frequent NON-dictionary
# tokens with a stopword creates the boundaries real web text has —
# at sf0.01 the row count goes 28 → 1389 with 80 multi-word matches
# (incl. a trigram), so the greedy longest-first fold is genuinely
# exercised. Mirrored verbatim in the oracle's src CTE.
_MULTI_REPL = (
    "row", "value", "big", "order", "scan", "query", "column",
    "sort", "vector", "line", "agg", "window", "fast", "data",
)


def _q_mentions_relational_multi(spark, sf_dir):
    """The MULTI-WORD all-JVM mention matcher
    (extract_mentions_ngram_relational_multi): candidate (n, i) windows
    with the start-grain prefilter, one broadcast dictionary join, and
    the greedy longest-first overlap fold. The oracle re-derives the
    whole thing in SQL — including the greedy acceptance, as a
    recursive CTE stepping through candidates in (n DESC, i ASC) order
    and accepting each iff it overlaps nothing accepted so far."""
    from bootleg_spark.operators.mentions import (
        extract_mentions_ngram_relational_multi,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split("text", " "),
                lambda x: F.when(x.isin(*_MULTI_REPL), F.lit("the")).otherwise(x),
            ),
            " ",
        ).alias("text"),
    )
    adf = spark.createDataFrame([(a,) for a in sorted(_MULTI_DICT)], "alias string")
    m = extract_mentions_ngram_relational_multi(docs, adf, max_alias_len=3)
    return m.select(
        "doc_id",
        F.col("mention_pos").cast("long").alias("mention_pos"),
        "alias",
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
    )


def _q_linked_relational(spark, sf_dir):
    """① + ② in the JVM (html strip, relational matcher), then the
    staged broadcast candidates + ``link_neural`` scorer. Same golden
    oracle as linked_neural: its rows equal ``KgPipeline.linked``'s
    exactly."""
    pipe = _pipe(spark, sf_dir)
    linked = pipe.linked_relational()
    return linked.select(
        "url",
        F.col("mention_pos").cast("long").alias("mention_pos"),
        "alias",
        F.col("qid_pred").alias("qid"),
        F.round("prob", 6).alias("prob"),
    )


def _q_mentions_ner(spark, sf_dir):
    """Third extractor strategy (spacy NER slot) with the deterministic
    gazetteer tagger: alias_id % 3 cycles PERSON/ORG/CARDINAL, and
    CARDINAL is outside NER_CLASSES — so exactly the aliases with
    alias_id % 3 == 2 must be filtered out (the class filter is
    observable in the oracle)."""
    from bootleg_spark.operators.mentions import extract_mentions_ner

    pipe = _pipe(spark, sf_dir)
    d = _dims(spark, sf_dir)
    classes = ["PERSON", "ORG", "CARDINAL"]
    gaz = {
        r["alias"]: classes[r["alias_id"] % 3]
        for r in d["aliases"].select("alias", "alias_id").collect()
    }
    gaz_bc = spark.sparkContext.broadcast(gaz)
    m = extract_mentions_ner(
        d["documents"].select("doc_id", "text"), pipe.alias_set_bc, gazetteer_bc=gaz_bc
    )
    return m.select(
        "doc_id",
        F.col("mention_pos").cast("long").alias("mention_pos"),
        "alias",
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
    )


def _q_linked_neural(spark, sf_dir):
    pipe = _pipe(spark, sf_dir)
    linked = pipe.linked()
    return linked.select(
        "url",
        F.col("mention_pos").cast("long").alias("mention_pos"),
        "alias",
        F.col("qid_pred").alias("qid"),
        F.round("prob", 6).alias("prob"),
    )


def _q_triples_neural(spark, sf_dir):
    return _pipe(spark, sf_dir).triples()


def _q_linked_threshold(spark, sf_dir):
    """Probability-threshold filter (bootleg_annotator.py:602-625) over
    the neural predictions; filtering on the ROUNDED prob on both sides
    keeps the boundary engine-exact. tau=0.35 sits INSIDE the observed
    K=3-softmax prob range on every test corpus (min≈0.333, med≈0.349,
    max≈0.405), so the oracle comparison covers kept AND dropped rows —
    at tau=0.5 both sides were empty and the check was vacuous
    (round-2 verdict). tests/test_pipeline.py::
    test_linked_threshold_not_vacuous pins 0 < kept < total."""
    linked = _q_linked_neural(spark, sf_dir)
    return linked.where(F.col("prob") > LINKED_TAU)


def _q_context_windows(spark, sf_dir):
    """Context-window extraction (dataset.py:173-224) over word mentions,
    with char spans derived relationally — the oracle re-implements the
    window arithmetic independently in SQL list ops, pinning the UDF."""
    from pyspark.sql.types import StringType

    from bootleg_spark.functions.textproc import extract_context

    m, d = _word_mentions(spark, sf_dir)
    joined = m.join(d["documents"].select("doc_id", "text"), "doc_id")
    words = F.split(F.col("text"), " ")
    p = F.col("mention_pos").cast("int")
    char_start = F.when(p == 0, F.lit(0)).otherwise(
        F.length(F.concat_ws(" ", F.slice(words, F.lit(1), p))) + 1
    )
    char_end = char_start + F.length(F.element_at(words, p + 1))

    @F.pandas_udf(StringType())
    def _ctx(text: pd.Series, cs: pd.Series, ce: pd.Series) -> pd.Series:
        return pd.Series(
            [extract_context((int(a), int(b)), t, 64) for t, a, b in zip(text, cs, ce)]
        )

    return joined.select(
        "doc_id",
        "mention_pos",
        _ctx(F.col("text"), char_start, char_end).alias("context"),
    )


def _q_relations_between(spark, sf_dir):
    # '|'-joined rel list: driver-canonicalizable scalar (the operator's
    # native array shape is kept for API users; see stats.relations_between)
    return stats.relations_between(_dims(spark, sf_dir)["kg_relations"]).select(
        "subj_qid", "obj_qid", F.concat_ws("|", "rels").alias("rels")
    )


def _q_uniqueness_check(spark, sf_dir):
    m, _ = _word_mentions(spark, sf_dir)
    return stats.duplicate_key_count(m, ["doc_id", "mention_pos"])


def _q_slice_sampling(spark, sf_dir):
    linked, d = _linked_pop(spark, sf_dir)
    with_slice = linked.join(
        d["documents"].select("doc_id", F.col("lang").alias("slice_name")), "doc_id"
    )
    return stats.slice_sampling_stats(with_slice)


def _slice_inputs(spark, sf_dir):
    """Deterministic slice-membership fixture: sent = doc, predict-alias
    idx = mention_pos, gold = even positions, slice = doc lang with
    membership prob cycling {0, 0.5, 1} by mention_pos % 3."""
    m, d = _word_mentions(spark, sf_dir)
    mentions = m.select(
        F.col("doc_id").alias("sent_idx"),
        F.col("mention_pos").cast("int").alias("alias_idx"),
        (F.col("mention_pos") % 2 == 0).alias("gold"),
    )
    probs = m.join(d["documents"].select("doc_id", "lang"), "doc_id").select(
        F.col("doc_id").alias("sent_idx"),
        F.col("mention_pos").cast("int").alias("alias_idx"),
        F.col("lang").alias("slice_name"),
        ((F.col("mention_pos") % 3) / 2.0).alias("prob"),
    )
    return mentions, probs


def _q_slice_incidence(spark, sf_dir):
    from bootleg_spark.operators.slices import build_slice_incidence

    mentions, probs = _slice_inputs(spark, sf_dir)
    return build_slice_incidence(mentions, probs).select(
        "sent_idx", "slice_name",
        F.col("alias_new_idx").cast("long").alias("alias_new_idx"),
        "prob", "in_slice",
    )


def _q_slice_feature_arrays(spark, sf_dir):
    from bootleg_spark.operators.slices import build_slice_incidence, slice_feature_arrays

    mentions, probs = _slice_inputs(spark, sf_dir)
    arrs = slice_feature_arrays(build_slice_incidence(mentions, probs))
    return arrs.select(
        "sent_idx",
        "slice_name",
        F.concat_ws("", F.transform("incidence", lambda x: x.cast("string"))).alias("incidence"),
        F.concat_ws("|", F.transform("probs", lambda x: x.cast("string"))).alias("probs"),
    )


def _q_ann_ivf_topk(spark, sf_dir):
    return similarity.ivf_topk(_emb(spark, sf_dir))


def _q_candidates_with_nc(spark, sf_dir):
    """Padded candidate arrays with the NC (not-in-candidates) slot
    prepended — the train_in_candidates=False shape
    (eval_utils.py:59-114: NC→eid 0, "-1" pad→eid 1)."""
    d = _dims(spark, sf_dir)
    g = grouped_candidates(d["alias_cands"])
    nc = g.select(
        "alias",
        F.concat(F.array(F.lit("NC")), "cand_qids").alias("cand_qids"),
        F.concat(F.array(F.lit(0).cast("long")), "cand_eids").alias("cand_eids"),
    )
    # stringify arrays so the driver canonicalizer can hash them
    return nc.select(
        "alias",
        F.concat_ws("|", "cand_qids").alias("cand_qids"),
        F.concat_ws("|", F.transform("cand_eids", lambda x: x.cast("string"))).alias("cand_eids"),
    )


def _q_predictions_writeback(spark, sf_dir):
    from bootleg_spark.operators.predictions import merge_predictions

    linked, _ = _linked_pop(spark, sf_dir)
    merged = merge_predictions(linked, qid_col="qid")
    # stringify the per-doc arrays for the driver canonicalizer
    return merged.select(
        "doc_id",
        F.concat_ws("|", "aliases").alias("aliases"),
        F.concat_ws("|", "qids").alias("qids"),
    )


def _q_prune_to_entities(spark, sf_dir):
    from bootleg_spark.operators.predictions import prune_to_entities

    linked, d = _linked_pop(spark, sf_dir)
    keep = linked.select("qid").distinct()
    return prune_to_entities(d["entities"], keep).select("qid", "new_eid")


def _q_mentions_gold_filter(spark, sf_dir):
    from bootleg_spark.operators.predictions import filter_weak_labels

    m, _ = _word_mentions(spark, sf_dir)
    with_gold = m.withColumn("gold", F.col("mention_pos") % 2 == 0)
    return filter_weak_labels(with_gold).select("doc_id", "mention_pos", "alias")


def _q_media_metadata(spark, sf_dir):
    from bootleg_spark.operators.multimodal import media_metadata

    return media_metadata(synth.pages_table(spark, sf_dir))


def _q_media_features(spark, sf_dir):
    from bootleg_spark.operators.multimodal import extract_media_features

    feats = extract_media_features(synth.pages_table(spark, sf_dir))
    # explode the feature vector to (id, bucket, feat_val) scalar rows so
    # the driver canonicalizer can sort/hash them
    return feats.select("id", F.posexplode("feat").alias("bucket", "feat_val")).select(
        "id", F.col("bucket").cast("long").alias("bucket"), F.round("feat_val", 6).alias("feat_val")
    )


def _profile(spark, sf_dir):
    return synth.synthetic_profile(spark, sf_dir)


def _q_profile_roundtrip(spark, sf_dir):
    """save_to_jsonl serialization round trip (entity_profile.py:286-319
    semantics, sources/profile.py profile_jsonl_lines): the synthetic
    profile is serialized to JSONL lines and re-parsed JVM-side with
    PROFILE_SCHEMA; the oracle re-derives the canonical fields straight
    from the corpus formulas, so the check pins serialize→parse as
    lossless (keys, score-sorted mentions, omitted-when-empty keys)."""
    from bootleg_spark.sources.profile import PROFILE_SCHEMA, profile_jsonl_lines

    lines = profile_jsonl_lines(_profile(spark, sf_dir))
    re = lines.select(F.from_json("line", PROFILE_SCHEMA).alias("p"))
    return re.select(
        F.col("p.entity_id").alias("qid"),
        F.col("p.title").alias("title"),
        F.col("p.description").alias("descr"),
        F.col("p.mentions")[0][0].alias("alias"),
        F.col("p.mentions")[0][1].cast("double").alias("score"),
        F.size("p.types.hyena").cast("long").alias("n_hyena"),
        F.coalesce(F.size("p.relations"), F.lit(0)).cast("long").alias("n_rel"),
    )


def _q_profile_entities_dim(spark, sf_dir):
    from bootleg_spark.sources.profile import profile_entities

    return profile_entities(_profile(spark, sf_dir)).select("qid", "eid", "title", "descr")


def _q_profile_alias_cands(spark, sf_dir):
    from bootleg_spark.sources.profile import profile_alias_candidates

    return profile_alias_candidates(_profile(spark, sf_dir)).select(
        "alias", "qid", "score", "rank"
    )


def _q_profile_entity_types(spark, sf_dir):
    from bootleg_spark.sources.profile import profile_entity_types

    t = profile_entity_types(_profile(spark, sf_dir), max_types=2)
    return t.select("qid", "type_system", F.posexplode("typenames").alias("type_pos", "type_name")).select(
        "qid", "type_system", F.col("type_pos").cast("long").alias("type_pos"), "type_name"
    )


def _q_profile_kg_relations(spark, sf_dir):
    from bootleg_spark.sources.profile import profile_kg_relations

    # max_connections=1 so the per-(qid, rel) truncation actually drops
    # rows on this corpus (246 of 261 groups carry 2 objects)
    return profile_kg_relations(_profile(spark, sf_dir), max_connections=1)


def _q_edit_script(spark, sf_dir):
    """Edit-mode mutation script over the profile candidate dim: add a
    new top candidate to the (alphabetically first) alias — the full
    list evicts its last slot — add a brand-new alias, then remove the
    first mention again. The oracle replays the same algebra in SQL
    (entity_symbols.py:592-688 semantics)."""
    from bootleg_spark.operators import editing
    from bootleg_spark.sources.profile import profile_alias_candidates

    cands = profile_alias_candidates(_profile(spark, sf_dir), max_candidates=S.MAX_CANDIDATES)
    a0 = min(r["alias"] for r in cands.select("alias").distinct().collect())
    s1 = editing.add_mention(cands, "Q999999", a0, 50.0, max_candidates=S.MAX_CANDIDATES)
    s2 = editing.add_mention(s1, "Q999998", "ZZ  Brand-New!", 1.0, max_candidates=S.MAX_CANDIDATES)
    s3 = editing.remove_mention(s2, "Q999999", a0)
    return s3.select("alias", "qid", "score", F.col("rank").cast("int").alias("rank"))


def _q_media_resize(spark, sf_dir):
    """Nearest-neighbor resize over the binary column (fake grayscale
    decode, real vectorized kernel) — exploded to (id, px, val)."""
    from bootleg_spark.operators.multimodal import resize_media

    r = resize_media(synth.pages_table(spark, sf_dir))
    return r.select("id", F.posexplode("pixels").alias("px", "val")).select(
        "id", F.col("px").cast("long").alias("px"), F.round("val", 6).alias("val")
    )


def _q_media_frames(spark, sf_dir):
    from bootleg_spark.operators.multimodal import sample_frames

    return sample_frames(synth.pages_table(spark, sf_dir))


def _q_dedup_exact(spark, sf_dir):
    return dedup.dedup_exact(_docs(spark, sf_dir))


def _q_minhash_bands(spark, sf_dir):
    return dedup.minhash_band_buckets(_docs(spark, sf_dir)).select(
        F.col("id").cast("long").alias("id"), F.col("band").cast("long").alias("band"), "min_hash"
    )


def _q_minhash_lsh_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir)).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long")
    )


def _q_ngram_jaccard_pairs(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "n_inter", "n_a", "n_b", "jaccard"
    )


def _q_minhash_verified_pairs(spark, sf_dir):
    return dedup.minhash_verified_pairs(_docs(spark, sf_dir), threshold=0.2).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "jaccard"
    )


def _q_dup_clusters(spark, sf_dir):
    """Connected components over the LSH candidate pairs (keep-one-per-
    cluster dedup); oracle = DuckDB recursive CTE reachability."""
    pairs = dedup.minhash_lsh_pairs(_docs(spark, sf_dir))
    return dedup.dup_clusters(pairs).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def _q_dedup_keep(spark, sf_dir):
    """Keep-one-per-cluster over the whole corpus: singletons keep
    themselves, near-dup clusters keep the smallest id (the final step
    of every dedup pipeline; dedup.dedup_keep)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs)
    return dedup.dedup_keep(docs, pairs)


def _q_simhash_near_pairs(spark, sf_dir):
    return dedup.simhash_near_pairs(_docs(spark, sf_dir)).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long")
    )


def _q_ann_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk_bruteforce(_emb(spark, sf_dir))


def _q_ann_ivf_table(spark, sf_dir):
    """ANN over the IVF index-as-table-layout: vectors cell-assigned
    and written as a snapshot table range-partitioned on cell (tight
    per-file cell stats + centroids in the snapshot metadata), then
    queried at FULL probe — which reads every cell and must reproduce
    cosine_topk_bruteforce exactly, so it shares that oracle. The
    1-probe pruning behavior (strict file subset) is pytest-pinned."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.operators.similarity import build_ivf_table, ivf_table_topk

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_ivf_table",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    build_ivf_table(_emb(spark, sf_dir), table, n_cells=8)
    return ivf_table_topk(spark, table, n_probe=8)


def _q_ann_signbit_lsh(spark, sf_dir):
    return similarity.signbit_lsh_topk(_emb(spark, sf_dir))


def _q_embedding_near_pairs(spark, sf_dir):
    return similarity.embedding_near_pairs(_emb(spark, sf_dir), threshold=0.3).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cos_sim"
    )


def _q_events_sessions(spark, sf_dir):
    from bootleg_spark.operators.sessions import sessionize

    events = _events(spark, sf_dir)
    return sessionize(events)


def _q_events_session_windows(spark, sf_dir):
    from bootleg_spark.operators.sessions import sessionize_windows

    events = _events(spark, sf_dir)
    return sessionize_windows(events)


def _q_events_asof(spark, sf_dir):
    """As-of join: every event matched to the latest signup at or
    before it for the same user (union-merge + one window pass — one
    shuffle of |L|+|R|, no inequality-join blow-up). Deterministic
    under duplicate right timestamps via max-payload-struct carry; the
    oracle mirrors with max over a struct literal."""
    from bootleg_spark.operators.timeseries import asof_join

    ev = _events(spark, sf_dir)
    left = ev.select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("e")
    )
    right = ev.where("event_type = 'signup'").select(
        "user_id", F.unix_timestamp("ts").alias("e"), "event_id"
    )
    return asof_join(left, right, ["user_id"], left_ts="e", right_ts="e")


def _q_events_interval_join(spark, sf_dir):
    """Bucketed interval join: events falling in the 2h window after
    each signup, aggregated per window (conversion-window analysis).
    Intervals explode to hour buckets; the equi-join on (user, bucket)
    + exact containment replaces the inequality cross-join."""
    from bootleg_spark.operators.timeseries import interval_join

    ev = _events(spark, sf_dir)
    pts = ev.select("user_id", F.unix_timestamp("ts").alias("e"), "value")
    ivs = ev.where("event_type = 'signup'").select(
        "user_id",
        F.col("event_id").alias("signup_id"),
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + F.lit(7200)).alias("s_end"),
    )
    j = interval_join(
        pts, ivs, "e", "s", "s_end", keys=["user_id"], bucket_seconds=3600
    )
    return j.groupBy("signup_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def _q_events_rollup(spark, sf_dir):
    """Hour + day continuous-aggregate rollup in ONE scan via GROUPING
    SETS (Catalyst Expand feeding a single partial-aggregated
    exchange) — the hypertable downsampling pattern."""
    from bootleg_spark.operators.timeseries import rollup_time_grains

    ev = _events(spark, sf_dir)
    return rollup_time_grains(ev, group_cols=["event_type"])


def _q_lang_id(spark, sf_dir):
    return textstats.lang_id_heuristic(_docs(spark, sf_dir))


def _q_token_counts(spark, sf_dir):
    return textstats.token_counts(_docs(spark, sf_dir))


def _q_quality_scores(spark, sf_dir):
    return textstats.quality_scores(_docs(spark, sf_dir))


def _q_doc_fingerprints(spark, sf_dir):
    return textstats.doc_fingerprints(_docs(spark, sf_dir))


def _q_repetition_scores(spark, sf_dir):
    return textstats.repetition_scores(_docs(spark, sf_dir))


def _q_winnow_fps(spark, sf_dir):
    return textstats.winnow_fingerprints(_docs(spark, sf_dir))


def _dirty_docs(spark, sf_dir):
    """documents with deterministic PII appended — the sf corpora are
    synthetic clean text, so scrubbing them directly would compare two
    identical sets (a vacuous oracle, the linked_threshold lesson);
    injecting one email + phone + IPv4 per doc makes every row exercise
    both the kept and the redacted side."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" at 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") % 250) + 1).cast("string"),
        ).alias("text"),
    )


def _q_pii_scrub(spark, sf_dir):
    return textclean.scrub_pii(_dirty_docs(spark, sf_dir))


def _q_url_canonical(spark, sf_dir):
    """Messy-URL synthesis (4 deterministic dirt patterns) + canonicalization."""
    d = F.col("doc_id").cast("string")
    lang = F.col("lang")
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("HTTPS://WWW.Example.org:443/"), lang, F.lit("/"), d, F.lit("/?utm_source=feed&b=2&a=1#frag")))
        .when(m == 1, F.concat(F.lit("https://example.org/"), lang, F.lit("/"), d, F.lit("?a=1&b=2")))
        .when(m == 2, F.concat(F.lit("http://Example.org:80/"), lang, F.lit("/"), d, F.lit("#x")))
        .otherwise(F.concat(F.lit("https://www.example.org/"), lang, F.lit("/"), d, F.lit("/?gclid=xyz&ref=home")))
    )
    messy = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return textclean.canonical_urls(messy)


def _q_ngram_contamination(spark, sf_dir):
    """Eval set = every 20th doc (a stand-in benchmark suite); corpus =
    the rest. Flags corpus docs sharing any 3-gram with the eval set."""
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return textclean.ngram_contamination(corpus, ev)


def _q_corpus_select(spark, sf_dir):
    """End-to-end curation: quality + lang filter, exact-dup keeper,
    eval-set decontamination (5-gram — 3-gram contamination drops ~90%
    of this synthetic corpus, which would leave the kept side too thin
    to pin; 5-gram keeps ~75% so both sides are exercised)."""
    docs = _docs(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return textclean.select_training_corpus(corpus, ev, shingle_n=5)


def _q_sentences_mentions(spark, sf_dir):
    """Sentence-JSONL ingestion path (the reference's train/eval input,
    dataset.py:495-545): synthesize sentence-shaped rows from documents
    (first two words as mentions — one upper-cased to exercise the
    lowercasing, alternating gold) and run the per-mention expansion."""
    from bootleg_spark.sources import sentences as sent_src

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    frame = d.where(F.size(words) >= 2).select(
        F.col("doc_id").alias("sent_idx_unq"),
        F.col("text").alias("sentence"),
        F.array(F.upper(words[0]), words[1]).alias("aliases"),
        F.array(
            F.concat(F.lit("Q"), (F.col("doc_id") * 2).cast("string")),
            F.concat(F.lit("Q"), (F.col("doc_id") * 2 + 1).cast("string")),
        ).alias("qids"),
        F.array(
            F.array(F.lit(0).cast("long"), F.length(words[0]).cast("long")),
            F.array(
                (F.length(words[0]) + 1).cast("long"),
                (F.length(words[0]) + F.length(words[1]) + 1).cast("long"),
            ),
        ).alias("char_spans"),
        F.array(F.lit(True), (F.col("doc_id") % 2 == 0)).alias("gold"),
        F.lit(None).cast("string").alias("_corrupt"),
    )
    return sent_src.sentences_to_mentions(frame)


def _q_sentences_slices(spark, sf_dir):
    """`slices` maps threaded from sentence JSONL into slice incidence
    (the round-3 verdict's missing seam): sentence-shaped rows are
    synthesized from documents with two mentions each (gold: first
    always, second on even doc_ids) and per-line slice maps; the
    incidence build runs use_weak_label=False (gold filter + reindex,
    slice_dataset.py:320-346). The oracle re-derives every row from
    documents in SQL."""
    from bootleg_spark.operators.slices import build_slice_incidence
    from bootleg_spark.sources import sentences as sent_src

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    even = F.col("doc_id") % 2 == 0
    # slice maps in the reference's line format {name: {str(idx): prob}}:
    # s_even marks mention 0 (strong on even docs, weak on odd, and odd
    # docs also tag the non-gold mention 1 — dropped by the gold filter);
    # s_second marks mention 1 everywhere (survives only on even docs)
    slices_map = F.when(
        even,
        F.create_map(
            F.lit("s_even"), F.create_map(F.lit("0"), F.lit(0.9)),
            F.lit("s_second"), F.create_map(F.lit("1"), F.lit(0.8)),
        ),
    ).otherwise(
        F.create_map(
            F.lit("s_even"),
            F.create_map(F.lit("0"), F.lit(0.2), F.lit("1"), F.lit(0.7)),
            F.lit("s_second"), F.create_map(F.lit("1"), F.lit(0.8)),
        )
    )
    frame = d.where(F.size(words) >= 2).select(
        F.col("doc_id").alias("sent_idx_unq"),
        F.col("text").alias("sentence"),
        F.array(words[0], words[1]).alias("aliases"),
        F.array(F.lit("Q1"), F.lit("Q2")).alias("qids"),
        F.array(
            F.array(F.lit(0).cast("long"), F.length(words[0]).cast("long")),
            F.array(
                (F.length(words[0]) + 1).cast("long"),
                (F.length(words[0]) + F.length(words[1]) + 1).cast("long"),
            ),
        ).alias("char_spans"),
        F.array(F.lit(True), even).alias("gold"),
        slices_map.alias("slices"),
        F.lit(None).cast("string").alias("_corrupt"),
    )
    probs = sent_src.sentences_to_slice_probs(frame)
    mentions = frame.select(
        F.col("sent_idx_unq").alias("sent_idx"),
        F.posexplode("gold").alias("alias_idx", "gold"),
    )
    inc = build_slice_incidence(mentions, probs, use_weak_label=False)
    return inc.select(
        "sent_idx",
        "slice_name",
        F.col("alias_new_idx").cast("long").alias("alias_new_idx"),
        "prob",
        "in_slice",
    )


def _q_corpus_mixture(spark, sf_dir):
    """Stratified mixture sampling (pretraining data mixing): en
    upsampled 2.4×, de subsampled 0.5×, zh passthrough, fr/es dropped
    — all via the engine-portable md5 draw, no rand()."""
    from bootleg_spark.operators.sampling import mix_corpus

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    out = mix_corpus(d, {"en": 2.4, "de": 0.5, "zh": 1.0}, seed=7)
    return out.select(
        "doc_id", "lang", F.col("_copy").cast("long").alias("copy_idx")
    )


def _q_pack_spans(spark, sf_dir):
    """Concatenate-and-cut sequence packing (GPT-style pretraining
    batches): 128-token packs over 8 buckets; documents straddling a
    cut split across packs. The oracle recomputes the whole layout
    with a window cumsum + generate_series."""
    from bootleg_spark.operators.sampling import pack_token_spans

    return pack_token_spans(
        _docs(spark, sf_dir), budget=128, n_buckets=8
    )


def _q_pack_spans_mixed(spark, sf_dir):
    """Packing over a DUPLICATED corpus: mix_corpus output reuses
    doc_id across copies, the exact input shape that broke the default
    RANGE window frame (ADVICE r4 medium — tied doc_ids were RANGE
    peers, every copy's cumsum included all copies' tokens, packs
    stopped tiling). Pins the fixed ROWS-frame + tiebreak layout
    end-to-end against an oracle that re-derives mixture AND packing."""
    from bootleg_spark.operators.sampling import mix_corpus, pack_token_spans

    mixed = mix_corpus(
        _docs(spark, sf_dir).select("doc_id", "lang", "text"),
        {"en": 2.4, "de": 0.5, "zh": 1.0},
        seed=7,
    )
    out = pack_token_spans(
        mixed, budget=128, n_buckets=8, tiebreak_cols=("_copy",)
    )
    return out.withColumn("copy_idx", F.col("_copy").cast("long")).drop("_copy")


def _q_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (RAG/context layout): 32-token
    windows, stride 24 (8-token overlap) over documents; last window
    short. The oracle rebuilds every window with list slicing."""
    from bootleg_spark.operators.sampling import chunk_token_windows

    return chunk_token_windows(_docs(spark, sf_dir), size=32, stride=24)


def _q_line_dedup(spark, sf_dir):
    """C4-style global line dedup (Raffel et al. 2020 §2.2): documents
    are recut into 5-word lines plus injected boilerplate — a footer on
    every page and a promo line on every third — and any line occurring
    ≥3 times corpus-wide is removed from all documents. The oracle
    recomputes the layout, the global counts, and the reassembly."""
    from bootleg_spark.operators.textclean import dedup_lines_global

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    groups = F.transform(
        F.sequence(F.lit(0), F.floor((n - 1) / 5).cast("int")),
        lambda g: F.concat_ws(" ", F.slice(words, g * 5 + 1, 5)),
    )
    body = F.array_join(groups, "\n")
    text2 = F.concat(
        body,
        F.lit("\nshared boilerplate footer line"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("\nsemi common promo line")).otherwise(
            F.lit("")
        ),
    )
    framed = d.where(n >= 1).select("doc_id", text2.alias("text"))
    return dedup_lines_global(framed, min_count=3)


def _q_candidates_salted(spark, sf_dir):
    """The beyond-broadcast salted candidate join
    (attach_candidates_salted: fact-derived salt × salt_n-replicated
    dim, shuffle-hash on (alias, salt)) driven through the popularity
    linker — row-identical to the broadcast attach_candidates plan, so
    it shares the linked_popularity oracle. Skew behavior: BENCH.md
    "Head-alias skew evidence (round 4)"."""
    from bootleg_spark.operators.candidates import attach_candidates_salted

    m, d = _word_mentions(spark, sf_dir)
    mc = attach_candidates_salted(m, grouped_candidates(d["alias_cands"]))
    return link_popularity(mc).select(
        "doc_id", "mention_pos", "alias", F.col("qid_pred").alias("qid")
    )


def _q_warc_files_roundtrip(spark, sf_dir):
    """pages → the production per-partition ``.warc.gz`` FILE sink
    (write_warc_files: gzip member per record, temp + atomic-rename
    commit) → binaryFile re-ingest (read_warc_files) → parse. Same
    oracle as warc_roundtrip: (url, date, payload length+md5) straight
    from documents — so the check pins the on-disk file format and the
    commit protocol's exactly-once output, not just the in-memory
    buffer path that warc_roundtrip covers."""
    import os
    import tempfile

    from bootleg_spark.sources import warc as warc_src

    pages = synth.pages_table(spark, sf_dir)
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_warc_files",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    manifest = warc_src.write_warc_files(
        pages.repartition(8, "doc_id"), out_dir, overwrite=True
    )
    manifest.count()  # the action that drives the write
    recs = warc_src.read_warc_files(spark, os.path.join(out_dir, "*.warc.gz"))
    return recs.select(
        F.col("target_uri").alias("url"),
        "warc_date",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


# Synthetic per-doc URL for the domain-cap query: 37 sites × 2 TLDs
# (74 registered domains), half behind a www. prefix and half behind a
# shop. subdomain so BOTH strippings are observable in the result.
# Mirrored verbatim in the domain_caps oracle.
def _domain_url_expr():
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://www.site")).otherwise(
            F.lit("https://shop.site")
        ),
        (F.col("doc_id") % 37).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".net")).otherwise(F.lit(".org")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )


def _q_domain_caps(spark, sf_dir):
    """Per-registered-domain document cap (anti-SEO-farm curation):
    at most 5 docs per domain, best quality first, deterministic
    tiebreak. The oracle re-derives the URL, the registered domain
    (two-label rule incl. the .co.uk shape) and the ranked cap."""
    from bootleg_spark.operators.curation import cap_per_domain
    from bootleg_spark.operators.textstats import quality_exprs

    d = _docs(spark, sf_dir).select(
        "doc_id",
        _domain_url_expr().alias("url"),
        quality_exprs()["quality"].alias("quality"),
    )
    return cap_per_domain(d, max_per_domain=5, quality_col="quality")


def _q_quality_percentile(spark, sf_dir):
    """Per-language quality percentile cut: keep the best 60% of each
    language by the textstats quality score (absolute thresholds are
    incomparable across languages). Exact percent_rank form — the
    oracle mirrors it; the 100-TB variant is the broadcast
    percentile_approx threshold (see operator docstring)."""
    from bootleg_spark.operators.curation import quality_percentile_filter

    return quality_percentile_filter(_docs(spark, sf_dir), keep_frac=0.6)


def _q_quality_model(spark, sf_dir):
    """Model-based quality filter (fastText/CCNet-classifier pattern):
    logistic score over scan-level features, whole model evaluated as
    codegen expressions inside the projection. Oracle re-derives the
    identical formula over the identically-rounded features."""
    from bootleg_spark.operators.textstats import quality_model_score

    return quality_model_score(_docs(spark, sf_dir))


def _q_lm_perplexity(spark, sf_dir):
    """Bigram-LM cross-entropy filter (the CCNet/KenLM perplexity
    pattern, self-referenced): two count dims + bigram-grain joins +
    doc-grain aggregation. Oracle re-derives the identical smoothed
    model in SQL (lateral unnest over index ranges for the bigrams)."""
    from bootleg_spark.operators.textstats import lm_cross_entropy

    return lm_cross_entropy(_docs(spark, sf_dir))


def _q_tfidf_terms(spark, sf_dir):
    """Top-5 TF-IDF keywords per document (smoothed sklearn idf):
    explode → pair counts → df dim → join → per-doc top-k window,
    every aggregation map-side combined. Oracle recomputes the full
    formula including the corpus-N scalar."""
    from bootleg_spark.operators.curation import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


def _q_char_span_convert(spark, sf_dir):
    """The convert_to_char_spans preprocessing CLI as a projection:
    fixed word spans [[0,2],[3,5]] over every ≥5-word document become
    char spans. The UDF handles arbitrary whitespace; on this
    single-spaced corpus the oracle recomputes spans with the
    prefix-length formula, pinning the general code on the guarded
    class (same pattern as the mention extractors)."""
    from bootleg_spark.sources.sentences import sentences_add_char_spans

    d = (
        _docs(spark, sf_dir)
        .where(F.size(F.split("text", " ")) >= 5)
        .select(
            "doc_id",
            "text",
            F.array(
                F.array(F.lit(0).cast("long"), F.lit(2).cast("long")),
                F.array(F.lit(3).cast("long"), F.lit(5).cast("long")),
            ).alias("spans"),
        )
    )
    out = sentences_add_char_spans(d, text_col="text")
    return out.select(
        "doc_id", F.posexplode("char_spans").alias("span_idx", "_cs")
    ).select(
        "doc_id",
        F.col("span_idx").cast("long").alias("span_idx"),
        F.col("_cs")[0].alias("char_start"),
        F.col("_cs")[1].alias("char_end"),
    )


def _q_table_profile(spark, sf_dir):
    """Per-column data-quality screen over the documents table: null
    coverage, exact cardinality, min/max as strings — one aggregation,
    one scan. The oracle recomputes every column independently."""
    return stats.profile_columns(
        _docs(spark, sf_dir), cols=["doc_id", "lang", "source", "n_chars"]
    )


def _q_kg_khop(spark, sf_dir):
    """k-hop BFS neighborhood over the KG edges: the 3 lexicographically
    first subject qids seed a 3-hop expansion; every reached entity is
    labeled with its MINIMUM hop. The operator is iterative frontier
    BFS (scalable); the oracle enumerates all walks ≤ 3 with a
    recursive CTE and takes min(hop) — equal by definition of shortest
    path, so the check pins the BFS against an independent formulation."""
    from bootleg_spark.operators.graph import khop_neighborhood

    kg = _dims(spark, sf_dir)["kg_relations"]
    seeds = (
        kg.select(F.col("subj_qid").alias("qid")).distinct().orderBy("qid").limit(3)
    )
    return khop_neighborhood(kg, seeds, k=3)


def _q_kg_degrees(spark, sf_dir):
    """Per-entity out/in/total degree over the KG edges (hub detection
    = the skew map for qid-keyed joins)."""
    from bootleg_spark.operators.graph import degree_stats

    return degree_stats(_dims(spark, sf_dir)["kg_relations"])


def _q_kg_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the KG edges (entity centrality;
    10 iterations, d = 0.85, no dangling redistribution — the variant
    the oracle mirrors with UNROLLED chained CTEs, since recursive
    CTEs cannot aggregate over their own reference)."""
    from bootleg_spark.operators.graph import pagerank

    return pagerank(_dims(spark, sf_dir)["kg_relations"])


def _q_kg_components(spark, sf_dir):
    """Weakly connected components of the KG: component = min qid
    reachable ignoring direction (pointer-jumping min-label
    propagation reused from the dedup suite; oracle = recursive-CTE
    reachability closure + MIN)."""
    from bootleg_spark.operators.graph import connected_components

    return connected_components(_dims(spark, sf_dir)["kg_relations"])


def _q_kg_triangles(spark, sf_dir):
    """Per-entity triangle counts over the undirected KG (degree-
    oriented wedge join — each triangle counted once at its minimum
    (degree, id) vertex, so hub fan-out is structurally bounded). The
    oracle mirrors the same orientation in SQL; agreement pins both the
    dedup-to-undirected step and the wedge-closing join."""
    from bootleg_spark.operators.graph import triangle_counts

    return triangle_counts(_dims(spark, sf_dir)["kg_relations"])


def _q_kg_path_motifs(spark, sf_dir):
    """2-hop typed-path census (pred1, pred2, n_paths) with s != o —
    the compositional-relation profile of the emitted KG; one mid-
    entity self-join + predicate-pair aggregation."""
    from bootleg_spark.operators.graph import path_motifs

    return path_motifs(_dims(spark, sf_dir)["kg_relations"])


def _q_kg_negatives(spark, sf_dir):
    """Filtered TransE-style negative sampling (Bordes et al. NIPS'13)
    over the emitted KG: k=3 corruptions per distinct positive,
    md5-deterministic side coin + entity draw, replacement fetched by
    broadcast dense-id join, positives removed by one anti-join. The
    oracle mirrors the identical md5 arithmetic in DuckDB (row_number
    entity index, ::UBIGINT hex cast), so the check pins the draw
    formula, the dense-id assignment, AND the filter semantics."""
    from bootleg_spark.operators.graph import negative_samples

    kg = _dims(spark, sf_dir)["kg_relations"]
    ents = (
        kg.select(F.col("subj_qid").alias("qid"))
        .unionByName(kg.select(F.col("obj_qid").alias("qid")))
        .distinct()
    )
    return negative_samples(kg, ents, k=3, seed=7)


def _q_kg_rel_cardinality(spark, sf_dir):
    """Per-relation mapping statistics (tph/hpt, 1-1/1-N/N-1/N-M at
    the conventional 1.5 cut, TransH Bernoulli P(corrupt head)) — the
    other half of KG-embedding training prep next to kg_negatives.
    Classification runs in exact integer arithmetic in both engines."""
    from bootleg_spark.operators.graph import relation_cardinality

    return relation_cardinality(_dims(spark, sf_dir)["kg_relations"])


def _q_kg_link_predict(spark, sf_dir):
    """Adamic–Adar / common-neighbor scores for non-edge pairs of the
    undirected KG — the KG-completion candidate screen. Uncapped here
    (exact); the operator's max_degree cap is the documented hub
    bound at scale."""
    from bootleg_spark.operators.graph import link_predict_scores

    return link_predict_scores(_dims(spark, sf_dir)["kg_relations"])


def _q_entity_pmi(spark, sf_dir):
    """Entity co-occurrence PMI/NPMI at page grain over the LINKED
    corpus (popularity linker → page-distinct entities → pair PMI) —
    the distant-supervision ranking for proposing new relations; chains
    the full linking path into the scoring, so the oracle re-derives
    mentions, candidates, argmax linking AND the PMI arithmetic."""
    from bootleg_spark.operators.triples import cooccurrence_pmi, doc_entities

    linked, _ = _linked_pop(spark, sf_dir)
    ents = doc_entities(linked, qid_col="qid")
    return cooccurrence_pmi(ents)


def _q_kg_split(spark, sf_dir):
    """Transductive train/valid/test split of the KG (80/10/10 md5
    buckets + one-pass demotion of valid/test triples whose entity or
    relation is missing from tentative train) — the FB15k-style split
    prep for kg_negatives' training consumer. The oracle replays the
    identical draw + demotion in SQL."""
    from bootleg_spark.operators.graph import transductive_split

    return transductive_split(_dims(spark, sf_dir)["kg_relations"])


def _q_kg_rank_eval(spark, sf_dir):
    """Filtered MRR/Hits@k of the frequency baseline over the
    transductive test split (both corruption sides, per relation) —
    the FB15k eval protocol without the |test|×|V| matrix: dense
    popularity index + bounded discount join. The oracle replays
    split, popularity order, filtered rank algebra, and the metric
    aggregation in SQL."""
    from bootleg_spark.operators.graph import (
        ranking_eval_popularity,
        transductive_split,
    )

    kg = _dims(spark, sf_dir)["kg_relations"]
    return ranking_eval_popularity(kg, transductive_split(kg))


def _q_kg_canonicalize(spark, sf_dir):
    """Entity canonicalization: resolve the synthetic redirect CHAINS
    (Q(3a+2) → Q(3a+1) → Q(3a) for every third alias) by pointer
    jumping, rewrite the KG's subj/obj onto canonical qids, drop
    collapsed self-loops, dedup — the north-star "canonicalized to
    Wikidata QIDs" step. The oracle follows the same chains with a
    recursive CTE and mirrors the rewrite + self-loop filter, so the
    check pins chain resolution (not just single-hop), the broadcast
    rewrite joins, AND the post-merge dedup."""
    from bootleg_spark.operators.canonical import (
        canonicalize_triples,
        resolve_redirects,
    )
    from bootleg_spark.sources.synth import redirects_dim

    d = _dims(spark, sf_dir)
    resolved = resolve_redirects(redirects_dim(d["entities"]))
    return canonicalize_triples(
        d["kg_relations"].select("subj_qid", "rel", "obj_qid"), resolved
    )


def _adjacent_pairs(spark, sf_dir):
    """Shared stage: consecutive linked-mention pairs with the between-
    words surface pattern (gap 2..4 words)."""
    from bootleg_spark.operators.patterns import adjacent_linked_pairs

    linked, d = _linked_pop(spark, sf_dir)
    return (
        adjacent_linked_pairs(linked, d["documents"]),
        d,
    )


def _q_rel_pattern_mine(spark, sf_dir):
    """Distant-supervision pattern mining (Mintz et al. ACL'09 /
    Snowball): surface patterns between consecutive linked mentions,
    credited per KG relation they attest, with the precision ratio
    against all instances of the pattern. The oracle replays linking,
    the lead-window pairing, the between-words slice, and both
    aggregations."""
    from bootleg_spark.operators.patterns import mine_patterns

    pairs, d = _adjacent_pairs(spark, sf_dir)
    return mine_patterns(pairs, d["kg_relations"])


def _q_rel_pattern_apply(spark, sf_dir):
    """Pattern application — the triple-PROPOSAL step: pairs matched by
    a kept pattern (support ≥ 2, precision ≥ 0.05) whose triple the KG
    lacks, with evidence counts and best-pattern confidence. One
    broadcast dictionary join + one anti-join on the triple key."""
    from bootleg_spark.operators.patterns import apply_patterns, mine_patterns

    pairs, d = _adjacent_pairs(spark, sf_dir)
    # shared-scan contract (r07 / VERDICT r06 #8): mine and apply both
    # consume the pairs frame; without the (lazy) checkpoint the whole
    # linked-corpus lineage — mention extraction, linking, the lead-
    # window pairing — executes once per consumer. bootstrap_patterns
    # already does this per round; the single-query apply now matches.
    pairs = pairs.localCheckpoint(eager=False)
    mined = mine_patterns(pairs, d["kg_relations"])
    return apply_patterns(
        pairs, mined, d["kg_relations"], min_support=2, min_precision=0.05
    )


def _q_kg_rel_signatures(spark, sf_dir):
    """Learned relation type signatures (Knowledge Vault pattern): each
    predicate's observed (subject-type, object-type) pairs with support
    and within-relation fraction — the self-supervised ontology the
    violation screen consumes. Oracle replays the typed joins and both
    aggregations."""
    from bootleg_spark.operators.fusion import relation_signatures

    d = _dims(spark, sf_dir)
    return relation_signatures(d["kg_relations"], d["entities"])


def _corrupted_kg(kg):
    """Deterministic error injection for the type screen: rotate the
    predicate of every triple whose subj_qnum % 23 == 0. The synthetic
    KG's signatures are exact (rel index = subj_variant + obj_variant
    mod 3), so a rotated predicate always lands on a type pair the
    relation never legitimately produces — the screen must find exactly
    the injected slice."""
    rot = (
        F.when(F.col("rel") == "works_with", F.lit("located_in"))
        .when(F.col("rel") == "located_in", F.lit("part_of"))
        .otherwise(F.lit("works_with"))
    )
    return kg.select(
        "subj_qid",
        F.when(F.col("subj_qnum") % 23 == 0, rot).otherwise(F.col("rel")).alias("rel"),
        "obj_qid",
    )


def _q_kg_type_violations(spark, sf_dir):
    """Type-signature violation screen over a KG with a seeded corrupt
    slice (same injection in the oracle): triples whose endpoint-type
    pair holds < 5% of the relation's typed mass."""
    from bootleg_spark.operators.fusion import type_violations

    d = _dims(spark, sf_dir)
    return type_violations(_corrupted_kg(d["kg_relations"]), d["entities"], min_frac=0.05)


def _q_kg_func_conflicts(spark, sf_dir):
    """Functional-relation conflict detection: (subj, rel) groups with
    more than one object under predicates declared functional; objects
    reported as a sorted pipe-joined string (driver hash compares
    scalars only)."""
    from bootleg_spark.operators.fusion import functional_conflicts

    d = _dims(spark, sf_dir)
    out = functional_conflicts(d["kg_relations"], ["located_in", "part_of"])
    return out.select(
        "subj_qid", "rel", "n_objects", F.concat_ws("|", "objects").alias("objects")
    )


def _q_kg_fuse_functional(spark, sf_dir):
    """Single-truth selection for functional predicates: per (subj,
    located_in) keep the object with the most corpus evidence (linked
    mention count), ties to the smallest obj_qid; every other relation
    passes through with its evidence weight. One max_by aggregation —
    no window sort."""
    from bootleg_spark.operators.fusion import resolve_functional

    linked, d = _linked_pop(spark, sf_dir)
    ev = (
        d["kg_relations"]
        .select("subj_qid", "rel", "obj_qid")
        .distinct()
        .join(
            linked.groupBy("qid").agg(F.count(F.lit(1)).cast("double").alias("weight")),
            F.col("obj_qid") == F.col("qid"),
        )
        .select("subj_qid", "rel", "obj_qid", "weight")
    )
    return resolve_functional(d["kg_relations"], ev, ["located_in"])


def _claims(spark, sf_dir):
    """Shared stage: (source, subj_qid, rel, obj_qid) attestations —
    a source asserts a triple iff one of its pages co-mentions both
    endpoints of a KG edge."""
    linked, d = _linked_pop(spark, sf_dir)
    ents = doc_entities(linked, qid_col="qid")
    att = triples_from_doc_entities(ents, d["kg_relations"], group_cols=["doc_id"])
    return (
        att.join(d["documents"].select("doc_id", "source"), "doc_id")
        .select(
            "source",
            F.col("subj").alias("subj_qid"),
            F.col("pred").alias("rel"),
            F.col("obj").alias("obj_qid"),
        )
        .distinct()
    )


def _q_kg_source_trust(spark, sf_dir):
    """Iterative source-reliability estimation (truth discovery, Sums
    variant; 3 rounds): trust ↔ claim-confidence mutual recursion over
    the (source, triple) attestation graph, max-normalized per round.
    Oracle unrolls the identical chain (the kg_pagerank technique)."""
    from bootleg_spark.operators.fusion import source_trust

    trust, _ = source_trust(_claims(spark, sf_dir), iters=3)
    return trust.select("source", F.round("trust", 6).alias("trust"))


def _q_kg_claim_conf(spark, sf_dir):
    """Final-round claim confidences from the same truth-discovery
    chain — the per-triple belief the fusion layer consumes."""
    from bootleg_spark.operators.fusion import source_trust

    _, conf = source_trust(_claims(spark, sf_dir), iters=3)
    return conf.select(
        "subj_qid", "rel", "obj_qid", F.round("conf", 6).alias("conf")
    )


def _q_kg_fact_spans(spark, sf_dir):
    """Temporal scoping of extracted facts: first/last crawl
    observation (warc_ts) and distinct-page support per triple, from
    page-grain attestations joined to the pages table. Timestamps are
    reported as epoch seconds (longs) so the hash compare is
    timezone-free."""
    from bootleg_spark.operators.fusion import observation_spans
    from bootleg_spark.sources.synth import pages_table

    linked, d = _linked_pop(spark, sf_dir)
    ents = doc_entities(linked, qid_col="qid")
    att = triples_from_doc_entities(ents, d["kg_relations"], group_cols=["doc_id"])
    pages = pages_table(spark, sf_dir).select("doc_id", "warc_ts")
    out = observation_spans(att, pages)
    return out.select(
        "subj",
        "pred",
        "obj",
        F.unix_timestamp("first_seen").cast("long").alias("first_seen_epoch"),
        F.unix_timestamp("last_seen").cast("long").alias("last_seen_epoch"),
        "n_pages",
    )


def _q_entity_resolve(spark, sf_dir):
    """Surface-form entity resolution over entity-title records with a
    deterministic dirty slice (every 5th entity gets an uppercased,
    punctuated copy): lnrm-first-token blocking → char-3-gram Jaccard
    verify (θ=0.8) → pointer-jumping components → (rec_id, canon).
    The dirty copies must merge with their sources (normalization makes
    their Jaccard 1.0); same-alias different-type variants share a
    block but stay split (Jaccard ≪ θ) — both behaviors hash-checked
    by the oracle's recursive-closure replay."""
    from bootleg_spark.operators.entity_res import (
        block_records,
        candidate_pairs,
        resolve_records,
        verified_pairs,
    )

    e = _dims(spark, sf_dir)["entities"]
    recs = e.select(
        F.concat("qid", F.lit("#0")).alias("rec_id"), F.col("title").alias("name")
    ).unionByName(
        e.where(F.col("qnum") % 5 == 0).select(
            F.concat("qid", F.lit("#1")).alias("rec_id"),
            F.concat(F.upper("title"), F.lit(" .")).alias("name"),
        )
    )
    blocked = block_records(recs)
    matches = verified_pairs(candidate_pairs(blocked))
    return resolve_records(blocked, matches)


def _q_kg_fused(spark, sf_dir):
    """End-to-end fusion output: every attested triple with its
    truth-discovery belief (3-round claim confidence, rounded to 6
    BEFORE the pick so tie order matches the oracle bit-for-bit), and
    functional predicates (located_in) resolved to the max-belief
    object per subject. The full extract → attest → trust → believe →
    resolve chain in one statement."""
    from bootleg_spark.operators.fusion import resolve_functional, source_trust

    # claims feed both the trust chain and the triple universe —
    # materialize once (source_trust checkpoints its own projection,
    # but the triples branch would re-derive the extraction otherwise)
    claims = _claims(spark, sf_dir).localCheckpoint(eager=False)
    _, conf = source_trust(claims, iters=3)
    triples = claims.select("subj_qid", "rel", "obj_qid").distinct()
    ev = conf.select(
        "subj_qid", "rel", "obj_qid", F.round("conf", 6).alias("weight")
    )
    return resolve_functional(triples, ev, ["located_in"])


def _q_kg_rule_mine(spark, sf_dir):
    """AMIE-style 2-hop horn-rule mining: (a,r1,b)∧(b,r2,c) ⇒ (a,r3,c)
    with distinct-binding support and confidence — KG completion from
    structure, the graph-side twin of rel_pattern_mine."""
    from bootleg_spark.operators.rules import mine_rules

    return mine_rules(_dims(spark, sf_dir)["kg_relations"], min_support=2)


def _q_kg_rule_apply(spark, sf_dir):
    """Rule application: triples proposed by confident rules
    (confidence ≥ 0.02 — the synthetic KG is hash-random, so 2-hop
    composition tops out near 0.025; the threshold keeps the top band)
    for body bindings whose head edge the KG lacks;
    broadcast rule dim + one anti-join on the triple key."""
    from bootleg_spark.operators.rules import apply_rules, mine_rules

    kg = _dims(spark, sf_dir)["kg_relations"]
    return apply_rules(kg, mine_rules(kg, min_support=2), min_confidence=0.02)


def _q_kg_proposals(spark, sf_dir):
    """The KG-growth queue: text-side (distant-supervision pattern) and
    graph-side (AMIE rule) triple proposals unioned with provenance —
    what a curator or a bootstrapping iteration consumes next."""
    pat = _q_rel_pattern_apply(spark, sf_dir).select(
        "subj_qid", "rel", "obj_qid", "confidence", F.lit("pattern").alias("via")
    )
    rul = _q_kg_rule_apply(spark, sf_dir).select(
        "subj_qid", "rel", "obj_qid", "confidence", F.lit("rule").alias("via")
    )
    return pat.unionByName(rul)


def _q_rel_pattern_bootstrap(spark, sf_dir):
    """Two-round DIPRE/Snowball bootstrap: round 1 proposes from the
    seed KG; accepted triples grow the KG; round 2 re-mines against
    the grown KG and proposes again (possibly nothing — convergence is
    part of the checked behavior). Same thresholds as
    rel_pattern_apply; oracle unrolls both rounds with MATERIALIZED
    CTEs."""
    from bootleg_spark.operators.patterns import bootstrap_patterns

    pairs, d = _adjacent_pairs(spark, sf_dir)
    return bootstrap_patterns(
        pairs, d["kg_relations"], min_support=2, min_precision=0.05
    )


def _q_corpus_sample_k(spark, sf_dir):
    """Exact-k consistent hash sample per language over documents
    (k=25, seed 101) — deterministic audit-batch selection; the oracle
    replays the identical md5 draw + rank arithmetic."""
    from bootleg_spark.operators.sampling import sample_exact_k

    return sample_exact_k(
        _docs(spark, sf_dir).select("doc_id", "lang"), k=25
    )


def _q_table_roundtrip(spark, sf_dir):
    """Snapshot-manifest table layer (sources/snaptable.py — the
    Iceberg stand-in): write the documents table as a committed
    snapshot, read it back via the manifest (never a directory glob).
    Oracle = the table itself."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snaptable",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    st.write_table(d.repartitionByRange(8, "doc_id"), table)           # v1: full
    st.write_table(d.where("lang = 'en'"), table, mode="overwrite")    # v2: en only
    # latest snapshot: en only — with stats pruning on doc_id exercised
    return st.read_table(spark, table).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def _q_table_time_travel(spark, sf_dir):
    """Time travel: after _q_table_roundtrip's overwrite, version=1
    still reads the FULL corpus from the retained original files —
    snapshot isolation observable through the driver gate."""
    import os
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snaptable",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    # always rebuild: a table left by an earlier process/round could
    # carry stale files under the same version numbers
    _q_table_roundtrip(spark, sf_dir).count()
    return st.read_table(spark, table, version=1).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def _q_table_delete(spark, sf_dir):
    """Copy-on-write row-level DELETE (Iceberg semantics; takedown /
    GDPR path — VERDICT r05 ask #3): build a range-laid-out snapshot
    of documents, delete a doc_id band with a stats-prune so only
    intersecting files are rewritten, read the result back. The
    runtime guard asserts files OUTSIDE the band were carried into the
    new snapshot untouched (no rewrite amplification). Oracle = the
    anti-predicate over documents."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snapdelete",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    s1 = st.write_table(d.repartitionByRange(8, "doc_id"), table)
    s2 = st.delete_rows(
        spark,
        table,
        "doc_id BETWEEN 100 AND 199",
        prune=("doc_id", "between", (100, 199)),
    )
    if s2 is not None:
        untouched = {
            f["path"]
            for f in s1["files"]
            if not (f["stats"]["doc_id"][0] <= 199 and f["stats"]["doc_id"][1] >= 100)
        }
        new_paths = {f["path"] for f in s2["files"]}
        if not untouched <= new_paths:
            raise AssertionError("delete rewrote files outside the pruned band")
    return st.read_table(spark, table).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def _q_table_partition_prune(spark, sf_dir):
    """Hidden partitioning (VERDICT r05 ask #4, SURVEY §4's pruning
    story): documents written with [days(warc_ts), bucket(url, 8)] —
    the transforms derived only for layout, never data columns — then
    a read pruned on the RAW timestamp column. The runtime guard
    asserts the day predicate really cut the file list via recorded
    partition values (warc_ts footer stats are not even lifted, being
    non-JSON-native — the day value is the only prune path). Oracle
    re-derives the matching day arithmetically from doc_id."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snappart",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 37).cast("string"),
            F.lit(".org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("doc_id") % 10) * 86400
        ).alias("warc_ts"),
    )
    st.write_table(
        d, table, partition_by=[("warc_ts", "days"), ("url", "bucket", 8)]
    )
    # day of epoch 1_700_172_800 (= base + 2 days): 2023-11-16 UTC
    probe = "2023-11-16 22:13:20"
    _, all_files = st.plan_files(table)
    _, day_files = st.plan_files(table, prune=("warc_ts", "=", probe))
    if not (0 < len(day_files) < len(all_files)):
        raise AssertionError(
            f"day pruning did not cut the file list ({len(day_files)}/{len(all_files)})"
        )
    return (
        st.read_table(spark, table, prune=("warc_ts", "=", probe))
        .where(
            F.col("warc_ts")
            == F.timestamp_seconds(F.lit(1_700_000_000 + 2 * 86400))
        )
        .select("doc_id", "lang")
    )


def _q_table_schema_evo(spark, sf_dir):
    """Add-column schema evolution on append (VERDICT r05 ask #5):
    v1 files lack the column appended in v2; the read aligns every
    file to the snapshot schema and null-backfills (Iceberg read-time
    alignment). Oracle = UNION ALL with a typed NULL for the v1 era."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snapevo",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    st.write_table(d.repartition(4), table)
    evolved = d.where("lang = 'en'").withColumn(
        "quality", F.round(F.length("text").cast("double") / 100, 6)
    )
    st.write_table(evolved, table, mode="append")
    return st.read_table(spark, table).select("doc_id", "lang", "quality")


def _q_table_update(spark, sf_dir):
    """Copy-on-write row-level UPDATE: a doc_id band's text is
    rewritten in place (SET expression per row, schema-stable cast),
    only intersecting files rewritten. Oracle = CASE WHEN mirror."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snapupdate",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    st.write_table(d.repartitionByRange(8, "doc_id"), table)
    st.update_rows(
        spark,
        table,
        "doc_id BETWEEN 50 AND 149",
        {"text": "concat('REDACTED-', CAST(doc_id AS STRING))"},
        prune=("doc_id", "between", (50, 149)),
    )
    return st.read_table(spark, table).select("doc_id", "lang", "text")


def _q_table_rollback(spark, sf_dir):
    """Rollback as a new commit (Iceberg semantics): v1 = full corpus,
    v2 = a bad overwrite, rollback restores v1's exact file set as v3
    (metadata-only — no data read or rewritten), and a subsequent
    append stacks on the RESTORED state, proving the rollback moved the
    live branch rather than merely time-traveling a read. Oracle =
    documents UNION the appended en-echo rows."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snaprollback",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    s1 = st.write_table(d.repartitionByRange(8, "doc_id"), table)   # v1
    st.write_table(d.where("lang = 'zh'"), table, mode="overwrite")  # v2 bad
    s3 = st.rollback_table(table, 1)                                 # v3 = v1
    if [f["path"] for f in s3["files"]] != [f["path"] for f in s1["files"]]:
        raise AssertionError("rollback did not restore v1's exact file set")
    echo = d.where("lang = 'en'").withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    st.write_table(echo, table, mode="append")                       # v4
    return st.read_table(spark, table).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def _q_table_refs(spark, sf_dir):
    """Named refs: a TAG pins the raw corpus at v1 while the table is
    overwritten twice; a BRANCH created at v2 is atomically moved to
    v3. The result reads both refs with a label column — the tag still
    serving v1 in full, the branch serving the state it was MOVED to —
    so the oracle checks ref resolution, immutability of the tag's
    view, and the branch pointer swap in one value-hashed frame."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snaprefs",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    st.write_table(d.repartitionByRange(8, "doc_id"), table)          # v1
    st.create_tag(table, "raw-corpus")
    st.write_table(d.where("lang = 'en'"), table, mode="overwrite")   # v2
    st.create_branch(table, "serving", version=2)
    st.write_table(d.where("lang = 'de'"), table, mode="overwrite")   # v3
    st.set_branch(table, "serving", 3)
    tag_read = st.read_table(spark, table, ref="raw-corpus").select(
        F.lit("raw-corpus").alias("ref"), "doc_id", "lang"
    )
    branch_read = st.read_table(spark, table, ref="serving").select(
        F.lit("serving").alias("ref"), "doc_id", "lang"
    )
    return tag_read.unionByName(branch_read)


def _q_table_wap(spark, sf_dir):
    """Write-audit-publish (Iceberg's spark.wap.id workflow): the de
    batch is staged invisibly, audited over ONLY its own files, and
    published as a metadata-only commit; the fr batch is staged and
    DROPPED (failed audit). Runtime guards assert staged rows were
    invisible before publish and the fr rows never landed. Oracle =
    en + de documents."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snapwap",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    st.write_table(d.where("lang = 'en'").repartitionByRange(4, "doc_id"), table)
    n_base = st.read_table(spark, table).count()

    st.stage_append(d.where("lang = 'de'"), table, wap_id="batch-de")
    if st.read_table(spark, table).count() != n_base:
        raise AssertionError("staged rows visible before publish")
    audited = st.read_staged(spark, table, "batch-de")
    if audited.where("text IS NULL OR lang <> 'de'").count() != 0:
        raise AssertionError("audit found unexpected rows in the de batch")
    st.publish_staged(table, "batch-de")

    st.stage_append(d.where("lang = 'fr'"), table, wap_id="batch-fr")
    st.drop_staged(table, "batch-fr")  # simulated failed audit
    return st.read_table(spark, table).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def _q_table_merge(spark, sf_dir):
    """Copy-on-write MERGE (upsert): every 10th document's text is
    replaced and five new rows inserted in one commit; only files
    holding matched keys are rewritten. Oracle = the three-way UNION
    (kept verbatim / updated / inserted)."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snapmerge",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    st.write_table(d.repartitionByRange(8, "doc_id"), table)
    upd = d.where("doc_id % 10 = 0").withColumn("text", F.lit("UPDATED"))
    ins = d.where("doc_id < 5").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.lit("xx").alias("lang"),
        F.lit("new").alias("text"),
    )
    s = st.merge_rows(spark, table, upd.unionByName(ins), ["doc_id"])
    if s is None:
        raise AssertionError("merge aborted unexpectedly")
    return st.read_table(spark, table).select("doc_id", "lang", "text")


def _q_table_incremental(spark, sf_dir):
    """Incremental append scan: a consumer that processed v1 catches up
    by reading ONLY the files v2/v3 appended — never rescanning the
    base. Oracle = the appended subset derived arithmetically."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snapinc",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    st.write_table(d.where("doc_id % 3 = 0"), table)                   # v1
    st.write_table(d.where("doc_id % 3 = 1"), table, mode="append")    # v2
    st.write_table(d.where("doc_id % 3 = 2"), table, mode="append")    # v3
    return st.read_incremental(spark, table, from_version=1).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def _q_table_delete_mor(spark, sf_dir):
    """Merge-on-read equality DELETE: the commit writes only a small
    key file (runtime guard asserts the data files are untouched);
    the read applies the anti-join. Oracle = the anti-predicate."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snapmor",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    s0 = st.write_table(d.repartitionByRange(8, "doc_id"), table)
    s1 = st.delete_rows_mor(
        spark, table, d.where("doc_id % 7 = 3").select("doc_id")
    )
    if [f["path"] for f in s1["files"]] != [f["path"] for f in s0["files"]]:
        raise AssertionError("MOR delete must not rewrite data files")
    return st.read_table(spark, table).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def _q_table_delete_pos(spark, sf_dir):
    """Merge-on-read POSITIONAL delete (Iceberg v2 position delete
    files): tombstone the 'de' row INSTANCES by (file, row_pos), then
    re-append the same values — the re-appended instances stay live,
    which is exactly the line between positional and equality
    semantics, and the oracle encodes it (non-de once UNION ALL de
    once). Runtime guard: the delete commit leaves data files
    untouched."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snappos",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    s0 = st.write_table(d.repartitionByRange(8, "doc_id"), table)
    s1 = st.delete_rows_positional(spark, table, "lang = 'de'")
    if [f["path"] for f in s1["files"]] != [f["path"] for f in s0["files"]]:
        raise AssertionError("positional delete must not rewrite data files")
    st.write_table(d.where("lang = 'de'"), table, mode="append")
    return st.read_table(spark, table).select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def _q_table_zorder(spark, sf_dir):
    """Z-order clustering: documents laid out by the Morton interleave
    of two derived axes; the runtime guard asserts predicates on BOTH
    axes prune the file list (the point of the layout). Oracle = the
    plain filter (layout cannot change rows)."""
    import os
    import shutil
    import tempfile

    from bootleg_spark.sources import snaptable as st

    table = os.path.join(
        tempfile.gettempdir(),
        "bootleg_spark_snapzorder",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    shutil.rmtree(table, ignore_errors=True)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 64).alias("x"),
        ((F.col("doc_id") * 37) % 64).alias("y"),
    )
    st.write_table(d.repartitionByRange(8, "x"), table)
    s1 = st.zorder_table(spark, table, ["x", "y"], bits=6, n_files=8)
    nz = len(s1["files"])
    _, zx = st.plan_files(table, prune=("x", "between", (10, 20)))
    _, zy = st.plan_files(table, prune=("y", "between", (10, 20)))
    if not (len(zx) < nz and len(zy) < nz):
        raise AssertionError(
            f"z-order did not prune on both axes ({len(zx)}, {len(zy)} of {nz})"
        )
    return (
        st.read_table(spark, table, prune=("y", "between", (10, 20)))
        .where("y BETWEEN 10 AND 20")
        .select("doc_id", "lang", "x", "y")
    )


def _q_domain_caps_salted(spark, sf_dir):
    """The explicit two-phase exact per-domain top-N — row-identical
    to _q_domain_caps by construction (shares its oracle verbatim);
    the plan-shape rationale and the WindowGroupLimit finding are in
    curation.cap_per_domain_salted's docstring + BENCH.md."""
    from bootleg_spark.operators.curation import cap_per_domain_salted
    from bootleg_spark.operators.textstats import quality_exprs

    d = _docs(spark, sf_dir).select(
        "doc_id",
        _domain_url_expr().alias("url"),
        quality_exprs()["quality"].alias("quality"),
    )
    return cap_per_domain_salted(d, max_per_domain=5, quality_col="quality")


def _q_warc_roundtrip(spark, sf_dir):
    """pages → multi-record WARC buffers (JVM build) → parse → records.
    The oracle re-derives (url, date, payload length+md5) straight from
    documents, so the check pins BOTH the record serialization and the
    Content-Length-driven parse."""
    from bootleg_spark.sources import warc as warc_src

    pages = synth.pages_table(spark, sf_dir)
    recs = warc_src.parse_warc(warc_src.pages_to_warc(pages, group_mod=8), "warc")
    return recs.select(
        F.col("target_uri").alias("url"),
        "warc_date",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER matters: the driver's correctness gate checks the
    first 50 entries, so the window (everything above the "stable
    tail" marker) holds every query that is new, recently changed, or
    lacked a driver row last round; the tail entries (positions 51+ —
    count them, don't trust a hardcoded number) are the least-risky
    rotation candidates (driver-green last round, untouched this
    round). Round-7 rotation (VERDICT r06 ask #1, exact prescription):
    the window is _R07_WINDOW below — the 38 queries that have NEVER
    been driver-green (every round-6 addition: the fusion/ER/rules/
    graph/temporal suites and the DML tail) plus the 12 oldest
    r05-tail entries (table_roundtrip … prune_to_entities). After this
    round no query's last driver-green evidence is older than r05 and
    zero "never" rows remain. The definition order below is unchanged
    (it documents lineage); the window reorder is applied to the dict
    before returning. Every window entry verified by the local mirror
    (scripts/check_correctness.py at sf0.01) this round. COVERAGE.md
    records each query's last driver-green round — regenerate with
    scripts/dump_freshness.py."""
    d = {
        # ---- rotated back in: stale tail of round 5 (last green r04) ----
        "linked_relational": _q_linked_relational,
        "mentions_ngram": _q_mentions_ngram,
        "pages_extract_text": _q_pages_extract_text,
        "triples_popularity": _q_triples_popularity,
        "triples_neural": _q_triples_neural,            # golden-parquet oracle
        "qid_counts": _q_qid_counts,
        "lang_id": _q_lang_id,
        "slice_incidence": _q_slice_incidence,
        "sentences_slices": _q_sentences_slices,
        "profile_roundtrip": _q_profile_roundtrip,
        "context_windows": _q_context_windows,
        "predictions_writeback": _q_predictions_writeback,
        "mentions_gold_filter": _q_mentions_gold_filter,
        "dedup_exact": _q_dedup_exact,
        "slice_feature_arrays": _q_slice_feature_arrays,
        "media_frames": _q_media_frames,
        "media_resize": _q_media_resize,
        "relations_between": _q_relations_between,
        "alias_vocab": _q_alias_vocab,
        "entities_dim": _q_entities_dim,
        "alias_cands_topk": _q_alias_cands_topk,
        "kg_relations_dim": _q_kg_relations_dim,
        "alias_histogram": _q_alias_histogram,
        "mentions_per_doc_hist": _q_mentions_per_doc_hist,
        "cand_count_hist": _q_cand_count_hist,
        "qid_count_buckets": _q_qid_count_buckets,
        "slice_eval": _q_slice_eval,
        "recall_at_k": _q_recall_at_k,
        "uniqueness_check": _q_uniqueness_check,
        "slice_sampling": _q_slice_sampling,
        "mentions_word": _q_mentions_word,
        "mentions_ner": _q_mentions_ner,
        "linked_popularity": _q_linked_popularity,
        "linked_neural": _q_linked_neural,
        "linked_threshold": _q_linked_threshold,
        "sentences_mentions": _q_sentences_mentions,
        "profile_entities_dim": _q_profile_entities_dim,
        "profile_alias_cands": _q_profile_alias_cands,
        "profile_entity_types": _q_profile_entity_types,
        "profile_kg_relations": _q_profile_kg_relations,
        "edit_script": _q_edit_script,
        "quality_scores": _q_quality_scores,
        "entity_strings": _q_entity_strings,
        # ---- new this round (r06) ----
        "table_delete": _q_table_delete,                # copy-on-write DELETE
        "table_partition_prune": _q_table_partition_prune,  # hidden partitioning
        "table_schema_evo": _q_table_schema_evo,        # add-column evolution
        "table_merge": _q_table_merge,                  # copy-on-write MERGE upsert
        "table_incremental": _q_table_incremental,      # incremental append scan
        "table_update": _q_table_update,                # copy-on-write UPDATE
        "table_delete_mor": _q_table_delete_mor,        # merge-on-read delete
        # ---- stable tail (positions 51+, outside the driver's
        # 50-query window this round). domain_caps_salted is NEW but
        # row-identical to r05-green domain_caps (shared oracle) and
        # sf0.01-mirror green — the lowest-risk displacement for the
        # window cap; the entries down to table_profile are over code
        # changed this round, also locally mirrored green (COVERAGE.md);
        # the rest untouched. The head above is exactly 50 entries —
        # keep it so. ----
        "domain_caps_salted": _q_domain_caps_salted,    # two-phase exact top-N
        "table_zorder": _q_table_zorder,                # z-order layout (new r06, mirror-green)
        "kg_pagerank": _q_kg_pagerank,                  # entity centrality (new r06, mirror-green)
        "kg_components": _q_kg_components,              # weak components (new r06, mirror-green)
        "quality_model": _q_quality_model,              # logistic quality filter (new r06, mirror-green)
        "lm_perplexity": _q_lm_perplexity,              # bigram-LM cross-entropy (new r06, mirror-green)
        "events_asof": _q_events_asof,                  # as-of join (new r06, mirror-green)
        "events_interval_join": _q_events_interval_join,  # bucketed range join (new r06, mirror-green)
        "events_rollup": _q_events_rollup,              # one-scan multi-grain rollup (new r06, mirror-green)
        "kg_triangles": _q_kg_triangles,                # degree-oriented triangle counts (new r06, mirror-green)
        "kg_path_motifs": _q_kg_path_motifs,            # 2-hop typed-path census (new r06, mirror-green)
        "kg_negatives": _q_kg_negatives,                # filtered TransE negatives (new r06, mirror-green)
        "kg_rel_cardinality": _q_kg_rel_cardinality,    # hpt/tph + Bernoulli prep (new r06, mirror-green)
        "kg_link_predict": _q_kg_link_predict,          # Adamic-Adar completion screen (new r06, mirror-green)
        "entity_pmi": _q_entity_pmi,                    # co-occurrence PMI over linked corpus (new r06, mirror-green)
        "kg_split": _q_kg_split,                        # transductive train/valid/test split (new r06, mirror-green)
        "kg_rank_eval": _q_kg_rank_eval,                # filtered MRR/Hits@k baseline eval (new r06, mirror-green)
        "corpus_sample_k": _q_corpus_sample_k,          # exact-k consistent hash sample (new r06, mirror-green)
        "table_delete_pos": _q_table_delete_pos,        # Iceberg v2 position deletes (new r06, mirror-green)
        "table_rollback": _q_table_rollback,            # rollback + post-rollback append (new r06, mirror-green)
        "table_refs": _q_table_refs,                    # tags/branches ref reads (new r06, mirror-green)
        "table_wap": _q_table_wap,                      # write-audit-publish (new r06, mirror-green)
        "table_roundtrip": _q_table_roundtrip,          # snaptable write path refactored
        "kg_khop": _q_kg_khop,                          # BFS checkpoint shape changed
        "ann_ivf_table": _q_ann_ivf_table,              # reads via changed plan_files
        "table_time_travel": _q_table_time_travel,      # snaptable read path changed
        "domain_caps": _q_domain_caps,                  # curation.py changed
        "kg_degrees": _q_kg_degrees,                    # graph.py changed
        "table_profile": _q_table_profile,              # snaptable-adjacent
        "entity_strings_multi": _q_entity_strings_multi,
        "title_spans": _q_title_spans,
        "entity_embeddings": _q_entity_embeddings,
        "candidates_with_nc": _q_candidates_with_nc,
        "prune_to_entities": _q_prune_to_entities,
        "alias_text_histogram": _q_alias_text_histogram,
        "alias_entity_pair_hist": _q_alias_entity_pair_hist,
        "media_metadata": _q_media_metadata,
        "media_features": _q_media_features,
        "minhash_bands": _q_minhash_bands,
        "minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "minhash_verified_pairs": _q_minhash_verified_pairs,
        "dup_clusters": _q_dup_clusters,
        "dedup_keep": _q_dedup_keep,
        "simhash_near_pairs": _q_simhash_near_pairs,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_signbit_lsh": _q_ann_signbit_lsh,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "embedding_near_pairs": _q_embedding_near_pairs,
        "events_sessions": _q_events_sessions,
        "events_session_windows": _q_events_session_windows,
        "token_counts": _q_token_counts,
        "doc_fingerprints": _q_doc_fingerprints,
        "repetition_scores": _q_repetition_scores,
        "winnow_fps": _q_winnow_fps,
        "pii_scrub": _q_pii_scrub,
        "url_canonical": _q_url_canonical,
        "ngram_contamination": _q_ngram_contamination,
        "mentions_relational_multi": _q_mentions_relational_multi,
        "candidates_salted": _q_candidates_salted,
        "warc_files_roundtrip": _q_warc_files_roundtrip,
        "pack_spans_mixed": _q_pack_spans_mixed,
        "quality_percentile": _q_quality_percentile,
        "tfidf_terms": _q_tfidf_terms,
        "char_span_convert": _q_char_span_convert,
        "pack_spans": _q_pack_spans,
        "line_dedup": _q_line_dedup,
        "corpus_select": _q_corpus_select,
        "corpus_mixture": _q_corpus_mixture,
        "chunk_windows": _q_chunk_windows,
        "warc_roundtrip": _q_warc_roundtrip,
        "mentions_relational": _q_mentions_relational,
        "kg_canonicalize": _q_kg_canonicalize,          # redirect-chain canonicalization (new r06)
        "rel_pattern_mine": _q_rel_pattern_mine,        # distant-supervision pattern mining (new r06)
        "rel_pattern_apply": _q_rel_pattern_apply,      # pattern-based triple proposal (new r06)
        "kg_rel_signatures": _q_kg_rel_signatures,      # learned relation type signatures (new r06)
        "kg_type_violations": _q_kg_type_violations,    # signature violation screen, seeded corrupt slice (new r06)
        "kg_func_conflicts": _q_kg_func_conflicts,      # functional-relation conflict detection (new r06)
        "kg_fuse_functional": _q_kg_fuse_functional,    # max-evidence single-truth selection (new r06)
        "kg_source_trust": _q_kg_source_trust,          # iterative source reliability (new r06)
        "kg_claim_conf": _q_kg_claim_conf,              # per-triple belief from the same chain (new r06)
        "kg_fact_spans": _q_kg_fact_spans,              # temporal fact scoping from warc_ts (new r06)
        "entity_resolve": _q_entity_resolve,            # blocking + 3-gram verify + components ER (new r06)
        "kg_fused": _q_kg_fused,                        # attest→trust→believe→resolve, one statement (new r06)
        "kg_rule_mine": _q_kg_rule_mine,                # AMIE-style horn-rule mining (new r06)
        "kg_rule_apply": _q_kg_rule_apply,              # rule-based triple proposal (new r06)
        "kg_proposals": _q_kg_proposals,                # unioned proposal queue with provenance (new r06)
        "rel_pattern_bootstrap": _q_rel_pattern_bootstrap,  # 2-round Snowball loop (new r06)
    }
    head = [k for k in _R07_WINDOW if k in d]
    if len(head) != 50:
        raise ValueError(f"gate window must be exactly 50, got {len(head)}")
    return {k: d[k] for k in head + [k for k in d if k not in set(head)]}


# r07 driver-gate window (VERDICT r06 ask #1): the 38 never-driver-green
# queries + the 12 oldest r05-tail entries, in gate order.
_R07_WINDOW = [
    # never driver-green: round-6 additions, first adversarial evidence
    "domain_caps_salted", "table_zorder", "kg_pagerank", "kg_components",
    "quality_model", "lm_perplexity", "events_asof", "events_interval_join",
    "events_rollup", "kg_triangles", "kg_path_motifs", "kg_negatives",
    "kg_rel_cardinality", "kg_link_predict", "entity_pmi", "kg_split",
    "kg_rank_eval", "corpus_sample_k", "table_delete_pos", "table_rollback",
    "table_refs", "table_wap", "kg_canonicalize", "rel_pattern_mine",
    "rel_pattern_apply", "kg_rel_signatures", "kg_type_violations",
    "kg_func_conflicts", "kg_fuse_functional", "kg_source_trust",
    "kg_claim_conf", "kg_fact_spans", "entity_resolve", "kg_fused",
    "kg_rule_mine", "kg_rule_apply", "kg_proposals", "rel_pattern_bootstrap",
    # the 12 oldest r05-tail entries
    "table_roundtrip", "kg_khop", "ann_ivf_table", "table_time_travel",
    "domain_caps", "kg_degrees", "table_profile", "entity_strings_multi",
    "title_spans", "entity_embeddings", "candidates_with_nc",
    "prune_to_entities",
]


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    gold_expr = f"'Q' || CAST(alias_id * {S.N_VARIANTS} AS BIGINT)"
    qs = ",".join(str(i / 20) for i in range(21))
    d = {
        "pages_extract_text": (
            f"SELECT '{S.URL_PREFIX}' || lang || '/' || CAST(doc_id AS VARCHAR) AS url, "
            "text AS extracted FROM documents"
        ),
        "alias_vocab": O.with_ctes(O.WORDS, O.ALIASES, final="SELECT alias, alias_id FROM aliases"),
        "entities_dim": O.with_ctes(
            *O.BASE[:3],
            final="SELECT qid, qnum, alias, alias_id, variant, score, type_name, title, descr FROM entities",
        ),
        "alias_cands_topk": O.with_ctes(
            *O.BASE[:4], final="SELECT alias, qid, score, rank FROM alias_cands"
        ),
        "kg_relations_dim": O.with_ctes(
            *O.BASE, final="SELECT subj_qid, rel, obj_qid FROM kg_relations"
        ),
        "mentions_word": O.with_ctes(
            O.WORDS, O.ALIASES, O.MENTIONS, final="SELECT doc_id, mention_pos, alias FROM mentions"
        ),
        # Independent relational model of the n-gram extractor, valid for
        # this corpus (single-token lowercase aliases, no punctuation):
        # a token is a mention iff it is noun-ish (non-stopword,
        # non-numeric), NOT split-noun-suppressed (no noun-ish neighbor),
        # not a stopword boundary, and in the alias dict. Multi-token
        # n-gram passes can never match a 1-token dictionary (the
        # possessive-merge exception needs apostrophes, absent here).
        "mentions_ngram": O.with_ctes(
            O.WORDS, O.ALIASES,
            f"""
keepflags AS (
  SELECT doc_id, mention_pos AS p, word,
         (word NOT IN ({O._STOPLIST_SQL})
          AND NOT regexp_matches(word, '^[0-9]+$')
          AND len(word) > 0) AS nounish
  FROM words
),
kept AS (
  SELECT k.doc_id, k.p, k.word
  FROM keepflags k
  LEFT JOIN keepflags l ON l.doc_id = k.doc_id AND l.p = k.p - 1
  LEFT JOIN keepflags r ON r.doc_id = k.doc_id AND r.p = k.p + 1
  WHERE k.nounish
    AND NOT coalesce(l.nounish, FALSE)
    AND NOT coalesce(r.nounish, FALSE)
    AND k.word NOT IN ({O._STOPLIST_SQL})
    AND k.word IN (SELECT alias FROM aliases)
),
spans AS (
  SELECT k.doc_id, k.p, k.word,
         CAST(CASE WHEN k.p = 0 THEN 0
              ELSE strlen(array_to_string(list_slice(string_split(d.text, ' '), 1, k.p), ' ')) + 1
         END AS BIGINT) AS char_start
  FROM kept k JOIN documents d ON k.doc_id = d.doc_id
)
""",
            final=f"""SELECT '{S.URL_PREFIX}' || d.lang || '/' || CAST(s.doc_id AS VARCHAR) AS url,
       CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.char_start) - 1 AS BIGINT) AS mention_pos,
       s.word AS alias,
       s.char_start,
       s.char_start + strlen(s.word) AS char_end
FROM spans s JOIN documents d ON s.doc_id = d.doc_id""",
        ),
        # Full relational model of the MULTI-WORD n-gram extractor on
        # this corpus (lowercase single-spaced alnum words, so
        # is_important ⇔ sentence-initial): candidate (n, i) windows
        # with the boundary/stopword rules, dictionary membership of
        # the joined gram, then GREEDY longest-first acceptance as a
        # recursive CTE — step k of a document either appends its k-th
        # candidate (in n DESC, i ASC order) to the accepted list or
        # skips it if it overlaps anything accepted. n ranges 1..3 =
        # the query's max_alias_len (wider windows can't match a
        # ≤3-word dictionary, so they never reach the fold).
        "mentions_relational_multi": f"""
WITH RECURSIVE src AS (
  SELECT doc_id,
         array_to_string([CASE WHEN x IN ({", ".join("'" + t + "'" for t in _MULTI_REPL)})
                          THEN 'the' ELSE x END
                          FOR x IN string_split(text, ' ')], ' ') AS text
  FROM documents
),
a AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         [ (x NOT IN ({O._STOPLIST_SQL}))
           AND NOT regexp_matches(x, '^[0-9]+$')
           AND len(x) > 0
           FOR x IN string_split(text, ' ') ] AS keep,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS L
  FROM src
),
starts AS (
  SELECT doc_id, w, keep, L, CAST(unnest(range(0, L)) AS BIGINT) AS i
  FROM a
),
wins AS (
  SELECT s.doc_id, s.w, s.keep, s.L, s.i, CAST(n.n AS BIGINT) AS n,
         array_to_string(list_slice(s.w, s.i + 1, s.i + n.n), ' ') AS gram
  FROM starts s, (VALUES (1), (2), (3)) n(n)
  WHERE s.i + n.n <= s.L
),
cand AS (
  SELECT doc_id, i, n, gram
  FROM wins
  WHERE list_contains(list_slice(keep, i + 1, i + n), TRUE)
    AND NOT (i > 0 AND keep[i + 1] AND keep[i])
    AND NOT (i + n < L AND keep[i + n] AND keep[i + n + 1])
    AND w[i + 1] <> 's' AND w[i + n] <> 's'
    AND (i = 0 OR w[i + 1] NOT IN ({O._STOPLIST_SQL}))
    AND w[i + n] NOT IN ({O._STOPLIST_SQL})
    AND gram IN ({", ".join("'" + a + "'" for a in _MULTI_DICT)})
),
ranked AS (
  SELECT doc_id, i, n, gram,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, i ASC) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS total
  FROM cand
),
greedy AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS k,
         CAST([] AS STRUCT(i BIGINT, n BIGINT)[]) AS acc
  FROM (SELECT DISTINCT doc_id FROM ranked)
  UNION ALL
  SELECT g.doc_id, g.k + 1,
         CASE WHEN len(list_filter(g.acc,
                   a -> a.i < c.i + c.n AND a.i + a.n > c.i)) = 0
              THEN list_append(g.acc, struct_pack(i := c.i, n := c.n))
              ELSE g.acc END
  FROM greedy g
  JOIN ranked c ON c.doc_id = g.doc_id AND c.rn = g.k + 1
),
accepted AS (
  SELECT g.doc_id, unnest(g.acc) AS m
  FROM greedy g
  JOIN (SELECT doc_id, max(total) AS total FROM ranked GROUP BY doc_id) t
    ON g.doc_id = t.doc_id AND g.k = t.total
),
spans AS (
  SELECT f.doc_id, f.m.i AS i,
         array_to_string(list_slice(a.w, f.m.i + 1, f.m.i + f.m.n), ' ') AS alias,
         CAST(CASE WHEN f.m.i = 0 THEN 0
              ELSE strlen(array_to_string(list_slice(a.w, 1, f.m.i), ' ')) + 1
         END AS BIGINT) AS char_start
  FROM accepted f JOIN a ON a.doc_id = f.doc_id
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT) AS mention_pos,
       alias,
       char_start,
       char_start + strlen(alias) AS char_end
FROM spans""",
        # gazetteer NER on this corpus (1-token lowercase aliases, no
        # punctuation): a token is a mention iff it's in the alias dict
        # AND its class (alias_id % 3) is not CARDINAL; multi-token
        # grams can't match a 1-token gazetteer
        "mentions_ner": O.with_ctes(
            O.WORDS, O.ALIASES,
            """
hits AS (
  SELECT w.doc_id, w.mention_pos AS p, w.word
  FROM words w JOIN aliases a ON w.word = a.alias
  WHERE a.alias_id % 3 <> 2
),
spans AS (
  SELECT h.doc_id, h.word,
         CAST(CASE WHEN h.p = 0 THEN 0
              ELSE strlen(array_to_string(list_slice(string_split(d.text, ' '), 1, h.p), ' ')) + 1
         END AS BIGINT) AS char_start
  FROM hits h JOIN documents d ON h.doc_id = d.doc_id
)""",
            final="""SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY char_start) - 1 AS BIGINT) AS mention_pos,
       word AS alias,
       char_start,
       char_start + strlen(word) AS char_end
FROM spans""",
        ),
        "linked_popularity": O.with_ctes(
            *O.BASE[:4], O.MENTIONS, O.LINKED,
            final="SELECT doc_id, mention_pos, alias, qid FROM linked",
        ),
        # neural path: golden-parquet oracle. The goldens are computed by
        # a single-process reference (DuckDB dims + driver-side Python
        # loop, scripts/build_neural_golden.py) sharing only pytest-pinned
        # pure leaf functions with the engine — they pin the DISTRIBUTED
        # dataflow (broadcasts, Arrow batching, fusion, dedup shuffles).
        # Rows self-select by corpus fingerprint so one file serves all sf.
        "linked_neural": """
SELECT url, mention_pos, alias, qid, prob
FROM read_parquet('/root/repo/goldens/linked_neural.parquet')
WHERE n_docs = (SELECT count(*) FROM documents)
  AND total_chars = (SELECT sum(strlen(text)) FROM documents)""",
        "triples_neural": """
SELECT subj, pred, obj
FROM read_parquet('/root/repo/goldens/triples_neural.parquet')
WHERE n_docs = (SELECT count(*) FROM documents)
  AND total_chars = (SELECT sum(strlen(text)) FROM documents)""",
        "linked_threshold": f"""
SELECT url, mention_pos, alias, qid, prob
FROM read_parquet('/root/repo/goldens/linked_neural.parquet')
WHERE n_docs = (SELECT count(*) FROM documents)
  AND total_chars = (SELECT sum(strlen(text)) FROM documents)
  AND prob > {LINKED_TAU}""",
        "triples_popularity": O.with_ctes(
            *O.PIPELINE, final="SELECT subj, pred, obj FROM triples"
        ),
        "qid_counts": O.with_ctes(
            *O.BASE[:4], O.MENTIONS, O.LINKED,
            final="SELECT qid, CAST(count(*) AS BIGINT) AS cnt FROM linked GROUP BY qid",
        ),
        "alias_histogram": O.with_ctes(
            O.WORDS, O.ALIASES, O.MENTIONS,
            final="SELECT alias, CAST(count(*) AS BIGINT) AS cnt FROM mentions GROUP BY alias",
        ),
        # n-grams n=1..2 over the raw text, lnrm'd, joined to the alias
        # dict (no POS filtering — distinct from the mention extractor)
        "alias_text_histogram": O.with_ctes(
            O.WORDS, O.ALIASES,
            """
grams AS (
  SELECT g.gram FROM documents,
  LATERAL (
    SELECT array_to_string(list_slice(string_split(text,' '), i + 1, i + n.n), ' ') AS gram
    FROM (VALUES (1), (2)) n(n),
         unnest(range(0, greatest(len(string_split(text,' ')) - n.n + 1, 0))) AS t(i)
  ) g
)""",
            final=(
                f"SELECT {lnrm_ascii_sql('gram')} AS alias_text, "
                "CAST(count(*) AS BIGINT) AS cnt\nFROM grams\n"
                f"WHERE {lnrm_ascii_sql('gram')} IN (SELECT alias FROM aliases)\n"
                "GROUP BY 1"
            ),
        ),
        "alias_entity_pair_hist": O.with_ctes(
            *O.BASE[:4], O.MENTIONS, O.LINKED,
            final="""SELECT alias || '|' || qid AS pair, CAST(count(*) AS BIGINT) AS cnt
FROM linked GROUP BY alias, qid""",
        ),
        "mentions_per_doc_hist": O.with_ctes(
            O.WORDS, O.ALIASES, O.MENTIONS,
            final=(
                "SELECT CAST(n_mentions AS BIGINT) AS n_mentions, CAST(count(*) AS BIGINT) AS n_docs FROM "
                "(SELECT doc_id, count(*) AS n_mentions FROM mentions GROUP BY doc_id) GROUP BY n_mentions"
            ),
        ),
        "cand_count_hist": O.with_ctes(
            *O.BASE[:4],
            final=(
                "SELECT CAST(n_cands AS BIGINT) AS n_cands, CAST(count(*) AS BIGINT) AS n_aliases FROM "
                "(SELECT alias, count(*) AS n_cands FROM alias_cands GROUP BY alias) GROUP BY n_cands"
            ),
        ),
        "qid_count_buckets": O.with_ctes(
            *O.BASE[:4], O.MENTIONS, O.LINKED,
            final=f"""SELECT qid, cnt, CAST(len(list_filter(qv, v -> v < cnt)) AS BIGINT) AS bucket
FROM (SELECT qid, CAST(count(*) AS BIGINT) AS cnt FROM linked GROUP BY qid) c
CROSS JOIN (SELECT quantile_cont(cnt, [{qs}]) AS qv FROM
            (SELECT CAST(count(*) AS BIGINT) AS cnt FROM linked GROUP BY qid)) q""",
        ),
        "slice_eval": O.with_ctes(
            *O.BASE[:4], O.MENTIONS, O.LINKED,
            final=f"""SELECT d.lang AS slice_name,
       CAST(count(*) AS BIGINT) AS total,
       CAST(sum(CASE WHEN l.qid = {gold_expr} THEN 1 ELSE 0 END) AS BIGINT) AS correct,
       round(sum(CASE WHEN l.qid = {gold_expr} THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS accuracy
FROM linked l JOIN aliases a ON l.alias = a.alias JOIN documents d ON l.doc_id = d.doc_id
GROUP BY d.lang""",
        ),
        "recall_at_k": O.with_ctes(
            *O.BASE[:4], O.MENTIONS,
            f"""
ranked AS (
  SELECT m.doc_id, m.mention_pos, c.rank
  FROM mentions m
  JOIN aliases a ON m.alias = a.alias
  LEFT JOIN alias_cands c ON m.alias = c.alias AND c.qid = {gold_expr}
)""",
            final="""SELECT CAST(k.k AS BIGINT) AS k,
       round(avg(CASE WHEN rank IS NOT NULL AND rank <= k.k THEN 1.0 ELSE 0.0 END), 6) AS recall
FROM ranked CROSS JOIN (VALUES (1), (2), (3)) k(k) GROUP BY k.k""",
        ),
        "slice_incidence": O.with_ctes(
            O.WORDS, O.ALIASES, O.MENTIONS,
            """
kept AS (
  SELECT m.doc_id AS sent_idx, m.mention_pos AS alias_idx,
         CAST(row_number() OVER (PARTITION BY m.doc_id ORDER BY m.mention_pos) - 1 AS BIGINT) AS alias_new_idx
  FROM mentions m WHERE m.mention_pos % 2 = 0
),
inc AS (
  SELECT k.sent_idx, d.lang AS slice_name, k.alias_new_idx,
         (k.alias_idx % 3) / 2.0 AS prob
  FROM kept k JOIN documents d ON k.sent_idx = d.doc_id
  UNION ALL
  SELECT k.sent_idx, 'final_loss', k.alias_new_idx, 1.0 FROM kept k
)""",
            final="""SELECT sent_idx, slice_name, alias_new_idx,
       round(prob, 6) AS prob, prob > 0.5 AS in_slice
FROM inc""",
        ),
        "slice_feature_arrays": O.with_ctes(
            O.WORDS, O.ALIASES, O.MENTIONS,
            """
kept AS (
  SELECT m.doc_id AS sent_idx, m.mention_pos AS alias_idx,
         CAST(row_number() OVER (PARTITION BY m.doc_id ORDER BY m.mention_pos) - 1 AS BIGINT) AS alias_new_idx
  FROM mentions m WHERE m.mention_pos % 2 = 0
),
inc AS (
  SELECT k.sent_idx, d.lang AS slice_name, k.alias_new_idx,
         (k.alias_idx % 3) / 2.0 AS prob
  FROM kept k JOIN documents d ON k.sent_idx = d.doc_id
  UNION ALL
  SELECT k.sent_idx, 'final_loss', k.alias_new_idx, 1.0 FROM kept k
),
big AS (SELECT max(cnt) AS m FROM (SELECT sent_idx, count(*) AS cnt FROM kept GROUP BY sent_idx)),
slots AS (
  SELECT DISTINCT i2.sent_idx, i2.slice_name, r.i
  FROM inc i2, big, LATERAL (SELECT unnest(range(0, big.m)) AS i) r
),
vals AS (
  SELECT s.sent_idx, s.slice_name, s.i,
         coalesce(max(CASE WHEN i3.prob > 0.5 THEN 1 ELSE 0 END), 0) AS one,
         coalesce(max(i3.prob), -1.0) AS p
  FROM slots s LEFT JOIN inc i3
    ON i3.sent_idx = s.sent_idx AND i3.slice_name = s.slice_name AND i3.alias_new_idx = s.i
  GROUP BY 1, 2, 3
)""",
            final="""SELECT sent_idx, slice_name,
       string_agg(CAST(one AS VARCHAR), '' ORDER BY i) AS incidence,
       string_agg(CAST(p AS VARCHAR), '|' ORDER BY i) AS probs
FROM vals GROUP BY sent_idx, slice_name""",
        ),
        "entity_strings": O.with_ctes(
            *O.BASE,
            final="""SELECT e.qid,
  trim(regexp_replace(
    trim(regexp_replace(e.title, '\\(.*\\)', '')) ||
    ' [ent_type] ' || e.type_name ||
    ' [ent_kg] ' || coalesce(kg.items, '') ||
    ' [ent_desc] ' || e.descr,
    ' +', ' ', 'g')) AS ent_str
FROM entities e
LEFT JOIN (
  SELECT k.subj_qid AS qid,
         string_agg(k.rel || ' ' || t.title, ' [ent_kg] ' ORDER BY k.rel, k.obj_qnum) AS items
  FROM kg_relations k JOIN entities t ON k.obj_qid = t.qid
  GROUP BY k.subj_qid
) kg ON e.qid = kg.qid""",
        ),
        # hyena types = [type_name, 'generic', 'thing']; 4-word budget
        # keeps the first 2 -> ' [ent_type] t [ent_type] generic'
        "entity_strings_multi": O.with_ctes(
            *O.BASE,
            final="""SELECT e.qid,
  trim(regexp_replace(
    trim(regexp_replace(e.title, '\\(.*\\)', '')) ||
    ' [ent_type] ' || e.type_name || ' [ent_type] generic' ||
    ' [ent_kg] ' || coalesce(kg.items, '') ||
    ' [ent_desc] ' || e.descr,
    ' +', ' ', 'g')) AS ent_str
FROM entities e
LEFT JOIN (
  SELECT k.subj_qid AS qid,
         string_agg(k.rel || ' ' || t.title, ' [ent_kg] ' ORDER BY k.rel, k.obj_qnum) AS items
  FROM kg_relations k JOIN entities t ON k.obj_qid = t.qid
  GROUP BY k.subj_qid
) kg ON e.qid = kg.qid""",
        ),
        # title-span indices re-derived in SQL: running skip flag from
        # the most recent [ent_type]/[ent_desc] marker, title word set
        # from the de-parenthesized title, stopwords excluded
        "title_spans": O.with_ctes(
            *O.BASE,
            f"""
es AS (
  SELECT e.qid, e.title,
    trim(regexp_replace(
      trim(regexp_replace(e.title, '\\(.*\\)', '')) ||
      ' [ent_type] ' || e.type_name ||
      ' [ent_kg] ' || coalesce(kg.items, '') ||
      ' [ent_desc] ' || e.descr,
      ' +', ' ', 'g')) AS ent_str
  FROM entities e
  LEFT JOIN (
    SELECT k.subj_qid AS qid,
           string_agg(k.rel || ' ' || t.title, ' [ent_kg] ' ORDER BY k.rel, k.obj_qnum) AS items
    FROM kg_relations k JOIN entities t ON k.obj_qid = t.qid
    GROUP BY k.subj_qid
  ) kg ON e.qid = kg.qid
),
ws AS (
  SELECT qid, title,
         unnest(string_split(ent_str, ' ')) AS w,
         unnest(range(0, len(string_split(ent_str, ' ')))) AS pos
  FROM es
),
flagged AS (
  SELECT qid, title, w, pos,
         coalesce(last_value(CASE WHEN w = '[ent_type]' THEN 1
                                  WHEN w = '[ent_desc]' THEN 0 END IGNORE NULLS)
                  OVER (PARTITION BY qid ORDER BY pos), 0) AS skip
  FROM ws
)""",
            final=f"""SELECT qid, CAST(pos AS BIGINT) AS word_idx
FROM flagged
WHERE skip = 0
  AND list_contains(string_split(trim(regexp_replace(title, '\\(.*\\)', '')), ' '), w)
  AND w NOT IN ({O._STOPLIST_SQL})""",
        ),
        "entity_embeddings": """
SELECT qid, dim_idx, val
FROM read_parquet('/root/repo/goldens/entity_embeddings.parquet')
WHERE n_docs = (SELECT count(*) FROM documents)
  AND total_chars = (SELECT sum(strlen(text)) FROM documents)""",
        "context_windows": O.with_ctes(
            O.WORDS, O.ALIASES, O.MENTIONS,
            """
ctx AS (
  SELECT m.doc_id, m.mention_pos,
         string_split(d.text, ' ') AS ws,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n,
         m.mention_pos AS p
  FROM mentions m JOIN documents d ON m.doc_id = d.doc_id
),
toks AS (
  SELECT doc_id, mention_pos, n, p,
         list_slice(ws, 1, p) || ['[ent_start]', ws[p + 1], '[ent_end]']
           || list_slice(ws, p + 2, n) AS t
  FROM ctx
),
win AS (
  SELECT doc_id, mention_pos,
    CASE WHEN p < n - 1 - p THEN
      array_to_string(
        list_slice(t, greatest(p - 32, 0) + 1, p)
        || list_slice(t, p + 1, least(p + 3 + 64 - (p - greatest(p - 32, 0)), n + 2)),
        ' ')
    ELSE
      array_to_string(
        list_slice(t, greatest(p - (64 - (least(p + 3 + 32, n + 2) - (p + 3))), 0) + 1, p + 3)
        || list_slice(t, p + 4, least(p + 3 + 32, n + 2)),
        ' ')
    END AS context
  FROM toks
)""",
            final="SELECT doc_id, mention_pos, context FROM win",
        ),
        "relations_between": O.with_ctes(
            *O.BASE,
            final="""SELECT subj_qid, obj_qid, string_agg(rel, '|' ORDER BY rel) AS rels
FROM kg_relations GROUP BY subj_qid, obj_qid""",
        ),
        "uniqueness_check": O.with_ctes(
            O.WORDS, O.ALIASES, O.MENTIONS,
            final="""SELECT CAST(count(*) AS BIGINT) AS n_dupes FROM (
  SELECT doc_id, mention_pos FROM mentions GROUP BY doc_id, mention_pos HAVING count(*) > 1
)""",
        ),
        "slice_sampling": O.with_ctes(
            *O.BASE[:4], O.MENTIONS, O.LINKED,
            final="""SELECT d.lang AS slice_name,
       CAST(count(*) AS BIGINT) AS n_mentions,
       CAST(count(DISTINCT l.doc_id) AS BIGINT) AS n_docs
FROM linked l JOIN documents d ON l.doc_id = d.doc_id GROUP BY d.lang""",
        ),
        # one Lloyd iteration: seed cells = first 8 vectors -> assign ->
        # per-cell component means (rounded 6dp, unnormalized: cosine
        # argmax is scale-invariant) -> reassign
        "ann_ivf_topk": """
WITH cents0 AS (
  SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 8
),
assigned0 AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cv::DOUBLE[]) /
                      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                       sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))), 6) DESC,
                      c.cell ASC) AS rnk
    FROM embeddings e CROSS JOIN cents0 c
  ) WHERE rnk = 1
),
comps AS (
  SELECT a.cell, t.pos, t.val
  FROM assigned0 a,
  LATERAL (
    SELECT unnest(a.embedding::DOUBLE[]) AS val,
           unnest(range(0, len(a.embedding))) AS pos
  ) t
),
cents AS (
  SELECT cell, list(m ORDER BY pos) AS cv FROM (
    SELECT cell, pos, round(avg(val), 6) AS m FROM comps GROUP BY cell, pos
  ) GROUP BY cell
),
assigned AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cv::DOUBLE[]) /
                      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                       sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))), 6) DESC,
                      c.cell ASC) AS rnk
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rnk = 1
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos_sim
  FROM assigned q JOIN assigned c ON q.cell = c.cell AND q.vec_id < 10 AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank,
       cos_sim
FROM scored QUALIFY rank <= 5""",
        "candidates_with_nc": O.with_ctes(
            *O.BASE[:4],
            f"""
grouped AS (
  SELECT alias,
         list(qid ORDER BY rank) AS qids,
         list(qnum ORDER BY rank) AS eids,
         count(*) AS n
  FROM alias_cands GROUP BY alias
)""",
            final=f"""SELECT alias,
       array_to_string(
         ['NC'] || qids || (CASE WHEN n < {S.MAX_CANDIDATES}
             THEN list_transform(range(1, {S.MAX_CANDIDATES} - CAST(n AS INTEGER) + 1), x -> '-1')
             ELSE [] END), '|') AS cand_qids,
       array_to_string(list_transform(
         [CAST(0 AS BIGINT)] || eids || (CASE WHEN n < {S.MAX_CANDIDATES}
             THEN list_transform(range(1, {S.MAX_CANDIDATES} - CAST(n AS INTEGER) + 1), x -> CAST(1 AS BIGINT))
             ELSE [] END), x -> CAST(x AS VARCHAR)), '|') AS cand_eids
FROM grouped""",
        ),
        "predictions_writeback": O.with_ctes(
            *O.BASE[:4], O.MENTIONS, O.LINKED,
            final="""SELECT doc_id,
       string_agg(alias, '|' ORDER BY mention_pos) AS aliases,
       string_agg(qid, '|' ORDER BY mention_pos) AS qids
FROM linked GROUP BY doc_id""",
        ),
        "prune_to_entities": O.with_ctes(
            *O.BASE[:4], O.MENTIONS, O.LINKED,
            final="""SELECT e.qid,
       CAST(row_number() OVER (ORDER BY e.qnum) + 1 AS BIGINT) AS new_eid
FROM entities e WHERE e.qid IN (SELECT DISTINCT qid FROM linked)""",
        ),
        "mentions_gold_filter": O.with_ctes(
            O.WORDS, O.ALIASES, O.MENTIONS,
            final="SELECT doc_id, mention_pos, alias FROM mentions WHERE mention_pos % 2 = 0",
        ),
        # profile ingestion: the synthetic profile repackages the dim
        # CTEs 1:1, so the oracles pin the profile->dims transformation
        # (lnrm alias keys, (score desc, qid desc) candidate sort,
        # max_types / max_connections order-preserving truncation)
        "profile_entities_dim": O.with_ctes(
            *O.BASE[:3],
            final="""SELECT qid, CAST(row_number() OVER (ORDER BY qid) AS BIGINT) AS eid, title, descr
FROM entities""",
        ),
        "profile_alias_cands": O.with_ctes(
            *O.BASE[:3],
            final=f"""SELECT alias, qid, score,
       CAST(row_number() OVER (PARTITION BY alias ORDER BY score DESC, qid DESC) AS INTEGER) AS rank
FROM entities
QUALIFY rank <= {S.MAX_CANDIDATES}""",
        ),
        "profile_entity_types": O.with_ctes(
            *O.BASE[:3],
            final="""SELECT qid, type_system, CAST(type_pos AS BIGINT) AS type_pos, type_name FROM (
  SELECT qid, 'wiki' AS type_system, 0 AS type_pos, type_name FROM entities
  UNION ALL SELECT qid, 'hyena', 0, type_name FROM entities
  UNION ALL SELECT qid, 'hyena', 1, 'generic' FROM entities
)""",
        ),
        "profile_kg_relations": O.with_ctes(
            *O.BASE,
            final="""SELECT subj_qid, rel, obj_qid FROM (
  SELECT subj_qid, rel, obj_qid,
         row_number() OVER (PARTITION BY subj_qid, rel ORDER BY obj_qnum) AS rk
  FROM kg_relations
) WHERE rk <= 1""",
        ),
        # edit script replayed in SQL: a0 = first alias; its 3-slot list
        # evicts rank 3 on add, then loses the added row on remove ->
        # original ranks 1,2 reranked; plus the lnrm'd new alias row
        "edit_script": O.with_ctes(
            *O.BASE[:3],
            f"""
pcands AS (
  SELECT alias, qid, score,
         CAST(row_number() OVER (PARTITION BY alias ORDER BY score DESC, qid DESC) AS INTEGER) AS rank
  FROM entities QUALIFY rank <= {S.MAX_CANDIDATES}
),
a0 AS (SELECT min(alias) AS m FROM aliases)""",
            final="""SELECT alias, qid, score, rank FROM pcands WHERE alias <> (SELECT m FROM a0)
UNION ALL
SELECT alias, qid, score,
       CAST(row_number() OVER (ORDER BY score DESC, qid DESC) AS INTEGER) AS rank
FROM pcands WHERE alias = (SELECT m FROM a0) AND rank < 3
UNION ALL
SELECT 'zz brandnew', 'Q999998', 1.0, 1""",
        ),
        "media_metadata": f"""
SELECT '{S.URL_PREFIX}' || lang || '/' || CAST(doc_id AS VARCHAR) AS id,
       CAST(strlen(
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><style>p{{margin:0}}</style></head><body><nav>home | about</nav><p>' ||
         text ||
         '</p><script>var v=' || CAST(doc_id AS VARCHAR) ||
         ';</script><footer>copyright example.org</footer></body></html>'
       ) AS BIGINT) AS n_bytes,
       'html' AS kind
FROM documents""",
        # byte-histogram features: valid oracle because the synthetic html
        # is pure ASCII (byte value == ascii(char))
        "media_features": f"""
WITH h AS (
  SELECT doc_id, lang,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><style>p{{margin:0}}</style></head><body><nav>home | about</nav><p>' ||
         text ||
         '</p><script>var v=' || CAST(doc_id AS VARCHAR) ||
         ';</script><footer>copyright example.org</footer></body></html>' AS s
  FROM documents
),
bytes AS (
  SELECT doc_id, ascii(substring(s, CAST(t.i AS INTEGER) + 1, 1)) % 8 AS b, strlen(s) AS total
  FROM h, LATERAL (SELECT unnest(range(0, strlen(s))) AS i) t
),
hist AS (
  SELECT d.doc_id, d.total, j.j AS bucket, coalesce(c.cnt, 0) AS cnt
  FROM (SELECT DISTINCT doc_id, total FROM bytes) d
  CROSS JOIN (SELECT unnest(range(0, 8)) AS j) j
  LEFT JOIN (SELECT doc_id, b, count(*) AS cnt FROM bytes GROUP BY doc_id, b) c
    ON c.doc_id = d.doc_id AND c.b = j.j
)
SELECT '{S.URL_PREFIX}' || h.lang || '/' || CAST(h.doc_id AS VARCHAR) AS id,
       CAST(hist.bucket AS BIGINT) AS bucket,
       round(hist.cnt * 1.0 / hist.total, 6) AS feat_val
FROM hist JOIN h ON h.doc_id = hist.doc_id""",
        # nearest-neighbor resize mirrored arithmetically: side=isqrt(n),
        # src pixel = ((r*side)//4)*side + (c*side)//4, ASCII byte / 255
        "media_resize": f"""
WITH h AS (
  SELECT doc_id, lang,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><style>p{{margin:0}}</style></head><body><nav>home | about</nav><p>' ||
         text ||
         '</p><script>var v=' || CAST(doc_id AS VARCHAR) ||
         ';</script><footer>copyright example.org</footer></body></html>' AS s
  FROM documents
),
dims AS (
  SELECT doc_id, lang, s, CAST(floor(sqrt(strlen(s))) AS BIGINT) AS side FROM h
),
grid AS (SELECT unnest(range(0, 16)) AS px)
SELECT '{S.URL_PREFIX}' || d.lang || '/' || CAST(d.doc_id AS VARCHAR) AS id,
       g.px,
       CASE WHEN d.side = 0 THEN 0.0
            ELSE round(ascii(substring(d.s,
                 CAST((((g.px // 4) * d.side) // 4) * d.side
                      + (((g.px % 4) * d.side) // 4) AS INTEGER) + 1, 1)) / 255.0, 6)
       END AS val
FROM dims d CROSS JOIN grid g""",
        "media_frames": f"""
WITH h AS (
  SELECT doc_id, lang,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><style>p{{margin:0}}</style></head><body><nav>home | about</nav><p>' ||
         text ||
         '</p><script>var v=' || CAST(doc_id AS VARCHAR) ||
         ';</script><footer>copyright example.org</footer></body></html>' AS s
  FROM documents
),
sized AS (SELECT doc_id, lang, s, strlen(s) // 256 AS n FROM h)
SELECT '{S.URL_PREFIX}' || d.lang || '/' || CAST(d.doc_id AS VARCHAR) AS id,
       CAST(j.j AS BIGINT) AS frame_idx,
       md5(substring(d.s, CAST(((j.j * d.n) // 4) * 256 AS INTEGER) + 1, 256)) AS frame_md5
FROM sized d CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
WHERE d.n > 0""",
        "dedup_exact": (
            "SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id, "
            "CAST(count(*) AS BIGINT) AS dup_count FROM documents GROUP BY md5(text)"
        ),
        "minhash_bands": f"""
WITH sh AS ({O.shingle_body_sql(3)}
)
SELECT id, CAST(b.band AS BIGINT) AS band, min(md5(CAST(b.band AS VARCHAR) || ':' || shingle)) AS min_hash
FROM sh CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) b(band)
GROUP BY id, b.band""",
        "minhash_lsh_pairs": f"""
WITH sh AS ({O.shingle_body_sql(3)}
),
buckets AS ({O.band_minima_body_sql()}
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM buckets a JOIN buckets b ON a.band = b.band AND a.min_hash = b.min_hash AND a.id < b.id""",
        "ngram_jaccard_pairs": f"""
WITH sh AS ({O.shingle_body_sql(3)}
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, n_inter, sa.n AS n_a, sb.n AS n_b,
       round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON inter.id_a = sa.id JOIN sizes sb ON inter.id_b = sb.id
WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.2""",
        "minhash_verified_pairs": f"""
WITH sh AS ({O.shingle_body_sql(3)}
),
buckets AS ({O.band_minima_body_sql()}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.min_hash = b.min_hash AND a.id < b.id
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c JOIN sh a ON a.id = c.id_a JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.2""",
        "dup_clusters": _LSH_CLUSTER_CTES
        + """
SELECT src AS id, CAST(min(dst) AS BIGINT) AS cluster_id FROM reach GROUP BY src""",
        # keep-one-per-cluster: the SAME reachability CTEs left-joined
        # back to the corpus (singletons are their own cluster)
        "dedup_keep": _LSH_CLUSTER_CTES
        + """,
clusters AS (
  SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT d.doc_id AS id,
       CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(d.doc_id = coalesce(c.cluster_id, d.doc_id) AS INTEGER) AS keep
FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id""",
        # SimHash reconstructed bit-by-bit from md5 hex nibbles (HUGEINT
        # shifts keep 64-bit precision); band trick identical to Spark's
        # shiftrightunsigned on the unsigned representation
        "simhash_near_pairs": """
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents
),
md AS (SELECT id, md5(w) AS m FROM toks),
bits AS (
  SELECT id, b.i AS i,
         CASE WHEN ((strpos('0123456789abcdef', substring(m, 16 - (b.i // 4), 1)) - 1) >> (b.i % 4)) % 2 = 1
              THEN 1 ELSE -1 END AS vote
  FROM md CROSS JOIN (SELECT unnest(range(0, 64)) AS i) b
),
votes AS (SELECT id, i, sum(vote) AS v FROM bits GROUP BY id, i),
sig AS (
  SELECT id, sum(CASE WHEN v > 0 THEN (1::HUGEINT << CAST(i AS INTEGER)) ELSE 0::HUGEINT END) AS u
  FROM votes GROUP BY id
),
bands AS (
  SELECT id, b.band AS band, CAST((u >> (CAST(b.band AS INTEGER) * 16)) % 65536 AS BIGINT) AS band_key
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id""",
        "ann_cosine_topk": """
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank,
       cos_sim
FROM scored QUALIFY rank <= 5""",
        "ann_signbit_lsh": """
WITH wb AS (
  SELECT vec_id, embedding,
         CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
            + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
            + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
            + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos_sim
  FROM wb q JOIN wb c ON q.bucket = c.bucket AND q.vec_id < 10 AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank,
       cos_sim
FROM scored QUALIFY rank <= 5""",
        "embedding_near_pairs": """
WITH wb AS (
  SELECT vec_id, embedding,
         CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
            + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
            + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
            + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos_sim
  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
) WHERE cos_sim >= 0.3""",
        "events_sessions": """
WITH marked AS (
  SELECT user_id, event_id, floor(epoch(ts)) AS e, value,
         CASE WHEN lag(floor(epoch(ts))) OVER w IS NULL
                OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, e, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY e, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(e) AS BIGINT) AS start_epoch,
       CAST(max(e) AS BIGINT) AS end_epoch,
       round(sum(value), 6) AS total_value
FROM sessions GROUP BY user_id, session_id""",
        # session_window semantics: a gap-or-more diff starts a new
        # session (half-open windows); end = last event + gap
        "events_session_windows": """
WITH marked AS (
  SELECT user_id, event_id, floor(epoch(ts)) AS e, value,
         CASE WHEN lag(floor(epoch(ts))) OVER w IS NULL
                OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w >= 1800 THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, e, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY e, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(min(e) AS BIGINT) AS start_epoch,
       CAST(max(e) + 1800 AS BIGINT) AS end_epoch,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM sessions GROUP BY user_id, session_id""",
        "lang_id": f"""
WITH c AS (
  SELECT doc_id AS id,
         CAST({O.marker_count_sql('en')} AS BIGINT) AS n_en,
         CAST({O.marker_count_sql('de')} AS BIGINT) AS n_de,
         CAST({O.marker_count_sql('es')} AS BIGINT) AS n_es,
         CAST({O.marker_count_sql('fr')} AS BIGINT) AS n_fr
  FROM documents
)
SELECT id, n_en, n_de, n_es, n_fr,
       CASE WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr AND n_en > 0 THEN 'en'
            WHEN n_de >= n_es AND n_de >= n_fr AND n_de > 0 THEN 'de'
            WHEN n_es >= n_fr AND n_es > 0 THEN 'es'
            WHEN n_fr > 0 THEN 'fr'
            ELSE 'und' END AS pred_lang
FROM c""",
        "token_counts": """
SELECT doc_id AS id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(text) AS BIGINT) AS n_chars
FROM documents""",
        "quality_scores": f"""
SELECT doc_id AS id,
       CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
       round((len(text) - (len(string_split(text,' ')) - 1)) * 1.0 / len(string_split(text,' ')), 6) AS mean_word_len,
       round({O.marker_count_sql('en')} * 1.0 / len(string_split(text,' ')), 6) AS stopword_ratio,
       {O.quality_sql()} AS quality
FROM documents""",
        "table_profile": """
WITH cols(c) AS (VALUES ('doc_id'), ('lang'), ('source'), ('n_chars'))
SELECT c AS "column",
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
       CASE c
         WHEN 'doc_id' THEN (SELECT CAST(count(doc_id) AS BIGINT) FROM documents)
         WHEN 'lang' THEN (SELECT CAST(count(lang) AS BIGINT) FROM documents)
         WHEN 'source' THEN (SELECT CAST(count(source) AS BIGINT) FROM documents)
         WHEN 'n_chars' THEN (SELECT CAST(count(n_chars) AS BIGINT) FROM documents)
       END AS n_nonnull,
       CASE c
         WHEN 'doc_id' THEN (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents)
         WHEN 'lang' THEN (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents)
         WHEN 'source' THEN (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents)
         WHEN 'n_chars' THEN (SELECT CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents)
       END AS n_distinct,
       CASE c
         WHEN 'doc_id' THEN (SELECT CAST(min(doc_id) AS VARCHAR) FROM documents)
         WHEN 'lang' THEN (SELECT min(lang) FROM documents)
         WHEN 'source' THEN (SELECT min(source) FROM documents)
         WHEN 'n_chars' THEN (SELECT CAST(min(n_chars) AS VARCHAR) FROM documents)
       END AS min_str,
       CASE c
         WHEN 'doc_id' THEN (SELECT CAST(max(doc_id) AS VARCHAR) FROM documents)
         WHEN 'lang' THEN (SELECT max(lang) FROM documents)
         WHEN 'source' THEN (SELECT max(source) FROM documents)
         WHEN 'n_chars' THEN (SELECT CAST(max(n_chars) AS VARCHAR) FROM documents)
       END AS max_str
FROM cols""",
        "char_span_convert": """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents
  WHERE len(string_split(text, ' ')) >= 5
),
s AS (
  SELECT doc_id, 0 AS span_idx, 0 AS w0, 2 AS w1, w FROM d
  UNION ALL
  SELECT doc_id, 1, 3, 5, w FROM d
)
SELECT doc_id,
       CAST(span_idx AS BIGINT) AS span_idx,
       CAST(CASE WHEN w0 = 0 THEN 0
            ELSE strlen(array_to_string(w[1:w0], ' ')) + 1 END AS BIGINT) AS char_start,
       CAST(CASE WHEN w1 - 1 = 0 THEN 0
            ELSE strlen(array_to_string(w[1:w1-1], ' ')) + 1 END
            + strlen(w[w1]) AS BIGINT) AS char_end
FROM s""",
        "kg_khop": "WITH RECURSIVE " + ",".join(O.BASE) + """,
seeds AS (
  SELECT DISTINCT subj_qid AS qid FROM kg_relations ORDER BY qid LIMIT 3
),
walk AS (
  SELECT qid, 0 AS hop FROM seeds
  UNION ALL
  SELECT k.obj_qid, w.hop + 1
  FROM walk w JOIN kg_relations k ON k.subj_qid = w.qid
  WHERE w.hop < 3
)
SELECT qid, CAST(min(hop) AS BIGINT) AS hop FROM walk GROUP BY qid""",
        "kg_degrees": O.with_ctes(
            *O.BASE,
            """o AS (
  SELECT subj_qid AS qid, CAST(count(*) AS BIGINT) AS out_deg
  FROM kg_relations GROUP BY subj_qid
),
i AS (
  SELECT obj_qid AS qid, CAST(count(*) AS BIGINT) AS in_deg
  FROM kg_relations GROUP BY obj_qid
)""",
            final="""SELECT COALESCE(o.qid, i.qid) AS qid,
       CAST(COALESCE(out_deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(in_deg, 0) AS BIGINT) AS in_deg,
       CAST(COALESCE(out_deg, 0) + COALESCE(in_deg, 0) AS BIGINT) AS total_deg
FROM o FULL OUTER JOIN i ON o.qid = i.qid""",
        ),
        # as-of: latest signup at-or-before each event per user; ties on
        # the timestamp resolved by max (se, sid) struct — the same
        # lexicographic struct order Spark's last-over-window carry uses
        "events_asof": """
WITH sr AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS se,
                   event_id AS sid
            FROM events WHERE event_type = 'signup'),
l AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e
      FROM events),
m AS (
  SELECT l.event_id AS eid, max({'se': sr.se, 'sid': sr.sid}) AS mm
  FROM l JOIN sr ON sr.user_id = l.user_id AND sr.se <= l.e
  GROUP BY l.event_id
)
SELECT l.event_id, l.user_id, l.e,
       mm.se AS r_e, mm.sid AS r_event_id
FROM l LEFT JOIN m ON m.eid = l.event_id""",
        # interval join: inequality formulation — the bucketed equi-join
        # must produce exactly these pairs
        "events_interval_join": """
WITH sr AS (SELECT user_id, event_id AS signup_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS s
            FROM events WHERE event_type = 'signup'),
p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e, value
      FROM events)
SELECT sr.signup_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(p.value), 6) AS total_value
FROM sr JOIN p ON p.user_id = sr.user_id AND p.e BETWEEN sr.s AND sr.s + 7200
GROUP BY sr.signup_id""",
        "events_rollup": """
SELECT CASE WHEN GROUPING(th) = 0 THEN 'hour' ELSE 'day' END AS grain,
       CAST(epoch(COALESCE(th, td)) AS BIGINT) AS bucket_epoch,
       event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM (SELECT date_trunc('hour', ts) AS th, date_trunc('day', ts) AS td,
             event_type, value FROM events)
GROUP BY GROUPING SETS ((th, event_type), (td, event_type))""",
        # triangle counts: same degree-orientation construction in SQL —
        # wedge pairs ordered by the identical (degree, id) row-value key
        "kg_triangles": O.with_ctes(
            *O.BASE,
            """und AS (
  SELECT DISTINCT LEAST(subj_qid, obj_qid) AS a, GREATEST(subj_qid, obj_qid) AS b
  FROM kg_relations WHERE subj_qid <> obj_qid
)""",
            """deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v
)""",
            """ori AS (
  SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS lo,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS hi,
         CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END AS dhi
  FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b
)""",
            """tri AS (
  SELECT e1.lo AS lo, e1.hi1 AS hi1, e2.hi2 AS hi2
  FROM (SELECT lo, hi AS hi1, dhi AS dh1 FROM ori) e1
  JOIN (SELECT lo, hi AS hi2, dhi AS dh2 FROM ori) e2
    ON e1.lo = e2.lo AND (e1.dh1, e1.hi1) < (e2.dh2, e2.hi2)
  JOIN ori c ON c.lo = e1.hi1 AND c.hi = e2.hi2
)""",
            final="""SELECT qid, CAST(count(*) AS BIGINT) AS triangles FROM (
  SELECT lo AS qid FROM tri
  UNION ALL SELECT hi1 FROM tri
  UNION ALL SELECT hi2 FROM tri
) GROUP BY qid""",
        ),
        "kg_path_motifs": O.with_ctes(
            *O.BASE,
            final="""SELECT p1.rel AS pred1, p2.rel AS pred2,
       CAST(count(*) AS BIGINT) AS n_paths
FROM kg_relations p1 JOIN kg_relations p2 ON p1.obj_qid = p2.subj_qid
WHERE p1.subj_qid <> p2.obj_qid
GROUP BY p1.rel, p2.rel""",
        ),
        # filtered TransE negatives: identical md5 coin/draw arithmetic
        # as operators/graph.negative_samples (seed 7, k 3); entity
        # index = row_number over sorted qid ≡ dense_ids
        "kg_negatives": O.with_ctes(
            *O.BASE,
            """pos AS (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations),
ents AS (
  SELECT qid, row_number() OVER (ORDER BY qid) - 1 AS eidx
  FROM (SELECT subj_qid AS qid FROM kg_relations
        UNION SELECT obj_qid FROM kg_relations)
),
ex AS (
  SELECT subj_qid, rel, obj_qid, CAST(t.j AS BIGINT) AS neg_idx,
         subj_qid || ':' || rel || ':' || obj_qid || ':' || CAST(t.j AS VARCHAR) AS key
  FROM pos, LATERAL unnest(range(0, 3)) AS t(j)
),
drawn AS (
  SELECT subj_qid, rel, obj_qid, neg_idx,
         CAST(('0x' || substr(md5('7:side:' || key), 1, 8))::UBIGINT AS BIGINT) % 2 AS side,
         CAST(('0x' || substr(md5('7:ent:' || key), 1, 8))::UBIGINT AS BIGINT)
           % (SELECT count(*) FROM ents) AS ridx
  FROM ex
),
corrupted AS (
  SELECT CASE WHEN side = 0 THEN e.qid ELSE d.subj_qid END AS subj_qid,
         d.rel,
         CASE WHEN side = 1 THEN e.qid ELSE d.obj_qid END AS obj_qid,
         d.neg_idx,
         CASE WHEN side = 0 THEN 'head' ELSE 'tail' END AS corrupted
  FROM drawn d JOIN ents e ON e.eidx = d.ridx
)""",
            final="""SELECT c.subj_qid, c.rel, c.obj_qid, c.neg_idx, c.corrupted
FROM corrupted c
WHERE NOT EXISTS (
  SELECT 1 FROM pos p
  WHERE p.subj_qid = c.subj_qid AND p.rel = c.rel AND p.obj_qid = c.obj_qid
)""",
        ),
        "kg_rel_cardinality": O.with_ctes(
            *O.BASE,
            """pos AS (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations),
agg AS (
  SELECT rel,
         CAST(count(*) AS BIGINT) AS n_triples,
         CAST(count(DISTINCT subj_qid) AS BIGINT) AS n_heads,
         CAST(count(DISTINCT obj_qid) AS BIGINT) AS n_tails
  FROM pos GROUP BY rel
)""",
            final="""SELECT rel, n_triples, n_heads, n_tails,
       round(n_triples * 1.0 / n_heads, 6) AS tph,
       round(n_triples * 1.0 / n_tails, 6) AS hpt,
       round(n_tails * 1.0 / (n_heads + n_tails), 6) AS p_head_corrupt,
       CASE WHEN 2 * n_triples >= 3 * n_heads AND 2 * n_triples >= 3 * n_tails THEN 'N-M'
            WHEN 2 * n_triples >= 3 * n_heads THEN '1-N'
            WHEN 2 * n_triples >= 3 * n_tails THEN 'N-1'
            ELSE '1-1' END AS cardinality
FROM agg""",
        ),
        "kg_link_predict": O.with_ctes(
            *O.BASE,
            """und AS (
  SELECT DISTINCT least(subj_qid, obj_qid) AS a, greatest(subj_qid, obj_qid) AS b
  FROM kg_relations WHERE subj_qid <> obj_qid
),
adj AS (SELECT a AS m, b AS v FROM und UNION ALL SELECT b AS m, a AS v FROM und),
deg AS (SELECT m, count(*) AS dm FROM adj GROUP BY m),
pairs AS (
  SELECT w1.v AS qid_a, w2.v AS qid_b,
         CAST(count(*) AS BIGINT) AS common_neighbors,
         round(sum(1.0 / ln(d.dm)), 6) AS aa_score
  FROM adj w1 JOIN adj w2 ON w1.m = w2.m AND w1.v < w2.v
  JOIN deg d ON d.m = w1.m
  GROUP BY w1.v, w2.v
)""",
            final="""SELECT p.qid_a, p.qid_b, p.common_neighbors, p.aa_score
FROM pairs p
WHERE NOT EXISTS (
  SELECT 1 FROM und u WHERE u.a = p.qid_a AND u.b = p.qid_b
)""",
        ),
        "entity_pmi": O.with_ctes(
            *O.BASE[:4],
            O.MENTIONS,
            O.LINKED,
            O.DOC_ENTITIES,
            """n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM doc_entities),
cnt AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_q FROM doc_entities GROUP BY qid),
prs AS (
  SELECT a.qid AS qid_a, b.qid AS qid_b, CAST(count(*) AS BIGINT) AS n_pair
  FROM doc_entities a JOIN doc_entities b
    ON a.doc_id = b.doc_id AND a.qid < b.qid
  GROUP BY a.qid, b.qid
  HAVING count(*) >= 2
)""",
            final="""SELECT p.qid_a, p.qid_b, p.n_pair, ca.n_q AS n_a, cb.n_q AS n_b,
       round(ln(p.n_pair * (SELECT nd FROM n) / (ca.n_q * cb.n_q)), 6) AS pmi,
       CASE WHEN p.n_pair = (SELECT nd FROM n) THEN 1.0
            ELSE round(ln(p.n_pair * (SELECT nd FROM n) / (ca.n_q * cb.n_q))
                       / -ln(p.n_pair / (SELECT nd FROM n)), 6) END AS npmi
FROM prs p
JOIN cnt ca ON ca.qid = p.qid_a
JOIN cnt cb ON cb.qid = p.qid_b""",
        ),
        "kg_split": O.with_ctes(
            *O.BASE,
            f"""pos AS (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations),
tent AS (
  SELECT subj_qid, rel, obj_qid,
         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'valid'
              ELSE 'test' END AS tent
  FROM (SELECT *,
          {O.md5_draw_sql("subj_qid || ':' || rel || ':' || obj_qid", 13)} AS u
        FROM pos)
),
tre AS (
  SELECT subj_qid AS qid FROM tent WHERE tent = 'train'
  UNION SELECT obj_qid FROM tent WHERE tent = 'train'
),
trr AS (SELECT DISTINCT rel FROM tent WHERE tent = 'train')""",
            final="""SELECT subj_qid, rel, obj_qid,
       CASE WHEN tent = 'train' THEN 'train'
            WHEN subj_qid IN (SELECT qid FROM tre)
             AND obj_qid IN (SELECT qid FROM tre)
             AND rel IN (SELECT rel FROM trr) THEN tent
            ELSE 'train' END AS split
FROM tent""",
        ),
        # frequency-baseline ranking eval: replays kg_split's CTE chain,
        # then ranks by (freq DESC, qid) with the filtered discount
        "kg_rank_eval": O.with_ctes(
            *O.BASE,
            f"""pos AS (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations),
tent AS (
  SELECT subj_qid, rel, obj_qid,
         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'valid'
              ELSE 'test' END AS tent
  FROM (SELECT *,
          {O.md5_draw_sql("subj_qid || ':' || rel || ':' || obj_qid", 13)} AS u
        FROM pos)
),
tre AS (
  SELECT subj_qid AS qid FROM tent WHERE tent = 'train'
  UNION SELECT obj_qid FROM tent WHERE tent = 'train'
),
trr AS (SELECT DISTINCT rel FROM tent WHERE tent = 'train'),
test AS (
  SELECT subj_qid AS s, rel, obj_qid AS o FROM tent
  WHERE tent = 'test'
    AND subj_qid IN (SELECT qid FROM tre)
    AND obj_qid IN (SELECT qid FROM tre)
    AND rel IN (SELECT rel FROM trr)
),
freq AS (
  SELECT qid, count(*) AS f
  FROM (SELECT subj_qid AS qid FROM pos UNION ALL SELECT obj_qid FROM pos)
  GROUP BY qid
),
idx AS (SELECT qid, row_number() OVER (ORDER BY f DESC, qid) - 1 AS ix FROM freq),
dt AS (
  SELECT t.s, t.rel, t.o, count(*) AS d
  FROM test t
  JOIN idx it ON it.qid = t.o
  JOIN pos p ON p.subj_qid = t.s AND p.rel = t.rel
  JOIN idx ic ON ic.qid = p.obj_qid
  WHERE ic.ix < it.ix
  GROUP BY t.s, t.rel, t.o
),
dh AS (
  SELECT t.s, t.rel, t.o, count(*) AS d
  FROM test t
  JOIN idx it ON it.qid = t.s
  JOIN pos p ON p.obj_qid = t.o AND p.rel = t.rel
  JOIN idx ic ON ic.qid = p.subj_qid
  WHERE ic.ix < it.ix
  GROUP BY t.s, t.rel, t.o
),
ranked AS (
  SELECT t.rel, 'tail' AS side, it.ix + 1 - COALESCE(d.d, 0) AS rank
  FROM test t JOIN idx it ON it.qid = t.o
  LEFT JOIN dt d ON d.s = t.s AND d.rel = t.rel AND d.o = t.o
  UNION ALL
  SELECT t.rel, 'head' AS side, it.ix + 1 - COALESCE(d.d, 0) AS rank
  FROM test t JOIN idx it ON it.qid = t.s
  LEFT JOIN dh d ON d.s = t.s AND d.rel = t.rel AND d.o = t.o
)""",
            final="""SELECT rel, side, CAST(count(*) AS BIGINT) AS n_test,
       round(avg(1.0 / rank), 6) AS mrr,
       round(avg(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 6) AS hits_1,
       round(avg(CASE WHEN rank <= 3 THEN 1.0 ELSE 0.0 END), 6) AS hits_3,
       round(avg(CASE WHEN rank <= 10 THEN 1.0 ELSE 0.0 END), 6) AS hits_10
FROM ranked GROUP BY rel, side""",
        ),
        # positional-delete instance semantics: the deleted 'de'
        # instances are gone, the re-appended 'de' values are live
        "table_delete_pos": """
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents WHERE lang <> 'de'
UNION ALL
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents WHERE lang = 'de'""",
        "corpus_sample_k": f"""
WITH drawn AS (
  SELECT doc_id, lang,
         {O.md5_draw_sql("doc_id", 101)} AS u
  FROM documents
),
ranked AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS BIGINT)
           AS sample_rank
  FROM drawn
)
SELECT doc_id, lang, sample_rank FROM ranked WHERE sample_rank <= 25""",
        "table_roundtrip": """
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents WHERE lang = 'en'""",
        "table_time_travel": """
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents""",
        "domain_caps": f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'https://www.site' ELSE 'https://shop.site' END
           || CAST(doc_id % 37 AS VARCHAR)
           || CASE WHEN doc_id % 3 = 0 THEN '.net' ELSE '.org' END
           || '/p/' || CAST(doc_id AS VARCHAR) AS url,
         {O.quality_sql()} AS quality
  FROM documents
),
h AS (
  SELECT doc_id, quality,
         regexp_replace(
           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)),
           '^www\\.', '') AS host
  FROM d
),
dom AS (
  SELECT doc_id, quality,
         CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) = '' THEN host
              ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END AS domain
  FROM h
),
r AS (
  SELECT doc_id AS id, domain,
         CAST(row_number() OVER (PARTITION BY domain ORDER BY quality DESC, doc_id ASC)
              AS BIGINT) AS domain_rank
  FROM dom
)
SELECT id, domain, domain_rank FROM r WHERE domain_rank <= 5""",
        "quality_percentile": f"""
WITH q AS (
  SELECT doc_id AS id, lang AS stratum, {O.quality_sql()} AS q FROM documents
),
r AS (
  SELECT id, stratum, q,
         percent_rank() OVER (PARTITION BY stratum ORDER BY q DESC, id ASC) AS pr
  FROM q
)
SELECT id, stratum, round(q, 6) AS quality, round(pr, 6) AS pr
FROM r WHERE pr <= 0.6""",
        "tfidf_terms": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term0 FROM documents
),
pairs AS (
  SELECT doc_id AS id, lower(term0) AS term, CAST(count(*) AS BIGINT) AS tf
  FROM toks
  WHERE len(term0) > 0
  GROUP BY doc_id, lower(term0)
),
dfd AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY term),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM documents),
s AS (
  SELECT p.id, p.term, p.tf, d.df,
         p.tf * (ln((n.nd + 1) * 1.0 / (d.df + 1)) + 1) AS score
  FROM pairs p JOIN dfd d USING (term) CROSS JOIN n
),
r AS (
  SELECT id, term, tf, df, score,
         CAST(row_number() OVER (PARTITION BY id ORDER BY score DESC, term ASC)
              AS BIGINT) AS rank
  FROM s
)
SELECT id, term, tf, df, round(score, 6) AS score, rank FROM r WHERE rank <= 5""",
        "repetition_scores": """
WITH base AS (SELECT doc_id AS id, string_split(text, ' ') AS w FROM documents),
c1 AS (
  SELECT id, g, count(*) AS c FROM (SELECT id, unnest(w) AS g FROM base) GROUP BY id, g
),
t1 AS (SELECT id, max(c) AS mx FROM c1 GROUP BY id),
u2 AS (
  SELECT id, array_to_string(list_slice(w, t.i + 1, t.i + 2), ' ') AS g
  FROM base, LATERAL (SELECT unnest(range(0, greatest(len(w) - 1, 0))) AS i) t
),
c2 AS (SELECT id, g, count(*) AS c FROM u2 GROUP BY id, g),
t2 AS (SELECT id, max(c) AS mx FROM c2 GROUP BY id),
nn AS (SELECT id, len(w) AS n FROM base)
SELECT nn.id,
       round(coalesce(t1.mx, 0) * 1.0 / nn.n, 6) AS top_word_frac,
       round(coalesce(t2.mx, 0) * 2.0 / nn.n, 6) AS top_2gram_frac
FROM nn LEFT JOIN t1 ON nn.id = t1.id LEFT JOIN t2 ON nn.id = t2.id""",
        "doc_fingerprints": """
WITH sh AS (
  SELECT doc_id AS id, md5(s.shingle) AS h
  FROM documents,
  LATERAL (
    SELECT array_to_string(list_slice(string_split(text,' '), i + 1, i + 3), ' ') AS shingle
    FROM unnest(range(0, greatest(len(string_split(text,' ')) - 2, 0))) AS t(i)
  ) s
  WHERE len(s.shingle) > 0
)
SELECT id, min(h) AS fp_min, max(h) AS fp_max FROM sh GROUP BY id""",
        "sentences_mentions": """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 2
)
SELECT doc_id AS sent_idx, CAST(0 AS BIGINT) AS alias_idx, lower(w[1]) AS alias,
       'Q' || CAST(doc_id * 2 AS VARCHAR) AS qid,
       CAST(0 AS BIGINT) AS char_start, CAST(len(w[1]) AS BIGINT) AS char_end,
       TRUE AS gold
FROM base
UNION ALL
SELECT doc_id, CAST(1 AS BIGINT), lower(w[2]),
       'Q' || CAST(doc_id * 2 + 1 AS VARCHAR),
       CAST(len(w[1]) + 1 AS BIGINT), CAST(len(w[1]) + len(w[2]) + 1 AS BIGINT),
       doc_id % 2 = 0
FROM base""",
        "winnow_fps": """
WITH h AS (
  SELECT doc_id AS id,
         list_transform(range(0, greatest(len(string_split(text,' ')) - 2, 0)),
                        j -> md5(array_to_string(list_slice(string_split(text,' '), j + 1, j + 3), ' '))) AS hs
  FROM documents
)
SELECT id, unnest(list_distinct(list_transform(range(0, greatest(len(hs) - 4, 0) + 1),
                                               i -> list_min(list_slice(hs, i + 1, i + 4))))) AS fp
FROM h
WHERE len(hs) >= 1""",
        # corpus hygiene + WARC (patterns interpolated from
        # bootleg_spark.operators.textclean so Spark and oracle share
        # the exact regex strings; Java-regex ∩ RE2 subset only)
        "pii_scrub": f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-' ||
         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         ' at 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
         CAST(doc_id % 250 + 1 AS VARCHAR) AS text
  FROM documents
),
s1 AS (
  SELECT doc_id AS id,
         CAST(len(regexp_extract_all(text, '{textclean.EMAIL_RE}')) AS BIGINT) AS n_emails,
         regexp_replace(text, '{textclean.EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM dirty
),
s2 AS (
  SELECT id, n_emails,
         CAST(len(regexp_extract_all(t1, '{textclean.PHONE_RE}')) AS BIGINT) AS n_phones,
         regexp_replace(t1, '{textclean.PHONE_RE}', '<PHONE>', 'g') AS t2
  FROM s1
)
SELECT id, n_emails, n_phones,
       CAST(len(regexp_extract_all(t2, '{textclean.IP_RE}')) AS BIGINT) AS n_ips,
       regexp_replace(t2, '{textclean.IP_RE}', '<IP>', 'g') AS clean_text
FROM s2""",
        "url_canonical": r"""
WITH messy AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'HTTPS://WWW.Example.org:443/' || lang || '/' || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&b=2&a=1#frag'
           WHEN 1 THEN 'https://example.org/' || lang || '/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
           WHEN 2 THEN 'http://Example.org:80/' || lang || '/' || CAST(doc_id AS VARCHAR) || '#x'
           ELSE 'https://www.example.org/' || lang || '/' || CAST(doc_id AS VARCHAR) || '/?gclid=xyz&ref=home'
         END AS url
  FROM documents
),
x AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS no_frag FROM messy),
y AS (
  SELECT doc_id, url,
         regexp_extract(no_frag, '^([^?]*)', 1) AS base,
         regexp_extract(no_frag, '\?(.*)$', 1) AS query
  FROM x
),
z AS (
  SELECT doc_id, url, query,
         lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1)) AS hostport,
         regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$', 1) AS path
  FROM y
),
w AS (
  SELECT doc_id, url, scheme, path,
         regexp_replace(CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                             WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                             ELSE hostport END, '^www\.', '') AS host,
         coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
           p -> p <> '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'fbclid=')
                AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'ref='))), '&'), '') AS qs
  FROM z
)
SELECT doc_id AS id, url AS url_raw,
       scheme || '://' || host ||
       CASE WHEN regexp_replace(path, '/$', '') = '' THEN '/' ELSE regexp_replace(path, '/$', '') END ||
       CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url_canon
FROM w""",
        "ngram_contamination": f"""
WITH sh AS ({O.shingle_body_sql(3, extra_where="doc_id % 20 <> 0")}
),
esh AS (
  SELECT DISTINCT shingle FROM ({O.shingle_body_sql(3, extra_where="doc_id % 20 = 0")}
  )
),
hits AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_hit
  FROM sh JOIN esh USING (shingle) GROUP BY id
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh GROUP BY id)
SELECT h.id, h.n_hit, s.n_shingles, round(h.n_hit * 1.0 / s.n_shingles, 6) AS hit_frac
FROM hits h JOIN sizes s ON h.id = s.id""",
        "corpus_select": f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
q AS (
  SELECT doc_id AS id, text, md5(text) AS content_hash,
         CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
         {O.quality_sql()} AS quality,
         {O.lang_case_sql()} AS pred_lang
  FROM corpus
),
keepers AS (
  SELECT md5(text) AS content_hash, min(doc_id) AS keep_id FROM corpus GROUP BY md5(text)
),
sh AS ({O.shingle_body_sql(5, src="corpus")}
),
esh AS (
  SELECT DISTINCT shingle FROM ({O.shingle_body_sql(5, extra_where="doc_id % 20 = 0")}
  )
),
cont AS (SELECT DISTINCT id FROM sh JOIN esh USING (shingle))
SELECT q.id, q.n_words, q.quality, q.pred_lang
FROM q JOIN keepers k ON q.content_hash = k.content_hash AND q.id = k.keep_id
WHERE q.quality > 0.0 AND q.pred_lang = 'en'
  AND q.id NOT IN (SELECT id FROM cont)""",
        "corpus_mixture": f"""
WITH w AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 2.4 WHEN 'de' THEN 0.5 WHEN 'zh' THEN 1.0 END AS wt,
         {O.md5_draw_sql('doc_id', 7)} AS draw
  FROM documents
  WHERE lang IN ('en', 'de', 'zh')
),
n AS (
  SELECT doc_id, lang,
         CAST(FLOOR(wt) + CASE WHEN draw < wt - FLOOR(wt) THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM w
)
SELECT doc_id, lang, CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_idx
FROM n
WHERE n.n_copies > 0""",
        "pack_spans": """
WITH d AS (
  SELECT doc_id, doc_id % 8 AS bucket,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
  WHERE len(string_split(text, ' ')) > 0
),
c AS (
  -- CAST: DuckDB promotes SUM() OVER to HUGEINT, which surfaces to the
  -- driver canonicalizer as float64 ("32.0" vs Spark's "32") and broke
  -- the r04 hash (VERDICT r4 'What's wrong' #1). ROWS frame mirrors the
  -- operator's peer-proof window (doc_id is unique here, so semantics
  -- are unchanged — the frame is belt-and-braces parity).
  SELECT doc_id, bucket, n,
         CAST(SUM(n) OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n AS BIGINT) AS before
  FROM d
),
p AS (
  SELECT bucket, doc_id, n, before,
         CAST(unnest(range(CAST(FLOOR(before / 128) AS BIGINT),
                           CAST(FLOOR((before + n - 1) / 128) AS BIGINT) + 1))
              AS BIGINT) AS pack_id
  FROM c
)
SELECT bucket, pack_id, doc_id,
       GREATEST(CAST(0 AS BIGINT), pack_id * 128 - before) AS doc_tok_start,
       LEAST(n, pack_id * 128 + 128 - before) AS doc_tok_end,
       GREATEST(CAST(0 AS BIGINT), before - pack_id * 128) AS pack_tok_start
FROM p""",
        "pack_spans_mixed": f"""
WITH w AS (
  SELECT doc_id, text,
         CASE lang WHEN 'en' THEN 2.4 WHEN 'de' THEN 0.5 WHEN 'zh' THEN 1.0 END AS wt,
         {O.md5_draw_sql('doc_id', 7)} AS draw
  FROM documents
  WHERE lang IN ('en', 'de', 'zh')
),
m AS (
  SELECT doc_id, text,
         CAST(unnest(range(0,
              CAST(FLOOR(wt) + CASE WHEN draw < wt - FLOOR(wt) THEN 1 ELSE 0 END AS BIGINT)))
              AS BIGINT) AS copy_idx
  FROM w
),
d AS (
  SELECT doc_id, copy_idx, doc_id % 8 AS bucket,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM m
  WHERE len(string_split(text, ' ')) > 0
),
c AS (
  SELECT doc_id, copy_idx, bucket, n,
         CAST(SUM(n) OVER (PARTITION BY bucket ORDER BY doc_id, copy_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n AS BIGINT) AS before
  FROM d
),
p AS (
  SELECT bucket, doc_id, copy_idx, n, before,
         CAST(unnest(range(CAST(FLOOR(before / 128) AS BIGINT),
                           CAST(FLOOR((before + n - 1) / 128) AS BIGINT) + 1))
              AS BIGINT) AS pack_id
  FROM c
)
SELECT bucket, pack_id, doc_id, copy_idx,
       GREATEST(CAST(0 AS BIGINT), pack_id * 128 - before) AS doc_tok_start,
       LEAST(n, pack_id * 128 + 128 - before) AS doc_tok_end,
       GREATEST(CAST(0 AS BIGINT), before - pack_id * 128) AS pack_tok_start
FROM p""",
        "chunk_windows": """
WITH d AS (
  SELECT doc_id AS id, string_split(text, ' ') AS w,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
  WHERE len(string_split(text, ' ')) > 0
),
c AS (
  SELECT id, w, n,
         CAST(unnest(range(0, CAST(FLOOR((n - 1) / 24) AS BIGINT) + 1)) AS BIGINT) AS chunk_idx
  FROM d
)
SELECT id, chunk_idx,
       chunk_idx * 24 AS tok_start,
       LEAST(n, chunk_idx * 24 + 32) AS tok_end,
       array_to_string(w[chunk_idx * 24 + 1 : CAST(LEAST(n, chunk_idx * 24 + 32) AS INT)], ' ') AS chunk
FROM c""",
        "line_dedup": """
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 1
),
framed AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(0, CAST(FLOOR((len(w) - 1) / 5) AS BIGINT) + 1),
                          g -> array_to_string(w[g*5+1 : g*5+5], ' ')),
           chr(10))
         || chr(10) || 'shared boilerplate footer line'
         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'semi common promo line' ELSE '' END
         AS text
  FROM base
),
ln AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM framed
),
pos AS (
  SELECT doc_id, ls, unnest(range(0, len(ls))) AS pos FROM ln
),
lines AS (
  SELECT doc_id, pos, trim(ls[pos + 1]) AS line FROM pos
  WHERE len(trim(ls[pos + 1])) > 0
),
cnt AS (
  SELECT line, COUNT(*) AS c FROM lines GROUP BY line
)
SELECT l.doc_id AS id,
       string_agg(l.line, chr(10) ORDER BY l.pos) FILTER (WHERE c.c < 3) AS text,
       CAST(COUNT(*) FILTER (WHERE c.c < 3) AS BIGINT) AS n_lines_kept,
       CAST(COUNT(*) FILTER (WHERE c.c >= 3) AS BIGINT) AS n_lines_dropped
FROM lines l JOIN cnt c ON l.line = c.line
GROUP BY l.doc_id
HAVING COUNT(*) FILTER (WHERE c.c < 3) > 0""",
        "profile_roundtrip": O.with_ctes(
            *O.BASE,
            final="""SELECT e.qid, e.title, e.descr, e.alias,
       CAST(e.score AS DOUBLE) AS score,
       CAST(3 AS BIGINT) AS n_hyena,
       CAST(COALESCE(r.n, 0) AS BIGINT) AS n_rel
FROM entities e
LEFT JOIN (SELECT subj_qid, COUNT(*) AS n FROM kg_relations GROUP BY subj_qid) r
  ON e.qid = r.subj_qid""",
        ),
        "sentences_slices": """
WITH d2 AS (
  SELECT doc_id
  FROM documents
  WHERE (length(text) - length(replace(text, ' ', '')) + 1) >= 2
),
kept AS (
  SELECT doc_id AS sent_idx, 0 AS alias_idx, 0 AS alias_new_idx FROM d2
  UNION ALL
  SELECT doc_id, 1, 1 FROM d2 WHERE doc_id % 2 = 0
),
probs AS (
  SELECT doc_id AS sent_idx, 0 AS alias_idx, 's_even' AS slice_name,
         CASE WHEN doc_id % 2 = 0 THEN 0.9 ELSE 0.2 END AS prob
  FROM d2
  UNION ALL
  SELECT doc_id, 1, 's_even', 0.7 FROM d2 WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id, 1, 's_second', 0.8 FROM d2
)
SELECT k.sent_idx, p.slice_name, CAST(k.alias_new_idx AS BIGINT) AS alias_new_idx,
       CAST(ROUND(p.prob, 6) AS DOUBLE) AS prob, p.prob > 0.5 AS in_slice
FROM kept k
JOIN probs p ON k.sent_idx = p.sent_idx AND k.alias_idx = p.alias_idx
UNION ALL
SELECT sent_idx, 'final_loss' AS slice_name, CAST(alias_new_idx AS BIGINT),
       CAST(1.0 AS DOUBLE) AS prob, TRUE AS in_slice
FROM kept""",
        "warc_roundtrip": f"""
WITH pages AS (
  SELECT '{S.URL_PREFIX}' || lang || '/' || CAST(doc_id AS VARCHAR) AS url,
         strftime(make_timestamp(({S.BASE_EPOCH} + doc_id) * 1000000), '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><style>p{{margin:0}}</style></head><body><nav>home | about</nav><p>' ||
         text || '</p><script>var v=' || CAST(doc_id AS VARCHAR) ||
         ';</script><footer>copyright example.org</footer></body></html>' AS html
  FROM documents
)
SELECT url, warc_date, CAST(strlen(html) AS BIGINT) AS n_bytes, md5(html) AS payload_md5
FROM pages""",
    }
    # the JVM-matcher paths must reproduce their Python twins
    # row-for-row, so they share the twins' oracles verbatim (mentions:
    # the same relational model in DuckDB SQL; linked: the same golden
    # parquet — linked_relational scores through the same link_neural)
    d["mentions_relational"] = d["mentions_ngram"]
    d["linked_relational"] = d["linked_neural"]
    # plan variants that must be row-identical to an existing path:
    # the salted shuffle join vs the broadcast join, and the .warc.gz
    # file sink round trip vs the in-memory buffer round trip
    d["candidates_salted"] = d["linked_popularity"]
    d["warc_files_roundtrip"] = d["warc_roundtrip"]
    # full-probe IVF over the table layout reads every cell = exact
    # brute force, so it shares the brute-force oracle
    d["ann_ivf_table"] = d["ann_cosine_topk"]
    # snapshot-table round-6 capabilities: DELETE mirrors the
    # anti-predicate; partition pruning mirrors the day arithmetic the
    # hidden days() transform encodes; schema evolution mirrors the
    # null-backfilled union of the two write eras
    # PageRank: iterations UNROLLED as chained CTEs (recursive CTEs
    # cannot aggregate over their own reference); same variant as
    # graph.pagerank (rank0 = 1/N, no dangling redistribution)
    pr_ctes = [
        "e AS (SELECT DISTINCT subj_qid AS s, obj_qid AS o FROM kg_relations)",
        "nds AS (SELECT s AS q FROM e UNION SELECT o FROM e)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM nds)",
        "od AS (SELECT s, CAST(COUNT(*) AS DOUBLE) AS dg FROM e GROUP BY s)",
        "pr0 AS (SELECT q, 1.0 / (SELECT c FROM nn) AS r FROM nds)",
    ]
    for i in range(1, 11):
        pr_ctes.append(
            f"c{i} AS (SELECT e.o AS q, SUM(p.r / od.dg) AS s "
            f"FROM e JOIN pr{i-1} p ON p.q = e.s JOIN od ON od.s = e.s "
            f"GROUP BY e.o)"
        )
        pr_ctes.append(
            f"pr{i} AS (SELECT n.q AS q, "
            f"0.15 / (SELECT c FROM nn) + 0.85 * COALESCE(c{i}.s, 0) AS r "
            f"FROM nds n LEFT JOIN c{i} ON c{i}.q = n.q)"
        )
    d["kg_pagerank"] = O.with_ctes(
        *O.BASE, *pr_ctes, final="SELECT q AS qid, ROUND(r, 6) AS rank FROM pr10"
    )
    d["kg_components"] = "WITH RECURSIVE " + ",".join(O.BASE) + """,
e AS (SELECT DISTINCT subj_qid AS s, obj_qid AS o FROM kg_relations),
ue AS (SELECT s, o FROM e UNION SELECT o AS s, s AS o FROM e),
nds AS (SELECT s AS q FROM ue UNION SELECT o FROM ue),
reach AS (
  SELECT q, q AS r FROM nds
  UNION
  SELECT reach.q, ue.o FROM reach JOIN ue ON ue.s = reach.r
)
SELECT q AS qid, MIN(r) AS component FROM reach GROUP BY q"""
    d["quality_model"] = f"""
WITH f AS (
  SELECT doc_id AS id,
         ln(1 + len(string_split(text,' '))) AS x1,
         round((len(text) - (len(string_split(text,' ')) - 1)) * 1.0 / len(string_split(text,' ')), 6) AS x2,
         round({O.marker_count_sql('en')} * 1.0 / len(string_split(text,' ')), 6) AS x3
  FROM documents
)
SELECT id,
       round(1.0/(1.0+exp(-(-2.0 + 0.35*x1 + 0.15*x2 + 3.0*x3))), 6) AS score,
       round(1.0/(1.0+exp(-(-2.0 + 0.35*x1 + 0.15*x2 + 3.0*x3))), 6) >= 0.5 AS keep
FROM f"""
    d["lm_perplexity"] = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
uni AS (
  SELECT u.w AS w, CAST(count(*) AS DOUBLE) AS c1
  FROM w, unnest(ws) AS u(w) GROUP BY u.w
),
vv AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
bgx AS (
  SELECT doc_id, ws[CAST(r.i AS BIGINT)] AS w1, ws[CAST(r.i AS BIGINT) + 1] AS w2
  FROM w, unnest(range(1, len(ws))) AS r(i)
  WHERE len(ws) >= 2
),
bc AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM bgx GROUP BY w1, w2
)
SELECT b.doc_id AS id,
       round(avg(-ln((COALESCE(bc.c2, 0) + 1.0) /
                     (COALESCE(u.c1, 0) + (SELECT v FROM vv)))), 6) AS cross_entropy,
       CAST(count(*) AS BIGINT) AS n_bigrams
FROM bgx b
LEFT JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
LEFT JOIN uni u ON u.w = b.w1
GROUP BY b.doc_id"""
    d["table_delete"] = """
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents WHERE doc_id NOT BETWEEN 100 AND 199"""
    d["table_partition_prune"] = """
SELECT doc_id, lang FROM documents WHERE doc_id % 10 = 2"""
    d["table_schema_evo"] = """
SELECT doc_id, lang, CAST(NULL AS DOUBLE) AS quality FROM documents
UNION ALL
SELECT doc_id, lang, ROUND(CAST(len(text) AS DOUBLE) / 100, 6) AS quality
FROM documents WHERE lang = 'en'"""
    # the explicit two-phase domain cap must be row-identical to the
    # one-window form, so it shares that oracle verbatim
    d["domain_caps_salted"] = d["domain_caps"]
    # MERGE = kept-verbatim / updated / inserted, three-way union;
    # incremental scan = the appended residues mod 3
    d["table_merge"] = """
SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0
UNION ALL
SELECT doc_id, lang, 'UPDATED' AS text FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 100000 AS doc_id, 'xx' AS lang, 'new' AS text
FROM documents WHERE doc_id < 5"""
    d["table_incremental"] = """
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 3 <> 0"""
    d["table_delete_mor"] = """
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 7 <> 3"""
    d["table_zorder"] = """
SELECT doc_id, lang,
       CAST(doc_id % 64 AS BIGINT) AS x,
       CAST((doc_id * 37) % 64 AS BIGINT) AS y
FROM documents WHERE (doc_id * 37) % 64 BETWEEN 10 AND 20"""
    # rollback restores the full corpus, then an en echo-append lands
    # on the RESTORED state (the bad zh overwrite must be absent)
    d["table_rollback"] = """
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents WHERE lang = 'en'"""
    # tag pinned at v1 (full corpus) + branch moved to v3 (de overwrite)
    d["table_refs"] = """
SELECT 'raw-corpus' AS ref, doc_id, lang FROM documents
UNION ALL
SELECT 'serving' AS ref, doc_id, lang FROM documents WHERE lang = 'de'"""
    # WAP: en base + published de batch; the dropped fr stage never lands
    d["table_wap"] = """
SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS n_chars
FROM documents WHERE lang IN ('en', 'de')"""
    # redirect chains resolved by a recursive walk to the terminal
    # (non-redirected) qid, then the triple rewrite + self-loop filter
    d["kg_canonicalize"] = (
        "WITH RECURSIVE "
        + ",".join(O.BASE + (O.REDIRECTS,))
        + """,
walk AS (
  SELECT src_qid AS qid, dst_qid AS canon FROM redirects
  UNION ALL
  SELECT w.qid, r.dst_qid
  FROM walk w JOIN redirects r ON w.canon = r.src_qid
),
resolved AS (
  SELECT qid, canon FROM walk
  WHERE canon NOT IN (SELECT src_qid FROM redirects)
)
SELECT DISTINCT COALESCE(rs.canon, k.subj_qid) AS subj_qid,
       k.rel,
       COALESCE(ro.canon, k.obj_qid) AS obj_qid
FROM kg_relations k
LEFT JOIN resolved rs ON k.subj_qid = rs.qid
LEFT JOIN resolved ro ON k.obj_qid = ro.qid
WHERE COALESCE(rs.canon, k.subj_qid) <> COALESCE(ro.canon, k.obj_qid)"""
    )
    # consecutive linked-mention pairs + the between-words slice; shared
    # by the mine and apply oracles
    _pairs_cte = """
pairs AS (
  SELECT p.doc_id, p.pos1, p.pos2, p.qid1, p.qid2,
         array_to_string(list_slice(string_split(d.text, ' '),
                                    p.pos1 + 2, p.pos2), ' ') AS pattern
  FROM (
    SELECT doc_id, mention_pos AS pos1,
           lead(mention_pos) OVER w AS pos2,
           qid AS qid1, lead(qid) OVER w AS qid2
    FROM linked
    WINDOW w AS (PARTITION BY doc_id ORDER BY mention_pos)
  ) p JOIN documents d USING (doc_id)
  WHERE p.pos2 IS NOT NULL AND p.qid1 <> p.qid2
    AND p.pos2 - p.pos1 BETWEEN 2 AND 4
)""", """
totals AS (
  SELECT pattern, CAST(count(*) AS BIGINT) AS n_pattern
  FROM pairs GROUP BY pattern
)""", """
hits AS (
  SELECT pattern, k.rel, CAST(count(*) AS BIGINT) AS support
  FROM pairs p
  JOIN (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations) k
    ON p.qid1 = k.subj_qid AND p.qid2 = k.obj_qid
  GROUP BY pattern, k.rel
)""", """
mined AS (
  SELECT pattern, rel, support, n_pattern,
         round(support * 1.0 / n_pattern, 6) AS precision
  FROM hits JOIN totals USING (pattern)
)"""
    d["rel_pattern_mine"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        *_pairs_cte,
        final="SELECT pattern, rel, support, n_pattern, precision FROM mined",
    )
    d["rel_pattern_apply"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        *_pairs_cte,
        """
kept AS (
  SELECT pattern, rel, precision FROM mined
  WHERE support >= 2 AND precision >= 0.05
)""",
        """
prop AS (
  SELECT p.qid1 AS subj_qid, k.rel, p.qid2 AS obj_qid, k.precision
  FROM pairs p JOIN kept k USING (pattern)
)""",
        final="""SELECT subj_qid, rel, obj_qid,
       CAST(count(*) AS BIGINT) AS n_evidence,
       round(max(precision), 6) AS confidence
FROM prop p
WHERE NOT EXISTS (
  SELECT 1 FROM kg_relations k
  WHERE k.subj_qid = p.subj_qid AND k.rel = p.rel AND k.obj_qid = p.obj_qid
)
GROUP BY subj_qid, rel, obj_qid""",
    )
    # typed KG + signature aggregation, shared by the fusion oracles;
    # {src} = the (subj_qid, rel, obj_qid) CTE to type
    _sig_ctes = """
typed AS (
  SELECT k.subj_qid, k.rel, k.obj_qid,
         es.type_name AS subj_type, eo.type_name AS obj_type
  FROM kgd k
  JOIN entities es ON k.subj_qid = es.qid
  JOIN entities eo ON k.obj_qid = eo.qid
)""", """
sig AS (
  SELECT rel, subj_type, obj_type, CAST(count(*) AS BIGINT) AS support
  FROM typed GROUP BY rel, subj_type, obj_type
)""", """
sigf AS (
  SELECT s.rel, s.subj_type, s.obj_type, s.support,
         round(s.support * 1.0 / t.n_rel, 6) AS frac
  FROM sig s JOIN (SELECT rel, sum(support) AS n_rel FROM sig GROUP BY rel) t
    USING (rel)
)"""
    d["kg_rel_signatures"] = O.with_ctes(
        *O.BASE,
        "kgd AS (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations)",
        *_sig_ctes,
        final="SELECT rel, subj_type, obj_type, support, frac FROM sigf",
    )
    d["kg_type_violations"] = O.with_ctes(
        *O.BASE,
        """
kgd AS (
  SELECT DISTINCT subj_qid,
         CASE WHEN subj_qnum % 23 = 0 THEN
           CASE rel WHEN 'works_with' THEN 'located_in'
                    WHEN 'located_in' THEN 'part_of'
                    ELSE 'works_with' END
         ELSE rel END AS rel,
         obj_qid
  FROM kg_relations
)""",
        *_sig_ctes,
        final="""SELECT t.subj_qid, t.rel, t.obj_qid, t.subj_type, t.obj_type,
       s.frac AS sig_frac
FROM typed t
JOIN sigf s ON t.rel = s.rel AND t.subj_type = s.subj_type
           AND t.obj_type = s.obj_type
WHERE s.frac < 0.05""",
    )
    d["kg_func_conflicts"] = O.with_ctes(
        *O.BASE,
        final="""SELECT subj_qid, rel,
       CAST(count(DISTINCT obj_qid) AS BIGINT) AS n_objects,
       array_to_string(list_sort(list(DISTINCT obj_qid)), '|') AS objects
FROM (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations
      WHERE rel IN ('located_in', 'part_of'))
GROUP BY subj_qid, rel
HAVING count(DISTINCT obj_qid) > 1""",
    )
    d["kg_fuse_functional"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        """
weighted AS (
  SELECT k.subj_qid, k.rel, k.obj_qid, COALESCE(q.weight, 0.0) AS weight
  FROM (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations) k
  LEFT JOIN (SELECT qid, CAST(count(*) AS DOUBLE) AS weight
             FROM linked GROUP BY qid) q
    ON k.obj_qid = q.qid
)""",
        final="""SELECT subj_qid, rel, obj_qid, weight FROM (
  SELECT *, row_number() OVER (PARTITION BY subj_qid, rel
                               ORDER BY weight DESC, obj_qid) AS rn
  FROM weighted WHERE rel = 'located_in'
) WHERE rn = 1
UNION ALL
SELECT subj_qid, rel, obj_qid, weight FROM weighted WHERE rel <> 'located_in'""",
    )
    # truth-discovery chain, unrolled like kg_pagerank (recursive CTEs
    # cannot aggregate over their own reference)
    # MATERIALIZED + window-function max throughout: DuckDB inlines
    # plain CTEs per reference, so a scalar-subquery max (two refs per
    # level) re-expands the whole upstream chain exponentially — the
    # first draft of this oracle ran minutes at sf0.001 for that reason.
    st_ctes = [
        "dents AS MATERIALIZED (SELECT DISTINCT doc_id, qid FROM linked)",
        """att AS MATERIALIZED (
  SELECT DISTINCT d.source, k.subj_qid, k.rel, k.obj_qid
  FROM dents s
  JOIN kg_relations k ON k.subj_qid = s.qid
  JOIN dents o ON o.doc_id = s.doc_id AND o.qid = k.obj_qid
  JOIN documents d ON d.doc_id = s.doc_id
)""",
        "t0 AS (SELECT DISTINCT source, 1.0 AS trust FROM att)",
    ]
    for i in range(1, 4):
        st_ctes.append(
            f"c{i} AS MATERIALIZED (SELECT subj_qid, rel, obj_qid, "
            f"rc / MAX(rc) OVER () AS conf FROM ("
            f"SELECT subj_qid, rel, obj_qid, SUM(t.trust) AS rc "
            f"FROM att a JOIN t{i-1} t USING (source) "
            f"GROUP BY subj_qid, rel, obj_qid))"
        )
        st_ctes.append(
            f"t{i} AS MATERIALIZED (SELECT source, rt / MAX(rt) OVER () AS trust "
            f"FROM (SELECT a.source, SUM(c.conf) AS rt FROM att a "
            f"JOIN c{i} c USING (subj_qid, rel, obj_qid) GROUP BY a.source))"
        )
    d["kg_source_trust"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        *st_ctes,
        final="SELECT source, ROUND(trust, 6) AS trust FROM t3",
    )
    d["kg_claim_conf"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        *st_ctes,
        final="SELECT subj_qid, rel, obj_qid, ROUND(conf, 6) AS conf FROM c3",
    )
    d["kg_fused"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        *st_ctes,
        "w AS (SELECT subj_qid, rel, obj_qid, ROUND(conf, 6) AS weight FROM c3)",
        final="""SELECT subj_qid, rel, obj_qid, weight FROM (
  SELECT *, row_number() OVER (PARTITION BY subj_qid, rel
                               ORDER BY weight DESC, obj_qid) AS rn
  FROM w WHERE rel = 'located_in'
) WHERE rn = 1
UNION ALL
SELECT subj_qid, rel, obj_qid, weight FROM w WHERE rel <> 'located_in'""",
    )
    d["kg_fact_spans"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        "dents AS (SELECT DISTINCT doc_id, qid FROM linked)",
        """datt AS (
  SELECT DISTINCT s.doc_id, k.subj_qid AS subj, k.rel AS pred, k.obj_qid AS obj
  FROM dents s
  JOIN kg_relations k ON k.subj_qid = s.qid
  JOIN dents o ON o.doc_id = s.doc_id AND o.qid = k.obj_qid
)""",
        final=f"""SELECT subj, pred, obj,
       CAST({S.BASE_EPOCH} + min(doc_id) AS BIGINT) AS first_seen_epoch,
       CAST({S.BASE_EPOCH} + max(doc_id) AS BIGINT) AS last_seen_epoch,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
FROM datt GROUP BY subj, pred, obj""",
    )
    # two-round Snowball bootstrap, unrolled; every multiply-referenced
    # CTE is MATERIALIZED (the DuckDB inlining lesson from the
    # truth-discovery oracle)
    bs_ctes = [
        "bpairs AS MATERIALIZED (SELECT * FROM pairs)",
        "bk0 AS MATERIALIZED (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations)",
        "btot AS MATERIALIZED (SELECT pattern, CAST(count(*) AS BIGINT) AS n_pattern "
        "FROM bpairs GROUP BY pattern)",
    ]
    for i in (1, 2):
        bs_ctes.append(f"""bprop{i} AS MATERIALIZED (
  SELECT subj_qid, rel, obj_qid, CAST(count(*) AS BIGINT) AS n_evidence,
         round(max(precision), 6) AS confidence
  FROM (
    SELECT p.qid1 AS subj_qid, k.rel, p.qid2 AS obj_qid, k.precision
    FROM bpairs p
    JOIN (
      SELECT h.pattern, h.rel,
             round(h.support * 1.0 / t.n_pattern, 6) AS precision
      FROM (
        SELECT pattern, k.rel, CAST(count(*) AS BIGINT) AS support
        FROM bpairs p2 JOIN bk{i-1} k
          ON p2.qid1 = k.subj_qid AND p2.qid2 = k.obj_qid
        GROUP BY pattern, k.rel
      ) h JOIN btot t USING (pattern)
      WHERE h.support >= 2
    ) k ON p.pattern = k.pattern
    WHERE k.precision >= 0.05
  ) x
  WHERE NOT EXISTS (
    SELECT 1 FROM bk{i-1} e
    WHERE e.subj_qid = x.subj_qid AND e.rel = x.rel AND e.obj_qid = x.obj_qid
  )
  GROUP BY subj_qid, rel, obj_qid
)""")
        bs_ctes.append(f"""bk{i} AS MATERIALIZED (
  SELECT subj_qid, rel, obj_qid FROM bk{i-1}
  UNION
  SELECT subj_qid, rel, obj_qid FROM bprop{i}
)""")
    d["rel_pattern_bootstrap"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        _pairs_cte[0],
        *bs_ctes,
        final="""SELECT subj_qid, rel, obj_qid, CAST(1 AS INTEGER) AS accepted_round,
       n_evidence, confidence FROM bprop1
UNION ALL
SELECT subj_qid, rel, obj_qid, CAST(2 AS INTEGER) AS accepted_round,
       n_evidence, confidence FROM bprop2""",
    )
    # AMIE rule chain, shared by mine and apply
    _rule_ctes = (
        "redges AS (SELECT DISTINCT subj_qid, rel, obj_qid FROM kg_relations)",
        """bind AS (
  SELECT DISTINCT e1.rel AS r1, e2.rel AS r2, e1.subj_qid AS a, e2.obj_qid AS c
  FROM redges e1 JOIN redges e2 ON e1.obj_qid = e2.subj_qid
  WHERE e1.subj_qid <> e2.obj_qid
)""",
        """rmined AS (
  SELECT s.r1, s.r2, s.r3, s.support, t.n_body,
         round(s.support * 1.0 / t.n_body, 6) AS confidence
  FROM (
    SELECT b.r1, b.r2, e.rel AS r3, CAST(count(*) AS BIGINT) AS support
    FROM bind b JOIN redges e ON e.subj_qid = b.a AND e.obj_qid = b.c
    GROUP BY b.r1, b.r2, e.rel
    HAVING count(*) >= 2
  ) s JOIN (
    SELECT r1, r2, CAST(count(*) AS BIGINT) AS n_body
    FROM bind GROUP BY r1, r2
  ) t ON s.r1 = t.r1 AND s.r2 = t.r2
)""",
    )
    d["kg_rule_mine"] = O.with_ctes(
        *O.BASE,
        *_rule_ctes,
        final="SELECT r1, r2, r3, support, n_body, confidence FROM rmined",
    )
    d["kg_rule_apply"] = O.with_ctes(
        *O.BASE,
        *_rule_ctes,
        """rprop AS (
  SELECT b.a AS subj_qid, k.r3 AS rel, b.c AS obj_qid, k.confidence
  FROM bind b JOIN (SELECT r1, r2, r3, confidence FROM rmined
                    WHERE confidence >= 0.02) k
    ON b.r1 = k.r1 AND b.r2 = k.r2
)""",
        final="""SELECT subj_qid, rel, obj_qid,
       CAST(count(*) AS BIGINT) AS n_rules,
       round(max(confidence), 6) AS confidence
FROM rprop p
WHERE NOT EXISTS (
  SELECT 1 FROM redges e
  WHERE e.subj_qid = p.subj_qid AND e.rel = p.rel AND e.obj_qid = p.obj_qid
)
GROUP BY subj_qid, rel, obj_qid""",
    )
    d["kg_proposals"] = O.with_ctes(
        *O.BASE,
        O.MENTIONS,
        O.LINKED,
        *_pairs_cte,
        """
kept AS (
  SELECT pattern, rel, precision FROM mined
  WHERE support >= 2 AND precision >= 0.05
)""",
        """
pprop AS (
  SELECT p.qid1 AS subj_qid, k.rel, p.qid2 AS obj_qid, k.precision
  FROM pairs p JOIN kept k USING (pattern)
)""",
        *_rule_ctes,
        """rprop AS (
  SELECT b.a AS subj_qid, k.r3 AS rel, b.c AS obj_qid, k.confidence
  FROM bind b JOIN (SELECT r1, r2, r3, confidence FROM rmined
                    WHERE confidence >= 0.02) k
    ON b.r1 = k.r1 AND b.r2 = k.r2
)""",
        final="""SELECT subj_qid, rel, obj_qid, confidence, 'pattern' AS via FROM (
  SELECT subj_qid, rel, obj_qid, round(max(precision), 6) AS confidence
  FROM pprop p
  WHERE NOT EXISTS (
    SELECT 1 FROM kg_relations k
    WHERE k.subj_qid = p.subj_qid AND k.rel = p.rel AND k.obj_qid = p.obj_qid
  )
  GROUP BY subj_qid, rel, obj_qid
)
UNION ALL
SELECT subj_qid, rel, obj_qid, confidence, 'rule' AS via FROM (
  SELECT subj_qid, rel, obj_qid, round(max(confidence), 6) AS confidence
  FROM rprop p
  WHERE NOT EXISTS (
    SELECT 1 FROM redges e
    WHERE e.subj_qid = p.subj_qid AND e.rel = p.rel AND e.obj_qid = p.obj_qid
  )
  GROUP BY subj_qid, rel, obj_qid
)""",
    )
    # ER: blocking + 3-gram Jaccard verify + recursive closure (the
    # kg_components technique for the component oracle)
    _lnrm_name = lnrm_ascii_sql("name")
    _g = (
        "CASE WHEN len({n}) < 3 THEN [{n}] ELSE list_distinct("
        "[substr({n}, CAST(i AS INT), 3) for i in range(1, len({n})-1)]) END"
    )
    d["entity_resolve"] = (
        "WITH RECURSIVE "
        + ",".join(O.BASE)
        + f""",
recs AS (
  SELECT qid || '#0' AS rec_id, title AS name FROM entities
  UNION ALL
  SELECT qid || '#1' AS rec_id, upper(title) || ' .' AS name
  FROM entities WHERE qnum % 5 = 0
),
blocked AS (
  SELECT rec_id, {_lnrm_name} AS norm,
         string_split({_lnrm_name}, ' ')[1] AS block
  FROM recs
),
pairs AS (
  SELECT a.rec_id AS id1, a.norm AS norm1, b.rec_id AS id2, b.norm AS norm2
  FROM blocked a JOIN blocked b ON a.block = b.block AND a.rec_id < b.rec_id
),
sets AS (
  SELECT id1, id2,
         {_g.format(n='norm1')} AS s1,
         {_g.format(n='norm2')} AS s2
  FROM pairs
),
ver AS (
  SELECT id1, id2 FROM (
    SELECT id1, id2, len(s1) AS n1, len(s2) AS n2,
           len(list_distinct(list_concat(s1, s2))) AS nu
    FROM sets
  ) WHERE round((n1 + n2 - nu) * 1.0 / nu, 6) >= 0.8
),
ue AS (SELECT id1 AS s, id2 AS o FROM ver UNION SELECT id2, id1 FROM ver),
reach AS (
  SELECT q, q AS r FROM (SELECT s AS q FROM ue UNION SELECT o FROM ue)
  UNION
  SELECT reach.q, ue.o FROM reach JOIN ue ON ue.s = reach.r
),
comp AS (SELECT q AS rec_id, MIN(r) AS canon FROM reach GROUP BY q)
SELECT b.rec_id, COALESCE(c.canon, b.rec_id) AS canon
FROM blocked b LEFT JOIN comp c USING (rec_id)"""
    )
    # UPDATE = CASE WHEN over the matched band
    d["table_update"] = """
SELECT doc_id, lang,
       CASE WHEN doc_id BETWEEN 50 AND 149
            THEN 'REDACTED-' || CAST(doc_id AS VARCHAR)
            ELSE text END AS text
FROM documents"""
    return d
