"""Entity linking: pick one QID per mention.

Two scorers, both emitting (.., qid_pred, prob):

- :func:`link_popularity` — the reference's popularity baseline
  (``acc_pop``, bootleg/scorer.py:81-102): top-ranked candidate wins.
  Pure relational → SQL-oracle-checkable.

- :func:`link_neural` — the biencoder-shaped scorer: per mention,
  context window (dataset.py:173-224) is encoded and dot-producted
  against the K candidates' static entity embeddings, masked softmax,
  argmax + threshold (ned_task.py:25-46, bootleg_annotator.py:538-625).
  Runs as ONE Arrow-batched pandas UDF with the entity-embedding matrix
  broadcast (static_entity_embeddings.py:10-36 fast path) — per-mention
  compute is embarrassingly parallel, no shuffle at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from bootleg_spark import synthspec as S
from bootleg_spark.functions.embedding import featurize_texts, link_candidates
from bootleg_spark.functions.textproc import (
    EntityStringConstants,
    build_entity_string,
    extract_context,
)


def link_popularity(mention_cands: DataFrame) -> DataFrame:
    """Top-ranked candidate per mention (rank-1 slot of the padded arrays)."""
    return mention_cands.withColumn("qid_pred", F.element_at("cand_qids", 1)).where(
        F.col("qid_pred") != "-1"
    )


# ---------------------------------------------------------------------------
# Entity strings + static embeddings (one-time dim job)
# ---------------------------------------------------------------------------

def entity_strings(
    entities: DataFrame,
    kg_rel: DataFrame,
    entity_types: DataFrame | None = None,
    type_system: str | None = None,
    constants: EntityStringConstants | None = None,
    with_title_spans: bool = False,
) -> DataFrame:
    """(qid, eid, ent_str): the textual entity representation
    "title [ent_type] t.. [ent_kg] rel tail_title .. [ent_desc] desc"
    (dataset.py:251-337), built relationally + a vectorized UDF for the
    budget-truncation loop.

    ``entity_types`` is an optional multi-system type dim
    (qid, type_system, typenames) from
    :mod:`bootleg_spark.sources.profile`; ``type_system`` selects the
    NAMED system whose (already max_types-truncated) list feeds the
    [ent_type] section — the reference configures exactly one system
    per run via its type_symbols dir (dataset.py:116-130,
    type_symbols.py:28-98). Without it, the entity dim's single
    ``type_name`` column is used (round-1 behavior).

    KG items are "rel tail_title" in (rel, obj_qnum) order — the
    reference iterates its relation dict in insertion order
    (dataset.py:285-295); we fix a deterministic order instead.
    """
    titles = entities.select(F.col("qid").alias("obj_qid"), F.col("title").alias("obj_title"))
    kg_items = (
        kg_rel.join(F.broadcast(titles), "obj_qid")
        .groupBy(F.col("subj_qid").alias("qid"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rel", "obj_qnum", "obj_title"))
            ).alias("kg")
        )
        .select(
            "qid",
            F.transform("kg", lambda x: F.concat(x["rel"], F.lit(" "), x["obj_title"])).alias(
                "kg_items"
            ),
        )
    )
    consts = constants or EntityStringConstants(
        max_ent_kg_len=S.MAX_ENT_KG_LEN, max_ent_type_len=S.MAX_ENT_TYPE_LEN
    )

    from pyspark.sql.types import IntegerType

    _STR_SPANS = StructType(
        [
            StructField("ent_str", StringType()),
            StructField("title_spans", ArrayType(IntegerType())),
        ]
    )

    def _build(title, descr, typenames, kg):
        strs, spans = [], []
        for t, d, tys, k in zip(title, descr, typenames, kg):
            items = list(k) if k is not None else []
            tylist = [x for x in (tys if tys is not None else []) if x]
            s, sp, _, _ = build_entity_string(t or "", d, tylist, items, consts)
            strs.append(s)
            spans.append([int(x) for x in sp])
        return strs, spans

    @F.pandas_udf(StringType())
    def _ent_str(
        title: pd.Series, descr: pd.Series, typenames: pd.Series, kg: pd.Series
    ) -> pd.Series:
        strs, _ = _build(title, descr, typenames, kg)
        return pd.Series(strs)

    @F.pandas_udf(_STR_SPANS)
    def _ent_str_spans(
        title: pd.Series, descr: pd.Series, typenames: pd.Series, kg: pd.Series
    ) -> pd.DataFrame:
        strs, spans = _build(title, descr, typenames, kg)
        return pd.DataFrame({"ent_str": strs, "title_spans": spans})

    joined = entities.join(F.broadcast(kg_items), "qid", "left").withColumn(
        "kg_items", F.coalesce("kg_items", F.array())
    )
    if entity_types is not None:
        tdim = entity_types
        if type_system is not None:
            tdim = tdim.where(F.col("type_system") == type_system)
        else:
            # guard an easy misuse: joining a multi-system dim without
            # naming a system would emit one duplicate entity-string row
            # per type system per qid (round-2 advice). The reference
            # configures exactly ONE system per run (dataset.py:116-130).
            systems = [r[0] for r in tdim.select("type_system").distinct().limit(2).collect()]
            if len(systems) > 1:
                raise ValueError(
                    "entity_types carries multiple type systems; pass "
                    "type_system=<name> to select one (the reference runs "
                    "one system per run)"
                )
        joined = joined.join(
            F.broadcast(tdim.select("qid", "typenames")), "qid", "left"
        ).withColumn("typenames", F.coalesce("typenames", F.array().cast("array<string>")))
    else:
        joined = joined.withColumn("typenames", F.array(F.col("type_name")))
    if with_title_spans:
        return joined.select(
            "qid", "eid", "alias",
            _ent_str_spans("title", "descr", "typenames", "kg_items").alias("_s"),
        ).select(
            "qid", "eid", "alias", F.col("_s.ent_str").alias("ent_str"),
            F.col("_s.title_spans").alias("title_spans"),
        )
    return joined.select(
        "qid",
        "eid",
        "alias",
        _ent_str("title", "descr", "typenames", "kg_items").alias("ent_str"),
    )


def build_entity_embeddings(
    ent_strs: DataFrame, dim: int = S.EMB_DIM, encoder=None
) -> DataFrame:
    """(qid, eid, emb array<double>): entity encodings — the Spark
    analogue of extract_all_entities.py:136-211 (one-time forward pass
    over all entities producing the static matrix).

    ``encoder`` is any ``(texts, dim) -> (B, dim) ndarray`` callable
    (default: the feature-hash stand-in; a torch/ONNX BERT or
    :func:`bootleg_spark.functions.embedding.make_mlp_encoder` slots in
    with no plan change — it ships to executors via the UDF closure)."""
    enc = encoder or featurize_texts

    @F.pandas_udf(ArrayType(DoubleType()))
    def _embed(texts: pd.Series) -> pd.Series:
        mat = enc([t or "" for t in texts], dim)
        return pd.Series(list(mat))

    return ent_strs.select("qid", "eid", _embed("ent_str").alias("emb"))


def broadcast_entity_matrix(spark: SparkSession, emb_df: DataFrame):
    """Collect the (small-dim) embedding table and broadcast it as
    (qid→row, matrix) — the reference mmaps this across pool workers
    (static_entity_embeddings.py:10-36); broadcast is Spark's equivalent.
    At 5.8M × 64 float32 (~1.5 GB) this still broadcasts; beyond that,
    ship the matrix via ``spark-submit --files`` + executor-local mmap.
    """
    rows = emb_df.select("qid", "emb").collect()
    qid2row = {r["qid"]: i for i, r in enumerate(rows)}
    mat = np.array([r["emb"] for r in rows], dtype=np.float64)
    return spark.sparkContext.broadcast((qid2row, mat))


# ---------------------------------------------------------------------------
# Neural scoring UDF
# ---------------------------------------------------------------------------

_SCORE_SCHEMA = StructType(
    [
        StructField("qid_pred", StringType()),
        StructField("prob", DoubleType()),
        StructField("cand_probs", ArrayType(DoubleType())),
    ]
)


def link_neural(
    mention_cands: DataFrame,
    ent_matrix_bc,
    text_col: str = "text",
    dim: int = S.EMB_DIM,
    max_seq_window_len: int = S.MAX_SEQ_WINDOW_LEN,
    threshold: float = S.PROB_THRESHOLD,
    encoder=None,
) -> DataFrame:
    """Score candidates with the broadcast static entity matrix.

    Input needs (text, char_start, char_end, cand_qids). Entire batch is
    vectorized: context featurization + einsum dot + masked softmax
    (link_candidates, shared with the fused kernel). Mentions whose top
    prob ≤ threshold are dropped (bootleg_annotator.py:602-625). ``encoder`` must match the one used
    to build the entity matrix (see :func:`build_entity_embeddings`).
    """
    enc = encoder or featurize_texts

    @F.pandas_udf(_SCORE_SCHEMA)
    def _score(
        text: pd.Series, cs: pd.Series, ce: pd.Series, cand_qids: pd.Series
    ) -> pd.DataFrame:
        qid2row, mat = ent_matrix_bc.value
        n = len(text)
        if n == 0:
            return pd.DataFrame({"qid_pred": [], "prob": [], "cand_probs": []})
        contexts = [
            extract_context((int(a), int(b)), t or "", max_seq_window_len)
            for t, a, b in zip(text, cs, ce)
        ]
        qlists = [list(c) for c in cand_qids]
        qid_pred, top, probs = link_candidates(enc(contexts, dim), qlists, qid2row, mat)
        return pd.DataFrame(
            {
                "qid_pred": qid_pred,
                "prob": top,
                "cand_probs": [probs[i, : len(qlists[i])].tolist() for i in range(n)],
            }
        )

    scored = mention_cands.withColumn(
        "_s", _score(F.col(text_col), F.col("char_start"), F.col("char_end"), F.col("cand_qids"))
    )
    return (
        scored.select("*", "_s.qid_pred", "_s.prob", "_s.cand_probs")
        .drop("_s")
        .where((F.col("qid_pred") != "-1") & (F.col("prob") > F.lit(threshold)))
    )
