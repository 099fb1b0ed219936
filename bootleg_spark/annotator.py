"""User-facing annotator facade — API parity with the reference's
``BootlegAnnotator.label_mentions`` (bootleg/end2end/
bootleg_annotator.py:338-362), backed by the distributed pipeline.

A user of the reference calls::

    ann = BootlegAnnotator(...)
    out = ann.label_mentions(["some text ..."])
    out["qids"], out["probs"], out["titles"], out["cands"],
    out["cand_probs"], out["char_spans"], out["aliases"]

Here the same call shape runs the Spark plan (ngram extraction →
candidate attach → neural scoring) over however many texts you pass —
one text or a billion rows behave identically, because the facade just
builds a DataFrame and runs KgPipeline's staged operators. The per-key
output lists are parallel per text, mention-ordered, exactly the
reference's return contract (threshold-dropped mentions removed, as
bootleg_annotator.py:602-625 does).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bootleg_spark import synthspec as S
from bootleg_spark.operators.candidates import attach_candidates
from bootleg_spark.operators.linking import link_neural, link_popularity
from bootleg_spark.operators.mentions import extract_mentions_ngram
from bootleg_spark.plans.pipeline import KgPipeline


class SparkAnnotator:
    """label_mentions() parity over a :class:`KgPipeline`'s dims."""

    def __init__(self, pipe: KgPipeline, scorer: str = "neural",
                 threshold: float = S.PROB_THRESHOLD):
        self.pipe = pipe
        self.scorer = scorer
        self.threshold = threshold
        self._titles = {
            r["qid"]: r["title"]
            for r in pipe.dims["entities"].select("qid", "title").collect()
        }

    def label_frame(self, texts_df, text_col: str = "text", id_col: str = "_txt_id"):
        """DataFrame-in / DataFrame-out form (the scale path): one row
        per surviving mention with prediction columns."""
        pipe = self.pipe
        m = extract_mentions_ngram(texts_df, pipe.alias_set_bc, text_col=text_col)
        mc = attach_candidates(m, pipe.dims["alias_cands"], grouped=pipe.grouped_cands)
        if self.scorer == "neural":
            return link_neural(
                mc, pipe.ent_matrix_bc, text_col=text_col, threshold=self.threshold
            )
        # popularity baseline: rank-1 candidate, probability fixed at 1.0
        return link_popularity(mc).withColumn("prob", F.lit(1.0))

    def label_mentions(self, text_list) -> dict:
        """Reference return contract: dict of parallel per-text lists
        (qids, probs, titles, cands, cand_probs, char_spans, aliases).

        DRIVER-MATERIALIZING convenience (``collect()`` inside),
        mirroring the interactive ``BootlegAnnotator.label_mentions``
        which returns plain dicts — do NOT put this in a batch job:
        every mention row lands in driver memory. Bulk callers use
        :meth:`label_frame` (DataFrame-in/out, no collect) or
        ``KgPipeline.linked()`` / ``linked_fused()`` (the one fused
        linking kernel) and keep the result distributed."""
        if isinstance(text_list, str):
            text_list = [text_list]
        spark = self.pipe.spark
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(text_list)], "_txt_id long, text string"
        )
        cols = ["_txt_id", "mention_pos", "alias", "char_start", "char_end",
                "qid_pred", "prob", "cand_qids"]
        extra = ["cand_probs"] if self.scorer == "neural" else []
        rows = self.label_frame(df).select(*cols, *extra).collect()
        by_txt: dict[int, list] = {i: [] for i in range(len(text_list))}
        for r in rows:
            by_txt[r["_txt_id"]].append(r)
        out = {k: [] for k in
               ("qids", "probs", "titles", "cands", "cand_probs", "char_spans", "aliases")}
        for i in range(len(text_list)):
            ms = sorted(by_txt[i], key=lambda r: r["mention_pos"])
            out["qids"].append([r["qid_pred"] for r in ms])
            out["probs"].append([round(float(r["prob"]), 6) if "prob" in r.asDict() else 1.0 for r in ms])
            out["titles"].append([self._titles.get(r["qid_pred"], "") for r in ms])
            out["cands"].append([[q for q in r["cand_qids"] if q != "-1"] for r in ms])
            out["cand_probs"].append(
                [
                    [round(float(p), 6) for p in (r["cand_probs"] or [])]
                    if "cand_probs" in r.asDict()
                    else []
                    for r in ms
                ]
            )
            out["char_spans"].append([[int(r["char_start"]), int(r["char_end"])] for r in ms])
            out["aliases"].append([r["alias"] for r in ms])
        return out
