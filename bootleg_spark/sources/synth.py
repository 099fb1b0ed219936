"""Deterministic synthesis of the pipeline inputs from the driver's
``documents`` parquet (TESTDATA.md): the ``pages`` web table and the
Bootleg-style entity-profile dimension tables.

All derivations are pure DataFrame expressions (whole-stage codegen,
no Python) and are mirrored formula-for-formula in the DuckDB oracle
(``bootleg_spark.oracle``). Formulas/constants live in
``bootleg_spark.synthspec``.

Reference shapes being synthesized:
- pages: BASELINE.json input_hint (url, warc_ts, html, text, lang)
- alias→candidates: bootleg/symbols/entity_symbols.py:19-69 (scored,
  sorted (score desc, id desc), truncated to max_candidates :305-316)
- types: bootleg/symbols/type_symbols.py:28-98
- KG relations: bootleg/symbols/kg_symbols.py:33-110
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bootleg_spark import synthspec as S
from bootleg_spark.functions.textproc import STOP_WORDS


# One entry per (session, sf_dir, file): the fanned scan (fan_scan's
# partition probe plans it once, not on every query build); the
# documents entry also holds its dims once built (and the driver
# contract's KgPipeline, under "pipe"). Valid while the file keeps its
# modification time
_SCANS: dict[tuple[int, str, str], dict] = {}

# fan_scan's hash key (a stable high-cardinality id) per scanned file
_SCAN_KEYS = {"documents.parquet": "doc_id", "events.parquet": "event_id", "embeddings.parquet": "vec_id"}


def _scan_entry(spark: SparkSession, sf_dir: str, name: str = "documents.parquet") -> dict:
    """The cache entry for (session, sf_dir, name), rebuilt when the file
    was rewritten since it was cached. The stamp is the path's
    modification time read through the Hadoop FS, so any URI scheme
    works (``os.path`` would see only local paths); the replaced entry's
    cached dims are unpersisted."""
    from bootleg_spark.session import fan_scan

    path = f"{sf_dir}/{name}"
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stamp = fs.getFileStatus(p).getModificationTime() if fs.exists(p) else None
    key = (id(spark), sf_dir, name)
    entry = _SCANS.get(key)
    if entry is None or entry["stamp"] != stamp:
        if entry is not None:
            for df in (entry["dims"] or {}).values():
                df.unpersist()
        scan = fan_scan(spark.read.parquet(path), key_cols=(_SCAN_KEYS[name],))
        entry = _SCANS[key] = {"stamp": stamp, "scan": scan, "dims": None}
    return entry


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan_entry(spark, sf_dir)["scan"]


def pages_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the web-pages table (url, warc_ts, html, text, lang).

    ``html`` wraps ``text`` in a fixed boilerplate template (nav, style,
    script, footer) rendered JVM-side; the extractor must recover
    ``text`` byte-identically (north_rule per-row invariant).
    """
    d = read_documents(spark, sf_dir)
    html_str = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{margin:0}</style></head><body><nav>home | about</nav><p>"),
        F.col("text"),
        F.lit("</p><script>var v="),
        F.col("doc_id").cast("string"),
        F.lit(";</script><footer>copyright example.org</footer></body></html>"),
    )
    return d.select(
        F.concat(F.lit(S.URL_PREFIX), F.col("lang"), F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(S.BASE_EPOCH) + F.col("doc_id")).alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),  # lineage convenience at test scale
    )


def words_table(docs: DataFrame) -> DataFrame:
    """(doc_id, mention_pos, word) via posexplode(split) — codegen-only."""
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("mention_pos", "word")
    )


def alias_vocab(docs: DataFrame) -> DataFrame:
    """Alias dimension: distinct non-stopword, non-numeric corpus words.

    alias_id is a dense 1-based id by alphabetical order (stands in for
    the reference's VocabularyTrie external ids,
    nested_vocab_tries.py:92-193).
    """
    from bootleg_spark.operators.ids import dense_ids

    w = words_table(docs)
    vocab = (
        w.select(F.col("word").alias("alias"))
        .where(
            (F.length("alias") >= 2)
            & (~F.col("alias").isin(*sorted(STOP_WORDS)))
            & (~F.col("alias").rlike("^[0-9]+$"))
        )
        .distinct()
    )
    # two-phase distributed numbering (ids.dense_ids): same ids as a
    # global row_number() window but no single-partition Exchange — at
    # web-vocab scale (10^8 aliases) the global window is a one-task wall
    return dense_ids(vocab, "alias", id_col="alias_id", start=1)


def entities_dim(aliases: DataFrame) -> DataFrame:
    """Entity dimension: N_VARIANTS entities per alias.

    (qid, qnum, eid, alias, alias_id, variant, score, type_name, title,
    descr). eid = qnum ≥ 3, preserving the reference's reserved rows
    eid 0 = "not in candidates", eid 1 = PAD
    (entity_symbols.py:43-69; eval_utils.py:90-114).
    """
    v = F.explode(F.array(*[F.lit(i) for i in range(S.N_VARIANTS)])).alias("variant")
    e = aliases.select("alias", "alias_id", v)
    qnum = (F.col("alias_id") * S.N_VARIANTS + F.col("variant")).cast("long")
    score = (
        (F.col("alias_id") * S.SCORE_MULT_ALIAS + F.col("variant") * S.SCORE_MULT_VARIANT)
        % S.SCORE_MOD
    ).cast("double")
    type_name = (
        F.when(F.col("variant") == 0, S.TYPE_NAMES[0])
        .when(F.col("variant") == 1, S.TYPE_NAMES[1])
        .otherwise(S.TYPE_NAMES[2])
    )
    return e.select(
        F.concat(F.lit("Q"), qnum.cast("string")).alias("qid"),
        qnum.alias("qnum"),
        qnum.alias("eid"),
        "alias",
        "alias_id",
        F.col("variant").cast("int"),
        score.alias("score"),
        type_name.alias("type_name"),
        F.concat(F.col("alias"), F.lit(" ("), type_name, F.lit(")")).alias("title"),
        F.concat(
            F.lit("entity for "), F.col("alias"), F.lit(" variant "), F.col("variant").cast("string")
        ).alias("descr"),
    )


def alias_cands(entities: DataFrame) -> DataFrame:
    """Per-alias candidate list, sorted (score desc, qnum desc), truncated
    to S.MAX_CANDIDATES with 1-based rank (entity_symbols.py:305-316)."""
    w = Window.partitionBy("alias").orderBy(F.desc("score"), F.desc("qnum"))
    return (
        entities.select("alias", "qid", "qnum", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= S.MAX_CANDIDATES)
    )


def kg_relations(entities: DataFrame) -> DataFrame:
    """KG relation dim (subj_qid, rel, obj_qid) — also the output-triple
    schema (kg_symbols.py:33-110).

    Edges are alias-targeted: each entity k points at a deterministic
    target alias and carries one edge per target *variant*, so a scorer's
    context-dependent variant pick on the object side always finds an
    edge (synthspec.KG_EDGES)."""
    n_aliases = entities.select((F.countDistinct("alias_id")).alias("n"))
    e = entities.select("qid", "qnum").crossJoin(F.broadcast(n_aliases))
    edges = []
    for a, b in S.KG_EDGES:
        target_alias = F.lit(1) + (F.col("qnum") * a + b) % F.col("n")
        for v2 in range(S.N_VARIANTS):
            obj_num = (target_alias * S.N_VARIANTS + v2).cast("long")
            rel = (
                F.when((F.col("qnum") + v2) % 3 == 0, S.REL_NAMES[0])
                .when((F.col("qnum") + v2) % 3 == 1, S.REL_NAMES[1])
                .otherwise(S.REL_NAMES[2])
            )
            edges.append(
                e.select(
                    F.col("qid").alias("subj_qid"),
                    rel.alias("rel"),
                    F.concat(F.lit("Q"), obj_num.cast("string")).alias("obj_qid"),
                    F.col("qnum").alias("subj_qnum"),
                    obj_num.alias("obj_qnum"),
                ).where(obj_num != F.col("qnum"))
            )
    out = edges[0]
    for x in edges[1:]:
        out = out.unionByName(x)
    return out.dropDuplicates(["subj_qid", "rel", "obj_qid"])


def redirects_dim(entities: DataFrame) -> DataFrame:
    """Deterministic redirect map (src_qid, dst_qid) standing in for a
    Wikidata redirect dump: for every third alias (alias_id % 3 == 0)
    the non-zero variants redirect one variant down — Q(3a+2) → Q(3a+1)
    → Q(3a) — giving CHAINED redirects whose resolution
    (operators.canonical.resolve_redirects) must follow two hops, not
    one. Mirrored formula-for-formula in oracle.REDIRECTS."""
    return entities.where(
        (F.col("alias_id") % 3 == 0) & (F.col("variant") > 0)
    ).select(
        F.col("qid").alias("src_qid"),
        F.concat(F.lit("Q"), (F.col("qnum") - 1).cast("string")).alias("dst_qid"),
    )


def synthetic_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile-shaped frame in the reference's raw-JSONL schema
    (entity_profile.py:158-169), derived deterministically from the
    corpus dims — the fixture the driver gate uses to oracle-check the
    profile → dim-table ingestion path (sources/profile.py).

    Each entity carries one mention [alias, score], a two-system types
    dict (wiki: 1 name; hyena: 3 names so max_types truncation is
    observable), and its KG edges ordered (rel, obj_qnum)."""
    from bootleg_spark.sources.profile import PROFILE_SCHEMA

    dims = build_dims(spark, sf_dir)
    e = dims["entities"]
    kg = dims["kg_relations"]
    rel_agg = (
        kg.groupBy("subj_qid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("rel"), F.col("obj_qnum"), F.col("obj_qid")))
            ).alias("rs")
        )
        .select(
            "subj_qid",
            F.transform(
                "rs",
                lambda x: F.struct(x["rel"].alias("relation"), x["obj_qid"].alias("object")),
            ).alias("relations"),
        )
    )
    return e.join(rel_agg, e["qid"] == rel_agg["subj_qid"], "left").select(
        e["qid"].alias("entity_id"),
        F.array(F.array(e["alias"], e["score"].cast("string"))).alias("mentions"),
        e["title"],
        e["descr"].alias("description"),
        F.create_map(
            F.lit("wiki"),
            F.array(e["type_name"]),
            F.lit("hyena"),
            F.array(e["type_name"], F.lit("generic"), F.lit("thing")),
        ).alias("types"),
        F.coalesce(
            "relations", F.array().cast(PROFILE_SCHEMA["relations"].dataType)
        ).alias("relations"),
        F.lit(None).cast("string").alias("_corrupt"),
    )


def build_dims(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All dimension tables for an sf dir (small → broadcast at join time).

    Cached + persisted per (session, sf_dir) until ``documents.parquet``
    is rewritten: the dims are the pipeline's static entity profile —
    built once, reused by every downstream query (the reference mmaps
    them once per worker; we ``.cache()`` once per executor)."""
    entry = _scan_entry(spark, sf_dir)
    if entry["dims"] is None:
        docs = entry["scan"]
        aliases = alias_vocab(docs).cache()
        ents = entities_dim(aliases).cache()
        entry["dims"] = {
            "documents": docs,
            "aliases": aliases,
            "entities": ents,
            "alias_cands": alias_cands(ents).cache(),
            "kg_relations": kg_relations(ents).cache(),
        }
    return entry["dims"]
