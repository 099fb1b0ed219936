"""Entity-profile JSONL ingestion — the reference's entry point for
user-supplied entity metadata, re-expressed as Spark reads + relational
explodes.

Reference semantics (all re-implemented, none copied):
- format + pydantic schema: bootleg/symbols/entity_profile.py:25-33
  (EntityObj) and :146-204 (load_from_jsonl; format example :158-169);
- required keys ``entity_id``/``mentions``, defaults title=entity_id,
  description="" (:225-240); duplicate entity_id is an error (:241-242);
- alias keys are get_lnrm-normalized mentions (:246-249);
- candidate lists sorted (score desc, qid desc) and truncated to
  max_candidates (entity_symbols.py:305-316 via :93-96);
- eids are dense 1-based ids, 0/-1 reserved (entity_symbols.py:43-45).
  The reference numbers by *file insertion order*; the default reader
  numbers by sorted entity_id (order-free, one fewer pass). For exact
  insertion-order parity — outputs joinable against reference-produced
  eids — use :func:`read_profile_jsonl_ordered` +
  ``profile_entities(order="file")``: line numbers come from
  ``zipWithIndex`` over the text RDD, whose partition order follows the
  Hadoop input splits (file, then byte offset), i.e. the file order the
  reference enumerates in;
- per-system type lists truncated to max_types preserving list order
  (type_symbols.py:60-65);
- per-(qid, relation) object lists truncated to max_connections
  preserving list order (kg_symbols.py:70-81).

Every transformation is a pure DataFrame plan: ``spark.read.json`` with
an explicit schema (no sampling pass), posexplode for order-preserving
truncation, map_entries for the type-system dict. The only Python is
the Arrow-batched lnrm UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from bootleg_spark.functions.lnrm import lnrm_udf

# Explicit schema: no inference pass over the data (at 100 TB an
# inference scan would double the read), stable column types regardless
# of which keys appear in the first partition.
# ``mentions`` is JSON [["dog", 10.0], ...] — heterogeneous inner
# arrays; read as array<array<string>> (Spark's JSON parser renders the
# number token as its literal string) and cast the score on explode.
PROFILE_SCHEMA = StructType(
    [
        StructField("entity_id", StringType()),
        StructField("mentions", ArrayType(ArrayType(StringType()))),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("types", MapType(StringType(), ArrayType(StringType()))),
        StructField(
            "relations",
            ArrayType(
                StructType(
                    [
                        StructField("relation", StringType()),
                        StructField("object", StringType()),
                    ]
                )
            ),
        ),
        StructField("_corrupt", StringType()),
    ]
)


def _apply_profile_defaults(df: DataFrame, *extra_cols: str) -> DataFrame:
    """The reference's missing-key defaults (entity_profile.py:225-240):
    title=entity_id, description='', empty types map / relations list.
    ONE definition shared by both readers — a new optional field or a
    changed default must not be able to diverge between them."""
    return df.select(
        "entity_id",
        "mentions",
        F.coalesce("title", "entity_id").alias("title"),
        F.coalesce("description", F.lit("")).alias("description"),
        F.coalesce("types", F.create_map().cast(PROFILE_SCHEMA["types"].dataType)).alias("types"),
        F.coalesce(
            "relations", F.array().cast(PROFILE_SCHEMA["relations"].dataType)
        ).alias("relations"),
        "_corrupt",
        *extra_cols,
    )


def read_profile_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read a raw entity-profile JSONL file (entity_profile.py:146-204).

    Missing optional keys get the reference defaults (title=entity_id,
    description=''); malformed JSON lines land in ``_corrupt`` for
    :func:`validate_profile` instead of failing the whole read.
    """
    from bootleg_spark.sources.jsonl import read_jsonl_with_corrupt

    return _apply_profile_defaults(read_jsonl_with_corrupt(spark, path, PROFILE_SCHEMA))


def _enumerate_input_files(sc, path: str) -> list[str]:
    """Expand ``path`` (file, directory, or glob) into an explicit
    sorted list of data files via the Hadoop FS API. Hadoop's
    ``listStatus`` enumeration order is filesystem-dependent (NOT
    guaranteed sorted), so anything that assigns meaning to cross-file
    order must pin the order itself (round-3 advice)."""
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    statuses = fs.globStatus(hpath)
    if statuses is None or len(statuses) == 0:
        raise FileNotFoundError(path)
    if len(statuses) == 1 and statuses[0].isFile():
        # an explicitly named single file is honored verbatim, hidden
        # prefix or not — the user asked for exactly that file
        return [str(statuses[0].getPath())]
    out = []
    for st in statuses:
        if st.isDirectory():
            for child in fs.listStatus(st.getPath()):
                name = child.getPath().getName()
                if child.isFile() and not name.startswith(("_", ".")):
                    out.append(str(child.getPath()))
        elif not st.getPath().getName().startswith(("_", ".")):
            # same hidden-file rule in the glob branch: Hadoop's input
            # format would have skipped _SUCCESS/_committed markers
            # matched by a 'dir/*' glob, and counting their lines would
            # silently shift every downstream _line_no/eid
            out.append(str(st.getPath()))
    if not out:
        raise FileNotFoundError(
            f"{path}: matches only hidden/marker files (_/. prefixed)"
        )
    return sorted(out)


def read_profile_jsonl_ordered(spark: SparkSession, path: str) -> DataFrame:
    """:func:`read_profile_jsonl` plus a ``_line_no`` column carrying the
    file insertion order, for exact eid parity with the reference's
    enumeration (entity_symbols.py:43-47 numbers eids in file order).

    Files matching ``path`` are enumerated explicitly in sorted-path
    order and numbered per file with a cumulative rank offset, so a
    multi-file profile gets the same ``_line_no`` sequence a sequential
    reader concatenating the sorted files would produce — a bare
    ``textFile(glob)`` would inherit Hadoop's unguaranteed listStatus
    order (round-3 advice). In the multi-file branch each RAW text RDD
    is cached BEFORE ``zipWithIndex`` (whose internal size job is the
    first read and populates the cache), the offset counts and the
    union read the cache, and the parsed result is materialized
    eagerly so the raw caches can be unpersisted deterministically —
    one disk read per file total, and no RDD storage pinned after the
    load. Eager materialization is the right trade for what this is: a
    one-time ordered dim load."""
    from bootleg_spark.sources.jsonl import parse_json_lines

    sc = spark.sparkContext
    files = _enumerate_input_files(sc, path)
    raws = []
    if len(files) == 1:
        lines = sc.textFile(files[0]).zipWithIndex()
    else:
        raws = [sc.textFile(f).cache() for f in files]
        offsets = []
        total = 0
        for rdd in raws:
            offsets.append(total)
            total += rdd.count()
        lines = sc.union(
            [
                rdd.zipWithIndex().map(lambda kv, off=off: (kv[0], kv[1] + off))
                for rdd, off in zip(raws, offsets)
            ]
        )
    raw = spark.createDataFrame(lines, "value string, _line_no long")
    out = _apply_profile_defaults(
        parse_json_lines(raw, PROFILE_SCHEMA, keep_cols=("_line_no",)), "_line_no"
    )
    if raws:
        out = out.cache()
        out.count()  # materialize off the raw caches, then release them
        for rdd in raws:
            rdd.unpersist()
    return out


def validate_profile(profile: DataFrame) -> DataFrame:
    """(entity_id, error) rows for every contract violation the
    reference raises on (entity_profile.py:225-242): malformed JSON,
    missing required keys, duplicate entity_id, malformed relation
    pairs (null relation/object after schema projection)."""
    corrupt = profile.where(F.col("_corrupt").isNotNull()).select(
        F.col("entity_id"), F.lit("malformed json line").alias("error")
    )
    missing = profile.where(
        F.col("_corrupt").isNull()
        & (F.col("entity_id").isNull() | F.col("mentions").isNull())
    ).select("entity_id", F.lit("missing required key (entity_id/mentions)").alias("error"))
    dupes = (
        profile.where(F.col("entity_id").isNotNull())
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("entity_id", F.lit("duplicate entity_id").alias("error"))
    )
    bad_rel = (
        profile.select("entity_id", F.explode("relations").alias("r"))
        .where(F.col("r.relation").isNull() | F.col("r.object").isNull())
        .select("entity_id", F.lit("relation pair missing relation/object").alias("error"))
    )
    return corrupt.unionByName(missing).unionByName(dupes).unionByName(bad_rel)


def assert_valid_profile(profile: DataFrame, max_show: int = 5) -> None:
    """Raise ValueError listing up to ``max_show`` violations (mirrors
    the reference's assert/ValueError behavior on bad lines)."""
    bad = validate_profile(profile).take(max_show)
    if bad:
        msg = "; ".join(f"{r['entity_id']}: {r['error']}" for r in bad)
        raise ValueError(f"invalid entity profile: {msg}")


def profile_entities(profile: DataFrame, order: str = "qid") -> DataFrame:
    """Entity dim (qid, eid, title, descr): dense 1-based eids via the
    two-phase distributed numbering (no global window) —
    entity_symbols.py:43-45.

    ``order="qid"`` (default) numbers by sorted entity_id (order-free);
    ``order="file"`` numbers by the ``_line_no`` column from
    :func:`read_profile_jsonl_ordered` — exact insertion-order parity
    with the reference's enumeration (module docstring)."""
    from bootleg_spark.operators.ids import dense_ids

    if order == "file":
        if "_line_no" not in profile.columns:
            raise ValueError(
                "order='file' needs the _line_no column — read the profile "
                "with read_profile_jsonl_ordered"
            )
        ents = profile.select(
            F.col("entity_id").alias("qid"),
            "title",
            F.col("description").alias("descr"),
            "_line_no",
        )
        return dense_ids(ents, "_line_no", id_col="eid", start=1).drop("_line_no")
    if order != "qid":
        raise ValueError(f"unknown order {order!r} (expected 'qid' or 'file')")
    ents = profile.select(
        F.col("entity_id").alias("qid"),
        "title",
        F.col("description").alias("descr"),
    )
    return dense_ids(ents, "qid", id_col="eid", start=1)


def profile_alias_candidates(profile: DataFrame, max_candidates: int = 30) -> DataFrame:
    """(alias, qid, score, rank): lnrm-normalized mentions, per-alias
    sort (score desc, qid-string desc) truncated to max_candidates
    (entity_profile.py:246-249 + entity_symbols.py:305-316)."""
    m = profile.select(
        F.col("entity_id").alias("qid"),
        F.explode("mentions").alias("mention"),
    ).select(
        "qid",
        F.element_at("mention", 1).alias("raw_mention"),
        F.element_at("mention", 2).cast("double").alias("score"),
    )
    m = m.select(lnrm_udf(F.col("raw_mention")).alias("alias"), "qid", "score").where(F.length("alias") > 0)
    w = Window.partitionBy("alias").orderBy(F.desc("score"), F.desc("qid"))
    return m.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= max_candidates
    )


def profile_entity_types(profile: DataFrame, max_types: int = 10) -> DataFrame:
    """(qid, type_system, typenames) — one row per entity per NAMED
    type system, list order preserved, truncated to max_types
    (type_symbols.py:60-65). Entities absent from a system get an
    empty list (entity_profile.py:278-287 backfills empty values so
    every system has consistent keys)."""
    exploded = profile.select(
        F.col("entity_id").alias("qid"), F.explode("types").alias("type_system", "tns")
    ).select("qid", "type_system", F.slice("tns", 1, max_types).alias("typenames"))
    systems = exploded.select("type_system").distinct()
    all_pairs = profile.select(F.col("entity_id").alias("qid")).crossJoin(
        F.broadcast(systems)
    )
    return all_pairs.join(exploded, ["qid", "type_system"], "left").select(
        "qid",
        "type_system",
        F.coalesce("typenames", F.array().cast("array<string>")).alias("typenames"),
    )


def profile_kg_relations(profile: DataFrame, max_connections: int = 100) -> DataFrame:
    """(subj_qid, rel, obj_qid): relation pairs exploded with
    per-(qid, relation) order-of-appearance truncation to
    max_connections (kg_symbols.py:70-81 keeps the first
    max_connections objects of each relation's list)."""
    r = profile.select(
        F.col("entity_id").alias("subj_qid"),
        F.posexplode("relations").alias("pos", "r"),
    ).select("subj_qid", F.col("r.relation").alias("rel"), F.col("r.object").alias("obj_qid"), "pos")
    w = Window.partitionBy("subj_qid", "rel").orderBy("pos")
    out = r.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") <= max_connections)
    return out.select("subj_qid", "rel", "obj_qid")


def profile_jsonl_lines(profile: DataFrame, order: str = "qid") -> DataFrame:
    """(``_key``, ``line``): serialized profile lines mirroring the
    reference's ``EntityProfile.save_to_jsonl``
    (entity_profile.py:286-319):

    - one JSON object per entity with keys in the reference's emit
      order (entity_id, mentions, title, then description/types/
      relations only when nonempty);
    - mentions as ``[alias, score]`` pairs sorted score-descending
      (``get_mentions_with_scores``, entity_symbols.py:811-826 —
      Python stable sort, so ties keep their stored order);
    - compact separators and ``ensure_ascii=False``, matching ujson.

    ``order``: "qid" (sorted entity_id — the default reader's eid
    order) or "file" (``_line_no`` from the ordered reader — exact
    reference line order for round-trips). Assembly runs in one
    Arrow-batched pandas UDF over entity rows (dim grain, not corpus
    grain); everything else is a projection."""
    import json

    from pyspark.sql.types import StringType as _Str

    @F.pandas_udf(_Str())
    def _to_line(
        entity_id: pd.Series,
        mentions: pd.Series,
        title: pd.Series,
        description: pd.Series,
        types: pd.Series,
        relations: pd.Series,
    ) -> pd.Series:
        out = []
        for eid, ms, t, d, ty, rels in zip(
            entity_id, mentions, title, description, types, relations
        ):
            pairs = [[m[0], float(m[1])] for m in (ms if ms is not None else [])]
            pairs.sort(key=lambda p: -p[1])  # stable: ties keep order
            obj = {"entity_id": eid, "mentions": pairs, "title": t}
            if d:
                obj["description"] = d
            ty_items = dict(ty) if ty is not None else {}
            # v arrives as a numpy array through Arrow — test length,
            # not truthiness (ambiguous for arrays)
            ty_items = {k: list(v) for k, v in ty_items.items() if len(v) > 0}
            if ty_items:
                obj["types"] = ty_items
            rel_items = [
                {"relation": r["relation"], "object": r["object"]}
                for r in (rels if rels is not None else [])
            ]
            if rel_items:
                obj["relations"] = rel_items
            out.append(json.dumps(obj, ensure_ascii=False, separators=(",", ":")))
        return pd.Series(out)

    key = F.col("_line_no") if order == "file" else F.col("entity_id")
    if order == "file" and "_line_no" not in profile.columns:
        raise ValueError(
            "order='file' needs the _line_no column — read the profile "
            "with read_profile_jsonl_ordered"
        )
    ok = profile.where(F.col("_corrupt").isNull()) if "_corrupt" in profile.columns else profile
    return ok.select(
        key.alias("_key"),
        _to_line(
            "entity_id", "mentions", "title", "description", "types", "relations"
        ).alias("line"),
    )


def write_profile_jsonl(profile: DataFrame, path: str, order: str = "qid") -> None:
    """Write the profile back to a single JSONL file in ``order``
    (save_to_jsonl writes one sequential file). Distributed sort, one
    writer task — fine at entity-dim scale (5.8M lines ≈ 1 GB); a
    cluster-scale variant writes range-partitioned part files
    (``repartitionByRange(_key).sortWithinPartitions``) and
    concatenates on commit."""
    import glob
    import os
    import shutil

    lines = profile_jsonl_lines(profile, order=order)
    tmp = path + "._spark_tmp"
    lines.orderBy("_key").coalesce(1).select("line").write.mode("overwrite").text(tmp)
    part = glob.glob(os.path.join(tmp, "part-*"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)
