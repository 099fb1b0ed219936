"""Physical-plan regression guards — the PLANS.md audit as pytest.

The scale discipline this repo commits to (COVERAGE.md, PLANS.md
header) is checkable mechanically: dim joins must broadcast (never
sort-merge), Python must appear only where semantics require it, and
no row-data exchange may funnel to a single partition. These tests pin
those properties for the headline plans so a regression (a dropped
broadcast hint, an accidental UDF, a stats change flipping a join)
fails CI instead of waiting for a human to re-read PLANS.md."""

import contextlib
import io
import re

from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_nodes(plan: str, name: str) -> int:
    """Count physical nodes by their detail headers — formatted explain
    prints every node twice (tree line + '(N) Name' detail block)."""
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


def test_fused_pipeline_is_one_python_pass(spark, pipe):
    p = plan_of(pipe.triples())
    assert n_nodes(p, "MapInPandas") == 1  # extract+mention+score+emit fused
    assert "ArrowEvalPython" not in p  # no stray row/batch UDF nodes
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_relational_linking_scores_in_one_python_node(spark, pipe):
    """linked_relational keeps ①–② in the JVM (html strip, relational
    matcher, broadcast dictionary join) and runs Python only in the one
    link_neural scorer — once, not re-planned under the threshold
    filter."""
    p = plan_of(pipe.linked_relational())
    assert n_nodes(p, "ArrowEvalPython") == 1
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p  # dictionary + candidate dims broadcast


def test_entity_encode_is_one_python_node(pipe):
    """emb_df chains the entity-string UDF into the encoder UDF: one
    Python node, so each task starts one worker and ships the entity
    strings through Arrow once."""
    assert n_nodes(plan_of(pipe.emb_df), "ArrowEvalPython") == 1


def test_staged_popularity_triples_broadcast_dims(spark):
    import __spark_entry__ as entrymod

    p = plan_of(entrymod.queries()["triples_popularity"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p  # alias dict + relations stay broadcast
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def single_partition_feeders(plan: str) -> list[str]:
    """Detail block of the node feeding each ``SinglePartition``
    exchange. Formatted explain prints the tree, two blank lines, then
    one ``(N) Name`` block per node; an exchange is unary, so its child
    is the next node line of the tree."""
    tree, _, details = plan.partition("\n\n\n")
    blocks = {}
    for b in details.strip().split("\n\n"):
        m = re.match(r"\((\d+)\) ", b)
        if m:
            blocks.setdefault(m.group(1), b)
    ids = re.findall(r"\((\d+)\)$", tree, re.M)
    return [
        blocks.get(child, f"({child})")
        for node, child in zip(ids, ids[1:])
        if "Arguments: SinglePartition" in blocks.get(node, "")
    ]


def is_partial_scalar_agg(block: str) -> bool:
    """A keyless HashAggregate whose functions are all ``partial_…``:
    it emits one row per upstream partition, whatever the row count."""
    funcs = re.search(r"^Functions \[(\d+)\]: \[(.*)\]$", block, re.M)
    return (
        re.match(r"\(\d+\) HashAggregate\b", block) is not None
        and re.search(r"^Keys: \[\]$", block, re.M) is not None
        and funcs is not None
        and len(re.findall(r"(?:^|, )partial_\w+\(", funcs.group(2))) == int(funcs.group(1))
    )


def test_no_single_partition_row_funnel(spark, pipe):
    """SinglePartition exchanges may only merge global scalar
    aggregates (one partial row per upstream partition), never row
    data. Every headline plan's SinglePartition must sit directly
    above a partial aggregate."""
    import __spark_entry__ as entrymod

    feeders = [
        f
        for df in (
            pipe.triples(),
            pipe.linked_relational(),
            entrymod.queries()["triples_popularity"](spark, SF_SMOKE),
        )
        for f in single_partition_feeders(plan_of(df))
    ]
    assert feeders  # triples_popularity's global distinct-alias count
    assert all(is_partial_scalar_agg(f) for f in feeders), feeders
    # the check must flag a real funnel: row data into one partition
    funnel = single_partition_feeders(plan_of(pipe.pages().select("url").repartition(1)))
    assert funnel and not any(is_partial_scalar_agg(f) for f in funnel), funnel


def test_hygiene_ops_are_codegen_projections(spark):
    from bootleg_spark.operators import textclean
    from bootleg_spark.sources.synth import read_documents

    docs = read_documents(spark, SF_SMOKE)
    # the source itself may carry the r07 scan fan-out exchange (a
    # deliberate, scale-guarded repartition of tiny single-row-group
    # inputs — session.fan_scan); the invariant is that the OP adds none
    base_exchanges = n_nodes(plan_of(docs), "Exchange")
    for df in (textclean.scrub_pii(docs),):
        p = plan_of(df)
        assert "MapInPandas" not in p and "ArrowEvalPython" not in p
        assert n_nodes(p, "Exchange") == base_exchanges  # scan→project, no own shuffle


def test_curation_plan_shapes(spark):
    """The r05 curation ops keep their promised shapes: no Python
    anywhere, no sort-merge joins, exchange counts matching the
    docstring plan descriptions."""
    from pyspark.sql import functions as F

    from bootleg_spark.operators.curation import (
        cap_per_domain,
        quality_percentile_filter,
        tfidf_top_terms,
    )
    from bootleg_spark.sources.synth import read_documents

    docs = read_documents(spark, SF_SMOKE)
    # discount the r07 scan fan-out exchange (see
    # test_hygiene_ops_are_codegen_projections): each op's documented
    # exchange count is what it ADDS over its input
    base_exchanges = n_nodes(plan_of(docs), "Exchange")
    with_url = docs.select(
        "doc_id",
        F.concat(F.lit("https://s"), (F.col("doc_id") % 7).cast("string"), F.lit(".org/p")).alias("url"),
        F.length("text").cast("double").alias("quality"),
        "text",
        "lang",
    )
    # domain cap: ONE hash exchange (on domain) + the window sort
    p = plan_of(cap_per_domain(with_url, 3, quality_col="quality"))
    assert n_nodes(p, "Exchange") == base_exchanges + 1
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p
    assert "SortMergeJoin" not in p
    # percentile filter: ONE hash exchange (on stratum) + window
    p = plan_of(quality_percentile_filter(docs, 0.5))
    assert n_nodes(p, "Exchange") == base_exchanges + 1
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p
    # tfidf: pair-count agg + df-dim agg + join + per-doc window; the
    # corpus-N scalar must come in via a broadcast, the term join must
    # not sort-merge, and partial aggregation must be present
    df = tfidf_top_terms(docs, k=3)
    p = plan_of(df)
    assert "SortMergeJoin" not in p
    assert n_nodes(p, "BroadcastExchange") >= 1  # the N scalar (+ maybe dim)
    assert "partial_count" in p or "HashAggregate" in p
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p


def test_dense_ids_leaves_no_cached_frame(spark):
    """dense_ids reads its ranged frame twice through a lazy local
    checkpoint, not a persist that no one unpersists: the returned plan
    holds no cached relation, and the ids are still 0..n-1 in key order."""
    from bootleg_spark.operators.ids import dense_ids

    keys = spark.createDataFrame([(k,) for k in "dbca"], "k string")
    out = dense_ids(keys, "k")
    assert "InMemoryRelation" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert sorted((r["k"], r["dense_id"]) for r in out.collect()) == [
        ("a", 0), ("b", 1), ("c", 2), ("d", 3)
    ]
