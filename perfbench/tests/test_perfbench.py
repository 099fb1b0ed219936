"""Tests of the benchmark's own helpers: python -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import checks  # noqa: E402
import gen  # noqa: E402
from sparkstats import covered  # noqa: E402
from spans import Tracer  # noqa: E402


def test_generators_repeat_for_a_seed_and_differ_across_seeds():
    def docs(seed):
        return gen.documents(np.random.default_rng(seed), 300, gen.BASE_VOCAB)

    def near(seed):
        return gen.near_dup_documents(np.random.default_rng(seed), 300, 40, 20, 5)

    assert docs(7).equals(docs(7))
    assert not docs(7)["text"].equals(docs(8)["text"])
    (a, pa), (b, pb) = near(7), near(7)
    assert a.equals(b) and pa == pb
    assert not a["text"].equals(near(8)[0]["text"])
    assert pa["hot_cluster_size"] == 40 and pa["docs"] == 300


def test_near_dup_rejects_clusters_larger_than_the_corpus():
    with pytest.raises(ValueError):
        gen.near_dup_documents(np.random.default_rng(0), 50, 40, 20, 5)


def test_mention_property_matches_the_extractor():
    from bootleg_spark.operators.mentions import ngram_extract_aliases

    words = gen.extra_vocab(12)
    aliases = frozenset(gen.BASE_VOCAB).union(words) - gen.STOPWORDS
    docs = gen.documents(np.random.default_rng(3), 200,
                         gen.BASE_VOCAB + list(gen.FUNCTION_WORDS) + words)
    for text in docs["text"]:
        got = len(ngram_extract_aliases(text, aliases, 1, 6, dict_max_words=1))
        assert got == gen.isolated_aliases(text.split(), aliases)


TRIPLES = [("Q3", "works_with", "Q9"), ("Q9", "part_of", "Q3"), ("Q12", "located_in", "Q4")]


def test_triple_checker_passes_equal_sets_and_fails_planted_triples():
    assert checks.same_rows(TRIPLES, list(reversed(TRIPLES)), "t") == []
    wrong = TRIPLES[:-1] + [("Q12", "located_in", "Q5")]
    msgs = checks.same_rows(TRIPLES, wrong, "t")
    assert any("missing" in m for m in msgs) and any("unexpected" in m for m in msgs)
    assert any("repeated" in m for m in checks.same_rows(TRIPLES, TRIPLES + TRIPLES[:1], "t"))


def test_pair_checker_fails_a_planted_pair_and_tolerates_float_noise():
    oracle = [(1, 2, 0.5), (3, 4, 0.333333)]
    assert checks.same_rows(oracle, [(3, 4, 1 / 3), (1, 2, 0.5)], "p") == []
    assert checks.same_rows(oracle, [(1, 2, 0.5), (3, 5, 0.333333)], "p")
    assert checks.same_rows(oracle, [(1, 2, 0.5), (3, 4, 0.34)], "p")


def test_digest_checker_fails_a_changed_digest():
    assert checks.same_digest({"n": 3, "h": 10}, {"n": 3, "h": 10}, "d") == []
    assert checks.same_digest({"n": 3, "h": 10}, {"n": 3, "h": 11}, "d")


def test_oracle_rows_runs_sql_over_parquet(tmp_path):
    path = gen.write_parquet(gen.documents(np.random.default_rng(0), 10, gen.BASE_VOCAB),
                             str(tmp_path), "documents")
    assert checks.oracle_rows("SELECT count(*) FROM documents", {"documents": path}) == [(10,)]


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1)
    assert covered([], 0, 1) == 0


class _FakeContext:
    def setJobGroup(self, *a):
        pass

    def setLocalProperty(self, *a):
        pass


def test_span_self_time_excludes_children():
    tr = Tracer(_FakeContext(), "r", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    a, b = tr.named("a")[0], tr.named("b")[0]
    kids = (a["end"] - a["start"]) + (b["end"] - b["start"])
    assert tr.self_time(outer) == pytest.approx(outer["end"] - outer["start"] - kids, abs=1e-6)
    assert a["parent"] == outer["id"] and outer["parent"] is None
    assert [s["name"] for s in tr.descendants(outer)][0] == "outer"


def test_wrap_traces_calls_through_the_module_attribute_and_unwraps():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer(_FakeContext(), "r", enabled=True)
    tr.wrap(mod, "f", "mod.f")
    assert mod.f(1) == 2 and [s["name"] for s in tr.spans] == ["mod.f"]
    tr.unwrap()
    mod.f(1)
    assert len(tr.spans) == 1


def test_disabled_tracer_records_nothing():
    tr = Tracer(None, "r", enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_status_reader_counts_stages_of_a_trivial_job():
    from pyspark.sql import SparkSession

    from sparkstats import StatusReader

    spark = (SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    try:
        spark.sparkContext.setJobGroup("perfbench-test", "trivial")
        spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        reader = StatusReader(spark)
        stages = reader.stages("perfbench-test")
        assert len(stages) > 0
        assert sum(s["tasks"] for s in stages) > 0
        assert reader.node_rows("perfbench-test", "Range") == 1000
    finally:
        spark.stop()


def test_runner_refuses_a_directory_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "near_dup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60, env=env)
    assert out.returncode != 0 and out.stdout == ""


def test_benchmark_json_follows_the_contract():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in spec["end_to_end"])} in spec["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
