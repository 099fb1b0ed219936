"""Benchmark of bootleg_spark, run from the repository root:

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the program up
cold (a new Spark JVM on ``local[min(nproc - 1, 4)]``, then the program-side
prep; that is ``setup_s``), runs a checked warm-up and then timed rounds
for ``--seconds`` of timed wall. Prints one detail line (inputs, host
telemetry, sample counts, failures) and, as the last line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced rounds with rounds that record spans around the program's
public calls, and reports the per-layer metrics (see perfbench/README.md).
Exits 2 without a result when the program is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# one core is left to the driver, the JVM's own threads and the Python
# workers: with a task on every core, time the hypervisor steals from any
# one vCPU stalls the many small jobs, and a near_dup pass read 10.3-13.8 s
# on 4 of 4 cores against 9.7-10.7 s on 3. At most 4 task cores and a
# driver heap of at most 2 GB keep the process tree small on a shared host
# (with the program's 16 GB default the driver JVM alone grows to ~5 GB);
# the session otherwise keeps the program's own settings. Figures are
# compared only between runs on one host.
MAX_CORES = 4
DRIVER_MEM = "2g"


def _spec(key: str) -> tuple:
    """(name, unit) of each metric BENCHMARK.json lists under ``key``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return tuple((m["name"], m["unit"]) for m in json.load(f)[key])


# public calls wrapped in spans during the traced rounds:
# (module, class or None, function, span name)
_ST = "bootleg_spark.sources.snaptable"
TRACED_CALLS = tuple((_ST, None, f, f"snaptable.{f}") for f in (
    "write_table", "consume_appends", "commit_stream_batch", "ack_consumed",
    "load_snapshot", "latest_version", "read_table")) + (
    ("bootleg_spark.plans.pipeline", None, "incremental_kg_update", "pipeline.incremental_kg_update"),
    ("bootleg_spark.plans.pipeline", "KgPipeline", "triples", "pipeline.triples"),
)


def start_spark(cores: int, work: str):
    from bootleg_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active SparkContext and the JVM behind it, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def timed(wl, seconds: float, tracers: list, errors: Counter) -> list[list]:
    """Rounds, one per tracer in turn, until ``seconds`` of timed wall have
    passed and every tracer has at least one. With two tracers the order
    is ABBA, so traced and untraced rounds see the same warm-up state."""
    out = [[] for _ in tracers]
    cycle = 0
    while sum(r.wall for rs in out for r in rs) < seconds or not all(out):
        order = list(zip(out, tracers))
        cycle += 1
        for rs, tracer in order if cycle % 2 else order[::-1]:
            try:
                with tracer.patched():
                    rs.append(wl.round(tracer))
            except Exception as e:  # an operation that raises counts as failed
                traceback.print_exc(file=sys.stderr)
                errors[type(e).__name__] += 1
                return out
    return out


class Ctx:
    """What a workload's per-layer metrics need from the runner."""

    def __init__(self, tracer, reader, cores: int, errors: Counter, inputs: dict):
        self.tracer, self.reader, self.cores, self.errors = tracer, reader, cores, errors
        self.inputs = inputs  # input properties a workload measures late

    def stages_of(self, span: dict) -> list[dict]:
        return [st for s in self.tracer.descendants(span) for st in self.reader.stages(self.tracer.group(s))]

    def jobs_of(self, span: dict) -> int:
        return sum(len(self.reader.job_ids(self.tracer.group(s))) for s in self.tracer.descendants(span))


def run(args, work: str) -> tuple[dict, dict]:
    import numpy as np

    from sparkstats import HostMeter, MemSampler, StatusReader, median, summarize_stages
    from spans import Tracer
    from workloads import WORKLOADS

    cores = max(1, min(len(os.sched_getaffinity(0)) - 1, MAX_CORES))
    rng = np.random.default_rng(args.seed)
    wl = WORKLOADS[args.workload](work)
    t0 = time.perf_counter()
    inputs = wl.generate(rng)
    gen_s = time.perf_counter() - t0
    host = HostMeter()

    # one cold set-up per run: a second one would need another JVM and
    # does not fit the time budget; medians are taken across runs
    t0 = time.perf_counter()
    spark = start_spark(cores, work)
    t1 = time.perf_counter()
    wl.setup(spark)
    start_s, prep_s = t1 - t0, time.perf_counter() - t1

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    off = Tracer(spark.sparkContext, run_id, enabled=False)
    tracers = [off] + ([Tracer(spark.sparkContext, run_id, True, TRACED_CALLS)] if args.trace else [])
    errors: Counter = Counter()
    t0 = time.perf_counter()
    wl.warmup(off)
    warm_failures = list(wl.failures)
    warm_s = time.perf_counter() - t0

    mem = MemSampler().start()
    rounds, *traced = timed(wl, args.seconds, tracers, errors)
    peak_mb = mem.stop()
    op_walls = [w for r in rounds for w in r.op_walls]

    detail = {
        "workload": args.workload, "seed": args.seed, "item": wl.item,
        "host": host.stop(cores), "inputs": inputs, "generate_s": gen_s, "warmup_s": warm_s,
        "setup_parts_s": {"session": start_s, "program": prep_s}, "op_walls_s": op_walls,
        "round_items_per_s": [r.items / r.wall for r in rounds],
        "samples": {"setup_s": 1, "items_per_s": len(rounds), "op_s.p50": len(op_walls)},
        "pss_mb_at_peak": mem.breakdown_mb(), "errors": dict(errors), "failures": wl.failures[:10],
    }
    if not args.trace:
        metrics = {
            "setup_s": start_s + prep_s,
            "items_per_s": median([r.items / r.wall for r in rounds]),
            "op_s.p50": median(op_walls),
            "peak_pss_mb": peak_mb,
        }
        return detail, _result(metrics, _spec("end_to_end"), rounds, errors, warm_failures)

    tracer, traced = tracers[1], traced[0]
    ctx = Ctx(tracer, StatusReader(spark), cores, errors, inputs)
    tops = [s for r in traced for s in r.spans]
    stages = [st for s in tops for st in ctx.stages_of(s)]
    per_layer = _spec("per_layer")
    # a layer the workload does not exercise reports 0
    layers = dict.fromkeys((n for n, _ in per_layer), 0.0)
    layers.update(summarize_stages(stages, sum(ctx.jobs_of(s) for s in tops),
                                   [(s["start"], s["end"]) for s in tops]))
    layers["session.start_s"] = start_s
    if wl.item == "pages":
        layers["pipeline.init_s"] = prep_s
    layers.update(wl.layers(ctx))
    traced_walls = [w for r in traced for w in r.op_walls]
    layers["trace.overhead_ratio"] = median(traced_walls) / median(op_walls) - 1.0
    layers["trace.coverage"] = sum(s["end"] - s["start"] for s in tops) / sum(r.wall for r in traced)
    out_dir = os.path.join(ROOT, ".bench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{run_id}.jsonl"))
    detail["traced_ops"] = len(traced_walls)
    return detail, _result(layers, per_layer, rounds + traced, errors, warm_failures)


def _result(values: dict, spec, rounds: list, errors: Counter, warm_failures: list) -> dict:
    """Every operation counts as attempted; one fails when it raises or its
    output check fails, and all fail when the warm-up's reference check did."""
    attempted = sum(len(r.ok) for r in rounds) + sum(errors.values())
    failed = sum(not ok for r in rounds for ok in r.ok) + sum(errors.values())
    if warm_failures:
        failed = attempted
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in spec},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bootleg_spark", "__init__.py")):
        print(f"perfbench: no bootleg_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import bootleg_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
    )
    try:
        detail, result = run(args, work)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
