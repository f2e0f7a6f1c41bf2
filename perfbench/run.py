"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One run: start a Spark session with the
package's ``get_spark`` defaults, make the workload's inputs from the
seed (three times, the median counts as set-up), seed what needs Spark,
run the cold round in the fresh session, then more closed-loop rounds
until ``--seconds`` have passed since it started (within the workload's
minimum and maximum round count), then the once-per-run output checks.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  The line before it carries
the workload's own figures, host noise and any check failures.  A
traced run also writes its spans, one JSON object per line, to
``.perfbench_out/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import env  # noqa: E402
from benchlib.stats import median  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "first_round_s": "s",
    "op_geomean_ms": "ms",
}

# per-layer metrics printed by every traced run; a layer the workload
# does not call reads 0
LAYER_UNITS = {
    "spark.task_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.first_round_s": "s",
    "tmp.leaked_dirs": "count",
    "pipeline.jobs": "count",
    "sources.csv_read_amp": "ratio",
    "sources.bytes_written": "bytes",
    "curate_pipeline.jobs": "count",
    "curate_pipeline.corpus_scans": "count",
    "dedup.shingle_rows": "count",
    "dedup.candidate_pairs": "count",
    "dedup.lsh_precision": "ratio",
    "dedup.injected_recall": "ratio",
    "manifest.commit_rows_jobs": "count",
    "manifest.read_jobs": "count",
    "manifest.log_bytes": "bytes",
    "manifest.write_amp": "ratio",
    "manifest.merge_files_rewritten": "count",
    "manifest.files_live": "count",
    "manifest.prune_ratio": "ratio",
    "manifest.compact_bytes_rewritten": "bytes",
    "manifest.space_amp": "ratio",
    "plans.construct_jobs": "count",
    "plans.jobs": "count",
    "plans.tasks": "count",
    "plans.exchanges": "count",
}


def parse(argv):
    from benchlib.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true",
                   help="tiny inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def run(args) -> tuple[dict, dict]:
    """Returns (result line, detail line)."""
    t_run = time.perf_counter()
    sys.path.insert(0, REPO)
    # fail before any work when the package or the oracle harness is absent
    import finance_etl_pipeline_spark.session as session
    import tests.oracle_harness  # noqa: F401

    scratch = os.path.join(REPO, env.SCRATCH_DIRNAME, f"{args.workload}-{os.getpid()}")
    env.pin_environment(REPO, scratch)

    noise = env.HostNoise()
    temps = env.TempWatch(os.environ["TMPDIR"])
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        w, tracer, m = measure(args, spark, scratch)
        m["setup_s"] += session_s
        if args.trace:
            layers = layer_metrics(w, tracer, m)
            out_dir = os.path.join(REPO, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{tracer.run_id}.spans.jsonl"))
        m["peak_rss_mb"] = env.peak_rss_mb()
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            env.stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
        leaked = temps.leaked()
        env.remove_tree(scratch)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    detail = {
        "run_s": time.perf_counter() - t_run,
        "stop_s": stop_s,
        "workload": args.workload,
        "seed": args.seed,
        "rounds": len(m["rounds"]),
        "session_s": session_s,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "tmp.leaked_dirs": len(leaked),
        "tmp.leaked_names": leaked[:20],
        "errors": w.ops.errors,
        **noise.read(),
        **w.detail(),
        **{k: v for k, v in m.items() if k != "rounds"},
        "rounds_s": m["rounds"],
    }
    if args.trace:
        layers["tmp.leaked_dirs"] = len(leaked)
        detail["layers"] = layers
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(m[k]), "unit": u} for k, u in E2E_UNITS.items()}
    result = {
        "correct": w.ops.failed == 0,
        "attempted": w.ops.attempted,
        "failed": w.ops.failed,
        "metrics": metrics,
    }
    return result, detail


def measure(args, spark, scratch: str):
    """Set-up, the cold round, more rounds until ``args.seconds`` have
    passed since it started, checks."""
    from benchlib.trace import Tracer
    from benchlib.workloads import WORKLOADS

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    tracer = Tracer(run_id, spark, enabled=False)
    w = WORKLOADS[args.workload](spark, os.path.join(scratch, "work"), args.seed, tracer,
                                 small=args.small)
    gen = []
    for _ in range(3):
        t = time.perf_counter()
        w.make_inputs(os.path.join(scratch, "inputs"))
        gen.append(time.perf_counter() - t)
    t = time.perf_counter()
    w.prepare(spark)
    setup_s = median(gen) + (time.perf_counter() - t)

    tracer.enabled = bool(args.trace)
    rounds = []
    start = time.perf_counter()
    while len(rounds) != w.MAX_ROUNDS and (
        len(rounds) < w.MIN_ROUNDS or time.perf_counter() - start < args.seconds
    ):
        t = time.perf_counter()
        w.run_round()
        rounds.append(time.perf_counter() - t)
    tracer.round_spans = len(tracer.spans)
    t = time.perf_counter()
    w.finish()
    finish_s = time.perf_counter() - t
    tracer.enabled = False
    return w, tracer, {
        "setup_s": setup_s,
        "setup_gen_s": gen,
        "first_round_s": rounds[0],
        "op_geomean_ms": w.op_geomean_ms(),
        "finish_s": finish_s,
        "rounds": rounds,
    }


def layer_metrics(w, tracer, m) -> dict:
    """Spark engine counters of the traced rounds (per round), plus the
    workload's own layer figures."""
    tot = tracer.counters_total(tracer.spans[: tracer.round_spans])
    rounds = m["rounds"]
    n = len(rounds)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out = {
        "spark.task_s": tot["task_s"] / n,
        "spark.busy_ratio": tot["task_s"] / (sum(rounds) * cores),
        "spark.jobs": tot["jobs"] / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.shuffle_bytes": (tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"]) / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "trace.first_round_s": rounds[0],
    }
    # self time per layer over every traced span (rounds and split calls)
    out.update({f"{k}.self_s": v for k, v in tracer.self_time_by_layer().items()})
    out.update(w.layer_metrics())
    return out


def main(argv=None) -> int:
    args = parse(argv)
    result, detail = run(args)
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
