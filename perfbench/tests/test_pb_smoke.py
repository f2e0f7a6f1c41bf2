"""Every workload runs end to end at tiny sizes and prints every metric,
in both modes.  Each run starts its own Spark session, so this file
takes several minutes."""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(os.path.dirname(HERE), "run.py")
REPO = os.path.dirname(os.path.dirname(HERE))

sys.path.insert(0, os.path.dirname(HERE))
import run as runner  # noqa: E402
from benchlib.workloads import WORKLOADS  # noqa: E402

DETAIL_KEYS = {
    "month_close": {"close_s"},
    "curate_corpus": {"curate_s", "injected_recall", "packed_checksum"},
    "lake_ingest": {"append_ms_p50", "batch_commit_ms_p50", "read_ms_p50", "merge_ms_p50"},
    "query_mix": {"query_geomean_ms", "query_mix_s"},
}
LAYER_KEYS = {
    "month_close": {"quality.dq_s", "quality.exception_rows", "transform.fact_s", "transform.kpi_s",
                    "star.export_s", "export_bi.export_s", "dashboard.render_s"},
    "curate_corpus": {"curate_pipeline.audit_s", "curate_pipeline.write_s", "curate_pipeline.gopher_s",
                      "curate_pipeline.exact_dedup_s", "curate_pipeline.neardup_s", "curate_pipeline.pack_s",
                      "dedup.shingle_s", "dedup.minhash_s", "dedup.candidates_s", "dedup.verify_s",
                      "dedup.verified_pairs", "dedup.components_s"},
    "lake_ingest": {"manifest.compact_s"},
    "query_mix": {"plans.construct_ms", "plans.catalyst_ms", "plans.execute_ms"}
    | {f"plans.{q}_ms" for q in WORKLOADS["query_mix"].kinds},
}
DETAIL_KEYS["cold_mix"] = DETAIL_KEYS["month_close"] | DETAIL_KEYS["curate_corpus"] | DETAIL_KEYS["query_mix"]
LAYER_KEYS["cold_mix"] = (LAYER_KEYS["month_close"] | LAYER_KEYS["curate_corpus"]
                          | {"plans.construct_ms", "plans.catalyst_ms", "plans.execute_ms"})
# per-layer metrics that a traced run of each gated workload makes non-zero
NONZERO = {
    "cold_mix": {"pipeline.jobs", "sources.csv_read_amp", "sources.bytes_written", "curate_pipeline.jobs",
                 "curate_pipeline.corpus_scans", "dedup.shingle_rows", "dedup.candidate_pairs",
                 "dedup.lsh_precision", "dedup.injected_recall", "plans.construct_jobs", "plans.jobs",
                 "plans.tasks", "plans.exchanges", "spark.jobs", "spark.task_s"},
    "lake_ingest": {"manifest.read_jobs", "manifest.log_bytes", "manifest.write_amp",
                    "manifest.merge_files_rewritten", "manifest.files_live", "manifest.prune_ratio",
                    "manifest.compact_bytes_rewritten", "manifest.space_amp", "spark.jobs", "spark.task_s"},
}


def _run(workload, trace):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--small"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload, trace):
    detail, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail["errors"]
    assert result["attempted"] >= 1
    want = runner.LAYER_UNITS if trace else runner.E2E_UNITS
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], float)
    assert {"steal_pct", "loadavg_start", "loadavg_end", "tmp.leaked_dirs"} <= set(detail)
    if trace:
        assert LAYER_KEYS[workload] <= set(detail["layers"])
        zero = {k for k in NONZERO.get(workload, ()) if not result["metrics"][k]["value"] > 0}
        assert not zero, zero
    else:
        assert DETAIL_KEYS[workload] <= set(detail)
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_oracle_check_rejects_a_wrong_query(tmp_path):
    """The query_mix check is the repo's own ``compare``: a plan that
    returns a wrong answer must fail it."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from benchlib import inputs
    from finance_etl_pipeline_spark.plans import QueryDef, all_queries
    from finance_etl_pipeline_spark.session import get_spark
    from tests.oracle_harness import compare

    sf = str(tmp_path / "sf")
    inputs.write_sf_tables(sf, 1, 0.001)
    spark = get_spark(app_name="perfbench-test")
    q6 = all_queries()["q6_forecast_revenue"]
    assert compare(spark, q6, sf)["ok"]
    wrong = QueryDef("q6_wrong", lambda s, d: q6.fn(s, d).selectExpr("revenue_e4 + 1 AS revenue_e4"),
                     q6.oracle)
    assert not compare(spark, wrong, sf)["ok"]


def test_run_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(os.path.dirname(HERE), tmp_path / "perfbench")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
