"""Status-store aggregation: pure folding, and a tiny local Spark run."""

import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.statusstore import (  # noqa: E402
    StatusStoreReader,
    layer_of,
    summarize_run,
)


def _job(job_id, group, stage_ids, t0, t1):
    return {"jobId": job_id, "jobGroup": group, "stageIds": stage_ids,
            "submissionTime": t0, "completionTime": t1, "status": "SUCCEEDED"}


def _stage(run_ms, shuffle_records=0, status="COMPLETE"):
    return {"status": status, "executorRunTime": run_ms,
            "executorCpuTime": run_ms * 500_000, "jvmGcTime": 0,
            "shuffleWriteRecords": shuffle_records, "shuffleWriteBytes": 0,
            "diskBytesSpilled": 0,
            "peakExecutorMetrics": {"JVMHeapMemory": 2**20, "JVMOffHeapMemory": 0}}


def test_layer_of_groups():
    assert layer_of("clk:clks") == "clks"
    assert layer_of("clk:clks_b") == "clks"
    assert layer_of("clk:kids_a") == "clks"
    assert layer_of("clk:blocks") == "blocks"
    assert layer_of("bench:fixture") is None
    assert layer_of(None) is None


def test_summarize_folds_jobs_into_layers():
    jobs = [
        _job(1, "clk:clks", [1], 1000, 2000),
        _job(2, None, [2], 2100, 2200),
        _job(3, "clk:blocks", [3], 2300, 3000),
        # Stage 3 reused (skipped) by a later job: counted once.
        _job(4, "clk:blocks", [3, 4], 3000, 3500),
        _job(5, "clk:pairs", [5, 6], 3600, 4000),
    ]
    stages = {1: _stage(4000), 2: _stage(100), 3: _stage(2000, 800),
              4: _stage(500, 16), 5: _stage(0, status="SKIPPED"),
              6: _stage(1000)}
    metrics, spans, violations = summarize_run(jobs, stages, 1000, 4100, cores=4)

    assert violations == []
    assert metrics["clks.wall_s"] == pytest.approx(1.0)
    assert metrics["clks.task_s"] == pytest.approx(4.0)
    assert metrics["clks.non_jvm_s"] == pytest.approx(2.0)
    assert metrics["blocks.jobs"] == 2
    assert metrics["blocks.wall_s"] == pytest.approx(1.2)
    assert metrics["blocks.task_s"] == pytest.approx(2.5)
    assert metrics["blocks.shuffle_write_records"] == 816
    assert metrics["pairs.task_s"] == pytest.approx(1.0)
    assert metrics["clusters.jobs"] == 0
    assert metrics["pipeline.ungrouped_jobs"] == 1
    assert metrics["pipeline.ungrouped_task_s"] == pytest.approx(0.1)
    assert metrics["task_s"] == pytest.approx(7.6)
    assert metrics["pipeline.occupancy"] == pytest.approx(7.6 / (3.1 * 4))
    # Jobs cover 1000-2000, 2100-2200, 2300-3500, 3600-4000 of 1000-4100.
    assert metrics["pipeline.out_of_job_s"] == pytest.approx(0.4)
    assert metrics["pipeline.mem_peak_mb"] == pytest.approx(1.0)

    kinds = {s["id"]: s for s in spans}
    assert kinds["run"]["parent"] is None
    assert kinds["run/clk:blocks"]["parent"] == "run"
    assert (kinds["run/clk:blocks"]["start_ms"], kinds["run/clk:blocks"]["end_ms"]) == (2300, 3500)
    assert kinds["run/job-4"]["parent"] == "run/clk:blocks"
    assert kinds["run/job-2"]["parent"] == "run"


def test_summarize_reports_overlapping_stage_spans():
    jobs = [_job(1, "clk:clks", [1], 1000, 3000),
            _job(2, "clk:blocks", [2], 2000, 4000)]
    stages = {1: _stage(10), 2: _stage(10)}
    _, _, violations = summarize_run(jobs, stages, 1000, 4000, cores=1)
    assert violations == ["stage spans overlap by 1.000 s, so stage spans "
                          "plus out-of-span time exceed wall_s"]


def test_summarize_reports_failed_and_stray_jobs():
    failed = dict(_job(1, "clk:clks", [1], 1000, 2000), status="FAILED")
    stray = _job(2, "clk:pairs", [2], 5000, 6000)
    _, _, violations = summarize_run([failed, stray], {1: _stage(1), 2: _stage(1)},
                                     1000, 3000, cores=1)
    assert len(violations) == 2


@pytest.mark.spark
def test_reader_on_tiny_local_run():
    pyspark = pytest.importorskip("pyspark")
    spark = (pyspark.sql.SparkSession.builder.master("local[2]")
             .appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .getOrCreate())
    try:
        sc = spark.sparkContext
        reader = StatusStoreReader(spark)
        before = reader.last_job_id()
        t0 = time.time() * 1e3
        sc.setLocalProperty("spark.jobGroup.id", "clk:blocks")
        spark.range(0, 1000, 1, 2).repartition(4, "id").count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(0, 10, 1, 1).count()
        t1 = time.time() * 1e3
        jobs = reader.jobs_between(before, reader.last_job_id())
        metrics, spans, violations = summarize_run(
            jobs, reader.stages_of(jobs), t0, t1, cores=2)
    finally:
        spark.stop()

    assert violations == []
    assert metrics["blocks.jobs"] >= 1
    # The repartition writes every row once, the count's partial
    # aggregate one row per partition.
    assert 1000 <= metrics["blocks.shuffle_write_records"] <= 1004
    assert metrics["blocks.task_s"] > 0
    assert metrics["pipeline.ungrouped_jobs"] >= 1
    assert metrics["clks.jobs"] == 0
    assert any(s["name"] == "clk:blocks" and s["kind"] == "stage" for s in spans)
