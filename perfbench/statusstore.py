"""Per-run job and stage data from Spark's live status store.

:class:`StatusStoreReader` pulls the jobs a pipeline run submitted, and
the last attempt of each of their stages, out of
``sc._jsc.sc().statusStore()`` as plain dicts (the JSON shape of Spark's
REST API). :func:`summarize_run` is pure: it folds those dicts into the
benchmark's per-layer metrics and spans, so it is tested without Spark.

A pipeline stage tags its jobs with the job group ``clk:<stage>``; the
layer of a job is that stage's base name (``clks_a`` and ``clks_b`` are
both ``clks``). Jobs with no ``clk:`` group belong to the ``pipeline``
layer: banding resolution and other driver orchestration.
"""

from __future__ import annotations

import json
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

LAYERS = ("clks", "blocks", "pairs", "clusters")
# Spark stage fields summed per layer, with the scale that turns them into
# the benchmark's units (ms → s, ns → s, counts and bytes unchanged).
_STAGE_SUMS = {
    "task_s": ("executorRunTime", 1e-3),
    "jvm_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


def _zero_sums() -> Dict[str, float]:
    return {"jobs": 0, **{name: 0.0 for name in _STAGE_SUMS}}


def layer_of(job_group: Optional[str]) -> Optional[str]:
    """Pipeline layer of a job group, or None for an ungrouped job."""
    if not job_group or not job_group.startswith("clk:"):
        return None
    base = job_group[len("clk:"):].split("_")[0]
    # The dense key-id map is part of encoding the records.
    return "clks" if base == "kids" else base


def _union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def summarize_run(
    jobs: Sequence[dict],
    stages: Dict[int, dict],
    start_ms: float,
    end_ms: float,
    cores: int,
    run_id: str = "run",
) -> Tuple[Dict[str, float], List[dict], List[str]]:
    """Fold one pipeline run's jobs and stages into metrics and spans.

    :param jobs: job dicts (``jobId``, ``jobGroup``, ``stageIds``,
        ``submissionTime``, ``completionTime``, ``status``) of the jobs
        the run submitted.
    :param stages: stage dicts by stage id (``status`` plus the fields in
        ``_STAGE_SUMS`` and ``peakExecutorMetrics``).
    :param start_ms: epoch ms when the call into the pipeline began.
    :param end_ms: epoch ms when it returned.
    :returns: ``(metrics, spans, violations)``. ``metrics`` holds
        ``<layer>.<metric>`` entries plus ``task_s`` for the end-to-end
        report; a violation is a sentence naming a broken accounting
        invariant.
    """
    wall_s = (end_ms - start_ms) / 1e3
    metrics: Dict[str, float] = {}
    violations: List[str] = []
    spans: List[dict] = [{
        "id": run_id, "parent": None, "name": run_id, "kind": "run",
        "start_ms": start_ms, "end_ms": end_ms,
    }]

    # A stage reused by a later job is counted once, for the first job.
    owner: Dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            owner.setdefault(sid, job["jobId"])
    job_sums: Dict[int, Dict[str, float]] = {}
    peak_heap = 0.0
    for sid, job_id in owner.items():
        stage = stages.get(sid)
        if stage is None or stage.get("status") != "COMPLETE":
            continue  # skipped: its work ran in an earlier stage
        sums = job_sums.setdefault(job_id, _zero_sums())
        for name, (field, scale) in _STAGE_SUMS.items():
            sums[name] += stage.get(field, 0) * scale
        peak = stage.get("peakExecutorMetrics") or {}
        peak_heap = max(peak_heap, peak.get("JVMHeapMemory", 0)
                        + peak.get("JVMOffHeapMemory", 0))

    job_intervals: List[Tuple[float, float]] = []
    by_layer: Dict[Optional[str], Dict[str, float]] = {}
    group_window: Dict[str, List[float]] = {}
    for job in jobs:
        if job.get("status") != "SUCCEEDED":
            violations.append(
                f"job {job['jobId']} ended {job.get('status')}")
        t0, t1 = job["submissionTime"], job["completionTime"]
        if t0 < start_ms - 50 or t1 > end_ms + 50:
            violations.append(
                f"job {job['jobId']} ran outside the run window")
        layer = layer_of(job.get("jobGroup"))
        job_intervals.append((t0, t1))
        agg = by_layer.setdefault(layer, _zero_sums())
        agg["jobs"] += 1
        for name in _STAGE_SUMS:
            agg[name] += job_sums.get(job["jobId"], {}).get(name, 0.0)
        group = job.get("jobGroup")
        if layer is not None:
            window = group_window.setdefault(group, [t0, t1])
            window[0], window[1] = min(window[0], t0), max(window[1], t1)
        spans.append({
            "id": f"{run_id}/job-{job['jobId']}",
            "parent": f"{run_id}/{group}" if layer is not None else run_id,
            "name": f"job {job['jobId']}", "kind": "job",
            "start_ms": t0, "end_ms": t1,
        })
    for group, (t0, t1) in sorted(group_window.items(), key=lambda g: g[1][0]):
        spans.append({
            "id": f"{run_id}/{group}", "parent": run_id, "name": group,
            "kind": "stage", "start_ms": t0, "end_ms": t1,
        })

    stage_spans = {layer: [] for layer in LAYERS}
    for group, window in group_window.items():
        stage_spans[layer_of(group)].append(tuple(window))
    for layer in LAYERS:
        agg = by_layer.get(layer, _zero_sums())
        metrics[f"{layer}.wall_s"] = sum(
            t1 - t0 for t0, t1 in stage_spans[layer]) / 1e3
        metrics[f"{layer}.jobs"] = agg["jobs"]
        for name in _STAGE_SUMS:
            metrics[f"{layer}.{name}"] = agg[name]
        metrics[f"{layer}.non_jvm_s"] = max(agg["task_s"] - agg["jvm_cpu_s"], 0.0)

    spans_all = [iv for layer in LAYERS for iv in stage_spans[layer]]
    ungrouped = by_layer.get(None, _zero_sums())
    task_s = sum(agg["task_s"] for agg in by_layer.values())
    out_of_job_ms = (end_ms - start_ms) - _union_length(job_intervals)
    metrics["pipeline.out_of_job_s"] = out_of_job_ms / 1e3
    metrics["pipeline.ungrouped_jobs"] = ungrouped["jobs"]
    metrics["pipeline.ungrouped_task_s"] = ungrouped["task_s"]
    metrics["pipeline.occupancy"] = task_s / (wall_s * cores) if wall_s > 0 else 0.0
    metrics["task_s"] = task_s
    metrics["pipeline.mem_peak_mb"] = peak_heap / 2**20

    # Accounting invariant: the stage spans, plus the time outside them
    # (ungrouped jobs and driver work), add up to wall_s. With every job
    # inside the run window that holds exactly when no two stage spans
    # overlap.
    overlap_s = (sum(t1 - t0 for t0, t1 in spans_all)
                 - _union_length(spans_all)) / 1e3
    if overlap_s > max(0.02 * wall_s, 0.05):
        violations.append(
            f"stage spans overlap by {overlap_s:.3f} s, so stage spans "
            f"plus out-of-span time exceed wall_s")
    return metrics, spans, violations


class StatusStoreReader:
    """Reads finished jobs and their stages from a live SparkContext."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = sc._jvm
        # Spark's REST API serializes these objects with Jackson and the
        # Scala module; doing the same returns a run in one JSON string
        # instead of thousands of py4j field calls.
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala,
                    "DefaultScalaModule$"), "MODULE$")
        self._mapper.registerModule(scala_module)

    def _json(self, obj) -> object:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _drain(self) -> None:
        # Job-end events reach the store through the asynchronous
        # listener bus; wait until it has delivered them.
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain()
        jobs = self._json(self._store.jobsList(None))
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_between(self, after: int, upto: Optional[int] = None) -> List[dict]:
        """Jobs with ``after < jobId <= upto``, oldest first."""
        self._drain()
        jobs = self._json(self._store.jobsList(None))
        return sorted(
            (j for j in jobs
             if j["jobId"] > after and (upto is None or j["jobId"] <= upto)),
            key=lambda j: j["jobId"],
        )

    def stages_of(self, jobs: Sequence[dict]) -> Dict[int, dict]:
        ids = sorted({sid for job in jobs for sid in job["stageIds"]})
        return {sid: self._json(self._store.lastStageAttempt(sid)) for sid in ids}
