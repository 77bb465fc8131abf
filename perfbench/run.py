"""Seeded, layer-by-layer benchmark of the CLK linkage pipeline.

One run builds a local session on every core, generates one workload's
inputs from ``--seed``, runs the pipeline once untimed (warm-up) and then
again until ``--seconds`` of pipeline time have been measured. Every run
is checked: pairs and clusters must hash the same as the first run of
the seed and reach the recall/precision floors (and, at seed 42, the
pinned outputs). The last stdout line is one JSON object:

- ``--trace 0``: the end-to-end metrics (medians over the timed runs);
- ``--trace 1``: the per-layer metrics, read from Spark's status store,
  plus a spans file under ``perfbench/out/``.

Usage, from the repository root::

    python3 perfbench/run.py --workload dedup_short --seed 7 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 42     # every metric, all workloads
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, "perfbench", "out")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

MIN_SAMPLES = 2
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _contain_temp_files() -> None:
    """Keep Spark's and Python's scratch files inside the checkout; must
    run before the JVM starts."""
    tmp = os.path.join(OUT_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # C1-only JIT: a run this short never reaches C2's steady state. With
    # C2 compiling in the background, the CPU time of repeated pipeline
    # runs in one process varied about twice as much as with C1 alone.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")
    # Python workers import clkhash_spark from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _start_session(cores: int):
    """``build_session`` plus a Python-worker warm-up; returns the session
    and the two durations."""
    from clkhash_spark.session import build_session

    start = time.perf_counter()
    spark = build_session(app_name="perfbench", cores=cores,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    built = time.perf_counter()

    def touch(batches):
        import numpy  # noqa: F401 - the import is the warm-up

        yield from batches

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "bench:setup")
    spark.range(0, cores, 1, cores).mapInPandas(touch, "id long") \
        .write.format("noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return spark, built - start, time.perf_counter() - built


def _stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            proc.wait(timeout=60)


def _release(spark, result, keep_rdds) -> None:
    """Drop everything one pipeline run cached or checkpointed, then
    collect garbage so the next run starts from the same heap."""
    result.blocks.unpersist()
    jsc = spark.sparkContext._jsc
    for rdd_id, rdd in list(jsc.getPersistentRDDs().items()):
        if rdd_id not in keep_rdds:
            rdd.unpersist(True)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _load_metrics(trace: bool) -> dict:
    """Metric name → unit, as ``BENCHMARK.json`` lists them: the
    per-layer set when tracing, else the end-to-end set."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        bench = json.load(fp)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def _quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, median, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, median, q3


def bench_one(workload_name: str, seed: int, seconds: float, trace: bool,
              scale: str) -> dict:
    from perfbench.statusstore import StatusStoreReader, summarize_run
    from perfbench.workloads import (
        build_fixture,
        check_outcome,
        kernel_texts,
        linkage_config,
        outcome_errors,
        pipeline_readouts,
        run_pipeline,
        with_group,
    )

    workload = WORKLOADS[workload_name]
    names = _load_metrics(trace)
    cores = len(os.sched_getaffinity(0))
    _contain_temp_files()
    spark, build_s, warmup_s = _start_session(cores)
    _log(f"session built in {build_s:.2f} s, warmed in {warmup_s:.2f} s")
    try:
        reader = StatusStoreReader(spark)
        fixture = build_fixture(spark, workload, seed, scale)
        keep_rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        config = linkage_config(workload)
        _log(f"fixture: {fixture.rows} rows")

        samples, spans, violations, errors = [], [], [], []
        reference = None
        attempted = failed = 0
        measured = 0.0
        # Run 0 warms code generation, the JIT and worker caches; it is
        # checked and traced but not counted.
        while len(samples) < MIN_SAMPLES or measured < seconds:
            run_id = f"{workload.name}/seed-{seed}/run-{attempted}"
            attempted += 1
            before = reader.last_job_id()
            t0 = time.time()
            p0 = time.perf_counter()
            try:
                result = run_pipeline(spark, workload, fixture, config)
            except Exception as exc:  # a failed run is counted, not fatal
                failed += 1
                errors.append(f"{run_id}: {type(exc).__name__}: {exc}")
                break
            wall_s = time.perf_counter() - p0
            t1 = time.time()
            jobs = reader.jobs_between(before, reader.last_job_id())
            metrics, run_spans, run_violations = summarize_run(
                jobs, reader.stages_of(jobs), t0 * 1e3, t1 * 1e3, cores, run_id)
            outcome = with_group(spark, "bench:check",
                                 lambda: check_outcome(workload, fixture, result))
            run_errors = outcome_errors(workload, scale, seed, outcome, reference)
            reference = reference or outcome
            if run_errors:
                failed += 1
                errors.extend(f"{run_id}: {e}" for e in run_errors)
            if trace:
                readouts, readout_violations = with_group(
                    spark, "bench:trace",
                    lambda: pipeline_readouts(workload, result, metrics))
                metrics.update(readouts)
                run_violations += readout_violations
            _release(spark, result, keep_rdds)
            _log(f"{run_id}: wall {wall_s:.3f} s, {outcome.pairs} pairs, "
                 f"F1 {outcome.f1:.6f}"
                 + (f", {len(run_errors)} errors" if run_errors else ""))
            spans.extend(run_spans)
            violations.extend(f"{run_id}: {v}" for v in run_violations)
            if attempted == 1:
                continue
            measured += wall_s
            metrics.update({
                "wall_s": wall_s,
                "rows_per_s": fixture.rows / wall_s,
                "recall": outcome.recall,
                "precision": outcome.precision,
                "pipeline.wall_s": wall_s,
            })
            samples.append(metrics)

        if trace:
            from perfbench.kernels import UNMEASURED, time_kernels
            from clkhash_spark.pipeline import webpages_schema

            kernels = time_kernels(kernel_texts(spark, workload, seed, scale),
                                   webpages_schema(), config.secret)
    finally:
        _stop_session(spark)
        _log("session stopped")

    for e in errors:
        print(f"ERROR {e}")
    if not samples:
        raise SystemExit(f"{workload_name}: no run completed")

    setup_s = build_s + warmup_s
    if trace:
        fixed = dict(kernels)
        fixed["session.build_s"] = build_s
        fixed["session.warmup_s"] = warmup_s
        fixed["invariant.violations"] = len(violations)
    else:
        fixed = {"setup_s": setup_s}
    report = {}
    for name, unit in names.items():
        values = [fixed[name]] if name in fixed else [s[name] for s in samples]
        q1, med, q3 = _quartiles(values)
        report[name] = {"value": med, "unit": unit}
        print(f"{workload_name:15s} {name:40s} {med:14.6g} {unit:8s} "
              f"q1={q1:.6g} q3={q3:.6g} n={len(values)}")
    if trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"spans-{workload_name}-seed{seed}.json")
        with open(path, "w") as fp:
            json.dump({"spans": spans, "violations": violations,
                       "unmeasured_kernels": list(UNMEASURED)},
                      fp, indent=1)
        for v in violations:
            print(f"INVARIANT VIOLATION {v}")
        print(f"spans: {os.path.relpath(path, ROOT)}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": report}


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    status = 0
    for name in WORKLOADS:
        walls = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--scale", args.scale]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                print(f"{name} trace={trace}: exit code {proc.returncode}")
                status = 1
                continue
            result = json.loads(lines[-1])
            if not result["correct"]:
                status = 1
            metrics = result["metrics"]
            walls[trace] = metrics["wall_s" if trace == 0 else "pipeline.wall_s"]["value"]
        if len(walls) == 2:
            print(f"{name:15s} {'trace.overhead_s':36s} {walls[1] - walls[0]:14.6g} s "
                  f"(traced minus untraced median wall_s)")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "full"), default="bench",
                    help="input size: the timed size, or the size the "
                         "linkage invariants were recorded at")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    print(json.dumps(bench_one(args.workload, args.seed, args.seconds,
                               bool(args.trace), args.scale)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
