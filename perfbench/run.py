#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload default_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Every metric is printed as ``name value unit``;
the last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's public calls in
spans and reports the per-layer metrics instead. Inputs are cached, and
everything a run writes stays under ``.perfbench/`` in the repository root.
Exit code 0 means every operation succeeded and every output matched the
oracles.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datax_3_0_0_src_spark"
MIN_FREE_GB = 3.0
WORKER_ENV = "PERFBENCH_WORKER"
RUN_TIMEOUT_S = 870     # the first run in a checkout also writes the warm-up WAL
JVM_EXIT_S = 60

UNITS = {
    "setup_s": "s", "apply_events_per_s": "events/s",
    "freshness_lag_p50_s": "s",
    "read_mor_s": "s", "fold_dv_s": "s", "read_dv_s": "s",
    "peak_rss_gb": "GB", "ops_ok_frac": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, heap_mb: int) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; fail early when its filesystem is short of space. The driver
    JVM starts with its whole heap (``-Xms`` = ``-Xmx``), as a long-running
    service would: a heap grown on demand made the process tree's peak
    memory swing by a tenth between runs of one input."""
    for d in ("tmp", "spark-local", "runs"):  # left by earlier runs
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for d in ("tmp", "spark-local", "results", "runs", "cache"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    free_gb = shutil.disk_usage(work).free / 2**30
    if free_gb < MIN_FREE_GB:
        raise SystemExit(f"{work}: {free_gb:.1f} GB free, need {MIN_FREE_GB} GB")
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (os.environ.get("SPARK_SUBMIT_OPTS", "")
                                       + f" -Djava.io.tmpdir={tmp} -Xms{heap_mb}m").strip()


def traced_vs_untraced(results_dir: str, workload: str, traced: dict) -> dict:
    """Tracing overhead as measured: each end-to-end figure of this traced
    run over the median of the untraced runs of the same workload recorded
    in ``results_dir``, minus one (empty when there are none yet)."""
    from statistics import median

    past: dict[str, list[float]] = {}
    for name in os.listdir(results_dir):
        with open(os.path.join(results_dir, name)) as f:
            rec = json.load(f)
        if rec.get("trace") == 0 and rec.get("workload") == workload and rec.get("correct"):
            for k, v in rec["e2e"].items():
                past.setdefault(k, []).append(v)
    return {k: traced[k] / median(v) - 1 for k, v in past.items()
            if k in traced and median(v)}


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it runs on and wait for it, so
    that nothing of this run outlives the Python process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on EOF of its stdin
        try:
            jvm.wait(timeout=JVM_EXIT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if os.environ.get(WORKER_ENV) != "1":
        # run the benchmark in a child; wait for every process it starts
        from perfbench.supervise import run as supervised
        return supervised([sys.executable, os.path.abspath(__file__),
                           *(sys.argv[1:] if argv is None else argv)],
                          {**os.environ, WORKER_ENV: "1"}, RUN_TIMEOUT_S)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{ROOT}: no {PACKAGE}/ package to benchmark", file=sys.stderr)
        return 2
    from perfbench import host

    work = os.path.join(ROOT, ".perfbench")
    heap_mb = host.driver_heap_mb()
    prepare_env(work, heap_mb)
    from perfbench import inputs, pipeline
    from perfbench.trace import Tracer

    if args.workload not in pipeline.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(pipeline.WORKLOADS)}", file=sys.stderr)
        return 2
    from datax_3_0_0_src_spark.session import get_spark

    tr = Tracer(f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}", bool(args.trace))
    facts = host.machine_facts(work)
    facts["driver_heap_mb"] = heap_mb
    spec = pipeline.input_spec(args.workload, args.seed, facts["cores"])
    cache = os.path.join(work, "cache")
    warmup_wal = inputs.ensure_warmup(spec, cache, heap_mb)
    pipeline.install_tracing(tr)
    run = layers = None
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", parallelism=facts["cores"],
        extra_conf={"spark.driver.memory": f"{heap_mb}m",
                    "spark.sql.warehouse.dir": os.path.join(work, "tmp", "warehouse")})
    session_s = time.perf_counter() - t0
    try:
        run = pipeline.Run(spark, args.workload, args.seed, args.seconds, work, tr)
        run.setup(session_s, spec, cache, warmup_wal)
        # memory is sampled over the measured phases, so input generation
        # on a cache miss is not counted
        cpu0, m0 = host.cpu_times(), time.perf_counter()
        with host.RssSampler() as rss:
            run.bulk()
            run.tail()
            run.serve()
        measured_s = time.perf_counter() - m0
        cpu = host.cpu_shares(cpu0, host.cpu_times())
        if tr.enabled:
            run.layer["host.steal_frac"] = cpu["steal_frac"]
            run.layer["host.cpu_busy_frac"] = cpu["cpu_busy_frac"]
            layers = pipeline.layer_metrics(run, tr, measured_s, tr.calibrate())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        tr.restore()
        stop_spark(spark)
        if run is not None:
            shutil.rmtree(run.run_dir, ignore_errors=True)
    run.m["peak_rss_gb"] = rss.peak_bytes / 2**30
    run.info["peak_rss_mb_by_process"] = {k: v >> 20 for k, v in rss.peak_procs.items()}
    run.m["ops_ok_frac"] = 1.0 - run.failed / run.attempted
    correct = run.failed == 0
    if tr.enabled:
        metrics = {k: {"value": float(v), "unit": layer_unit(k)}
                   for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": float(run.m[k]), "unit": u} for k, u in UNITS.items()}
    record = {"run": tr.run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "machine": facts,
              "correct": correct, "attempted": run.attempted, "failed": run.failed,
              "failures": run.failures, "e2e": run.m, "info": run.info,
              "max_partition_bytes_at_phase_start": run.mpb_at, "layers": layers}
    if tr.enabled:
        record["spans"] = tr.spans
        record["phase_jobs"] = run.phase_jobs
        record["traced_vs_untraced"] = traced_vs_untraced(
            os.path.join(work, "results"), args.workload, run.m)
    with open(os.path.join(work, "results", f"{tr.run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print("machine " + json.dumps(facts))
    for f in run.failures:
        print(f"FAILED {f}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"gen_s {run.info['gen_s']:.6g} s")
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
