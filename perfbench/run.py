#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload report_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives the engine in a closed
loop on ``local[<cores>]``; everything the run writes lives under
``.perfbench/`` at the root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
holding the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics of a run with Spark's event log on. See README.md beside this
file for what each metric means and which layer moves which.
"""

from __future__ import annotations

import argparse
import fcntl
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: fixture tables every workload reads (query keys, sentinel, probe)
TABLE_SF = 0.01
TABLE_SEED = 42
DRIVER_MEM = "3g"

#: name -> unit, printed with --trace 0
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
SPARK_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.core_util": "ratio",
    "spark.jobs_ungrouped": "count",
}
INGEST_LAYER = {
    "ingest.build_s": "s",
    "ingest.parquet_s": "s",
    "ingest.csv_s": "s",
    "ingest.rerun_s": "s",
    "ingest.records_per_s": "1/s",
    "ingest.scan_passes": "ratio",
    "ingest.useful_row_ratio": "ratio",
    "ingest.parquet_bytes_per_record": "B",
    "ingest.csv_bytes_per_record": "B",
    "ingest.parquet_files": "count",
}
#: name -> unit, printed with --trace 1
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.load_table_s": "s",
    "sources.schema_jobs": "count",
    "plans.build_s": "s",
    "plans.execute_s": "s",
    "plans.build_jobs": "count",
    **SPARK_LAYER,
    **INGEST_LAYER,
    "host.sentinel_s": "s",
    "traced.pass_s": "s",
}
WORKLOADS = ("report_etl", "query_mix")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of Spark, its Python workers and
    the engine's own fixtures into ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    # files Spark writes relative to the working directory land here too
    os.chdir(run_dir)


def pin_engine_env() -> None:
    """Fix the engine's environment knobs, whatever the caller's shell
    holds: all at the engine's defaults (default catalog, shuffle and
    split sizes) except driver memory, whose 16g default exceeds small
    hosts' memory. Runs before the engine is imported, because the
    session module reads some knobs at import time."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    pin_engine_env()
    sys.path.insert(0, ROOT)
    try:
        import reports_generator_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            print("perfbench: another run holds .perfbench/lock", file=sys.stderr)
            return 3
        run_dir = os.path.join(WORK, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        try:
            prepare_env(run_dir)
            result = run(args, run_dir)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
    print(result["summary"])
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def run(args: argparse.Namespace, run_dir: str) -> dict:
    import engine
    import layers
    import workloads
    from spans import Tracer
    from reports_generator_spark.plans import registry
    from tables import ensure_tables

    registry.load_all()
    sf_dir = ensure_tables(os.path.join(WORK, "tables"), TABLE_SF, TABLE_SEED)
    trace = bool(args.trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = engine.start(engine.session_conf(run_dir, trace))
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext if trace else None)
        if args.workload == "report_etl":
            out = workloads.run_etl(spark, tracer, run_dir, args.seed, args.seconds)
        else:
            out = workloads.run_query_mix(spark, tracer, sf_dir, args.seed, args.seconds)
        # diagnostics, once the engine is warm
        sentinel = workloads.sentinel_s(spark, sf_dir)
        load_s = workloads.load_table_probe(spark, sf_dir) if trace else 0.0
    finally:
        engine.shutdown(spark)

    # a pass in which an operation failed is shorter; it counts only
    # when no pass ran clean (and then ``correct`` is false anyway)
    walls = [sum(s.wall for s in ops) for ops in out.passes]
    pass_walls = [w for w, ok in zip(walls, out.clean) if ok] or walls
    n_ops = sum(len(ops) for ops in out.passes)
    if not n_ops:
        raise RuntimeError(f"no operation completed: {out.errors[:3]}")
    if trace:
        jobs = layers.read_jobs(glob.glob(os.path.join(run_dir, "eventlog", "*")))
        metrics = {
            "session.get_spark_s": start_s,
            "session.warmup_s": out.warm_s,
            "sources.load_table_s": load_s,
            **layers.pass_metrics(tracer.spans, jobs, out, engine.cores()),
            "host.sentinel_s": sentinel,
            "traced.pass_s": statistics.median(pass_walls),
        }
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": start_s + out.warm_s,
            "pass_s": statistics.median(pass_walls),
        }
        units = END_TO_END
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not computed: {sorted(missing)}")
    summary = (
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        f"{len(out.passes)} measured pass(es), {n_ops} op(s), "
        f"error_rate={out.failed / max(out.attempted, 1):.4f}, sentinel_s={sentinel:.3f}"
    )
    for err in out.errors[:5]:
        summary += f"\n  failed: {err}"
    return {
        "summary": summary,
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
