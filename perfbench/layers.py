"""Per-layer metrics of a traced run: the Spark jobs each operation span
ran, split by layer, as medians over the run's measured passes."""

from __future__ import annotations

import statistics

from spans import Job, Span, assign_jobs, parse_event_log, span_stats

MB = 1e6


def read_jobs(paths: list[str]) -> list[Job]:
    jobs: list[Job] = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            jobs.extend(parse_event_log(fh))
    return jobs


def _one_pass(ops: list[Span], spans: list[Span], assigned, cores: int, facts: dict) -> dict[str, float]:
    stats = [span_stats(op, spans, assigned) for op in ops]
    jobs = [j for st in stats for j in st.jobs]
    busy = sum(st.job_busy_s for st in stats)
    run_s = sum(j.run_s for j in jobs)
    m = {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": sum(st.driver_gap_s for st in stats),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.shuffle_read_mb": sum(j.shuffle_read_bytes for j in jobs) / MB,
        "spark.shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs) / MB,
        "spark.spill_mb": sum(j.spill_bytes for j in jobs) / MB,
        "spark.input_mb": sum(j.input_bytes for j in jobs) / MB,
        "spark.core_util": run_s / (busy * cores) if busy else 0.0,
        "spark.jobs_ungrouped": sum(st.ungrouped for st in stats),
        "sources.schema_jobs": sum(1 for j in jobs if not j.sql_execution),
    }
    tops = {id(op) for op in ops}
    inner = [s for s in spans if s.parent is not None and id(s.top()) in tops]

    def wall(name: str, parent: str | None = None) -> float:
        return sum(s.wall for s in inner if s.name == name and parent in (None, s.parent.name))

    m["plans.build_s"] = wall("plans.build")
    m["plans.execute_s"] = wall("plans.execute")
    m["plans.build_jobs"] = sum(len(assigned.get(id(s), [])) for s in inner if s.name == "plans.build")
    for step in ("build", "parquet", "csv"):
        m[f"ingest.{step}_s"] = wall(f"ingest.{step}", parent="etl.batch")
    m["ingest.rerun_s"] = sum(op.wall for op in ops if op.name == "etl.rerun")
    # report_etl facts; a workload without them reads 0
    scans = m["spark.input_mb"] * MB / facts["tree_bytes"] if facts else 0.0
    m["ingest.scan_passes"] = scans
    m["ingest.records_per_s"] = facts["records"] / sum(op.wall for op in ops) if facts else 0.0
    m["ingest.useful_row_ratio"] = facts["rows_written"] / (facts["tree_records"] * scans) if facts else 0.0
    for k in ("parquet_bytes_per_record", "csv_bytes_per_record", "parquet_files"):
        m[f"ingest.{k}"] = facts.get(k, 0.0)
    return m


def pass_metrics(spans: list[Span], jobs: list[Job], outcome, cores: int) -> dict[str, float]:
    """Median over measured passes of each per-pass layer metric. A
    layer a workload does not exercise (ingest on query_mix, plans on
    report_etl) reads 0."""
    assigned = assign_jobs(spans, jobs)
    per_pass = [
        _one_pass(ops, spans, assigned, cores, facts)
        for ops, facts in zip(outcome.passes, outcome.facts)
    ]
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
