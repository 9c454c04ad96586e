"""The benchmark's workloads: one client in a closed loop, timing calls
into the engine's public functions, each inside a span.

A workload runs passes: one warm pass, which is part of set-up, then
measured passes. A pass is a list of top-level operation spans;
per-pass numbers are reported as medians over the measured passes of a
run.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import numpy as np

from reports_generator_spark.config import ERP_HEADERS, ReportConfig
from reports_generator_spark.ingest import ingest_reports, write_csv, write_parquet_idempotent
from reports_generator_spark.plans import registry
from reports_generator_spark.session import tune
from reports_generator_spark.sources.tables import TABLES, load_table

import check
import reports
from spans import Span, Tracer

#: the query mix: four single-table or two-way-join TPC-H-shaped keys
#: plus one sub-second key from each family (scan, agg, join, window,
#: sql, text, feature). A pass is short so that a run measures several
#: passes, whose median rides out a short burst of host contention.
QUERY_KEYS = (
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q12_priority_class",
    "q14_promo_revenue",
    "scan_parquet",
    "agg_collect_ordered",
    "join_semi",
    "window_ranking",
    "sql_pivot_clause",
    "text_token_count",
    "feature_minmax_scale",
)
#: keys checked against their oracle per run; consecutive seeds rotate
#: through all of them
CHECKS_PER_RUN = 6
SENTINEL_KEY = "q6_forecast_revenue"
GENERATION_DATE = "2019-06-30 00:00:00"


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: seconds of the warm pass's operations
    warm_s: float = 0.0
    passes: list[list[Span]] = field(default_factory=list)
    #: per measured pass: no operation or check in it failed
    clean: list[bool] = field(default_factory=list)
    #: per-pass workload facts for the layer metrics (report_etl)
    facts: list[dict[str, float]] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def run_passes(out: Outcome, one_pass: Callable[[], tuple[list[Span], dict]], seconds: float) -> None:
    """A warm pass (first-execution code generation, Python worker and
    Arrow start, JIT compilation), then measured passes, at least one,
    for as long as one more pass of their mean length ends within
    ``seconds``."""
    out.warm_s = sum(s.wall for s in one_pass()[0])
    t0 = time.perf_counter()
    while True:
        failed = out.failed
        ops, facts = one_pass()
        out.passes.append(ops)
        out.facts.append(facts)
        out.clean.append(out.failed == failed)
        n = len(out.passes)
        if (time.perf_counter() - t0) * (n + 1) / n > seconds:
            break


def noop_save(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_key(spark, tracer: Tracer, sf_dir: str, name: str) -> Span:
    """Build one registered key and run it into the noop sink."""
    with tracer.span(f"key.{name}") as s:
        with tracer.span("plans.build"):
            df = registry.QUERIES[name](spark, sf_dir)
        with tracer.span("plans.execute"):
            noop_save(df)
    # keys may leave runtime conf changed until their frame executes
    tune(spark)
    return s


def sentinel_s(spark, sf_dir: str) -> float:
    """Median of three timings of a small scan-filter-aggregate key; it
    moves with host contention, not with the workload."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        noop_save(registry.QUERIES[SENTINEL_KEY](spark, sf_dir))
        times.append(time.perf_counter() - t0)
    tune(spark)
    return statistics.median(times)


def load_table_probe(spark, sf_dir: str) -> float:
    """Median seconds of one ``load_table`` call over the fixture tables."""
    times = []
    for t in TABLES:
        t0 = time.perf_counter()
        load_table(spark, sf_dir, t)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# ---------------------------------------------------------------- query_mix


def run_query_mix(spark, tracer: Tracer, sf_dir: str, seed: int, seconds: float) -> Outcome:
    """Passes over the keys, each in a new seeded order; then a seeded
    share of the keys is checked against its oracle."""
    out = Outcome()
    rng = np.random.default_rng(seed)

    def one_pass() -> tuple[list[Span], dict]:
        ops = []
        for name in rng.permutation(QUERY_KEYS):
            out.attempted += 1
            try:
                ops.append(time_key(spark, tracer, sf_dir, name))
            except Exception as exc:  # a failing key must not hide the rest
                out.fail(f"{name}: {exc!r}"[:300])
        return ops, {}

    run_passes(out, one_pass, seconds)
    con = check.duck_views(sf_dir, TABLES)
    try:
        for i in range(CHECKS_PER_RUN):
            name = QUERY_KEYS[(CHECKS_PER_RUN * seed + i) % len(QUERY_KEYS)]
            out.attempted += 1
            try:
                got = registry.QUERIES[name](spark, sf_dir).toPandas()
                bad = check.compare_frames(got, con.execute(registry.ORACLES[name]).fetchdf())
            except Exception as exc:  # a check that raises counts as failed
                bad = f"{exc!r}"[:300]
            tune(spark)
            if bad:
                out.fail(f"{name}: {bad}")
    finally:
        con.close()
    return out


# ---------------------------------------------------------------- report_etl


def etl_config(landing: str) -> ReportConfig:
    return ReportConfig(
        input_dir=landing,
        output_parquet="",
        output_csv="",
        generation_date=GENERATION_DATE,
    )


def land_batch(spark, tracer: Tracer, cfg: ReportConfig, parquet: str, csv: str) -> None:
    """The paper's job over the whole landing tree."""
    with tracer.span("ingest.build"):
        df = ingest_reports(spark, cfg)
    with tracer.span("ingest.parquet"):
        fresh = write_parquet_idempotent(spark, df, parquet)
    with tracer.span("ingest.csv"):
        write_csv(fresh, csv)


def _read_parquet(parquet: str) -> str:
    return f"read_parquet('{parquet}/*.parquet')"


def _read_csv(csv: str) -> str:
    # by header name: files appended after the first batch come from a
    # left-anti join, which moves RUTA_DE_REPORTE to the first column
    return (
        f"read_csv('{csv}/*.csv', header=true, union_by_name=true, all_varchar=true,"
        " allow_quoted_nulls=false)"
    )


def _sink_counts(con, parquet: str, csv: str) -> tuple[int, int]:
    return tuple(
        con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        for src in (_read_parquet(parquet), _read_csv(csv))
    )


def _sink_rows(con, src: str) -> list[tuple]:
    """Sink rows in ERP_HEADERS order, RUTA_DE_REPORTE cut to the file
    name as the golden has it."""
    cols = ", ".join(f'"{h}"' for h in ERP_HEADERS)
    rows = con.execute(f"SELECT {cols} FROM {src}").fetchall()
    return sorted(r[:2] + (os.path.basename(r[2]),) + r[3:] for r in rows)


def _dir_bytes(path: str, pattern: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, pattern))
    return len(files), sum(os.path.getsize(f) for f in files)


def run_etl(spark, tracer: Tracer, run_dir: str, seed: int, seconds: float) -> Outcome:
    """Passes of: for each batch, deliver it, land the whole tree
    (batch), then land the unchanged tree again (rerun), which must
    write nothing. Sink row counts are checked after every operation
    and sink contents against the golden after each pass."""
    out = Outcome()
    batches = reports.plan_batches(seed)
    want = [sorted(reports.expected_rows(batches, i, GENERATION_DATE)) for i in range(len(batches))]
    base = os.path.join(run_dir, "etl")
    landing, parquet, csv = (os.path.join(base, d) for d in ("landing", "parquet", "csv"))
    cfg = etl_config(landing)
    con = duckdb.connect()

    def one_pass() -> tuple[list[Span], dict]:
        shutil.rmtree(base, ignore_errors=True)
        ops: list[Span] = []
        facts = {"tree_bytes": 0.0, "tree_records": 0.0, "rows_written": 0.0}
        written = 0
        for i in range(len(batches)):
            reports.deliver(landing, batches, i)
            size = reports.tree_bytes(landing)
            for kind in ("batch", "rerun"):
                out.attempted += 1
                try:
                    with tracer.span(f"etl.{kind}") as s:
                        land_batch(spark, tracer, cfg, parquet, csv)
                except Exception as exc:  # count it, keep the run going
                    out.fail(f"batch {i} {kind}: {exc!r}"[:300])
                    continue
                ops.append(s)
                try:
                    n_pq, n_csv = _sink_counts(con, parquet, csv)
                except Exception as exc:
                    out.fail(f"batch {i} {kind}: sinks unreadable: {exc!r}"[:300])
                    continue
                if n_pq != len(want[i]) or n_csv != len(want[i]):
                    out.fail(f"batch {i} {kind}: sinks hold {n_pq}/{n_csv} rows, want {len(want[i])}")
                facts["tree_bytes"] += size
                facts["tree_records"] += len(want[i])
                facts["rows_written"] += n_pq - written
                written = n_pq
        expected = want[-1]
        out.attempted += 1
        for sink, src in (("parquet", _read_parquet(parquet)), ("csv", _read_csv(csv))):
            try:
                got = _sink_rows(con, src)
            except Exception as exc:
                out.fail(f"{sink} sink unreadable: {exc!r}"[:300])
                break
            if got != expected:
                g, w = next(((g, w) for g, w in zip(got, expected) if g != w), (len(got), len(expected)))
                out.fail(f"{sink} sink differs from the golden: {g} != {w}")
                break
        n_records = len(expected)
        n_files, pq_bytes = _dir_bytes(parquet, "*.parquet")
        facts.update(
            records=n_records,
            parquet_files=n_files,
            parquet_bytes_per_record=pq_bytes / n_records,
            csv_bytes_per_record=_dir_bytes(csv, "*.csv")[1] / n_records,
        )
        return ops, facts

    try:
        run_passes(out, one_pass, seconds)
    finally:
        con.close()
        shutil.rmtree(base, ignore_errors=True)
    return out
