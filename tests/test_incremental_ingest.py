"""Incremental report landing: the report key, scan-level idempotency
and the cost of building the ingest plan.

The idempotency key RUTA_DE_REPORTE is derived from the scan's file
metadata so that a filter on it prunes files at the scan. These tests
pin that the key is byte-identical to the `input_file_name()` form
existing sinks hold, that a rerun over an unchanged tree writes no
file, and that the sink lookup never mistakes a missing key column for
"nothing processed".
"""

from __future__ import annotations

import glob
import os
import threading

import py4j.clientserver
import pytest

from reports_generator_spark.config import ReportConfig
from reports_generator_spark.ingest import ingest_reports, write_csv, write_parquet_idempotent
from reports_generator_spark.ingest.fixtures import INPUT_KEYS, block_values, write_report_files
from reports_generator_spark.ingest.reports import (
    ingest_report_lines,
    lines_from_wholetext,
    report_keys,
)
from reports_generator_spark.ingest.sinks import REPORT_PATH_COL, pending_rows

GEN_DATE = "2026-01-01 00:00:00"

#: file names the URI encoding treats specially, some in nested
#: directories whose names need encoding too
ODD_NAMES = (
    "[ERP]_REPORT_PARQUET_DATE_OF_PROCESSS[04-08-2019T13_51_30].TXT",
    "with space.TXT",
    "a+b.TXT",
    "pct%25lit.TXT",
    "generación_ñandú.TXT",
    "sub dir/[ISU]_nested+1.TXT",
    "sub%41/deeper/x y%2B.TXT",
)


def _cfg(landing: str, charset: str = "UTF-8") -> ReportConfig:
    return ReportConfig(
        input_dir=landing, output_parquet="", output_csv="",
        charset=charset, generation_date=GEN_DATE,
    )


def _write_named(landing: str, names=ODD_NAMES, encoding: str = "utf-8") -> None:
    for i, name in enumerate(names):
        path = os.path.join(landing, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        vals = block_values(i, 0)
        with open(path, "w", encoding=encoding) as fh:
            fh.write("\n".join(f"{k}: {vals[k]}" for k in INPUT_KEYS) + "\n")


def _legacy_frame(spark, landing: str):
    """The ingest keyed on input_file_name(), as sinks written before
    the key came from the scan's file metadata hold it."""
    raw = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.TXT")
        .text(landing, wholetext=True)
    )
    return ingest_report_lines(lines_from_wholetext(raw), _cfg(landing))


def _keys(df) -> list[str]:
    return sorted(r[0] for r in df.select(REPORT_PATH_COL).collect())


def _files(*dirs: str) -> set[str]:
    return {f for d in dirs for f in glob.glob(os.path.join(d, "*"))}


def _jobs(spark, group: str, action) -> tuple[object, int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_report_key_is_the_input_file_name_key(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _write_named(landing)
    df = ingest_reports(spark, _cfg(landing))
    want = _keys(_legacy_frame(spark, landing))
    assert len(want) == len(ODD_NAMES)
    assert _keys(df) == want
    # the driver-side decoding of the scan's file list gives the same keys
    assert sorted(report_keys(spark, df.inputFiles())) == want


def test_latin1_reader_stores_the_utf8_key(spark, tmp_path):
    """Both readers key on the same scan metadata: a name with `+` or
    `%xx` is not decoded differently by the binaryFile path."""
    utf8, latin1 = str(tmp_path / "utf8"), str(tmp_path / "latin1")
    _write_named(utf8)
    _write_named(latin1, encoding="iso-8859-1")
    got = _keys(ingest_reports(spark, _cfg(latin1, charset="ISO-8859-1")))
    want = _keys(ingest_reports(spark, _cfg(utf8)))
    assert got == [k.replace(utf8, latin1, 1) for k in want]


def test_sink_with_input_file_name_keys_is_recognised(spark, tmp_path):
    landing, pq = str(tmp_path / "landing"), str(tmp_path / "pq")
    _write_named(landing)
    _legacy_frame(spark, landing).write.parquet(pq)
    fresh = write_parquet_idempotent(spark, ingest_reports(spark, _cfg(landing)), pq)
    assert fresh.count() == 0
    assert spark.read.parquet(pq).count() == len(ODD_NAMES)


def test_processed_files_are_filtered_at_the_text_scan(spark, tmp_path):
    landing, pq = str(tmp_path / "landing"), str(tmp_path / "pq")
    write_report_files(landing, n_files=3, blocks_per_file=2)
    write_parquet_idempotent(spark, ingest_reports(spark, _cfg(landing)), pq)
    write_report_files(os.path.join(landing, "next"), n_files=2, blocks_per_file=3)
    pending = pending_rows(spark, ingest_reports(spark, _cfg(landing)), pq)
    plan = pending._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan text" in ln]
    assert len(scans) == 1, plan
    assert "DataFilters: [NOT " in scans[0] and "file_path" in scans[0], plan
    assert pending.count() == 6


def test_noop_rerun_writes_no_file(spark, tmp_path):
    """A rerun over an unchanged tree runs one lookup job and adds no
    file to either sink (no empty parquet part, no header-only CSV)."""
    landing = str(tmp_path / "landing")
    pq, out = str(tmp_path / "pq"), str(tmp_path / "csv")
    write_report_files(landing, n_files=3, blocks_per_file=2)
    cfg = _cfg(landing)
    fresh, _ = _jobs(spark, "land", lambda: write_parquet_idempotent(spark, ingest_reports(spark, cfg), pq))
    _, csv_jobs = _jobs(spark, "land-csv", lambda: write_csv(fresh, out))
    assert csv_jobs == 1
    before = _files(pq, out)

    def rerun():
        again = write_parquet_idempotent(spark, ingest_reports(spark, cfg), pq)
        write_csv(again, out)
        return again

    again, jobs = _jobs(spark, "rerun", rerun)
    assert _files(pq, out) == before
    assert jobs == 1
    assert again.count() == 0
    assert spark.read.parquet(pq).count() == 6


@pytest.mark.parametrize("sink", ["no_key_column", "bigint_key"])
@pytest.mark.parametrize("frame", ["batch", "stream"])
def test_sink_without_a_string_key_raises(spark, tmp_path, sink, frame):
    """The sink's key column is read with a known schema; a file that
    lacks it must fail the lookup, never read as null keys that match
    nothing (which would re-append everything)."""
    landing, pq = str(tmp_path / "landing"), str(tmp_path / "pq")
    write_report_files(landing, n_files=2, blocks_per_file=2)
    bad = spark.range(3)
    if sink == "bigint_key":
        bad = bad.withColumnRenamed("id", REPORT_PATH_COL)
    bad.write.parquet(pq)
    df = ingest_reports(spark, _cfg(landing))
    if frame == "stream":  # no file listing: the anti-join path
        df = spark.createDataFrame(df.collect(), df.schema)
        assert df.inputFiles() == []
    with pytest.raises(Exception):
        write_parquet_idempotent(spark, df, pq)
    assert spark.read.parquet(pq).count() == 3


def test_ingest_plan_build_py4j_budget(spark, tmp_path, monkeypatch):
    """Building the ingest plan takes a fixed, small number of Py4J
    round trips from the calling thread (about 2,150 when each column
    was built from `F.*` calls). Py4J's finalizer thread sends the
    release messages of garbage Java objects on its own, in numbers
    that depend on earlier tests, so those are not counted."""
    landing = str(tmp_path / "landing")
    write_report_files(landing, n_files=2, blocks_per_file=2)
    cfg = _cfg(landing)
    ingest_reports(spark, cfg)  # warm: first-use class lookups
    calls = 0
    caller = threading.get_ident()
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == caller
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    ingest_reports(spark, cfg)
    assert 0 < calls <= 300, calls
