"""E1 report-ingest golden tests.

Covers the full grammar derived from the reference (SURVEY.md §2.1):
block assembly, SI/NO normalization, skip-9/10 positional projection,
filename-date extraction, report-type classification, count-diff
arithmetic, schema contract, idempotent parquet sink, and the
recursive-scan extension filter.
"""

from __future__ import annotations

import csv
import glob
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from reports_generator_spark.config import (
    ERP_HEADERS,
    ISU_HEADERS,
    MAIN_PROTO_HEADERS,
    ReportConfig,
)
from reports_generator_spark.ingest import ingest_reports, write_csv, write_parquet_idempotent
from reports_generator_spark.ingest.fixtures import (
    block_values,
    report_file_name,
    write_report_files,
)
from reports_generator_spark.schemas import typed_view

GEN_DATE = "2026-01-01 00:00:00"


@pytest.fixture(scope="module")
def report_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reports"))
    write_report_files(d, n_files=3, blocks_per_file=4)
    return d


@pytest.fixture(scope="module")
def ingested(spark, report_dir):
    cfg = ReportConfig(
        input_dir=report_dir, output_parquet="", output_csv="", generation_date=GEN_DATE
    )
    df = ingest_reports(spark, cfg)
    df.cache()
    yield df
    df.unpersist()


def test_row_count_and_schema(ingested):
    assert ingested.count() == 12  # 3 files x 4 blocks
    assert [f.name for f in ingested.schema.fields] == list(ERP_HEADERS)
    assert all(f.dataType.typeName() == "string" for f in ingested.schema.fields)


def test_golden_block_values(ingested):
    """Every positional field of file 0 / block 0 lands in the right
    public column (the reference's skip-9/10 mapping)."""
    vals = block_values(0, 0)
    row = (
        ingested.filter(
            (F.col("ARCHIVO_PROCESADO") == vals["file"])
        ).collect()
    )[0]
    assert row["MODULO"] == "ERP"
    assert row["NOMBRE_DE_TABLA_ASIGNADO_EN_LANDING_RAW_POR_ARCHIVO"] == vals["tableNameFromFile"]
    assert row["NOMBRE_DE_TABLA_ASIGNADO_EN_LOS_PARAMETROS"] == vals["tableNameFromJson"]
    assert row["CABECERA_ASIGNADA"] == vals["headersFromJson"]
    assert row["CONTEO_CABECERA_ASIGNADO_ENVIADO_POR_EL_SISTEMA"] == vals["countHeadersFromJson"]
    assert row["CONTEO_CABECERA_POR_ARCHIVO"] == vals["countHeadersFromFile"]
    assert row["CABECERA_IDENTIFICADA_EN_EL_ARCHIVO"] == vals["headersFromFile"]
    assert row["NOMBRE_DE_DIRECTORIO"] == vals["fileDirectory"]
    assert row["RUTA_EN_LANDING_RAW_ARCHIVO_SIN_TRANSFORMAR"] == vals["filePath"]
    assert row["TAMANO_DE_ARCHIVO_BYTES"] == vals["fileSize"]
    assert row["VALIDACION_SHA"] == vals["fileValidSha"]
    assert row["FORMATO_DE_ALMACENAMIENTO_DE_ARCHIVO_TRANSFORMADO"] == vals["fileColForSchema"]
    assert row["NOMBRE_TABLA"] == vals["fileTableName"]
    assert row["RUTA_EN_LANDINGRAW"] == vals["fileColForPathTable"]
    assert row["TOTAL_COLUMNAS_PREPARACION_DE_MARCO_DE_DATOS"] == vals["fileAntColForCountColumns"]
    assert row["TOTAL_REGISTROS_PREPARACION_DE_MARCO_DE_DATOS"] == vals["fileAntColForCountRows"]
    # reference contract quirk (see ingest/reports.py ERP_FIELD_ORDER):
    # DIFERENCIA_* carries the official counts; TOTAL_*_OFICIAL the diffs
    assert row["DIFERENCIA_TOTAL_COLUMNAS"] == vals["fileColForCountColumns"]
    assert row["DIFERENCIA_TOTAL_REGISTROS"] == vals["fileColForCountRows"]
    assert row["ESTADO_DEL_PROCESO"] == vals["status"]
    assert row["GEBERATION_DATE"] == GEN_DATE
    # the ignored positions 9/10 must appear NOWHERE in the row
    assert vals["ignoredChecksumA"] not in list(row)
    assert vals["ignoredChecksumB"] not in list(row)


def test_si_no_normalization(ingested):
    """equalsHeaders true/false -> SI/NO (Proof.scala:113-123)."""
    got = {
        (r["ARCHIVO_PROCESADO"], r["CABECERAS_IGUALES"]) for r in ingested.collect()
    }
    for f in range(3):
        for b in range(4):
            vals = block_values(f, b)
            expect = "SI" if vals["equalsHeaders"] == "true" else "NO"
            assert (vals["file"], expect) in got


def test_count_diffs(ingested):
    """difCountCol/Row are real arithmetic, not 'Proof'/'Proof2'.
    Per the contract quirk, the computed differences surface in the
    TOTAL_*_OFICIAL columns."""
    for r in ingested.collect():
        ant_c = int(r["TOTAL_COLUMNAS_PREPARACION_DE_MARCO_DE_DATOS"])
        of_c = int(r["DIFERENCIA_TOTAL_COLUMNAS"])
        assert r["TOTAL_COLUMNAS_OFICIAL"] == str(ant_c - of_c)
        ant_r = int(r["TOTAL_REGISTROS_PREPARACION_DE_MARCO_DE_DATOS"])
        of_r = int(r["DIFERENCIA_TOTAL_REGISTROS"])
        assert r["TOTAL_REGISTROS_OFICIAL"] == str(ant_r - of_r)


def test_enrichment_metadata(ingested):
    rows = ingested.collect()
    for r in rows:
        # file-name generation date extracted via regex
        assert r["FECHA_DE_GENERACION_DE_REPORTE"].endswith("_30")
        assert "T" in r["FECHA_DE_GENERACION_DE_REPORTE"]
        # source path is the real file URI
        assert r["RUTA_DE_REPORTE"].endswith(".TXT")
    # every fixture block contains a 'parquet' token in fileColForSchema
    # for even b; all blocks of a file share report type (per-block here)
    types = {r["TIPO_DE_REPORTE"] for r in rows}
    assert types <= {"Generación de Parquet", ""}
    assert "Generación de Parquet" in types


def test_decoy_extension_ignored(ingested):
    """.log decoy with a status line must not produce records (S1)."""
    assert ingested.filter(F.col("RUTA_DE_REPORTE").endswith(".log")).count() == 0


def test_isu_headers_contract(spark, report_dir):
    cfg = ReportConfig(
        input_dir=report_dir,
        output_parquet="",
        output_csv="",
        module="ISU",
        generation_date=GEN_DATE,
    )
    df = ingest_reports(spark, cfg)
    assert [f.name for f in df.schema.fields] == list(ISU_HEADERS)
    r = df.limit(1).collect()[0]
    assert r["MODULO"] == "ISU"
    assert r["NOMBRE_ZIP"] == ""  # no zip lines in the ERP fixtures


def test_main_prototype_grammar(spark, report_dir):
    """Main.scala:44-63,109-112's 20-column prototype registers as a
    plain config variant: bare positional fields (skip 9/10), no
    enrichment columns — proving the schema layer is config-driven."""
    cfg = ReportConfig(
        input_dir=report_dir,
        output_parquet="",
        output_csv="",
        module="MAIN",
        generation_date=GEN_DATE,
    )
    df = ingest_reports(spark, cfg)
    assert [f.name for f in df.schema.fields] == list(MAIN_PROTO_HEADERS)
    assert df.count() == 12
    vals = block_values(0, 0)
    row = df.filter(F.col("ARCHIVO_PROCESADO") == vals["file"]).collect()[0]
    assert row["NOMBRE_DE_TABLA_ASIGNADO_EN_LANDING_RAW_POR_ARCHIVO"] == vals["tableNameFromFile"]
    assert row["CABECERAS_IGUALES"] in ("SI", "NO")  # P4 still applies
    assert row["TAMANO_DE_ARCHIVO_(BYTES)"] == vals["fileSize"]
    # prototype carries the RAW official counts in the last block —
    # no diff arithmetic, no swap quirk (that arrived with ERP)
    assert row["TOTAL_COLUMNAS_OFICIAL"] == vals["fileColForCountColumns"]
    assert row["TOTAL_REGISTROS_OFICIAL"] == vals["fileColForCountRows"]
    assert row["ESTADO_DEL_PROCESO"] == vals["status"]


def test_isu_zip_fields_keyed(spark, tmp_path):
    """ISU grammar completion: zip lines are extracted BY KEY and do
    not shift the 22 positional slots (readFilesISU TODO done)."""
    from reports_generator_spark.ingest.fixtures import INPUT_KEYS

    d = str(tmp_path / "isu_reports")
    import os

    os.makedirs(d)
    path = os.path.join(
        d, "[ISU]_REPORT_PARQUET_DATE_OF_PROCESSS[04-08-2019T13_51_30].TXT"
    )
    with open(path, "w", encoding="utf-8") as fh:
        for i, k in enumerate(INPUT_KEYS):
            fh.write(f"{k}: v{i}\n")
            if k == "equalsHeaders":  # zip lines interleaved mid-block
                fh.write("zipName: archive.zip\n")
                fh.write("zipSize: 12345\n")
    cfg = ReportConfig(
        input_dir=d,
        output_parquet="",
        output_csv="",
        module="ISU",
        generation_date=GEN_DATE,
    )
    r = ingest_reports(spark, cfg).collect()
    assert len(r) == 1
    row = r[0]
    assert row["NOMBRE_ZIP"] == "archive.zip"
    assert row["TAMANO_ZIP_BYTES"] == "12345"
    assert row["INFO_FILE"] == ""  # absent key -> empty string
    # positional fields unshifted despite the interleaved zip lines
    assert row["ARCHIVO_PROCESADO"] == "v0"
    assert row["NOMBRE_DE_DIRECTORIO"] == "v10"
    assert row["ESTADO_DEL_PROCESO"] == "v21"


def test_typed_view(ingested):
    tv = typed_view(ingested)
    r = tv.limit(1).collect()[0]
    assert isinstance(r["TAMANO_DE_ARCHIVO_BYTES"], int)
    assert r["CABECERAS_IGUALES"] in (True, False)


def _cfg(landing: str) -> ReportConfig:
    return ReportConfig(
        input_dir=landing, output_parquet="", output_csv="", generation_date=GEN_DATE
    )


def _land(spark, landing, pq, out):
    """The paper's job over ``landing``: both sinks from one call of the
    idempotent parquet sink. Returns the rows it appended."""
    fresh = write_parquet_idempotent(spark, ingest_reports(spark, _cfg(landing)), pq)
    write_csv(fresh, out)
    return fresh


def _parquet_rows(spark, pq) -> Counter:
    return Counter(
        tuple("" if r[h] is None else r[h] for h in ERP_HEADERS)
        for r in spark.read.parquet(pq).collect()
    )


def _csv_headers(out) -> list[list[str]]:
    """Header line of every non-empty CSV part file."""
    headers = []
    for f in sorted(glob.glob(os.path.join(out, "*.csv"))):
        with open(f, newline="", encoding="utf-8") as fh:
            header = next(csv.reader(fh), None)
        if header is not None:
            headers.append(header)
    return headers


def _csv_rows(out) -> Counter:
    """CSV sink rows in ERP_HEADERS order, each part read by its header."""
    rows = Counter()
    for f in glob.glob(os.path.join(out, "*.csv")):
        with open(f, newline="", encoding="utf-8") as fh:
            for rec in csv.DictReader(fh):
                rows[tuple(rec[h] for h in ERP_HEADERS)] += 1
    return rows


def test_csv_parts_share_the_erp_header(spark, tmp_path):
    """CSV files appended by a later batch keep the first batch's
    column order: the anti-join output is projected back to ERP order."""
    landing = str(tmp_path / "landing")
    pq, out = str(tmp_path / "pq"), str(tmp_path / "csv")
    write_report_files(landing, n_files=3, blocks_per_file=4)
    assert _land(spark, landing, pq, out).count() == 12
    write_report_files(os.path.join(landing, "next"), n_files=2, blocks_per_file=3)
    assert _land(spark, landing, pq, out).count() == 6
    headers = _csv_headers(out)
    assert len(headers) >= 2
    assert all(h == list(ERP_HEADERS) for h in headers)


@pytest.mark.parametrize("change", ["rewrite", "delete"])
@pytest.mark.parametrize("first_write", [True, False], ids=["overwrite", "append"])
def test_returned_frame_is_the_rows_written(spark, tmp_path, first_write, change):
    """The CSV sink written from the returned frame holds exactly the
    rows the parquet sink gained, even when a report is rewritten in
    place or the landing tree vanishes between the two writes: the
    rows are scanned and parsed once."""
    landing = str(tmp_path / "landing")
    pq, out = str(tmp_path / "pq"), str(tmp_path / "csv")
    before = Counter()
    if not first_write:
        write_report_files(landing, n_files=3, blocks_per_file=4)
        _land(spark, landing, pq, str(tmp_path / "csv0"))
        before = _parquet_rows(spark, pq)
    target = write_report_files(os.path.join(landing, "next"), n_files=2, blocks_per_file=4)[0]
    fresh = write_parquet_idempotent(spark, ingest_reports(spark, _cfg(landing)), pq)
    if change == "rewrite":
        # same path, one block instead of four
        short = str(tmp_path / "short")
        write_report_files(short, n_files=1, blocks_per_file=1, nested=False)
        shutil.copy(os.path.join(short, report_file_name(0)), target)
    else:
        shutil.rmtree(landing)
    write_csv(fresh, out)
    gained = _parquet_rows(spark, pq) - before
    assert sum(gained.values()) == 8
    assert _csv_rows(out) == gained


def test_idempotent_parquet_sink(spark, report_dir, tmp_path):
    sink, out = str(tmp_path / "parquet_sink"), str(tmp_path / "csv_sink")
    assert _land(spark, report_dir, sink, out).count() == 12
    assert spark.read.parquet(sink).count() == 12
    # re-ingesting the same reports appends nothing to either sink
    # (P13 done right)
    assert _land(spark, report_dir, sink, out).count() == 0
    assert spark.read.parquet(sink).count() == 12
    assert sum(_csv_rows(out).values()) == 12


def test_single_file_appends_one_parquet_file(spark, tmp_path):
    """single_file coalesces only the parquet write: each batch adds
    exactly one parquet file, and the returned frame keeps the input's
    partitioning for the CSV write."""
    landing = str(tmp_path / "landing")
    pq = str(tmp_path / "pq")

    def land():
        df = ingest_reports(spark, _cfg(landing)).repartition(3)
        return write_parquet_idempotent(spark, df, pq, single_file=True)

    def n_files():
        return len(glob.glob(os.path.join(pq, "*.parquet")))

    write_report_files(landing, n_files=3, blocks_per_file=4)
    first = land()
    assert (first.count(), n_files()) == (12, 1)
    assert first.rdd.getNumPartitions() > 1
    write_report_files(os.path.join(landing, "next"), n_files=2, blocks_per_file=3)
    second = land()
    assert (second.count(), n_files()) == (6, 2)
    assert second.rdd.getNumPartitions() > 1
    assert spark.read.parquet(pq).count() == 18


def test_quarantine_routes_malformed_blocks(spark, tmp_path):
    """P12 done right: a truncated trailing block (no terminator) and a
    short block land in quarantine with reasons; good blocks are
    unaffected; nothing is silently dropped."""
    from reports_generator_spark.ingest.fixtures import INPUT_KEYS
    from reports_generator_spark.ingest.reports import (
        ingest_with_quarantine,
        read_report_lines,
    )

    d = str(tmp_path / "qreports")
    write_report_files(d, n_files=1, blocks_per_file=2, nested=False)
    # append a malformed tail: a short block (terminated early) and a
    # truncated block with no terminator at EOF
    path = [p for p in os.listdir(d) if p.endswith(".TXT")][0]
    with open(os.path.join(d, path), "a", encoding="utf-8") as fh:
        fh.write("file: short.csv\nstatus: BROKEN\n")      # short but terminated
        fh.write("file: tail.csv\ntableName: t\n")          # no terminator
    cfg = ReportConfig(
        input_dir=d, output_parquet="", output_csv="", generation_date=GEN_DATE
    )
    good, quar = ingest_with_quarantine(read_report_lines(spark, cfg), cfg)
    assert good.count() == 2
    reasons = {r["reject_reason"] for r in quar.collect()}
    assert reasons == {"short_block", "no_terminator"}


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Fragmented sink (64 tiny files) -> compaction to target size
    must collapse the file count without touching a single row."""
    from reports_generator_spark.ingest.sinks import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(src)

    stats = compact_parquet(spark, src, dst, target_bytes_per_file=10 * 1024 * 1024)
    assert stats["files_before"] == 64
    assert stats["files_after"] < 8
    assert stats["n_rows"] == 10000
    before = {(r["id"], r["v"]) for r in spark.read.parquet(src).collect()}
    after = {(r["id"], r["v"]) for r in spark.read.parquet(dst).collect()}
    assert before == after


def test_ingest_latin1_charset(spark, tmp_path):
    """The reference declares (but never uses) a charset property
    (Proof.scala:26); the completed path must ingest ISO-8859-1 report
    dumps losslessly — bytes like 0xF3 ('ó') are invalid UTF-8 and
    would mojibake through the text source."""
    from reports_generator_spark.ingest.fixtures import INPUT_KEYS, report_file_name

    d = str(tmp_path / "latin1")
    os.makedirs(d, exist_ok=True)
    vals = block_values(0, 0)
    vals["fileDirectory"] = "/landing/generación"
    lines = "\n".join(f"{k}: {vals[k]}" for k in INPUT_KEYS) + "\n"
    with open(os.path.join(d, report_file_name(0)), "w", encoding="iso-8859-1") as fh:
        fh.write(lines)

    cfg = ReportConfig(input_dir=d, output_parquet="", output_csv="",
                       charset="ISO-8859-1", generation_date=GEN_DATE)
    df = ingest_reports(spark, cfg)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["NOMBRE_DE_DIRECTORIO"] == "/landing/generación"


def test_python_datasource_equals_dataframe_pipeline(spark):
    """The connector (pyspark.sql.datasource) and the DataFrame
    pipeline are two independent implementations of the E1 contract —
    their outputs must be row-identical on the shared fixture corpus
    (both are separately attested against the golden CSV; this pins
    them against each other directly, including column order)."""
    from reports_generator_spark.plans import registry

    registry.load_all()
    from conftest import SF_DIR

    ds = registry.QUERIES["report_ingest_python_datasource"](spark, SF_DIR)
    pipe = registry.QUERIES["report_ingest"](spark, SF_DIR)
    assert ds.columns == pipe.columns
    assert ds.exceptAll(pipe).count() == 0
    assert pipe.exceptAll(ds).count() == 0
    assert ds.count() == pipe.count() > 0


def test_datasource_parser_zip_lines_and_dirty_counts(tmp_path):
    """The connector parser must mirror the DataFrame path on the two
    divergence classes a pure-ERP fixture never exercises: ISU-style
    keyed zip lines are excluded from the positional array (positions
    must not shift), and count fields follow try_cast's strict bigint
    grammar ('1_0' and unicode digits yield '' like try_cast NULL,
    not Python int()'s permissive parse)."""
    from reports_generator_spark.ingest.fixtures import INPUT_KEYS, block_values
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    vals = block_values(0, 0)
    vals["fileAntColForCountColumns"] = "1_0"  # int('1_0') == 10; try_cast -> NULL
    lines = []
    for i, k in enumerate(INPUT_KEYS):
        if i == 3:
            lines.append("zipName: should_not_shift_positions")  # ISU keyed line
        lines.append(f"{k}: {vals[k]}")
    p = tmp_path / "[ERP]_REPORT_PARQUET_DATE_OF_PROCESSS[01-01-2019T13_00_30].TXT"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")

    from reports_generator_spark.ingest.reports import ERP_FIELD_ORDER

    ds = build_report_datasource()
    rows = list(ds.parse_report_file(str(p), "2026-01-01 00:00:00"))
    assert len(rows) == 1
    row = dict(zip(ERP_FIELD_ORDER, rows[0], strict=True))
    # positions unshifted despite the injected zip line
    assert row["file"] == vals["file"]
    assert row["status"] == vals["status"]
    assert row["fileColForCountRows"] == vals["fileColForCountRows"]
    # dirty count -> '' (try_cast grammar), not int()'s permissive '0'
    assert row["difCountCol"] == ""
    assert row["fileAntColForCountColumns"] == "1_0"  # raw value kept


def test_datasource_stream_reader_offsets_and_replay(tmp_path):
    """The Simple stream reader's recovery contract, engine-free:
    read(initial) consumes every file and advances the offset;
    readBetweenOffsets over the committed range replays EXACTLY the
    same rows (what a restarted query does); a file arriving after
    the first batch is picked up by the next read from the stored
    offset, without re-emitting batch one."""
    from reports_generator_spark.ingest.fixtures import write_report_files
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    d = str(tmp_path)
    write_report_files(d, n_files=2, blocks_per_file=3)
    ds = build_report_datasource()
    reader = ds(
        options={"path": d, "generation_date": "2026-01-01 00:00:00"}
    ).simpleStreamReader(None)

    start = reader.initialOffset()
    rows1, off1 = reader.read(start)
    assert len(rows1) == 6 and len(off1["seen"]) == 2
    assert sorted(reader.readBetweenOffsets(start, off1)) == sorted(rows1)

    # late-arriving file — and it SORTS BEFORE already-consumed files
    # (write_report_files nests odd-indexed files in a subdir, so the
    # new root-level file lands mid-listing): a consumed-count or
    # watermark offset would re-read or miss here; the seen-set must
    # emit exactly the new file's rows
    write_report_files(d, n_files=3, blocks_per_file=3)  # adds file 2
    rows2, off2 = reader.read(off1)
    assert len(off2["seen"]) == 3
    assert len(rows2) == 3
    assert not set(map(tuple, rows2)) & set(map(tuple, rows1))
    assert sorted(reader.readBetweenOffsets(off1, off2)) == sorted(rows2)


def test_datasource_writer_two_phase_commit_protocol(tmp_path):
    """Engine-free pin of the writer's publish protocol: write() only
    STAGES (hidden .tmp names, no report visible), commit() renames
    everything atomically, abort() removes the staged temps and leaves
    the directory clean — the torn-corpus window the two-phase design
    exists to close."""
    from reports_generator_spark.ingest.reports import ERP_FIELD_ORDER
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    d = str(tmp_path)
    ds = build_report_datasource()
    writer = ds(options={"path": d}).writer(None, False)

    # one minimal row in public order (values unimportant except the
    # localized boolean and the report name)
    vals = {name: f"v_{name}" for name in ERP_FIELD_ORDER}
    vals["equalsHeaders"] = "SI"
    vals["reportPath"] = "r1.TXT"
    row = tuple(vals[n] for n in ERP_FIELD_ORDER)

    class R(tuple):  # Row-alike: __getitem__ by public column name
        def __getitem__(self, k):
            if isinstance(k, str):
                return row[
                    ERP_FIELD_ORDER.index(
                        {"RUTA_DE_REPORTE": "reportPath"}.get(k, k)
                    )
                ]
            return tuple.__getitem__(self, k)

    msg = writer.write(iter([R(row)]))
    staged = [t for t, _f in msg.pairs]
    assert staged and all(os.path.exists(t) for t in staged)
    assert not os.path.exists(os.path.join(d, "r1.TXT"))  # not yet visible

    writer.abort([msg])
    assert not any(os.path.exists(t) for t in staged)

    msg2 = writer.write(iter([R(row)]))
    writer.commit([msg2])
    assert os.path.exists(os.path.join(d, "r1.TXT"))
    body = open(os.path.join(d, "r1.TXT")).read()
    assert "equalsHeaders: true" in body  # SI localized back to raw
    assert not [f for f in os.listdir(d) if f.startswith(".tmp-")]


def test_datasource_writer_refuses_split_reports_and_honors_overwrite(tmp_path):
    """Two review-driven guards, engine-free: (a) commit REFUSES when
    two tasks staged the same report name (last-wins os.replace would
    silently drop one task's rows) and cleans its temps; (b)
    mode('overwrite') removes pre-existing report files the job did
    not re-write, while append leaves them."""
    from reports_generator_spark.ingest.reports import ERP_FIELD_ORDER
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    d = str(tmp_path)
    ds = build_report_datasource()

    vals = {name: f"v_{name}" for name in ERP_FIELD_ORDER}
    vals["equalsHeaders"] = "SI"
    vals["reportPath"] = "r1.TXT"
    row = tuple(vals[n] for n in ERP_FIELD_ORDER)

    class R(tuple):
        def __getitem__(self, k):
            if isinstance(k, str):
                return row[
                    ERP_FIELD_ORDER.index(
                        {"RUTA_DE_REPORTE": "reportPath"}.get(k, k)
                    )
                ]
            return tuple.__getitem__(self, k)

    w = ds(options={"path": d}).writer(None, False)
    m1, m2 = w.write(iter([R(row)])), w.write(iter([R(row)]))  # same name
    with pytest.raises(ValueError, match="repartition by RUTA_DE_REPORTE"):
        w.commit([m1, m2])
    assert not [f for f in os.listdir(d) if f.startswith(".tmp-")]
    assert not os.path.exists(os.path.join(d, "r1.TXT"))

    # overwrite: a stale report not re-written by this job is removed
    with open(os.path.join(d, "stale.TXT"), "w") as fh:
        fh.write("status: OLD\n")
    ow = ds(options={"path": d}).writer(None, True)
    ow.commit([ow.write(iter([R(row)]))])
    assert os.path.exists(os.path.join(d, "r1.TXT"))
    assert not os.path.exists(os.path.join(d, "stale.TXT"))

    # append: the existing corpus survives
    vals2 = dict(vals, reportPath="r2.TXT")
    row2 = tuple(vals2[n] for n in ERP_FIELD_ORDER)

    class R2(R):
        def __getitem__(self, k):
            if isinstance(k, str):
                return row2[
                    ERP_FIELD_ORDER.index(
                        {"RUTA_DE_REPORTE": "reportPath"}.get(k, k)
                    )
                ]
            return tuple.__getitem__(self, k)

    aw = ds(options={"path": d}).writer(None, False)
    aw.commit([aw.write(iter([R2(row2)]))])
    assert os.path.exists(os.path.join(d, "r1.TXT"))
    assert os.path.exists(os.path.join(d, "r2.TXT"))

    # newline injection rejected at write time
    vals3 = dict(vals, headersFromJson="c1\nstatus: X")
    row3 = tuple(vals3[n] for n in ERP_FIELD_ORDER)

    class R3(R):
        def __getitem__(self, k):
            if isinstance(k, str):
                return row3[
                    ERP_FIELD_ORDER.index(
                        {"RUTA_DE_REPORTE": "reportPath"}.get(k, k)
                    )
                ]
            return tuple.__getitem__(self, k)

    with pytest.raises(ValueError, match="newline"):
        ds(options={"path": d}).writer(None, False).write(iter([R3(row3)]))


def test_datasource_pushdown_prunes_files_and_yields_unsupported(tmp_path):
    """Engine-free pin of the reader's pushdown contract: a
    RUTA_DE_REPORTE suffix predicate prunes the partition list (files
    never opened), a MODULO mismatch prunes everything, row-level
    predicates survive to read(), and any predicate outside the
    guaranteed set is yielded BACK by reference (Spark re-evaluates
    it; the source must not silently absorb what it can't honor)."""
    from pyspark.sql.datasource import (
        EqualTo,
        In,
        IsNotNull,
        LessThan,
        StringEndsWith,
    )

    from reports_generator_spark.ingest.fixtures import (
        report_file_name,
        write_report_files,
    )
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    d = str(tmp_path)
    write_report_files(d, n_files=4, blocks_per_file=3)
    cls = build_report_datasource()
    opts = {"path": d, "generation_date": "2026-01-01 00:00:00"}

    # file-level: suffix on the path column prunes 4 -> 1
    r = cls(options=opts).reader(None)
    unsupported = list(
        r.pushFilters(
            [
                StringEndsWith(("RUTA_DE_REPORTE",), report_file_name(1)),
                EqualTo(("CABECERAS_IGUALES",), "SI"),
                IsNotNull(("ARCHIVO_PROCESADO",)),  # absorbed: never null
                LessThan(("ARCHIVO_PROCESADO",), "zzz"),  # not guaranteed
            ]
        )
    )
    assert len(unsupported) == 1 and isinstance(unsupported[0], LessThan)
    parts = r.partitions()
    assert len(parts) == 1 and parts[0].value.endswith(report_file_name(1))
    # row-level predicate applied inside read(): file 1, blocks with
    # b=1000+blk, b%3==0 -> blk 2 only
    rows = list(r.read(parts[0]))
    assert len(rows) == 1

    # constant-column mismatch prunes every file without opening any
    r2 = cls(options=opts).reader(None)
    list(r2.pushFilters([EqualTo(("MODULO",), "ISU")]))
    assert r2.partitions() == []

    # In() on the filename-embedded date column is file-level too
    r3 = cls(options=opts).reader(None)
    list(
        r3.pushFilters(
            [In(("FECHA_DE_GENERACION_DE_REPORTE",), ("01-01-2019T13_00_30",))]
        )
    )
    assert [p.value for p in r3.partitions()] == [
        p.value for p in cls(options=opts).reader(None).partitions()
        if report_file_name(0) in p.value
    ]


def test_datasource_pushdown_e2e_matches_post_scan_filter(spark, tmp_path):
    """The pushed plan and the unpushed plan must agree: reading with
    filters + subset schema through the engine equals filtering the
    full 27-column read afterwards (pushdown is an optimization, never
    a semantics change). Also pins that an empty prune (MODULO='ISU')
    yields zero rows rather than an error (partitions() == [])."""
    import pyspark.sql.functions as F

    from reports_generator_spark.ingest.fixtures import (
        report_file_name,
        write_report_files,
    )
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    d = str(tmp_path / "reports")
    write_report_files(d, n_files=3, blocks_per_file=4)
    spark.dataSource.register(build_report_datasource())

    def base():  # .schema() mutates the reader builder — fresh one each time
        return (
            spark.read.format("reports")
            .option("path", d)
            .option("generation_date", "2026-01-01 00:00:00")
        )

    pushed = (
        base()
        .schema("RUTA_DE_REPORTE string, ESTADO_DEL_PROCESO string")
        .load()
        .filter(F.col("RUTA_DE_REPORTE").endswith(report_file_name(2)))
        .filter(F.col("ESTADO_DEL_PROCESO") == "FINISHED")
    )
    full = (
        base()
        .load()
        .filter(F.col("RUTA_DE_REPORTE").endswith(report_file_name(2)))
        .filter(F.col("ESTADO_DEL_PROCESO") == "FINISHED")
        .select("RUTA_DE_REPORTE", "ESTADO_DEL_PROCESO")
    )
    a, b = pushed.collect(), full.collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) == 3

    empty = base().load().filter(F.col("MODULO") == "ISU")
    assert empty.count() == 0


def test_datasource_parser_any_parquet_includes_zip_lines(spark, tmp_path):
    """ADVICE r10: TIPO_DE_REPORTE derives from a parquet-match over
    ALL block values — including ISU-style zip-keyed lines, which are
    excluded from the POSITIONAL array but not from the type probe
    (parse_blocks_raw aggregates the rlike over every line). A block
    whose only 'parquet' mention sits in a zip-keyed value must
    classify as parquet in BOTH implementations."""
    from reports_generator_spark.config import ReportConfig
    from reports_generator_spark.ingest.fixtures import INPUT_KEYS, block_values
    from reports_generator_spark.ingest.reports import ERP_FIELD_ORDER
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    vals = block_values(0, 1)  # b=1: fileColForSchema == 'avro', no parquet
    assert "parquet" not in " ".join(vals.values())
    lines = []
    for i, k in enumerate(INPUT_KEYS):
        if i == 5:
            # zip-keyed line whose VALUE matches the type pattern
            lines.append("zipRoute: /archive/parquet bundle.zip")
        lines.append(f"{k}: {vals[k]}")
    p = tmp_path / "[ERP]_REPORT_PARQUET_DATE_OF_PROCESSS[02-02-2019T13_01_30].TXT"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")

    ds = build_report_datasource()
    rows = list(ds.parse_report_file(str(p), "2026-01-01 00:00:00"))
    assert len(rows) == 1
    row = dict(zip(ERP_FIELD_ORDER, rows[0], strict=True))
    assert row["reportType"] == "Generación de Parquet"
    assert row["file"] == vals["file"]  # positions unshifted

    # the DataFrame pipeline agrees (the two attested implementations
    # may not drift on this semantics — that was the ADVICE finding)
    from reports_generator_spark.ingest import ingest_reports

    cfg = ReportConfig(
        input_dir=str(tmp_path),
        output_parquet="",
        output_csv="",
        generation_date="2026-01-01 00:00:00",
    )
    df = ingest_reports(spark, cfg)
    got = df.select("TIPO_DE_REPORTE", "ARCHIVO_PROCESADO").collect()
    assert len(got) == 1
    assert got[0]["TIPO_DE_REPORTE"] == "Generación de Parquet"
    assert got[0]["ARCHIVO_PROCESADO"] == vals["file"]


def test_datasource_stream_writer_epoch_replay_guard(tmp_path):
    """Engine-free pin of the streaming sink's exactly-once contract:
    committing the SAME batchId twice publishes once — the second
    commit finds the epoch marker claimed, discards its staged temps,
    and leaves the published files byte-identical (a re-delivered
    micro-batch after a crash between sink commit and checkpoint ack
    must not double-publish or tear). A NEW batchId still publishes."""
    import os

    from reports_generator_spark.ingest.reports import ERP_FIELD_ORDER
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    d = str(tmp_path)
    cls = build_report_datasource()
    w = cls(options={"path": d}).streamWriter(None, False)

    vals = {n: f"v_{n}" for n in ERP_FIELD_ORDER}
    vals.update(
        RUTA_DE_REPORTE="r1.TXT", equalsHeaders="SI",
        fileAntColForCountColumns="12", fileColForCountColumns="10",
        fileAntColForCountRows="100", fileColForCountRows="90",
    )
    vals["reportPath"] = "r1.TXT"
    row = tuple(vals[n] for n in ERP_FIELD_ORDER)

    class R(tuple):
        def __getitem__(self, k):
            if isinstance(k, str):
                return row[
                    ERP_FIELD_ORDER.index(
                        {"RUTA_DE_REPORTE": "reportPath"}.get(k, k)
                    )
                ]
            return tuple.__getitem__(self, k)

    msg1 = w.write(iter([R(row)]))
    w.commit([msg1], batchId=7)
    p = os.path.join(d, "r1.TXT")
    assert os.path.exists(p) and os.path.exists(os.path.join(d, "_epoch-7"))
    body = open(p).read()

    # replay of epoch 7: staged again, must be suppressed
    msg2 = w.write(iter([R(row)]))
    w.commit([msg2], batchId=7)
    assert open(p).read() == body
    assert not [f for f in os.listdir(d) if f.startswith(".tmp-")]

    # a NEW epoch publishes (append semantics)
    vals2 = dict(vals, reportPath="r2.TXT", RUTA_DE_REPORTE="r2.TXT")
    row2 = tuple(vals2[n] for n in ERP_FIELD_ORDER)

    class R2(R):
        def __getitem__(self, k):
            if isinstance(k, str):
                return row2[
                    ERP_FIELD_ORDER.index(
                        {"RUTA_DE_REPORTE": "reportPath"}.get(k, k)
                    )
                ]
            return tuple.__getitem__(self, k)

    w.commit([w.write(iter([R2(row2)]))], batchId=8)
    assert os.path.exists(os.path.join(d, "r2.TXT"))

    # overwrite mode is a batch-writer concept
    with pytest.raises(ValueError, match="overwrite"):
        cls(options={"path": d}).streamWriter(None, True)


def test_datasource_stream_writer_marker_last_crash_windows(tmp_path):
    """ADVICE r11 (medium): the epoch marker must be claimed AFTER the
    renames, so neither crash window loses a batch.

    Window A — crash between publish and marker claim: the retry finds
    files published but NO marker, re-publishes the identical re-staged
    bytes (idempotent os.replace), and only then claims the marker.
    Window B — duplicate-report-name validation error: the batch must
    fail UN-claimed (no marker), so a corrected retry of the same
    batchId can still publish; marker-first would have claimed the
    epoch and silently discarded the retry."""
    import os

    import pytest

    from reports_generator_spark.ingest.reports import ERP_FIELD_ORDER
    from reports_generator_spark.sources.report_datasource import (
        build_report_datasource,
    )

    d = str(tmp_path)
    cls = build_report_datasource()
    w = cls(options={"path": d}).streamWriter(None, False)

    def mkrow(name):
        vals = {n: f"v_{n}" for n in ERP_FIELD_ORDER}
        vals.update(
            RUTA_DE_REPORTE=name, equalsHeaders="SI",
            fileAntColForCountColumns="12", fileColForCountColumns="10",
            fileAntColForCountRows="100", fileColForCountRows="90",
            reportPath=name,
        )
        row = tuple(vals[n] for n in ERP_FIELD_ORDER)

        class R(tuple):
            def __getitem__(self, k):
                if isinstance(k, str):
                    return row[
                        ERP_FIELD_ORDER.index(
                            {"RUTA_DE_REPORTE": "reportPath"}.get(k, k)
                        )
                    ]
                return tuple.__getitem__(self, k)

        return R(row)

    # --- Window B: duplicate names -> ValueError, marker must NOT exist
    m1 = w.write(iter([mkrow("dup.TXT")]))
    m2 = w.write(iter([mkrow("dup.TXT")]))
    with pytest.raises(ValueError, match="multiple tasks"):
        w.commit([m1, m2], batchId=3)
    assert not os.path.exists(os.path.join(d, "_epoch-3"))
    assert not [f for f in os.listdir(d) if f.startswith(".tmp-")]
    # corrected retry of the SAME batchId still publishes
    w.commit([w.write(iter([mkrow("dup.TXT")]))], batchId=3)
    assert os.path.exists(os.path.join(d, "dup.TXT"))
    assert os.path.exists(os.path.join(d, "_epoch-3"))

    # --- Window A: simulate crash between renames and marker claim by
    # publishing batch 4 then deleting its marker (files live, marker
    # absent == the pre-marker crash state); the engine's retry
    # re-stages the same rows and must re-publish + claim
    w.commit([w.write(iter([mkrow("a.TXT")]))], batchId=4)
    os.remove(os.path.join(d, "_epoch-4"))
    body = open(os.path.join(d, "a.TXT")).read()
    w.commit([w.write(iter([mkrow("a.TXT")]))], batchId=4)
    assert open(os.path.join(d, "a.TXT")).read() == body
    assert os.path.exists(os.path.join(d, "_epoch-4"))
    # and a replay AFTER the marker exists is suppressed (no temp litter)
    w.commit([w.write(iter([mkrow("a.TXT")]))], batchId=4)
    assert not [f for f in os.listdir(d) if f.startswith(".tmp-")]
