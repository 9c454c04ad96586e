"""Report-file ingest: the reference's actual capability (SURVEY.md §2.1
S1-S2, P1-P13), rebuilt as ONE declarative Catalyst plan.

Reference shape (Proof.scala:68-137): driver-side recursive listing →
per-file sequential loop → driver reads all lines → parallelize →
repartition(1) → mutable-closure block assembly → positional split.
Every step serializes on the driver or on a single task.

This rebuild:
- S1/S2: `spark.read.text` with recursiveFileLookup + pathGlobFilter —
  executors read; all files in one scan; per-file parallelism free.
  Files are read wholetext so per-file line order is *data*, not
  partition luck (report files are small; a >128 MB report would use
  the mapPartitions line-number path instead).
- P2: block segmentation via cumulative-sum window over the terminator
  marker — the reference's `concat` mutable closure (Proof.scala:104,
  124-130) without the repartition(1).
- P4: SI/NO normalization keyed by the equalsHeaders regex, pre-pivot.
- P6: positional projection with the skip-9/10 mapping
  (Proof.scala:157-185) done as a pure select.
- P8: enrichment done *right*: real filename-date regex, real content
  classification, real count-difference arithmetic — replacing the
  reference's placeholder literals ("cualquier cosa"/"Proof"/"Proof2",
  Proof.scala:250-253) while keeping column positions identical.
- P13 key: RUTA_DE_REPORTE derives from the scan's file metadata
  (`_metadata.file_path`, rewritten to the form `input_file_name()`
  renders). That expression is deterministic, so the sink's
  "not yet processed" filter is pushed into the text scan and a
  landing reads only the files it has not processed (sinks.py). The
  streaming micro-batch has no `_metadata` and keys on
  input_file_name(), which renders the same; its frame lists no
  files, so the sink keeps the left-anti join there.

Known deviations from reference bugs (documented, intentional):
- values containing ':' are kept whole (split limit 2); the reference
  truncates at the second ':' (Proof.scala:112 split without limit).
- reportType is actually computed; the reference's classification loop
  never runs (no action on the RDD, Proof.scala:260-270) so it always
  embedded the literal "parquet".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ReportConfig
from ..schemas import generate_schema

#: positional source layout of one record block, after the leading
#: empty slot (Proof.scala:157-185): index -> logical field. Indices
#: 9 and 10 are present in the input but dropped by the contract.
BLOCK_POSITIONS: dict[int, str] = {
    1: "file",
    2: "tableNameFromFile",
    3: "tableNameFromJson",
    4: "headersFromJson",
    5: "countHeadersFromJson",
    6: "countHeadersFromFile",
    7: "headersFromFile",
    8: "equalsHeaders",
    # 9, 10: skipped (Proof.scala:157-185 reads neither)
    11: "fileDirectory",
    12: "filePath",
    13: "fileSize",
    14: "fileValidSha",
    15: "fileColForSchema",
    16: "fileTableName",
    17: "fileColForPathTable",
    18: "fileAntColForCountColumns",
    19: "fileAntColForCountRows",
    20: "fileColForCountColumns",
    21: "fileColForCountRows",
    22: "status",
}

BLOCK_LEN = 22  # values per record block, terminator included

#: ISU zip-archive fields (ISU.scala:19-23). The reference declared
#: them but never defined their input grammar (readFilesISU is an
#: empty TODO, Proof.scala:219-224). Completed here BY KEY, not by
#: position: an ISU block is an ERP block plus up to five optional
#: `infoFile:/zipName:/zipDirectory:/zipPath:/zipSize:` lines anywhere
#: before the terminator — keyed extraction keeps the 22 positional
#: slots (and the skip-9/10 mapping) byte-identical to ERP.
ZIP_KEYS: tuple[str, ...] = ("infoFile", "zipName", "zipDirectory", "zipPath", "zipSize")

#: logical field order of the ERP output row (ERP.scala:2-34 /
#: Proof.scala:187-213) — position i here gets public name
#: ERP_HEADERS[i].
#:
#: CONTRACT QUIRK (faithful to the reference): the header list
#: (Proof.scala:27) and the Row field order (Proof.scala:187-213) are
#: semantically misaligned in the last count block — public
#: DIFERENCIA_TOTAL_COLUMNAS/REGISTROS receive the *official counts*
#: (fileColForCountColumns/Rows) while TOTAL_COLUMNAS/REGISTROS_OFICIAL
#: receive the *differences* (difCountCol/Row). Downstream consumers of
#: the reference's parquet depend on this layout, so we preserve it.
ERP_FIELD_ORDER: tuple[str, ...] = (
    "module",
    "reportType",
    "reportPath",
    "fileGeneratedDate",
    "file",
    "tableNameFromFile",
    "tableNameFromJson",
    "headersFromJson",
    "countHeadersFromJson",
    "countHeadersFromFile",
    "headersFromFile",
    "equalsHeaders",
    "fileDirectory",
    "filePath",
    "fileSize",
    "fileValidSha",
    "fileColForSchema",
    "fileTableName",
    "fileColForPathTable",
    "fileAntColForCountColumns",
    "fileAntColForCountRows",
    "fileColForCountColumns",
    "fileColForCountRows",
    "difCountCol",
    "difCountRow",
    "status",
    "generationDate",
)

#: filename-embedded generation timestamp, e.g.
#: [ISU]_REPORT_PARQUET_DATE_OF_PROCESSS[04-08-2019T13_51_30].TXT
#: (Main.scala:18 naming convention; the reference left this as the
#: "regrex" TODO at Proof.scala:249)
_FILE_DATE_RE = r"\[(\d{2}-\d{2}-\d{4}T\d{2}_\d{2}_\d{2})\]"

#: the scanned file's URI as `input_file_name()` and `inputFiles()`
#: render it. `_metadata.file_path` is URL-encoded the same way but
#: drops the empty authority of an authority-less URI (`file:/x` where
#: they give `file:///x`). Unlike input_file_name(), which is
#: nondeterministic, a filter on this expression is pushed into the
#: file scan and prunes the files it rejects.
_FILE_URI_SQL = "regexp_replace(_metadata.file_path, '^([A-Za-z][A-Za-z0-9+.-]*):/(?!/)', '$1:///')"

#: the completeness filter (P7): terminated, full-length blocks
_COMPLETE_SQL = f"has_term = 1 AND size(vals) >= {BLOCK_LEN}"


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_LINE_BREAK = sql_str(r"\r?\n")


def sql_ident(name: str) -> str:
    """``name`` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _decoded_key_sql(uri: str) -> str:
    """SQL for RUTA_DE_REPORTE from a file-URI expression: the URI is
    URL-encoded, so decode it and the stored path (and the
    filename-date regex, whose brackets arrive as %5B/%5D otherwise)
    see the real file name; a URI that does not decode is kept as is."""
    return f"coalesce(try_url_decode({uri}), {uri})"


def report_keys(spark: SparkSession, uris: list[str]) -> list[str]:
    """RUTA_DE_REPORTE of each file URI, in the form `inputFiles()`
    renders it, by the same expression the ingest stores. The VALUES
    table is a local relation that the optimizer evaluates on the
    driver, so no job runs."""
    if not uris:
        return []
    rows = ", ".join(f"({sql_str(u)})" for u in uris)
    query = f"SELECT {_decoded_key_sql('uri')} FROM VALUES {rows} AS t(uri)"
    return [r[0] for r in spark.sql(query).collect()]


def _lines(raw: DataFrame, uri_sql: str, text_sql: str) -> DataFrame:
    return raw.selectExpr(
        f"{uri_sql} AS report_path",
        f"posexplode(split({text_sql}, {_LINE_BREAK})) AS (line_no, line)",
    )


def lines_from_wholetext(raw: DataFrame) -> DataFrame:
    """(value=whole file text) → (report_path, line_no, line) for the
    streaming micro-batch, which foreachBatch hands over without
    `_metadata`; input_file_name() renders the same URI as the batch
    reader's _FILE_URI_SQL, so both paths store the same key."""
    return _lines(raw, "input_file_name()", "value")


def read_report_lines(spark: SparkSession, cfg: ReportConfig) -> DataFrame:
    """S1+S2: one recursive scan of all report files → (report_path,
    line_no, line). Executor-side IO; no driver listing loop.
    ``report_path`` comes from the scan's file metadata, so a filter on
    the report key prunes files at the scan.

    The reference DECLARES a charset property but leaves it empty and
    unused (Proof.scala:26); completed here like ISU/idempotency: a
    non-UTF-8 charset routes through the binaryFile source + decode()
    (the text source is UTF-8-only), so legacy ISO-8859-1 report dumps
    ingest losslessly. Same executor-side parallel scan and the same
    report key either way."""
    reader = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", f"*{cfg.ext_file}")
    )
    cs = (cfg.charset or "UTF-8").upper().replace("-", "").replace("_", "")
    if cs != "UTF8":
        raw = reader.format("binaryFile").load(cfg.input_dir)
        return _lines(raw, _FILE_URI_SQL, f"decode(content, {sql_str(cfg.charset)})")
    # NOTE: must be the boolean kwarg — .option("wholetext","true") is
    # silently ignored by the text source in Spark 4.x
    raw = reader.text(cfg.input_dir, wholetext=True)
    return _lines(raw, _FILE_URI_SQL, "value")


def parse_blocks_raw(lines: DataFrame, cfg: ReportConfig) -> DataFrame:
    """P1-P6: key/value split, SI/NO normalization, cumulative-sum block
    ids, ordered block assembly — WITHOUT the completeness filter (P7),
    so the quarantine path can route rejects. Returns one row per block
    with `vals`, `has_term`, and `any_parquet`.

    Built from SQL expression strings: the plan is the same as with
    `F.*` column objects, at a fraction of the Py4J calls."""
    def word(pattern: str) -> str:
        return sql_str(rf"\b({pattern})\b")

    kv = lines.where("contains(line, ':')").selectExpr(
        "report_path",
        "line_no",
        "trim(split(line, ':', 2)[0]) AS key",
        "trim(coalesce(split(line, ':', 2)[1], '')) AS value",
    )
    blocks = kv.selectExpr(
        "report_path",
        "line_no",
        "key",
        # P4 — boolean -> localized SI/NO, keyed like Proof.scala:113-123
        f"CASE WHEN key RLIKE {word(cfg.boolean_caster_key)}"
        " THEN CASE WHEN value = 'true' THEN 'SI' ELSE 'NO' END ELSE value END AS value",
        f"CASE WHEN key RLIKE {word(cfg.limit_block_key)} THEN 1 ELSE 0 END AS is_term",
    ).selectExpr(
        "*",
        # P2 — terminator-keyed block segmentation via exclusive cumsum
        "coalesce(sum(is_term) OVER (PARTITION BY report_path ORDER BY line_no"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS block_id",
    )

    # ordered assembly: one aggregation, values sorted by line_no.
    # Zip-keyed lines (ISU extension) are extracted as named columns and
    # EXCLUDED from the positional array so ERP positions never shift.
    zip_keys = ", ".join(map(sql_str, ZIP_KEYS))
    aggs = [
        "transform(array_sort(collect_list(CASE WHEN NOT key IN"
        f" ({zip_keys}) THEN struct(line_no, value) END)), s -> s.value) AS vals",
        "max(is_term) AS has_term",
        f"max(CASE WHEN value RLIKE {word(cfg.report_type_match)} THEN 1 ELSE 0 END)"
        " AS any_parquet",
        *(f"max(CASE WHEN key = {sql_str(k)} THEN value END) AS zip_{k}" for k in ZIP_KEYS),
    ]
    return blocks.groupBy("report_path", "block_id").agg(*map(F.expr, aggs))


def parse_blocks(lines: DataFrame, cfg: ReportConfig) -> DataFrame:
    """P1-P7: parse_blocks_raw + the completeness filter — only
    complete (terminated, full-length) blocks survive."""
    return parse_blocks_raw(lines, cfg).where(_COMPLETE_SQL)


def ingest_reports(spark: SparkSession, cfg: ReportConfig) -> DataFrame:
    """Full E1 pipeline → DataFrame with the module's public (Spanish)
    all-string schema, one row per report record."""
    return ingest_report_lines(read_report_lines(spark, cfg), cfg)


def ingest_report_lines(lines: DataFrame, cfg: ReportConfig) -> DataFrame:
    """E1 transform stages (P1-P13) over an already-built line frame —
    the batch/streaming-shared core of `ingest_reports`."""
    return project_blocks(parse_blocks(lines, cfg), cfg)


def project_blocks(blocks: DataFrame, cfg: ReportConfig) -> DataFrame:
    """P6-P13 over an assembled (and completeness-filtered) block frame
    — shared by the plain ingest and the quarantine router, so both
    build on the SAME parsed-block plan."""
    # P6 — positional projection (1-based element_at; skip 9/10)
    fields = {name: f"element_at(vals, {pos})" for pos, name in BLOCK_POSITIONS.items()}

    # P8 — enrichment, computed for real (cf. Proof.scala:236-274).
    path = _decoded_key_sql("report_path")
    fields["module"] = sql_str(cfg.module)
    fields["reportType"] = (
        f"CASE WHEN any_parquet = 1 THEN {sql_str(cfg.report_type_message)} ELSE '' END"
    )
    fields["reportPath"] = path
    fields["fileGeneratedDate"] = f"regexp_extract({path}, {sql_str(_FILE_DATE_RE)}, 1)"

    def count_diff(prep: str, oficial: str) -> str:
        # try_cast: non-numeric/empty counts yield NULL -> "" instead of
        # failing the whole job under ANSI mode (per-record tolerance).
        d = f"try_cast({fields[prep]} AS BIGINT) - try_cast({fields[oficial]} AS BIGINT)"
        return f"coalesce(CAST({d} AS STRING), '')"

    fields["difCountCol"] = count_diff("fileAntColForCountColumns", "fileColForCountColumns")
    fields["difCountRow"] = count_diff("fileAntColForCountRows", "fileColForCountRows")
    fields["generationDate"] = (
        sql_str(cfg.generation_date)
        if cfg.generation_date is not None
        else "date_format(current_timestamp(), 'yyyy-MM-dd HH:mm:ss')"
    )

    # ISU (ISU.scala:3-37) = ERP row + the zip block after the date
    # column. Zip values arrive by key (see ZIP_KEYS) — absent keys
    # surface as empty strings, matching the all-string contract.
    # MAIN (Main.scala:44-63,109-112) = the 20-column prototype: bare
    # positional fields only, no enrichment columns.
    field_order = list(ERP_FIELD_ORDER)
    if cfg.module == "ISU":
        field_order[4:4] = ZIP_KEYS
        for zf in ZIP_KEYS:
            fields[zf] = f"coalesce(trim(zip_{zf}), '')"
    elif cfg.module == "MAIN":
        field_order = [name for _, name in sorted(BLOCK_POSITIONS.items())]

    out = blocks.selectExpr(*(
        f"CAST({fields[logical]} AS STRING) AS {sql_ident(public_name)}"
        for logical, public_name in zip(field_order, cfg.headers, strict=True)
    ))
    # contract check: names/types match generate_schema(headers)
    # (nullability differs per-column: literals are non-nullable)
    expect = generate_schema(cfg.headers)
    got = [(f.name, f.dataType) for f in out.schema.fields]
    want = [(f.name, f.dataType) for f in expect.fields]
    assert got == want, f"schema contract violated: {got} != {want}"
    return out


def ingest_with_quarantine(
    lines: DataFrame, cfg: ReportConfig, materialize: bool = True
) -> tuple[DataFrame, DataFrame]:
    """P12 done right: (good, quarantined).

    The reference swallows a failing file with a printStackTrace and
    moves on (Proof.scala:71-87) — errors vanish. Here malformed
    blocks are *routed*, not dropped: the good side is the normal
    ingest output; the quarantine side is one row per rejected block
    with the source path, block id, a reject reason (`no_terminator` |
    `short_block`), the observed length, and the raw values for
    replay. Both sides branch off the same parsed-block frame; with
    ``materialize=True`` (default) the assembled blocks are eagerly
    localCheckpoint-ed so writing BOTH sides parses the input once —
    without it, each side's action would re-scan and re-parse."""
    blocks = parse_blocks_raw(lines, cfg)
    if materialize:
        blocks = blocks.localCheckpoint()
    good = project_blocks(blocks.where(_COMPLETE_SQL), cfg)
    quarantined = blocks.where(f"NOT ({_COMPLETE_SQL})").selectExpr(
        "report_path",
        "block_id",
        "CASE WHEN has_term = 0 THEN 'no_terminator' ELSE 'short_block' END AS reject_reason",
        "size(vals) AS n_values",
        "vals AS raw_values",
    )
    return good, quarantined
