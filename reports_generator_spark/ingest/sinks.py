"""Result sinks (SURVEY.md §2.1 K1/K2 + P13 done right).

Reference behavior and its two defects we fix:
- CSV sink overwrote per input file (Proof.scala:140-145) so only the
  last report's CSV survived → here CSV appends like parquet.
- Parquet sink forced `repartition(1)` (Proof.scala:148,151) →
  single-file writes serialize at scale; here the default is a
  partitioned parallel write, single_file is an explicit export option.
- The already-processed check was a stub (Proof.scala:225-234) → here
  it is answered before the scan: a batch read of report files asks
  the sink which of ITS OWN files are already landed and filters the
  rest, a filter that prunes the processed files from the text scan.
  A landing therefore costs what its unprocessed files cost, and a
  rerun over an unchanged tree is one small lookup job that writes
  nothing.

A batch is parsed once for both sinks: `write_parquet_idempotent`
materializes the rows it appends and returns that materialized frame,
so `write_csv` writes the same rows without re-reading the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .reports import report_keys, sql_ident, sql_str

REPORT_PATH_COL = "RUTA_DE_REPORTE"


def write_csv(df: DataFrame, path: str, mode: str = "append") -> None:
    """K1: header + quote-all CSV (Proof.scala:140-145 options).
    Appending a frame whose plan proves it empty, like the one a no-op
    `write_parquet_idempotent` returns, writes no file at all (Spark
    would add a header-only part)."""
    if mode == "append" and _provably_empty(df):
        return
    df.write.mode(mode).option("header", True).option("quoteAll", True).csv(path)


def _provably_empty(df: DataFrame) -> bool:
    """The optimized plan has at most 0 rows; decided on the driver,
    without a job."""
    max_rows = df._jdf.queryExecution().optimizedPlan().maxRows()
    return max_rows.isDefined() and max_rows.get() == 0


def dataset_exists(spark: SparkSession, path: str) -> bool:
    """Explicit Hadoop-FS existence probe (mirrors Proof.scala:51-53's
    output probe). An existence check must never be inferred from a
    read failure: an AnalysisException can also mean schema mismatch or
    corrupt metadata, and treating those as 'missing' would silently
    overwrite the dataset."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _sink_keys(spark: SparkSession, path: str, key_col: str) -> DataFrame:
    """The sink's key column, read with its known schema (no schema
    inference job). A file without the column reads as nulls, and a
    stored key is never null, so a null key fails the job instead of
    matching nothing; a non-string column fails the read."""
    key = sql_ident(key_col)
    missing = sql_str(f"sink {path} has no string {key_col} column")
    return spark.read.schema(f"{key} STRING").parquet(path).selectExpr(
        f"coalesce({key}, raise_error({missing})) AS {key}"
    )


def pending_rows(
    spark: SparkSession, df: DataFrame, path: str, key_col: str = REPORT_PATH_COL
) -> DataFrame | None:
    """The rows of ``df`` whose key is not yet in the existing parquet
    sink at ``path``, as a lazy frame; None when every file of ``df`` is
    already processed, which is known before any scan.

    A batch read of report files (``df.inputFiles()`` non-empty; its
    ``key_col`` must be the report key `ingest_reports` builds) is
    decided per file: the files' keys, decoded on the driver by the
    ingest's own expression, are looked up in the sink's key column in
    one job, so the lookup is bounded by the landing tree, not by the
    sink's history. If all of them are processed the answer is None;
    otherwise ``NOT key IN processed`` is pushed into the text scan and
    the processed files are never read or parsed. A file that yields no
    complete record never reaches the sink, so it keeps a rerun from
    being a no-op (it parses to 0 rows).

    A streaming micro-batch has no file listing (``inputFiles()`` is
    empty) and no ``_metadata``, so it keeps the left-anti join against
    the sink's keys. The join carries no broadcast hint: the key
    history is unbounded over years of appends, and AQE picks broadcast
    while it is small and shuffles when it is not.
    """
    key = sql_ident(key_col)
    uris = df.inputFiles()
    if not uris:
        existing = _sink_keys(spark, path, key_col).distinct()
        # the join moves key_col to the front; keep df's order so every
        # appended CSV file has the first batch's header
        return df.join(existing, key_col, "left_anti").select(*df.columns)
    keys = report_keys(spark, uris)
    candidates = ", ".join(map(sql_str, sorted(set(keys))))
    done = {
        r[0]
        for r in _sink_keys(spark, path, key_col)
        .where(f"{key} IN ({candidates})")
        .collect()
    }
    if done.issuperset(keys):
        return None
    if not done:
        return df
    processed = ", ".join(map(sql_str, sorted(done)))
    return df.where(f"NOT {key} IN ({processed})")


def write_parquet_idempotent(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_col: str = REPORT_PATH_COL,
    single_file: bool = False,
) -> DataFrame:
    """K2+P13: append only not-yet-processed report rows to parquet
    (see `pending_rows` for how they are found).

    First write creates the dataset (the reference's overwrite-first
    probe, Proof.scala:51-53, without the mutable driver flag). Returns
    the materialized rows actually written, in ``df``'s column order;
    pass them to `write_csv` so both sinks get the same rows from one
    scan and parse of the input. When ``df``'s files are all processed
    nothing is scanned, materialized or written, and the returned frame
    is provably empty, so `write_csv` writes nothing either.

    The rows to append are the one materialization point: one eager
    ``localCheckpoint`` of ``fresh`` BEFORE the append, so the write
    never scans the directory it is appending to, and later writers of
    the returned frame neither re-read the input nor see files that
    changed or vanished since. ``localCheckpoint`` rather than
    ``cache``: a cached frame that loses a block recomputes it from
    lineage, which after the append re-reads the sink and silently
    yields no rows; a lost checkpoint block fails the job instead. The
    blocks live in executor memory spilling to disk (MEMORY_AND_DISK)
    and Spark's context cleaner frees them once the returned frame is
    no longer referenced. Any read error other than true absence
    (schema mismatch, corrupt footer, a missing key column) propagates
    instead of silently switching to overwrite.
    """
    if dataset_exists(spark, path):
        fresh = pending_rows(spark, df, path, key_col)
        if fresh is None:
            return df.limit(0)
        mode = "append"
    else:
        fresh = df
        mode = "overwrite"
    fresh = fresh.localCheckpoint()
    out = fresh.coalesce(1) if single_file else fresh
    out.write.mode(mode).parquet(path)
    return fresh


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~target size (the operational fix for streaming/append sinks that
    accumulate thousands of tiny files and throttle every later scan
    on open/footer overhead).

    File count is computed from the dataset's actual on-disk bytes via
    the Hadoop FS API (no data pass); the rewrite is one
    repartition(n) — a single round-robin shuffle, no driver
    materialization. Returns before/after file counts + rows.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    summary = fs.getContentSummary(hpath)
    total_bytes = summary.getLength()
    files_before = sum(
        1
        for f in fs.listStatus(hpath)
        if f.getPath().getName().endswith(".parquet")
    )
    n_files = max(1, int((total_bytes + target_bytes_per_file - 1) // target_bytes_per_file))
    df = spark.read.parquet(in_path)
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    out_hpath = jvm.org.apache.hadoop.fs.Path(out_path)
    files_after = sum(
        1
        for f in fs.listStatus(out_hpath)
        if f.getPath().getName().endswith(".parquet")
    )
    n_rows = spark.read.parquet(out_path).count()
    return {
        "files_before": files_before,
        "files_after": files_after,
        "n_rows": n_rows,
    }
