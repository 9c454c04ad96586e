"""Streaming report ingest: the reference's poll-and-append loop as a
file-source Structured Streaming query (SURVEY.md §7.9).

The reference polls a directory, parses each new .TXT report, and
appends to a parquet dataset (Proof.scala:68-89, 147-151) — a hand
-rolled incremental pipeline with driver-side IO and no exactly-once
story. The modern idiom:

    readStream.text(dir, wholetext) → foreachBatch(
        parse micro-batch with the SAME batch parser →
        idempotent left-anti append to the parquet sink)

- File discovery, offset tracking, and restart recovery come from the
  streaming file source + checkpoint; no hand-rolled "already seen"
  bookkeeping.
- Each micro-batch runs the identical Catalyst plan as batch E1
  (`ingest_report_lines`), so batch/stream parity is by construction.
- The sink append reuses `write_parquet_idempotent` (P13 done right):
  replays after a failure between sink write and checkpoint commit are
  filtered by the left-anti join on RUTA_DE_REPORTE. The sink
  materializes the rows to append (one localCheckpoint) before the
  write, so the append never reads the directory it writes to.

At scale: the file source lists incrementally (maxFilesPerTrigger
bounds batch size); parsing is executor-side; the only driver state is
the checkpoint.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import ReportConfig
from ..ingest.reports import ingest_report_lines, lines_from_wholetext
from ..ingest.sinks import write_parquet_idempotent


def stream_report_ingest(
    spark: SparkSession,
    cfg: ReportConfig,
    out_path: str,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start (and with available_now=True, run to completion) the
    streaming ingest of cfg.input_dir into a parquet dataset at
    out_path. Returns the StreamingQuery handle."""
    if checkpoint_dir is None:
        checkpoint_dir = tempfile.mkdtemp(prefix="rg_report_stream_ckpt_")

    reader = (
        spark.readStream.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", f"*{cfg.ext_file}")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.text(cfg.input_dir, wholetext=True)

    def sink_batch(batch_df, _batch_id: int) -> None:
        parsed = ingest_report_lines(lines_from_wholetext(batch_df), cfg)
        write_parquet_idempotent(batch_df.sparkSession, parsed, out_path)

    writer = raw.writeStream.foreachBatch(sink_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
