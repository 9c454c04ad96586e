"""Seeded landing-tree generator for the report_etl workload.

A landing tree receives several deliveries (batches). Each batch holds
a fixed number of record blocks spread over a few large report files
and many small ones; the seed picks every file's size. From the second
batch on, a few files of the previous batch are delivered again at
the same path with the same bytes: ``RUTA_DE_REPORTE`` (the full path)
is the idempotency key, so only a file at the same path counts as
already processed.

File contents use the engine's fixture grammar
(``ingest.fixtures.block_values``), so the expected sink rows come
from ``ingest.golden.expected_erp_rows``.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

import numpy as np

from reports_generator_spark.config import ERP_HEADERS
from reports_generator_spark.ingest.fixtures import INPUT_KEYS, block_values, report_file_name
from reports_generator_spark.ingest.golden import expected_erp_rows

#: report_file_name(i) repeats every 420 file indexes, so files are
#: spread over sub-directories of at most this many
NAMES_PER_DIR = 420
EXT = ".TXT"
#: new record blocks landed by every batch
RECORDS_PER_BATCH = 2000
#: each batch has this many large files of 1/8..1/4 of its records ...
LARGE_FILES = 2
#: ... and fills the rest with small files of 1..SMALL_MAX blocks
SMALL_MAX = 20
#: files of the previous batch delivered again by each later batch
REDELIVERED = 3


@dataclass
class Batch:
    files: list[tuple[int, int]]  # (file index, record blocks), new in this batch
    redelivered: list[int]  # file indexes of an earlier batch sent again


def plan_batches(seed: int, n_batches: int = 3) -> list[Batch]:
    """Batch plan for ``seed``. Every batch lands exactly
    RECORDS_PER_BATCH new records, so run time does not depend on the
    seed, only on how the records are split over files. Large files
    take the lowest file indexes (see ``expected_rows``)."""
    rng = np.random.default_rng(seed)
    batches: list[Batch] = []
    next_small = n_batches * LARGE_FILES
    for b in range(n_batches):
        files = [
            (b * LARGE_FILES + i, int(rng.integers(RECORDS_PER_BATCH // 8, RECORDS_PER_BATCH // 4)))
            for i in range(LARGE_FILES)
        ]
        left = RECORDS_PER_BATCH - sum(n for _, n in files)
        while left > 0:
            n = min(left, int(rng.integers(1, SMALL_MAX + 1)))
            files.append((next_small, n))
            next_small += 1
            left -= n
        again: list[int] = []
        if b:
            prev = [f for f, _ in batches[-1].files]
            again = sorted(int(f) for f in rng.choice(prev, size=REDELIVERED, replace=False))
        batches.append(Batch(files, again))
    return batches


def report_path(landing: str, file_idx: int) -> str:
    return os.path.join(landing, f"g{file_idx // NAMES_PER_DIR}", report_file_name(file_idx))


def write_report(landing: str, file_idx: int, n_blocks: int) -> None:
    lines: list[str] = []
    for blk in range(n_blocks):
        vals = block_values(file_idx, blk)
        lines.extend(f"{k}: {vals[k]}" for k in INPUT_KEYS)
    path = report_path(landing, file_idx)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


def deliver(landing: str, batches: list[Batch], upto: int) -> None:
    """Land batch ``upto`` (0-based) into a tree holding batches
    [0, upto), then check that the tree holds exactly the files asked
    for."""
    sizes = {f: n for b in batches[: upto + 1] for f, n in b.files}
    batch = batches[upto]
    for f, n in batch.files:
        write_report(landing, f, n)
    for f in batch.redelivered:
        write_report(landing, f, sizes[f])
    # a file with another extension must be skipped by the scan
    with open(os.path.join(landing, "ignore_me.log"), "w", encoding="utf-8") as fh:
        fh.write("status: NOT_A_REPORT\n")
    on_disk = len(glob.glob(os.path.join(landing, "*", "*" + EXT)))
    if on_disk != len(sizes):
        raise RuntimeError(f"landing tree holds {on_disk} report files, expected {len(sizes)}")


def tree_bytes(landing: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(landing, "*", "*" + EXT)))


def expected_rows(batches: list[Batch], upto: int, generation_date: str) -> list[tuple[str, ...]]:
    """Sink rows expected after batches [0, upto], in ERP_HEADERS order,
    with RUTA_DE_REPORTE cut to the file name (the golden's form).

    ``expected_erp_rows(n, width)`` yields ``width`` blocks for each of
    the files 0..n-1, so it is called once for the few large files,
    which hold the lowest indexes, and once at SMALL_MAX for the rest."""
    sizes = {f: n for b in batches[: upto + 1] for f, n in b.files}
    large = [f for f, n in sizes.items() if n > SMALL_MAX]
    tables = [(SMALL_MAX, expected_erp_rows(max(sizes) + 1, SMALL_MAX, generation_date))]
    if large:
        width = max(sizes[f] for f in large)
        tables.append((width, expected_erp_rows(max(large) + 1, width, generation_date)))
    rows = []
    for f, n in sizes.items():
        width, golden = tables[n > SMALL_MAX]
        rows.extend(tuple(golden[f * width + blk][h] for h in ERP_HEADERS) for blk in range(n))
    return rows
