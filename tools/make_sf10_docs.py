#!/usr/bin/env python
"""Build the sf10 DOCUMENTS-ONLY probe fixture (VERDICT r9 item 6).

The pair-join tail (graph_bfs_reachability / winnowing / capped
n-gram Jaccard) scales with candidate-pair density, which grows with
corpus size on the replicated-twin corpus — the sf1 probe showed
5-7× on 10× data and a 100 TB claim needs one more decade of
evidence that the shingle-df cap bounds the growth. This builds ONLY
the text corpus at 100× (500k docs = 100 replicas of sf0.1's 5000,
doc_id-offset), NOT the full star schema — the other tables are
symlinked from the sf1 probe fixture so warmup and any incidental
loads still resolve.

Output: /root/repo/.scratch/sf10docs/ (gitignored, rebuildable).
Usage:
    python tools/make_sf10_docs.py
    python tools/probe.py --at .scratch/sf1:32 --at .scratch/sf10docs:32 \
      graph_bfs_reachability ...
"""

from __future__ import annotations

import os

import duckdb

SRC = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(ROOT, ".scratch", "sf1")
DST = os.path.join(ROOT, ".scratch", "sf10docs")
REPLICAS = 100
STRIDE = 100_000_000

OTHER_TABLES = (
    "region nation customer supplier part orders lineitem events embeddings"
).split()


def main() -> None:
    if not os.path.exists(os.path.join(SF1, "orders.parquet")):
        raise SystemExit(
            f"sf1 probe fixture missing at {SF1} — run tools/make_sf1.py "
            "first (the non-documents tables symlink to it)"
        )
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    cols = con.sql(
        f"SELECT * FROM read_parquet('{SRC}/documents.parquet') LIMIT 0"
    ).columns
    selects = []
    for r in range(REPLICAS):
        proj = ", ".join(
            f"doc_id + {r * STRIDE} AS doc_id" if c == "doc_id" else c
            for c in cols
        )
        selects.append(
            f"SELECT {proj} FROM read_parquet('{SRC}/documents.parquet')"
        )
    union = " UNION ALL ".join(selects)
    con.sql(
        f"COPY ({union}) TO '{DST}/documents.parquet' (FORMAT PARQUET)"
    )
    n = con.sql(
        f"SELECT count(*) FROM read_parquet('{DST}/documents.parquet')"
    ).fetchone()[0]
    print(f"documents: {n} rows")
    for t in OTHER_TABLES:
        link = os.path.join(DST, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(SF1, f"{t}.parquet"), link)
    print(f"other tables symlinked from {SF1}")


if __name__ == "__main__":
    main()
