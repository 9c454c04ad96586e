#!/usr/bin/env python
"""Build the FULL-STAR sf10 probe fixture (VERDICT r10 item 6).

100 FK-consistent replicas of the read-only sf0.1 fixtures — the
second performance decade for the star-schema cost centers (kmeans,
pagerank-over-pairs, corpus_release_end2end, the TPC-H composites),
which until round 11 rested on the single sf0.1→sf1 decade. Same
replication scheme as tools/make_sf1.py (key offsets keep every FK
relationship intact; fixed-cardinality dims copied verbatim; text and
embedding payloads replicated, so every doc has 99 identical twins —
the adversarial dedup corpus, by construction).

Output: /root/repo/.scratch/sf10/*.parquet (gitignored, rebuildable).
Usage:
    python tools/make_sf10.py
    python tools/probe.py --at .scratch/sf1:32 --at .scratch/sf10:32 <keys...>
"""

from __future__ import annotations

import os

import duckdb

SRC = "/root/testdata/sf0.1"
DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf10"
)
REPLICAS = 100
STRIDE = 100_000_000  # far above any sf0.1 key

OFFSETS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_ONLY = ["region", "nation"]


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for t in COPY_ONLY:
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{DST}/{t}.parquet' (FORMAT PARQUET)"
        )
        print(f"{t}: copied", flush=True)
    for t, keys in OFFSETS.items():
        cols = con.sql(
            f"SELECT * FROM read_parquet('{SRC}/{t}.parquet') LIMIT 0"
        ).columns
        selects = []
        for r in range(REPLICAS):
            proj = ", ".join(
                f"{c} + {r * STRIDE} AS {c}" if c in keys else c for c in cols
            )
            selects.append(
                f"SELECT {proj} FROM read_parquet('{SRC}/{t}.parquet')"
            )
        union = " UNION ALL ".join(selects)
        con.sql(f"COPY ({union}) TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        n = con.sql(
            f"SELECT count(*) FROM read_parquet('{DST}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows", flush=True)


if __name__ == "__main__":
    main()
