#!/usr/bin/env python
"""Build a 10× scale probe (sf1) from the read-only sf0.1 fixtures.

NOT new test data (correctness stays pinned to the driver's sf0.01
fixtures) — a PERFORMANCE probe: each fact table is replicated with
key offsets chosen so every foreign-key relationship stays intact
(replica r of orders points at replica r of customer, etc.), letting
`bench.py` run unchanged at 10× volume to expose superlinear plans
that sf0.1 hides (`SPARK_GRAFT_SF_DIR=/root/repo/.scratch/sf1`).

Dimension tables with fixed TPC-H cardinality (region, nation) are
NOT replicated. Text/embedding payloads are replicated verbatim, so
cross-replica exact and near duplicates exist BY CONSTRUCTION — the
realistic adversarial case for the dedup/similarity family (every doc
gains 9 identical twins, and every shingle's document frequency
multiplies by 10, which exercises the shingle-df cap).

Output: /root/repo/.scratch/sf1/*.parquet (gitignored, rebuildable).
Usage:
    python tools/make_sf1.py
    python tools/probe.py --at <SRC dir>:32 --at .scratch/sf1:32 <keys...>
"""

from __future__ import annotations

import os

import duckdb

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1")
REPLICAS = 10
STRIDE = 100_000_000  # far above any sf0.1 key

#: table -> columns to offset by r*STRIDE per replica (FK-consistent)
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
        print(f"{t}: copied")
    for t, keys in OFFSETS.items():
        cols = con.sql(f"SELECT * FROM read_parquet('{SRC}/{t}.parquet') LIMIT 0").columns
        selects = []
        for r in range(REPLICAS):
            proj = ", ".join(
                f"{c} + {r * STRIDE} AS {c}" if c in keys else c for c in cols
            )
            selects.append(f"SELECT {proj} FROM read_parquet('{SRC}/{t}.parquet')")
        union = " UNION ALL ".join(selects)
        con.sql(f"COPY ({union}) TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
        n = con.sql(f"SELECT count(*) FROM read_parquet('{DST}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")


if __name__ == "__main__":
    main()
