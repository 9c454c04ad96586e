#!/usr/bin/env python
"""Benchmark harness: runs every registered engine query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Session, warmups, settle, sentinel and per-key timing (a `noop` sink
write) come from `tools/harness.py`, shared with the probe tools.
"""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))

import harness  # noqa: E402


def build_outputs(
    timings: dict[str, float], sentinel_times: list[float], segment_of: dict[str, int], sf_dir: str
) -> tuple[dict, dict]:
    """The `bench_full.json` document and the compact stdout record.

    The driver captures a bounded slice of stdout (round 1: a ~4 KB
    line was truncated and failed to parse), so the line it reads must
    stay compact: headline metric + the 10 slowest queries. The full
    per-query map goes to bench_full.json."""
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    head = {"metric": "total_seconds_all_queries", "value": total, "unit": "sec"}
    full = {
        **head,
        "queries": timings,
        "n_queries": len(timings),
        "sf": sf_val,
        # per-segment contention sentinel: sentinel_seconds[k] was timed
        # at the start of JVM segment k; query_segment maps each key to
        # its segment, so "is this key's segment contended?" is one
        # lookup (see harness.SENTINEL)
        "sentinel": {
            "key": harness.SENTINEL,
            "seconds_per_segment": sentinel_times,
            "query_segment": segment_of,
        },
    }
    compact = {
        **head,
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10]),
        "n_queries": len(timings),
        "n_errors": sum(1 for t in timings.values() if t < 0),
        "sf": sf_val,
    }
    return full, compact


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    #: JVM isolation batches: one long-lived local-mode JVM accumulates
    #: debt across ~170 heterogeneous queries (codegen classes,
    #: checkpoint/shuffle blocks, listener backlog) that inflates
    #: late-suite iterative keys 3-6x regardless of their plans
    #: (measured: graph_pagerank 11s fresh vs 46s at suite position
    #: ~90). Restarting the JVM every RESTART_EVERY queries resets that
    #: debt; the restart itself is outside the timed sections, so the
    #: recorded per-query numbers measure plans, not JVM history.
    RESTART_EVERY = int(os.environ.get("SPARK_GRAFT_BENCH_RESTART", "35"))

    spark = harness.fresh_session("rg-spark-bench", sf_dir, cpus)
    timings: dict[str, float] = {}
    segment_of: dict[str, int] = {}
    sentinel_times: list[float] = []
    for i, name in enumerate(sorted(harness.registry.QUERIES)):
        if i > 0 and RESTART_EVERY > 0 and i % RESTART_EVERY == 0:
            spark.stop()
            spark = harness.fresh_session("rg-spark-bench", sf_dir, cpus)
        if RESTART_EVERY > 0 and i % RESTART_EVERY == 0:
            harness.settle(spark)
            sentinel_times.append(harness.time_sentinel(spark, sf_dir))
        segment_of[name] = i // RESTART_EVERY if RESTART_EVERY > 0 else 0
        harness.settle(spark)
        timings[name] = harness.time_key(spark, sf_dir, name)

    full, compact = build_outputs(timings, sentinel_times, segment_of, sf_dir)
    with open(os.path.join(harness.ROOT, "bench_full.json"), "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
