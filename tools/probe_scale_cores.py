#!/usr/bin/env python
"""Core-scaling probe (r15, VERDICT item 2): time a set of registered
keys at ONE SF dir under two core counts (one fresh JVM each) and
print the low/high wall ratio per key. A key that parallelizes should
approach the core ratio on compute-bound wall; a ratio ≈ 1 means the
key is protocol/fixed-cost-bound at this SF.

    SPARK_GRAFT_PROBE_DIR=.scratch/sf1 \
    SPARK_GRAFT_PROBE_CPUS_HI=32 SPARK_GRAFT_PROBE_CPUS_LO=8 \
    python tools/probe_scale_cores.py KEY [KEY ...]

The result is printed and written to
``.scratch/probe_scale_cores_c{HI}_c{LO}.json``.

Same hygiene as bench.py: noop sink, settle between keys, warmup
outside timed sections, q6 sentinel per segment.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reports_generator_spark.plans import registry  # noqa: E402
from reports_generator_spark.session import get_spark  # noqa: E402

registry.load_all()


N_RUNS = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "3"))


def _run(keys: list[str], sf_dir: str, cpus: str) -> dict[str, object]:
    """N_RUNS timed runs per key in one JVM; the per-key record keeps
    every run plus the q6 sentinel preceding it, so cold-JVM codegen
    and host-steal windows are visible instead of silently folded into
    a single sample (the r14 host-steal protocol applied to scaling)."""
    spark = get_spark(f"rg-probe-c{cpus}", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    registry.QUERIES["agg_hash_group"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(0, 128).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    jvm = spark.sparkContext._jvm
    out: dict[str, object] = {}
    for name in keys:
        runs, sents = [], []
        for _ in range(N_RUNS):
            jvm.System.gc()
            time.sleep(0.5)
            spark.range(1).count()
            t0 = time.perf_counter()
            registry.QUERIES["q6_forecast_revenue"](spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
            sents.append(round(time.perf_counter() - t0, 2))
            t0 = time.perf_counter()
            try:
                registry.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 2))
            except Exception as exc:  # noqa: BLE001
                runs.append(-1.0)
                print(f"PROBE-ERROR {name}: {exc}", file=sys.stderr)
        good = sorted(r for r in runs if r > 0)
        out[name] = {
            "runs": runs,
            "sentinels": sents,
            "median": good[len(good) // 2] if good else -1.0,
            "min": good[0] if good else -1.0,
        }
    spark.stop()
    return out


def main() -> None:
    keys = sys.argv[1:]
    if not keys:
        sys.exit("usage: probe_scale_cores.py KEY [KEY ...]")
    sf_dir = os.environ.get("SPARK_GRAFT_PROBE_DIR", ".scratch/sf1")
    hi = os.environ.get("SPARK_GRAFT_PROBE_CPUS_HI", "32")
    lo = os.environ.get("SPARK_GRAFT_PROBE_CPUS_LO", "8")
    r_hi = _run(keys, sf_dir, hi)
    r_lo = _run(keys, sf_dir, lo)
    rows = []
    for k in keys:
        a, b = r_hi.get(k), r_lo.get(k)
        ratio = (
            round(b["median"] / a["median"], 2)
            if a and b and a["median"] > 0 and b["median"] > 0
            else None
        )
        rows.append(
            {"key": k, f"c{hi}": a, f"c{lo}": b, "lo_over_hi_median": ratio}
        )
    out = {
        "sf_dir": sf_dir,
        "cpus_hi": int(hi),
        "cpus_lo": int(lo),
        "rows": rows,
    }
    print(json.dumps(out, indent=1))
    os.makedirs(".scratch", exist_ok=True)
    with open(f".scratch/probe_scale_cores_c{hi}_c{lo}.json", "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
