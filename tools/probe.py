#!/usr/bin/env python
"""Time registered keys in isolation, as `bench.py` times them:

    python tools/probe.py --at DIR:CPUS [--at DIR:CPUS] [--runs N] [--explain DIR] KEY...

Each --at gets a fresh local[CPUS] session on the fixtures in DIR and
times every KEY N times (default 3), each run after the settle and the
q6 sentinel. One JSON line per key; two --at add a ratio line per key
(`ratio_row`). Everything printed also goes to `.scratch/`. --explain
DIR writes each key's formatted plan, from the first --at, to DIR/<key>.txt.
"""

import argparse
import contextlib
import json
import os
import statistics
import time

import harness


def parse_at(text: str) -> tuple[str, int]:
    sf_dir, _, cpus = text.rpartition(":")
    if not sf_dir or not cpus.isdigit() or int(cpus) < 1:
        raise argparse.ArgumentTypeError(f"expected DIR:CPUS, got {text!r}")
    return sf_dir, int(cpus)


def ratio_row(at: list[tuple[str, int]], first: dict, second: dict) -> dict:
    """One key's second median over its first: an SF ratio when the
    dirs differ (base first), else a core ratio (more cores first; near
    1 means the key is bound by fixed cost, not compute). None when
    either side has no successful run."""
    name = "sf_ratio" if at[0][0] != at[1][0] else "core_ratio"
    a, b = first["median"], second["median"]
    ratio = round(b / a, 2) if a > 0 and b > 0 else None
    return {"key": first["key"], "medians": [a, b], name: ratio}


def probe(sf_dir: str, cpus: int, keys: list[str], runs: int, explain_dir: str | None):
    """One record per key: its runs, the median of the runs that did
    not fail (-1.0 if none did) and the sentinel before each run."""
    spark = harness.fresh_session(f"rg-probe-c{cpus}", sf_dir, cpus)
    records = []
    try:
        for key in keys:
            times, sents = [], []
            for _ in range(runs):
                harness.settle(spark)
                sents.append(harness.time_sentinel(spark, sf_dir))
                times.append(harness.time_key(spark, sf_dir, key))
            good = [t for t in times if t > 0]
            median = round(statistics.median(good), 3) if good else -1.0
            rec = dict(key=key, at=f"{sf_dir}:{cpus}", runs=times, median=median, sentinel=sents)
            records.append(rec)
            print(json.dumps(rec), flush=True)
            if explain_dir:
                os.makedirs(explain_dir, exist_ok=True)
                path = os.path.join(explain_dir, f"{key}.txt")
                with open(path, "w") as fh, contextlib.redirect_stdout(fh):
                    harness.registry.QUERIES[key](spark, sf_dir).explain(mode="formatted")
                harness.tune(spark)
    finally:
        spark.stop()
    return records


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Time registered keys as bench.py does.")
    ap.add_argument("--at", type=parse_at, action="append", required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain", metavar="DIR")
    ap.add_argument("keys", nargs="+", metavar="KEY")
    args = ap.parse_args(argv)
    if len(args.at) > 2 or len(args.at) == 2 and sum(x != y for x, y in zip(*args.at)) != 1:
        ap.error("give one --at, or two that differ in DIR or in CPUS but not both")
    unknown = sorted(set(args.keys) - set(harness.registry.QUERIES))
    if unknown:
        ap.error(f"unknown keys: {unknown}")

    out = {"records": [], "ratios": []}
    for i, (sf_dir, cpus) in enumerate(args.at):
        explain_dir = args.explain if i == 0 else None
        out["records"].append(probe(sf_dir, cpus, args.keys, args.runs, explain_dir))
    if len(args.at) == 2:
        for first, second in zip(*out["records"]):
            out["ratios"].append(ratio_row(args.at, first, second))
            print(json.dumps(out["ratios"][-1]), flush=True)
    scratch = os.path.join(harness.ROOT, ".scratch")
    os.makedirs(scratch, exist_ok=True)
    with open(os.path.join(scratch, time.strftime("probe-%Y%m%d-%H%M%S.json")), "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
