#!/usr/bin/env python
"""Stage-level breakdown for registered keys: runs each key once,
timed by `tools/harness.py` with the Spark UI on, and prints its jobs
(found by the job group `time_key` gives them) with their stages, so
the expensive operator inside a multi-job key is visible without
guessing. Fixtures and cores come from the same variables as bench.py.

Usage: python tools/opt_stages.py KEY [KEY ...]
"""

import json
import os
import sys
import urllib.request
from datetime import datetime

import harness


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _when(timestamp: str) -> datetime:
    return datetime.fromisoformat(timestamp.replace("GMT", "+00:00"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    ui = {"spark.ui.enabled": "true"}
    spark = harness.fresh_session("rg-spark-stageprof", sf_dir, cpus, extra_conf=ui)
    sc = spark.sparkContext
    # the UI binds the first free port from 4040 up; ask where it went
    api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    for name in sys.argv[1:]:
        harness.settle(spark)
        wall = harness.time_key(spark, sf_dir, name)
        jobs = [j for j in _get(f"{api}/jobs") if j.get("jobGroup") == name]
        stages = {s["stageId"]: s for s in _get(f"{api}/stages?status=complete")}
        print(f"\n===== {name}: wall {wall:.2f}s, {len(jobs)} jobs =====")
        for j in sorted(jobs, key=lambda x: x["jobId"]):
            end = j.get("completionTime", j["submissionTime"])
            took = (_when(end) - _when(j["submissionTime"])).total_seconds()
            print(f"  job {j['jobId']}: {took:.2f}s  {(j.get('description') or j['name'])[:100]}")
            for s in filter(None, map(stages.get, j.get("stageIds", []))):
                print(
                    f"      stage {s['stageId']}: {s['numCompleteTasks']}t "
                    f"run={s['executorRunTime'] / 1000:.2f}s "
                    f"cpu={s.get('executorCpuTime', 0) / 1e9:.2f}s "
                    f"shR={s.get('shuffleReadBytes', 0) >> 10}KB "
                    f"shW={s.get('shuffleWriteBytes', 0) >> 10}KB  "
                    f"{s['name'].splitlines()[0][:80]}"
                )
    spark.stop()


if __name__ == "__main__":
    main()
