"""Per-query optimization profiler (r13): decompose one registry query's
noop-write wall time into plan-construction (Python + analysis) vs
execution, and break execution down per job/stage via the live UI REST
API (the guide's §1 "empirical" loop, scripted).

For each named query, a fresh-session subprocess reports:
  - build_s: time for fn(spark, sf_dir) — Python plan assembly + analysis
  - exec_cold_s / exec_steady_s: noop write of the SAME DataFrame object
    (cold includes codegen), then a rebuilt plan's noop write (what
    bench.py's steady run actually measures: build + exec)
  - jobs, stages, tasks: scheduler work per steady execution
  - top stages by wall: name, task count, runtime
  - exchange count in the final executed plan string

Usage:
  python tools/profile_query.py q_dedup_embedding_clusters [more...]
      [--sf-dir /root/testdata/sf0.1]
Prints one JSON line per query.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION_BODY = r"""
import json, sys, time, urllib.request
root, name, sf_dir = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, root)
from tfl_bikes_data_pipeline_spark import registry
from tfl_bikes_data_pipeline_spark.session import get_spark
from tfl_bikes_data_pipeline_spark.tables import TABLE_NAMES, load_table

spark = get_spark(app_name="profile_query", extra_conf={"spark.ui.enabled": "true"})
spark.range(1000).count()
for t in TABLE_NAMES:
    load_table(spark, sf_dir, t).count()
ui = spark.sparkContext.uiWebUrl
app_id = spark.sparkContext.applicationId

def rest(path):
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}{path}") as r:
        return json.load(r)

fn = registry.QUERIES[name]
from tfl_bikes_data_pipeline_spark import scope

# cold: build once, execute once (includes codegen)
t0 = time.perf_counter()
df = fn(spark, sf_dir)
build_cold = time.perf_counter() - t0
t0 = time.perf_counter()
df.write.format("noop").mode("overwrite").save()
exec_cold = time.perf_counter() - t0
scope.release()

# steady: rebuild plan (what bench.py times), separating build from exec.
# THREE steady reps, report the median — single readings on this host
# swing 2x with load transients (r13 measurement discipline).
builds, execs = [], []
jobs_before = {j["jobId"] for j in rest("/jobs")}
for rep in range(3):
    if rep == 2:
        jobs_before = {j["jobId"] for j in rest("/jobs")}  # job/stage stats: last rep only
    t0 = time.perf_counter()
    df2 = fn(spark, sf_dir)
    builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    df2.write.format("noop").mode("overwrite").save()
    execs.append(time.perf_counter() - t0)
    scope.release()
build_steady = sorted(builds)[1]
exec_steady = sorted(execs)[1]

jobs = [j for j in rest("/jobs") if j["jobId"] not in jobs_before]
stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
stages = []
n_tasks = 0
for sid in stage_ids:
    try:
        for att in rest(f"/stages/{sid}"):
            if att["status"] == "SKIPPED":
                continue
            dur = None
            if att.get("firstTaskLaunchedTime") and att.get("completionTime"):
                from datetime import datetime
                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                t1 = datetime.strptime(att["firstTaskLaunchedTime"].replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
                t2 = datetime.strptime(att["completionTime"].replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
                dur = round((t2 - t1).total_seconds(), 3)
            n_tasks += att.get("numCompleteTasks", 0)
            stages.append({
                "id": sid,
                "name": att["name"].split("\n")[0][:80],
                "tasks": att.get("numCompleteTasks", 0),
                "wall_s": dur,
                "shuffle_write_b": att.get("shuffleWriteBytes", 0),
            })
    except Exception:
        pass
stages.sort(key=lambda s: -(s["wall_s"] or 0))
plan = df2._jdf.queryExecution().executedPlan().toString()
n_exchange = plan.count("Exchange")
n_aqeread = plan.count("AQEShuffleRead")
print("PROFILE_JSON " + json.dumps({
    "query": name,
    "build_cold_s": round(build_cold, 3),
    "exec_cold_s": round(exec_cold, 3),
    "build_steady_s": round(build_steady, 3),
    "exec_steady_s": round(exec_steady, 3),
    "steady_total_s": round(build_steady + exec_steady, 3),
    "jobs": len(jobs),
    "stages": len(stages),
    "tasks": n_tasks,
    "exchanges_executed": n_exchange,
    "aqe_shuffle_reads": n_aqeread,
    "top_stages": stages[:8],
}))
spark.stop()
"""


def profile(name: str, sf_dir: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _SESSION_BODY, REPO, name, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("PROFILE_JSON "):
            return json.loads(line[len("PROFILE_JSON "):])
    raise RuntimeError(
        f"{name}: no profile line.\nstdout tail: {proc.stdout[-1500:]}\n"
        f"stderr tail: {proc.stderr[-1500:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    for name in args.queries:
        try:
            print(json.dumps(profile(name, args.sf_dir)))
        except Exception as e:  # keep going across a broken query
            print(json.dumps({"query": name, "error": str(e)[:500]}))


if __name__ == "__main__":
    main()
