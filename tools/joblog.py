#!/usr/bin/env python
"""Event-log job/stage attribution for one or more queries.

Usage: python tools/joblog.py q1 [q2 ...] [--runs 2] [--sf DIR]

Runs each query with bench.py's method (``bench.bench_session`` and
``bench.run_query``) with the Spark event log enabled, then prints per
timed run its plan-construction seconds and its timed seconds (the
number bench.py reports; construction + fetch is their sum, except for
ITERATIVE_CONSTRUCTION queries whose timed seconds already include
construction), followed by the run's jobs: job id, duration, number of
tasks, and the first line of the job's call site — enough to attribute
wall time to actions (collects, broadcast builds, cache fills) without
the history server.  Jobs are matched to runs by the job description
``run_query`` sets.
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session, run_query  # noqa: E402
from ex9_big_data_gal_drimer_spark.plans import QUERIES  # noqa: E402

LOG_DIR = "/tmp/ex9_eventlog"


def _event_lines(app_id: str):
    path = os.path.join(LOG_DIR, app_id)
    if not os.path.exists(path):
        cands = [
            os.path.join(LOG_DIR, f)
            for f in os.listdir(LOG_DIR)
            if app_id in f
        ]
        path = cands[0] if cands else path
    if os.path.isdir(path):  # rolling event-log layout (eventlog_v2_*)
        parts = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if "events" in f
        )
    else:
        parts = [path]
    for p in parts:
        with open(p) as fh:
            yield from fh


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    os.makedirs(LOG_DIR, exist_ok=True)
    spark, _ = bench_session(
        "ex9-joblog",
        args.sf,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": LOG_DIR,
            "spark.eventLog.compress": "false",
        },
    )
    app_id = spark.sparkContext.applicationId
    runs = {
        name: run_query(spark, name, QUERIES[name], args.sf, args.runs)
        for name in args.names
    }
    spark.stop()

    jobs = {}   # id -> dict
    stages = {}  # id -> dict
    for line in _event_lines(app_id):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "start": ev["Submission Time"],
                "desc": props.get("spark.job.description", ""),
                "callsite": props.get("callSite.short", ""),
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                "ntasks": sum(s.get("Number of Tasks", 0) for s in ev.get("Stage Infos", [])),
            }
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si.get("Stage Name", ""),
                "dur": (si.get("Completion Time", 0) - si.get("Submission Time", 0)),
                "ntasks": si.get("Number of Tasks", 0),
            }

    for name, reps in runs.items():
        for rep, (construct_s, timed_s) in enumerate(reps):
            desc = f"{name}#{rep}"
            print(f"\n=== {desc}: construct {construct_s:.3f}s  timed {timed_s:.3f}s ===")
            for jid in sorted(jobs):
                j = jobs[jid]
                if j["desc"] != desc:
                    continue
                dur = (j.get("end", j["start"]) - j["start"]) / 1000.0
                print(f"  job {jid}: {dur:6.3f}s  tasks={j['ntasks']:3d}  {j['callsite'][:60]}")
                for sid in j["stages"]:
                    s = stages.get(sid)
                    if s and s["dur"] > 100:
                        print(f"      stage {sid}: {s['dur']/1000.0:6.3f}s tasks={s['ntasks']:3d}  {s['name'][:70]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
