#!/usr/bin/env python
"""Per-job profile of one catalog query (guide §1: measure first).

Runs QUERIES[name] with the noop sink in a session with event logging
enabled, then parses the event log into a per-job wall table (job id,
description, seconds, #stages, #tasks) so multi-job choreography
queries (lakehouse verbs, incremental folds) show WHERE the wall goes
— scheduler round-trips and small commits are invisible in explain()
but obvious here.

Usage: python scripts/profile_query.py <query> [sf_dir] [--runs N]
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_store_spark.queries import QUERIES  # noqa: E402
from feature_store_spark.session import get_spark, load_table  # noqa: E402


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    runs = 1
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1])

    evdir = tempfile.mkdtemp(prefix="fss-evlog-")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    # the event log is a static conf: it rides the launch arguments so
    # the session itself (runtime and static confs) comes from get_spark
    # exactly as the engine builds it
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    event_log = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    conf_args = [a for k, v in event_log.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{shlex.join(conf_args)} {submit_args}"
    spark = get_spark("fss-profile")
    spark.sparkContext.setLogLevel("ERROR")

    # warm tables + python workers like bench.py does
    for t in ("lineitem", "events", "documents", "embeddings",
              "customer", "orders", "nation", "region"):
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass
    fn = QUERIES[name][0]
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    try:
        fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
    except Exception as e:
        print(f"warmup failed: {e}", file=sys.stderr)
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()

    walls = []
    marks = []
    for i in range(runs):
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        walls.append(time.time() - t0)
        marks.append(time.time())
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    print(f"query={name} walls={[round(w,3) for w in walls]}")

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse event log: jobs inside the LAST timed run only
    log = os.path.join(evdir, app_id)
    if not os.path.exists(log):
        cands = [os.path.join(evdir, f) for f in os.listdir(evdir)]
        log = max(cands, key=os.path.getmtime)
    if os.path.isdir(log):
        # Spark 4 rolling event log: a dir of events_N_... files
        parts = sorted(
            os.path.join(log, f)
            for f in os.listdir(log)
            if f.startswith("events")
        )
    else:
        parts = [log]
    window_start = (marks[-1] - walls[-1]) * 1000.0
    window_end = marks[-1] * 1000.0
    jobs = {}
    stages = {}
    def _lines():
        for p in parts:
            with open(p) as fh:
                yield from fh

    if True:
        for line in _lines():
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "t0": ev["Submission Time"],
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    )[:90],
                    "callsite": ev.get("Properties", {}).get(
                        "callSite.short", ""
                    ),
                    "nstages": len(ev.get("Stage Infos", [])),
                    "ntasks": sum(
                        s.get("Number of Tasks", 0)
                        for s in ev.get("Stage Infos", [])
                    ),
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = si
            elif e == "SparkListenerStageSubmitted":
                si = ev["Stage Info"]
                jid = max(jobs) if jobs else -1
                if jid >= 0:
                    jobs[jid].setdefault("run_stages", []).append(
                        (si["Stage ID"], si.get("Number of Tasks", 0))
                    )

    sel = [
        (jid, j)
        for jid, j in sorted(jobs.items())
        if "t1" in j and j["t0"] >= window_start and j["t1"] <= window_end
    ]
    total_job = sum(j["t1"] - j["t0"] for _, j in sel) / 1000.0
    print(f"jobs_in_last_run={len(sel)} job_wall_sum={total_job:.3f}s "
          f"(run wall {walls[-1]:.3f}s; gap = driver/py time)")
    print(f"{'job':>4} {'sec':>7} {'stg':>3} {'tasks':>5}  desc/callsite")
    for jid, j in sel:
        dur = (j["t1"] - j["t0"]) / 1000.0
        label = j["desc"] or j["callsite"]
        ran = j.get("run_stages", [])
        ran_s = ",".join(f"s{sid}:{nt}t" for sid, nt in ran)
        print(
            f"{jid:>4} {dur:>7.3f} {j['nstages']:>3} {j['ntasks']:>5}  "
            f"ran[{ran_s}]  {label}"
        )


if __name__ == "__main__":
    main()
