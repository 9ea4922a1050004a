#!/usr/bin/env python
"""Profile registry queries: per-stage task wall/CPU from the event log.

Usage: python scripts/profile_query.py <query> [query ...]
Runs each query twice (warm, then timed with event log) and prints each
run's Janino compile count (process-wide `CodegenMetrics` delta, as in the
run manifest's `codegen_compiles`), then the timed run's stages: task
count, total task wall, total CPU, shuffle bytes.
The session is the engine's own `build_session()` (core count from
SPARK_GRAFT_CPUS); the event log is switched on through
PYSPARK_SUBMIT_ARGS before the JVM starts.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rwa_calculator_spark.plans import load_all
from rwa_calculator_spark.session import build_session, codegen_compiles

EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    registry = load_all()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{EVDIR}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ]
    )
    spark = build_session(app_name="profile-query")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        spec = registry[name]
        # warm (codegen, file listing)
        c0 = codegen_compiles(spark)
        spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        c1 = codegen_compiles(spark)
        spark.sparkContext.setJobDescription(f"TIMED:{name}")
        df = spec.fn(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        compiles = f"compiles warm {c1 - c0}, timed {codegen_compiles(spark) - c1}"
        print(f"\n=== {name}: wall {wall:.3f}s, {compiles}")
    sc_app = spark.sparkContext.applicationId
    spark.stop()

    # parse event log
    path = os.path.join(EVDIR, sc_app)
    if not os.path.isfile(path):
        cand = [p for p in os.listdir(EVDIR) if sc_app in p and not p.endswith(".inprogress")]
        path = os.path.join(EVDIR, cand[0]) if cand else path
    jobs = {}   # jobId -> (desc, [stageIds])
    stages = {}  # stageId -> dict
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                jobs[ev["Job ID"]] = (desc, [s["Stage ID"] for s in ev["Stage Infos"]])
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages.setdefault(si["Stage ID"], {})
                st["name"] = si["Stage Name"]
                st["tasks"] = si["Number of Tasks"]
                st["wall"] = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(sid, {})
                st["task_wall"] = st.get("task_wall", 0) + (ev["Task Info"]["Finish Time"] - ev["Task Info"]["Launch Time"]) / 1e3
                st["cpu"] = st.get("cpu", 0) + m.get("Executor CPU Time", 0) / 1e9
                st["run"] = st.get("run", 0) + m.get("Executor Run Time", 0) / 1e3
                st["deser"] = st.get("deser", 0) + m.get("Executor Deserialize Time", 0) / 1e3
                st["gc"] = st.get("gc", 0) + m.get("JVM GC Time", 0) / 1e3
                st["res_ser"] = st.get("res_ser", 0) + m.get("Result Serialization Time", 0) / 1e3
                srm = m.get("Shuffle Read Metrics", {})
                swm = m.get("Shuffle Write Metrics", {})
                st["sh_r"] = st.get("sh_r", 0) + srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                st["sh_w"] = st.get("sh_w", 0) + swm.get("Shuffle Bytes Written", 0)
                st["n_done"] = st.get("n_done", 0) + 1

    for jid in sorted(jobs):
        desc, sids = jobs[jid]
        if not desc.startswith("TIMED:"):
            continue
        print(f"\n## job {jid} {desc}")
        for sid in sorted(sids):
            st = stages.get(sid)
            if not st or "n_done" not in st:
                continue
            nm = st.get("name", "?").split("\n")[0][:70]
            print(
                f"  stage {sid:3d} tasks={st.get('n_done',0):3d} "
                f"taskwall={st.get('task_wall',0):6.2f}s run={st.get('run',0):6.2f}s cpu={st.get('cpu',0):6.2f}s "
                f"deser={st.get('deser',0):5.2f}s gc={st.get('gc',0):5.2f}s "
                f"shR={st.get('sh_r',0)/1e6:6.1f}MB shW={st.get('sh_w',0)/1e6:6.1f}MB  {nm}"
            )


if __name__ == "__main__":
    main()
