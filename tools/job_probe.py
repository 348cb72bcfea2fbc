"""Per-query job/stage attribution probe (optimization round 16).

Runs named bench-registry entries in a fresh session with the bench
config (``recommended_builder`` plus bench.build_spark's overrides)
except the UI enabled, then reads the UI REST API to
attribute wall time: how many Spark jobs (actions) the query issues,
how many stages/tasks, aggregate executor task time vs wall clock —
separating orchestration latency (many tiny jobs, plan/codegen time,
driver work) from genuine executor compute.

Usage: python tools/job_probe.py q1 q2 ... [--runs=N]
Prints one JSON line per query:
  {"query": ..., "wall": [...], "jobs": N, "stages": N, "tasks": N,
   "task_time_s": T, "py_time_s": P, "gc_time_s": G,
   "shuffle_write_mb": W, "stage_detail": [...]}
Stage detail rows (last run only): [stage_name, tasks, task_time_s].
"""
from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 2
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import bench

    from petk_spark.session import recommended_builder

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        recommended_builder(f"local[{cpus}]", int(cpus))
        .appName("petk-spark-job-probe")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.cleaner.periodicGC.interval", "45s")
        .getOrCreate()
    )
    registry, _ = bench.build_registry(spark, sf_dir)
    base = f"http://localhost:{spark.sparkContext.uiWebUrl.split(':')[-1]}/api/v1"
    app = _get(f"{base}/applications")[0]["id"]

    for name in args:
        fn = registry[name]
        walls = []
        for i in range(runs):
            jobs_before = {j["jobId"] for j in _get(f"{base}/applications/{app}/jobs")}
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            walls.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        time.sleep(0.5)
        jobs = [
            j
            for j in _get(f"{base}/applications/{app}/jobs")
            if j["jobId"] not in jobs_before
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                for att in _get(f"{base}/applications/{app}/stages/{sid}"):
                    stages.append(att)
            except Exception:
                pass
        n_tasks = sum(s.get("numCompleteTasks", 0) for s in stages)
        task_time = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
        gc_time = sum(s.get("jvmGcTime", 0) for s in stages) / 1e3
        sh_w = sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6
        sh_r = sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6
        detail = sorted(
            (
                (
                    s.get("name", "?")[:70],
                    s.get("numCompleteTasks", 0),
                    round(s.get("executorRunTime", 0) / 1e3, 2),
                )
                for s in stages
            ),
            key=lambda r: -r[2],
        )[:12]
        print(
            json.dumps(
                {
                    "query": name,
                    "wall": walls,
                    "jobs": len(jobs),
                    "stages": len(stages),
                    "tasks": n_tasks,
                    "task_time_s": round(task_time, 2),
                    "gc_time_s": round(gc_time, 2),
                    "shuffle_write_mb": round(sh_w, 2),
                    "shuffle_read_mb": round(sh_r, 2),
                    "stage_detail": detail,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
