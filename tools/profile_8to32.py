"""JVM-level attribution of the 8->32 core scaling gap (r3 judge #5).

Profiles the SAME corpus the driver's scaling_efficiency measures (the
materialized 2.4M-conversation transcript table) under three plan
shapes, each pinned to 8 and then 32 cores in a fresh JVM (taskset):

  validate    — the scaling job itself: full-keyword row validation +
                verdict-count agg (map-heavy, one 1-row shuffle)
  uniqueness  — (conv_id, turn_idx) duplicate detection: one corpus-
                wide hash-aggregation shuffle
  windowrank  — per-conversation turn ordering: conv_id shuffle + sort
                (the stable-turn-order window shape)

After two steady-state warmups, the timed reps' PER-STAGE task metrics
come from the Spark UI REST API:

  executorRunTime  — summed task wall (occupancy = runTime/(wall*cores))
  executorCpuTime  — summed on-CPU time (its inflation at 32 cores is
                     memory-bandwidth / turbo contention, not engine)
  jvmGcTime        — GC pauses attributed to tasks
  shuffle bytes + spill — whether the exchange path degrades

Per-query decomposition (seconds of WALL at that core count):
  wall       = measured best-of-reps
  cpu_wall   = executorCpuTime / cores      (pure compute floor)
  gc_wall    = jvmGcTime / cores
  sched_wall = (runTime - cpu - gc) / cores (in-task waits)
  idle_wall  = wall - runTime / cores       (cores without a task:
               wave quantization, driver phases, stage barriers)

Efficiency 8->32 = wall8 / (4 * wall32); the component deltas between
the perfect-scaling prediction (each component / 4) and the observed
32-core numbers attribute the gap.

Usage: python tools/profile_8to32.py [job ...] -> $SPARK_GRAFT_PROFILE_OUT
       (default BENCH/profile_8to32_r4.json; job subset re-runs in place)
       python tools/profile_8to32.py --worker <cpus> <job> <path>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

JOBS = {
    "validate": "full-keyword validation + verdict agg (the scaling job)",
    "uniqueness": "one corpus-wide hash-agg shuffle on (conv_id, turn_idx)",
    "windowrank": "conv_id shuffle + per-conversation sort (window rank)",
    "uniqueness_bucketed": "uniqueness over the conv_id-bucketed table: "
                           "ZERO corpus exchange (storage layout answer)",
    "windowrank_bucketed": "window rank over the conv_id-bucketed table: "
                           "no exchange, near-sorted local sort",
}
UI_PORT = 4543
REPS = 3
N_CONVS = int(os.environ.get("SPARK_GRAFT_SCALE_NCONVS", "2400000"))


def _job_df(spark, job: str, path: str):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import bench

    if job == "validate":
        return bench._validation_agg(spark, path)
    if job.endswith("_bucketed"):
        df = spark.table(bench.transcripts_bucketed(spark, N_CONVS))
    else:
        df = spark.read.parquet(path)
    if job in ("uniqueness", "uniqueness_bucketed"):
        from jsonschema_spark.operators import checks

        return checks.Uniqueness(keys=["conv_id", "turn_idx"]).verdicts(df)
    if job in ("windowrank", "windowrank_bucketed"):
        w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .select(F.sum(F.col("rn").cast("long")).alias("s"))
        )
    raise ValueError(job)


def _worker(cpus: int, job: str, path: str) -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"profile-{job}-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "24g")
        # mirror bench.make_spark's r4 GC decision (see its comment:
        # ParallelGC rode through the storm G1 drowned in)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_GC_OPTS",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch -Xms24g",
            ),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    def run() -> None:
        _job_df(spark, job, path).collect()

    run()
    run()  # steady state (C2-compiled)
    app_id = spark.sparkContext.applicationId

    def stages() -> list[dict]:
        url = (
            f"http://localhost:{UI_PORT}/api/v1/applications/"
            f"{app_id}/stages?status=complete"
        )
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    before_ids = {s["stageId"] for s in stages()}
    best = None
    t_all0 = time.monotonic()
    for _ in range(REPS):
        t0 = time.monotonic()
        run()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    wall_all = time.monotonic() - t_all0
    new = [s for s in stages() if s["stageId"] not in before_ids]
    agg = {
        "executorRunTime_ms": sum(s.get("executorRunTime", 0) for s in new),
        "executorCpuTime_ms": sum(s.get("executorCpuTime", 0) for s in new) / 1e6,
        "jvmGcTime_ms": sum(s.get("jvmGcTime", 0) for s in new),
        "shuffleReadBytes": sum(s.get("shuffleReadBytes", 0) for s in new),
        "shuffleWriteBytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
        "memorySpilled": sum(s.get("memoryBytesSpilled", 0) for s in new),
        "diskSpilled": sum(s.get("diskBytesSpilled", 0) for s in new),
        "inputBytes": sum(s.get("inputBytes", 0) for s in new),
        "numStages": len(new),
        "numTasks": sum(s.get("numCompleteTasks", 0) for s in new),
    }
    print(json.dumps({
        "cpus": cpus, "job": job, "best_sec": best,
        "reps": REPS, "wall_all_reps": wall_all, **agg,
    }), flush=True)
    spark.stop()


def _run(cpus: int, job: str, path: str) -> dict:
    cmd = [
        "taskset", "-c", f"0-{cpus - 1}",
        sys.executable, os.path.abspath(__file__), "--worker",
        str(cpus), job, path,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _decompose(m: dict) -> dict:
    cores = m["cpus"]
    # stage metrics cover all REPS -> divide by reps for the mean rep
    # (wall is best-of-reps; the small mean-vs-best mismatch only makes
    # the attribution conservative)
    run_w = m["executorRunTime_ms"] / 1000 / cores / m["reps"]
    cpu_w = m["executorCpuTime_ms"] / 1000 / cores / m["reps"]
    gc_w = m["jvmGcTime_ms"] / 1000 / cores / m["reps"]
    wall = m["best_sec"]
    return {
        "wall": round(wall, 3),
        "cpu_wall": round(cpu_w, 3),
        "gc_wall": round(gc_w, 3),
        "sched_wall": round(max(run_w - cpu_w - gc_w, 0), 3),
        "idle_wall": round(max(wall - run_w, 0), 3),
        "occupancy": round(min(run_w / wall, 1.0), 3) if wall else None,
        "spill_bytes": m["memorySpilled"] + m["diskSpilled"],
        "shuffle_bytes": m["shuffleReadBytes"] + m["shuffleWriteBytes"],
        "tasks": m["numTasks"],
    }


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--worker":
        _worker(int(sys.argv[2]), sys.argv[3], sys.argv[4])
        return
    # materialize the scaling corpus once (cached across rounds)
    import bench

    spark = bench.make_spark(32)
    spark.sparkContext.setLogLevel("ERROR")
    path = bench.transcripts_path(spark, N_CONVS)
    bench.transcripts_bucketed(spark, N_CONVS)  # write once, workers reuse
    spark.stop()
    only = [a for a in sys.argv[1:] if a in JOBS]
    out_path = os.environ.get(
        "SPARK_GRAFT_PROFILE_OUT", "BENCH/profile_8to32_r4.json"
    )
    result: dict = {"queries": {}, "cpus_pair": [8, 32], "n_convs": N_CONVS}
    if only and os.path.exists(out_path):
        # partial re-run: keep the other jobs' rows
        with open(out_path) as f:
            result = json.load(f)
    for job, desc in JOBS.items():
        if only and job not in only:
            continue
        per: dict = {"description": desc}
        # interleave 8/32 rounds so both levels sample the same weather
        for cpus in (8, 32, 8, 32):
            m = _run(cpus, job, path)
            d = _decompose(m)
            key = str(cpus)
            if key not in per or d["wall"] < per[key]["wall"]:
                per[key] = d
        w8, w32 = per["8"]["wall"], per["32"]["wall"]
        per["efficiency_8to32"] = round(w8 / (4 * w32), 3)
        pred = {k: round(per["8"][k] / 4, 3)
                for k in ("cpu_wall", "gc_wall", "sched_wall", "idle_wall")}
        per["gap_sec"] = round(w32 - w8 / 4, 3)
        per["gap_attribution_sec"] = {
            k: round(per["32"][k] - pred[k], 3) for k in pred
        }
        result["queries"][job] = per
        print(json.dumps({job: per}), flush=True)
    os.makedirs("BENCH", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(f"written {out_path}")


if __name__ == "__main__":
    main()
