"""jsonschema_spark benchmark: closed-loop workloads on a local[3] session.

Usage, from the repository root:

    python3 perfbench/run.py --workload transcript_suite --seed 1 --seconds 6 --trace 0

One client runs one op at a time.  A run starts a fresh worker process,
which starts a session, generates the seed's inputs in it, sets up (the
workload's own set-up and its cold warm-up ops) and runs timed ops until
``--seconds`` have passed; then it computes the outputs the checks expect
and checks every op.  With ``--trace 1`` the worker instead alternates
untraced ops, traced ops and layer probes, reads Spark's stage metrics and
reports the per-layer metrics.

Everything the benchmark writes stays under ``.bench_cache/``.  The last
line of stdout is the result JSON; the lines before it are for people.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_cache")
# the keys of workloads.WORKLOADS, listed here so that the launcher does
# not import pyspark
WORKLOAD_NAMES = ("transcript_suite", "gateway_verdicts")
# op_tail_s is this percentile of the run's op times
TAIL_Q = 0.75
# Spark task threads: one core of the four is left to the Python driver,
# the JIT compiler and the garbage collector, which otherwise compete with
# the tasks and make op times swing with how the host schedules them
THREADS = 3
# a run, inputs generation included, ends within this
RUN_DEADLINE_S = 170
CHECKS = ("schema", "stats", "uniqueness", "ri_role", "ri_tool", "drift")
E2E = {
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "setup_s": "s",
    "driver_rss_mb": "MB",
}
LAYERS = {
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "catalyst.plan_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "scan.bytes_read": "bytes",
    **{f"checks.{c}_s": "s" for c in CHECKS},
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "checkpoint.fresh_s": "s",
    "checkpoint.resume_s": "s",
    "json.annotate_s": "s",
    "sink.write_s": "s",
    "sink.rows_written": "count",
    "sink.bytes_written": "bytes",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------- child processes


def _py_files() -> str:
    """jsonschema_spark zipped as it is deployed (``spark.submit.pyFiles``),
    so Python workers import the same code as the driver."""
    out = os.path.join(CACHE, "jsonschema_spark.zip")
    pkg = os.path.join(ROOT, "jsonschema_spark")
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, ROOT))
    os.replace(out + ".tmp", out)
    return out


def _session(trace: bool):
    from pyspark.sql import SparkSession

    local = os.path.join(CACHE, "spark-local")
    os.makedirs(local, exist_ok=True)
    # a heap of fixed size: no resizing while the run measures
    jvm_opts = "-XX:+UseParallelGC -Xms2g"
    spark = (
        SparkSession.builder.master(f"local[{THREADS}]")
        .appName("jsonschema_spark-perfbench")
        .config("spark.submit.pyFiles", _py_files())
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"{jvm_opts} -Djava.io.tmpdir={local}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def worker(args) -> dict:
    from perfbench.trace import NULL_TRACER
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]
    spark = _session(bool(args.trace))
    session_s = time.time() - args.spawned_at
    scratch = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=os.path.join(CACHE, "run"))
    out = {"ops": [], "problems": []}
    try:
        # The seed's inputs are made in this session, before set-up is
        # timed, so every run sets up on an equally warm JVM.  They are not
        # kept: a run that reused them would set up on a colder one.
        inputs = os.path.join(scratch, "inputs")
        ctx = Ctx(spark, inputs, scratch, wl.generate(spark, inputs, args.seed))
        n = ctx.expected["rows"]
        rows = spark.read.parquet(wl.path(ctx)).count()
        if rows != n:
            raise RuntimeError(f"input has {rows} rows, expected {n}")
        results = []

        def run_op(tr) -> float:
            t = time.perf_counter()
            try:
                result = wl.op(ctx, tr)
            except Exception as e:  # an op that raises is a failed op
                result = e
            dt = time.perf_counter() - t
            results.append(result)
            out["ops"].append({"s": dt, "rows": n})
            return dt

        t0 = time.perf_counter()
        wl.prepare(ctx)
        for _ in range(wl.warmups):
            run_op(NULL_TRACER)
        out["warmups"] = wl.warmups
        out["setup_s"] = session_s + time.perf_counter() - t0
        start = time.perf_counter()
        if args.trace:
            out["layers"] = _traced(spark, ctx, wl, run_op, start, args.seconds,
                                    out["problems"])
        else:
            run_op(NULL_TRACER)
            while time.perf_counter() - start < args.seconds:
                run_op(NULL_TRACER)

        # the outputs the checks expect come from another path through the
        # program; it runs after the ops, so the warm-up ops meet it cold
        ctx.expected.update(wl.reference(ctx))
        for op, result in zip(out["ops"], results):
            if isinstance(result, Exception):
                problems = [f"{type(result).__name__}: {result}"]
            else:
                problems = wl.check(ctx, result)
            op["ok"] = not problems
            out["problems"] += problems
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    out["rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return out


def _traced(spark, ctx, wl, run_op, start, seconds, problems) -> dict:
    """Alternate an untraced and a traced op until ``seconds`` have passed,
    then run the layer probes once.  Per-op layer values are medians over
    the traced ops."""
    from perfbench.trace import NULL_TRACER, Py4jCounter, StageMetrics, Tracer

    tr = Tracer()
    stages = StageMetrics(spark)
    untraced, traced, per_op = [], [], []
    while not per_op or time.perf_counter() - start < seconds:
        i = len(per_op) + 1
        untraced.append(run_op(NULL_TRACER))
        before = stages.snapshot()
        tr.op_id = i
        with Py4jCounter(spark) as tr.counter:
            traced.append(run_op(tr))
        tr.counter = None
        m = stages.since(before)
        per_op.append({
            "plans.build_s": tr.seconds("plans.", i),
            "plans.py4j_calls": tr.calls("plans.", i),
            "exec.task_cpu_s": m["executorCpuTime"] / 1e9,
            "exec.gc_s": m["jvmGcTime"] / 1e3,
            "scan.bytes_read": m["inputBytes"],
            "exchange.shuffle_write_bytes": m["shuffleWriteBytes"],
            "exchange.spill_bytes": m["memoryBytesSpilled"] + m["diskBytesSpilled"],
            "checkpoint.fresh_s": tr.seconds("checkpoint.fresh", i),
            "checkpoint.resume_s": tr.seconds("checkpoint.resume", i),
            "catalyst.plan_s": tr.seconds("catalyst.plan", i),
        })
    layers = {k: statistics.median(r[k] for r in per_op) for k in per_op[0]}
    layers["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)

    tr.op_id = "probes"
    problems += wl.probes(ctx, tr)
    sink = ctx.last_sink or {"rows": 0, "bytes": 0}
    layers["catalyst.plan_s"] += tr.seconds("catalyst.plan", "probes")
    for c in CHECKS:
        layers[f"checks.{c}_s"] = tr.seconds(f"checks.{c}", "probes")
    layers["json.annotate_s"] = tr.seconds("json.annotate", "probes")
    layers["sink.write_s"] = tr.seconds("sink.write", "probes")
    layers["sink.rows_written"] = sink["rows"]
    layers["sink.bytes_written"] = sink["bytes"]

    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    path = os.path.join(CACHE, "traces", f"{wl.name}-{os.getpid()}.json")
    tr.dump(path)
    log(f"spans written to {path}")
    return layers


# -------------------------------------------------------------- launcher


def _stop_group(pgid: int) -> None:
    """Wait until every process of a child's group (its JVM included) has
    ended; kill what is left after a grace period."""
    start = time.monotonic()
    while time.monotonic() - start < 20:
        try:
            os.killpg(pgid, signal.SIGKILL if time.monotonic() - start > 15 else 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    log(f"processes of group {pgid} still listed after SIGKILL")


def _run_worker(args, deadline: float) -> dict:
    out = os.path.join(CACHE, "run", f"worker-{os.getpid()}.json")
    cmd = [
        sys.executable, os.path.abspath(__file__), "--worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--spawned-at", repr(time.time()),
    ]
    local = os.path.join(CACHE, "spark-local")
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_DIRS=local,
               TMPDIR=os.path.join(CACHE, "tmp"))
    # the child's stdout carries Spark's console noise: keep ours clean
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"worker ran past the {RUN_DEADLINE_S}s deadline") from None
    finally:
        # also reached when this process is told to stop (see main): the
        # worker gets SIGTERM first, so it can stop its JVM
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        _stop_group(proc.pid)
    if code != 0:
        raise RuntimeError(f"worker exited with code {code}")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    return res


def _quantile(xs: list[float], q: float) -> float:
    """Linear interpolation between closest ranks, q in [0, 1]."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _report(name: str, value: float, unit: str) -> dict:
    print(f"  {name:<30} {value:>14.6g} {unit}")
    return {"value": value, "unit": unit}


def launch(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "jsonschema_spark", "__init__.py")):
        log(f"no jsonschema_spark package under {ROOT}: run from a repository checkout")
        return 2
    for d in ("run", "tmp"):
        os.makedirs(os.path.join(CACHE, d), exist_ok=True)
    try:
        res = _run_worker(args, time.monotonic() + RUN_DEADLINE_S)
    except RuntimeError as e:
        log(f"benchmark failed: {e}")
        return 1
    ops = res["ops"]
    timed = ops[res["warmups"]:]
    failed = sum(not o["ok"] for o in ops)
    print(f"{args.workload} seed={args.seed} trace={args.trace}: {len(ops)} ops, "
          f"{res['warmups']} of them warm-up")
    print("  op seconds: " + " ".join(f"{o['s']:.3f}" for o in ops))
    if args.trace:
        metrics = {k: _report(k, res["layers"][k], u) for k, u in LAYERS.items()}
    else:
        times = [o["s"] for o in timed]
        p50 = statistics.median(times)
        values = {
            # at the median op, so that one stalled op moves it no more
            # than it moves op_p50_s
            "rows_per_s": timed[0]["rows"] / p50,
            "op_p50_s": p50,
            "op_tail_s": _quantile(times, TAIL_Q),
            "setup_s": res["setup_s"],
            "driver_rss_mb": res["rss_mb"],
        }
        metrics = {k: _report(k, values[k], u) for k, u in E2E.items()}
    print(f"  {'error_rate':<30} {failed / len(ops):>14.6g} ({failed} of {len(ops)} ops failed)")
    for p in dict.fromkeys(res["problems"]):
        print(f"  output check FAILED: {p}")
    if not res["problems"]:
        print("  output checks: all passed")
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--out", help=argparse.SUPPRESS)
    p.add_argument("--spawned-at", type=float, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    # SIGTERM unwinds like an exception, so children are stopped on the way
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    if not args.worker:
        return launch(args)
    res = worker(args)
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
