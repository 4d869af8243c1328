"""The benchmark's workloads.

Each workload generates its inputs from a seed, runs one timed op, computes
the outputs the checks compare against by another path, checks each op's
output, and in the traced run adds layer probes.  An op is one user-visible
job, timed from ``compile_schema`` to its result, and rebuilds every
DataFrame it uses: Spark 4 caches the collect() result of a reused
DataFrame, which would void a repeat.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.checkpoint import CheckpointManifest, ResumableRun
from jsonschema_spark.operators import checks
from jsonschema_spark.sources import fixtures

# transcript tables are written hive-partitioned by this many conv_id
# shards: the partition unit of the checkpointed run
SHARDS = 8
KEYS = ["conv_id", "turn_idx"]
TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
VIOLATION_COLUMNS = [*KEYS, "path", "info"]


def _checksum(df, cols) -> tuple[int, str]:
    """(row count, order-independent content checksum)."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: a long sum of xxhash64 overflows under ANSI
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), str(r["h"] or 0)


class Ctx:
    """Per-process state of one workload: where its inputs and scratch
    files live, and what the checks expect."""

    def __init__(self, spark, input_dir: str, scratch: str, expected: dict) -> None:
        self.spark = spark
        self.input_dir = input_dir
        self.scratch = scratch
        self.expected = expected
        self.n_paths = 0
        self.reference = None  # first op's verdicts; later ops must repeat them
        self.last_sink = None  # rows and bytes of the last sink written

    def next_path(self, stem: str) -> str:
        self.n_paths += 1
        return os.path.join(self.scratch, f"{stem}_{self.n_paths}")


class TranscriptSuite:
    """Checkpointed six-check suite over the conv_id-skewed transcripts.

    Its traced run also probes the JSON-document path on the same rows
    (``annotate_json`` and a violation sink), so the core/variant and
    sink layers are measured without a workload of their own."""

    name = "transcript_suite"
    size = 6_000  # conversations, ~80k turns
    warmups = 1

    def path(self, ctx: Ctx) -> str:
        return os.path.join(ctx.input_dir, "transcripts")

    def generate(self, spark, d: str, seed: int) -> dict:
        """Write the inputs; return their row count and the plain duplicate
        count the uniqueness check must agree with."""
        df = fixtures.transcripts(spark, n_convs=self.size, seed=seed, partitions=4)
        df.withColumn(
            "shard", F.pmod(F.xxhash64("conv_id"), F.lit(SHARDS)).cast("int")
        ).repartition(SHARDS, "shard").write.partitionBy("shard").parquet(
            os.path.join(d, "transcripts")
        )
        t = spark.read.parquet(os.path.join(d, "transcripts"))
        r = (
            t.groupBy(*KEYS)
            .count()
            .agg(
                F.sum("count").alias("rows"),
                F.sum((F.col("count") > 1).cast("long")).alias("keys"),
                F.sum(F.greatest(F.col("count") - 1, F.lit(0))).alias("extra"),
            )
            .collect()[0]
        )
        return {
            "rows": int(r["rows"]),
            "dup_keys": int(r["keys"]),
            "dup_extra_rows": int(r["extra"]),
        }

    def _suite(self, ctx: Ctx, plan) -> checks.CheckSuite:
        spark, pb = ctx.spark, ["shard"]
        return checks.CheckSuite([
            checks.SchemaCheck(plan=plan, partition_by=pb, name="schema"),
            checks.ColumnStats(columns=["role", "text", "tool", "ts"], approx=True,
                               partition_by=pb, name="stats"),
            checks.Uniqueness(keys=KEYS, partition_by=pb, name="uniqueness"),
            checks.ReferentialIntegrity(dim=fixtures.dim_roles(spark), fact_key="role",
                                        dim_key="role", partition_by=pb, name="ri_role"),
            checks.ReferentialIntegrity(dim=fixtures.dim_tools(spark), fact_key="tool",
                                        dim_key="tool", partition_by=pb, name="ri_tool"),
            checks.Drift(column="turn_idx", baseline_path=self._baseline(ctx),
                         partition_by=pb, name="drift"),
        ])

    def _baseline(self, ctx: Ctx) -> str:
        return os.path.join(ctx.scratch, "drift_baseline")

    def prepare(self, ctx: Ctx) -> None:
        """Store the drift baseline the suite compares against."""
        checks.Drift(column="turn_idx").save_baseline(
            ctx.spark.read.parquet(self.path(ctx)), self._baseline(ctx)
        )

    def reference(self, ctx: Ctx) -> dict:
        return {}  # computed with the inputs: it needs no jsonschema_spark

    def op(self, ctx: Ctx, tr):
        """A fresh checkpointed run into a new manifest, then a resume
        over the same manifest that must execute nothing."""
        spark, path = ctx.spark, self.path(ctx)
        manifest = CheckpointManifest(ctx.next_path("manifest"))
        with tr.span("plans.compile"):
            plan = js.compile_schema(fixtures.TRANSCRIPT_FULL_SCHEMA)
        if tr.enabled:
            # the predicate build the fused schema check performs; timed
            # from outside, so the traced op builds it one extra time
            with tr.span("plans.build"):
                plan.fail_predicate(spark.read.parquet(path))
        suite = self._suite(ctx, plan)
        with tr.span("checkpoint.fresh"):
            fresh = ResumableRun(suite, manifest, partition_by=["shard"],
                                 source_id=path).run(spark.read.parquet(path)).collect()
        with tr.span("checkpoint.resume"):
            resumed = ResumableRun(suite, manifest, partition_by=["shard"],
                                   source_id=path).run(spark.read.parquet(path)).collect()
        return fresh, resumed

    def check(self, ctx: Ctx, result) -> list[str]:
        fresh, resumed = result
        verdicts = sorted(
            (r["partition_id"], r["check"], r["pass"], r["violation_count"],
             tuple(sorted((r["metrics"] or {}).items())))
            for r in fresh
        )
        problems = []
        if ctx.reference is None:
            ctx.reference = verdicts
        elif verdicts != ctx.reference:
            problems.append("verdicts differ from the first op's")
        if len(verdicts) != SHARDS * 6:
            problems.append(f"{len(verdicts)} verdict rows, expected {SHARDS * 6}")
        if resumed:
            problems.append(f"resume returned {len(resumed)} rows, expected 0")
        uniq = [r for r in fresh if r["check"] == "uniqueness"]
        got = (sum(int(r["metrics"]["dup_keys"]) for r in uniq),
               sum(r["violation_count"] for r in uniq))
        want = (ctx.expected["dup_keys"], ctx.expected["dup_extra_rows"])
        if got != want:
            problems.append(f"uniqueness (dup keys, extra rows) = {got}, "
                            f"plain groupBy gives {want}")
        return problems

    def probes(self, ctx: Ctx, tr) -> list[str]:
        """Each check's verdicts planned and collected alone, then the
        JSON-document path over the same rows; returns check failures."""
        spark = ctx.spark
        df = spark.read.parquet(self.path(ctx))
        plan = js.compile_schema(fixtures.TRANSCRIPT_FULL_SCHEMA)
        for c in self._suite(ctx, plan).checks:
            with tr.span(f"checks.{c.name}"):
                v = c.verdicts(df)
                with tr.span("catalyst.plan"):
                    v._jdf.queryExecution().executedPlan()
                v.collect()

        docs_path = os.path.join(ctx.scratch, "docs")
        if "violation_checksum" not in ctx.expected:
            # rendered once per process, untimed; the typed-column path
            # over the same rows is the reference for the sink
            typed = df.select(*TRANSCRIPT_COLUMNS)
            typed.select(
                *KEYS, F.to_json(F.struct(*TRANSCRIPT_COLUMNS)).alias("doc")
            ).write.parquet(docs_path)
            ctx.expected["violation_checksum"] = _checksum(
                plan.validate(typed, keys=KEYS).violations, VIOLATION_COLUMNS)
        with tr.span("json.annotate"):
            a = js.compile_schema(fixtures.TRANSCRIPT_FULL_SCHEMA).annotate_json(
                spark.read.parquet(docs_path), "doc"
            ).agg(F.count(F.lit(1)), F.sum(F.size("violations")))
            with tr.span("catalyst.plan"):
                a._jdf.queryExecution().executedPlan()
            a.collect()
        sink = ctx.next_path("violations")
        with tr.span("sink.write"):
            js.compile_schema(fixtures.TRANSCRIPT_FULL_SCHEMA).validate(
                spark.read.parquet(docs_path), keys=KEYS, json_col="doc"
            ).violations.write.parquet(sink)
        got = _checksum(spark.read.parquet(sink), VIOLATION_COLUMNS)
        ctx.last_sink = {
            "rows": got[0],
            "bytes": sum(os.path.getsize(os.path.join(sink, f))
                         for f in os.listdir(sink) if f.endswith(".parquet")),
        }
        shutil.rmtree(sink)
        want = tuple(ctx.expected["violation_checksum"])
        if got != want:
            return [f"JSON sink (rows, checksum) = {got}, typed path gives {want}"]
        return []


class GatewayVerdicts:
    """The reference's own benchmark rule as a verdict count."""

    name = "gateway_verdicts"
    # large enough that row evaluation, not the ~1,100 py4j round trips of
    # the driver build, is most of an op: their latency swings with the
    # host's scheduling load
    size = 2_400_000  # requests
    # op times keep falling over the first few ops while the JVM
    # compiles the hot code; timing them would time the warm-up
    warmups = 3

    def path(self, ctx: Ctx) -> str:
        return os.path.join(ctx.input_dir, "gateway")

    def generate(self, spark, d: str, seed: int) -> dict:
        # 24 files, so 24 tasks: a task thread the host slows for a moment
        # leaves its later tasks to the other threads
        fixtures.gateway_requests(spark, self.size, seed=seed, partitions=24) \
            .write.parquet(os.path.join(d, "gateway"))
        return {"rows": self.size}

    def reference(self, ctx: Ctx) -> dict:
        """The array path's bad-row count: the predicate path must agree."""
        df = ctx.spark.read.parquet(self.path(ctx))
        viol = js.compile_schema(fixtures.GATEWAY_SCHEMA).violations_col(df)
        r = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.size(viol) > 0).cast("long")).alias("bad"),
        ).collect()[0]
        return {"rows": int(r["rows"]), "bad_rows": int(r["bad"])}

    def prepare(self, ctx: Ctx) -> None:
        pass

    def op(self, ctx: Ctx, tr):
        df = ctx.spark.read.parquet(self.path(ctx))
        with tr.span("plans.compile"):
            plan = js.compile_schema(fixtures.GATEWAY_SCHEMA)
        with tr.span("plans.build"):
            pred = plan.fail_predicate(df)
        agg = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(pred.cast("long")).alias("bad"),
        )
        if tr.enabled:
            with tr.span("catalyst.plan"):
                agg._jdf.queryExecution().executedPlan()
        with tr.span("exec.action"):
            return agg.collect()[0]

    def check(self, ctx: Ctx, r) -> list[str]:
        got = (int(r["rows"]), int(r["bad"]))
        want = (ctx.expected["rows"], ctx.expected["bad_rows"])
        if got != want:
            return [f"(rows, bad rows) = {got}, array path gives {want}"]
        return []

    def probes(self, ctx: Ctx, tr) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (TranscriptSuite(), GatewayVerdicts())}
