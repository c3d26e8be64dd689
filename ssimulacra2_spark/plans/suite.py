"""ValidationSuite — composes all checks over a snapshot pair, writes
verdicts + violations with lineage, commits once per run.

Lifecycle (≙ SURVEY §3.2's fan-out path): config -> one logical DataFrame
DAG per check -> Catalyst/AQE plan -> per-partition execution -> results
MERGE -> driver summary.

With `io`, a run computes the suite once and commits it as one batch, so a
committed run_id is complete and a crashed run leaves nothing committed.
Resume is therefore run-level: re-running a committed run_id returns its
committed results and reads neither input, even if the inputs changed
since (the check is one manifest read). New inputs need a new run_id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ALL_CHECKS, CheckSuiteConfig
from ..operators import checks as C
from ..operators.drift_arrow import drift_scores, drift_verdicts
from ..operators.stats import profile_verdicts, rollup
from ..sources.tableio import ParquetTableIO


class ValidationSuite:
    def __init__(self, cfg: CheckSuiteConfig | None = None):
        self.cfg = cfg or CheckSuiteConfig()

    def run(
        self,
        spark: SparkSession,
        ref: DataFrame,
        cand: DataFrame,
        io: ParquetTableIO | None = None,
        run_id: str = "run0",
    ) -> tuple[DataFrame, DataFrame]:
        """Returns (verdicts, violations); if `io` is given, results are
        written (MERGE) as one commit, and a run_id already committed
        returns its committed results without reading `ref` or `cand`."""
        if io is not None and io.committed_batches(run_id):
            return (
                io.read_verdicts(spark, run_id).select(*C.VERDICT_SCHEMA.fieldNames()),
                io.read_violations(spark, run_id).select(*C.VIOLATION_SCHEMA.fieldNames()),
            )
        cfg = self.cfg
        ref_raw, cand_raw = ref, cand
        # one-pass compact featurization shared by every check (text is
        # decoded exactly once per side; see checks.prepare)
        ref = C.prepare(ref, cfg)
        cand = C.prepare(cand, cfg)

        enabled = set(cfg.checks)

        # --- violation-producing checks: build all branches, union, and
        # persist ONCE — verdict counts then reuse the persisted rows
        # instead of recomputing every check branch a second time
        viol_dfs: list[DataFrame] = []
        do_unique = "uniqueness" in enabled
        do_mono = "monotone_ts" in enabled
        if do_unique or do_mono:
            # fused: one scan + one (conv, chunk) exchange serves both the
            # key-uniqueness and the ordering check (checks.order_unique_violations)
            viol_dfs.append(
                C.order_unique_violations(cand, cfg, do_unique=do_unique, do_mono=do_mono)
            )
        vocab_specs = []
        if "vocab_role" in enabled:
            vocab_specs.append(("role", cfg.roles, False))
        if "vocab_tool" in enabled:
            vocab_specs.append(("tool", cfg.tools, True))
        if vocab_specs:
            # fused: all vocabularies checked in one scan (In predicates)
            viol_dfs.append(C.vocab_violations_fused(cand, cfg, vocab_specs))
        if "text_parity" in enabled:
            viol_dfs.append(C.text_parity_violations(ref, cand, cfg))
        if viol_dfs:
            # round-robin rebalance before persist: violation rows cluster
            # on the partitions that produced them (a hot conversation's
            # mismatches all share one upstream reducer) — without this the
            # downstream count + sink stages carry one straggler task
            n_out = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            violations = reduce(DataFrame.unionByName, viol_dfs).repartition(n_out).persist()
        else:
            violations = spark.createDataFrame([], C.VIOLATION_SCHEMA)

        # every per-partition verdict is one row of the profile rollup:
        # each partition with rows on EITHER side gets a row for every
        # enabled check (a bucket holding only candidate rows must still
        # fail explicitly — a consumer reading verdicts alone would
        # otherwise silently miss it). The rollup is referenced ONCE: a
        # second reference re-scans and re-aggregates both sides.
        per_part = [c for c in cfg.checks if c in enabled and c != "schema"]
        verdicts = spark.createDataFrame([], C.VERDICT_SCHEMA)
        if per_part:
            verdicts = profile_verdicts(rollup(ref, cand, cfg), per_part, cfg)
            # the violation checks start at a vacuous pass (True, 0, NULL)
            # and drift_score at a no-data failure (False, 0, NULL);
            # overlay what they measured
            measured = []
            if viol_dfs:
                counts = violations.groupBy("partition_id", "check_id").agg(
                    F.count("*").alias("n")
                )
                measured.append(
                    C.verdict(counts, F.col("check_id"), F.col("n") == 0, F.col("n"), F.lit(None))
                )
            if "drift_score" in enabled:
                measured.append(drift_verdicts(drift_scores(ref, cand, cfg), cfg))
            if measured:
                keys, fields = ["partition_id", "check_id"], ["passed", "n_violations", "score"]
                m = reduce(DataFrame.unionByName, measured).toDF(*keys, *[f"m_{c}" for c in fields])
                verdicts = verdicts.join(m, keys, "left").select(
                    *keys, *[F.coalesce(f"m_{c}", c).alias(c) for c in fields]
                )
        if "schema" in enabled:
            verdicts = C.schema_check(spark, ref_raw, cand_raw, cfg).verdicts.unionByName(verdicts)

        # NOTE: no coalesce on the returned verdicts. A verdicts.coalesce(8)
        # was built and MEASURED here: it collapses every branch's
        # post-shuffle stage into 8 result tasks, and at local[8] produced
        # catastrophic-tail runs (97s vs 38s on identical input) — the
        # narrow coalesce serializes whatever compute sits above the last
        # exchanges onto too few slots. The small-file concern it addressed
        # lives where it belongs: TableIO.write_results repartitions the
        # KB-scale results before the parquet write (an exchange of tiny
        # data, isolated to the checkpoint path).

        if io is not None:
            io.write_results(run_id, verdicts, violations)
        return verdicts, violations


def summarize(verdicts: DataFrame) -> DataFrame:
    """Per-check summary (≙ mean/median/stddev/p5/p95 report,
    video.rs:499-507)."""
    return verdicts.groupBy("check_id").agg(
        F.count("*").alias("n_partitions"),
        F.sum(F.when(F.col("passed"), 1).otherwise(0)).alias("n_passed"),
        F.avg("score").alias("mean_score"),
        F.expr("percentile_approx(score, 0.5)").alias("median_score"),
        F.stddev("score").alias("std_score"),
        F.expr("percentile_approx(score, 0.05)").alias("p5_score"),
        F.expr("percentile_approx(score, 0.95)").alias("p95_score"),
    )


# --------------------------------------------------------------------------
# Flagship demo over the driver star schema (entry() contract)
# --------------------------------------------------------------------------


def star_schema_demo_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map `events` into the transcript shape (user = conversation, events
    in time order = turns), derive a candidate snapshot with deterministic
    injected violations, run the full suite, return ordered verdicts."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ref = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(F.col("event_type"), F.lit(":"), F.col("props")).alias("text"),
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("event_type")).alias("tool"),
        F.col("ts"),
        F.col("event_id"),
    )
    # deterministic distortions (≙ distort_yuv perturbing a clone,
    # benches.rs:66-80): drop, mutate text, corrupt role, swap ts order
    cand = (
        ref.filter(F.col("event_id") % 101 != 0)  # missing turns
        .withColumn(
            "text",
            F.when(F.col("event_id") % 97 == 0, F.upper(F.col("text"))).otherwise(F.col("text")),
        )
        .withColumn(
            "role",
            F.when(F.col("event_id") % 211 == 0, F.lit("bogus_role")).otherwise(F.col("role")),
        )
        .withColumn(
            "ts",
            F.when(
                F.col("event_id") % 89 == 0, F.col("ts") - F.expr("INTERVAL 10 DAYS")
            ).otherwise(F.col("ts")),
        )
    )
    vocab = ("click", "view", "signup", "purchase", "error")
    cfg = CheckSuiteConfig(
        roles=vocab,
        tools=vocab,
        n_buckets=8,
        min_rows_per_partition=8,
        num_scales=4,
        checks=ALL_CHECKS,
    )
    verdicts, _ = ValidationSuite(cfg).run(
        spark, ref.drop("event_id"), cand.drop("event_id")
    )
    return verdicts.orderBy("check_id", "partition_id")
