"""ValidationSuite — composes all checks over a snapshot pair, writes
verdicts + violations with lineage, resumes per partition.

Lifecycle (≙ SURVEY §3.2's fan-out path): config -> one logical DataFrame
DAG per check -> Catalyst/AQE plan -> per-partition execution -> results
MERGE -> driver summary.

Resume: partitions whose verdicts are already COMMITTED for this run_id
are anti-joined out of BOTH inputs up front — completion is derived from
the results table itself (distinct partition_id of committed verdicts),
never from a driver-side partition list, so nothing here is
O(partitions). The filter sits directly above the scan, so on a
bucket-partitioned table it prunes file groups (≙ skip_frames
fast-forward, video.rs:145-153).

Commit granularity: with `io`, work is split into cfg.commit_batches
slices of the partition-id space (pid % commit_batches), each slice
written+committed independently — a crash preserves completed batches and
the next run resumes from them. Every per-partition check is
partition-local (conversations never straddle buckets), so slicing by
partition id is exact. commit_batches=1 keeps the single-commit behavior.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CheckSuiteConfig
from ..operators import checks as C
from ..operators.drift import psi_emb_fused_check
from ..operators.drift_arrow import drift_score_check_arrow
from ..operators.stats import column_stats
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
        written (MERGE) in cfg.commit_batches independent commits and
        already-committed partitions are skipped."""
        cfg = self.cfg
        nb = max(1, cfg.commit_batches) if io is not None else 1
        if nb == 1:
            return self._run_slice(spark, ref, cand, io, run_id, None)
        all_v: list[DataFrame] = []
        all_x: list[DataFrame] = []
        for b in range(nb):
            v, x = self._run_slice(spark, ref, cand, io, run_id, (b, nb))
            all_v.append(v)
            all_x.append(x)
        return (
            reduce(DataFrame.unionByName, all_v),
            reduce(DataFrame.unionByName, all_x),
        )

    def _run_slice(
        self,
        spark: SparkSession,
        ref: DataFrame,
        cand: DataFrame,
        io: ParquetTableIO | None,
        run_id: str,
        batch: tuple[int, int] | None,
    ) -> tuple[DataFrame, DataFrame]:
        cfg = self.cfg
        ref_raw, cand_raw = ref, cand
        # one-pass compact featurization shared by every check (text is
        # decoded exactly once per side; see checks.prepare)
        ref = C.prepare(ref, cfg)
        cand = C.prepare(cand, cfg)

        if batch is not None:
            b, nb = batch
            in_batch = F.pmod(F.col("partition_id"), F.lit(nb)) == b
            ref = ref.filter(in_batch)
            cand = cand.filter(in_batch)

        done = io.completed_partitions(spark, run_id) if io else None
        if done is not None:
            done = F.broadcast(done)
            ref = ref.join(done, "partition_id", "left_anti")
            cand = cand.join(done, "partition_id", "left_anti")

        ref_parts = C.partition_counts(ref).cache()
        cand_parts = C.partition_counts(cand).cache()
        # verdict universe = every partition with data on EITHER side: a
        # bucket holding only candidate rows must still get explicit
        # verdict rows for every check (a consumer reading verdicts alone
        # would otherwise silently miss its failures)
        parts = (
            ref_parts.select("partition_id")
            .unionByName(cand_parts.select("partition_id"))
            .distinct()
        )
        enabled = set(cfg.checks)
        if batch is not None and batch[0] != 0:
            # driver-side schema verdict is batch-independent: emit it once
            enabled = enabled - {"schema"}

        # --- violation-producing checks: build all branches, union, and
        # persist ONCE — verdict counts then reuse the persisted rows
        # instead of recomputing every check branch a second time
        viol_dfs: list[DataFrame] = []
        viol_check_ids: list[str] = []
        do_unique = "uniqueness" in enabled
        do_mono = "monotone_ts" in enabled
        if do_unique or do_mono:
            # fused: one scan + one (conv, chunk) exchange serves both the
            # key-uniqueness and the ordering check (checks.order_unique_violations)
            viol_dfs.append(
                C.order_unique_violations(cand, cfg, do_unique=do_unique, do_mono=do_mono)
            )
            viol_check_ids.extend(
                c for c in ("uniqueness", "monotone_ts")
                if (c == "uniqueness" and do_unique) or (c == "monotone_ts" and do_mono)
            )
        vocab_specs = []
        if "vocab_role" in enabled:
            vocab_specs.append(("role", cfg.roles, False))
            viol_check_ids.append("vocab_role")
        if "vocab_tool" in enabled:
            vocab_specs.append(("tool", cfg.tools, True))
            viol_check_ids.append("vocab_tool")
        if vocab_specs:
            # fused: all vocabularies checked in one scan (In predicates)
            viol_dfs.append(C.vocab_violations_fused(cand, cfg, vocab_specs))
        if "text_parity" in enabled:
            viol_dfs.append(C.text_parity_violations(ref, cand, cfg))
            viol_check_ids.append("text_parity")
        if viol_dfs:
            # round-robin rebalance before persist: violation rows cluster
            # on the partitions that produced them (a hot conversation's
            # mismatches all share one upstream reducer) — without this the
            # downstream count + sink stages carry one straggler task
            n_out = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
            violations = reduce(DataFrame.unionByName, viol_dfs).repartition(n_out).persist()
        else:
            violations = spark.createDataFrame([], C.VIOLATION_SCHEMA)

        outputs: list[C.CheckOutput] = []
        if "schema" in enabled:
            outputs.append(C.schema_check(spark, ref_raw, cand_raw, cfg))
        if "min_rows" in enabled:
            # universe-complete ref volumes: a cand-only bucket has 0 ref
            # rows and must FAIL the volume guard explicitly
            ref_universe = (
                parts.join(ref_parts, "partition_id", "left").fillna(0, ["n_rows"])
            )
            outputs.append(C.min_rows_check(ref_universe, cfg))
        if "row_parity" in enabled:
            outputs.append(C.row_parity_check(ref_parts, cand_parts, cfg))
        if "column_stats" in enabled:
            outputs.append(column_stats(cand, parts, cfg))
        if enabled & {"psi_ks", "emb_drift"}:
            # one scan + one (partition, bin) shuffle per side serves
            # whichever of the two checks cfg.checks enables
            outputs.append(psi_emb_fused_check(ref, cand, parts, cfg))
        if "drift_score" in enabled:
            outputs.append(drift_score_check_arrow(ref, cand, parts, cfg))

        if outputs:
            verdicts = reduce(DataFrame.unionByName, [o.verdicts for o in outputs])
        else:
            verdicts = spark.createDataFrame([], C.VERDICT_SCHEMA)
        if viol_check_ids:
            checks_df = spark.createDataFrame(
                [(c,) for c in viol_check_ids], ["check_id"]
            )
            counts = violations.groupBy("partition_id", "check_id").agg(
                F.count("*").alias("n_violations")
            )
            n = F.coalesce(F.col("n_violations"), F.lit(0))
            viol_verdicts = C.verdict(
                parts.select("partition_id")
                .crossJoin(F.broadcast(checks_df))
                .join(counts, ["partition_id", "check_id"], "left"),
                F.col("check_id"),
                passed=n == 0,
                n_violations=n,
                score=F.lit(None),
            )
            verdicts = verdicts.unionByName(viol_verdicts)

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
        checks=(
            "schema",
            "min_rows",
            "row_parity",
            "uniqueness",
            "monotone_ts",
            "vocab_role",
            "vocab_tool",
            "text_parity",
            "column_stats",
            "psi_ks",
            "emb_drift",
            "drift_score",
        ),
    )
    verdicts, _ = ValidationSuite(cfg).run(
        spark, ref.drop("event_id"), cand.drop("event_id")
    )
    return verdicts.orderBy("check_id", "partition_id")
