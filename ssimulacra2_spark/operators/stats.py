"""Per-partition column statistics (north rule: null-rate, min/max,
approx-distinct via HLL, length/quantile profiles).

One aggregate pass per snapshot — every stat is a mergeable aggregate
(HLL sketches, GK quantile sketches, counts), so the same plan holds at
10^12 rows: map-side partials merge per partition, nothing driver-side.
Reference analog: per-frame summary stats (video.rs:499-507) and the
column-stat L1/L4 profile idea (lib.rs:245-250).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CheckSuiteConfig
from .checks import CheckOutput, verdict


def column_stats(cand: DataFrame, parts: DataFrame, cfg: CheckSuiteConfig) -> CheckOutput:
    """Consumes the prepare() projection: text_len / text_h instead of the
    raw payload (distinct hashes stand in for distinct texts — standard at
    scale; collision error is negligible next to the HLL's own rsd)."""
    tlen = F.col("text_len")
    agg = cand.groupBy("partition_id").agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("text_len")).alias("text_nulls"),
        (F.count("*") - F.count("tool")).alias("tool_nulls"),
        (F.count("*") - F.count("role")).alias("role_nulls"),
        F.min(tlen).cast("double").alias("len_min"),
        F.max(tlen).cast("double").alias("len_max"),
        F.avg(tlen).alias("len_mean"),
        F.stddev(tlen).alias("len_std"),
        F.percentile_approx(tlen, 0.5, cfg.percentile_accuracy).cast("double").alias("len_p50"),
        F.percentile_approx(tlen, 0.95, cfg.percentile_accuracy).cast("double").alias("len_p95"),
        F.approx_count_distinct("conv_id", cfg.hll_rsd).alias("approx_convs"),
        F.approx_count_distinct("text_h", cfg.hll_rsd).alias("approx_texts"),
        F.min("turn_idx").cast("double").alias("turn_min"),
        F.max("turn_idx").cast("double").alias("turn_max"),
    )
    stat_cols = [c for c in agg.columns if c != "partition_id"]
    stack_args = ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in stat_cols)
    metrics = agg.selectExpr(
        "partition_id",
        f"stack({len(stat_cols)}, {stack_args}) AS (stat, value)",
    )
    # verdict: null-rate gate on text (role/tool nullability is vocab's job).
    # Left-join the partition universe so a bucket with no cand rows still
    # gets an explicit verdict (vacuous pass: zero rows, zero null texts).
    verdicts = verdict(
        parts.select("partition_id").join(agg, "partition_id", "left"),
        "column_stats",
        passed=F.coalesce(F.col("text_nulls") == 0, F.lit(True)),
        n_violations=F.coalesce(F.col("text_nulls"), F.lit(0)),
        score=F.col("len_mean"),
    )
    return CheckOutput(verdicts=verdicts, metrics=metrics)
