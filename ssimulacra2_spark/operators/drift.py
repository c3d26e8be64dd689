"""Drift checks between snapshot pairs:

- calibrated_score: the last step of the drift_score check — the
  broadcast-weighted 108-term reduce of the per-(partition, channel,
  scale, map, norm) error norms plus the nonlinear calibration to a
  0-100 health score (≙ score(), lib.rs:344-487). The norms themselves
  come from the Arrow kernel in operators/drift_arrow.py (windowed
  moments, ssim + edgediff maps, L1/L4 norms, 2x multi-scale rollup).
- psi_emb_fused_check: psi_ks (PSI + KS over per-partition text-length
  histograms) and emb_drift (cosine between per-partition channel-vector
  centroids) standalone. Both are read off the shared per-partition
  profile (operators/stats.py), which is where the suite gets them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CheckSuiteConfig
from ..constants import (
    CALIB_CUBIC_1,
    CALIB_CUBIC_2,
    CALIB_CUBIC_3,
    CALIB_LINEAR,
    CALIB_POW,
    default_weights,
)
from .checks import CheckOutput
from .stats import over, profile_verdicts, rollup


def calibrated_score(metrics: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """Broadcast-weighted 108-term reduce + nonlinear calibration
    (lib.rs:344-487). Returns (partition_id, score)."""
    spark = metrics.sparkSession
    wdf = spark.createDataFrame(
        default_weights(cfg.channels, cfg.num_scales),
        ["channel", "scale", "map", "norm", "weight"],
    )
    s = (
        metrics.join(F.broadcast(wdf), ["channel", "scale", "map", "norm"])
        .groupBy("partition_id")
        .agg(F.sum(F.col("weight") * F.abs(F.col("value"))).alias("ssum"))
    )
    # the raw weighted sum is in [0, ~1]; rescale into the reference's
    # working range before the published calibration polynomial
    sc = F.col("ssum") * 10.0 * CALIB_LINEAR
    cubic = CALIB_CUBIC_3 * sc * sc * sc + CALIB_CUBIC_2 * sc * sc + CALIB_CUBIC_1 * sc
    score = F.when(cubic > 0.0, 100.0 - 10.0 * F.pow(cubic, CALIB_POW)).otherwise(F.lit(100.0))
    return s.select("partition_id", score.alias("score"))


def psi_emb_fused_check(
    ref: DataFrame, cand: DataFrame, parts: DataFrame, cfg: CheckSuiteConfig
) -> CheckOutput:
    """psi_ks and emb_drift verdicts — whichever of the two cfg.checks
    enables — for the partitions of `parts`, standalone. A partition with
    rows on one side only fails both, with a NULL score."""
    checks = [c for c in ("psi_ks", "emb_drift") if c in cfg.checks]
    if not checks:
        raise ValueError("psi_emb_fused_check: enable psi_ks and/or emb_drift")
    roll = over(parts, rollup(ref, cand, cfg))
    return CheckOutput(verdicts=profile_verdicts(roll, checks, cfg))
