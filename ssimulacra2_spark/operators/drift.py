"""Drift checks between snapshot pairs, all plain DataFrame aggregates:

- calibrated_score: the last step of the drift_score check — the
  broadcast-weighted 108-term reduce of the per-(partition, channel,
  scale, map, norm) error norms plus the nonlinear calibration to a
  0-100 health score (≙ score(), lib.rs:344-487). The norms themselves
  come from the Arrow kernel in operators/drift_arrow.py (windowed
  moments, ssim + edgediff maps, L1/L4 norms, 2x multi-scale rollup).
- psi_emb_fused_check: the one implementation of psi_ks (PSI + KS over
  per-partition text-length histograms) and emb_drift (cosine between
  per-partition channel-vector centroids), both read from a single
  (partition, text_len-bin) aggregate per side.

Every histogram and centroid is a map-side-combinable per-partition
aggregate, so nothing here grows with corpus size beyond one small
shuffle per side.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import CheckSuiteConfig
from ..constants import (
    CALIB_CUBIC_1,
    CALIB_CUBIC_2,
    CALIB_CUBIC_3,
    CALIB_LINEAR,
    CALIB_POW,
    default_weights,
)
from .checks import CheckOutput, verdict


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




# --------------------------------------------------------------------------
# PSI / KS and embedding-centroid drift from one aggregate per side
# --------------------------------------------------------------------------


def psi_emb_fused_check(
    ref: DataFrame, cand: DataFrame, parts: DataFrame, cfg: CheckSuiteConfig
) -> CheckOutput:
    """psi_ks and emb_drift verdicts — whichever of the two cfg.checks
    enables — from ONE scan per side.

    Each side aggregates once to (partition, text_len-bin): the histogram
    count plus, when emb_drift is enabled, per-channel partial sums (power
    sums of order 1 — a mergeable moment sketch). The histogram is a fixed
    [0, 2048] range, so no global pass is needed.

    - psi_ks: PSI + KS over the per-partition text-length histograms
      (shares + eps 1e-6); passes iff both stay under their thresholds.
    - emb_drift: each turn's channel vector (the prepared ch_<name>
      features) is averaged into one centroid per (partition, side) as
      sum-of-sums / sum-of-counts; passes iff the cosine between the two
      centroids stays >= cfg.emb_drift_min_cos. A coordinated shift across
      channels moves the centroid even when each marginal looks calm.

    Map-side partial aggregation emits at most n_buckets x drift_bins rows
    per task, so nothing here grows with corpus size beyond one small
    shuffle per side. Pinned to oracle.psi_ks and oracle.emb_drift_cosines
    at 1e-9."""
    eps = 1e-6
    nb = cfg.drift_bins
    do_psi, do_emb = "psi_ks" in cfg.checks, "emb_drift" in cfg.checks
    if not (do_psi or do_emb):
        raise ValueError("psi_emb_fused_check: enable psi_ks and/or emb_drift")
    chans = [c for c in cfg.emb_channels if c in cfg.channels] if do_emb else []
    if do_emb and not chans:
        raise ValueError("emb_channels must be a non-empty subset of channels")

    def agg_side(df: DataFrame, tag: str) -> DataFrame:
        b = F.least(
            F.lit(nb - 1),
            F.floor(
                F.least(F.coalesce(F.col("text_len"), F.lit(0)), F.lit(2047)) / (2048 / nb)
            ),
        ).cast("int")
        return df.groupBy("partition_id", b.alias("bin")).agg(
            F.count("*").alias(f"n_{tag}"),
            *[
                F.sum(F.col(f"ch_{c}").cast("double")).alias(f"s_{tag}{i}")
                for i, c in enumerate(chans)
            ],
        )

    j = (
        agg_side(ref, "ref")
        .join(agg_side(cand, "cand"), ["partition_id", "bin"], "full_outer")
        .fillna(0, ["n_ref", "n_cand"])
    )
    universe = parts.select("partition_id")
    verdicts = []

    if do_psi:
        tot = j.groupBy("partition_id").agg(
            F.sum("n_ref").alias("t_ref"), F.sum("n_cand").alias("t_cand")
        )
        shares = j.join(tot, "partition_id").select(
            "partition_id",
            "bin",
            (F.col("n_ref") / F.col("t_ref") + eps).alias("p"),
            (F.col("n_cand") / F.col("t_cand") + eps).alias("q"),
        )
        w = Window.partitionBy("partition_id").orderBy("bin").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = shares.select(
            "partition_id",
            ((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi_term"),
            F.abs(F.sum("p").over(w) - F.sum("q").over(w)).alias("gap"),
        )
        stats = cum.groupBy("partition_id").agg(
            F.sum("psi_term").alias("psi"), F.max("gap").alias("ks")
        )
        verdicts.append(
            verdict(
                universe.join(stats, "partition_id", "left"),
                "psi_ks",
                passed=(F.coalesce(F.col("psi"), F.lit(0.0)) <= cfg.psi_threshold)
                & (F.coalesce(F.col("ks"), F.lit(0.0)) <= cfg.ks_threshold),
                n_violations=F.lit(0),
                score=F.col("psi"),
            )
        )

    if do_emb:
        # side-missing bins carry n=0 (fillna) and NULL partial sums, so
        # sum(s)/sum(n) is exactly the side's mean; a partition with zero
        # rows on a side yields NULL -> cos NULL -> passed=False
        cents = j.groupBy("partition_id").agg(
            *[(F.sum(f"s_ref{i}") / F.sum("n_ref")).alias(f"a{i}") for i in range(len(chans))],
            *[(F.sum(f"s_cand{i}") / F.sum("n_cand")).alias(f"b{i}") for i in range(len(chans))],
        )

        def dot(x: str, y: str):
            return sum(
                (F.col(f"{x}{i}") * F.col(f"{y}{i}") for i in range(1, len(chans))),
                F.col(f"{x}0") * F.col(f"{y}0"),
            )

        cos = dot("a", "b") / (F.sqrt(dot("a", "a")) * F.sqrt(dot("b", "b")))
        verdicts.append(
            verdict(
                universe.join(cents, "partition_id", "left"),
                "emb_drift",
                passed=F.coalesce(cos >= F.lit(cfg.emb_drift_min_cos), F.lit(False)),
                n_violations=F.lit(0),
                score=cos,
            )
        )
    return CheckOutput(verdicts=reduce(DataFrame.unionByName, verdicts))
