"""Drift checks between snapshot pairs, all plain DataFrame aggregates:

- calibrated_score: the last step of the drift_score check — the
  broadcast-weighted 108-term reduce of the per-(partition, channel,
  scale, map, norm) error norms plus the nonlinear calibration to a
  0-100 health score (≙ score(), lib.rs:344-487). The norms themselves
  come from the Arrow kernel in operators/drift_arrow.py (windowed
  moments, ssim + edgediff maps, L1/L4 norms, 2x multi-scale rollup).
- psi_ks_check: PSI + KS over per-partition text-length histograms.
- emb_drift_check: cosine between per-partition channel-vector centroids.
- psi_emb_fused_check: both of the above from one scan per side.

Every histogram and centroid is a map-side-combinable per-partition
aggregate, so nothing here grows with corpus size beyond one small
shuffle per side.
"""

from __future__ import annotations

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
from .checks import CheckOutput


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
# PSI / KS over per-partition histograms
# --------------------------------------------------------------------------


def psi_ks_check(
    ref: DataFrame, cand: DataFrame, parts: DataFrame, cfg: CheckSuiteConfig
) -> CheckOutput:
    """PSI + KS on the text-length distribution per partition. Histogram =
    map-side-combinable counts per (partition, bin); fixed [0, 2048] range
    so no global pass is needed (mergeable across 10^12 rows)."""
    eps = 1e-6
    nb = cfg.drift_bins

    def binned(df: DataFrame, name: str) -> DataFrame:
        b = F.least(
            F.lit(nb - 1),
            F.floor(F.least(F.coalesce(F.col("text_len"), F.lit(0)), F.lit(2047)) / (2048 / nb)),
        ).cast("int")
        return df.groupBy("partition_id", b.alias("bin")).agg(F.count("*").alias(name))

    j = binned(ref, "n_ref").join(binned(cand, "n_cand"), ["partition_id", "bin"], "full_outer").fillna(
        0, ["n_ref", "n_cand"]
    )
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
    verdicts = (
        parts.select("partition_id")
        .join(stats, "partition_id", "left")
        .select(
            F.col("partition_id").cast("int"),
            F.lit("psi_ks").alias("check_id"),
            (
                (F.coalesce(F.col("psi"), F.lit(0.0)) <= cfg.psi_threshold)
                & (F.coalesce(F.col("ks"), F.lit(0.0)) <= cfg.ks_threshold)
            ).alias("passed"),
            F.lit(0).cast("long").alias("n_violations"),
            F.col("psi").cast("double").alias("score"),
        )
    )
    return CheckOutput(verdicts=verdicts)


def emb_drift_check(
    ref: DataFrame, cand: DataFrame, parts: DataFrame, cfg: CheckSuiteConfig
) -> CheckOutput:
    """Per-partition embedding-centroid drift between the snapshot pair.

    Each turn's channel vector (the prepared ch_<name> features — the
    engine's per-turn embedding) is averaged into one centroid per
    (partition, side); the check passes iff the cosine between the two
    centroids stays >= cfg.emb_drift_min_cos. Complements psi_ks (which
    watches ONE marginal distribution): a coordinated shift across
    channels moves the centroid even when each marginal looks calm.

    Scale shape: AVG is map-side combinable, so the corpus contributes
    only partial sums per partition — ONE tiny shuffle of
    n_buckets x n_channels partials per side, then an n_buckets-row join.
    Nothing here grows with corpus size; this is the same centroid/cosine
    machinery as registry/ivf.py's coarse quantizer, applied at suite
    scale. Ref analog: the weighted cross-plane reduce, lib.rs:344-487.
    """
    chans = [c for c in cfg.emb_channels if c in cfg.channels]
    if not chans:
        raise ValueError("emb_channels must be a non-empty subset of channels")

    def centroid(side: DataFrame, tag: str) -> DataFrame:
        return side.groupBy("partition_id").agg(
            *[
                F.avg(F.col(f"ch_{c}").cast("double")).alias(f"{tag}{i}")
                for i, c in enumerate(chans)
            ]
        )

    j = (
        parts.select("partition_id")
        .join(centroid(ref, "a"), "partition_id", "left")
        .join(centroid(cand, "b"), "partition_id", "left")
    )
    dot = sum(
        (F.col(f"a{i}") * F.col(f"b{i}") for i in range(1, len(chans))),
        F.col("a0") * F.col("b0"),
    )
    na = F.sqrt(
        sum((F.col(f"a{i}") * F.col(f"a{i}") for i in range(1, len(chans))), F.col("a0") * F.col("a0"))
    )
    nb = F.sqrt(
        sum((F.col(f"b{i}") * F.col(f"b{i}") for i in range(1, len(chans))), F.col("b0") * F.col("b0"))
    )
    cos = dot / (na * nb)  # null when a side is missing or has zero norm
    verdicts = j.select(
        F.col("partition_id").cast("int"),
        F.lit("emb_drift").alias("check_id"),
        F.coalesce(cos >= F.lit(cfg.emb_drift_min_cos), F.lit(False)).alias("passed"),
        F.lit(0).cast("long").alias("n_violations"),
        cos.cast("double").alias("score"),
    )
    return CheckOutput(verdicts=verdicts)


def psi_emb_fused_check(
    ref: DataFrame, cand: DataFrame, parts: DataFrame, cfg: CheckSuiteConfig
) -> CheckOutput:
    """psi_ks + emb_drift from ONE scan per side.

    Standalone, emb_drift pays two full featurization scans (ref + cand)
    just to average the channel vectors — measured 3.97 s isolated at
    8M turns/32c, almost all of it the scan the psi_ks branch performs
    anyway. Fused: each side aggregates once to (partition, text_len-bin)
    with BOTH the histogram count and per-channel partial sums; the
    psi/ks statistics read the counts exactly as psi_ks_check does, and
    the centroids re-aggregate the partial sums per partition
    (sum-of-sums / sum-of-counts — same values as a direct AVG up to f64
    summation order, pinned at 1e-9 by pytest). One scan, one
    map-side-combinable shuffle per side serves both checks."""
    eps = 1e-6
    nb = cfg.drift_bins
    chans = [c for c in cfg.emb_channels if c in cfg.channels]
    if not chans:
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

    # --- psi/ks over the counts (identical math to psi_ks_check) ---
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
    psi_verdicts = (
        parts.select("partition_id")
        .join(stats, "partition_id", "left")
        .select(
            F.col("partition_id").cast("int"),
            F.lit("psi_ks").alias("check_id"),
            (
                (F.coalesce(F.col("psi"), F.lit(0.0)) <= cfg.psi_threshold)
                & (F.coalesce(F.col("ks"), F.lit(0.0)) <= cfg.ks_threshold)
            ).alias("passed"),
            F.lit(0).cast("long").alias("n_violations"),
            F.col("psi").cast("double").alias("score"),
        )
    )

    # --- centroid cosine over the partial sums (bins collapse away) ---
    # side-missing bins carry n=0 (fillna) and NULL partial sums, so
    # sum(s)/sum(n) is exactly the side's mean; a partition with zero rows
    # on a side yields NULL -> cos NULL -> passed=False, matching the
    # standalone check's left-join-miss behavior
    cents = j.groupBy("partition_id").agg(
        *[(F.sum(f"s_ref{i}") / F.sum("n_ref")).alias(f"a{i}") for i in range(len(chans))],
        *[(F.sum(f"s_cand{i}") / F.sum("n_cand")).alias(f"b{i}") for i in range(len(chans))],
    )
    dot = sum(
        (F.col(f"a{i}") * F.col(f"b{i}") for i in range(1, len(chans))),
        F.col("a0") * F.col("b0"),
    )
    na = F.sqrt(
        sum((F.col(f"a{i}") * F.col(f"a{i}") for i in range(1, len(chans))), F.col("a0") * F.col("a0"))
    )
    nbn = F.sqrt(
        sum((F.col(f"b{i}") * F.col(f"b{i}") for i in range(1, len(chans))), F.col("b0") * F.col("b0"))
    )
    cos = dot / (na * nbn)
    emb_verdicts = (
        parts.select("partition_id")
        .join(cents, "partition_id", "left")
        .select(
            F.col("partition_id").cast("int"),
            F.lit("emb_drift").alias("check_id"),
            F.coalesce(cos >= F.lit(cfg.emb_drift_min_cos), F.lit(False)).alias("passed"),
            F.lit(0).cast("long").alias("n_violations"),
            cos.cast("double").alias("score"),
        )
    )
    return CheckOutput(verdicts=psi_verdicts.unionByName(emb_verdicts))
