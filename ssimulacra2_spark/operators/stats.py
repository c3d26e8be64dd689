"""Per-partition profile: the one aggregate every per-partition check reads.

Each side aggregates once to (partition_id, bin): the row count, the
text_len count and sum, and the emb_drift channel sums (order-1 power
sums: the mergeable moment sketch of "Moment-Based Quantile Sketches",
VLDB 2018). `bin` is the [0, 2048) text-length histogram bin only when
psi_ks is enabled, else a constant Catalyst drops; Catalyst also prunes
every aggregate no enabled check reads. The two profiles are joined once
and rolled up to one row per partition with rows on either side — the
verdict universe of every per-partition check (≙ one canonicalized pass
reduced into all sub-scores, lib.rs:68-113,344-487).
"""

from __future__ import annotations

from dataclasses import replace
from functools import reduce
from operator import add

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import CheckSuiteConfig
from .checks import CheckOutput, verdict

def profile(df: DataFrame, cfg: CheckSuiteConfig, side: str) -> DataFrame:
    """One side's (partition_id, bin) profile, columns suffixed by side."""
    b = F.lit(0)
    if "psi_ks" in cfg.checks:
        nb = cfg.drift_bins
        tlen = F.least(F.coalesce(F.col("text_len"), F.lit(0)), F.lit(2047))
        b = F.least(F.lit(nb - 1), F.floor(tlen / (2048 / nb))).cast("int")
    chans = [c for c in cfg.emb_channels if c in cfg.channels]
    return df.groupBy("partition_id", b.alias("bin")).agg(
        F.count("*").alias(f"n_{side}"),
        F.count("text_len").alias(f"n_len_{side}"),
        F.sum("text_len").alias(f"len_sum_{side}"),
        *[
            F.sum(F.col(f"ch_{c}").cast("double")).alias(f"s{i}_{side}")
            for i, c in enumerate(chans)
        ],
    )


def rollup(ref: DataFrame, cand: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """One row per partition with rows on either side: n_ref, n_cand,
    text_nulls and len_mean (cand side), and — when enabled — psi, ks and
    the centroid cosine `cos`, each NULL when a side has no rows."""
    j = (
        profile(ref, cfg, "ref")
        .join(profile(cand, cfg, "cand"), ["partition_id", "bin"], "full_outer")
        .fillna(0, ["n_ref", "n_cand"])
    )
    n_len = F.coalesce(F.sum("n_len_cand"), F.lit(0))
    aggs = [
        F.sum("n_ref").alias("n_ref"),
        F.sum("n_cand").alias("n_cand"),
        (F.sum("n_cand") - n_len).alias("text_nulls"),
        F.try_divide(F.sum("len_sum_cand"), n_len).alias("len_mean"),  # == avg, exactly
    ]
    if "psi_ks" in cfg.checks:
        # eps-smoothed shares over the bins present on either side
        w = Window.partitionBy("partition_id")
        cum = w.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        p = F.try_divide(F.col("n_ref"), F.sum("n_ref").over(w)) + 1e-6
        q = F.try_divide(F.col("n_cand"), F.sum("n_cand").over(w)) + 1e-6
        j = j.select("*", p.alias("p"), q.alias("q")).select(
            "*",
            ((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi_term"),
            F.abs(F.sum("p").over(cum) - F.sum("q").over(cum)).alias("gap"),
        )
        aggs += [F.sum("psi_term").alias("psi"), F.max("gap").alias("ks")]
    if "emb_drift" in cfg.checks:
        k = len([c for c in cfg.emb_channels if c in cfg.channels])
        if not k:
            raise ValueError("emb_channels must be a non-empty subset of channels")
        # bins missing on a side carry n=0 and NULL sums, so sum(s)/sum(n)
        # is exactly the side's centroid
        a, b = (
            [F.try_divide(F.sum(f"s{i}_{side}"), F.sum(f"n_{side}")) for i in range(k)]
            for side in ("ref", "cand")
        )

        def dot(x, y):
            return reduce(add, [xi * yi for xi, yi in zip(x, y)])

        cos = F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))
        aggs.append(cos.alias("cos"))
    return j.groupBy("partition_id").agg(*aggs)


def profile_verdicts(roll: DataFrame, checks, cfg: CheckSuiteConfig) -> DataFrame:
    """One verdict row per (rollup row, check in `checks`), from one
    explode(array(struct per check)) projection. The violation checks
    start at a vacuous pass (True, 0, NULL) and drift_score at a failure
    (False, 0, NULL), for the suite to overlay with what it measured: a
    partition without paired rows has no drift score, and fails like
    psi_ks and emb_drift do without data."""
    n_ref, n_cand, nulls = F.col("n_ref"), F.col("n_cand"), F.col("text_nulls")
    enough = n_ref >= cfg.min_rows_per_partition
    within = (F.col("psi") <= cfg.psi_threshold) & (F.col("ks") <= cfg.ks_threshold)
    rows = {
        # volume guards (≙ InvalidImageSize lib.rs:53-55; dim parity lib.rs:49-51)
        "min_rows": (enough, F.when(enough, 0).otherwise(1), n_ref),
        "row_parity": (n_ref == n_cand, F.abs(n_ref - n_cand), n_cand - n_ref),
        # null-rate gate on text (role/tool nullability is vocab's job); no
        # cand rows is a vacuous pass with a NULL mean
        "column_stats": (nulls == 0, nulls, F.col("len_mean")),
        # a side without rows fails, with a NULL score
        "psi_ks": (F.coalesce(within, F.lit(False)), F.lit(0), F.col("psi")),
        "emb_drift": (
            F.coalesce(F.col("cos") >= cfg.emb_drift_min_cos, F.lit(False)),
            F.lit(0),
            F.col("cos"),
        ),
        # measured only over paired (conv_id, turn_idx) rows
        "drift_score": (F.lit(False), F.lit(0), F.lit(None)),
    }
    structs = []
    for c in checks:
        passed, n, score = rows.get(c, (F.lit(True), F.lit(0), F.lit(None)))
        structs.append(F.struct(
            F.lit(c).alias("check_id"),
            passed.alias("passed"),
            n.cast("long").alias("n_violations"),
            score.cast("double").alias("score"),
        ))
    v = roll.select("partition_id", F.explode(F.array(*structs)).alias("v"))
    return verdict(
        v, F.col("v.check_id"), F.col("v.passed"), F.col("v.n_violations"), F.col("v.score")
    )


def over(parts: DataFrame, roll: DataFrame) -> DataFrame:
    """`roll` re-keyed to the partitions of `parts` (the standalone views'
    universe): a partition missing from `roll` has no rows on either side."""
    keyed = parts.select("partition_id").join(roll, "partition_id", "left")
    return keyed.fillna(0, ["n_ref", "n_cand", "text_nulls"])


def column_stats(cand: DataFrame, parts: DataFrame, cfg: CheckSuiteConfig) -> CheckOutput:
    """column_stats verdicts for the partitions of `parts`, standalone (the
    suite reads them off its one rollup)."""
    cfg = replace(cfg, checks=("column_stats",))
    roll = over(parts, rollup(cand.limit(0), cand, cfg))
    return CheckOutput(verdicts=profile_verdicts(roll, cfg.checks, cfg))
