"""Arrow-vectorized drift scoring — the engine's one drift_score kernel.

The SSIMULACRA2 pipeline (≙ lib.rs:84-487; the pandas oracle in oracle.py
computes the same math) executed as ONE applyInPandas over partition
buckets:

  featurize in Spark expressions (JVM, codegen) -> pair join ->
  one shuffle by partition_id -> per-batch numpy computes masked
  kernel smoothing / ssim+edgediff maps / multi-scale rollup ->
  per (channel, scale, map) partial sums -> tiny metrics rows out.

Why it scales:
- featurization happens BEFORE the exchange, so the shuffle moves
  2 x len(channels) doubles per row, never text payloads;
- conversations never straddle buckets, so each Arrow batch is complete
  and the numpy kernels are exact;
- the per-element math is vectorized ACROSS conversations (boundary masks
  instead of per-conversation loops) — a batch with one hot conversation
  costs the same as a batch of many small ones;
- output is ~(buckets x channels x scales x 3) partial rows — nothing
  driver-side; the final merge is a trivial groupBy.

Reference analog: the per-frame score kernel behind the worker pool
(video.rs:407-456) with rayon-style data parallelism inside each score
(gaussian.rs:12-23).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..config import CheckSuiteConfig
from ..constants import C2, KERNEL_TAPS
from .checks import CheckOutput, verdict

_PARTIAL_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("channel", StringType()),
        StructField("scale", IntegerType()),
        StructField("map", StringType()),
        StructField("sum_d", DoubleType()),
        StructField("sum_d4", DoubleType()),
        StructField("n", LongType()),
    ]
)


def channel_expr(channel: str):
    """Feature channel of the `text` column as a Catalyst expression
    (computed once per side in checks.prepare and shared by the drift
    checks).

    Emitted as FLOAT, not double: channel values live in ~[0,1] with a few
    significant digits, so f32's 24-bit mantissa is lossless headroom — and
    the channel columns are what the drift exchange and the Arrow batches
    actually ship (2 x channels values per paired row). Halving them halves
    the dominant shuffle + IPC byte volume at 32 threads, where the suite is
    memory-bandwidth-bound (ARCHITECTURE.md §7: 1.9x per-task CPU inflation
    on identical stages). All downstream MATH upcasts to f64 (the oracle
    quantizes identically, so 1e-9 score parity is preserved)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    if channel == "len":
        e = F.least(F.length(t), F.lit(2048)).cast("double") / 2048.0
    elif channel == "tok":
        # tokens = space-runs + 1 == size(split(t, ' +')) but without the
        # per-row array allocation (profiled: split dominated the scan)
        e = F.least(F.regexp_count(t, F.lit(" +")) + 1, F.lit(512)).cast("double") / 512.0
    elif channel == "hash":
        e = F.pmod(F.xxhash64(t), F.lit(4096)).cast("double") / 4096.0
    else:
        raise ValueError(channel)
    return e.cast("float")


def _smooth_many(
    series: list[np.ndarray], run_id: np.ndarray, taps: np.ndarray
) -> list[np.ndarray]:
    """Kernel smoothing of several series sharing one boundary structure,
    vectorized across the whole flat batch (sorted by conv, idx).

    The same-conversation mask per offset depends only on run_id, so it is
    computed once and shared by all series; scratch buffers are reused
    across offsets (≙ the reference's deliberate buffer reuse,
    lib.rs:60-65,95-102) — allocation churn is what turns 32 concurrent
    workers into a page-fault storm."""
    n = len(run_id)
    r = len(taps) // 2
    nums = [np.zeros(n) for _ in series]
    den = np.zeros(n)
    scratch = np.empty(n)
    for o in range(-r, r + 1):
        w = taps[o + r]
        if o == 0:
            for num, x in zip(nums, series):
                num += w * x
            den += w
            continue
        m = max(n - abs(o), 0)  # overlap length (negative stops would wrap)
        if o < 0:
            sl_dst, sl_src = slice(-o, -o + m), slice(0, m)
        else:
            sl_dst, sl_src = slice(0, m), slice(o, o + m)
        ok = run_id[sl_dst] == run_id[sl_src]
        if len(ok) == 0:  # batch shorter than the kernel offset
            continue
        # weight where the neighbor is in the same conversation, else 0
        wvec = scratch[: len(ok)]
        np.multiply(ok, w, out=wvec)
        den[sl_dst] += wvec
        for num, x in zip(nums, series):
            num[sl_dst] += x[sl_src] * wvec
    return [num / den for num in nums]


def _downsample_masked(
    v1: np.ndarray,
    v2: np.ndarray,
    run_id: np.ndarray,
    g: np.ndarray | None = None,
):
    """Edge-clamped pairwise 2x mean per conversation run (vectorized;
    ≙ downscale_by_2's odd-edge clamp, lib.rs:181-182). `g` optionally
    carries each row's GLOBAL scale-index (chunked path): kept rows'
    next-scale global index is g//2 — exact because chunk segments start
    at positions aligned to 2^num_scales, so run-relative parity equals
    global parity at every scale."""
    n = len(v1)
    idx = np.arange(n)
    starts = np.ones(n, dtype=bool)
    starts[1:] = run_id[1:] != run_id[:-1]
    run_first = np.zeros(n, dtype=np.int64)
    run_first[starts] = idx[starts]
    run_first = np.maximum.accumulate(run_first)
    pos = idx - run_first
    keep = (pos % 2) == 0
    nxt = np.minimum(idx + 1, n - 1)
    same = np.zeros(n, dtype=bool)
    same[:-1] = run_id[:-1] == run_id[1:]
    p1 = np.where(same, v1[nxt], v1)
    p2 = np.where(same, v2[nxt], v2)
    out = (((v1 + p1) / 2.0)[keep], ((v2 + p2) / 2.0)[keep], run_id[keep])
    if g is None:
        return out
    return (*out, g[keep] // 2)


def _ssim_maps(v1, v2, mu1, mu2, s11, s22, s12):
    num_m = 1.0 - (mu1 - mu2) ** 2
    num_s = 2.0 * (s12 - mu1 * mu2) + C2
    den_s = (s11 - mu1 * mu1) + (s22 - mu2 * mu2) + C2
    d_ssim = np.maximum(0.0, 1.0 - (num_m * num_s) / den_s)
    d1 = (1.0 + np.abs(v2 - mu2)) / (1.0 + np.abs(v1 - mu1)) - 1.0
    return d_ssim, np.maximum(d1, 0.0), np.maximum(-d1, 0.0)


def _make_partials_fn(cfg: CheckSuiteConfig, chunked: bool):
    """ONE kernel body for both the whole-sub-bucket and the chunked
    paths (they must never diverge — a math fix applied to one copy and
    not the other is exactly the bug class this prevents). The chunked
    variant differs only in its sort key (dense pos instead of turn_idx),
    the carried global-index array, and the ownership mask applied to the
    partial sums."""
    taps = np.asarray(KERNEL_TAPS)
    channels = tuple(cfg.channels)
    num_scales = cfg.num_scales
    C = cfg.drift_chunk_turns

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        order = "pos" if chunked else "turn_idx"
        pdf = pdf.sort_values(["conv_key", "conv_key2", order], kind="mergesort")
        pid = int(pdf["partition_id"].iloc[0])
        k = int(pdf["chunk"].iloc[0]) if chunked else 0
        conv = pdf["conv_key"].to_numpy()
        conv2 = pdf["conv_key2"].to_numpy()
        g0 = pdf["pos"].to_numpy(np.int64) if chunked else None
        starts = np.ones(len(pdf), dtype=bool)
        starts[1:] = (conv[1:] != conv[:-1]) | (conv2[1:] != conv2[:-1])
        run_id0 = np.cumsum(starts)
        out = []
        for ch in channels:
            # batch arrives as f32 (exchange + Arrow IPC at half width);
            # upcast ONCE — all kernel math and partial sums stay f64 so
            # the 1e-9 oracle parity holds (the oracle quantizes its
            # featurized channels to f32 at the same point)
            v1 = pdf[f"v1_{ch}"].to_numpy(np.float64)
            v2 = pdf[f"v2_{ch}"].to_numpy(np.float64)
            rid, g = run_id0, g0
            for s in range(num_scales):
                if s > 0:
                    if chunked:
                        v1, v2, rid, g = _downsample_masked(v1, v2, rid, g)
                    else:
                        v1, v2, rid = _downsample_masked(v1, v2, rid)
                if chunked:
                    own = (g >= (k * C) >> s) & (g < ((k + 1) * C) >> s)
                    n_own = int(own.sum())
                else:
                    own = slice(None)
                    n_own = len(v1)
                mu1, mu2, s11, s22, s12 = _smooth_many(
                    [v1, v2, v1 * v1, v2 * v2, v1 * v2], rid, taps
                )
                d_ssim, artifact, detail = _ssim_maps(v1, v2, mu1, mu2, s11, s22, s12)
                for m, arr in (("ssim", d_ssim), ("artifact", artifact), ("detail", detail)):
                    a = arr[own]
                    out.append((pid, ch, s, m, float(a.sum()), float((a**4).sum()), n_own))
        return pd.DataFrame(
            out,
            columns=["partition_id", "channel", "scale", "map", "sum_d", "sum_d4", "n"],
        )

    return fn


def drift_partials(paired: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """paired: (partition_id, conv_id, turn_idx, v1_<ch>, v2_<ch> ...) —
    one applyInPandas per partition bucket emitting partial sums."""
    # group by (partition_id, sub-bucket): a whole verdict bucket can be
    # ~dataset/n_buckets rows — too big for one pandas batch at scale. The
    # sub-bucket is a function of the conversation key, so conversations
    # never straddle sub-buckets and the smoothing/rollup stays exact; the
    # partial-sum schema (sum_d, sum_d4, n) merges across sub-buckets in
    # the downstream groupBy for free. Per-task memory is then bounded by
    # rows/(n_buckets * drift_subbuckets) * (2*channels + 3) doubles.
    return paired.groupBy("partition_id", "drift_sub").applyInPandas(
        _make_partials_fn(cfg, chunked=False), schema=_PARTIAL_SCHEMA
    )


def halo_turns(cfg: CheckSuiteConfig) -> int:
    """Halo width for the chunked kernel: every scale-s output consumed
    downstream needs r smoothing neighbors at scale s plus the 2x
    pyramid support, i.e. < (r+1)*2^s original positions per scale;
    (r+1)*2^num_scales bounds the total and keeps the halo a multiple of
    2^num_scales (parity alignment for the downsample chain)."""
    r = len(KERNEL_TAPS) // 2
    return (r + 1) << cfg.num_scales


def drift_partials_chunked(paired: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """Chunked variant of drift_partials for the one case the sub-bucket
    bound cannot help: a SINGLE conversation too large for one pandas
    batch (it hashes entirely to one (bucket, sub-bucket)).

    paired must carry `pos` (dense per-conversation rank over the JOINED
    pair series — computed skew-safely upstream) . Each row is exploded
    to its own chunk plus the neighboring chunk within `halo_turns`
    positions (~2H/C duplication, <2% at the default chunk size); one
    batch = (partition_id, drift_sub, chunk). Inside the batch the full
    pyramid runs over core+halo, but partial sums only count outputs the
    chunk OWNS — global scale-s index in [k*C/2^s, (k+1)*C/2^s) — so
    every output is counted exactly once across chunks and halo-edge
    garbage (truncated smoothing support, mid-series clamp) never
    escapes: it lives >= r outside the owned range by the halo bound.
    Property-pinned equal to the unchunked kernel at 1e-12
    (tests/test_properties.py::test_drift_chunked_matches_unchunked)."""
    return paired.groupBy("partition_id", "drift_sub", "chunk").applyInPandas(
        _make_partials_fn(cfg, chunked=True), schema=_PARTIAL_SCHEMA
    )


def _with_chunks(paired: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """Dense per-conversation positions over the joined pair series +
    halo-duplicated chunk targets — every window here is per
    (conversation, turn-range chunk), never whole-conversation (same
    two-phase prefix pattern as sessionize_gap / monotone_ts)."""
    from pyspark.sql.window import Window

    C = cfg.drift_chunk_turns
    H = halo_turns(cfg)
    if C % (1 << cfg.num_scales) or C < 2 * H:
        raise ValueError(
            f"drift_chunk_turns must be a multiple of 2^num_scales and >= "
            f"2*halo ({2 * H}); got {C}"
        )
    keys = ["conv_key", "conv_key2"]
    d = paired.withColumn("tchunk", F.floor(F.col("turn_idx") / C))
    w_in = Window.partitionBy(*keys, "tchunk").orderBy("turn_idx")
    d = d.withColumn("rn_in", F.row_number().over(w_in) - 1)
    cnt = d.groupBy(*keys, "tchunk").agg(F.count("*").alias("n_in"))
    w_off = (
        Window.partitionBy(*keys)
        .orderBy("tchunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = cnt.withColumn(
        "t_off", F.coalesce(F.sum("n_in").over(w_off), F.lit(0))
    ).select(*keys, "tchunk", "t_off")
    d = d.join(off, [*keys, "tchunk"]).withColumn(
        "pos", (F.col("rn_in") + F.col("t_off")).cast("long")
    )
    posc = F.col("pos") % C
    base = F.floor(F.col("pos") / C)
    targets = F.filter(
        F.array(
            base,
            F.when(posc < H, base - 1),
            F.when(posc >= C - H, base + 1),
        ),
        lambda x: x.isNotNull() & (x >= 0),
    )
    return d.withColumn("chunk", F.explode(targets)).drop(
        "tchunk", "rn_in", "t_off", "turn_idx"
    )


def drift_scores(ref: DataFrame, cand: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """(partition_id, score): the per-partition calibrated
    SSIMULACRA2-style score over the paired channel series, for every
    partition with paired rows. Pinned to the pandas oracle at 1e-9
    (tests/test_engine_vs_oracle.py::test_drift_scores_match_oracle)."""
    from .drift import calibrated_score

    # consumes the prepare() projection (ch_<name> computed once per side).
    # The kernel needs conversation *boundaries*, not identities: a pair of
    # independent 64-bit hashes (128 bits total) replaces the conv_id
    # string in the exchange, the equi-join key and the in-batch sort. At
    # 64 bits a birthday collision among ~1e9 conversations is ~n^2/2^65
    # ≈ 1e-2 — a colliding pair sharing turn_idx values would produce
    # spurious cross-conversation join matches. At 128 bits the same
    # estimate is n^2/2^129 ≈ 1e-21: negligible, with a fixed-width
    # 16-byte key still far cheaper to shuffle than arbitrary conv_ids.
    drift_sub = F.pmod(F.xxhash64("conv_id", F.lit(3)), F.lit(cfg.drift_subbuckets))
    r = ref.select(
        "partition_id",
        drift_sub.alias("drift_sub"),
        F.xxhash64("conv_id").alias("conv_key"),
        F.xxhash64("conv_id", F.lit(7)).alias("conv_key2"),
        "turn_idx",
        *[F.col(f"ch_{ch}").alias(f"v1_{ch}") for ch in cfg.channels],
    )
    c = cand.select(
        F.xxhash64("conv_id").alias("conv_key"),
        F.xxhash64("conv_id", F.lit(7)).alias("conv_key2"),
        "turn_idx",
        *[F.col(f"ch_{ch}").alias(f"v2_{ch}") for ch in cfg.channels],
    )
    paired = r.join(c, ["conv_key", "conv_key2", "turn_idx"])
    if cfg.drift_chunk_turns:
        partials = drift_partials_chunked(_with_chunks(paired, cfg), cfg)
    else:
        partials = drift_partials(paired, cfg)
    metrics = (
        partials.groupBy("partition_id", "channel", "scale", "map")
        .agg(
            (F.sum("sum_d") / F.sum("n")).alias("l1_"),
            F.pow(F.sum("sum_d4") / F.sum("n"), 0.25).alias("l4_"),
        )
        .selectExpr(
            "partition_id",
            "channel",
            "scale",
            "map",
            "stack(2, 'l1', l1_, 'l4', l4_) AS (norm, value)",
        )
    )
    return calibrated_score(metrics, cfg)


def drift_verdicts(scores: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """drift_score verdicts over (partition_id, score) rows, passing at
    cfg.score_threshold; a NULL score (no paired rows) fails."""
    return verdict(
        scores,
        "drift_score",
        passed=F.coalesce(F.col("score") >= cfg.score_threshold, F.lit(False)),
        n_violations=F.lit(0),
        score=F.col("score"),
    )


def drift_score_check_arrow(
    ref: DataFrame, cand: DataFrame, parts: DataFrame, cfg: CheckSuiteConfig
):
    """drift_score verdicts for the partitions of `parts`, standalone."""
    scores = parts.select("partition_id").join(drift_scores(ref, cand, cfg), "partition_id", "left")
    return CheckOutput(verdicts=drift_verdicts(scores, cfg))
