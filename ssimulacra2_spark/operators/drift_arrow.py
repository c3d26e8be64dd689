"""Arrow-vectorized drift scoring — the engine's one drift_score kernel.

The SSIMULACRA2 pipeline (≙ lib.rs:84-487; the pandas oracle in oracle.py
computes the same math) executed as ONE mapInArrow over the pair join:

  featurize in Spark expressions (JVM, codegen) -> pair join on rows
  clustered by conversation, sorted by turn -> per Arrow batch numpy
  computes masked kernel smoothing / ssim+edgediff maps / multi-scale
  rollup -> per (partition_id, channel, scale, map) partial sums -> one
  tiny batch of partial rows per task.

Why it scales:
- featurization happens BEFORE the exchange, so the shuffle moves
  2 x len(channels) f32 values per row, never text payloads;
- a conversation never straddles tasks, so a task sees whole
  conversations in turn order; the one still open at the end of an Arrow
  batch is carried into the next batch, and one longer than a segment is
  scored in owned, halo-padded segments — a task holds one batch plus
  one segment in Python, whatever the skew;
- the per-element math is vectorized ACROSS conversations (boundary masks
  instead of per-conversation loops), once per Arrow batch — no pandas,
  no per-group calls;
- output is ~(tasks x partition ids x channels x scales x 3) partial
  rows, merged by one small groupBy.

Reference analog: the per-frame score kernel behind the worker pool
(video.rs:407-456) with rayon-style data parallelism inside each score
(gaussian.rs:12-23).
"""

from __future__ import annotations

import numpy as np
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
        # tokens = space-runs + 1. regexp_count is runtime-replaceable:
        # Spark plans it as size(regexp_extract_all(t, ' +', 0)), so it
        # still builds one array of matches per row
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


def _downsample_masked(v1: np.ndarray, v2: np.ndarray, run_id: np.ndarray):
    """Edge-clamped pairwise 2x mean per conversation run (vectorized;
    ≙ downscale_by_2's odd-edge clamp, lib.rs:181-182). Returns the
    next-scale series and the keep mask; every per-row array that rides
    along (run id, partition index, global position) is indexed by the
    same mask. A segment starting at a position aligned to 2^num_scales
    has run-relative parity equal to global parity at every scale, so a
    kept row's next-scale global position is its position // 2."""
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
    return ((v1 + p1) / 2.0)[keep], ((v2 + p2) / 2.0)[keep], keep


def _ssim_maps(v1, v2, mu1, mu2, s11, s22, s12):
    num_m = 1.0 - (mu1 - mu2) ** 2
    num_s = 2.0 * (s12 - mu1 * mu2) + C2
    den_s = (s11 - mu1 * mu1) + (s22 - mu2 * mu2) + C2
    d_ssim = np.maximum(0.0, 1.0 - (num_m * num_s) / den_s)
    d1 = (1.0 + np.abs(v2 - mu2)) / (1.0 + np.abs(v1 - mu1)) - 1.0
    return d_ssim, np.maximum(d1, 0.0), np.maximum(-d1, 0.0)


_MAPS = ("ssim", "artifact", "detail")
# an open conversation carried past this many turns (plus the halo) is
# scored in owned, halo-padded segments of this many turns
_SEGMENT_TURNS = 1 << 16


def halo_turns(cfg: CheckSuiteConfig) -> int:
    """Halo width around a segment: every scale-s output consumed
    downstream needs r smoothing neighbors at scale s plus the 2x
    pyramid support, i.e. < (r+1)*2^s original positions per scale;
    (r+1)*2^num_scales bounds the total and keeps the halo a multiple of
    2^num_scales (parity alignment for the downsample chain)."""
    r = len(KERNEL_TAPS) // 2
    return (r + 1) << cfg.num_scales


def _run_starts(cols) -> np.ndarray:
    """True at every row that starts a conversation (rows sorted by
    conversation and turn)."""
    conv, conv2 = cols["conv_key"], cols["conv_key2"]
    starts = np.ones(len(conv), dtype=bool)
    starts[1:] = (conv[1:] != conv[:-1]) | (conv2[1:] != conv2[:-1])
    return starts


def _partial_sums(cols, channels, num_scales, taps, t0=0, lo=0, hi=None):
    """Kernel over flat rows sorted by conversation and turn: (pids, sums)
    with sums[i, channel, scale, map] = (sum_d, sum_d4, n) over the rows
    of partition id pids[i].

    All conversations are complete unless `lo`/`hi` is given: then the
    rows are ONE conversation holding global positions [t0, t0 + rows),
    and only the scale-s outputs at global index [lo >> s, hi >> s) (hi
    None: to the end) are counted."""
    pids, px0 = np.unique(cols["partition_id"], return_inverse=True)
    n = len(px0)
    run0 = np.cumsum(_run_starts(cols))
    masked = lo > 0 or hi is not None
    out = np.zeros((len(pids), len(channels), num_scales, len(_MAPS), 3))
    for c, ch in enumerate(channels):
        # batch arrives as f32 (exchange + Arrow IPC at half width);
        # upcast ONCE — all kernel math and partial sums stay f64 so the
        # 1e-9 oracle parity holds (the oracle quantizes its featurized
        # channels to f32 at the same point)
        v1 = cols[f"v1_{ch}"].astype(np.float64)
        v2 = cols[f"v2_{ch}"].astype(np.float64)
        rid, px = run0, px0
        g = t0 + np.arange(n) if masked else None
        for s in range(num_scales):
            if s > 0:
                v1, v2, keep = _downsample_masked(v1, v2, rid)
                rid, px = rid[keep], px[keep]
                if masked:
                    g = g[keep] // 2
            mu1, mu2, s11, s22, s12 = _smooth_many(
                [v1, v2, v1 * v1, v2 * v2, v1 * v2], rid, taps
            )
            maps = _ssim_maps(v1, v2, mu1, mu2, s11, s22, s12)
            pxo = px
            if masked:
                own = g >= lo >> s
                if hi is not None:
                    own &= g < hi >> s
                pxo = px[own]
                maps = [a[own] for a in maps]
            out[:, c, s, :, 2] = np.bincount(pxo, minlength=len(pids))[:, None]
            for m, a in enumerate(maps):
                out[:, c, s, m, 0] = np.bincount(pxo, weights=a, minlength=len(pids))
                out[:, c, s, m, 1] = np.bincount(pxo, weights=a**4, minlength=len(pids))
    return pids, out


def _partials_fn(cfg: CheckSuiteConfig):
    """mapInArrow body over one task's rows, sorted by (conv_key,
    conv_key2, turn_idx). Each Arrow batch is cut at its last
    conversation boundary: the rows before the cut are scored in one
    kernel call, the open conversation is carried into the next batch.
    Once it reaches own_from + SEG + H rows, [t0, own_from + SEG + H) is
    scored counting only the outputs in [own_from, own_from + SEG), and
    its rows from own_from + SEG - H on are kept: every output is counted
    once, and halo-edge garbage (truncated smoothing support, mid-series
    clamp) stays outside the owned range."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    taps = np.asarray(KERNEL_TAPS)
    channels = tuple(cfg.channels)
    num_scales = cfg.num_scales
    seg, h = _SEGMENT_TURNS, halo_turns(cfg)
    if seg % (1 << num_scales):
        raise ValueError(f"segment length {seg} is not a multiple of 2^num_scales")
    schema = to_arrow_schema(_PARTIAL_SCHEMA)

    def fn(batches):
        acc: dict[int, np.ndarray] = {}

        def add(cols, *window):
            pids, sums = _partial_sums(cols, channels, num_scales, taps, *window)
            for p, part in zip(pids.tolist(), sums):
                acc[p] = acc.get(p, 0) + part

        def rows(cols, a, b=None):
            return {k: v[a:b] for k, v in cols.items()}

        carry: dict[str, np.ndarray] = {}
        t0 = own_from = 0  # carry holds global positions [t0, ...); < own_from counted
        for rb in batches:
            cols = {
                name: col.to_numpy(zero_copy_only=False)
                for name, col in zip(rb.schema.names, rb.columns)
            }
            if carry:
                cols = {k: np.concatenate([carry[k], v]) for k, v in cols.items()}
            bound = np.flatnonzero(_run_starts(cols)[1:]) + 1
            if len(bound):
                cut = int(bound[-1])
                if own_from:  # the carried conversation was segmented
                    first = int(bound[0])
                    add(rows(cols, 0, first), t0, own_from)
                    if first < cut:
                        add(rows(cols, first, cut))
                else:
                    add(rows(cols, 0, cut))
                cols = rows(cols, cut)
                t0 = own_from = 0
            carry = cols
            while t0 + len(carry["partition_id"]) >= own_from + seg + h:
                add(rows(carry, 0, own_from + seg + h - t0), t0, own_from, own_from + seg)
                carry = rows(carry, own_from + seg - h - t0)
                t0, own_from = own_from + seg - h, own_from + seg
        if carry:
            add(carry, t0, own_from)
        if not acc:
            return
        pids = sorted(acc)
        sums = np.stack([acc[p] for p in pids])  # (pid, channel, scale, map, 3)
        p, c, sc, m = np.indices(sums.shape[:4]).reshape(4, -1)
        flat = sums.reshape(-1, 3)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(pids, dtype=np.int32)[p]),
                pa.array(np.asarray(channels)[c]),
                pa.array(sc.astype(np.int32)),
                pa.array(np.asarray(_MAPS)[m]),
                pa.array(flat[:, 0]),
                pa.array(flat[:, 1]),
                pa.array(flat[:, 2].astype(np.int64)),
            ],
            schema=schema,
        )

    return fn


def drift_norms(ref: DataFrame, cand: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """(partition_id, channel, scale, map, norm, value): the L1 and L4
    norms of every distortion map over the paired channel series, the
    input of the calibration."""
    # consumes the prepare() projection (ch_<name> computed once per side).
    # The kernel needs conversation *boundaries*, not identities: a pair of
    # independent 64-bit hashes (128 bits total) replaces the conv_id
    # string in the exchange, the equi-join key and the in-batch sort. At
    # 64 bits a birthday collision among ~1e9 conversations is ~n^2/2^65
    # ≈ 1e-2 — a colliding pair sharing turn_idx values would produce
    # spurious cross-conversation join matches. At 128 bits the same
    # estimate is n^2/2^129 ≈ 1e-21: negligible, with a fixed-width
    # 16-byte key still far cheaper to shuffle than arbitrary conv_ids.
    # ref is clustered by conversation BEFORE the join: a broadcast join
    # keeps that clustering and a sort-merge join reuses it (cand is
    # shuffled to match; requireAllClusterKeysForCoPartition=false), so
    # the kernel's own repartition (its guarantee that a task sees whole
    # conversations) is planned away, and with a sort-merge join its sort.
    keys = ["conv_key", "conv_key2"]
    r = ref.select(
        "partition_id",
        F.xxhash64("conv_id").alias("conv_key"),
        F.xxhash64("conv_id", F.lit(7)).alias("conv_key2"),
        "turn_idx",
        *[F.col(f"ch_{ch}").alias(f"v1_{ch}") for ch in cfg.channels],
    ).repartition(*keys)
    c = cand.select(
        F.xxhash64("conv_id").alias("conv_key"),
        F.xxhash64("conv_id", F.lit(7)).alias("conv_key2"),
        "turn_idx",
        *[F.col(f"ch_{ch}").alias(f"v2_{ch}") for ch in cfg.channels],
    )
    partials = (
        r.join(c, [*keys, "turn_idx"])
        .repartition(*keys)
        .sortWithinPartitions(*keys, "turn_idx")
        .select("partition_id", *keys, *[f"v{i}_{ch}" for i in (1, 2) for ch in cfg.channels])
        .mapInArrow(_partials_fn(cfg), _PARTIAL_SCHEMA)
    )
    return (
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


def drift_scores(ref: DataFrame, cand: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """(partition_id, score): the per-partition calibrated
    SSIMULACRA2-style score over the paired channel series, for every
    partition with paired rows. Pinned to the pandas oracle at 1e-9
    (tests/test_engine_vs_oracle.py::test_drift_scores_match_oracle)."""
    from .drift import calibrated_score

    return calibrated_score(drift_norms(ref, cand, cfg), cfg)


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
