"""Single-node pandas/numpy oracle — the engine's golden reference.

Implements every check on in-memory frames, mirroring the Spark operators
semantically (the reference crate is its own oracle via one blessed
fixture, /root/reference/ssimulacra2/src/lib.rs:490-552; we can be exact
because we control both sides — SURVEY §5.2).

Partitioning: the engine buckets by Spark's xxhash64(conv_id), which pure
Python cannot reproduce — the oracle takes an explicit conv_id ->
partition_id mapping (tests derive it with one tiny Spark projection).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .config import CheckSuiteConfig
from .constants import (
    C2,
    CALIB_CUBIC_1,
    CALIB_CUBIC_2,
    CALIB_CUBIC_3,
    CALIB_LINEAR,
    CALIB_POW,
    KERNEL_TAPS,
    default_weights,
)


# --------------------------------------------------------------------------
# violation-set checks (exact)
# --------------------------------------------------------------------------


def uniqueness_violations(cand: pd.DataFrame) -> set[tuple[str, int]]:
    g = cand.groupby(["conv_id", "turn_idx"]).size()
    return {(c, int(t)) for (c, t), n in g.items() if n > 1}


def monotone_violations(cand: pd.DataFrame) -> set[tuple[str, int]]:
    out = set()
    for conv, g in cand.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        prev = g["ts"].shift(1)
        bad = g[g["ts"] < prev]
        out.update((conv, int(t)) for t in bad["turn_idx"])
    return out


def vocab_violations(cand: pd.DataFrame, column: str, vocab: tuple[str, ...], nullable: bool) -> set[tuple[str, int]]:
    bad = ~cand[column].isin(vocab)
    if nullable:
        bad &= cand[column].notna()
    else:
        bad |= cand[column].isna()
    g = cand[bad]
    return {(c, int(t)) for c, t in zip(g["conv_id"], g["turn_idx"])}


def text_parity_classes(ref: pd.DataFrame, cand: pd.DataFrame) -> dict[tuple[str, int], str]:
    """(conv, turn) -> added|missing|mismatch for every violating key.
    Duplicate keys compare by the key's text set (engine compares hashes
    rowwise; for class-at-key granularity the outcomes agree)."""
    r = ref.groupby(["conv_id", "turn_idx"])["text"].apply(
        lambda s: frozenset(x if x is not None and x == x else None for x in s)
    )
    c = cand.groupby(["conv_id", "turn_idx"])["text"].apply(
        lambda s: frozenset(x if x is not None and x == x else None for x in s)
    )
    out = {}
    for k in r.index.union(c.index):
        in_r, in_c = k in r.index, k in c.index
        if in_r and not in_c:
            out[(k[0], int(k[1]))] = "missing"
        elif in_c and not in_r:
            out[(k[0], int(k[1]))] = "added"
        elif r.loc[k] != c.loc[k]:
            out[(k[0], int(k[1]))] = "mismatch"
    return out


# --------------------------------------------------------------------------
# drift score (numpy mirror of operators/drift.py)
# --------------------------------------------------------------------------


def _featurize_channel(texts: pd.Series, channel: str) -> np.ndarray:
    t = texts.fillna("")
    if channel == "len":
        v = np.minimum(t.str.len().to_numpy(dtype=np.float64), 2048.0) / 2048.0
    elif channel == "tok":
        ntok = t.map(lambda s: len(re.split(" +", s))).to_numpy(dtype=np.float64)
        v = np.minimum(ntok, 512.0) / 512.0
    else:
        raise ValueError(f"oracle cannot compute channel {channel!r} (xxhash64)")
    # the engine ships f32 channels through the drift exchange
    # (drift_arrow.channel_expr) and upcasts for the math; quantize
    # identically so engine/oracle parity stays exact at 1e-9
    return v.astype(np.float32).astype(np.float64)


def _kernel_smooth(x: np.ndarray, taps: np.ndarray) -> np.ndarray:
    """Edge-renormalized finite-kernel smoothing — numerator/denominator
    convolutions (mirrors _kernel_sum/_presence_denom). Uses 'full' + a
    center slice: np.convolve 'same' returns the WRONG length when the
    series is shorter than the kernel."""
    n = len(taps)
    lo = (n - 1) // 2
    num = np.convolve(x, taps, mode="full")[lo : lo + len(x)]
    den = np.convolve(np.ones_like(x), taps, mode="full")[lo : lo + len(x)]
    return num / den


def _downsample(v: np.ndarray) -> np.ndarray:
    n = len(v)
    idx = np.arange(0, n, 2)
    nxt = np.minimum(idx + 1, n - 1)
    return (v[idx] + v[nxt]) / 2.0


def drift_scores(
    ref: pd.DataFrame,
    cand: pd.DataFrame,
    cfg: CheckSuiteConfig,
    partition_of: dict[str, int],
) -> dict[int, float]:
    """Per-partition calibrated 0-100 health score."""
    taps = np.asarray(KERNEL_TAPS, dtype=np.float64)
    weights = {
        (ch, s, m, nrm): w
        for ch, s, m, nrm, w in default_weights(cfg.channels, cfg.num_scales)
    }
    # aligned pair per (conv, turn): inner join on keys (dups replicate,
    # mirroring the Spark join)
    r = ref[["conv_id", "turn_idx", "text"]].rename(columns={"text": "t1"})
    c = cand[["conv_id", "turn_idx", "text"]].rename(columns={"text": "t2"})
    j = r.merge(c, on=["conv_id", "turn_idx"])
    j = j.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    # accumulate per (partition, channel, scale, map, norm)
    sums: dict[tuple, list] = {}
    for conv, g in j.groupby("conv_id", sort=True):
        pid = partition_of[conv]
        for ch in cfg.channels:
            v1 = _featurize_channel(g["t1"], ch)
            v2 = _featurize_channel(g["t2"], ch)
            for s in range(cfg.num_scales):
                if s > 0:
                    v1, v2 = _downsample(v1), _downsample(v2)
                mu1 = _kernel_smooth(v1, taps)
                mu2 = _kernel_smooth(v2, taps)
                s11 = _kernel_smooth(v1 * v1, taps)
                s22 = _kernel_smooth(v2 * v2, taps)
                s12 = _kernel_smooth(v1 * v2, taps)
                num_m = 1.0 - (mu1 - mu2) ** 2
                num_s = 2.0 * (s12 - mu1 * mu2) + C2
                den_s = (s11 - mu1 * mu1) + (s22 - mu2 * mu2) + C2
                d_ssim = np.maximum(0.0, 1.0 - (num_m * num_s) / den_s)
                d1 = (1.0 + np.abs(v2 - mu2)) / (1.0 + np.abs(v1 - mu1)) - 1.0
                artifact = np.maximum(d1, 0.0)
                detail = np.maximum(-d1, 0.0)
                for m, arr in (("ssim", d_ssim), ("artifact", artifact), ("detail", detail)):
                    sums.setdefault((pid, ch, s, m), []).append(arr)

    scores: dict[int, float] = {}
    ssum: dict[int, float] = {}
    for (pid, ch, s, m), arrs in sums.items():
        all_d = np.concatenate(arrs)
        l1 = float(np.mean(all_d))
        l4 = float(np.mean(all_d**4) ** 0.25)
        ssum[pid] = ssum.get(pid, 0.0) + weights[(ch, s, m, "l1")] * abs(l1)
        ssum[pid] = ssum.get(pid, 0.0) + weights[(ch, s, m, "l4")] * abs(l4)
    for pid, v in ssum.items():
        sc = v * 10.0 * CALIB_LINEAR
        cubic = CALIB_CUBIC_3 * sc**3 + CALIB_CUBIC_2 * sc**2 + CALIB_CUBIC_1 * sc
        scores[pid] = 100.0 - 10.0 * cubic**CALIB_POW if cubic > 0 else 100.0
    return scores


# --------------------------------------------------------------------------
# iir smoothing mirror (shares the exact code path with the Spark UDF)
# --------------------------------------------------------------------------


def iir_smooth_frame(
    df: pd.DataFrame, key: str, order_col: str, value_col: str, kernel: str = "ema"
) -> pd.DataFrame:
    from .functions.smoothing import smooth_series

    outs = []
    for k, g in df.groupby(key, sort=True):
        g = g.sort_values(order_col)
        outs.append(
            pd.DataFrame(
                {
                    key: g[key].to_numpy(),
                    order_col: g[order_col].to_numpy(),
                    "smooth": np.round(
                        smooth_series(g[value_col].to_numpy(), kernel=kernel), 6
                    ),
                }
            )
        )
    return pd.concat(outs, ignore_index=True)


def emb_drift_cosines(
    ref: pd.DataFrame,
    cand: pd.DataFrame,
    cfg: CheckSuiteConfig,
    partition_of: dict[str, int],
) -> dict[int, float]:
    """Per-partition centroid cosine between the snapshot pair, for the
    partitions with rows on both sides (numpy mirror of the centroids in
    operators/stats.rollup)."""

    def centroids(df: pd.DataFrame) -> dict[int, np.ndarray]:
        chans = [c for c in cfg.emb_channels if c in cfg.channels]
        feats = np.stack(
            [_featurize_channel(df["text"], ch) for ch in chans], axis=1
        )
        pid = df["conv_id"].map(partition_of).to_numpy()
        return {int(p): feats[pid == p].mean(axis=0) for p in np.unique(pid)}

    a, b = centroids(ref), centroids(cand)
    out = {}
    for p in set(a) & set(b):
        out[p] = float(a[p] @ b[p] / (np.linalg.norm(a[p]) * np.linalg.norm(b[p])))
    return out


def psi_ks(
    ref: pd.DataFrame,
    cand: pd.DataFrame,
    cfg: CheckSuiteConfig,
    partition_of: dict[str, int],
) -> dict[int, tuple[float, float]]:
    """Per-partition (psi, ks) over text-length histograms, for the
    partitions with rows on both sides (numpy mirror of the psi and ks in
    operators/stats.rollup): fixed [0, 2048) range in cfg.drift_bins bins,
    only bins present on either side take part, shares carry eps 1e-6."""
    eps = 1e-6
    nb = cfg.drift_bins

    def hists(df: pd.DataFrame) -> dict[int, np.ndarray]:
        n = np.minimum(df["text"].str.len().fillna(0).to_numpy(np.float64), 2047.0)
        b = np.minimum(nb - 1, np.floor(n / (2048 / nb))).astype(np.int64)
        pid = df["conv_id"].map(partition_of).to_numpy()
        return {int(p): np.bincount(b[pid == p], minlength=nb) for p in np.unique(pid)}

    a, c = hists(ref), hists(cand)
    out = {}
    for pid in set(a) & set(c):
        present = (a[pid] > 0) | (c[pid] > 0)
        p = a[pid][present] / a[pid].sum() + eps
        q = c[pid][present] / c[pid].sum() + eps
        psi = float(np.sum((p - q) * np.log(p / q)))
        ks = float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))
        out[pid] = (psi, ks)
    return out


def profile_verdicts(
    ref: pd.DataFrame,
    cand: pd.DataFrame,
    cfg: CheckSuiteConfig,
    partition_of: dict[str, int],
) -> dict[tuple[int, str], tuple[bool, int, float | None]]:
    """(partition_id, check_id) -> (passed, n_violations, score) for
    min_rows, row_parity, column_stats, psi_ks and emb_drift over every
    partition with rows on either side. A one-sided partition fails
    psi_ks and emb_drift with a NULL score."""
    n_ref = ref["conv_id"].map(partition_of).value_counts()
    cpid = cand["conv_id"].map(partition_of)
    n_cand = cpid.value_counts()
    lens = cand["text"].str.len()
    psi = psi_ks(ref, cand, cfg, partition_of)
    cos = emb_drift_cosines(ref, cand, cfg, partition_of)
    out = {}
    for pid in sorted(set(n_ref.index) | set(n_cand.index)):
        r, c = int(n_ref.get(pid, 0)), int(n_cand.get(pid, 0))
        nulls = int(lens[cpid == pid].isna().sum())
        mean = lens[cpid == pid].mean()
        enough = r >= cfg.min_rows_per_partition
        out[(pid, "min_rows")] = (enough, int(not enough), float(r))
        out[(pid, "row_parity")] = (r == c, abs(r - c), float(c - r))
        out[(pid, "column_stats")] = (nulls == 0, nulls, None if pd.isna(mean) else float(mean))
        p, k = psi.get(pid, (None, None))
        out[(pid, "psi_ks")] = (
            p is not None and p <= cfg.psi_threshold and k <= cfg.ks_threshold, 0, p
        )
        cs = cos.get(pid)
        out[(pid, "emb_drift")] = (cs is not None and cs >= cfg.emb_drift_min_cos, 0, cs)
    return out
