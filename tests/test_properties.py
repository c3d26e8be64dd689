"""Differential + property tests for the round-2 rewrites.

Each test pins an equivalence the code now RELIES on:
  * chunked monotone check == naive whole-conversation window
  * streaming drift kernel == itself across segments and Arrow batch cuts
  * bucket-star connected components == clique connected components
  * recursive-Gaussian batch vectorization == per-series filtering under
    random lengths/values (hypothesis)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


# --------------------------------------------------------------------------
# Chunked monotone check == naive per-conversation window
# --------------------------------------------------------------------------


def _naive_monotone(pdf: pd.DataFrame) -> set[tuple[str, int]]:
    """Reference semantics: per conversation ordered by turn_idx, flag any
    row whose ts is earlier than its predecessor's ts."""
    bad = set()
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        prev = None
        for _, row in g.iterrows():
            if prev is not None and row["ts"] < prev:
                bad.add((conv, int(row["turn_idx"])))
            prev = row["ts"]
    return bad


def test_chunked_monotone_equals_naive(spark):
    from dataclasses import replace

    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.operators.checks import (
        order_unique_violations,
        with_partition_id,
    )

    rng = np.random.default_rng(5)
    rows = []
    for conv in range(30):
        n = int(rng.integers(1, 40))
        ts = pd.Timestamp("2025-01-01") + pd.to_timedelta(
            np.cumsum(rng.integers(-3, 10, n)), unit="m"
        )
        for i in range(n):
            rows.append((f"c{conv}", i, "user", "x", None, ts[i]))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    # tiny chunk size so the boundary path is exercised heavily
    cfg = replace(CheckSuiteConfig(), monotone_chunk_turns=4)
    df = with_partition_id(spark.createDataFrame(pdf), cfg)
    got = {
        (r.conv_id, r.turn_idx)
        for r in order_unique_violations(df, cfg, do_unique=False).collect()
    }
    assert got == _naive_monotone(pdf)


# --------------------------------------------------------------------------
# Streaming drift kernel: segments and Arrow batch cuts are exact
# --------------------------------------------------------------------------

_DRIFT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _drift_pair(spark, lengths, seed):
    """A prepared (ref, cand) pair with one conversation per entry of
    `lengths`; each side drops ~2% of the turns (missing-turn gaps on
    both sides) and cand appends 1-8 words to a third of the turns."""
    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.operators.checks import prepare

    rng = np.random.default_rng(seed)
    rows_r, rows_c = [], []
    for conv, n in enumerate(lengths):
        drop_r = set(rng.choice(n, size=n // 50, replace=False).tolist())
        drop_c = set(rng.choice(n, size=n // 50, replace=False).tolist())
        for i in range(n):
            text = f"turn {conv} {i} " + "x " * int(rng.integers(0, 60))
            edit = " y" * int(rng.integers(1, 9)) if rng.random() < 1 / 3 else ""
            tsv = pd.Timestamp("2025-01-01") + pd.to_timedelta(i, unit="s")
            if i not in drop_r:
                rows_r.append((f"c{conv}", i, "user", text, None, tsv))
            if i not in drop_c:
                rows_c.append((f"c{conv}", i, "user", text + edit, None, tsv))
    cfg = CheckSuiteConfig(n_buckets=4, num_scales=4, channels=("len", "tok"))
    ref = prepare(spark.createDataFrame(pd.DataFrame(rows_r, columns=_DRIFT_COLS)), cfg)
    cand = prepare(spark.createDataFrame(pd.DataFrame(rows_c, columns=_DRIFT_COLS)), cfg)
    return ref, cand, cfg


def _collect_norms(norms) -> dict:
    return {
        (r.partition_id, r.channel, r.scale, r.map, r.norm): r.value
        for r in norms.collect()
    }


def _assert_norms_equal(want: dict, got: dict, label) -> None:
    assert want.keys() == got.keys(), label
    assert sum(v > 0 for v in want.values()) > len(want) // 2, label  # the pair drifts
    for k, a in want.items():
        assert got[k] == pytest.approx(a, rel=1e-12, abs=0.0), (label, k)


def _norms_at_batch_size(spark, ref, cand, cfg, records=None) -> dict:
    """drift_norms planned and collected with Arrow batches of at most
    `records` rows (None: the default). The batch size is fixed when the
    DataFrame is first planned, so each call builds a new one."""
    from ssimulacra2_spark.operators.drift_arrow import drift_norms

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    if records is not None:
        spark.conf.set(key, str(records))
    try:
        return _collect_norms(drift_norms(ref, cand, cfg))
    finally:
        spark.conf.unset(key)


def test_drift_segments_match_unsegmented(spark, monkeypatch):
    """A conversation longer than _SEGMENT_TURNS is scored in owned,
    halo-padded segments; the pre-calibration L1/L4 norms of every
    (partition_id, channel, scale, map) must equal the unsegmented
    kernel's at 1e-12, including under missing-turn gaps on both sides.
    Small Arrow batches carry every long conversation across batches, so
    each one is segmented (4-10 segments per conversation at 256)."""
    from ssimulacra2_spark.operators import drift_arrow

    ref, cand, cfg = _drift_pair(spark, [700, 2500, 1200, 1900, 900, 2300], seed=17)
    assert 256 % (1 << cfg.num_scales) == 0 and 256 > drift_arrow.halo_turns(cfg)
    want = _norms_at_batch_size(spark, ref, cand, cfg)
    monkeypatch.setattr(drift_arrow, "_SEGMENT_TURNS", 256)
    for records in (None, 97):
        _assert_norms_equal(want, _norms_at_batch_size(spark, ref, cand, cfg, records), records)


def test_drift_arrow_batch_boundaries(spark):
    """The conversation open at the end of an Arrow batch is carried into
    the next: any batch size gives the same norms at 1e-12. The pair has
    single-turn conversations and one conversation spanning many
    batches."""
    lengths = [1] * 12 + [2, 3, 5, 8, 13, 40, 97, 98, 150] + [1500]
    ref, cand, cfg = _drift_pair(spark, lengths, seed=23)
    want = _norms_at_batch_size(spark, ref, cand, cfg)
    for records in (1, 13, 97):
        _assert_norms_equal(want, _norms_at_batch_size(spark, ref, cand, cfg, records), records)


# --------------------------------------------------------------------------
# Bucket-star components == clique components
# --------------------------------------------------------------------------


def _components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 30), min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    )
)
def test_star_components_equal_clique_components(buckets):
    clique_edges = []
    star_edges = []
    for members in buckets:
        ms = sorted(set(members))
        hub = ms[0]
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                clique_edges.append((a, b))
            if a != hub:
                star_edges.append((hub, a))
    assert _components(clique_edges) == _components(star_edges)


# --------------------------------------------------------------------------
# Recursive Gaussian: batch == single under random shapes (hypothesis)
# --------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(1, 50), min_size=1, max_size=6),
    st.integers(0, 2**31 - 1),
)
def test_rg_batch_equals_single(lengths, seed):
    from ssimulacra2_spark.functions.recursive_gaussian import (
        rg_smooth_many,
        rg_smooth_series,
    )

    rng = np.random.default_rng(seed)
    series = [rng.normal(0, 1, n) for n in lengths]
    got = rg_smooth_many(series)
    for s, g in zip(series, got):
        assert np.array_equal(g, rg_smooth_series(s))


# --------------------------------------------------------------------------
# Blocked EMA scan == naive per-element recurrence
# --------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 700), st.integers(0, 2**31 - 1))
def test_ema_blocked_equals_naive(n, seed):
    from ssimulacra2_spark.functions.smoothing import _ema, iir_alpha

    a = iir_alpha()
    x = np.random.default_rng(seed).normal(0, 5, n)
    naive = np.empty(n)
    acc = x[0]
    for i, v in enumerate(x):
        acc = a * v + (1.0 - a) * acc
        naive[i] = acc
    got = _ema(x, a)
    assert np.allclose(got, naive, rtol=1e-12, atol=1e-12)


# --------------------------------------------------------------------------
# As-of carry == pandas merge_asof (third independent implementation;
# the registry oracle is DuckDB's native ASOF JOIN — this pins the
# sorted-carry plan against a different engine again, with random data)
# --------------------------------------------------------------------------


def test_asof_carry_matches_merge_asof(spark, tmp_path):
    from ssimulacra2_spark.registry.engineops import QUERIES

    rng = np.random.default_rng(23)
    n = 4000
    base = pd.Timestamp("2025-05-01")
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "user_id": rng.integers(0, 50, n),
            "event_type": "click",
            "value": rng.normal(0, 1, n),
            "props": "{}",
            # seconds-resolution, deliberately with ts collisions
            "ts": base + pd.to_timedelta(rng.integers(0, 6 * 86400, n), unit="s"),
        }
    )
    spark.createDataFrame(ev).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        r.policy_id: r.n_events
        for r in QUERIES["asof_join_policy"](spark, str(tmp_path)).collect()
    }

    dim = (
        ev[ev.event_id % 97 == 0]
        .groupby("ts", as_index=False)
        .agg(policy_id=("event_id", "max"))
        .rename(columns={"ts": "policy_ts"})
        .sort_values("policy_ts")
    )
    m = pd.merge_asof(
        ev.sort_values("ts"),
        dim,
        left_on="ts",
        right_on="policy_ts",
        direction="backward",  # policy_ts <= ts, inclusive — same bound
    )
    want = (
        m.groupby("policy_id", dropna=False)["event_id"].count().to_dict()
    )
    want = {(None if pd.isna(k) else int(k)): int(v) for k, v in want.items()}
    assert got == want


# --------------------------------------------------------------------------
# Chunked sessionization == whole-user window
# --------------------------------------------------------------------------


def test_sessionize_chunked_matches_whole(spark):
    from ssimulacra2_spark.registry.engineops import sessionize_gap_df

    rng = np.random.default_rng(9)
    rows = []
    eid = 0
    for user in range(12):
        t = pd.Timestamp("2025-03-01")
        for _ in range(int(rng.integers(1, 120))):
            # gaps straddle both the 30-min session threshold and the
            # chunk width so boundary carries are exercised heavily
            t = t + pd.to_timedelta(int(rng.integers(0, 5000)), unit="s")
            rows.append((f"u{user}", eid, t))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
    ev = spark.createDataFrame(pdf)

    def canon(df):
        return sorted(
            (r.user_id, r.session_id, r.n_events, r.first_event, r.last_event)
            for r in df.collect()
        )

    # tiny chunk (1h) so nearly every session crosses a chunk boundary
    chunked = canon(sessionize_gap_df(ev, chunk_secs=3600))
    whole = canon(sessionize_gap_df(ev, chunk_secs=10**9))
    assert chunked == whole and len(chunked) > 20


def test_rg_dc_gain_across_sigmas():
    from ssimulacra2_spark.functions.recursive_gaussian import rg_smooth_series

    for sigma in (0.8, 1.5, 2.5, 4.0):
        n = int(20 * sigma) * 2 + 1
        x = np.zeros(n)
        x[n // 2] = 1.0
        y = rg_smooth_series(x, sigma)
        assert abs(y.sum() - 1.0) < 5e-3, sigma


# --------------------------------------------------------------------------
# token_count word_pieces: regexp_extract_all('[a-zA-Z0-9]+') count ==
# filter(split('[^a-zA-Z0-9]+'), t -> t != '') count (r06 codegen rewrite)
# --------------------------------------------------------------------------


def test_word_pieces_regexp_equals_split_filter(spark):
    from pyspark.sql import functions as F

    rows = [
        "", " ", "a", "  a  ", "a b", "!!!", "!a!b!", "a!b!c!", "...a1B2c3...",
        "tab\tsep", "nl\nsep", "héllo wörld", "日本語 text", "a-b_c.d",
        "x" * 500, ("ab! " * 200).strip(), "1!2@3#4$5%6^7&8*9(0)",
    ]
    df = spark.createDataFrame([(s,) for s in rows], ["text"])
    out = df.select(
        F.size(F.filter(F.split("text", "[^a-zA-Z0-9]+"), lambda t: t != "")).alias("hof"),
        F.size(F.regexp_extract_all("text", F.lit("[a-zA-Z0-9]+"), 0)).alias("re"),
    ).collect()
    for r in out:
        assert r.hof == r.re, r


# --------------------------------------------------------------------------
# split_leakage_guard r06 rewrite: per-direction side-filtered pair joins
# (train-probe x test-build  U  test-probe x train-build) == full pair set
# filtered to cross-split pairs
# --------------------------------------------------------------------------


def test_side_filtered_pair_union_equals_filtered_pairs(spark):
    from pyspark.sql import functions as F

    from ssimulacra2_spark.registry.dedup import _lsh_pairs_df
    from ssimulacra2_spark.registry.webops import _dochash, _split_leakage_df

    sf_dir = "/root/testdata/sf0.001"

    def is_test(col):
        return F.expr(f"({_dochash(374761393, 10).replace('doc_id', col)}) = 0")

    full = _lsh_pairs_df(spark, sf_dir).filter(
        is_test("doc_a") != is_test("doc_b")
    )
    expected = {(r.doc_a, r.doc_b) for r in full.collect()}
    # one job: re-derive each emitted row's labels from the hash split
    got = (
        _split_leakage_df(spark, sf_dir)
        .withColumn("a_is_test", is_test("doc_a"))
        .withColumn("b_is_test", is_test("doc_b"))
        .collect()
    )
    assert {(r.doc_a, r.doc_b) for r in got} == expected
    assert len(got) == len(expected)  # each pair emitted exactly once
    for r in got:  # labels consistent with the hash split
        assert (r.split_a == "test") == r.a_is_test
        assert (r.split_b == "test") == r.b_is_test
        assert r.split_a != r.split_b


# --------------------------------------------------------------------------
# SemDeDup BLAS prefilter + exact recompute == pure sequential fold
# --------------------------------------------------------------------------


def test_semdedup_blas_prefilter_matches_fold(spark, tmp_path, monkeypatch):
    """dedup_semantic's dgemm prefilter (margin-widened) with exact
    dimension-sequential recompute of the sparse candidates must produce
    BIT-identical output to a pure sequential reference — including on
    cosines engineered to land within ~1e-6 of the tau threshold and of
    half-up rounding boundaries, where a prefilter that lost candidates
    or a value that reached rounding via BLAS would flip flags. The
    recompute is also run with a candidate chunk small enough to split
    every duplicate-dense cell into several chunks."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ssimulacra2_spark.registry import webops
    from ssimulacra2_spark.registry.ivf import CENTROIDS
    from ssimulacra2_spark.registry.webops import _SEM_TAU, dedup_semantic

    rng = np.random.default_rng(7)
    d = len(CENTROIDS[0])
    vecs: list[np.ndarray] = []
    # clusters of near-duplicates around each centroid (high cosines)
    for c in CENTROIDS[:3]:
        base = np.asarray(c, dtype=np.float64) + rng.normal(0, 0.05, d)
        for _ in range(40):
            vecs.append(base * rng.uniform(0.5, 2.0) + rng.normal(0, 1e-4, d))
    # adversarial pairs: cosine dense around tau +- 5e-6 (the rounding
    # boundary band). Rotated vectors must land in the SAME k-means cell
    # as the anchor to be compared at all, so candidate directions are
    # filtered by the same argmin the query uses.
    C = np.asarray(CENTROIDS, dtype=np.float64)
    c0n = float(np.linalg.norm(C[0]))
    anchor = C[0] / c0n

    def cell_of(x: np.ndarray) -> int:
        dist = np.sum(C * C, axis=1) - 2.0 * (C @ x)
        return int(np.argmin(dist))

    added = 0
    for _ in range(4000):
        if added >= 60:
            break
        perp = rng.normal(0, 1, d)
        perp -= anchor * (perp @ anchor)
        perp /= np.linalg.norm(perp)
        cth = _SEM_TAU + (added - 30) * 2.5e-7
        w = (cth * anchor + np.sqrt(max(0.0, 1 - cth * cth)) * perp) * c0n
        if cell_of(w) != cell_of(anchor * c0n):
            continue
        vecs.append(w)
        vecs.append(anchor * c0n * rng.uniform(0.95, 1.05))
        added += 1
    assert added >= 20, f"fixture: only {added} in-cell boundary vectors"
    X32 = np.stack(vecs).astype(np.float32)
    ids = np.arange(len(X32), dtype=np.int64)
    tbl = pa.table(
        {
            "vec_id": ids,
            "embedding": list(X32),
            "label": np.zeros(len(X32), dtype=np.int32),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    def run() -> set:
        return {
            (r.vec_dup, r.cell, r.keeper, r.max_cosine)
            for r in dedup_semantic(spark, str(tmp_path)).collect()
        }

    got = run()
    small_chunk = 64
    with monkeypatch.context() as mp:
        mp.setattr(webops, "_SEM_CAND_CHUNK", small_chunk)
        got_chunked = run()

    # ---- pure sequential reference (no BLAS anywhere) -----------------
    X = X32.astype(np.float64)
    # cell assignment: argmin ||x||^2 - 2<x,c> + ||c||^2 over centroid
    # structs, tie-break min index (same expression as _cell_expr)
    cells = []
    for x in X:
        best = None
        for i, c in enumerate(CENTROIDS):
            c2 = sum(v * v for v in c)
            dist = c2 - 2.0 * float(np.sum(x * np.asarray(c))) 
            if best is None or dist < best[0] - 1e-12:
                best = (dist, i)
        cells.append(best[1])
    cells = np.asarray(cells)

    def r6(y: float) -> float:
        return float(Decimal(repr(float(y))).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    eps = 5.0123e-8
    n_boundary_pairs: list[float] = []
    dup_pairs: Counter = Counter()
    want: dict[int, tuple[int, int, float]] = {}
    for cell in np.unique(cells):
        idx = np.nonzero(cells == cell)[0]
        if len(idx) < 2:
            continue
        Xc = X[idx]
        n2 = np.zeros(len(idx))
        for k in range(d):
            n2 += Xc[:, k] * Xc[:, k]
        NX = Xc / np.sqrt(n2)[:, None]
        for a in range(len(idx)):
            for b in range(len(idx)):
                ia, ib = int(ids[idx[a]]), int(ids[idx[b]])
                if not ia < ib:
                    continue
                acc = 0.0
                for k in range(d):
                    acc += NX[a, k] * NX[b, k]
                R = r6(acc + eps)
                if abs(R - _SEM_TAU) < 5e-6:
                    n_boundary_pairs.append(R)
                if R >= _SEM_TAU:
                    dup_pairs[int(cell)] += 1
                    cur = want.get(ib)
                    if cur is None:
                        want[ib] = (int(cell), ia, R)
                    else:
                        want[ib] = (int(cell), min(cur[1], ia), max(cur[2], R))
    want_set = {(vd, c, kp, mc) for vd, (c, kp, mc) in want.items()}
    assert got == want_set
    assert got_chunked == want_set
    # every kept pair is a candidate, so some cell's recompute took
    # several chunks of small_chunk
    assert max(dup_pairs.values()) > 2 * small_chunk
    assert len(want_set) > 50  # the fixture actually exercises the path
    assert n_boundary_pairs  # pairs were evaluated inside the rounding band
