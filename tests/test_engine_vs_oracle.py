"""Engine output must equal the single-node pandas oracle exactly
(counts/keys) and to 1e-9 relative (float scores) — SURVEY §5.2."""

from __future__ import annotations

import math
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from ssimulacra2_spark import oracle
from ssimulacra2_spark.config import ALL_CHECKS
from ssimulacra2_spark.operators import checks as C
from ssimulacra2_spark.operators.stats import profile_verdicts, rollup
from ssimulacra2_spark.plans.suite import ValidationSuite

PROFILE_CHECKS = ("min_rows", "row_parity", "column_stats", "psi_ks", "emb_drift")


def _viol_keys(violations, check_id):
    rows = violations.filter(F.col("check_id") == check_id).collect()
    return {(r.conv_id, r.turn_idx) for r in rows}


@pytest.fixture(scope="module")
def suite_out(spark, synth_tables):
    t = synth_tables
    suite = ValidationSuite(t["cfg"])
    verdicts, violations = suite.run(spark, t["ref"].drop("partition_id"), t["cand"].drop("partition_id"))
    return verdicts.cache(), violations.cache()


def test_uniqueness_matches_oracle(suite_out, synth_tables):
    _, violations = suite_out
    got = _viol_keys(violations, "uniqueness")
    want = oracle.uniqueness_violations(synth_tables["res"].cand)
    assert got == want
    injected = set(synth_tables["res"].injections["duplicate_key"])
    assert injected <= want


def test_monotone_matches_oracle(suite_out, synth_tables):
    _, violations = suite_out
    got = _viol_keys(violations, "monotone_ts")
    want = oracle.monotone_violations(synth_tables["res"].cand)
    assert got == want
    assert set(synth_tables["res"].injections["ts_swap"]) <= want


def test_vocab_matches_oracle(suite_out, synth_tables):
    _, violations = suite_out
    res = synth_tables["res"]
    cfg = synth_tables["cfg"]
    got_role = _viol_keys(violations, "vocab_role")
    want_role = oracle.vocab_violations(res.cand, "role", cfg.roles, nullable=False)
    assert got_role == want_role
    assert set(res.injections["unknown_role"]) <= want_role

    got_tool = _viol_keys(violations, "vocab_tool")
    want_tool = oracle.vocab_violations(res.cand, "tool", cfg.tools, nullable=True)
    assert got_tool == want_tool
    assert set(res.injections["unknown_tool"]) <= want_tool


def test_text_parity_matches_oracle(suite_out, synth_tables):
    _, violations = suite_out
    res = synth_tables["res"]
    rows = violations.filter(F.col("check_id") == "text_parity").collect()
    got = {(r.conv_id, r.turn_idx): r["class"] for r in rows}
    want = oracle.text_parity_classes(res.ref, res.cand)
    assert got == want
    for k in res.injections["drop_turn"]:
        assert want.get(k) == "missing"
    for k in res.injections["add_turn"]:
        assert want.get(k) == "added"
    for k in res.injections["text_mutate"] + res.injections["text_null"]:
        if k not in res.injections["drop_turn"]:
            assert want.get(k) == "mismatch", k


@pytest.fixture(scope="module")
def one_sided(spark, synth_cfg, tmp_path_factory):
    """A pair with ref-only and cand-only partitions: 60 conversations in
    64 buckets, the first 25 dropped from ref and the last 25 from cand.
    Returns the suite's verdicts with all 12 checks on, the pandas pair
    and the conv -> partition map of both sides."""
    from ssimulacra2_spark.synth import synth_pair

    res = synth_pair(n_convs=60, seed=42)
    convs = sorted(res.ref.conv_id.unique())
    ref = res.ref[~res.ref.conv_id.isin(convs[:25])]
    cand = res.cand[~res.cand.conv_id.isin(convs[-25:])]
    d = tmp_path_factory.mktemp("one_sided")
    ref.to_parquet(d / "ref.parquet", index=False)
    cand.to_parquet(d / "cand.parquet", index=False)
    cfg = replace(synth_cfg, n_buckets=64, checks=ALL_CHECKS)
    ref_s = spark.read.parquet(str(d / "ref.parquet"))
    cand_s = spark.read.parquet(str(d / "cand.parquet"))
    partition_of = {
        r.conv_id: r.partition_id
        for r in C.with_partition_id(ref_s.unionByName(cand_s), cfg)
        .select("conv_id", "partition_id").distinct().collect()
    }
    verdicts, _ = ValidationSuite(cfg).run(spark, ref_s, cand_s)
    return {"cfg": cfg, "ref": ref, "cand": cand, "partition_of": partition_of,
            "rows": verdicts.collect()}


def test_one_sided_partitions(one_sided):
    """A partition with rows on one side only gets a row for every check:
    psi_ks and emb_drift fail with a NULL score, min_rows fails a
    cand-only partition, column_stats passes a ref-only one vacuously.
    drift_score fails with a NULL score wherever no (conv_id, turn_idx)
    pairs, which includes partitions with rows on both sides."""
    t, pof = one_sided, one_sided["partition_of"]
    ref_p = {pof[c] for c in t["ref"].conv_id}
    cand_p = {pof[c] for c in t["cand"].conv_id}
    ref_only, cand_only = ref_p - cand_p, cand_p - ref_p
    assert ref_only and cand_only
    keys = ["conv_id", "turn_idx"]
    paired_p = {pof[c] for c in t["ref"][keys].merge(t["cand"][keys], on=keys).conv_id}
    unpaired = (ref_p | cand_p) - paired_p
    assert (len(ref_only), len(cand_only), len(unpaired)) == (13, 9, 29)
    got = {(r.partition_id, r.check_id): (r.passed, r.n_violations, r.score) for r in t["rows"]}
    assert {k for k in got if k[0] >= 0} == {
        (p, c) for p in ref_p | cand_p for c in ALL_CHECKS if c != "schema"
    }
    for p in ref_only | cand_only:
        assert got[(p, "psi_ks")] == (False, 0, None), p
        assert got[(p, "emb_drift")] == (False, 0, None), p
    for p in cand_only:
        assert got[(p, "min_rows")] == (False, 1, 0.0), p
    for p in ref_only:
        assert got[(p, "column_stats")] == (True, 0, None), p
    for p in unpaired:
        assert got[(p, "drift_score")] == (False, 0, None), p
    for p in paired_p:
        assert got[(p, "drift_score")][2] is not None, p


@pytest.mark.parametrize("pair", ["synth", "one_sided"])
def test_profile_checks_match_oracle(spark, synth_tables, one_sided, pair):
    """min_rows, row_parity, column_stats, psi_ks and emb_drift over the
    whole verdict universe equal oracle.profile_verdicts (scores at
    1e-9)."""
    if pair == "synth":
        t = synth_tables
        cfg = replace(t["cfg"], checks=PROFILE_CHECKS)
        verdicts, _ = ValidationSuite(cfg).run(
            spark, t["ref"].drop("partition_id"), t["cand"].drop("partition_id")
        )
        rows, ref, cand, pof = verdicts.collect(), t["res"].ref, t["res"].cand, t["partition_of"]
    else:
        t = one_sided
        cfg, rows, ref, cand, pof = t["cfg"], t["rows"], t["ref"], t["cand"], t["partition_of"]
    got = {
        (r.partition_id, r.check_id): (r.passed, r.n_violations, r.score)
        for r in rows
        if r.check_id in PROFILE_CHECKS
    }
    want = oracle.profile_verdicts(ref, cand, cfg, pof)
    assert set(got) == set(want)
    for k, (passed, n, score) in want.items():
        assert got[k][:2] == (passed, n), (k, got[k], want[k])
        if score is None:
            assert got[k][2] is None, (k, got[k])
        else:
            assert math.isclose(got[k][2], score, rel_tol=1e-9, abs_tol=1e-12), (k, got[k], score)


def test_drift_scores_match_oracle(spark, synth_tables):
    """The Arrow drift kernel must match the pandas oracle to 1e-9
    relative."""
    from ssimulacra2_spark.operators.drift_arrow import drift_scores

    t = synth_tables
    cfg = t["cfg"]
    ref_p = C.prepare(t["ref"].drop("partition_id"), cfg)
    cand_p = C.prepare(t["cand"].drop("partition_id"), cfg)
    got = {r.partition_id: r.score for r in drift_scores(ref_p, cand_p, cfg).collect()}
    want = oracle.drift_scores(t["res"].ref, t["res"].cand, cfg, t["partition_of"])
    assert set(got) == set(want)
    for pid, s in want.items():
        assert math.isclose(got[pid], s, rel_tol=1e-9), (pid, got[pid], s)


def _prepared_pair(synth_tables, cfg):
    t = synth_tables
    ref_p = C.prepare(t["ref"].drop("partition_id"), cfg)
    return ref_p, C.prepare(t["cand"].drop("partition_id"), cfg)


def _profile_rows(ref_p, cand_p, cfg):
    """The cfg.checks verdicts read off the profile rollup."""
    return profile_verdicts(rollup(ref_p, cand_p, cfg), cfg.checks, cfg).collect()


def test_emb_drift_matches_oracle(spark, synth_tables):
    """Embedding-centroid drift cosines must match the numpy oracle to
    1e-9 relative, and ref-vs-ref must pass everywhere."""
    t = synth_tables
    cfg = replace(t["cfg"], checks=("emb_drift",))
    ref_p, cand_p = _prepared_pair(t, cfg)
    got = {r.partition_id: (r.score, r.passed) for r in _profile_rows(ref_p, cand_p, cfg)}
    want = oracle.emb_drift_cosines(t["res"].ref, t["res"].cand, cfg, t["partition_of"])
    assert set(got) == set(want)
    for pid, cos in want.items():
        assert math.isclose(got[pid][0], cos, rel_tol=1e-9), (pid, got[pid], cos)
        assert got[pid][1] == (cos >= cfg.emb_drift_min_cos)
    clean = _profile_rows(ref_p, ref_p, cfg)
    assert all(r.passed for r in clean)
    # negative case: gut the text on one side -> centroids diverge and the
    # check FIRES (guards against a threshold that can never fail)
    broken = C.prepare(t["cand"].drop("partition_id").withColumn("text", F.lit("x")), cfg)
    fired = _profile_rows(ref_p, broken, cfg)
    assert any(not r.passed for r in fired)


def test_psi_ks_matches_oracle(spark, synth_tables):
    """PSI scores must match the numpy histogram oracle to 1e-9 and the
    verdict must follow both thresholds. Synth PSI is 0 on most
    partitions, so a gutted candidate checks that the check can fail."""
    t = synth_tables
    cfg = replace(t["cfg"], checks=("psi_ks",))
    ref_p, cand_p = _prepared_pair(t, cfg)
    got = {r.partition_id: (r.score, r.passed) for r in _profile_rows(ref_p, cand_p, cfg)}
    want = oracle.psi_ks(t["res"].ref, t["res"].cand, cfg, t["partition_of"])
    assert set(got) == set(want)
    for pid, (psi, ks) in want.items():
        assert math.isclose(got[pid][0], psi, rel_tol=1e-9, abs_tol=1e-12), (pid, got[pid], psi)
        assert got[pid][1] == (psi <= cfg.psi_threshold and ks <= cfg.ks_threshold)
    # negative case: every candidate text collapses into bin 0
    broken = C.prepare(t["cand"].drop("partition_id").withColumn("text", F.lit("x")), cfg)
    fired = _profile_rows(ref_p, broken, cfg)
    assert fired and not any(r.passed for r in fired)


def test_drift_check_selection(spark, synth_tables):
    """The suite emits verdicts for exactly the enabled drift checks, and
    emb_drift's rows do not depend on whether psi_ks runs beside it (the
    default config runs emb_drift alone)."""
    t = synth_tables
    ref = t["ref"].drop("partition_id")
    cand = t["cand"].drop("partition_id")
    emb_rows = []
    for checks in (("psi_ks",), ("emb_drift",), ("psi_ks", "emb_drift")):
        cfg = replace(t["cfg"], checks=checks)
        verdicts, _ = ValidationSuite(cfg).run(spark, ref, cand)
        rows = verdicts.collect()
        assert {r.check_id for r in rows} == set(checks)
        if "emb_drift" in checks:
            emb_rows.append(sorted(tuple(r) for r in rows if r.check_id == "emb_drift"))
    assert emb_rows[0] and emb_rows[0] == emb_rows[1]


def test_drifted_partitions_score_lower(spark, synth_tables):
    t = synth_tables
    want = oracle.drift_scores(t["res"].ref, t["res"].cand, t["cfg"], t["partition_of"])
    drift_pids = {t["partition_of"][c] for c in t["drift_convs"]}
    clean_pids = set(want) - drift_pids
    assert clean_pids and drift_pids
    mean_clean = sum(want[p] for p in clean_pids) / len(clean_pids)
    mean_drift = sum(want[p] for p in drift_pids) / len(drift_pids)
    assert mean_drift < mean_clean, (want, drift_pids)


def test_clean_pair_is_all_pass(spark, synth_tables):
    """The per-row invariant holds on the clean pair: ref vs ref has no
    violations anywhere and drift score is exactly 100."""
    t = synth_tables
    suite = ValidationSuite(t["cfg"])
    ref = t["ref"].drop("partition_id")
    verdicts, violations = suite.run(spark, ref, ref)
    assert violations.count() == 0
    # min_rows is a volume guard, not a pair invariant — a tiny partition
    # may legitimately trip it on clean data
    bad = verdicts.filter(~F.col("passed") & (F.col("check_id") != "min_rows")).collect()
    assert bad == []
    for r in verdicts.filter(F.col("check_id") == "drift_score").collect():
        assert r.score == 100.0
