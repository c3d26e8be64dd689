"""Golden fixture (≙ the reference's one blessed end-to-end fixture,
expected = 17.398505, lib.rs:490-552 — ours is exact because we control
both sides): the seed-42 synthetic pair's violations and drift scores are
frozen in tests/golden/golden_seed42.json. Any semantic drift in the
engine, the synthesizer, or the oracle across refactors trips this test.
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "golden_seed42.json")


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def engine_out(spark, synth_tables):
    from ssimulacra2_spark.plans.suite import ValidationSuite

    t = synth_tables
    suite = ValidationSuite(t["cfg"])
    verdicts, violations = suite.run(
        spark, t["ref"].drop("partition_id"), t["cand"].drop("partition_id")
    )
    return verdicts.cache(), violations.cache()


def test_partition_map_frozen(golden, synth_tables):
    assert {k: int(v) for k, v in golden["partition_of"].items()} == {
        k: int(v) for k, v in synth_tables["partition_of"].items()
    }


@pytest.mark.parametrize("check", ["uniqueness", "monotone_ts", "vocab_role", "vocab_tool"])
def test_violation_sets_frozen(golden, engine_out, check):
    _, violations = engine_out
    got = {
        (r.conv_id, r.turn_idx)
        for r in violations.filter(F.col("check_id") == check).collect()
    }
    want = {(c, int(t)) for c, t in golden[check]}
    assert got == want


def test_text_parity_frozen(golden, engine_out):
    _, violations = engine_out
    got = {
        f"{r.conv_id}|{r.turn_idx}": r["class"]
        for r in violations.filter(F.col("check_id") == "text_parity").collect()
    }
    assert got == golden["text_parity"]


def test_drift_scores_frozen(golden, engine_out):
    verdicts, _ = engine_out
    got = {
        str(r.partition_id): r.score
        for r in verdicts.filter(F.col("check_id") == "drift_score").collect()
    }
    assert set(got) == set(golden["drift_scores"])
    for pid, want in golden["drift_scores"].items():
        assert math.isclose(got[pid], want, rel_tol=1e-9), (pid, got[pid], want)
