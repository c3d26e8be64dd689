"""CheckSuiteConfig serialization: configs round-trip through JSON."""

from __future__ import annotations

import json

import pytest

from ssimulacra2_spark.config import CheckSuiteConfig


def test_default_config_round_trips():
    c = CheckSuiteConfig()
    assert CheckSuiteConfig.from_json(c.to_json()) == c


def test_synth_config_round_trips(synth_cfg):
    back = CheckSuiteConfig.from_json(synth_cfg.to_json())
    assert back == synth_cfg
    assert isinstance(back.emb_channels, tuple)


def test_removed_key_fails_loudly():
    # removed fields: an old config file carrying one must fail rather
    # than load with the key silently ignored
    for key, value in (
        ("radius", 5),
        ("order_col", "ts"),
        ("salt_buckets", 8),
        ("hll_rsd", 0.02),
        ("percentile_accuracy", 10_000),
        ("commit_batches", 4),
        ("drift_subbuckets", 16),
        ("drift_chunk_turns", 0),
    ):
        d = json.loads(CheckSuiteConfig().to_json())
        d[key] = value
        with pytest.raises(TypeError):
            CheckSuiteConfig.from_json(json.dumps(d))
