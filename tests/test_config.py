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
    # `radius` is a removed field: an old config file carrying it must
    # fail rather than load with the key silently ignored
    d = json.loads(CheckSuiteConfig().to_json())
    d["radius"] = 5
    with pytest.raises(TypeError):
        CheckSuiteConfig.from_json(json.dumps(d))
