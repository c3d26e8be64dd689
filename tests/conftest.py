from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssimulacra2_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synth_cfg():
    """The suite config every synth-pair test runs with."""
    from ssimulacra2_spark.config import CheckSuiteConfig

    return CheckSuiteConfig(
        n_buckets=8,
        min_rows_per_partition=8,
        num_scales=4,
        channels=("len", "tok"),
        # the pandas oracle cannot reproduce xxhash64, so the emb-drift
        # vector uses the pandas-computable channels in tests (prod
        # default is the cheap ('len', 'hash') pair)
        emb_channels=("len", "tok"),
    )


@pytest.fixture(scope="session")
def synth_tables(spark, synth_cfg, tmp_path_factory):
    """Seeded transcript pair written to parquet + Spark DataFrames +
    the conv -> partition mapping the pandas oracle needs."""
    from ssimulacra2_spark.operators.checks import with_partition_id
    from ssimulacra2_spark.synth import synth_pair

    cfg = synth_cfg
    drift_convs = {f"c{i:06d}" for i in range(5, 9)}
    res = synth_pair(n_convs=60, seed=42, hot_convs=1, hot_turns=400, drift_convs=drift_convs)
    d = tmp_path_factory.mktemp("synth")
    ref_p, cand_p = str(d / "ref.parquet"), str(d / "cand.parquet")
    res.ref.to_parquet(ref_p, index=False)
    res.cand.to_parquet(cand_p, index=False)
    ref = with_partition_id(spark.read.parquet(ref_p), cfg)
    cand = with_partition_id(spark.read.parquet(cand_p), cfg)
    partition_of = {
        r.conv_id: r.partition_id
        for r in ref.select("conv_id", "partition_id").distinct().collect()
    }
    return {
        "cfg": cfg,
        "res": res,
        "ref_path": ref_p,
        "cand_path": cand_p,
        "ref": ref,
        "cand": cand,
        "partition_of": partition_of,
        "drift_convs": drift_convs,
    }
