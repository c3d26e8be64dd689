"""jobs/validate.py end to end: snapshots read through TableIO, the suite
committed once, a re-run with the same run id returning the committed run
without a second commit, and the per-check summary printed."""

from __future__ import annotations

import json

from jobs.validate import run
from ssimulacra2_spark.sources.tableio import ParquetTableIO


def test_validate_job_commits_once_and_resumes(spark, synth_tables, tmp_path):
    t = synth_tables
    cfg = t["cfg"]
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(cfg.to_json())
    results = str(tmp_path / "results")
    argv = [
        "--ref", t["ref_path"],
        "--cand", t["cand_path"],
        "--results", results,
        "--run-id", "nightly",
        "--config", str(cfg_path),
    ]
    io = ParquetTableIO(results)

    def committed():
        return sorted(
            (r.partition_id, r.check_id, r.passed, r.n_violations, r.score)
            for r in io.read_verdicts(spark, "nightly").collect()
        )

    first_lines = run(spark, argv)
    assert len(io.committed_batches("nightly")) == 1
    assert all(line.startswith("CHECK_SUMMARY ") for line in first_lines)
    summary = [json.loads(line.removeprefix("CHECK_SUMMARY ")) for line in first_lines]
    assert sorted(s["check_id"] for s in summary) == sorted(cfg.checks)
    first = committed()
    assert {c for _, c, *_ in first} == set(cfg.checks)

    # the second call is a resume: the run is already committed
    assert sorted(run(spark, argv)) == sorted(first_lines)
    assert len(io.committed_batches("nightly")) == 1
    assert committed() == first
