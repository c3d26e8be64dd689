"""Checkpoint/resume: a run commits once, after its filesets are written,
so a committed run_id is complete and a re-run returns it without reading
its inputs; a crash before the commit leaves nothing visible (SURVEY §5.2
item 5). The manifest is only a commit marker, one per suite run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ssimulacra2_spark.plans.suite import ValidationSuite
from ssimulacra2_spark.sources.tableio import ParquetTableIO


def test_committed_run_reads_no_input(spark, synth_tables, tmp_path):
    """Re-running a committed run_id returns its committed results, with
    the computed run's columns, and reads neither input: both input
    directories are deleted before the re-run, so any scan would fail."""
    import shutil

    from ssimulacra2_spark.operators.checks import VERDICT_SCHEMA, VIOLATION_SCHEMA

    t = synth_tables
    ref_p, cand_p = tmp_path / "ref", tmp_path / "cand"
    for d, pdf in ((ref_p, t["res"].ref), (cand_p, t["res"].cand)):
        d.mkdir()
        pdf.to_parquet(d / "part-0.parquet", index=False)
    ref, cand = spark.read.parquet(str(ref_p)), spark.read.parquet(str(cand_p))
    suite = ValidationSuite(t["cfg"])
    io = ParquetTableIO(str(tmp_path / "results"))
    suite.run(spark, ref, cand, io=io, run_id="r")
    committed = _committed(spark, io, "r")
    shutil.rmtree(ref_p)
    shutil.rmtree(cand_p)

    verdicts, violations = suite.run(spark, ref, cand, io=io, run_id="r")
    assert len(io.committed_batches("r")) == 1
    assert verdicts.columns == VERDICT_SCHEMA.fieldNames()
    assert violations.columns == VIOLATION_SCHEMA.fieldNames()
    got = (
        sorted(tuple(r) for r in verdicts.collect()),
        sorted(tuple(r) for r in violations.collect()),
    )
    assert got == committed == _committed(spark, io, "r")


def _committed(spark, io, run_id):
    """Committed verdict and violation rows of a run, sorted."""
    v = sorted(
        (r.partition_id, r.check_id, r.passed, r.n_violations, r.score)
        for r in io.read_verdicts(spark, run_id).collect()
    )
    cols = ["partition_id", "check_id", "conv_id", "turn_idx", "class", "observed", "expected"]
    x = sorted(
        tuple(r) for r in io.read_violations(spark, run_id).select(*cols).collect()
    )
    return v, x


def test_crash_before_commit_marker_is_invisible(spark, synth_tables, tmp_path, monkeypatch):
    """A run commits once, after its filesets are written: a crash before
    the commit marker leaves nothing visible, and the re-run commits the
    same rows as an uninterrupted run."""
    t = synth_tables
    ref = t["ref"].drop("partition_id")
    cand = t["cand"].drop("partition_id")
    suite = ValidationSuite(t["cfg"])

    io_full = ParquetTableIO(str(tmp_path / "full"))
    suite.run(spark, ref, cand, io=io_full, run_id="full")
    assert len(io_full.committed_batches("full")) == 1

    io = ParquetTableIO(str(tmp_path / "crashy"))

    def crash(self, m):
        raise RuntimeError("simulated crash before the commit marker")

    with monkeypatch.context() as mp:
        mp.setattr(ParquetTableIO, "_save_manifest", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            suite.run(spark, ref, cand, io=io, run_id="r")
    # the filesets were written, but without a marker no reader sees them
    assert (tmp_path / "crashy" / "verdicts" / "run=r").is_dir()
    assert io.committed_batches("r") == []
    assert io.read_verdicts(spark, "r").count() == 0

    suite.run(spark, ref, cand, io=io, run_id="r")
    assert len(io.committed_batches("r")) == 1
    assert _committed(spark, io, "r") == _committed(spark, io_full, "full")


def test_merge_on_read_newest_wins_and_as_of(spark, tmp_path):
    """MERGE-on-read over ten commits: newest-wins resolution is exact,
    as_of time travel sees exactly the commit-log prefix, and fresh run
    ids read as typed empty frames."""
    io = ParquetTableIO(str(tmp_path / "cmp"))
    from ssimulacra2_spark.operators.checks import VERDICT_SCHEMA

    for i in range(10):
        # partition i gets a fresh verdict each commit; partition 0 is
        # rewritten every time (newest-wins must keep only commit 9's row)
        rows = [(0, "chk", i % 2 == 0, i, None), (i + 1, "chk", True, 0, None)]
        io.write_results("r", spark.createDataFrame(rows, schema=VERDICT_SCHEMA), None)

    batches = io.committed_batches("r")
    assert len(batches) == 10

    got = {
        r.partition_id: (r.passed, r.n_violations)
        for r in io.read_verdicts(spark, "r").collect()
    }
    assert got[0] == (False, 9)  # newest write wins
    assert set(got) == set(range(12)) - {11}

    # time travel: the view as of commit 4 is exactly commits 0..4
    snap = {
        r.partition_id: r.n_violations
        for r in io.read_verdicts(spark, "r", as_of=batches[4]).collect()
    }
    assert snap[0] == 4 and set(snap) == {0, 1, 2, 3, 4, 5}

    # empty-path handling: fresh run ids give typed empty frames
    assert io.read_verdicts(spark, "nope").count() == 0
    assert io.read_violations(spark, "r").count() == 0


def test_snapshot_time_travel(spark, synth_tables, tmp_path):
    """as_of pins reads to a past commit: the snapshot view equals what a
    reader saw at that commit, regardless of later appends. The results of
    two runs over disjoint partition subsets are the two commits."""
    t = synth_tables
    ref, cand = t["ref"], t["cand"]  # partition ids already assigned
    pids = sorted(r.partition_id for r in ref.select("partition_id").distinct().collect())
    first = [int(p) for p in pids[: len(pids) // 2]]
    io = ParquetTableIO(str(tmp_path / "tt"))
    suite = ValidationSuite(t["cfg"])
    for keep in (F.col("partition_id").isin(first), ~F.col("partition_id").isin(first)):
        verdicts, violations = suite.run(
            spark, ref.filter(keep).drop("partition_id"), cand.filter(keep).drop("partition_id")
        )
        io.write_results("r", verdicts, violations)
    batches = io.committed_batches("r")
    assert len(batches) == 2
    snap0 = {
        (r.partition_id, r.check_id)
        for r in io.read_verdicts(spark, "r", as_of=batches[0]).collect()
    }
    full = {
        (r.partition_id, r.check_id)
        for r in io.read_verdicts(spark, "r").collect()
    }
    assert snap0 < full  # strictly fewer partitions visible at snapshot 0
    # pinned partitions are exactly the first subset, plus the schema row
    assert {p for p, _ in snap0 if p >= 0} == set(first)
    assert {c for p, c in snap0 if p < 0} == {"schema"}
    with pytest.raises(KeyError):
        io.committed_batches("r", as_of="nonexistent")


def test_resume_across_pre_commit_seq_filesets(spark, tmp_path):
    """Schema evolution on resume: a run can mix filesets written before
    the commit_seq column existed with new ones. Plain spark.read.parquet
    infers the schema from a single file, so whether that read crashed
    (UNRESOLVED_COLUMN) or silently nulled depended on path order;
    read_verdicts must instead merge schemas, backfill commit_seq for the
    old fileset, and resolve newest-wins with old rows losing to any
    sequenced commit (nulls_last). Manifest keys older engines wrote are
    read past."""
    import shutil

    from ssimulacra2_spark.operators.checks import VERDICT_SCHEMA

    io = ParquetTableIO(str(tmp_path / "mix"))
    io.write_results(
        "r",
        spark.createDataFrame(
            [(0, "chk", True, 0, None), (1, "chk", True, 0, None)],
            schema=VERDICT_SCHEMA,
        ),
        None,
    )
    # emulate a pre-upgrade fileset: rewrite batch 0 without commit_seq
    old_dir = io._batch_paths("verdicts", "r")[0]
    stripped = str(tmp_path / "stripped")
    spark.read.parquet(old_dir).drop("commit_seq").write.parquet(stripped)
    shutil.rmtree(old_dir)
    shutil.move(stripped, old_dir)
    assert "commit_seq" not in spark.read.parquet(old_dir).columns

    # and a pre-upgrade manifest: older engines recorded per-commit
    # partition_id/check_id min/max "stats" and a "snapshots" map of
    # bucketed input layouts; both are ignored now
    snap = str(tmp_path / "snap")
    spark.range(3).write.parquet(snap)
    m = io._load_manifest()
    m["commits"][0]["stats"] = {"partition_id": [0, 1], "check_id": ["chk", "chk"]}
    m["snapshots"] = {
        snap: {
            "table": "snap_0123456789ab",
            "bucket_by": ["conv_id"],
            "n_buckets": 4,
            "sort_by": ["conv_id", "turn_idx"],
        }
    }
    io._save_manifest(m)
    assert io.read_snapshot(spark, snap).count() == 3

    # new engine commits a batch rewriting partition 0
    io.write_results(
        "r",
        spark.createDataFrame([(0, "chk", False, 7, None)], schema=VERDICT_SCHEMA),
        None,
    )
    got = {
        r.partition_id: (r.passed, r.n_violations)
        for r in io.read_verdicts(spark, "r").collect()
    }
    assert got == {0: (False, 7), 1: (True, 0)}
    assert "stats" in io._load_manifest()["commits"][0]  # old keys survive a commit

    # the all-old-filesets path also reads cleanly (backfilled column)
    v0 = io.read_verdicts(spark, "r", as_of=io.committed_batches("r")[0])
    assert "commit_seq" in v0.columns
    assert {r.partition_id for r in v0.collect()} == {0, 1}
