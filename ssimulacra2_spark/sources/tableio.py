"""TableIO — snapshot reads + checkpointed results writes.

Plain Parquet plus a tiny JSON manifest, providing the two table
behaviors the engine relies on (SURVEY §7.0; this sandbox has no Iceberg
runtime, and the reference reads its two inputs as given, lib.rs:41-47):

  * snapshot read        -> read a parquet dir as it is given (immutable
                            by convention; no layout or catalog step)
  * MERGE results        -> append one parquet fileset per commit (one
                            per suite run); the manifest entry is ONLY a
                            commit marker (an append without a marker is
                            invisible to readers — write-then-commit
                            crash atomicity, like an Iceberg snapshot
                            commit). One entry per commit, never per
                            partition, so the manifest stays ~KB.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ParquetTableIO:
    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.manifest_path = os.path.join(base_dir, "manifest.json")

    # -- snapshots ----------------------------------------------------------
    def read_snapshot(self, spark: SparkSession, path: str) -> DataFrame:
        """Read an input snapshot: a plain parquet directory, read as it is
        given (immutable by convention)."""
        return spark.read.parquet(path)

    # -- manifest (batch-level commit markers only) --------------------------
    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"commits": []}

    def _save_manifest(self, m: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self.manifest_path)

    def committed_batches(self, run_id: str, as_of: str | None = None) -> list[str]:
        """Commit markers for a run, in commit order. `as_of` pins the view
        to the table state as of that batch id (Iceberg snapshot-id/time
        travel: a snapshot = the prefix of the commit log up to a marker)."""
        m = self._load_manifest()
        batches = [c["batch"] for c in m.get("commits", []) if c["run_id"] == run_id]
        if as_of is not None:
            if as_of not in batches:
                raise KeyError(f"unknown snapshot {as_of!r} for run {run_id!r}")
            batches = batches[: batches.index(as_of) + 1]
        return batches

    # -- results ------------------------------------------------------------
    def write_results(
        self,
        run_id: str,
        verdicts: DataFrame,
        violations: DataFrame | None,
    ) -> str:
        """MERGE-equivalent: append a new parquet fileset, then commit ONE
        manifest marker for the batch (write-then-commit gives crash
        atomicity: an append without a marker is invisible to readers).
        Each batch is stamped with a monotonic commit_seq (its index in the
        run's commit log) so newest-wins resolution is DETERMINISTIC even
        when two commits land in the same current_timestamp tick — the
        Iceberg sequence-number analog."""
        batch = uuid.uuid4().hex[:12]
        commit_seq = len(self.committed_batches(run_id))
        vdir = os.path.join(self.base_dir, "verdicts", f"run={run_id}", f"batch={batch}")
        # verdict tables are KB-scale but inherit ~350 branch partitions:
        # repartition (an exchange of tiny data) before the write so a
        # commit batch is 8 files, not ~350 10-row files — Iceberg
        # write.target-file-size behavior, confined to the sink
        verdicts.repartition(8).withColumn("run_id", F.lit(run_id)).withColumn(
            "written_at", F.current_timestamp()
        ).withColumn("commit_seq", F.lit(commit_seq)).write.mode("overwrite").parquet(vdir)
        if violations is not None:
            xdir = os.path.join(self.base_dir, "violations", f"run={run_id}", f"batch={batch}")
            violations.withColumn("run_id", F.lit(run_id)).withColumn(
                "written_at", F.current_timestamp()
            ).write.mode("overwrite").parquet(xdir)
        m = self._load_manifest()
        m.setdefault("commits", []).append(
            {"run_id": run_id, "batch": batch, "ts": time.time()}
        )
        self._save_manifest(m)
        return batch

    def _empty_results(self, spark: SparkSession, kind: str) -> DataFrame:
        from pyspark.sql.types import LongType, StringType, StructField, TimestampType

        from ..operators.checks import VERDICT_SCHEMA, VIOLATION_SCHEMA

        base = VERDICT_SCHEMA if kind == "verdicts" else VIOLATION_SCHEMA
        fields = list(base.fields) + [
            StructField("run_id", StringType()),
            StructField("written_at", TimestampType()),
        ]
        if kind == "verdicts":
            fields.append(StructField("commit_seq", LongType()))
        return spark.createDataFrame([], schema=type(base)(fields))

    def _batch_paths(self, kind: str, run_id: str, as_of: str | None = None) -> list[str]:
        """The `kind` ("verdicts" or "violations") filesets a read touches:
        one per committed batch in the commit-log prefix up to `as_of` (all
        of them when None) that wrote any (a batch may write no
        violations)."""
        paths = [
            os.path.join(self.base_dir, kind, f"run={run_id}", f"batch={b}")
            for b in self.committed_batches(run_id, as_of)
        ]
        return [p for p in paths if os.path.exists(p)]

    def read_verdicts(
        self, spark: SparkSession, run_id: str, as_of: str | None = None
    ) -> DataFrame:
        """Committed batches only (uncommitted appends are invisible);
        MERGE semantics on read: newest write per (partition_id, check_id).
        `as_of` pins to a past snapshot (batch id) — time travel."""
        paths = self._batch_paths("verdicts", run_id, as_of)
        if not paths:
            return self._empty_results(spark, "verdicts")
        # mergeSchema: a run resumed across engine versions can mix filesets
        # written before/after the commit_seq column existed; plain
        # spark.read.parquet infers the schema from ONE file, so whether the
        # read crashes (UNRESOLVED_COLUMN) or silently nulls depends on path
        # order. Merge, then backfill the column for all-old filesets.
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        if "commit_seq" not in df.columns:
            df = df.withColumn("commit_seq", F.lit(None).cast("long"))
        from pyspark.sql.window import Window

        # commit_seq (monotonic commit-log index) is the primary order:
        # written_at alone is a timestamp that two commits can share, which
        # would make resolution nondeterministic. written_at stays as a
        # secondary key for any pre-commit_seq fileset.
        w = Window.partitionBy("partition_id", "check_id").orderBy(
            F.col("commit_seq").desc_nulls_last(), F.col("written_at").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        )

    def read_violations(
        self, spark: SparkSession, run_id: str, as_of: str | None = None
    ) -> DataFrame:
        paths = self._batch_paths("violations", run_id, as_of)
        if not paths:
            # no committed filesets (fresh run, or a run whose batches
            # wrote no violations): an empty typed frame, not a confusing
            # zero-path analysis error
            return self._empty_results(spark, "violations")
        return spark.read.parquet(*paths)
