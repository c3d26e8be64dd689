"""TableIO — snapshot reads + checkpointed results writes.

Iceberg semantics behind a thin seam (SURVEY §7.0): this sandbox has no
Iceberg runtime jar, so the default backend is partitioned Parquet plus a
tiny JSON manifest providing the three Iceberg behaviors the engine
relies on:

  * snapshot read        -> read a parquet dir (immutable by convention)
  * MERGE results        -> append one parquet fileset per commit (one
                            per suite run); the manifest entry is ONLY a
                            commit marker (an append without a marker is
                            invisible to readers — write-then-commit
                            crash atomicity, like an Iceberg snapshot
                            commit)
  * resume from checkpoint -> completed partitions are derived from the
                            COMMITTED VERDICTS TABLE ITSELF (distinct
                            partition_id scan + anti-join in the suite).
                            Nothing driver-side is O(partitions): the
                            manifest holds one entry per commit, not per
                            partition, so a 10^6-partition run still
                            carries a ~KB manifest.

Swap `IcebergTableIO` in (same API) when a catalog is available; the plan
shape does not change.
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
        """Read a snapshot; if the manifest records a bucket spec for this
        path (write_snapshot with bucket_by), the scan is exposed to
        Catalyst AS bucketed — downstream (conv, ...) windows and
        (conv, turn) joins then need no exchange (the Iceberg
        write.distribution-mode=hash + bucket-transform analog)."""
        spec = self._load_manifest().get("snapshots", {}).get(os.path.abspath(path))
        if not spec:
            return spark.read.parquet(path)
        table = spec["table"]
        if not spark.catalog.tableExists(table):
            # session catalogs are in-memory: re-register the external
            # bucketed table from the manifest spec (the files ARE
            # bucketed — our own writer produced them)
            schema = spark.read.parquet(path).schema
            cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
            bcols = ", ".join(f"`{c}`" for c in spec["bucket_by"])
            scols = ", ".join(f"`{c}`" for c in spec["sort_by"])
            spark.sql(
                f"CREATE TABLE `{table}` ({cols}) USING parquet "
                f"CLUSTERED BY ({bcols}) "
                + (f"SORTED BY ({scols}) " if scols else "")
                + f"INTO {spec['n_buckets']} BUCKETS LOCATION '{path}'"
            )
        return spark.table(table)

    def write_snapshot(
        self,
        df: DataFrame,
        path: str,
        bucket_by: tuple[str, ...] = (),
        n_buckets: int = 0,
        sort_by: tuple[str, ...] = (),
    ) -> None:
        """Write an input snapshot; with bucket_by, the files are written
        hash-bucketed (one file per bucket: a pre-repartition on the
        bucket key means each write task owns exactly one bucket) and the
        spec is recorded in the manifest so read_snapshot re-exposes the
        layout in any later session. Bucket both sides of a pair by
        conv_id and the suite's fact shuffles (text-parity join,
        order+unique window) disappear — plan-guarded in
        tests/test_plan_shapes.py."""
        if not bucket_by:
            df.write.mode("overwrite").parquet(path)
            return
        if n_buckets <= 0:
            raise ValueError("bucketed snapshot needs n_buckets > 0")
        table = "snap_" + uuid.uuid4().hex[:12]
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        (
            df.repartition(n_buckets, *[F.col(c) for c in bucket_by])
            .write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_by)
            .sortBy(*(sort_by or bucket_by))
            .option("path", path)
            .saveAsTable(table)
        )
        m = self._load_manifest()
        m.setdefault("snapshots", {})[os.path.abspath(path)] = {
            "table": table,
            "bucket_by": list(bucket_by),
            "n_buckets": n_buckets,
            "sort_by": list(sort_by or bucket_by),
        }
        self._save_manifest(m)

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

    # -- manifest column stats (Iceberg manifest file-skipping analog) -------
    @staticmethod
    def _fileset_stats(path: str) -> dict | None:
        """Per-fileset min/max of (partition_id, check_id), read from the
        parquet FOOTERS of the files just written (no data scan) — the
        Iceberg manifest-entry column-stats analog. Recorded at commit time
        so selective reads can skip whole filesets without opening them."""
        try:
            import pyarrow.parquet as pq

            stats: dict[str, list] = {}
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    md = pq.ParquetFile(os.path.join(root, fn)).metadata
                    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
                    for col in ("partition_id", "check_id"):
                        if col not in names:
                            continue
                        for rg in range(md.num_row_groups):
                            st = md.row_group(rg).column(names[col]).statistics
                            if st is None or not st.has_min_max:
                                return None  # incomplete stats -> never prune
                            lo, hi = st.min, st.max
                            cur = stats.get(col)
                            stats[col] = (
                                [lo, hi]
                                if cur is None
                                else [min(cur[0], lo), max(cur[1], hi)]
                            )
            return stats or None
        except Exception:
            return None  # stats are an optimization; absence just disables skipping

    @staticmethod
    def _stats_admit(entry_stats: dict | None, want: dict | None) -> bool:
        """True if a fileset with `entry_stats` may contain rows matching
        `want` ({col: (lo, hi)} closed ranges). Missing stats admit."""
        if not want or not entry_stats:
            return True
        for col, (lo, hi) in want.items():
            rng = entry_stats.get(col)
            if rng is not None and (rng[1] < lo or rng[0] > hi):
                return False
        return True

    # -- results ------------------------------------------------------------
    def completed_partitions(self, spark: SparkSession, run_id: str) -> DataFrame | None:
        """Distinct partition ids already verdicted for this run, as a
        DataFrame (the suite anti-joins it against the inputs — no
        driver-side partition list, per the 10^12-row design point).
        Derived from the committed verdicts table, not from any manifest
        bookkeeping. None if nothing is committed yet."""
        if not self.committed_batches(run_id):
            return None
        paths = self._verdict_paths(run_id, as_of=None)
        if not paths:
            return None
        v = spark.read.parquet(*paths)
        return v.filter(F.col("partition_id") >= 0).select("partition_id").distinct()

    def completed_partition_set(self, spark: SparkSession, run_id: str) -> set[int]:
        """Test/driver convenience (collects — never call in an engine path)."""
        df = self.completed_partitions(spark, run_id)
        if df is None:
            return set()
        return {r.partition_id for r in df.collect()}

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
            {
                "run_id": run_id,
                "batch": batch,
                "ts": time.time(),
                "stats": self._fileset_stats(vdir),
            }
        )
        self._save_manifest(m)
        return batch

    def _empty_results(self, spark: SparkSession, kind: str) -> DataFrame:
        from pyspark.sql.types import StringType, StructField, TimestampType

        from ..operators.checks import VERDICT_SCHEMA, VIOLATION_SCHEMA

        from pyspark.sql.types import LongType

        base = VERDICT_SCHEMA if kind == "verdicts" else VIOLATION_SCHEMA
        fields = list(base.fields) + [
            StructField("run_id", StringType()),
            StructField("written_at", TimestampType()),
        ]
        if kind == "verdicts":
            fields.append(StructField("commit_seq", LongType()))
        return spark.createDataFrame([], schema=type(base)(fields))

    def _verdict_paths(
        self, run_id: str, as_of: str | None, want: dict | None = None
    ) -> list[str]:
        """Filesets a verdict read touches: one per committed batch in
        the commit-log prefix up to `as_of` (all of them when None).

        `want` ({col: (lo, hi)}) prunes filesets whose committed manifest
        min/max stats cannot intersect the predicate — Iceberg manifest
        file skipping. Pruning is SAFE for newest-wins resolution: every
        fileset that may contain a wanted (partition_id, check_id) row is
        retained, so resolution over the wanted keys is unchanged."""
        m = self._load_manifest()
        batch_stats = {
            c["batch"]: c.get("stats")
            for c in m.get("commits", [])
            if c["run_id"] == run_id
        }
        paths = [
            os.path.join(self.base_dir, "verdicts", f"run={run_id}", f"batch={b}")
            for b in self.committed_batches(run_id, as_of)
            if self._stats_admit(batch_stats.get(b), want)
        ]
        return [p for p in paths if os.path.exists(p)]

    def _read_batches(
        self, spark: SparkSession, kind: str, run_id: str, batches: list[str]
    ) -> DataFrame:
        paths = [
            os.path.join(self.base_dir, kind, f"run={run_id}", f"batch={b}")
            for b in batches
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            # no committed filesets (fresh run, or a run whose batches
            # wrote no violations): an empty typed frame, not a confusing
            # zero-path analysis error
            return self._empty_results(spark, kind)
        return spark.read.parquet(*paths)

    def read_verdicts(
        self,
        spark: SparkSession,
        run_id: str,
        as_of: str | None = None,
        partition_range: tuple[int, int] | None = None,
    ) -> DataFrame:
        """Committed batches only (uncommitted appends are invisible);
        MERGE semantics on read: newest write per (partition_id, check_id).
        `as_of` pins to a past snapshot (batch id) — time travel.
        `partition_range=(lo, hi)`
        makes the read selective: manifest stats skip non-intersecting
        filesets entirely (their footers are never opened) and the
        residual row filter is pushed to the parquet scan."""
        want = {"partition_id": partition_range} if partition_range else None
        paths = self._verdict_paths(run_id, as_of, want)
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
        if partition_range is not None:
            lo, hi = partition_range
            df = df.filter((F.col("partition_id") >= lo) & (F.col("partition_id") <= hi))
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
        return self._read_batches(
            spark, "violations", run_id, self.committed_batches(run_id, as_of)
        )
