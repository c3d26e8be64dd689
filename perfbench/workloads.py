"""What one benchmark pass does, and how its output is checked.

Both workloads validate seeded, staged transcript pairs with
`ValidationSuite` and no-op sinks. `suite_full` runs all 12 checks;
`integrity_gate` runs only the 8 constraint checks. The commit path
through `ParquetTableIO` the way `jobs/validate.py` takes it, its resume,
and the registry queries run only in integrity_gate's traced run. The
correctness oracle is DuckDB over the staged parquet, so it shares no
code with the engine.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssimulacra2_spark import benchgen
from ssimulacra2_spark.config import CheckSuiteConfig
from ssimulacra2_spark.operators import checks as C
from ssimulacra2_spark.operators.drift import psi_emb_fused_check
from ssimulacra2_spark.operators.drift_arrow import drift_score_check_arrow
from ssimulacra2_spark.operators.stats import column_stats
from ssimulacra2_spark.plans.suite import ValidationSuite, summarize
from ssimulacra2_spark.sources.tableio import ParquetTableIO

from .probes import Tracer

INTEGRITY_CHECKS = (
    "schema", "min_rows", "row_parity", "uniqueness", "monotone_ts",
    "vocab_role", "vocab_tool", "text_parity",
)
DRIFT_CHECKS = ("column_stats", "psi_ks", "emb_drift", "drift_score")
VIOLATION_CHECKS = ("uniqueness", "monotone_ts", "vocab_role", "vocab_tool", "text_parity")
N_BUCKETS = 32
VERDICT_FIELDS = ("partition_id", "check_id", "passed", "n_violations", "score")

# one headline query per registry module, each with a DuckDB oracle
REGISTRY_QUERIES = (
    "summary_stats", "dedup_exact", "stream_tumbling_counts", "asof_join_policy",
    "kmeans_refine", "multimodal_decode_stub", "text_normalize", "ann_pq_topk",
    "multimodal_jpeg_meta", "ann_bruteforce_topk", "token_count", "corpus_rollup",
    "win_horizontal_scan",
)


def suite_config(checks: tuple[str, ...]) -> CheckSuiteConfig:
    # bench.py's suite shape: 32 verdict buckets, 4 drift scales
    return CheckSuiteConfig(n_buckets=N_BUCKETS, num_scales=4, checks=checks)


@dataclass
class Pair:
    ref: str
    cand: str
    oracle: dict[str, int]


@contextmanager
def layer(spark: SparkSession, tracer: Tracer, name: str, **attrs):
    """A span around one call into the engine; in traced runs the Spark
    jobs it launches carry the description `bench:<name>`."""
    if tracer.enabled:
        spark.sparkContext.setJobDescription(f"bench:{name}")
    try:
        with tracer.span(name, **attrs):
            yield
    finally:
        if tracer.enabled:
            spark.sparkContext.setJobDescription(None)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


def stage_seeded(spark: SparkSession, n_turns: int, base_dir: str, salt: str) -> tuple[str, str]:
    """`benchgen.stage_pair` with every conversation id suffixed by `salt`.

    `make_transcripts` is a pure function of the row id, so the salt is
    what a seed changes: it moves conversations between verdict buckets
    and drift sub-buckets and picks which turns `distort` drops, mutates
    or reorders, while sizes and the hot-conversation skew stay fixed."""
    original = benchgen.make_transcripts

    def salted(*args, **kwargs):
        df = original(*args, **kwargs)
        return df.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit(f"-{salt}")))

    benchgen.make_transcripts = salted
    try:
        benchgen.stage_pair(spark, n_turns, max(1000, n_turns // 100), base_dir)
    finally:
        benchgen.make_transcripts = original
    return f"{base_dir}/ref", f"{base_dir}/cand"


def oracle_counts(ref: str, cand: str, cfg: CheckSuiteConfig) -> dict[str, int]:
    """Row counts and per-check violation totals, computed by DuckDB."""
    import duckdb

    con = duckdb.connect(config={"threads": "2"})
    try:
        con.execute(f"CREATE VIEW ref AS SELECT * FROM read_parquet('{ref}/*.parquet')")
        con.execute(f"CREATE VIEW cand AS SELECT * FROM read_parquet('{cand}/*.parquet')")

        def one(sql: str) -> int:
            return int(con.execute(sql).fetchone()[0])

        def in_list(vals) -> str:
            return ", ".join("'" + v.replace("'", "''") + "'" for v in vals)

        return {
            "n_ref": one("SELECT count(*) FROM ref"),
            "n_cand": one("SELECT count(*) FROM cand"),
            "uniqueness": one(
                "SELECT count(*) FROM (SELECT 1 FROM cand GROUP BY conv_id, turn_idx"
                " HAVING count(*) > 1)"
            ),
            "monotone_ts": one(
                "SELECT count(*) FROM (SELECT ts < lag(ts) OVER (PARTITION BY conv_id"
                " ORDER BY turn_idx) AS bad FROM cand) WHERE bad"
            ),
            "vocab_role": one(
                f"SELECT count(*) FROM cand WHERE role IS NULL OR role NOT IN ({in_list(cfg.roles)})"
            ),
            "vocab_tool": one(
                "SELECT count(*) FROM cand WHERE tool IS NOT NULL AND tool NOT IN"
                f" ({in_list(cfg.tools)})"
            ),
            "text_parity": one(
                "SELECT count(*) FROM ref r FULL OUTER JOIN cand c"
                " ON r.conv_id = c.conv_id AND r.turn_idx = c.turn_idx"
                " WHERE r.conv_id IS NULL OR c.conv_id IS NULL OR r.text IS DISTINCT FROM c.text"
            ),
        }
    finally:
        con.close()


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------


def verdict_key(rows) -> dict[tuple[int, str], tuple]:
    return {
        (r["partition_id"], r["check_id"]): (r["passed"], r["n_violations"], r["score"])
        for r in rows
    }


def verdict_problems(rows, cfg: CheckSuiteConfig, oracle: dict[str, int]) -> list[str]:
    """Structural and oracle checks of one pass's verdict rows."""
    problems = []
    keys = [(r["partition_id"], r["check_id"]) for r in rows]
    want = {(p, c) for p in range(N_BUCKETS) for c in cfg.checks if c != "schema"}
    if "schema" in cfg.checks:
        want.add((-1, "schema"))
    if len(keys) != len(set(keys)) or set(keys) != want:
        problems.append(f"verdict keys: {len(keys)} rows, {len(want)} expected")
        return problems
    by: dict[str, list] = {}
    for r in rows:
        by.setdefault(r["check_id"], []).append(r)
    for c in VIOLATION_CHECKS:
        if c not in by:
            continue
        got = sum(r["n_violations"] for r in by[c])
        if got != oracle[c]:
            problems.append(f"{c}: {got} violations, oracle {oracle[c]}")
        if any(r["passed"] != (r["n_violations"] == 0) for r in by[c]):
            problems.append(f"{c}: passed disagrees with n_violations")
    dropped = oracle["n_ref"] - oracle["n_cand"]
    if "row_parity" in by and sum(r["n_violations"] for r in by["row_parity"]) != dropped:
        problems.append(f"row_parity: totals differ from {dropped} dropped turns")
    if "min_rows" in by and sum(r["score"] for r in by["min_rows"]) != oracle["n_ref"]:
        problems.append("min_rows: partition volumes do not sum to the ref row count")
    if "schema" in by and not by["schema"][0]["passed"]:
        problems.append("schema: failed on a well-formed pair")
    return problems


def same_verdicts(a: dict, b: dict) -> bool:
    """Equal keys, flags and counts; scores equal to 1e-9 relative (float
    sums may reassociate between runs of the same plan)."""
    if a.keys() != b.keys():
        return False
    for k, (pa, na, sa) in a.items():
        pb, nb, sb = b[k]
        if pa != pb or na != nb:
            return False
        if sa is None or sb is None:
            if sa is not sb:
                return False
        elif not (math.isclose(sa, sb, rel_tol=1e-9, abs_tol=1e-12) or (math.isnan(sa) and math.isnan(sb))):
            return False
    return True


# --------------------------------------------------------------------------
# passes
# --------------------------------------------------------------------------


def noop_pass(spark: SparkSession, cfg: CheckSuiteConfig, pair: Pair, tracer: Tracer):
    """One suite run with io=None: violations to a no-op sink first, then
    the verdicts collected. Fresh reads every pass, as a production job
    pays for them. Returns (timed wall, verdict rows)."""
    ref, cand = spark.read.parquet(pair.ref), spark.read.parquet(pair.cand)
    t0 = time.perf_counter()
    with layer(spark, tracer, "suite.build"):
        verdicts, violations = ValidationSuite(cfg).run(spark, ref, cand)
    with layer(spark, tracer, "suite.violations_sink"):
        noop(violations)
    with layer(spark, tracer, "suite.verdicts_sink"):
        rows = [r.asDict() for r in verdicts.collect()]
    wall = time.perf_counter() - t0
    spark.catalog.clearCache()
    return wall, rows


class TimedTableIO(ParquetTableIO):
    """ParquetTableIO whose commit-path methods are timed as spans."""

    def __init__(self, base_dir: str, tracer: Tracer):
        super().__init__(base_dir)
        self.tracer = tracer

    def write_results(self, run_id, verdicts, violations):
        with self.tracer.span("tableio.write_results"):
            return super().write_results(run_id, verdicts, violations)

    def compact(self, spark, run_id):
        with self.tracer.span("tableio.compact"):
            return super().compact(spark, run_id)

    def completed_partitions(self, spark, run_id):
        with self.tracer.span("tableio.completed_partitions"):
            return super().completed_partitions(spark, run_id)


def tree_size(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def commit_pass(
    spark: SparkSession, cfg: CheckSuiteConfig, pair: Pair, tracer: Tracer, results: str, run_id: str
):
    """`jobs/validate.py` without --config file: snapshots read through
    TableIO, the suite committed in cfg.commit_batches slices, then the
    committed verdicts, violations and summary read back. Returns
    (committed verdict rows, io, problems)."""
    io = TimedTableIO(results, tracer)
    ref, cand = io.read_snapshot(spark, pair.ref), io.read_snapshot(spark, pair.cand)
    with layer(spark, tracer, "suite.commit"):
        ValidationSuite(cfg).run(spark, ref, cand, io=io, run_id=run_id)
    with layer(spark, tracer, "tableio.read_verdicts"):
        rows = [r.asDict() for r in io.read_verdicts(spark, run_id).collect()]
    with layer(spark, tracer, "tableio.read_violations"):
        n_viol = io.read_violations(spark, run_id).count()
    with layer(spark, tracer, "suite.summarize"):
        summary = summarize(io.read_verdicts(spark, run_id)).collect()
    spark.catalog.clearCache()
    problems = []
    want_viol = sum(pair.oracle[c] for c in VIOLATION_CHECKS if c in cfg.checks)
    if n_viol != want_viol:
        problems.append(f"committed violations: {n_viol} rows, oracle {want_viol}")
    if sorted(r["check_id"] for r in summary) != sorted(cfg.checks):
        problems.append("summary: one row per check expected")
    return rows, io, problems


def resume_pass(
    spark: SparkSession, cfg: CheckSuiteConfig, pair: Pair, io: TimedTableIO, run_id: str, tracer: Tracer
):
    """Re-runs a fully committed run_id, so every partition is skipped.
    Returns the committed verdict rows afterwards."""
    ref, cand = io.read_snapshot(spark, pair.ref), io.read_snapshot(spark, pair.cand)
    with layer(spark, tracer, "suite.resume"):
        ValidationSuite(cfg).run(spark, ref, cand, io=io, run_id=run_id)
    rows = [r.asDict() for r in io.read_verdicts(spark, run_id).collect()]
    spark.catalog.clearCache()
    return rows


# --------------------------------------------------------------------------
# traced-only layer probes
# --------------------------------------------------------------------------


def operator_probes(spark: SparkSession, cfg: CheckSuiteConfig, pair: Pair, tracer: Tracer) -> None:
    """Each check operator's output materialized alone on one staged pair
    (scan and featurization included). Operators the workload's config
    does not enable are not run."""
    ref = C.prepare(spark.read.parquet(pair.ref), cfg)
    cand = C.prepare(spark.read.parquet(pair.cand), cfg)
    enabled = set(cfg.checks)
    with layer(spark, tracer, "checks.prepare"):
        noop(ref)
        noop(cand)
    with layer(spark, tracer, "checks.partition_counts"):
        noop(C.partition_counts(cand))
    with layer(spark, tracer, "checks.order_unique"):
        noop(C.order_unique_violations(cand, cfg))
    with layer(spark, tracer, "checks.vocab"):
        noop(C.vocab_violations_fused(
            cand, cfg, [("role", cfg.roles, False), ("tool", cfg.tools, True)]
        ))
    with layer(spark, tracer, "checks.text_parity"):
        noop(C.text_parity_violations(ref, cand, cfg))
    parts = (
        C.partition_counts(ref).select("partition_id")
        .unionByName(C.partition_counts(cand).select("partition_id"))
        .distinct()
    )
    if "column_stats" in enabled:
        with layer(spark, tracer, "stats.column_stats"):
            noop(column_stats(cand, parts, cfg).verdicts)
    if {"psi_ks", "emb_drift"} <= enabled:
        with layer(spark, tracer, "drift.psi_emb"):
            noop(psi_emb_fused_check(ref, cand, parts, cfg).verdicts)
    if "drift_score" in enabled:
        with layer(spark, tracer, "drift_arrow.drift_score"):
            noop(drift_score_check_arrow(ref, cand, parts, cfg).verdicts)


def registry_modules() -> dict[str, str]:
    """REGISTRY_QUERIES id -> registry module name."""
    from ssimulacra2_spark.registry import QUERIES

    return {q: QUERIES[q].__module__.rsplit(".", 1)[-1] for q in REGISTRY_QUERIES}


def make_star_data(root: str, out_base: str) -> str:
    """The repo's star-schema generator at sf0.001 (fixed generator seed)."""
    subprocess.run(
        [sys.executable, os.path.join(root, "tools", "gen_scale_testdata.py"), "0.001", out_base],
        check=True,
        stdout=subprocess.DEVNULL,
        timeout=120,
    )
    return os.path.join(out_base, "sf0.001")


def registry_probe(spark: SparkSession, sf_dir: str, tracer: Tracer) -> list[str]:
    """Runs each of REGISTRY_QUERIES once, timed up to its collected
    result, and compares the result with the query's DuckDB oracle as
    tools/check_contract.py does. Returns the ids that failed."""
    import duckdb

    from ssimulacra2_spark.registry import ORACLES, QUERIES
    from ssimulacra2_spark.tables import STAR_TABLES
    from tools.check_contract import normalize

    con = duckdb.connect(config={"threads": "2"})
    failed = []
    try:
        for t in STAR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for q, module in registry_modules().items():
            try:
                with layer(spark, tracer, "registry.query", query=q, module=module):
                    got = QUERIES[q](spark, sf_dir).toPandas()
                if normalize(got) != normalize(con.execute(ORACLES[q]).df()):
                    failed.append(q)
            except Exception:  # one broken query must not hide the others
                traceback.print_exc()
                failed.append(q)
    finally:
        con.close()
    return failed
