"""Structural / integrity / parity checks over transcript snapshot pairs.

Every check consumes (ref, cand) transcript DataFrames (schema
config.TRANSCRIPT_COLUMNS) and produces violation rows in ONE canonical
schema plus per-partition verdict rows. The reference analog of each check
is cited inline; the reference *raises* typed errors
(/root/reference/ssimulacra2/src/lib.rs:13-28) — this engine materializes
verdict/violation rows instead, with full lineage (partition id, check id,
offending keys).

Scale notes (100 TB):
- partition_id is pmod(xxhash64(conv_id), n_buckets): conversations never
  straddle partitions; every check aggregates within the same bucketing,
  so one repartition(partition_id) feeds all per-partition aggs.
- all counts are map-side-combinable; the paired join is an equi-join on
  (conv_id, turn_idx) which AQE plans as sort-merge with skew splitting.
- the ordering check lags within (conv_id, turn_idx div chunk) plus a
  per-chunk boundary summary, so a single 10^8-turn conversation cannot
  stall one reducer (order_unique_violations).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..config import CheckSuiteConfig

VIOLATION_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("check_id", StringType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("class", StringType()),  # added | missing | mismatch | invalid
        StructField("observed", StringType()),
        StructField("expected", StringType()),
    ]
)

VERDICT_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("check_id", StringType()),
        StructField("passed", BooleanType()),
        StructField("n_violations", LongType()),
        StructField("score", DoubleType()),
    ]
)


def with_partition_id(df: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """Stable hash bucketing of conversations (the engine's unit of
    parallel verdicting, ≙ frame index video.rs:134-177)."""
    return df.withColumn(
        "partition_id", F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).cast("int")
    )


def prepare(df: DataFrame, cfg: CheckSuiteConfig) -> DataFrame:
    """One-pass compact projection shared by every check.

    Event-log profiling showed each check branch re-scanning and
    re-featurizing the raw table (text decode + regex per branch ~= 850
    core-seconds per scan at 32M rows). This computes everything any check
    needs from `text` ONCE — length, xxhash, violation-forensics prefix,
    drift channels — and drops the payload. The result is ~100 B/row
    columnar and cheap to rescan, so each check branch rescans it (the
    persisted and staged alternatives measured slower). At 100 TB this
    is also exactly the column pruning you want against Parquet/Iceberg:
    no check ever shuffles raw text."""
    from .drift_arrow import channel_expr

    return with_partition_id(df, cfg).select(
        "partition_id",
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        F.length("text").alias("text_len"),
        F.xxhash64("text").alias("text_h"),
        F.substring(F.col("text"), 1, 48).alias("text_p"),
        *[channel_expr(ch).alias(f"ch_{ch}") for ch in cfg.channels],
    )


def _viol(df: DataFrame, check_id: str, cls, observed, expected) -> DataFrame:
    """Project any keyed DataFrame into the canonical violation schema."""
    return df.select(
        F.col("partition_id").cast("int"),
        F.lit(check_id).alias("check_id"),
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        cls.cast("string").alias("class"),
        observed.cast("string").alias("observed"),
        expected.cast("string").alias("expected"),
    )


def partition_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("partition_id").agg(F.count("*").alias("n_rows"))


def verdict(
    df: DataFrame, check_id: str | Column, passed, n_violations, score
) -> DataFrame:
    """Project any partition-keyed DataFrame into the canonical verdict
    schema (VERDICT_SCHEMA's order and types; the verdict twin of _viol)."""
    return df.select(
        F.col("partition_id").cast("int"),
        (F.lit(check_id) if isinstance(check_id, str) else check_id).alias("check_id"),
        passed.alias("passed"),
        n_violations.cast("long").alias("n_violations"),
        score.cast("double").alias("score"),
    )


@dataclass
class CheckOutput:
    verdicts: DataFrame


# --------------------------------------------------------------------------
# Schema check (driver-side; ≙ conversion/shape guard lib.rs:41-47)
# --------------------------------------------------------------------------


def schema_check(spark, ref: DataFrame, cand: DataFrame, cfg: CheckSuiteConfig) -> CheckOutput:
    from ..config import TRANSCRIPT_COLUMNS

    problems = []
    for side, df in (("ref", ref), ("cand", cand)):
        have = set(df.columns)
        for c in TRANSCRIPT_COLUMNS:
            if c not in have:
                problems.append((side, c))
    passed = not problems
    verdicts = spark.createDataFrame(
        [(-1, "schema", passed, len(problems), None)], schema=VERDICT_SCHEMA
    )
    return CheckOutput(verdicts=verdicts)


# --------------------------------------------------------------------------
# Uniqueness of (conv_id, turn_idx) + monotone ordering (≙ unique,
# strictly increasing frame index video.rs:159-161; ordered stateful scans
# gaussian.rs:46-91)
# --------------------------------------------------------------------------


def order_unique_violations(
    cand: DataFrame,
    cfg: CheckSuiteConfig,
    do_unique: bool = True,
    do_mono: bool = True,
) -> DataFrame:
    """Uniqueness and/or monotone-ordering violations in ONE scan and ONE
    (conv_id, chunk)-keyed exchange.

    No whole-conversation window: Window.partitionBy(conv_id) would
    serialize a hot conversation onto one task (the skew case: one conv
    holding 5% of all turns). Instead two phases:
      phase 1: windows within (conv_id, turn_idx div monotone_chunk_turns)
               — a hot conversation fans out over n_turns/chunk tasks;
      phase 2: adjacent pairs ACROSS chunk boundaries via a per-chunk
               summary (first/last ts by turn order) + lag over summaries —
               n_turns/chunk summary rows per conv, trivially small.
    Together they see exactly the set of adjacent (prev, cur) pairs.

    Why fusible: after sorting by turn_idx within (conv_id, chunk),
    duplicate (conv_id, turn_idx) keys are ADJACENT (equal turn_idx can
    never straddle a turn-chunk), so the same sorted pass that computes the
    monotone lag also sees every duplicate run. Two window functions share
    the one sort:
      * lag(ts)  over (conv_id, chunk) ORDER BY turn_idx   -> ordering
      * count(*) over (conv_id, chunk, turn_idx)           -> key multiplicity
        (partitioning by a refinement of the sort prefix: Catalyst satisfies
        both specs with a single exchange + sort — asserted by
        tests/test_plan_shapes.py)
    Both violation kinds are emitted from one array+explode projection, so
    the fact rows are scanned, shuffled, sorted and windowed exactly once.
    Pinned to oracle.uniqueness_violations / oracle.monotone_violations and
    to a naive whole-conversation scan (tests/test_properties.py).
    """
    if not (do_unique or do_mono):
        raise ValueError(
            "order_unique_violations: at least one of do_unique/do_mono must be True"
        )
    ts = F.col("ts")
    chunk_rows = cfg.monotone_chunk_turns
    d = cand.select(
        "partition_id",
        "conv_id",
        "turn_idx",
        ts.alias("ts_"),
        F.floor(F.col("turn_idx") / chunk_rows).alias("chunk"),
    )
    w_in = Window.partitionBy("conv_id", "chunk").orderBy("turn_idx")
    w_key = Window.partitionBy("conv_id", "chunk", "turn_idx")
    b = d.select(
        "partition_id",
        "conv_id",
        "turn_idx",
        "ts_",
        "chunk",
        F.lag("ts_").over(w_in).alias("prev_ts"),
        F.lag("turn_idx").over(w_in).alias("prev_turn"),
        F.count("*").over(w_key).alias("key_n"),
    )
    kinds = []
    if do_mono:
        kinds.append(
            F.when(
                F.col("ts_") < F.col("prev_ts"),
                F.struct(
                    F.lit("monotone_ts").alias("check_id"),
                    F.lit("invalid").alias("class"),
                    F.col("ts_").cast("string").alias("observed"),
                    F.concat(F.lit(">= "), F.col("prev_ts")).alias("expected"),
                ),
            )
        )
    if do_unique:
        # exactly one row per duplicated key: the first row of the equal-turn
        # run (its lag(turn_idx) differs or is null)
        first_of_key = F.col("prev_turn").isNull() | (
            F.col("prev_turn") != F.col("turn_idx")
        )
        kinds.append(
            F.when(
                (F.col("key_n") > 1) & first_of_key,
                F.struct(
                    F.lit("uniqueness").alias("check_id"),
                    F.lit("invalid").alias("class"),
                    F.concat(F.lit("count="), F.col("key_n")).alias("observed"),
                    F.lit("count=1").alias("expected"),
                ),
            )
        )
    v = F.explode(
        F.filter(F.array(*kinds), lambda x: x.isNotNull())
    ).alias("v")
    in_chunk = b.select(
        F.col("partition_id").cast("int"),
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        v,
    ).select(
        "partition_id",
        F.col("v.check_id").alias("check_id"),
        "conv_id",
        "turn_idx",
        F.col("v.class").alias("class"),
        F.col("v.observed").alias("observed"),
        F.col("v.expected").alias("expected"),
    )
    if not do_mono:
        return in_chunk
    # phase 2: cross-chunk boundary pairs over the per-chunk summary
    summ = d.groupBy("partition_id", "conv_id", "chunk").agg(
        F.min("turn_idx").alias("first_turn"),
        F.min_by("ts_", "turn_idx").alias("first_ts"),
        F.max_by("ts_", "turn_idx").alias("last_ts"),
    )
    w_s = Window.partitionBy("conv_id").orderBy("chunk")
    boundary = (
        summ.withColumn("prev_ts", F.lag("last_ts").over(w_s))
        .filter(F.col("first_ts") < F.col("prev_ts"))
        .select(
            "partition_id",
            "conv_id",
            F.col("first_turn").alias("turn_idx"),
            F.col("first_ts").alias("ts_"),
            "prev_ts",
        )
    )
    boundary_v = _viol(
        boundary,
        "monotone_ts",
        cls=F.lit("invalid"),
        observed=F.col("ts_"),
        expected=F.concat(F.lit(">= "), F.col("prev_ts")),
    )
    return in_chunk.unionByName(boundary_v)


# --------------------------------------------------------------------------
# Vocabulary referential integrity (≙ enum parsers video.rs:565-655)
# --------------------------------------------------------------------------


def vocab_violations_fused(
    cand: DataFrame,
    cfg: CheckSuiteConfig,
    specs: list[tuple[str, tuple[str, ...], bool]],
) -> DataFrame:
    """All vocabulary checks in ONE scan of the fact rows.

    Each vocabulary is a small static set, so membership compiles to an In
    predicate (whole-stage codegen, no join at all). A NULL is a violation
    of a non-nullable column and allowed in a nullable one (pinned to
    oracle.vocab_violations). A row violating several vocabularies emits
    one row per violated check via array+explode. The registry's
    referential-integrity query (registry/core.py::vocab_ref_integrity),
    where the dimension is a real table, keeps its own anti-join."""
    kinds = []
    for column, vocab, nullable in specs:
        col = F.col(column)
        bad = ~col.isin(*vocab)
        bad = (col.isNotNull() & bad) if nullable else (col.isNull() | bad)
        kinds.append(
            F.when(
                bad,
                F.struct(
                    F.lit(f"vocab_{column}").alias("check_id"),
                    col.cast("string").alias("observed"),
                    F.lit(f"in dim_{column}s").alias("expected"),
                ),
            )
        )
    v = F.explode(F.filter(F.array(*kinds), lambda x: x.isNotNull())).alias("v")
    return cand.select(
        F.col("partition_id").cast("int"),
        F.col("conv_id").cast("string"),
        F.col("turn_idx").cast("int"),
        v,
    ).select(
        "partition_id",
        F.col("v.check_id").alias("check_id"),
        "conv_id",
        "turn_idx",
        F.lit("invalid").alias("class"),
        F.col("v.observed").alias("observed"),
        F.col("v.expected").alias("expected"),
    )


# --------------------------------------------------------------------------
# Paired text parity (THE per-row invariant; ≙ elementwise zip of aligned
# planes lib.rs:157-163 + added/missing split lib.rs:281-289)
# --------------------------------------------------------------------------


def text_parity_violations(
    ref: DataFrame, cand: DataFrame, cfg: CheckSuiteConfig
) -> DataFrame:
    """Full-outer equi-join on (conv_id, turn_idx) of PREPARED frames.

    Scale path: the join consumes the prepare() projection — the shuffle
    moves 16-byte hashes, never payloads; AQE handles skewed conversations
    (a single conv_id never skews the join since turn_idx spreads keys).
    """
    r = ref.select(
        "partition_id",
        "conv_id",
        "turn_idx",
        F.col("text_h").alias("ref_h"),
        F.col("text_p").alias("ref_p"),
    )
    c = cand.select(
        "conv_id",
        "turn_idx",
        F.col("text_h").alias("cand_h"),
        F.col("text_p").alias("cand_p"),
    )
    j = r.join(c, ["conv_id", "turn_idx"], "full_outer")
    # rows from the cand-only side lost partition_id in the outer join —
    # recompute from conv_id (cheap hash, no extra shuffle)
    j = j.withColumn(
        "partition_id",
        F.coalesce(
            F.col("partition_id"),
            F.pmod(F.xxhash64("conv_id"), F.lit(cfg.n_buckets)).cast("int"),
        ),
    )
    cls = (
        F.when(F.col("ref_h").isNull(), F.lit("added"))
        .when(F.col("cand_h").isNull(), F.lit("missing"))
        .when(F.col("ref_h") != F.col("cand_h"), F.lit("mismatch"))
    )
    bad = j.withColumn("cls", cls).filter(F.col("cls").isNotNull())
    return _viol(
        bad,
        "text_parity",
        cls=F.col("cls"),
        observed=F.col("cand_p"),
        expected=F.col("ref_p"),
    )
