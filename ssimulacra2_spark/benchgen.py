"""Distributed synthetic transcript generation for benchmarks.

Unlike synth.py (pandas, test-sized), this generator is pure Spark
expressions over spark.range(): deterministic (hash-derived columns, no
RNG state), embarrassingly parallel, and therefore exactly the shape a
100 TB bench harness needs — generation throughput scales with cores and
no driver materialization ever happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_ROLES, DEFAULT_TOOLS

_WORDS = (
    "data query table scan join merge sort hash group window filter batch "
    "stream vector column row key value fast slow big small the of and to"
).split()


def make_transcripts(
    spark: SparkSession,
    n_turns: int,
    n_convs: int,
    hot_fraction: float = 0.05,
    parallelism: int | None = None,
) -> DataFrame:
    """n_turns rows across n_convs conversations. A 'hot' slice of turns
    (hot_fraction) all lands in conversation 0 — the skew lever.

    Every column is a deterministic function of the row id (xxhash64-based),
    so two invocations produce identical tables on any cluster size."""
    df = spark.range(0, n_turns, 1, parallelism or spark.sparkContext.defaultParallelism)
    h = F.xxhash64("id")
    hot = F.pmod(h, F.lit(10_000)) < int(hot_fraction * 10_000)
    conv_num = F.when(hot, F.lit(0)).otherwise(F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_convs - 1)) + 1)
    # turn_idx: dense per conversation is expensive to generate exactly;
    # row_number per conv gives true per-conv ordinals in one shuffle
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_num").orderBy("id")
    role_arr = F.array(*[F.lit(r) for r in DEFAULT_ROLES])
    tool_arr = F.array(*[F.lit(t) for t in DEFAULT_TOOLS])
    word_arr = F.array(*[F.lit(x) for x in _WORDS])
    n_rep = (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(30)) + 3).cast("int")
    word = word_arr[F.pmod(F.xxhash64("id", F.lit(3)), F.lit(len(_WORDS))).cast("int")]
    text = F.concat_ws(
        " ",
        F.transform(F.sequence(F.lit(1), n_rep), lambda i: word_arr[F.pmod(F.xxhash64(F.col("id") + i), F.lit(len(_WORDS))).cast("int")]),
    )
    return (
        df.withColumn("conv_num", conv_num)
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .select(
            F.concat(F.lit("c"), F.lpad(F.col("conv_num").cast("string"), 9, "0")).alias("conv_id"),
            "turn_idx",
            role_arr[F.pmod(F.xxhash64("id", F.lit(4)), F.lit(len(DEFAULT_ROLES))).cast("int")].alias("role"),
            text.alias("text"),
            F.when(
                F.pmod(F.xxhash64("id", F.lit(5)), F.lit(10)) < 3,
                tool_arr[F.pmod(F.xxhash64("id", F.lit(6)), F.lit(len(DEFAULT_TOOLS))).cast("int")],
            ).alias("tool"),
            (
                F.to_timestamp(F.lit("2025-01-01 00:00:00"))
                + F.make_interval(secs=F.col("turn_idx").cast("double") * 7.0)
            ).alias("ts"),
        )
    )


def stage_pair(
    spark: SparkSession,
    n_turns: int,
    n_convs: int,
    base_dir: str,
) -> tuple[DataFrame, DataFrame]:
    """Write the (ref, cand) pair to `base_dir` as CONVERSATION-CLUSTERED
    parquet and return readers for both.

    make_transcripts ends in a row_number window partitioned by
    conversation, so its natural output files hold whole conversations in
    sorted runs. A round-robin rebalance before the write was built and
    MEASURED here to fix the resulting 2.2x scan-straggler file (the hot
    conversation's 519k rows land in one file): it cost ~20% of total
    suite wall at local[8] (interleaved A/B, 29s -> 36s) — scattering
    conversations destroys the dictionary/RLE runs parquet and shuffle
    compression feed on and the pre-sorted runs every downstream
    (conv, ...) sort exploits. Clustered-but-skewed beats
    balanced-but-scattered.

    The shipped layout is the middle ground: cluster by
    (conv_id, turn_idx div chunk) with chunk sized so only conversations
    larger than ~1/(4*parallelism) of the corpus are split, then sort each
    output partition by (conv_id, turn_idx). Ordinary conversations stay
    whole (chunk >> their length), so dictionary/RLE runs and the
    pre-sorted (conv, turn) order inside every file are preserved; only a
    giant conversation is cut into file-sized sorted slices. Every
    downstream consumer already exchanges on (conv, chunk)-refined keys
    (order_unique, drift), so no check relies on
    whole-conversation files. At warehouse scale this is an Iceberg writer
    clustered by bucket(conv_id, turn_bucket) with a target file size,
    which this layout emulates.

    Both sides are read back as plain parquet, with no bucketing or
    catalog table in between: conversation clustering (the run-length
    effect of "Column Partition and Permutation for Run Length Encoding
    in Columnar Databases", SIGMOD 2020) is the part of the layout a scan
    here profits from."""
    ref_path, cand_path = f"{base_dir}/ref", f"{base_dir}/cand"
    par = spark.sparkContext.defaultParallelism
    # file count stays at ONE file per core: a 4-waves-per-core variant
    # (n_files = 4*par, to cut the last scan wave's tail) was built and
    # MEASURED at 80M/32c and LOST — 117-179 s suite wall vs a stable
    # 100-104 s for this layout (2 interleaved reps each): more, smaller
    # single-row-group files multiply per-task file-open + first-touch
    # fault events, which that VM serialized, and the wave-tail saving never
    # materializes. At warehouse scale file size is the equivalent knob
    # and is owned by the writer's target-file-size, not the core count.
    # split threshold: a conversation above n_turns/(4*par) rows would make
    # its file a >1.25x straggler for every scan stage; slice it into
    # chunk-row runs. Derived from corpus size and parallelism, no local
    # constant (at 100 TB/1000s of cores the same rule splits only convs
    # that would actually stall a scan slot).
    chunk = max(1024, n_turns // (4 * par))
    ckey = F.floor(F.col("turn_idx") / F.lit(chunk))
    (
        make_transcripts(spark, n_turns, n_convs)
        .repartition(par, "conv_id", ckey)
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .parquet(ref_path)
    )
    ref = spark.read.parquet(ref_path)
    # distort is row-local: cand inherits ref's balanced clustered layout
    distort(ref).write.mode("overwrite").parquet(cand_path)
    return ref, spark.read.parquet(cand_path)


def distort(transcripts: DataFrame) -> DataFrame:
    """Deterministic candidate snapshot: drop / mutate / corrupt a small
    hash-selected fraction (≙ distort_yuv, benches.rs:66-80)."""
    h = F.xxhash64("conv_id", "turn_idx")
    m = F.pmod(h, F.lit(1000))
    return (
        transcripts.filter(m != 0)  # ~0.1% dropped
        .withColumn(
            "text",
            F.when(m == 1, F.concat(F.col("text"), F.lit(" MUTATED"))).otherwise(F.col("text")),
        )
        .withColumn("role", F.when(m == 2, F.lit("intruder")).otherwise(F.col("role")))
        .withColumn(
            "ts",
            F.when(m == 3, F.col("ts") - F.expr("INTERVAL 1 DAY")).otherwise(F.col("ts")),
        )
    )
