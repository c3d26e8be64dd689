"""Structured Streaming surface of the engine.

The reference's only streaming trait is stdin y4m decode + a bounded
worker queue (/root/reference/ssimulacra2_bin/src/video.rs:198-232,
134-168) — batch per-frame with incremental collection. The engine's
streaming path mirrors that shape idiomatically: a file-source stream of
transcript rows, event-time tumbling-window stats with a watermark for
late turns, and a custom stateful per-conversation monotonicity check via
applyInPandasWithState (state = last seen (turn_idx, ts) per conv).

Batch/stream parity: the windowed aggregation is the same logical plan as
registry.drift.stream_tumbling_counts — Structured Streaming executes it
incrementally; tests drive both with trigger(availableNow=True) and
compare against the batch result.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcript_stream(spark: SparkSession, in_dir: str, max_files: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files)
        .parquet(in_dir)
    )


def windowed_stats_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h event-time stats per window (late rows beyond the
    watermark are dropped — the streaming analog of the stride/skip
    admission controls, video.rs:145-161)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.avg(F.length("text")).alias("mean_len"),
            F.approx_count_distinct("conv_id").alias("approx_convs"),
        )
        .select(F.col("w.start").alias("win_start"), "role", "n_turns", "mean_len", "approx_convs")
    )


def centroid_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-window channel centroid of the transcript stream — the
    incremental form of the emb_drift centroid build (operators/stats.
    rollup): each tumbling window accumulates mergeable partial
    sums for the cheap channel pair (length, xxhash bucket), so a drift
    monitor can compare successive windows' centroids as they close.
    Watermark bounds the open-window state exactly like the batch check
    bounds its shuffle (n_windows x n_dims partials)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.avg(F.length(t)).alias("c_len"),
            F.avg(F.pmod(F.xxhash64(t), F.lit(4096)) / 4096.0).alias("c_hash"),
            F.count("*").alias("n_turns"),
        )
        .select(F.col("w.start").alias("win_start"), "c_len", "c_hash", "n_turns")
    )


def keyed_centroid_stream(
    stream: DataFrame, key: str = "role", watermark: str = "1 hour"
) -> DataFrame:
    """centroid_stream keyed by a label column: per (key, 1h window) the
    mergeable centroid of the cheap channel pair. The closed-window rows
    feed centroid_alert_stream below (file sink -> file source, the
    standard two-stage streaming topology, since a flatMapGroupsWithState
    stage cannot chain directly after a streaming aggregation)."""
    t = F.coalesce(F.col("text"), F.lit(""))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col(key).alias("k"))
        .agg(
            F.avg(F.length(t)).alias("c_len"),
            F.avg(F.pmod(F.xxhash64(t), F.lit(4096)) / 4096.0).alias("c_hash"),
            F.count("*").alias("n_turns"),
        )
        .select(F.col("w.start").alias("win_start"), "k", "c_len", "c_hash", "n_turns")
    )


_ALERT_STATE_SCHEMA = StructType(
    [
        StructField("last_epoch", LongType()),
        StructField("last_a", DoubleType()),
        StructField("last_b", DoubleType()),
    ]
)
_ALERT_OUT_SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("win_start", TimestampType()),
        StructField("cos_prev", DoubleType()),
        StructField("alert", BooleanType()),
    ]
)

#: a window's centroid must drop below this cosine vs the previous window
#: to raise an alert (mirrors registry.drift._ALERT_MIN_COS convention)
ALERT_MIN_COS = 0.85


def _centroid_alert_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful successive-window comparator: O(1) state per key = the
    last closed window's (epoch, centroid). Arriving closed-window rows
    are sorted by window start; each is compared to the window exactly
    one hour before it (carried across micro-batches through state).
    Fully vectorized — shift + elementwise cosine, no per-row Python."""
    import numpy as np

    (k,) = key
    last_epoch, last_a, last_b = (
        state.get if state.exists else (None, np.nan, np.nan)
    )
    outs = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values("win_start")
        # robust to pandas datetime64 unit (ns vs us across Arrow versions)
        ep = pdf["win_start"].to_numpy().astype("datetime64[s]").astype("int64")
        a = pdf["c_len"].to_numpy(np.float64)
        b = pdf["c_hash"].to_numpy(np.float64)
        pa = np.concatenate(([last_a], a[:-1]))
        pb = np.concatenate(([last_b], b[:-1]))
        pe = np.concatenate(([last_epoch if last_epoch is not None else -1], ep[:-1]))
        cos = (a * pa + b * pb) / (np.hypot(a, b) * np.hypot(pa, pb))
        ok = pe == ep - 3600  # only immediately-adjacent windows compare
        cos_r = np.round(cos + 5.0123e-8, 6)  # EPS6/r6 rounding convention
        out = pd.DataFrame(
            {
                "k": k,
                "win_start": pdf["win_start"].to_numpy(),
                "cos_prev": np.where(ok, cos_r, np.nan),
                "alert": (cos_r < ALERT_MIN_COS) & ok,
            }
        )[ok]
        outs.append(out)
        last_epoch, last_a, last_b = int(ep[-1]), float(a[-1]), float(b[-1])
    if last_epoch is not None:
        state.update((last_epoch, last_a, last_b))
    yield from outs


def centroid_alert_stream(centroids: DataFrame) -> DataFrame:
    """Streaming drift alerting over a closed-centroid stream (the output
    of keyed_centroid_stream read back as a stream): per key, cosine
    between each window's centroid and the previous window's, alert rows
    when below ALERT_MIN_COS — the incremental form of the batch
    stream_centroid_alert registry query (registry/drift.py), which a
    DuckDB lag-join oracle verifies; pytest pins stream == batch."""
    return centroids.groupBy("k").applyInPandasWithState(
        _centroid_alert_fn,
        outputStructType=_ALERT_OUT_SCHEMA,
        stateStructType=_ALERT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_STATE_SCHEMA = StructType(
    [StructField("last_turn", IntegerType()), StructField("n_seen", LongType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("violation", StringType()),
    ]
)


def _monotone_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-conversation strictly-increasing
    turn_idx across micro-batches (≙ the atomically claimed, strictly
    increasing frame index, video.rs:159-161). State: (last_turn, n_seen).

    Vectorized (no per-row Python, per the north rule): after sorting a
    batch ascending, the "last accepted turn" seen by row i is
    max(carried_last, t[i-1]) — so the violation mask is a single
    elementwise compare; only actual violations (rare) format messages."""
    import numpy as np

    (conv_id,) = key
    if state.exists:
        last_turn, n_seen = state.get
    else:
        last_turn, n_seen = -1, 0
    outs = []
    for pdf in pdfs:
        t = np.sort(pdf["turn_idx"].to_numpy(np.int64))
        n_seen += len(t)
        if len(t) == 0:
            continue
        prev = np.empty_like(t)
        prev[0] = last_turn
        np.maximum(t[:-1], last_turn, out=prev[1:])
        bad = t <= prev
        if bad.any():
            tb, pb = t[bad], prev[bad]
            outs.append(
                pd.DataFrame(
                    {
                        "conv_id": conv_id,
                        "turn_idx": tb.astype("int32"),
                        "violation": [
                            f"turn_idx {x} <= last seen {p}" for x, p in zip(tb, pb)
                        ],
                    }
                )
            )
        last_turn = int(max(last_turn, t[-1]))
    state.update((int(last_turn), int(n_seen)))
    yield from outs


def session_stream(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming session windows per conversation: Spark's built-in
    session_window merges turns separated by < gap; the watermark lets
    the state store CLOSE a session (and emit its final row) once event
    time passes session-end + watermark, so state is bounded by open
    sessions only. This is the incremental form of the batch
    sessionization (registry stream_session_counts / sessionize_gap) —
    the session-assembly stage of a streaming training-data pipeline."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.min("turn_idx").alias("first_turn"),
            F.max("turn_idx").alias("last_turn"),
        )
        .select(
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "conv_id",
            "n_turns",
            "first_turn",
            "last_turn",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on the transcript key: state holds each seen
    (conv_id, turn_idx) only until the event-time watermark passes it, so
    state size is bounded by the watermark window instead of the full
    history — the streaming analog of dedup_exact for an ingest pipeline.
    Batch-equivalent plan: registry stream_dedup_counts."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def monotone_stream(stream: DataFrame) -> DataFrame:
    return (
        stream.select("conv_id", "turn_idx")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _monotone_state_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DOCUMENTS_DDL = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def read_document_stream(spark: SparkSession, in_dir: str, max_files: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_DDL)
        .option("maxFilesPerTrigger", max_files)
        .parquet(in_dir)
    )


def bloom_probe_stream(stream_docs: DataFrame, bloom: DataFrame) -> DataFrame:
    """Streaming contamination admission: every incoming document's
    shingles are probed against a BATCH-BUILT Bloom bitset via a
    STREAM-STATIC broadcast join — the Structured Streaming enrichment
    pattern (stream joins a static dimension; no state, append-safe).
    Emits per-shingle (doc_id, h, hit) rows; the per-doc rollup happens
    downstream in batch (enrich-then-rollup, the production split that
    keeps the streaming stage stateless). The probe chain is the SAME
    code the batch guard runs (registry/webops.py: shingle_rows +
    probe_bloom) — stream == batch pinned in test_streaming.py."""
    from ssimulacra2_spark.registry.webops import probe_bloom, shingle_rows

    return probe_bloom(shingle_rows(stream_docs), bloom).select("doc_id", "h", "hit")


def run_available_now(df: DataFrame, out_dir: str, checkpoint: str) -> None:
    """Drain everything currently in the source, then stop (the test/bench
    driver for the streaming path)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
