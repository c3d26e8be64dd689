"""Engine-surface queries: streaming scan, set ops, vectorized scalar UDF,
salted two-phase aggregation, and the mergeable t-digest UDAF — the
remaining SURVEY §2 / §2.10 ids not covered by core.py."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ._util import load, r6, shared_sql

QUERIES = {}
ORACLES = {}


@(lambda fn: (QUERIES.__setitem__("scan_stream_source", fn), fn)[1])
def scan_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source scan (ref: stdin y4m stream decode,
    video.rs:198-232). Runs a REAL readStream over the events parquet with
    trigger(availableNow) into a temp sink, then returns the aggregated
    result — exercising the incremental execution path while remaining
    batch-checkable by the driver's oracle."""
    d = tempfile.mkdtemp(prefix="scan_stream_")
    os.makedirs(f"{d}/in", exist_ok=True)
    # file-stream sources read directories; link the source file in
    os.symlink(
        os.path.join(sf_dir, "events.parquet"), f"{d}/in/events.parquet"
    )
    stream = (
        spark.readStream.schema(load(spark, sf_dir, "events").schema)
        .parquet(f"{d}/in")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", f"{d}/out")
        .option("checkpointLocation", f"{d}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{d}/out")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), r6(F.avg("value")).alias("mean_v"))
    )


ORACLES["scan_stream_source"] = """
SELECT event_type, COUNT(*) AS n, ROUND(AVG(value), 6) AS mean_v
FROM events GROUP BY event_type
"""


@(lambda fn: (QUERIES.__setitem__("set_ops_suite", fn), fn)[1])
def set_ops_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY §2.7: absent in the reference core; the
    engine uses unionByName to stack per-check violation frames). Demo:
    union / intersect / except over two key slices."""
    orders = load(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 3 == 0).select(F.col("o_custkey").alias("k"))
    b = orders.filter(F.col("o_orderkey") % 5 == 0).select(F.col("o_custkey").alias("k"))
    return (
        a.union(b).select(F.lit("union_all").alias("op"), "k")
        .unionByName(a.intersect(b).select(F.lit("intersect").alias("op"), "k"))
        .unionByName(a.exceptAll(b).select(F.lit("except_all").alias("op"), "k"))
        .groupBy("op")
        .agg(F.count("*").alias("n"), F.countDistinct("k").alias("n_distinct"))
    )


ORACLES["set_ops_suite"] = """
WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderkey % 3 = 0),
     b AS (SELECT o_custkey AS k FROM orders WHERE o_orderkey % 5 = 0),
     stacked AS (
       SELECT 'union_all' AS op, k FROM (SELECT k FROM a UNION ALL SELECT k FROM b)
       UNION ALL
       SELECT 'intersect' AS op, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
       UNION ALL
       SELECT 'except_all' AS op, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
     )
SELECT op, COUNT(*) AS n, COUNT(DISTINCT k) AS n_distinct FROM stacked GROUP BY op
"""


@(lambda fn: (QUERIES.__setitem__("featurize_text", fn), fn)[1])
def featurize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas_udf (SURVEY §2.10 featurize_text: text ->
    numeric channels ≙ planar pivot lib.rs:137-155). The sigmoid quality
    channel is deterministic arithmetic, so even the Arrow round-trip gets
    a full oracle. (Pure-Column variants of these channels live in
    operators/drift_arrow.channel_expr — the UDF here demonstrates the
    Arrow-batched scalar path.)"""
    import numpy as np

    @pandas_udf("double")
    def quality_channel(text: pd.Series) -> pd.Series:
        n = text.fillna("").str.len().to_numpy(np.float64)
        return pd.Series(1.0 / (1.0 + np.exp(-(n - 256.0) / 64.0)))

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        r6(quality_channel(F.col("text"))).alias("quality"),
        F.length("text").alias("n_chars_m"),
    )


ORACLES["featurize_text"] = """
SELECT doc_id,
  ROUND(1.0 / (1.0 + EXP(-(length(text) - 256.0) / 64.0)), 6) AS quality,
  length(text) AS n_chars_m
FROM documents
"""


@(lambda fn: (QUERIES.__setitem__("salted_two_phase_agg", fn), fn)[1])
def salted_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation (north rule: hot conversations).
    Phase 1 groups on (key, salt) so a hot key's rows spread across
    reducers; phase 2 merges partials. Result is identical to the direct
    groupBy — which is exactly what the oracle checks."""
    ev = load(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64("event_id"), F.lit(8))
    phase1 = (
        ev.withColumn("salt", salt)
        .groupBy("user_id", "salt")
        .agg(F.count("*").alias("pn"), F.sum("value").alias("pv"), F.max("value").alias("pm"))
    )
    return (
        phase1.groupBy("user_id")
        .agg(
            F.sum("pn").alias("n"),
            r6(F.sum("pv") / F.sum("pn")).alias("mean_v"),
            r6(F.max("pm")).alias("max_v"),
        )
    )


ORACLES["salted_two_phase_agg"] = """
SELECT user_id, COUNT(*) AS n, ROUND(SUM(value)/COUNT(*), 6) AS mean_v,
       ROUND(MAX(value), 6) AS max_v
FROM events GROUP BY user_id
"""


@(lambda fn: (QUERIES.__setitem__("tdigest_quantiles", fn), fn)[1])
def tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest quantile profile (SURVEY §2.10 tdigest_agg;
    ≙ percentile report video.rs:499-507). Two applyInPandas phases —
    salted partial digests, then merge. No SQL oracle: sketch estimates
    are approximate by design; pytest pins them against exact quantiles
    with tolerance."""
    from ..functions.tdigest import tdigest_quantiles as tq

    ev = load(spark, sf_dir, "events")
    return tq(ev, "event_type", "value", quantiles=(0.5, 0.95), row_key_cols=("event_id",))


# no oracle for tdigest_quantiles (approximate; pytest-pinned)


# --------------------------------------------------------------------------
# Gap-based sessionization (event-pipeline staple)
# --------------------------------------------------------------------------


def _sessionize_sql(dialect: str) -> str:
    """DuckDB oracle formulation (single whole-user window) of the
    sessionization semantics; the Spark engine path is the chunked
    sessionize_gap_df below — identical output, skew-safe plan."""
    diff = (
        "unix_timestamp(ts) - unix_timestamp(prev_ts)"
        if dialect == "spark"
        else "date_part('epoch', ts) - date_part('epoch', prev_ts)"
    )
    return f"""
WITH lagged AS (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL OR {diff} > 1800 THEN 1 ELSE 0 END AS is_start
  FROM lagged
),
sess AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(event_id) AS first_event, MAX(event_id) AS last_event
FROM sess GROUP BY user_id, session_id
"""


def sessionize_gap_df(
    events: DataFrame, gap_secs: int = 1800, chunk_secs: int = 24 * 3600
) -> DataFrame:
    """Sessionize each user's event stream on a 30-minute inactivity gap:
    a session starts at any event whose gap from the previous event
    exceeds the threshold; session_id = running count of session starts.
    Output: per-session summary — the shape a training-data pipeline
    feeds to conversation assembly.

    Skew-safe plan: NO whole-user window (a hot user with 10^8 events
    would serialize onto one task). Same chunk-boundary pattern as
    checks.order_unique_violations, here as a two-phase prefix scan:

      phase 1 (per (user, time-chunk)): lag within the chunk gives
        every gap except the chunk's first row; a per-chunk summary
        (last ts) lagged over the TINY summary table supplies the
        cross-boundary gap. is_start is then exact everywhere.
      phase 2 (session ids = running count of starts): running sum of
        is_start within the chunk + the sum of start-counts of all
        earlier chunks (prefix over the summary table) — a classic
        blocked scan; every fact-row window is per (user, chunk).

    Chunks are time buckets, so they are order-aligned with the
    (ts, event_id) sort key; equal timestamps never straddle a chunk.
    Property-pinned equal to the single-window formulation
    (tests/test_properties.py::test_sessionize_chunked_matches_whole)."""
    from pyspark.sql.window import Window

    d = events.select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.unix_timestamp("ts") / chunk_secs).alias("chunk"),
    )
    w_in = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    lagged = d.withColumn("prev_in", F.lag("ts").over(w_in))
    summ = d.groupBy("user_id", "chunk").agg(F.max("ts").alias("chunk_last_ts"))
    w_sum = Window.partitionBy("user_id").orderBy("chunk")
    carry = summ.withColumn("prev_chunk_last", F.lag("chunk_last_ts").over(w_sum)).select(
        "user_id", "chunk", "prev_chunk_last"
    )
    gap_from = F.coalesce(F.col("prev_in"), F.col("prev_chunk_last"))
    flagged = lagged.join(carry, ["user_id", "chunk"]).withColumn(
        "is_start",
        F.when(
            gap_from.isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(gap_from) > gap_secs),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w_run = (
        Window.partitionBy("user_id", "chunk")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    starts_per_chunk = flagged.groupBy("user_id", "chunk").agg(
        F.sum("is_start").alias("n_starts")
    )
    w_off = (
        Window.partitionBy("user_id")
        .orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = starts_per_chunk.withColumn(
        "offset", F.coalesce(F.sum("n_starts").over(w_off), F.lit(0))
    ).select("user_id", "chunk", "offset")
    sess = (
        flagged.withColumn("cum_in", F.sum("is_start").over(w_run))
        .join(offsets, ["user_id", "chunk"])
        .select(
            "user_id",
            "event_id",
            (F.col("cum_in") + F.col("offset")).cast("long").alias("session_id"),
        )
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


QUERIES["sessionize_gap"] = lambda spark, sf_dir: sessionize_gap_df(
    load(spark, sf_dir, "events")
)
QUERIES["sessionize_gap"].__doc__ = sessionize_gap_df.__doc__
ORACLES["sessionize_gap"] = _sessionize_sql("duck")


# --------------------------------------------------------------------------
# As-of join (time-travel dimension lookup)
# --------------------------------------------------------------------------


@(lambda fn: (QUERIES.__setitem__("asof_join_policy", fn), fn)[1])
def asof_join_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach to every event the most recent policy snapshot
    (dim row with policy_ts <= event ts), then count events per policy
    version. The dimension is derived deterministically (every 97th
    event's timestamp = a policy release).

    Spark has no ASOF JOIN operator. This is the sorted-carry scale
    shape (NOT a range join — a theta-join on policy_ts <= ev_ts
    materializes events x qualifying-policies rows before reducing,
    a 10^3x row explosion with a thousand-version dimension):

      1. union both sides, tagged; one shuffle on time bucket;
      2. within each bucket, sort by (ts, side) — policy rows sort
         BEFORE events at equal ts, matching the inclusive bound —
         and carry the latest policy forward with last(ignorenulls)
         over a running frame;
      3. per-bucket boundary fix: an event before its bucket's first
         policy takes the carry-in — the last policy of any EARLIER
         bucket, computed once over the tiny per-bucket summary and
         broadcast back (same chunk-boundary pattern as
         checks.order_unique_violations).

    Intermediate rows = events + policies, never their product; the
    only full-size exchange is the bucket shuffle. A hot bucket splits
    by narrowing bucket_secs (config surface at scale).

    Oracle: DuckDB's native ASOF LEFT JOIN — an independent
    implementation of the same semantics, so parity is a real check.
    Reference analog (ordered stateful carry):
    /root/reference/ssimulacra2/src/blur/gaussian.rs:46-91."""
    from pyspark.sql.window import Window

    bucket_secs = 6 * 3600
    ev = load(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_id") % 97 == 0)
        .groupBy(F.col("ts").alias("policy_ts"))
        .agg(F.max("event_id").alias("policy_id"))
    )
    bkt = lambda c: F.floor(F.unix_timestamp(F.col(c)) / bucket_secs)  # noqa: E731
    # side=0 policies, side=1 events: at equal ts the policy sorts first,
    # so an event AT a release instant sees that release (inclusive bound)
    pol = dim.select(
        F.col("policy_ts").alias("ts"),
        F.lit(0).alias("side"),
        "policy_id",
        F.lit(None).cast("long").alias("event_id"),
    )
    evs = ev.select(
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("policy_id"),
        "event_id",
    )
    u = evs.unionByName(pol).withColumn("bkt", bkt("ts"))
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("pol_in", F.last("policy_id", ignorenulls=True).over(w_in))
    # carry-in per bucket: last policy of any strictly-earlier bucket.
    # The summary is one row per occupied time bucket (time-range /
    # bucket_secs rows — tiny by construction), so the global ordered
    # window runs over a broadcast-scale frame, never over fact rows.
    bkt_last = dim.groupBy(bkt("policy_ts").alias("bkt")).agg(
        F.max_by("policy_id", "policy_ts").alias("bkt_last_pol")
    )
    w_s = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    carry = (
        u.select("bkt")
        .distinct()
        .join(bkt_last, "bkt", "left")
        .withColumn("carry_in", F.last("bkt_last_pol", ignorenulls=True).over(w_s))
        .select("bkt", "carry_in")
    )
    per_event = (
        carried.filter(F.col("side") == 1)
        .join(F.broadcast(carry), "bkt")
        .select(
            "event_id", F.coalesce(F.col("pol_in"), F.col("carry_in")).alias("policy_id")
        )
    )
    return per_event.groupBy("policy_id").agg(F.count("*").alias("n_events"))


ORACLES["asof_join_policy"] = """
WITH dim AS (
  SELECT ts AS policy_ts, MAX(event_id) AS policy_id
  FROM events WHERE event_id % 97 = 0 GROUP BY ts
)
SELECT d.policy_id, COUNT(*) AS n_events
FROM events e ASOF LEFT JOIN dim d ON e.ts >= d.policy_ts
GROUP BY d.policy_id
"""
