"""SURVEY §2 core operator queries over the driver star schema.

Each query demonstrates one reference operator (citations inline) as an
idiomatic Spark DataFrame plan; ORACLES holds the DuckDB-equivalent SQL.
Float outputs are rounded to 6 decimals on both sides (see _util.r6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..constants import (
    C2,
    CALIB_CUBIC_1,
    CALIB_CUBIC_2,
    CALIB_CUBIC_3,
    CALIB_LINEAR,
    CALIB_POW,
    KERNEL_TAPS,
    RADIUS,
)
from ._util import load, r6

QUERIES = {}
ORACLES = {}


def q(name):
    def deco(fn):
        QUERIES[name] = fn
        return fn

    return deco


# --------------------------------------------------------------------------
# 2.1 Scans / sources / sinks
# --------------------------------------------------------------------------


@q("scan_parquet")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + projection + agg (ref: image decode -> RGB tuples,
    ssimulacra2_bin/src/main.rs:169-200). Only 2 columns are read
    (ReadSchema pruning); the agg is partial+final hash agg."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), r6(F.sum("l_quantity")).alias("sum_qty"))
        .select(F.col("l_returnflag").alias("flag"), "n_rows", "sum_qty")
    )


ORACLES["scan_parquet"] = """
SELECT l_returnflag AS flag, COUNT(*) AS n_rows, ROUND(SUM(l_quantity), 6) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


@q("scan_script_source")
def scan_script_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source dispatch by path suffix (ref: decoder selection by extension,
    ssimulacra2_bin/src/video.rs:203-211,268-287). The engine's source
    registry maps extension -> DataFrameReader format."""
    import os

    def read_source(path: str) -> DataFrame:
        ext = os.path.splitext(path)[1]
        fmt = {".parquet": "parquet", ".json": "json", ".csv": "csv"}.get(ext)
        if fmt is None:
            raise ValueError(f"unregistered source extension: {ext}")
        return spark.read.format(fmt).load(path)

    a = read_source(os.path.join(sf_dir, "orders.parquet"))
    b = read_source(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        a.select(F.lit("orders").alias("src"))
        .groupBy("src")
        .agg(F.count("*").alias("n"))
        .unionByName(b.select(F.lit("lineitem").alias("src")).groupBy("src").agg(F.count("*").alias("n")))
    )


ORACLES["scan_script_source"] = """
SELECT 'orders' AS src, COUNT(*) AS n FROM orders
UNION ALL
SELECT 'lineitem' AS src, COUNT(*) AS n FROM lineitem
"""


@q("seq_scan_serialized")
def seq_scan_serialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-claim semantics (ref: mutex-guarded sequential reads with an
    atomically claimed next_frame index, video.rs:134-168). Spark replaces
    the serialization wholesale with splittable parallel scans — the global
    ordered claim index is reconstructed here only to demonstrate parity;
    at scale claim order IS partition/row order and needs no total sort."""
    ev = load(spark, sf_dir, "events")
    w = Window.orderBy("event_id")
    return (
        ev.select("event_id", (F.row_number().over(w) - F.lit(1)).alias("claim_idx"))
        .filter((F.col("claim_idx") % 3 == 0) & (F.col("claim_idx") < 3000))
    )


ORACLES["seq_scan_serialized"] = """
SELECT event_id, claim_idx FROM (
  SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS claim_idx FROM events
) WHERE claim_idx % 3 = 0 AND claim_idx < 3000
"""


@q("sink_stdout_score")
def sink_stdout_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scalar score sink (ref: print '{:.8}' main.rs:205)."""
    ev = load(spark, sf_dir, "events")
    return ev.agg(F.round(F.lit(5.0123e-10) + F.avg("value"), 8).alias("score"))


# lowercase round( opts out of the with_eps6 6-decimal rewrite
ORACLES["sink_stdout_score"] = "SELECT round(5.0123e-10 + AVG(value), 8) AS score FROM events"


@q("sink_ordered_table")
def sink_ordered_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered (key -> score) result table (ref: BTreeMap ordered collect,
    video.rs:484-495). orderBy before the write sink."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("user_id").alias("partition_id"))
        .agg(F.count("*").alias("n"), r6(F.avg("value")).alias("mean_v"))
        .orderBy("partition_id")
    )


ORACLES["sink_ordered_table"] = """
SELECT user_id AS partition_id, COUNT(*) AS n, ROUND(AVG(value), 6) AS mean_v
FROM events GROUP BY user_id ORDER BY partition_id
"""


@q("sink_graph_png")
def sink_graph_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame score series that feeds the graph sink (ref: area-chart PNG
    video.rs:509-562). The engine ships the data series, which is what the
    driver can check; rendering it is left to the consumer."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd HH").alias("frame"))
        .agg(r6(F.avg("value")).alias("score"))
        .orderBy("frame")
    )


ORACLES["sink_graph_png"] = """
SELECT strftime(ts, '%Y-%m-%d %H') AS frame, ROUND(AVG(value), 6) AS score
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# 2.2 Projections / scalar expressions
# --------------------------------------------------------------------------


@q("proj_colorspace_chain")
def proj_colorspace_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization chain (ref: Yuv->Rgb->LinearRgb->Xyb,
    lib.rs:41-47,84-85). Text analog: trim -> lower -> whitespace collapse;
    md5 keeps the checked payload small."""
    docs = load(spark, sf_dir, "documents")
    canon = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    return docs.select("doc_id", F.md5(canon).alias("canon_md5"))


ORACLES["proj_colorspace_chain"] = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS canon_md5
FROM documents
"""


@q("proj_affine_normalize")
def proj_affine_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_positive_xyb affine (lib.rs:129-135): b' = (b - y) + 0.55;
    x' = 14x + 0.42; y' = y + 0.01 — b' reads PRE-update y. SQL snapshot
    semantics gives the pre-update read for free (single select computes
    all three from original columns; SURVEY §7.2 'sequential-mutation trap')."""
    li = load(spark, sf_dir, "lineitem")
    x, y, b = F.col("l_discount"), F.col("l_tax"), F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r6((b / 100000.0 - y) + 0.55).alias("b_norm"),
        r6(x * 14.0 + 0.42).alias("x_norm"),
        r6(y + 0.01).alias("y_norm"),
    )


ORACLES["proj_affine_normalize"] = """
SELECT l_orderkey, l_linenumber,
  ROUND((l_extendedprice/100000.0 - l_tax) + 0.55, 6) AS b_norm,
  ROUND(l_discount*14.0 + 0.42, 6) AS x_norm,
  ROUND(l_tax + 0.01, 6) AS y_norm
FROM lineitem
"""


@q("proj_planar_pivot")
def proj_planar_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AoS -> SoA pivot (xyb_to_planar lib.rs:137-155). Spark/Parquet are
    already columnar, so the pivot is a select of 3 derived channels."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("ch_len"),
        F.size(F.split(F.col("text"), " +")).alias("ch_tok"),
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), "[aeiou]", ""))).alias("ch_vowel"),
    )


ORACLES["proj_planar_pivot"] = """
SELECT doc_id,
  length(text) AS ch_len,
  len(regexp_split_to_array(text, ' +')) AS ch_tok,
  length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS ch_vowel
FROM documents
"""


@q("elementwise_product_join")
def elementwise_product_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image_multiply: out[i] = a[i]*b[i] over aligned planes
    (lib.rs:157-163). Spark: equi-join + product expression; part-side is
    broadcast (small dim)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            r6(F.col("l_quantity") * F.col("p_retailprice")).alias("prod"),
        )
    )


ORACLES["elementwise_product_join"] = """
SELECT l_orderkey, l_linenumber, ROUND(l_quantity * p_retailprice, 6) AS prod
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


@q("proj_bitdepth_cast")
def proj_bitdepth_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-depth normalizing casts (ref: u8/u16 -> f32 4-way dispatch,
    video.rs:413-446). Spark needs one cast — codegen specializes."""
    li = load(spark, sf_dir, "lineitem")
    v = F.col("l_quantity").cast("double")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r6(v / 255.0).alias("from_u8"),
        r6(v / 65535.0).alias("from_u16"),
    )


ORACLES["proj_bitdepth_cast"] = """
SELECT l_orderkey, l_linenumber,
  ROUND(CAST(l_quantity AS DOUBLE)/255.0, 6) AS from_u8,
  ROUND(CAST(l_quantity AS DOUBLE)/65535.0, 6) AS from_u16
FROM lineitem
"""


@q("proj_score_calibrate")
def proj_score_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score calibration (lib.rs:472-484): linear rescale, cubic polynomial,
    then 100 - 10*s^p for s>0 else 100."""
    ev = load(spark, sf_dir, "events")
    s0 = F.avg("value") / 100.0
    s1 = s0 * CALIB_LINEAR
    s2 = CALIB_CUBIC_3 * s1 * s1 * s1 + CALIB_CUBIC_2 * s1 * s1 + CALIB_CUBIC_1 * s1
    score = F.when(s2 > 0.0, 100.0 - 10.0 * F.pow(s2, CALIB_POW)).otherwise(F.lit(100.0))
    return ev.groupBy("user_id").agg(r6(score).alias("score")).orderBy("user_id")


ORACLES["proj_score_calibrate"] = f"""
SELECT user_id, ROUND(
  CASE WHEN s2 > 0 THEN 100.0 - 10.0 * POW(s2, {CALIB_POW!r}) ELSE 100.0 END, 6) AS score
FROM (
  SELECT user_id,
    {CALIB_CUBIC_3!r}*s1*s1*s1 + {CALIB_CUBIC_2!r}*s1*s1 + {CALIB_CUBIC_1!r}*s1 AS s2
  FROM (
    SELECT user_id, AVG(value)/100.0 * {CALIB_LINEAR!r} AS s1 FROM events GROUP BY user_id
  )
) ORDER BY user_id
"""


# --------------------------------------------------------------------------
# 2.3 Joins
# --------------------------------------------------------------------------


@q("paired_zip_check")
def paired_zip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-row invariant join (ref: elementwise zip of aligned planes
    lib.rs:157-163 + dimension guard lib.rs:49-51). Reference/candidate
    snapshots from a seeded split of documents; full-outer on the key,
    classes added/missing/mismatch/equal (≙ edge_diff signs lib.rs:281-289)."""
    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 < 8).select("doc_id", F.col("text").alias("ref_text"))
    cand = docs.filter(F.col("doc_id") % 10 >= 2).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text"))).otherwise(F.col("text")).alias("cand_text"),
    )
    j = ref.join(cand, "doc_id", "full_outer")
    cls = (
        F.when(F.col("ref_text").isNull(), F.lit("added"))
        .when(F.col("cand_text").isNull(), F.lit("missing"))
        .when(F.col("ref_text") == F.col("cand_text"), F.lit("equal"))
        .otherwise(F.lit("mismatch"))
    )
    return j.select(cls.alias("class")).groupBy("class").agg(F.count("*").alias("n"))


ORACLES["paired_zip_check"] = """
WITH ref AS (
  SELECT doc_id, text AS ref_text FROM documents WHERE doc_id % 10 < 8
), cand AS (
  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS cand_text
  FROM documents WHERE doc_id % 10 >= 2
)
SELECT class, COUNT(*) AS n FROM (
  SELECT CASE
    WHEN ref_text IS NULL THEN 'added'
    WHEN cand_text IS NULL THEN 'missing'
    WHEN ref_text = cand_text THEN 'equal'
    ELSE 'mismatch' END AS class
  FROM ref FULL OUTER JOIN cand USING (doc_id)
) GROUP BY class
"""


@q("join_full_outer_parity")
def join_full_outer_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Side-only rows are errors, not silently dropped (ref:
    NonMatchingImageDimensions lib.rs:20-22,49-51; frame-count mismatch
    warning video.rs:331-337)."""
    orders = load(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k")).distinct()
    li = load(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k")).distinct()
    j = orders.withColumn("l", F.lit(1)).join(li.withColumn("r", F.lit(1)), "k", "full_outer")
    side = (
        F.when(F.col("l").isNull(), F.lit("cand_only"))
        .when(F.col("r").isNull(), F.lit("ref_only"))
        .otherwise(F.lit("both"))
    )
    return j.select(side.alias("side")).groupBy("side").agg(F.count("*").alias("n"))


ORACLES["join_full_outer_parity"] = """
WITH l AS (SELECT DISTINCT o_orderkey AS k, 1 AS lf FROM orders),
     r AS (SELECT DISTINCT l_orderkey AS k, 1 AS rf FROM lineitem)
SELECT side, COUNT(*) AS n FROM (
  SELECT CASE WHEN lf IS NULL THEN 'cand_only'
              WHEN rf IS NULL THEN 'ref_only'
              ELSE 'both' END AS side
  FROM l FULL OUTER JOIN r USING (k)
) GROUP BY side
"""


@q("vocab_ref_integrity")
def vocab_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-vocabulary referential integrity (ref: enum parsers reject
    unknown tokens, video.rs:565-655). left_anti against a broadcast
    dimension restricted to n_nationkey < 20 so violations exist."""
    cust = load(spark, sf_dir, "customer")
    dim = load(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 20)
    bad = cust.join(F.broadcast(dim), cust.c_nationkey == dim.n_nationkey, "left_anti")
    return bad.groupBy(F.col("c_nationkey").alias("bad_key")).agg(F.count("*").alias("n_violations"))


ORACLES["vocab_ref_integrity"] = """
SELECT c_nationkey AS bad_key, COUNT(*) AS n_violations
FROM customer
WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey < 20)
GROUP BY c_nationkey
"""


# --------------------------------------------------------------------------
# 2.4 Aggregations
# --------------------------------------------------------------------------


@q("box_downsample_2x")
def box_downsample_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-clamped 2x box downsample (downscale_by_2 lib.rs:165-195; clamp
    duplicates the last element on odd dims, lib.rs:181-182). 1-D analog per
    order over the linenumber sequence: out = (v[2k] + v[min(2k+1, n-1)])/2
    == (v + coalesce(lead(v), v))/2 at even positions."""
    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the testdata — the extra
    # order keys make the row_number a total (deterministic) ordering
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_extendedprice", "l_quantity", "l_discount"
    )
    rn = (F.row_number().over(w) - 1).alias("rn")
    base = li.select("l_orderkey", F.col("l_quantity").alias("v"), rn)
    nxt = F.lead("v", 1, None).over(Window.partitionBy("l_orderkey").orderBy("rn"))
    return (
        base.withColumn("v2", (F.col("v") + F.coalesce(nxt, F.col("v"))) / 2.0)
        .filter(F.col("rn") % 2 == 0)
        .select(
            "l_orderkey",
            F.floor(F.col("rn") / 2).cast("int").alias("k"),
            r6("v2").alias("v_down"),
        )
    )


ORACLES["box_downsample_2x"] = """
WITH base AS (
  SELECT l_orderkey, l_quantity AS v,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_extendedprice, l_quantity, l_discount) - 1 AS rn
  FROM lineitem
)
SELECT l_orderkey, CAST(FLOOR(rn/2.0) AS INT) AS k,
       ROUND((v + COALESCE(LEAD(v) OVER (PARTITION BY l_orderkey ORDER BY rn), v))/2.0, 6) AS v_down
FROM base QUALIFY rn % 2 = 0
"""


@q("l1_l4_norms")
def l1_l4_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plane reduce norms (lib.rs:245-250): L1 = mean(d); L4 = mean(d^4)^0.25,
    f64 accumulation. Partial+final hash agg is automatic."""
    ev = load(spark, sf_dir, "events")
    d = F.col("value")
    return ev.groupBy("event_type").agg(
        r6(F.avg(d)).alias("l1"),
        r6(F.pow(F.avg(F.pow(d, 4)), 0.25)).alias("l4"),
    )


ORACLES["l1_l4_norms"] = """
SELECT event_type, ROUND(AVG(value), 6) AS l1,
       ROUND(POW(AVG(POW(value, 4)), 0.25), 6) AS l4
FROM events GROUP BY event_type
"""


@q("agg_weighted_score")
def agg_weighted_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sub-score reduce (lib.rs:456-470: sum of weight*abs(value)
    over a fixed trained table).

    The weight dim is a 5-row build-time constant, so the broadcast join
    is folded into a literal map lookup (guide §1.2: don't move data to
    make a decision a projection can make). element_at returns NULL for
    a type outside the table, which SUM skips — exactly the rows the
    oracle's inner join drops; the r05 bench flagged this query as a
    >2x outlier and the isolation A/B traced it to the per-call
    createDataFrame + broadcast build, not the aggregation."""
    ev = load(spark, sf_dir, "events")
    wmap = F.create_map(
        *[
            F.lit(x)
            for kv in [
                ("click", 0.05),
                ("view", 0.10),
                ("signup", 0.25),
                ("purchase", 0.45),
                ("error", 0.15),
            ]
            for x in kv
        ]
    )
    w = F.element_at(wmap, F.col("event_type"))
    return ev.agg(
        r6(F.sum(w * F.abs(F.col("value")))).alias("weighted_score")
    )


ORACLES["agg_weighted_score"] = """
WITH weights(event_type, w) AS (
  VALUES ('click', 0.05), ('view', 0.10), ('signup', 0.25), ('purchase', 0.45), ('error', 0.15)
)
SELECT ROUND(SUM(w * ABS(value)), 6) AS weighted_score
FROM events JOIN weights USING (event_type)
"""


@q("summary_stats")
def summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame score summary (video.rs:499-507): mean, median, stddev,
    p5, p95. Exact interpolated percentiles here for oracle parity; the
    engine's scale path uses mergeable sketches (percentile_approx /
    t-digest UDAF, operators/stats.py)."""
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    return ev.agg(
        r6(F.avg(v)).alias("mean_s"),
        r6(F.expr("percentile(value, 0.5)")).alias("median_s"),
        r6(F.stddev(v)).alias("stddev_s"),
        r6(F.expr("percentile(value, 0.05)")).alias("p5"),
        r6(F.expr("percentile(value, 0.95)")).alias("p95"),
    )


ORACLES["summary_stats"] = """
SELECT ROUND(AVG(value), 6) AS mean_s,
       ROUND(quantile_cont(value, 0.5), 6) AS median_s,
       ROUND(STDDEV(value), 6) AS stddev_s,
       ROUND(quantile_cont(value, 0.05), 6) AS p5,
       ROUND(quantile_cont(value, 0.95), 6) AS p95
FROM events
"""


@q("rolling_mean")
def rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental mean over arriving results (video.rs:492):
    cumulative avg per user over event order."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select("user_id", "event_id", r6(F.avg("value").over(w)).alias("running_mean"))


ORACLES["rolling_mean"] = """
SELECT user_id, event_id,
  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_mean
FROM events
"""


@q("uniqueness_check")
def uniqueness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-uniqueness check (ref: each frame index produced exactly once,
    video.rs:159-161,491). A seeded duplicate slice is unioned in so the
    check has positives; the engine's salted two-phase variant for hot keys
    lives in operators/structural.py."""
    li = load(spark, sf_dir, "lineitem")
    dups = li.filter(F.col("l_orderkey") % 97 == 0)
    return (
        li.unionByName(dups)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


ORACLES["uniqueness_check"] = """
SELECT l_orderkey, l_linenumber, COUNT(*) AS n FROM (
  SELECT l_orderkey, l_linenumber FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey % 97 = 0
) GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
"""


@q("count_min_guard")
def count_min_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-size admission guard (ref: reject < 8x8, lib.rs:53-55)."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n"),
        (F.count("*") >= 64).alias("passed"),
    )


ORACLES["count_min_guard"] = "SELECT COUNT(*) AS n, COUNT(*) >= 64 AS passed FROM lineitem"


@q("count_parity_guard")
def count_parity_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-cardinality guard between two inputs (lib.rs:49-51;
    video.rs:331-337)."""
    n_ref = load(spark, sf_dir, "orders").select(F.countDistinct("o_orderkey").alias("n_ref"))
    n_cand = load(spark, sf_dir, "lineitem").select(F.countDistinct("l_orderkey").alias("n_cand"))
    return n_ref.crossJoin(n_cand).select(
        "n_ref", "n_cand", (F.col("n_ref") == F.col("n_cand")).alias("passed")
    )


ORACLES["count_parity_guard"] = """
SELECT n_ref, n_cand, n_ref = n_cand AS passed FROM
  (SELECT COUNT(DISTINCT o_orderkey) AS n_ref FROM orders),
  (SELECT COUNT(DISTINCT l_orderkey) AS n_cand FROM lineitem)
"""


# --------------------------------------------------------------------------
# 2.5 Window functions (windowed local statistics = the blur)
# --------------------------------------------------------------------------


@q("windowed_moments")
def windowed_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed mean / second moment / variance (ref: blur of v, v^2 gives
    local mu and sigma^2, lib.rs:95-105) over rowsBetween(-R, R)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-RADIUS, RADIUS)
    mu = F.avg("value").over(w)
    m2 = F.avg(F.col("value") * F.col("value")).over(w)
    return ev.select(
        "user_id",
        "event_id",
        r6(mu).alias("mu"),
        r6(m2 - mu * mu).alias("var_v"),
    )


ORACLES["windowed_moments"] = f"""
SELECT user_id, event_id, ROUND(mu, 6) AS mu, ROUND(m2 - mu*mu, 6) AS var_v FROM (
  SELECT user_id, event_id,
    AVG(value) OVER w AS mu,
    AVG(value*value) OVER w AS m2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN {RADIUS} PRECEDING AND {RADIUS} FOLLOWING)
)
"""


@q("monotone_order_check")
def monotone_order_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotone ordering check (ref: strictly increasing claimed frame index
    video.rs:159-161; stateful ordered scans gaussian.rs:46-91). Violations
    where ts regresses vs the previous event of the same user."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    prev_ts = F.lag("ts").over(w)
    return (
        ev.select("user_id", "event_id", "ts", prev_ts.alias("prev_ts"))
        .filter(F.col("ts") < F.col("prev_ts"))
        .select("user_id", "event_id")
    )


ORACLES["monotone_order_check"] = """
SELECT user_id, event_id FROM (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
  FROM events
) WHERE ts < prev_ts
"""


# --------------------------------------------------------------------------
# 2.6 Sorts / limits / sampling
# --------------------------------------------------------------------------


@q("sort_by_key")
def sort_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result iteration in key order regardless of completion order
    (BTreeMap, video.rs:484-499)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


ORACLES["sort_by_key"] = "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type"


@q("stride_sample_limit")
def stride_sample_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skip/increment/frames sampling (video.rs:50-59,145-161,393-394):
    end = skip + frames*inc; deterministic bound instead of LIMIT so the
    plan stays fully parallel (no single-partition limit)."""
    skip, inc, frames = 100, 7, 500
    end = skip + frames * inc
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_id") >= skip)
        & ((F.col("event_id") - skip) % inc == 0)
        & (F.col("event_id") < end)
    ).select("event_id", "event_type")


ORACLES["stride_sample_limit"] = """
SELECT event_id, event_type FROM events
WHERE event_id >= 100 AND (event_id - 100) % 7 = 0 AND event_id < 100 + 500*7
"""


# --------------------------------------------------------------------------
# 2.8 Scalar function suites
# --------------------------------------------------------------------------


@q("math_scalar_suite")
def math_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fma/abs/max/pow/4th-root/clamp (lib.rs:238-250,275-295,472-484;
    gaussian.rs:64-77) — all Catalyst built-ins, whole-stage codegen'd."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r6(F.col("l_extendedprice") * F.col("l_discount") + F.col("l_tax")).alias("fma"),
        r6(F.abs(F.col("l_quantity") - 25.0)).alias("abs_dev"),
        r6(F.greatest(F.col("l_quantity") - 25.0, F.lit(0.0))).alias("relu"),
        r6(F.pow(F.col("l_discount"), 4)).alias("pow4"),
        r6(F.sqrt(F.sqrt(F.col("l_extendedprice")))).alias("root4"),
        r6(F.least(F.col("l_quantity"), F.lit(30.0))).alias("clamped"),
    )


ORACLES["math_scalar_suite"] = """
SELECT l_orderkey, l_linenumber,
  ROUND(l_extendedprice * l_discount + l_tax, 6) AS fma,
  ROUND(ABS(l_quantity - 25.0), 6) AS abs_dev,
  ROUND(GREATEST(l_quantity - 25.0, 0.0), 6) AS relu,
  ROUND(POW(l_discount, 4), 6) AS pow4,
  ROUND(SQRT(SQRT(l_extendedprice)), 6) AS root4,
  ROUND(LEAST(l_quantity, 30.0), 6) AS clamped
FROM lineitem
"""


@q("string_vocab_parse")
def string_vocab_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive token -> enum with alias + numeric fallback
    (parse_matrix/transfer/primaries, video.rs:565-655)."""
    ev = load(spark, sf_dir, "events")
    aliases = spark.createDataFrame(
        [
            ("click", "CLICK"),
            ("view", "VIEW"),
            ("signup", "SIGNUP"),
            ("register", "SIGNUP"),
            ("purchase", "PURCHASE"),
            ("buy", "PURCHASE"),
            ("error", "ERROR"),
            ("err", "ERROR"),
        ],
        ["tok", "canon"],
    )
    j = ev.join(F.broadcast(aliases), F.lower(ev.event_type) == F.col("tok"), "left")
    canon = F.coalesce(
        F.col("canon"),
        F.when(F.col("event_type").try_cast("int").isNotNull(), F.lit("NUMERIC")),
        F.lit("UNKNOWN"),
    )
    return j.select(canon.alias("canon")).groupBy("canon").agg(F.count("*").alias("n"))


ORACLES["string_vocab_parse"] = """
WITH aliases(tok, canon) AS (
  VALUES ('click','CLICK'), ('view','VIEW'), ('signup','SIGNUP'), ('register','SIGNUP'),
         ('purchase','PURCHASE'), ('buy','PURCHASE'), ('error','ERROR'), ('err','ERROR')
)
SELECT COALESCE(canon,
         CASE WHEN TRY_CAST(event_type AS INT) IS NOT NULL THEN 'NUMERIC' END,
         'UNKNOWN') AS canon,
       COUNT(*) AS n
FROM events LEFT JOIN aliases ON lower(event_type) = tok
GROUP BY 1
"""


@q("string_path_ext")
def string_path_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-extension dispatch (.vpy -> script decoder, video.rs:203-207).
    Synthesized path per document; extension extracted and counted."""
    docs = load(spark, sf_dir, "documents")
    path = F.concat(F.lit("/data/"), F.col("source"), F.lit("/doc."), F.col("lang"))
    ext = F.regexp_extract(path, r"\.([a-z]+)$", 1)
    return docs.select(ext.alias("ext")).groupBy("ext").agg(F.count("*").alias("n"))


ORACLES["string_path_ext"] = r"""
SELECT regexp_extract('/data/' || source || '/doc.' || lang, '\.([a-z]+)$', 1) AS ext,
       COUNT(*) AS n
FROM documents GROUP BY 1
"""


@q("date_epoch_name")
def date_epoch_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-stamped run naming (SystemTime epoch secs, video.rs:513-518);
    session timezone pinned to UTC so epoch math is stable."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_format("ts", "yyyy-MM-dd HH").alias("bucket"),
    )


ORACLES["date_epoch_name"] = """
SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS epoch_s,
       strftime(ts, '%Y-%m-%d %H') AS bucket
FROM events
"""


@q("format_fixed")
def format_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point formatting '{:.8}' / '{:.2}' (main.rs:205,
    video.rs:488-507)."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.format_string("%.8f", F.avg("value")).alias("mean_8f"),
        F.format_string("%.2f", F.max("value")).alias("max_2f"),
    )


ORACLES["format_fixed"] = """
SELECT event_type, printf('%.8f', AVG(value)) AS mean_8f, printf('%.2f', MAX(value)) AS max_2f
FROM events GROUP BY event_type
"""


@q("build_const_fold")
def build_const_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-time constant folding (build.rs:24-117; weight-normalization
    assert build.rs:81-82). All kernel taps / calibration constants are
    computed once in Python (constants.py) and enter plans as literals;
    Catalyst's ConstantFolding collapses the rest."""
    taps_sum = float(sum(KERNEL_TAPS))
    return spark.range(1).select(
        F.lit(C2).alias("c2"),
        F.lit(RADIUS).alias("radius"),
        r6(F.lit(taps_sum)).alias("kernel_norm"),
        F.lit(len(KERNEL_TAPS)).alias("n_taps"),
    )


ORACLES["build_const_fold"] = f"""
SELECT {C2!r} AS c2, {RADIUS} AS radius,
       ROUND({float(sum(KERNEL_TAPS))!r}, 6) AS kernel_norm, {len(KERNEL_TAPS)} AS n_taps
"""


@q("order_unique_fused")
def order_unique_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 FUSED ordering+uniqueness operator
    (checks.order_unique_violations): one scan + one (conv, turn-chunk)
    exchange+sort serves both the monotone-ordering lag and the
    duplicate-key count (≙ strictly-increasing frame index +
    unique-frame claim, video.rs:159-161). Driver data: events mapped to
    transcript shape with deterministic injected faults — ts regressions
    (event_id % 89) and duplicated keys (event_id % 101). Tiny
    monotone_chunk_turns exercises the cross-chunk boundary summary at
    driver scale; the DuckDB oracle uses the equivalent whole-conversation
    window (chunked == whole-window is property-pinned)."""
    from pyspark.sql.window import Window

    from ..config import CheckSuiteConfig
    from ..operators.checks import order_unique_violations, prepare

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(F.col("event_type"), F.lit(":"), F.col("props")).alias("text"),
        F.col("event_type").alias("tool"),
        F.when(
            F.col("event_id") % 89 == 0, F.col("ts") - F.expr("INTERVAL 10 DAYS")
        ).otherwise(F.col("ts")).alias("ts"),
        "event_id",
    )
    cand = base.unionByName(base.filter(F.col("event_id") % 101 == 0)).drop("event_id")
    cfg = CheckSuiteConfig(n_buckets=8, monotone_chunk_turns=8)
    v = order_unique_violations(prepare(cand, cfg), cfg, do_unique=True, do_mono=True)
    return v.select(
        "check_id",
        "conv_id",
        "turn_idx",
        "class",
        F.when(F.col("check_id") == "uniqueness", F.col("observed")).alias("observed"),
    )


ORACLES["order_unique_fused"] = """
WITH base AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         CASE WHEN event_id % 89 = 0 THEN ts - INTERVAL 10 DAY ELSE ts END AS ts2,
         event_id
  FROM events
), cand AS (
  SELECT conv_id, turn_idx, ts2 FROM base
  UNION ALL
  SELECT conv_id, turn_idx, ts2 FROM base WHERE event_id % 101 = 0
), mono AS (
  SELECT conv_id, turn_idx, ts2,
         LAG(ts2) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_ts
  FROM cand
), uniq AS (
  SELECT conv_id, turn_idx, COUNT(*) AS n
  FROM cand GROUP BY conv_id, turn_idx HAVING COUNT(*) > 1
)
SELECT 'monotone_ts' AS check_id, conv_id, turn_idx, 'invalid' AS class,
       CAST(NULL AS VARCHAR) AS observed
FROM mono WHERE ts2 < prev_ts
UNION ALL
SELECT 'uniqueness', conv_id, turn_idx, 'invalid', 'count=' || n
FROM uniq
"""
