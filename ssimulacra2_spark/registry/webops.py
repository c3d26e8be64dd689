"""Round-5c web-pipeline operators: the remaining curation stages a
100 TB training-data pipeline runs between raw crawl and tokenizer.

Nine ops, each with a full DuckDB oracle:

- bloom_membership_guard — contamination check through a CONSTANT-SIZE
  Bloom bitset (128 x 64-bit words) instead of broadcasting the full
  benchmark n-gram set (contamination_ngram, roundops.py). At 100 TB the
  benchmark shingle set can be GBs; the Bloom filter is a fixed ~1 KB
  broadcast regardless of benchmark size, at the cost of an explicit
  false-positive rate. Guaranteed no false negatives (pytest-pinned
  against contamination_ngram's exact overlap).
- quality_quantile_filter — per-language quality gate at a LEARNED
  threshold (exact 25th percentile), the data-calibrated form of the
  fixed-threshold quality_score gate (textops.py).
- boilerplate_segments — C4-style cross-corpus segment dedup: fixed
  8-token segments hashed and counted across ALL documents; segments in
  >= 2 distinct docs are boilerplate (nav bars, license headers).
- dedup_semantic — SemDeDup (Abbas et al. 2023): k-means-cell-bucketed
  cosine near-dup detection. Pairs are only formed WITHIN a coarse
  cluster — the clusters bound the candidate sets, never all-pairs.
- domain_mix_sample — deterministic hash sampling to a target per-source
  mixture (the "data mixing" stage of corpus assembly).
- split_leakage_guard — train/test split by stable hash + MinHash-LSH
  near-dup pairs that CROSS the split (eval-set leakage detection).
- perplexity_proxy — CCNet-style LM quality filter (Wenzek et al. 2020):
  add-1-smoothed bigram LM trained on the train split, mean log-prob
  per document.
- ft_hash_classifier — fastText-shape hashed linear classifier (Joulin
  et al. 2017); inference is a zero-shuffle pure projection.
- corpus_rollup — data-card statistics via ROLLUP grouping sets.

All hash arithmetic is dialect-neutral (shared polynomial token hash /
multiplicative doc-id hash) so DuckDB evaluates the identical pipeline.
Reference analog: the reference validates each stage of its scoring
pipeline against a second implementation (ssimulacra2 lib.rs tests);
these ops extend that contract to the data-curation surface.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import load, load_spread, r6, shared_sql
from .dedup import _minhash_ctes
from .ivf import _cell_expr, _lit_duck, _lit_spark
from .roundops import _BENCH_MOD, _BENCH_REM, _TOK_HASH

QUERIES = {}
ORACLES = {}

# Dialect-neutral helpers -------------------------------------------------

_DUCK_TOKPOS = """
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, ' +'), t -> t <> '')) AS token,
         generate_subscripts(list_filter(regexp_split_to_array(text, ' +'), t -> t <> ''), 1) - 1 AS pos
  FROM documents
"""

# Knuth-style multiplicative doc-id hash, pre-reduced mod 2^31-1 so the
# product stays inside int64 even for 10^12-scale ids (the 100 TB case).
def _dochash(b: int, m: int) -> str:
    return f"((doc_id % 2147483647) * 2654435761 + {b}) % {m}"


# --------------------------------------------------------------------------
# 1. Bloom-filter membership guard
# --------------------------------------------------------------------------

_BLOOM_M = 7680  # 128 words x 60 bits (60 keeps every mask positive in int64)
_BLOOM_AB = ((2654435761, 1013904223), (2246822519, 374761393), (3266489917, 668265263))


def _shingle_expr_spark() -> str:
    th = _TOK_HASH.format(t="toks[i + {k}]")
    return (
        f"(CAST({th.format(k=0)} AS BIGINT) * 961"
        f" + CAST({th.format(k=1)} AS BIGINT) * 31"
        f" + CAST({th.format(k=2)} AS BIGINT)) % 2147483647"
    )


def shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, h): per-document DISTINCT token 3-shingle hashes.

    The per-doc dedup is array_distinct INSIDE the projection — a global
    .distinct() here would shuffle the whole corpus on (doc_id, h);
    row-local dedup is equivalent (h is scoped to one doc) and keeps the
    pipeline STATELESS, which is what lets the identical chain run on a
    document STREAM (streaming/validate_stream.py::bloom_probe_stream)."""
    return (
        docs.select(
            "doc_id",
            F.expr("filter(split(text, ' +'), t -> t <> '')").alias("toks"),
        )
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(0, size(toks) - 3),"
                    f" i -> {_shingle_expr_spark()}))"
                )
            ).alias("h"),
        )
    )


def build_bloom(sh: DataFrame) -> DataFrame:
    """Fold shingle hashes into the 128-row (word, bits) Bloom bitset via
    a map-side-combinable bit_or — fixed size regardless of input."""
    entries = F.array(
        *[
            F.expr(
                f"struct(((h * {a} + {b}) % {_BLOOM_M}) DIV 60 AS word, "
                f"shiftleft(CAST(1 AS BIGINT), CAST(((h * {a} + {b}) % {_BLOOM_M}) % 60 AS INT)) AS mask)"
            )
            for a, b in _BLOOM_AB
        ]
    )
    return (
        sh.select(F.explode(entries).alias("e"))
        .select("e.word", "e.mask")
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def probe_bloom(cand: DataFrame, bloom: DataFrame) -> DataFrame:
    """Per-shingle membership probe: derive (word, mask) columns for the
    k hash functions (no extra explode) and meet the bitset through
    three BROADCAST left joins; appends boolean `hit`. Stateless — works
    identically on a batch corpus and as a stream-static join."""
    for i, (a, b) in enumerate(_BLOOM_AB):
        cand = cand.withColumn(
            f"w{i}", F.expr(f"((h * {a} + {b}) % {_BLOOM_M}) DIV 60")
        ).withColumn(
            f"m{i}",
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(((h * {a} + {b}) % {_BLOOM_M}) % 60 AS INT))"),
        )
    for i in range(len(_BLOOM_AB)):
        cand = cand.join(
            F.broadcast(bloom.select(F.col("word").alias(f"w{i}"), F.col("bits").alias(f"b{i}"))),
            f"w{i}",
            "left",
        )
    hit = reduce(
        lambda x, y: x & y,
        [
            F.coalesce(F.col(f"b{i}"), F.lit(0)).bitwiseAND(F.col(f"m{i}")) == F.col(f"m{i}")
            for i in range(len(_BLOOM_AB))
        ],
    )
    return cand.withColumn("hit", hit)


@(lambda fn: (QUERIES.__setitem__("bloom_membership_guard", fn), fn)[1])
def bloom_membership_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination through a constant-size Bloom bitset.

    Scale shape: the benchmark's shingles are folded into a 128-row
    (word, bits) table via a map-side-combinable bit_or — the filter's
    size is FIXED by (M, k), independent of the benchmark corpus, so the
    broadcast stays ~1 KB where contamination_ngram's exact set grows
    with the benchmark. The candidate side is a pure STATELESS
    projection (row-local array_distinct shingle dedup — no corpus
    shuffle on content — plus three derived (word, mask) columns per
    shingle) met by three broadcast joins; the only corpus shuffle is
    the final uniform groupBy(doc_id). k=3 hashes, M=7680 bits. The
    probe chain also runs unchanged on a document stream as a
    stream-static join (validate_stream.py::bloom_probe_stream,
    stream == batch pinned in test_streaming.py)."""
    docs = load_spread(spark, sf_dir, "documents")
    sh = shingle_rows(docs)
    is_bench = F.col("doc_id") % _BENCH_MOD == _BENCH_REM
    bloom = build_bloom(sh.filter(is_bench))
    probed = probe_bloom(sh.filter(~is_bench), bloom)
    agg = (
        probed.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.col("hit").cast("int")).cast("long").alias("n_bloom_hits"),
        )
        .filter(F.col("n_bloom_hits") > 0)
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_bloom_hits",
        (F.col("n_bloom_hits") * 2 >= F.col("n_shingles")).alias("maybe_contaminated"),
    )


def _bloom_oracle() -> str:
    duck_th = _TOK_HASH.format(t="token")
    bpos = "\nUNION ALL\n".join(
        f"  SELECT ((h * {a} + {b}) % {_BLOOM_M}) AS p FROM bench" for a, b in _BLOOM_AB
    )
    wm = ", ".join(
        f"((h * {a} + {b}) % {_BLOOM_M}) // 60 AS w{i}, "
        f"(CAST(1 AS BIGINT) << CAST(((h * {a} + {b}) % {_BLOOM_M}) % 60 AS INT)) AS m{i}"
        for i, (a, b) in enumerate(_BLOOM_AB)
    )
    joins = "\n  ".join(
        f"LEFT JOIN bloom g{i} ON g{i}.word = c.w{i}" for i in range(len(_BLOOM_AB))
    )
    present = " AND ".join(
        f"(COALESCE(g{i}.bits, 0) & c.m{i}) = c.m{i}" for i in range(len(_BLOOM_AB))
    )
    return f"""
WITH tok AS ({_DUCK_TOKPOS}),
th AS (SELECT doc_id, pos, CAST({duck_th} AS BIGINT) AS h FROM tok),
sh AS (
  SELECT DISTINCT a.doc_id, (a.h * 961 + b.h * 31 + c.h) % 2147483647 AS h
  FROM th a
  JOIN th b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN th c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % {_BENCH_MOD} = {_BENCH_REM}),
bpos AS (
{bpos}
),
bloom AS (
  SELECT p // 60 AS word, bit_or(CAST(1 AS BIGINT) << CAST(p % 60 AS INT)) AS bits
  FROM bpos GROUP BY p // 60
),
cand AS (
  SELECT doc_id, h, {wm}
  FROM sh WHERE doc_id % {_BENCH_MOD} <> {_BENCH_REM}
),
j AS (
  SELECT c.doc_id, CASE WHEN {present} THEN 1 ELSE 0 END AS hit
  FROM cand c
  {joins}
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_shingles, CAST(SUM(hit) AS BIGINT) AS n_bloom_hits
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_bloom_hits,
       (n_bloom_hits * 2 >= n_shingles) AS maybe_contaminated
FROM agg WHERE n_bloom_hits > 0
"""


ORACLES["bloom_membership_guard"] = _bloom_oracle()


# --------------------------------------------------------------------------
# 2. Per-language quantile quality gate
# --------------------------------------------------------------------------

_QSTOPS = ["the", "and", "of", "a", "to"]  # same markers as quality_score


@(lambda fn: (QUERIES.__setitem__("quality_quantile_filter", fn), fn)[1])
def quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate at a per-language LEARNED threshold: keep documents
    whose score clears that language's exact 25th percentile.

    Scale shape: two passes — pass 1 is a tiny per-language aggregate
    (one row per language; at 100 TB the exact percentile would be a
    t-digest quantile, functions/tdigest.py — exact here so DuckDB's
    quantile_cont verifies the full pipeline), broadcast back; pass 2 is
    one scan + broadcast join + uniform groupBy(lang). No corpus-sized
    shuffle. The percentile is computed from score doubles built by the
    IDENTICAL expression in both engines, so threshold comparisons see
    bit-identical operands."""
    docs = load_spread(spark, sf_dir, "documents")
    text = F.col("text")
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    n_stop = None
    for m in _QSTOPS:
        sub = f" {m} "
        term = (F.length(padded) - F.length(F.replace(padded, F.lit(sub)))) / len(sub)
        n_stop = term if n_stop is None else n_stop + term
    n_tok = F.size(F.filter(F.split(text, " +"), lambda t: t != ""))
    score = n_stop / n_tok + F.length(text) / (n_tok * F.lit(10.0))
    scored = docs.filter(n_tok > 0).select("doc_id", "lang", score.alias("score"))
    thr = scored.groupBy("lang").agg(F.expr("percentile(score, 0.25)").alias("thr"))
    return (
        scored.join(F.broadcast(thr), "lang")
        .groupBy("lang", "thr")
        .agg(
            F.count("*").alias("n_total"),
            F.sum((F.col("score") >= F.col("thr")).cast("int")).cast("long").alias("n_kept"),
        )
        .select(
            "lang",
            r6("thr").alias("q25_threshold"),
            "n_total",
            "n_kept",
            (F.col("n_total") - F.col("n_kept")).alias("n_dropped"),
        )
    )


def _qqf_oracle() -> str:
    terms = " + ".join(
        f"((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' {m} ', ''))) / {len(m) + 2})"
        for m in _QSTOPS
    )
    ntok = "len(list_filter(regexp_split_to_array(text, ' +'), t -> t <> ''))"
    return f"""
WITH s AS (
  SELECT doc_id, lang,
         ({terms}) / {ntok} + length(text) / ({ntok} * 10.0) AS score
  FROM documents WHERE {ntok} > 0
),
t AS (SELECT lang, quantile_cont(score, 0.25) AS thr FROM s GROUP BY lang)
SELECT s.lang, ROUND(thr, 6) AS q25_threshold,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN score >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COUNT(*) - CAST(SUM(CASE WHEN score >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM s JOIN t ON t.lang = s.lang
GROUP BY s.lang, thr
"""


ORACLES["quality_quantile_filter"] = _qqf_oracle()


# --------------------------------------------------------------------------
# 3. C4-style boilerplate segment dedup
# --------------------------------------------------------------------------

_SEG = 8  # tokens per segment
_SEG_W = [31**k for k in range(_SEG)]  # positional weights, max 31^7 ~ 2.75e10
# token hash reduced mod 100003 so seg hash = sum(th2 * w) stays < 2^63
_TH2 = (
    "((CAST(ascii({t}) AS BIGINT) * 1000003"
    " + length({t}) * 10007 + ascii(reverse({t})) * 101) % 100003)"
)


@(lambda fn: (QUERIES.__setitem__("boilerplate_segments", fn), fn)[1])
def boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus segment dedup (C4's line-dedup shape on newline-free
    text): fixed 8-token segments, positional polynomial hash, global
    distinct-doc count per segment; segments seen in >= 2 documents are
    boilerplate and their tokens are dropped from the doc's kept count.

    Scale shape: segmenting is a PURE PROJECTION (transform over
    sequence + zip_with against a literal weight array — no token
    explode, no self-join); the only shuffles are the global
    groupBy(seg_hash) count (uniform 63-bit key) and the join back on
    the same key — the canonical two-shuffle shape of C4 line dedup.
    At 100 TB the count table is reusable across runs (it's the corpus
    boilerplate dictionary)."""
    docs = load_spread(spark, sf_dir, "documents")
    weights = "array(" + ", ".join(f"{w}L" for w in _SEG_W) + ")"
    th2 = _TH2.format(t="t")
    segexpr = (
        f"transform(sequence(0, (size(toks) DIV {_SEG}) - 1), s -> "
        f"aggregate(zip_with(slice(toks, s * {_SEG} + 1, {_SEG}), {weights}, "
        f"(t, w) -> {th2} * w), 0L, (acc, v) -> acc + v))"
    )
    segs = (
        docs.select(
            "doc_id", F.expr("filter(split(text, ' +'), t -> t <> '')").alias("toks")
        )
        .filter(F.size("toks") >= _SEG)
        .select("doc_id", F.explode(F.expr(segexpr)).alias("h"))
    )
    cnt = segs.groupBy("h").agg(F.count_distinct("doc_id").alias("ndocs"))
    boiler = F.sum((F.col("ndocs") >= 2).cast("int")).cast("long")
    return (
        segs.join(cnt, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_segments"), boiler.alias("n_boilerplate"))
        .select(
            "doc_id",
            "n_segments",
            "n_boilerplate",
            ((F.col("n_segments") - F.col("n_boilerplate")) * _SEG).alias("tokens_kept"),
        )
    )


def _boiler_oracle() -> str:
    th2 = _TH2.format(t="token")
    wcase = "CASE CAST(pos % 8 AS INT) " + " ".join(
        f"WHEN {k} THEN {w}" for k, w in enumerate(_SEG_W)
    ) + " END"
    return f"""
WITH tok AS ({_DUCK_TOKPOS}),
seg AS (
  SELECT doc_id, pos // {_SEG} AS s, CAST(SUM({th2} * ({wcase})) AS BIGINT) AS h
  FROM tok GROUP BY doc_id, pos // {_SEG} HAVING COUNT(*) = {_SEG}
),
cnt AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM seg GROUP BY h)
SELECT seg.doc_id, COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       (COUNT(*) - CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)) * {_SEG} AS tokens_kept
FROM seg JOIN cnt ON cnt.h = seg.h
GROUP BY seg.doc_id
"""


ORACLES["boilerplate_segments"] = _boiler_oracle()


# --------------------------------------------------------------------------
# 4. SemDeDup: cluster-bucketed semantic dedup
# --------------------------------------------------------------------------

# Data-calibrated demo threshold: the synthetic embeddings are isotropic
# gaussian (max pairwise cosine ~0.51 at sf0.01), so the "near-dup" bar sits
# where real corpora would use ~0.95. The pipeline is threshold-agnostic.
_SEM_TAU = 0.25
# Most candidate pairs one exact fold-order recompute holds at once: a
# row block can yield ~2^20 candidates on duplicate-dense cells, and their
# gathered Xi/Xj rows would be ~0.5-1 GB of float64 per task.
_SEM_CAND_CHUNK = 1 << 18

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)
_DOT_DUCK = "list_sum([CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) for z in list_zip({a}, {b})])"
_NRM = "aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
_NRM_DUCK = "list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in {a}])"


@(lambda fn: (QUERIES.__setitem__("dedup_semantic", fn), fn)[1])
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): assign embeddings
    to coarse k-means cells (the IVF centroids, ivf.py), then detect
    cosine near-dups only WITHIN a cell; a vector is dropped when a
    lower-id same-cell vector sits above the threshold.

    Scale shape: the cell assignment is a pure projection (argmin over
    broadcast centroid literals); the pair join is equi-keyed on cell —
    at 100 TB the table is bucketed by cell so the join is
    co-partitioned, and the per-cell candidate sets bound the quadratic
    term (n/k per cell vs n all-pairs). The quadratic stage must pay ONE
    single-pass dot per pair and nothing else; the shape that achieves
    it was bought by measurement (ARCHITECTURE §7b):

    - each vector is normalized ONCE, BEHIND A MATERIALIZATION BARRIER
      (localCheckpoint — at 100 TB this is the written
      normalized+assigned table every ANN pipeline persists anyway).
      Without the barrier, Catalyst's filter pushdown INLINES the
      normalization into the join condition and re-evaluates it PER
      PAIR: 27.7-44.5 s at sf0.1/32c for the no-barrier forms vs 8.2 s
      warm end-to-end with it, identical results.
    - the per-pair dot stays a zip_with/aggregate FOLD: measured 1.6 s
      for 250k pairs vs 6.6 s for an expanded 64-term element_at chain
      (the single-pass fold beats per-element GetArrayItem/cast codegen
      here — the OPPOSITE of the round-5b PQ argmin lesson, where the
      bloat was 16 redundant copies of the distance expression; the
      rule is "measure the expression shape", not "lambdas are slow");
    - the tau threshold is applied as CONDITIONAL AGGREGATION (min/max
      over CASE WHEN cos >= tau), not a row filter: a row filter gets
      pushed into the join condition and the fold re-evaluates per
      candidate there and again in the survivor projection — measured
      15.6 s vs 6.3 s warm for the identical result.

    The drop decision uses the ROUNDED cosine on both engines, so flag
    parity inherits the rounding-parity machinery (ADVICE r04).

    r06 execution shape (guide §4.2): the cell assignment stays the
    Catalyst argmin projection, but the per-cell all-pairs stage moves
    into applyInPandas — whole cells hand their vectors to numpy once,
    instead of evaluating a 64-term Catalyst fold per PAIR (the sf1.0
    cell join put ~25M fold evaluations through 8 join keys: 593 s;
    numpy computes the same dot products vectorized in ~2 s). Arithmetic
    is BIT-EXACT with the old plan: normalization and dot products
    accumulate dimension-sequentially (the same left-to-right IEEE order
    as the zip_with/aggregate fold), and rounding replicates Spark's
    shortest-repr BigDecimal HALF_UP (suspects within 1e-6 of a half
    boundary fall back to decimal.Decimal; the fast path is floor-based).
    Each cell is additionally fanned out over kb-blocks (vec_id % NB) so
    parallelism is cells x NB, not 8 tasks."""
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    cell = F.expr(_cell_expr("embedding", _lit_spark))
    assigned = emb.select("vec_id", "embedding", cell.alias("cell"))
    nb = max(1, spark.sparkContext.defaultParallelism // 8)
    rep = assigned.withColumn(
        "blk", F.explode(F.array(*[F.lit(i) for i in range(nb)]))
    )
    tau, eps = _SEM_TAU, 5.0123e-8  # _util.EPS6 (r6 adds it before rounding)
    chunk = _SEM_CAND_CHUNK

    def sem_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame(
            {
                "vec_dup": pd.Series(dtype="int64"),
                "cell": pd.Series(dtype="int32"),
                "keeper": pd.Series(dtype="int64"),
                "max_cosine": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        blk = int(pdf["blk"].iloc[0])
        cell_id = int(pdf["cell"].iloc[0])
        ids = pdf["vec_id"].to_numpy(np.int64)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        n, d = X.shape
        # dimension-sequential accumulation == the Catalyst fold order
        n2 = np.zeros(n)
        for k in range(d):
            n2 += X[:, k] * X[:, k]
        NX = X / np.sqrt(n2)[:, None]
        NXT = np.ascontiguousarray(NX.T)

        def r6_1d(y: "np.ndarray") -> "np.ndarray":
            z = y * 1e6
            f = np.floor(z)
            frac = z - f
            r = np.where(frac >= 0.5, f + 1.0, f) / 1e6 + 0.0
            sus = np.abs(frac - 0.5) < 1e-6
            if sus.any():
                from decimal import ROUND_HALF_UP, Decimal

                q = Decimal("0.000001")
                for t in np.nonzero(sus)[0]:
                    r[t] = float(
                        Decimal(repr(float(y[t]))).quantize(q, ROUND_HALF_UP)
                    )
            return r

        J = np.nonzero(ids % nb == blk)[0]
        if not len(J):
            return empty
        idsj = ids[J]
        NXTj = NXT[:, J]
        # any pair that could round to >= tau satisfies C >= tau - 5.5e-7
        # (half-up adds <= 5e-7, the EPS6 nudge 5.01e-8); rounding is then
        # applied only to this sparse candidate set, exactly as before
        pre_thr = tau - 1e-6
        # BLAS prefilter + exact sequential recompute: the dense n x |J|
        # cosine matrix is computed with dgemm (summation order
        # unspecified, error <= d*ulp ~ 1.4e-14 for unit vectors), the
        # prefilter margin is widened by 1e-9 >> that error so the
        # candidate superset provably contains every pair the sequential
        # prefilter would keep, and the VALUE that reaches rounding is
        # recomputed for the sparse candidates with the same
        # dimension-sequential accumulation as the Catalyst fold — the
        # declared result is therefore bit-identical to the pure-loop
        # form (pinned by tests/test_properties.py::
        # test_semdedup_blas_prefilter_matches_fold). Row-blocked so the
        # dgemm output stays allocation-bounded, and the recompute runs
        # over at most `chunk` candidates at a time.
        rb = max(32, (1 << 20) // max(1, len(J)))
        cka, ckb, crr = [], [], []
        for r0 in range(0, n, rb):
            r1 = min(r0 + rb, n)
            Cb = NX[r0:r1] @ NXTj
            pre = (Cb >= pre_thr - 1e-9) & (ids[r0:r1, None] < idsj[None, :])
            ii_all, jj_all = np.nonzero(pre)
            for c0 in range(0, len(ii_all), chunk):
                ii, jj = ii_all[c0 : c0 + chunk], jj_all[c0 : c0 + chunk]
                # exact fold-order dot for the candidates only
                Xi = NX[r0 + ii]
                Xj = NXTj[:, jj]
                C = np.zeros(len(ii))
                for k in range(d):
                    C += Xi[:, k] * Xj[k]
                R = r6_1d(C + eps)
                keep = R >= tau
                if keep.any():
                    cka.append(ids[r0:r1][ii[keep]])
                    ckb.append(idsj[jj[keep]])
                    crr.append(R[keep])
        if not cka:
            return empty
        ka = np.concatenate(cka)
        kb = np.concatenate(ckb)
        rr = np.concatenate(crr)
        df = pd.DataFrame({"vec_dup": kb, "keeper": ka, "max_cosine": rr})
        agg = df.groupby("vec_dup", sort=False).agg(
            keeper=("keeper", "min"), max_cosine=("max_cosine", "max")
        )
        out = agg.reset_index()
        out.insert(1, "cell", np.int32(cell_id))
        return out.astype(
            {"vec_dup": "int64", "cell": "int32", "keeper": "int64", "max_cosine": "float64"}
        )

    return rep.groupBy("cell", "blk").applyInPandas(
        sem_cell, "vec_dup bigint, cell int, keeper bigint, max_cosine double"
    )


def _semdedup_oracle() -> str:
    cell = _cell_expr("embedding", _lit_duck)
    nrm = _NRM_DUCK.format(a="embedding")
    nx = f"list_transform(embedding, v -> CAST(v AS DOUBLE) / SQRT({nrm}))"
    dot = _DOT_DUCK.format(a="x.nx", b="y.nx")
    return f"""
WITH a AS (SELECT vec_id, {nx} AS nx, ({cell}) AS cell FROM embeddings),
p AS (
  SELECT x.vec_id AS ka, y.vec_id AS kb, x.cell,
         ROUND({dot}, 6) AS cos
  FROM a x JOIN a y ON y.cell = x.cell AND x.vec_id < y.vec_id
)
SELECT kb AS vec_dup, cell,
       MIN(CASE WHEN cos >= {_SEM_TAU!r} THEN ka END) AS keeper,
       MAX(CASE WHEN cos >= {_SEM_TAU!r} THEN cos END) AS max_cosine
FROM p
GROUP BY kb, cell
HAVING MIN(CASE WHEN cos >= {_SEM_TAU!r} THEN ka END) IS NOT NULL
"""


ORACLES["dedup_semantic"] = _semdedup_oracle()


# --------------------------------------------------------------------------
# 5. Deterministic domain-mixture sampling
# --------------------------------------------------------------------------

_MIX_HMOD = 1000003


@(lambda fn: (QUERIES.__setitem__("domain_mix_sample", fn), fn)[1])
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: sample each source at a rate that steers the corpus
    toward a target per-source mixture (target weight 1 + src_num % 4,
    normalized), with a DETERMINISTIC per-document hash so the sample is
    reproducible and join-stable across runs — the property random()
    sampling loses.

    Scale shape: pass 1 is a per-source count (tiny: one row per
    source); rates derive from that table joined against its own 1-row
    total (broadcast x broadcast); pass 2 is one corpus scan + broadcast
    rate join + uniform groupBy(source). The doc hash pre-reduces
    doc_id mod 2^31-1 so the multiplicative hash never overflows int64
    at 10^12-row scale."""
    docs = load(spark, sf_dir, "documents")
    # try_cast (ADVICE r05): a source id not shaped like 'srcN' must not
    # kill the job under ANSI mode — it coalesces to the default weight
    # bucket instead. Identical on every valid id, Spark-side only (the
    # oracle text is untouched; DuckDB CAST never throws here on the
    # 'srcN' contract the fixtures satisfy).
    w = 1 + F.coalesce(
        F.expr("TRY_CAST(substring(source, 4) AS INT)"), F.lit(0)
    ) % 4
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs")).withColumn(
        "w", w.cast("double")
    )
    tot = counts.agg(
        F.sum("n_docs").alias("n_total"), F.sum("w").alias("w_total")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.col("w") / F.col("w_total")) * F.col("n_total") / F.col("n_docs"),
        ).alias("rate"),
    )
    u = F.expr(f"({_dochash(1013904223, _MIX_HMOD)}) / {float(_MIX_HMOD)!r}")
    kept = (
        docs.join(F.broadcast(rates), "source")
        .select("source", "n_docs", "rate", (u < F.col("rate")).cast("int").alias("keep"))
        .groupBy("source", "n_docs", "rate")
        .agg(F.sum("keep").cast("long").alias("n_kept"))
    )
    return kept.select(
        "source", "n_docs", "n_kept", r6("rate").alias("sample_rate")
    )


def _mix_oracle() -> str:
    return f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(1 + CAST(substr(source, 4) AS INT) % 4 AS DOUBLE) AS w
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS n_total, SUM(w) AS w_total FROM counts),
rates AS (
  SELECT source, n_docs,
         LEAST(1.0, (w / w_total) * n_total / n_docs) AS rate
  FROM counts, tot
)
SELECT d.source, r.n_docs,
       CAST(SUM(CASE WHEN ({_dochash(1013904223, _MIX_HMOD)}) / {float(_MIX_HMOD)!r} < r.rate
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(r.rate, 6) AS sample_rate
FROM documents d JOIN rates r ON r.source = d.source
GROUP BY d.source, r.n_docs, r.rate
"""


ORACLES["domain_mix_sample"] = _mix_oracle()


# --------------------------------------------------------------------------
# 6. Train/test split leakage guard
# --------------------------------------------------------------------------


def _leakage_sql(dialect: str) -> str:
    """Near-dup pairs (MinHash-LSH candidates, dedup.py pipeline) that
    cross a deterministic 10% train/test split — the eval-leakage scan a
    pipeline runs before publishing a held-out set. Generated as ONE SQL
    string for both engines (shared_sql pattern), so Spark/DuckDB parity
    is true by construction.

    Scale shape: inherits the LSH shape (uniform (band, bkey) self-join,
    never all-pairs); the split labels are a pure projection joined onto
    the pair table by doc_id (uniform key)."""
    return f"""
WITH {_minhash_ctes(dialect)},
spl AS (
  SELECT doc_id,
         CASE WHEN ({_dochash(374761393, 10)}) = 0 THEN 'test' ELSE 'train' END AS split
  FROM documents
)
SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
FROM pairs p
JOIN spl sa ON sa.doc_id = p.doc_a
JOIN spl sb ON sb.doc_id = p.doc_b
WHERE sa.split <> sb.split
"""


def _split_leakage_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r06 shape: the candidate pairs come from the salted, DISTINCT-free
    pair engine (dedup._lsh_pairs_df — the old generated-SQL form put the
    sf1.0 mega bucket through one task and then two pair-table joins:
    792 s), and the split labels are PROJECTED from doc_a/doc_b — split
    is a deterministic hash of doc_id, so joining the pair table back to
    `documents` twice bought nothing.

    Cross-split pruning INSIDE the join (guide §3.2): only pairs whose
    docs land in different splits are declared, and split is a
    deterministic doc_id hash — so instead of generating every candidate
    pair and filtering ~82% away, run the pair join once per direction
    with each side pre-filtered (train-probe x test-build, then
    test-probe x train-build). Every cross-split pair has exactly one
    (smaller-id side, larger-id side) split assignment, so the union is
    exactly the filtered pair set; per bucket the probe loop now does
    |train| x |test| comparisons instead of |bucket|^2 (~5.5x fewer at a
    10% test rate). The signature table is checkpointed once and shared
    by both directions. Identical rows to the oracle SQL."""
    from .dedup import _lsh_pairs_df, _sigs_df

    def is_test(col: str):
        return F.expr(f"({_dochash(374761393, 10).replace('doc_id', col)}) = 0")

    def is_train(col: str):
        return ~is_test(col)

    sk0 = _sigs_df(spark, sf_dir).hint("rebalance").localCheckpoint()
    tr_te = _lsh_pairs_df(
        spark, sf_dir, sk0=sk0, probe_pred=is_train, build_pred=is_test
    ).select(
        "doc_a", "doc_b", F.lit("train").alias("split_a"), F.lit("test").alias("split_b")
    )
    te_tr = _lsh_pairs_df(
        spark, sf_dir, sk0=sk0, probe_pred=is_test, build_pred=is_train
    ).select(
        "doc_a", "doc_b", F.lit("test").alias("split_a"), F.lit("train").alias("split_b")
    )
    return tr_te.unionByName(te_tr)


QUERIES["split_leakage_guard"] = _split_leakage_df
QUERIES["split_leakage_guard"].__doc__ = _leakage_sql.__doc__
ORACLES["split_leakage_guard"] = _leakage_sql("duck")


# --------------------------------------------------------------------------
# 7. CCNet-style bigram-LM perplexity proxy
# --------------------------------------------------------------------------


@(lambda fn: (QUERIES.__setitem__("perplexity_proxy", fn), fn)[1])
def perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality filter (the CCNet recipe, Wenzek et al. 2020):
    train an add-1-smoothed bigram LM on the train split, score every
    document by its mean log-probability — low scores mark
    out-of-distribution text.

    Scale shape: bigram extraction is a PURE PROJECTION (transform over
    sequence — no token self-join); the LM tables are tiny (|V|^2 and
    |V| rows) built by uniform-key map-side-combinable counts and
    BROADCAST back, so scoring is one corpus scan + broadcast lookups +
    a uniform groupBy(doc_id). At web scale the LM side would be
    hash-pruned to the top-k contexts; the plan shape is unchanged."""
    docs = load_spread(spark, sf_dir, "documents")
    big = (
        docs.select(
            "doc_id",
            F.expr("filter(split(text, ' +'), t -> t <> '')").alias("toks"),
        )
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> struct(toks[i] AS t1, toks[i + 1] AS t2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.t1", "b.t2")
    )
    is_test = F.expr(f"({_dochash(374761393, 10)}) = 0")
    train = big.filter(~is_test)
    c2 = train.groupBy("t1", "t2").agg(F.count("*").alias("n2"))
    c1 = train.groupBy("t1").agg(F.count("*").alias("n1"))
    v = c1.agg(F.count("*").cast("double").alias("v"))
    scored = (
        big.join(F.broadcast(c2), ["t1", "t2"], "left")
        .join(F.broadcast(c1), "t1", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("n2"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("n1"), F.lit(0)) + F.col("v"))
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), r6(F.avg("logp")).alias("avg_logp")
    )


def _ppl_oracle() -> str:
    return f"""
WITH tok AS ({_DUCK_TOKPOS}),
big AS (
  SELECT a.doc_id, a.token AS t1, b.token AS t2
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
train AS (SELECT * FROM big WHERE ({_dochash(374761393, 10)}) <> 0),
c2 AS (SELECT t1, t2, COUNT(*) AS n2 FROM train GROUP BY t1, t2),
c1 AS (SELECT t1, COUNT(*) AS n1 FROM train GROUP BY t1),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM c1)
SELECT big.doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(ln(CAST(COALESCE(n2, 0) + 1 AS DOUBLE)
                    / (COALESCE(n1, 0) + v.v))), 6) AS avg_logp
FROM big
LEFT JOIN c2 ON c2.t1 = big.t1 AND c2.t2 = big.t2
LEFT JOIN c1 ON c1.t1 = big.t1
CROSS JOIN v
GROUP BY big.doc_id
"""


ORACLES["perplexity_proxy"] = _ppl_oracle()


# --------------------------------------------------------------------------
# 8. fastText-style hashed linear classifier (inference as a projection)
# --------------------------------------------------------------------------

_FT_D = 256
_FT_GAIN = 10.0


def _ft_weights() -> list[float]:
    """Frozen seeded weight table (a trained model would be broadcast;
    frozen literals let DuckDB evaluate the identical inference)."""
    import random

    rng = random.Random(20260817)
    return [round(rng.uniform(-0.5, 0.5), 6) for _ in range(_FT_D)]


_FT_W = _ft_weights()


def _ft_sql(dialect: str) -> str:
    """fastText-shape text classifier (Joulin et al. 2017): hashed
    unigram + bigram features, mean of the feature-bucket weights
    through a sigmoid. INFERENCE IS A PURE PROJECTION — the weight
    table rides inside the expression (broadcast of the model at
    scale), so classification runs scan-parallel with ZERO shuffles and
    no per-row Python. The label comes from the ROUNDED score on both
    engines (rounding-parity rule)."""
    spark_side = dialect == "spark"
    w = (
        "array(" + ", ".join(f"{x!r}D" for x in _FT_W) + ")"
        if spark_side
        else "[" + ", ".join(repr(x) for x in _FT_W) + "]"
    )
    tokf = (
        "filter(split(text, ' +'), t -> t <> '')"
        if spark_side
        else "list_filter(regexp_split_to_array(text, ' +'), t -> t <> '')"
    )
    el = (lambda c, i: f"{c}[{i}]") if spark_side else (lambda c, i: f"{c}[{i} + 1]")
    th = (
        "(CAST(ascii({t}) AS BIGINT) * 1000003"
        " + length({t}) * 10007 + ascii(reverse({t})) * 101)"
    )
    uni_h = f"({th.format(t='t')} % {_FT_D})"
    big_h = (
        f"((CAST({th.format(t=el('toks', 'i'))} AS BIGINT) * 31"
        f" + {th.format(t=el('toks', 'i + 1'))}) % {_FT_D})"
    )
    if spark_side:
        uni = (
            f"aggregate(toks, 0D, (acc, t) ->"
            f" acc + element_at(w, CAST({uni_h} AS INT) + 1))"
        )
        bigr = (
            f"aggregate(transform(sequence(0, n_tok - 2),"
            f" i -> element_at(w, CAST({big_h} AS INT) + 1)),"
            " 0D, (acc, x) -> acc + x)"
        )
    else:
        uni = f"list_sum([w[{uni_h} + 1] for t in toks])"
        bigr = f"list_sum(list_transform(range(0, n_tok - 1), i -> w[{big_h} + 1]))"
    return f"""
WITH wt AS (SELECT {w} AS w),
d AS (
  SELECT doc_id, toks, {'size(toks)' if spark_side else 'len(toks)'} AS n_tok
  FROM (SELECT doc_id, {tokf} AS toks FROM documents) t0
  WHERE {'size(toks)' if spark_side else 'len(toks)'} >= 2
),
s AS (
  SELECT doc_id, n_tok,
         (({uni}) + ({bigr})) / (2 * n_tok - 1) AS raw
  FROM d CROSS JOIN wt
)
SELECT doc_id, CAST(2 * n_tok - 1 AS BIGINT) AS n_features,
       ROUND(1.0 / (1.0 + exp(-{_FT_GAIN!r} * raw)), 6) AS score,
       (ROUND(1.0 / (1.0 + exp(-{_FT_GAIN!r} * raw)), 6) >= 0.5) AS pred
FROM s
"""


QUERIES["ft_hash_classifier"] = lambda spark, sf_dir: shared_sql(
    spark, sf_dir, _ft_sql("spark"), ["documents"], spread=["documents"]
)
QUERIES["ft_hash_classifier"].__doc__ = _ft_sql.__doc__
ORACLES["ft_hash_classifier"] = _ft_sql("duck")


# --------------------------------------------------------------------------
# 9. Corpus data-card rollup
# --------------------------------------------------------------------------


@(lambda fn: (QUERIES.__setitem__("corpus_rollup", fn), fn)[1])
def corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card rollup: per-(source, lang), per-source, and corpus-total
    document/token/char statistics in ONE pass via ROLLUP grouping sets
    — the summary table every released dataset ships.

    Scale shape: Spark plans rollup as Expand (3 rows per input row
    here) + one uniform-key hash aggregation with a map-side partial
    phase — still a single scan, no join, no window. NULL group markers
    are the cross-engine rollup convention and compare cleanly in the
    driver's hash (both engines emit SQL NULL)."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), " +"), lambda t: t != ""))
    base = docs.select("source", "lang", n_tok.alias("n_tok"), F.length("text").alias("n_ch"))
    return (
        base.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            r6(F.avg("n_ch")).alias("avg_chars"),
        )
    )


ORACLES["corpus_rollup"] = """
WITH base AS (
  SELECT source, lang,
         len(list_filter(regexp_split_to_array(text, ' +'), t -> t <> '')) AS n_tok,
         length(text) AS n_ch
  FROM documents
)
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       ROUND(AVG(n_ch), 6) AS avg_chars
FROM base
GROUP BY ROLLUP(source, lang)
"""
