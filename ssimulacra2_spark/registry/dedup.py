"""Deduplication operators over the documents table.

Large-scale training-data pipeline ops: exact dedup, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup. All hash arithmetic uses a
dialect-neutral token hash (ascii/length/reverse-based polynomial) so the
DuckDB oracle can evaluate the identical pipeline — no engine-specific
hash functions in the checked path. The scale path is noted per query.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._util import load, load_spread, shared_sql

QUERIES = {}
ORACLES = {}

# Deterministic MinHash parameters (seeded; analog of build-time constant
# folding — computed once on the driver, embedded as literals).
_P = 2147483647  # Mersenne prime 2^31 - 1

# Demo config for the DuckDB-checked registry entries: 8 hashes, 2 bands x
# 4 rows (precision-heavy — the verify stage downstream is
# dedup_ngram_jaccard). PRODUCTION recall needs far more permutations:
# minhash_params(128, 16) gives the standard 128-perm / 16-band x 8-row
# config — every SQL below is generated from params, so the scale config
# is one argument away; only the demo values are oracle-pinned.
_NUM_HASHES = 8
_BANDS = 2


def minhash_params(num_hashes: int = _NUM_HASHES, bands: int = _BANDS, seed: int = 42):
    """Seeded (a, b) coefficient pairs for `num_hashes` permutations of
    h(x) = (a*x + b) mod P, grouped into `bands` bands."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rng = random.Random(seed)
    ab = [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]
    return ab, num_hashes // bands


_AB, _ROWS_PER_BAND = minhash_params()

# Dialect-neutral token hash: cheap, deterministic, SQL-expressible in both
# engines. (At scale the engine would use xxhash64; the checked demo needs a
# function BOTH engines share.)
# Leading CAST: codepoint * 1000003 must not overflow int32 on non-Latin-1
# tokens (Spark ANSI; see tests/test_hash_parity.py)
_TOKHASH = (
    "(CAST(ascii(token) AS BIGINT) * 1000003"
    " + length(token) * 10007 + ascii(reverse(token)) * 101)"
)


def _tokens_sql(table: str = "documents") -> str:
    """One row per (doc_id, distinct non-empty token)."""
    return f"""
SELECT DISTINCT doc_id, token FROM (
  SELECT doc_id, explode(split(text, ' +')) AS token FROM {table}
) WHERE token <> ''
"""


def _tokens_sql_duck(table: str = "documents") -> str:
    return f"""
SELECT DISTINCT doc_id, token FROM (
  SELECT doc_id, unnest(regexp_split_to_array(text, ' +')) AS token FROM {table}
) t WHERE token <> ''
"""


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


@(lambda fn: (QUERIES.__setitem__("dedup_exact", fn), fn)[1])
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the full text. At 100 TB: group on
    md5(text) (fixed-width shuffle key, uniform distribution — no skew),
    never on the raw payload; duplicates then verified within group."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_md5"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
    )


ORACLES["dedup_exact"] = """
SELECT md5(text) AS text_md5, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def _minhash_sig_exprs(ab) -> list[str]:
    # th is reduced mod P before the permutation multiply so a * th stays
    # inside int64 for full-Unicode token hashes (a < P ~ 2^31, th % P <
    # 2^31 -> product < 2^62); a no-op for any hash already below P, i.e.
    # all ASCII tokens (tests/test_hash_parity.py pins the Unicode path)
    return [
        f"MIN(({a} * (th % {_P}) + {b}) % {_P}) AS sig{i}"
        for i, (a, b) in enumerate(ab)
    ]


def _minhash_ctes(
    dialect: str, num_hashes: int = _NUM_HASHES, bands: int = _BANDS
) -> str:
    """CTE chain ending in `pairs(doc_a, doc_b)` — shared by the pair query
    and the cluster query; parameterized so production configs (e.g.
    128 hashes / 16 bands) reuse the identical pipeline."""
    ab, rows_per_band = minhash_params(num_hashes, bands)
    tokens = _tokens_sql() if dialect == "spark" else _tokens_sql_duck()
    sigs = ", ".join(_minhash_sig_exprs(ab))
    band_keys = []
    for b in range(bands):
        parts = " || '_' || ".join(
            f"CAST(sig{b * rows_per_band + i} AS STRING)" for i in range(rows_per_band)
        )
        band_keys.append(f"{parts} AS band{b}")
    band_cols = ", ".join(band_keys)
    band_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, band{b} AS bkey FROM sigs" for b in range(bands)
    )
    cast_str = "STRING" if dialect == "spark" else "VARCHAR"
    band_cols = band_cols.replace("STRING", cast_str)
    return f"""tok AS ({tokens}),
th AS (SELECT doc_id, CAST({_TOKHASH} AS BIGINT) AS th FROM tok),
rawsigs AS (SELECT doc_id, {sigs} FROM th GROUP BY doc_id),
sigs AS (SELECT doc_id, {band_cols} FROM rawsigs),
bands AS ({band_union}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)"""


def _minhash_sql(dialect: str) -> str:
    return f"""
WITH {_minhash_ctes(dialect)}
SELECT doc_a, doc_b FROM pairs
"""


def _star_edges_ctes(
    dialect: str, num_hashes: int = _NUM_HASHES, bands: int = _BANDS
) -> str:
    """CTE chain ending in `edges(u, v)` — the LINEAR connectivity graph.

    A band bucket of k near-identical docs induces k*(k-1)/2 candidate
    pairs; materializing them is quadratic in clique size (measured: 5k
    synthetic docs -> 4.3M pairs). Connectivity does NOT need the clique:
    connect every bucket member to the bucket's min doc_id (a star). The
    connected components — and therefore cluster ids and keepers — are
    identical, with |edges| <= docs x bands. Parameterized like
    _minhash_ctes so the production LSH config reuses the pipeline."""
    return f"""{_minhash_ctes(dialect, num_hashes=num_hashes, bands=bands)},
hubs AS (
  SELECT band, bkey, MIN(doc_id) AS hub FROM bands GROUP BY band, bkey
),
star AS (
  SELECT DISTINCT b.doc_id AS u, h.hub AS v
  FROM bands b JOIN hubs h ON b.band = h.band AND b.bkey = h.bkey
  WHERE b.doc_id <> h.hub
),
edges AS (
  SELECT u, v FROM star
  UNION
  SELECT v AS u, u AS v FROM star
)"""


# --------------------------------------------------------------------------
# Shared signature pipeline (r06 optimization; guide §2.4 / §2.3)
#
# The generated CTE chain computed signatures through a corpus-wide
# DISTINCT (doc_id, token) shuffle plus a num_hashes-expression hash
# aggregate, and the `bands` UNION ALL re-computed that whole subtree
# once PER BAND (Spark inlines CTEs: the prod plan carried 68 Exchanges).
# _sigs_df below computes the signatures exactly once, with no token
# DISTINCT (MIN is duplicate-insensitive) and every hot expression in
# whole-stage codegen. The oracle keeps the CTE form (DuckDB
# materializes CTEs); results are identical by construction (same hash
# arithmetic, per-doc scope).
# --------------------------------------------------------------------------


def _sigs_df(
    spark: SparkSession, sf_dir: str, num_hashes: int = _NUM_HASHES, bands: int = _BANDS
) -> DataFrame:
    """(doc_id, keys): per-document band-key strings, computed ONCE.

    Two lessons bought by measurement this round:
    - the corpus-wide DISTINCT (doc_id, token) is unnecessary for
      minhash: MIN is duplicate-insensitive, so the token dedup shuffle
      is dropped outright;
    - a fully row-local array_min/transform form was tried first and is
      a trap: higher-order lambdas do NOT whole-stage-codegen, and with
      no shuffle below it the whole 128-permutation evaluation ran
      INTERPRETED on the 2-4 parquet scan tasks (thread dump: 4 threads
      in UnaryExpression.eval). This form keeps every hot expression in
      codegen: explode + scalar hash + 128 declarative MINs.

    The doc_id repartition both parallelizes the scan stage (the sf1.0
    corpus is ~2 input splits) and pre-clusters the aggregation, so the
    groupBy reuses the exchange instead of adding a second one.
    keys[b] == CAST(sig_{b*rpb} AS STRING) || '_' || ... — byte-identical
    to the CTE chain's band columns."""
    ab, rpb = minhash_params(num_hashes, bands)
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    tok = docs.select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' +'), t -> t <> '')")).alias("token"),
    )
    # th % P is reduced once; a * hm + b stays inside int64 (see
    # _minhash_sig_exprs)
    thd = tok.select("doc_id", F.expr(f"CAST({_TOKHASH} AS BIGINT) % {_P}").alias("hm"))
    aggs = [
        F.min(F.expr(f"({a} * hm + {b}) % {_P}")).alias(f"sig{i}")
        for i, (a, b) in enumerate(ab)
    ]
    sigs = thd.groupBy("doc_id").agg(*aggs)
    band_keys = [
        F.concat_ws(
            "_", *[F.col(f"sig{b * rpb + i}").cast("string") for i in range(rpb)]
        )
        for b in range(bands)
    ]
    return sigs.select("doc_id", F.array(*band_keys).alias("keys"))


def _pair_salt(spark: SparkSession) -> int:
    """Deterministic salt fan-out for bucket self-joins: scale-adaptive
    (defaultParallelism locally = SPARK_GRAFT_CPUS; executor count on a
    cluster), never a hard-coded local constant."""
    return max(8, spark.sparkContext.defaultParallelism)


def _lsh_pairs_df(
    spark: SparkSession,
    sf_dir: str,
    sk0: DataFrame | None = None,
    probe_pred=None,
    build_pred=None,
) -> DataFrame:
    """DISTINCT candidate pairs at the demo config (2 bands) with no
    pair-level shuffle and no unsplittable hot key.

    The old shape self-joined `bands` on (band, bkey) and DISTINCTed the
    pair list: one near-dup mega-bucket (23k docs at sf1.0) put ~265M
    pair-products through a single task (AQE cannot split one key), then
    shuffled ~570M pairs again for the DISTINCT — measured 1046 s at
    sf1.0. This form fixes both (guide §2.5 / §2.3):

    - SALT: the probe side carries pmod(xxhash64(doc_id), S); the build
      side is exploded S ways, so a bucket of k docs becomes S balanced
      (band, bkey, salt) keys instead of one hot key.
    - FIRST-COLLISION-BAND dedup instead of DISTINCT: a pair found in
      band b is emitted only if the two docs do NOT share the band-0
      bucket (for b > 0). Each pair is emitted exactly once, so the
      global DISTINCT (a full shuffle of every pair) disappears; band
      keys are compared as exact strings — no hashing, no false drops.

    split_leakage_guard reuses this pair engine and projects its split
    labels directly from doc_a/doc_b (they are deterministic hashes of
    doc_id — no join back to the corpus needed).

    The signature table is CHECKPOINTED once: the probe and build sides
    are two references to the same subtree, and without materialization
    each re-executes the whole signature pipeline (the CTE-inlining
    lesson again, this time at the DataFrame layer). O(docs) state,
    AQE-rebalanced partitions.

    probe_pred / build_pred (each a fn: column-name -> boolean Column on
    doc_id) pre-filter the respective join side. A caller that only wants
    pairs whose two docs fall in DISJOINT doc classes (split_leakage_guard:
    train x test) can run one join per direction instead of filtering the
    full pair output: the probe loop then does |A_bucket| x |B_bucket|
    comparisons per bucket instead of |bucket|^2 (guide §3.2 — pre-filter
    the join sides, not the join output)."""
    S = _pair_salt(spark)
    if sk0 is None:
        sk0 = _sigs_df(spark, sf_dir).hint("rebalance").localCheckpoint()

    def bands_long(side: str, pred) -> DataFrame:
        sk = sk0
        if pred is not None:
            sk = sk.filter(pred("doc_id"))
        return sk.select(
            F.col("doc_id").alias(f"doc_{side}"),
            F.col("keys")[0].alias(f"k0_{side}"),
            F.posexplode("keys").alias("band", f"bkey_{side}"),
        )

    a = bands_long("a", probe_pred).withColumn(
        "salt", F.pmod(F.xxhash64("doc_a"), F.lit(S)).cast("int")
    )
    b = bands_long("b", build_pred).withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(S)]))
    )
    cond = (
        (a["band"] == b["band"])
        & (a["bkey_a"] == b["bkey_b"])
        & (a["salt"] == b["salt"])
        & (a["doc_a"] < b["doc_b"])
        & ((a["band"] == 0) | (a["k0_a"] != b["k0_b"]))
    )
    return a.join(b.hint("shuffle_hash"), cond).select("doc_a", "doc_b")


QUERIES["dedup_minhash_lsh"] = lambda spark, sf_dir: _lsh_pairs_df(spark, sf_dir)
QUERIES["dedup_minhash_lsh"].__doc__ = (
    "MinHash+LSH near-dup: token shingles -> 8 minhash signatures -> 2 "
    "bands of 4 rows -> salted bucket self-join for candidate pairs, "
    "deduplicated across bands by the first-collision-band rule (no "
    "global DISTINCT, no unsplittable hot bucket key — see _lsh_pairs_df). "
    "Signatures are a row-local projection (zero exchanges). Demo hash is "
    "dialect-neutral so the DuckDB oracle runs the identical pipeline."
)
ORACLES["dedup_minhash_lsh"] = _minhash_sql("duck")


# --------------------------------------------------------------------------
# SimHash (16-bit demo; engine uses 64-bit at scale)
# --------------------------------------------------------------------------

_SIMHASH_BITS = 16


def _simhash_sql(dialect: str) -> str:
    tokens = _tokens_sql() if dialect == "spark" else _tokens_sql_duck()
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (th >> {j}) % 2 = 1 THEN 1 ELSE -1 END) AS bs{j}"
        for j in range(_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN bs{j} > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(_SIMHASH_BITS)
    )
    return f"""
WITH tok AS ({tokens}),
th AS (SELECT doc_id, CAST({_TOKHASH} AS BIGINT) AS th FROM tok),
bits AS (SELECT doc_id, {bit_sums} FROM th GROUP BY doc_id),
sh AS (SELECT doc_id, {combine} AS simhash FROM bits)
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM sh GROUP BY simhash HAVING COUNT(*) > 1
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r06 shape: the per-document fingerprint is a row-local projection —
    the bit votes are scoped to one doc's distinct tokens, so the corpus
    (doc_id, token) DISTINCT shuffle and the 16-sum hash aggregate both
    collapse into array expressions; the only remaining shuffle is the
    uniform fingerprint groupBy. Identical rows to the oracle SQL (the
    vote sum 2*|set bits| - |tokens| == sum of +1/-1). The doc_id
    repartition spreads the interpreted per-doc array passes over all
    cores (the sf1.0 corpus is ~2 input splits)."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    th = _TOKHASH.replace("token", "t")
    combine = " + ".join(
        f"(CASE WHEN 2 * size(filter(hs, h -> (h >> {j}) % 2 = 1)) - size(hs) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(_SIMHASH_BITS)
    )
    sh = (
        docs.select(
            "doc_id",
            F.expr("array_distinct(filter(split(text, ' +'), t -> t <> ''))").alias(
                "toks"
            ),
        )
        .filter(F.size("toks") > 0)
        .select(
            "doc_id", F.expr(f"transform(toks, t -> CAST({th} AS BIGINT))").alias("hs")
        )
        .select("doc_id", F.expr(combine).alias("simhash"))
    )
    return (
        sh.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
    )


QUERIES["dedup_simhash"] = _simhash_df
QUERIES["dedup_simhash"].__doc__ = (
    "SimHash near-dup: per-token hash bits vote +1/-1, sign -> fingerprint "
    "bit; identical fingerprints bucket together. The fingerprint is a "
    "row-local projection (no token shuffle); the fingerprint groupBy is "
    "a uniform shuffle key."
)
ORACLES["dedup_simhash"] = _simhash_sql("duck")


# --------------------------------------------------------------------------
# n-gram Jaccard
# --------------------------------------------------------------------------


@(lambda fn: (QUERIES.__setitem__("dedup_ngram_jaccard", fn), fn)[1])
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard between candidate pairs. Demo pairs: consecutive
    doc_ids (at scale, candidates come from LSH buckets — never all pairs;
    this op is the verify stage downstream of dedup_minhash_lsh)."""
    docs = load_spread(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.array_distinct(F.filter(F.split("text", " +"), lambda t: t != "")).alias("toks"),
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = toks.select((F.col("doc_id") - 1).alias("doc_a"), F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    j = a.join(b, "doc_a")
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size(F.array_union("ta", "tb"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(1.0))
    from ._util import r6
    return j.select("doc_a", "doc_b", r6(jac).alias("jaccard"))


ORACLES["dedup_ngram_jaccard"] = """
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(regexp_split_to_array(text, ' +'), t -> t <> '')) AS toks
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  ROUND(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) > 0
        THEN CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
           / len(list_distinct(list_concat(a.toks, b.toks)))
        ELSE 1.0 END, 6) AS jaccard
FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-dup
# --------------------------------------------------------------------------


@(lambda fn: (QUERIES.__setitem__("dedup_embedding_cosine", fn), fn)[1])
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity between candidate embedding pairs (consecutive
    vec_ids as demo candidates). Dot products via zip_with/aggregate fold —
    pure Catalyst expressions, left-to-right f64 accumulation (deterministic,
    matches the oracle's list_sum fold)."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select((F.col("vec_id") - 1).alias("vec_a"), F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    j = a.join(b, "vec_a")
    dot = F.expr(
        "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )
    na = F.expr("aggregate(ea, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    nb = F.expr("aggregate(eb, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    cos = dot / (F.sqrt(na) * F.sqrt(nb))
    from ._util import r6
    return j.select("vec_a", "vec_b", r6(cos).alias("cosine"))


def _minhash_prod_sql(dialect: str) -> str:
    """The PRODUCTION LSH shape: 128 permutations, 16 bands x 8 rows
    (similarity threshold ~(1/16)^(1/8) ~= 0.71) — same generated pipeline
    as the demo config, one parameter change. Emits per-band bucket sizes
    + the candidate-pair count so the checked output stays small while the
    full 128-sig aggregation and band join actually execute."""
    return f"""
WITH {_minhash_ctes(dialect, num_hashes=128, bands=16)}
SELECT COUNT(*) AS n_candidate_pairs,
       COUNT(DISTINCT doc_a) AS n_docs_with_dup
FROM pairs
"""


def _lsh_prod_counts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair statistics at the production config WITHOUT
    materializing a single doc-level pair.

    The old shape ran the full pair pipeline and counted: at sf1.0 that
    is ~2.0B bucket pair-products through hot keys plus a global
    DISTINCT — measured 480 s. Three exact decompositions replace it:

    1. SIGNATURE-CLASS compression: docs with identical 128-sig vectors
       (== identical 16 band keys) collide in every band; group them
       once (50k docs -> ~34k classes at sf1.0; the 17.9k-doc mega
       bucket is a handful of classes). Intra-class pairs are counted
       analytically as m*(m-1)/2 — no enumeration.
    2. Inter-class pairs: salted class-level bucket self-join (classes
       per bucket are ~3 orders smaller than docs per bucket), each
       colliding class pair counted once via the first-collision-band
       rule (exact string compare of earlier band keys, broadcast from
       the small class table) and weighted m_u * m_v.
    3. n_docs_with_dup == COUNT(DISTINCT doc_a) == docs that are the
       smaller element of >= 1 pair == docs smaller than their bucket
       max in >= 1 band: a window max over the doc-level band table —
       LINEAR, no pairs at all.
    """
    S = max(4, _pair_salt(spark) // 4)
    # checkpoint the signature table and the class table: sk is referenced
    # by the n_docs branch and the class groupBy, and cls by FIVE separate
    # subtrees (intra, both join sides, both key tables) — without
    # materialization each reference re-ran the whole 128-permutation
    # signature pipeline (measured: the full query cost ~5x the signature
    # stage alone at both sf0.1 and sf1). Both are O(docs) state.
    sk = _sigs_df(spark, sf_dir, num_hashes=128, bands=16).hint(
        "rebalance"
    ).localCheckpoint()

    # -- doc_a distinct count (linear) ------------------------------------
    from pyspark.sql.window import Window

    doc_bands = sk.select("doc_id", F.posexplode("keys").alias("band", "bkey"))
    mx = F.max("doc_id").over(Window.partitionBy("band", "bkey"))
    n_docs = (
        doc_bands.withColumn("mx", mx)
        .filter(F.col("doc_id") < F.col("mx"))
        .select("doc_id")
        .distinct()
        .agg(F.count("*").alias("n_docs_with_dup"))
    )

    # -- class table ------------------------------------------------------
    cls = (
        sk.groupBy("keys")
        .agg(F.min("doc_id").alias("cid"), F.count("*").alias("m"))
        .localCheckpoint()
    )
    intra = cls.agg(
        F.coalesce(F.sum(F.col("m") * (F.col("m") - 1) / 2), F.lit(0.0))
        .cast("long")
        .alias("n_intra")
    )

    def cls_bands(side: str) -> DataFrame:
        return cls.select(
            F.col("cid").alias(f"cid_{side}"),
            F.col("m").alias(f"m_{side}"),
            F.posexplode("keys").alias("band", f"bkey_{side}"),
        )

    a = cls_bands("a").withColumn(
        "salt", F.pmod(F.xxhash64("cid_a"), F.lit(S)).cast("int")
    )
    b = cls_bands("b").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(S)]))
    )
    cond = (
        (a["band"] == b["band"])
        & (a["bkey_a"] == b["bkey_b"])
        & (a["salt"] == b["salt"])
        & (a["cid_a"] < b["cid_b"])
    )
    pairs = a.join(b.hint("shuffle_hash"), cond).select(
        "cid_a", "cid_b", a["band"].alias("band"), "m_a", "m_b"
    )
    # first-collision-band: exact earlier-key comparison via the (small)
    # class-key table, attached by broadcast — no pair shuffle. Filter
    # form bought by measurement (sf1.0, 231M emissions): a 16-arm
    # unrolled CASE ran at ~10 µs/emission (76 s); this flat 15-term
    # conjunction with a per-band xxhash64 PRE-TEST runs the same exact
    # comparison in 12 s. The hash test is exact in the keep direction
    # (hash inequality proves key inequality); hash equality falls
    # through to the full string comparison, so no pair is ever dropped
    # or kept on a hash collision. zip_with/exists lambdas were rejected
    # first: higher-order functions bypass whole-stage codegen.
    withh = cls.withColumn("hk", F.expr("transform(keys, k -> xxhash64(k))"))
    keys_a = withh.select(
        F.col("cid").alias("cid_a"), F.col("keys").alias("keys_a"), F.col("hk").alias("ha")
    )
    keys_b = withh.select(
        F.col("cid").alias("cid_b"), F.col("keys").alias("keys_b"), F.col("hk").alias("hb")
    )
    from functools import reduce as _reduce

    first_band = _reduce(
        lambda x, y: x & y,
        [
            (F.col("band") <= j)
            | F.expr(f"ha[{j}] != hb[{j}] OR keys_a[{j}] != keys_b[{j}]")
            for j in range(15)
        ],
    )
    inter = (
        pairs.join(F.broadcast(keys_a), "cid_a")
        .join(F.broadcast(keys_b), "cid_b")
        .filter(first_band)
        .agg(
            F.coalesce(F.sum(F.col("m_a") * F.col("m_b")), F.lit(0))
            .cast("long")
            .alias("n_inter")
        )
    )
    return (
        intra.crossJoin(inter)
        .crossJoin(n_docs)
        .select(
            (F.col("n_intra") + F.col("n_inter")).alias("n_candidate_pairs"),
            F.col("n_docs_with_dup"),
        )
    )


QUERIES["dedup_minhash_lsh_prod"] = lambda spark, sf_dir: _lsh_prod_counts_df(
    spark, sf_dir
)
QUERIES["dedup_minhash_lsh_prod"].__doc__ = (
    "MinHash+LSH at the production parameterization (128 permutations, "
    "16 bands x 8 rows): candidate-pair count and docs-with-dup count "
    "via signature-class compression + salted class-level bucket join + "
    "linear bucket-max rule (see _lsh_prod_counts_df) — identical output "
    "to the full pair pipeline, which the DuckDB oracle still runs."
)
ORACLES["dedup_minhash_lsh_prod"] = _minhash_prod_sql("duck")


# --------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components + keeper election
# --------------------------------------------------------------------------


def _star_edges_df(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = _NUM_HASHES,
    bands: int = _BANDS,
    symmetric: bool = True,
) -> DataFrame:
    """The linear bucket-STAR edge set (see _star_edges_ctes) from the
    row-local signature projection: one window shuffle on the uniform
    (band, bkey) key for the per-bucket hub (min doc_id), one distinct on
    the star edges, and the symmetric union. Replaces the generated-SQL
    form whose inlined CTEs recomputed the signature aggregate once per
    band reference (2 bands -> ~4 duplicate token-shuffle subtrees; the
    prod config -> 16+). Identical edge set."""
    from pyspark.sql.window import Window

    sk = _sigs_df(spark, sf_dir, num_hashes=num_hashes, bands=bands)
    doc_bands = sk.select("doc_id", F.posexplode("keys").alias("band", "bkey"))
    hub = F.min("doc_id").over(Window.partitionBy("band", "bkey"))
    star = (
        doc_bands.withColumn("hub", hub)
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("doc_id").alias("u"), F.col("hub").alias("v"))
        .distinct()
    )
    # star always has u > v (hub = bucket min), so the symmetric halves
    # are disjoint and the SQL form's UNION dedup is a no-op. Callers
    # that canonicalize anyway (the star-CC family) take symmetric=False
    # and skip doubling the edge set into cc._canon's distinct.
    if not symmetric:
        return star
    return star.unionByName(star.select(F.col("v").alias("u"), F.col("u").alias("v")))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH bucket graph, electing
    one keeper per duplicate cluster (min doc_id = cluster id).

    The graph is the bucket-STAR graph (every bucket member <-> the
    bucket's min doc), not the candidate-pair clique graph: components
    are identical but edges are linear in docs x bands instead of
    quadratic in clique size (see _star_edges_ctes — 4.3M pairs vs ~10k
    star edges on the sf0.1 corpus).

    Spark path: alternating large-star/small-star rounds (operators/cc.py
    — Kiveris et al. SoCC'14), O(log^2 n) rounds of uniform-key shuffles
    on ANY graph shape, including the adversarial near-dup chains of the
    10^12-row design point (tests/test_cc.py::test_star_cc_deep_chain).

    Oracle: DuckDB recursive CTE computing min reachable node per node
    over the same star edges. Registered under two ids, dedup_clusters
    and dedup_clusters_star, which share that oracle."""
    from ..operators.cc import connected_components_star

    edges = _star_edges_df(spark, sf_dir, symmetric=False)
    labels, _rounds = connected_components_star(edges, canonical=True)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_star_edges_ctes("duck")},
walk(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
)
SELECT node AS doc_id, MIN(label) AS cluster_id,
       (node = MIN(label)) AS is_keeper
FROM walk GROUP BY node
"""

QUERIES["dedup_clusters"] = QUERIES["dedup_clusters_star"] = dedup_clusters
ORACLES["dedup_clusters"] = ORACLES["dedup_clusters_star"] = _CLUSTERS_ORACLE


@(lambda fn: (QUERIES.__setitem__("dedup_clusters_prod", fn), fn)[1])
def dedup_clusters_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution at the PRODUCTION LSH parameterization (128
    permutations, 16 bands x 8 rows — the dedup_minhash_lsh_prod config)
    using the star-CC algorithm: the exact end-to-end pipeline a 100 TB
    dedup run executes, kept in the timed bench set so the scale config's
    cost is tracked across rounds (VERDICT r04 #7). Same recursive-CTE
    oracle over the prod-parameter star edges."""
    from ..operators.cc import connected_components_star

    edges = _star_edges_df(spark, sf_dir, num_hashes=128, bands=16, symmetric=False)
    labels, _rounds = connected_components_star(edges, canonical=True)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


ORACLES["dedup_clusters_prod"] = f"""
WITH RECURSIVE {_star_edges_ctes("duck", num_hashes=128, bands=16)},
walk(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
  UNION
  SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
)
SELECT node AS doc_id, MIN(label) AS cluster_id,
       (node = MIN(label)) AS is_keeper
FROM walk GROUP BY node
"""


ORACLES["dedup_embedding_cosine"] = """
WITH e AS (SELECT vec_id, embedding FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ROUND(
    list_sum([CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) for z in list_zip(a.embedding, b.embedding)])
    / (SQRT(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in a.embedding]))
     * SQRT(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in b.embedding]))), 6) AS cosine
FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
"""
