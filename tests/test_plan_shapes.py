"""Physical-plan regression guards.

PLANS.md documents the plan shapes the engine RELIES on at scale; these
tests pin the load-bearing ones so a refactor that silently regresses a
plan (a range join materializing a product, a lost broadcast, a lost
map-side top-k or partial aggregation) fails CI instead of surviving to
a 100 TB run. Assertions are on operator PRESENCE/ABSENCE — robust
across Spark versions — not on full plan text.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_asof_join_has_no_product_join(spark, queries):
    """The as-of join must stay the sorted-carry shape: any nested-loop /
    cartesian node means the range-join row blowup is back."""
    p = _plan(queries["asof_join_policy"](spark, SF))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # bucket carry-in comes back broadcast


def test_topk_uses_window_group_limit(spark, queries):
    """Catalyst's rank<=k pushdown = two-phase (map-side partial) top-k;
    losing it degrades to a single-reducer global window sort."""
    for name in ("ann_bruteforce_topk", "ann_lsh_topk"):
        assert "WindowGroupLimit" in _plan(queries[name](spark, SF)), name


def test_dim_joins_are_broadcast(spark, queries):
    """Small dimensions must broadcast — a shuffled fact side here is the
    classic 100 TB regression."""
    for name in ("elementwise_product_join", "vocab_ref_integrity"):
        p = _plan(queries[name](spark, SF))
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name


def test_aggregations_have_partial_phase(spark, queries):
    """Map-side combine before the exchange (partial_count/partial_sum in
    the HashAggregate) — the reason turn-level groupBys tolerate skew."""
    for name in ("uniqueness_check", "l1_l4_norms"):
        p = _plan(queries[name](spark, SF))
        assert "partial_" in p, name


def test_fused_order_unique_single_fact_exchange(spark):
    """The fused ordering+uniqueness check must keep ONE fact exchange and
    ONE fact sort serving BOTH window specs (the duplicate-count window
    partitions by a refinement of the lag window's sort prefix). A refactor
    that breaks the refinement re-shuffles/re-sorts 10^12 fact rows."""
    import pyspark.sql.functions as F

    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.operators.checks import order_unique_violations, prepare

    df = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("conv_id"),
        (F.col("id") % 13).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("x").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.current_timestamp().alias("ts"),
    )
    cfg = CheckSuiteConfig()
    p = _plan(order_unique_violations(prepare(df, cfg), cfg, True, True))
    import re

    # fact side: 1 exchange + 1 sort + 2 windows; boundary summary adds at
    # most 2 more exchanges, 1 more sort, 1 more window (all summary-sized)
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 3
    assert len(re.findall(r"\bSort \[", p)) <= 2
    assert len(re.findall(r"\bWindow ", p)) == 3


def test_drift_chunking_is_plan_not_row_split(spark):
    """The drift kernel is ONE mapInArrow over the pair join, clustered by
    conversation and sorted by turn: long conversations are segmented
    inside the task, never by a row-level split, a halo explode or a
    position window. The ref side is clustered by conversation before the
    join, so with the pair join broadcast (the 200k-turn shape) that is
    the kernel's one exchange, and with a sort-merge join (the 8M-turn
    shape) the join's exchanges and sorts feed the kernel directly: no
    exchange or sort of its own."""
    import re

    import pyspark.sql.functions as F

    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.operators.checks import prepare
    from ssimulacra2_spark.operators.drift_arrow import drift_scores

    df = spark.range(20000).select(
        (F.col("id") % 50).cast("string").alias("conv_id"),
        (F.col("id") / 50).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("w "), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.current_timestamp().alias("ts"),
    )
    cfg = CheckSuiteConfig(n_buckets=4, num_scales=4, channels=("len", "tok"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    # broadcast: ref's repartition, then the two metric groupBys;
    # sort-merge: the same plus cand's exchange; one sort per join side
    for threshold, shuffles, sorts in (("10485760", 3, 1), ("-1", 4, 2)):
        spark.conf.set(key, threshold)
        try:
            p = _plan(drift_scores(prepare(df, cfg), prepare(df, cfg), cfg))
        finally:
            spark.conf.unset(key)
        assert p.count("MapInArrow") == 1, threshold
        assert "FlatMapGroupsInPandas" not in p, threshold
        assert "explode(" not in p and "Window" not in p, threshold
        assert len(re.findall(r"Exchange hashpartitioning", p)) == shuffles, threshold
        assert p.count("REPARTITION_BY_COL") == 1, threshold
        assert len(re.findall(r"\bSort \[", p)) == sorts, threshold
        assert ("SortMergeJoin" in p) == (threshold == "-1"), threshold


@pytest.mark.parametrize("n_checks", [12, 8])
def test_suite_verdicts_read_one_profile_per_side(spark, synth_tables, n_checks):
    """Every per-partition verdict comes from ONE profile aggregate per
    side, rolled up once: a second reference to the rollup re-scans and
    re-aggregates both sides (each reference is pruned to different
    columns, so no exchange is reused). The only cached relation the
    verdicts read is the persisted violations.

    spark.sql.requireAllClusterKeysForCoPartition=false lets the overlay
    left join keep the partition_id partitioning its sides already have:
    the executed plan has ONE hashpartitioning(partition_id, check_id)
    exchange. With the setting on, the rollup side gets one too (and with
    all 12 checks, the measured side as well: 17 exchanges instead of
    16)."""
    import re
    from dataclasses import replace

    from ssimulacra2_spark.config import ALL_CHECKS
    from ssimulacra2_spark.plans.suite import ValidationSuite

    t = synth_tables
    cfg = replace(t["cfg"], checks=ALL_CHECKS[:n_checks])
    # an earlier test may have materialized the same persisted violations:
    # their real size lets the planner broadcast the measured side, which
    # changes the exchanges counted below
    spark.catalog.clearCache()
    verdicts, _ = ValidationSuite(cfg).run(
        spark, t["ref"].drop("partition_id"), t["cand"].drop("partition_id")
    )
    p = verdicts._jdf.queryExecution().optimizedPlan().toString()
    for side in ("ref", "cand"):
        assert len(re.findall(rf"count\(1\) AS n_{side}#", p)) == 1, side  # the profile
        assert len(re.findall(rf"sum\(n_{side}#\d+L?\) AS n_{side}#", p)) == 1, side  # the rollup
    assert p.count("InMemoryRelation") == 1

    def pc_exchanges(df) -> int:
        plan = _plan(df)
        return len(re.findall(r"hashpartitioning\(partition_id#\d+, check_id#\d+", plan))

    assert pc_exchanges(verdicts) == 1
    key = "spark.sql.requireAllClusterKeysForCoPartition"
    spark.conf.set(key, "true")
    try:
        assert pc_exchanges(verdicts.select("*")) == {12: 3, 8: 2}[n_checks]
    finally:
        spark.conf.set(key, "false")


def _window_specs(plan: str) -> list[tuple[tuple[str, ...], tuple[str, ...]]]:
    """Parse (partition_cols, order_cols) out of every windowspecdefinition
    in an executed-plan string (column names only, exprIds stripped)."""
    import re

    specs = []
    for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        part: list[str] = []
        order: list[str] = []
        for tok in (t.strip() for t in s.split(",")):
            if tok.startswith("specifiedwindowframe"):
                break
            name = tok.split("#")[0]
            (order if (" ASC" in tok or " DESC" in tok) else part).append(name)
        specs.append((tuple(part), tuple(order)))
    return specs


def test_sessionize_asof_windows_stay_chunked(spark, queries):
    """The two round-3 scale rewrites must KEEP their skew-safe window
    shapes (the property tests pin VALUES; this pins the PLAN):

    * sessionize_gap — every fact-row window (ordered by ts) must
      partition by (user, chunk), never a bare whole-user key: one hot
      user with 10^8 events in a single window task is the scale-killer
      the chunked two-phase prefix scan removed.
    * asof_join_policy — the sorted-carry window must partition by the
      time bucket (bounded rows per window), and the only global
      (unpartitioned) window allowed is the per-bucket summary scan
      ordered by bkt — a global window ordered by ts would funnel all
      fact rows through one task."""
    p = _plan(queries["sessionize_gap"](spark, SF))
    fact = [(pa, o) for pa, o in _window_specs(p) if "ts" in o]
    assert fact, "sessionize_gap lost its fact-row windows entirely?"
    for part, order in fact:
        assert "chunk" in part and "user_id" in part, (part, order)

    p = _plan(queries["asof_join_policy"](spark, SF))
    specs = _window_specs(p)
    carry = [(pa, o) for pa, o in specs if "ts" in o]
    assert carry, "asof_join_policy lost its sorted-carry window?"
    for part, order in carry:
        assert "bkt" in part, (part, order)
    for part, order in specs:
        if not part:  # global window: summary scan over buckets only
            assert order == ("bkt",), (part, order)


def test_drift_exchange_ships_float32(spark):
    """The prepared channel columns must stay FloatType: a well-meaning
    'fix' back to double doubles the drift exchange bytes."""
    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.operators.checks import prepare

    cfg = CheckSuiteConfig()
    ev = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "CAST(user_id AS STRING) AS conv_id",
        "CAST(event_id AS INT) AS turn_idx",
        "event_type AS role",
        "props AS text",
        "event_type AS tool",
        "ts",
    )
    df = prepare(ev, cfg)
    for ch in cfg.channels:
        assert df.schema[f"ch_{ch}"].dataType.simpleString() == "float", ch


def test_pipelineops_plan_shapes(spark, queries):
    """Round-5b pipeline ops: pin the scale-load-bearing shapes.

    - quality_gate is a single-scan projection: ANY exchange means the
      fused gate gained a shuffle it must never have.
    - tfidf_topk keeps the rank<=k pushdown (map-side partial top-k) and
      broadcasts the single-row corpus-count side.
    - winnowing_fingerprint / pack_sequences window only within doc_id /
      source partitions: exactly one fact exchange each, and no global
      (empty-partition-spec) window that would single-thread 10^12 rows.
    """
    import re

    p = _plan(queries["quality_gate"](spark, SF))
    # r06: the load_spread parallelism floor may add exactly one
    # REPARTITION_BY_NUM exchange on doc_id (single-split corpus files;
    # _util.load_spread) — but the gate itself must stay shuffle-free:
    # no hash exchange other than that floor, and none on content
    ex = [l for l in p.splitlines() if "Exchange" in l and "REPARTITION_BY_NUM" not in l]
    assert not ex, ex
    p = _plan(queries["tfidf_topk"](spark, SF))
    assert "WindowGroupLimit" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    p = _plan(queries["winnowing_fingerprint"](spark, SF))
    n_fact_exchanges = len(re.findall(r"Exchange hashpartitioning", p))
    assert n_fact_exchanges == 1, ("winnowing_fingerprint", n_fact_exchanges)
    assert "SinglePartition" not in p, "winnowing_fingerprint"
    # pack_sequences (r06): the prefix scan must stay CHUNKED — every
    # doc-ordered window partitions by (source, cid), never a bare
    # whole-source stratum (VERDICT r05 #1: one dominant source would
    # funnel its whole prefix sum through a single window task)
    p = _plan(queries["pack_sequences"](spark, SF))
    assert "SinglePartition" not in p, "pack_sequences"
    fact = [(pa, o) for pa, o in _window_specs(p) if "doc_id" in o]
    assert fact, "pack_sequences lost its doc-ordered window?"
    for part, order in fact:
        assert "cid" in part and "source" in part, (part, order)


def test_webops_plan_shapes(spark, queries):
    """Round-5c web-pipeline ops: pin the scale-load-bearing shapes.

    - bloom_membership_guard: the corpus side must meet the 128-row Bloom
      bitset through BROADCAST joins only — a SortMergeJoin here means
      the 100 TB corpus shuffles against a ~1 KB filter.
    - quality_quantile_filter / domain_mix_sample: the learned-threshold /
      rate tables are tiny per-group aggregates and must come back
      broadcast; the corpus never shuffles on content.
    - dedup_semantic: the pair join must stay equi-keyed on cell — any
      nested-loop/cartesian node means all-pairs is back.
    - boilerplate_segments: the segment count keeps a map-side partial
      phase before its exchange.
    """
    p = _plan(queries["bloom_membership_guard"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    for name in ("quality_quantile_filter", "domain_mix_sample"):
        p = _plan(queries[name](spark, SF))
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name
    p = _plan(queries["dedup_semantic"](spark, SF))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    p = _plan(queries["boilerplate_segments"](spark, SF))
    assert "partial_" in p


def test_webops_round5c_batch2_plan_shapes(spark, queries):
    """perplexity_proxy meets its tiny LM tables by broadcast only;
    ft_hash_classifier is inference-as-projection — ZERO exchanges;
    corpus_rollup keeps Expand + a map-side partial phase."""
    p = _plan(queries["perplexity_proxy"](spark, SF))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p
    p = _plan(queries["ft_hash_classifier"](spark, SF))
    # the single-row weight table arrives by broadcast (the "broadcast
    # the model" shape); the corpus itself must never shuffle ON CONTENT
    # — the only hash exchange allowed is load_spread's doc_id
    # parallelism floor (REPARTITION_BY_NUM; see _util.load_spread)
    ex = [
        l
        for l in p.splitlines()
        if "Exchange hashpartitioning" in l and "REPARTITION_BY_NUM" not in l
    ]
    assert not ex, ex
    p = _plan(queries["corpus_rollup"](spark, SF))
    assert "Expand" in p and "partial_" in p
