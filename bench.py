"""Per-round benchmark: headline queries + the validation suite.

Prints ONE JSON line:
  {"metric": "validated turns/sec", "value": N, "unit": "turns/s",
   "queries": {...per-query seconds...}, "sf": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
     SPARK_GRAFT_BENCH_TURNS (override suite input size).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE_QUERIES = [
    "scan_parquet",
    "elementwise_product_join",
    "paired_zip_check",
    "uniqueness_check",
    "box_downsample_2x",
    "windowed_moments",
    "win_horizontal_scan",
    "summary_stats",
    "psi_ks_drift",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh_prod",
    "ann_bruteforce_topk",
    "ann_lsh_bucketed",
    "ann_lsh_topk",
    "dedup_clusters",
    "dedup_clusters_star",
    "dedup_clusters_prod",
    "lang_id",
    "quality_score",
    "token_count",
    "multimodal_decode_stub",
    "multimodal_png_meta",
    "multimodal_jpeg_meta",
    "multimodal_wav_meta",
    "multimodal_gif_meta",
    "multimodal_mp4_meta",
    "quality_repetition_rules",
    "kmeans_refine",
    "ann_pq_topk",
    "contamination_ngram",
    "emb_drift_check",
    "sessionize_gap",
    "asof_join_policy",
    "limit_scales",
    "proj_ssim_expr",
    "agg_weighted_score",
    "stream_tumbling_counts",
    "stream_centroid_drift",
    "stream_centroid_alert",
    # round-5b pipeline ops
    "stratified_sample",
    "tfidf_topk",
    "token_entropy",
    "winnowing_fingerprint",
    "pack_sequences",
    "quality_gate",
    "dedup_apply",
    "dedup_incremental",
    "emb_project_rp",
    "text_normalize",
    # round-5c web-pipeline ops
    "bloom_membership_guard",
    "quality_quantile_filter",
    "boilerplate_segments",
    "dedup_semantic",
    "domain_mix_sample",
    "split_leakage_guard",
    "perplexity_proxy",
    "ft_hash_classifier",
    "corpus_rollup",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from ssimulacra2_spark.registry import QUERIES
    from ssimulacra2_spark.session import default_parallelism, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else 0.1

    spark = get_spark("bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen/python-worker warmup so per-query timings reflect steady
    # state rather than first-query initialization
    materialize(QUERIES["scan_parquet"](spark, sf_dir))
    materialize(QUERIES["multimodal_decode_stub"](spark, sf_dir))

    timings: dict[str, float] = {}
    for name in HEADLINE_QUERIES:
        fn = QUERIES[name]
        t0 = time.time()
        materialize(fn(spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)

    # validation-suite throughput: the authoritative metric (BASELINE.json)
    from ssimulacra2_spark.benchgen import stage_pair
    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.plans.suite import ValidationSuite

    # sized so fixed per-job costs amortize: throughput is the metric, so
    # measure where the suite is compute-bound (~8M turns at sf0.1)
    n_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", str(int(80_000_000 * sf))))
    n_convs = max(1000, n_turns // 100)
    # stage the pair to parquet: the engine's real input is a table scan —
    # running the suite on the generator DAG would re-generate the data
    # once per check branch (measured 5x slower)
    import tempfile

    stage_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    stage = tempfile.mkdtemp(prefix="bench_suite_", dir=stage_base)
    ref, cand = stage_pair(spark, n_turns, n_convs, stage)
    cfg = CheckSuiteConfig(n_buckets=32, num_scales=4, checks=(
        "schema", "min_rows", "row_parity", "uniqueness", "monotone_ts",
        "vocab_role", "vocab_tool", "text_parity", "column_stats", "psi_ks",
        "emb_drift", "drift_score",
    ))

    def suite_pass() -> None:
        verdicts, violations = ValidationSuite(cfg).run(spark, ref, cand)
        # SEQUENTIAL sinks, violations first (builds the persisted union
        # once; verdicts then read the cache). Concurrent sinks were built
        # and MEASURED: ~2s planning overlap won at 32 cores, but racing
        # two actions into the unbuilt cache starves small schedulers —
        # tasks block on per-partition cache locks while holding task
        # slots (101.7s -> ~183s at local[8]). Sequential is the shape
        # that survives both cluster sizes.
        materialize(violations)
        materialize(verdicts)

    # one untimed steady-state warmup (JIT, python workers, pre-faulted
    # working set: on a VM with serialized first-touch page faults, cold
    # multi-thread timings are meaningless). Drop the warmup's persisted
    # blocks OUTSIDE the timed window so the timed pass neither runs
    # under stale cache residency nor pays the unpersist cost.
    suite_pass()
    spark.catalog.clearCache()
    t0 = time.time()
    suite_pass()
    suite_wall = time.time() - t0
    spark.catalog.clearCache()
    timings["validate_suite"] = round(suite_wall, 3)
    import shutil

    shutil.rmtree(stage, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "validated turns/sec",
                "value": round(n_turns / suite_wall, 1),
                "unit": "turns/s",
                "queries": timings,
                "sf": sf,
                "suite_turns": n_turns,
                "cores": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
