"""spark-submit bench job: generate a transcript pair distributively, run
the full validation suite, print one JSON line {turns, wall_s, turns_per_s}.

Usage (the scaling harness, jobs/bench_scaling.py, invokes this at two
parallelism levels):

    spark-submit --master local[8] --py-files engine.zip \
        jobs/suite_bench.py --turns 2000000 --convs 20000
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--turns", type=int, default=2_000_000)
    p.add_argument("--convs", type=int, default=20_000)
    p.add_argument("--scales", type=int, default=4)
    p.add_argument("--buckets", type=int, default=32)
    # kernel groups = buckets * drift_subbuckets; pick the product so one
    # group's rows fit a pandas batch (config.py docstring). The bench's
    # 1024 buckets are already fine-grained -> no extra fanout needed.
    p.add_argument("--drift-subbuckets", type=int, default=1)
    # untimed in-JVM warmup iterations before the timed run: measures
    # steady-state throughput of a long-running service — JIT-compiled
    # code, spawned+warmed python workers, and (critical on VMs whose
    # first-touch page faults are serviced serially by the hypervisor,
    # see tools/vm_pagefault_ceiling.py) an already-faulted working set
    p.add_argument("--warmup", type=int, default=0)
    p.add_argument("--data-dir", default=None, help="reuse pre-generated pair")
    args = p.parse_args()

    spark = SparkSession.builder.getOrCreate()
    cores = spark.sparkContext.defaultParallelism

    from ssimulacra2_spark.benchgen import stage_pair
    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.plans.suite import ValidationSuite

    # materialize the pair to parquet first: the engine's real input is a
    # table scan, not a generator DAG (which the suite would recompute once
    # per check branch); stage_pair writes row-balanced files (a production
    # table writer's layout) while keeping the in-data hot-conversation skew
    import tempfile

    data_dir = args.data_dir or tempfile.mkdtemp(prefix="suite_bench_")
    import os as _os

    if not _os.path.exists(f"{data_dir}/ref"):
        ref, cand = stage_pair(spark, args.turns, args.convs, data_dir)
    else:
        ref = spark.read.parquet(f"{data_dir}/ref")
        cand = spark.read.parquet(f"{data_dir}/cand")
    cfg = CheckSuiteConfig(
        n_buckets=args.buckets,
        num_scales=args.scales,
        drift_subbuckets=args.drift_subbuckets,
        checks=(
            "schema",
            "min_rows",
            "row_parity",
            "uniqueness",
            "monotone_ts",
            "vocab_role",
            "vocab_tool",
            "text_parity",
            "column_stats",
            "psi_ks",
            "emb_drift",
            "drift_score",
        ),
    )
    def one_pass() -> None:
        verdicts, violations = ValidationSuite(cfg).run(spark, ref, cand)
        # SEQUENTIAL sinks, violations first: both plans read the persisted
        # violations union, and racing two concurrent actions into an
        # unbuilt cache makes the loser's tasks block on per-partition
        # cache locks WHILE HOLDING task slots — measured 101.7s -> ~183s
        # at local[8] (32 cores absorb it; 8 do not). Violations-first
        # builds the cache once; the verdict action then reads it.
        violations.write.format("noop").mode("overwrite").save()
        verdicts.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()  # drop per-pass persisted frames

    for _ in range(args.warmup):
        one_pass()
    t0 = time.time()
    one_pass()
    wall = time.time() - t0
    out = {
        "cores": cores,
        "turns": args.turns,
        "wall_s": round(wall, 2),
        "turns_per_s": round(args.turns / wall, 1),
        # timed-pass window (epoch ms) so the scaling harness can slice
        # the event log to the timed pass only (roofline bytes/turn)
        "t0_ms": int(t0 * 1000),
        "t1_ms": int((t0 + wall) * 1000),
    }
    print("SUITE_BENCH_RESULT " + json.dumps(out))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
