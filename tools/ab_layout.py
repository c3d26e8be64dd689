"""Interleaved same-session A/B: suite wall on plain vs bucketed snapshots.

Usage: python tools/ab_layout.py [cores] [n_turns] [reps]

Stages the SAME generated pair twice (clustered parquet vs conv_id-bucketed
tables), runs one untimed warmup per layout, then alternates timed passes
A/B/A/B — the only protocol that yields valid comparisons on this host
(ARCHITECTURE §7b: VM noise is ±20% across sessions, so paired in-session
alternation is mandatory). Prints one JSON line with per-pass walls.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from ssimulacra2_spark.benchgen import stage_pair
    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.plans.suite import ValidationSuite
    from ssimulacra2_spark.session import default_parallelism, get_spark

    cores = int(sys.argv[1]) if len(sys.argv) > 1 else default_parallelism()
    n_turns = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n_convs = max(1000, n_turns // 100)

    spark = get_spark("ab_layout", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="ab_layout_", dir="/dev/shm")
    pairs = {
        "plain": stage_pair(spark, n_turns, n_convs, f"{base}/plain"),
        "bucketed": stage_pair(
            spark, n_turns, n_convs, f"{base}/bkt", layout="bucketed"
        ),
    }
    cfg = CheckSuiteConfig(n_buckets=32, num_scales=4, checks=(
        "schema", "min_rows", "row_parity", "uniqueness", "monotone_ts",
        "vocab_role", "vocab_tool", "text_parity", "column_stats", "psi_ks",
        "emb_drift", "drift_score",
    ))

    def one_pass(ref, cand) -> float:
        t0 = time.time()
        verdicts, violations = ValidationSuite(cfg).run(spark, ref, cand)
        violations.write.format("noop").mode("overwrite").save()
        verdicts.write.format("noop").mode("overwrite").save()
        w = time.time() - t0
        spark.catalog.clearCache()
        return w

    for name, (r, c) in pairs.items():
        one_pass(r, c)  # warmup (JIT, page faults)
    walls: dict[str, list[float]] = {"plain": [], "bucketed": []}
    for _ in range(reps):
        for name, (r, c) in pairs.items():
            walls[name].append(round(one_pass(r, c), 2))
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    print(json.dumps({"cores": cores, "n_turns": n_turns, "walls": walls}))
    spark.stop()


if __name__ == "__main__":
    main()
