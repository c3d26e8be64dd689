"""Time each suite check in isolation on the same staged pair.

Attributes suite wall to individual checks (each isolated run pays the
scan once, so the sum exceeds the combined suite wall — the point is the
relative ranking and each check's straggler tail, not the sum).

Usage: python tools/percheck_timing.py [--turns 8000000]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALL_CHECKS = (
    "schema", "min_rows", "row_parity", "uniqueness", "monotone_ts",
    "vocab_role", "vocab_tool", "text_parity", "column_stats",
    "psi_ks", "emb_drift", "drift_score",
)


def main() -> None:
    from ssimulacra2_spark.session import default_parallelism, get_spark

    p = argparse.ArgumentParser()
    p.add_argument("--turns", type=int, default=8_000_000)
    p.add_argument("--convs", type=int, default=80_000)
    p.add_argument("--cores", type=int, default=default_parallelism())
    p.add_argument("--reps", type=int, default=2, help="timed reps (min reported)")
    args = p.parse_args()

    spark = get_spark("percheck", cores=args.cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from ssimulacra2_spark.benchgen import stage_pair
    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.plans.suite import ValidationSuite

    stage_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    stage = tempfile.mkdtemp(prefix="percheck_", dir=stage_base)
    ref, cand = stage_pair(spark, args.turns, args.convs, stage)

    def run_once(checks: tuple[str, ...]) -> float:
        cfg = CheckSuiteConfig(n_buckets=32, num_scales=4, checks=checks)
        verdicts, violations = ValidationSuite(cfg).run(spark, ref, cand)
        t0 = time.time()
        verdicts.write.format("noop").mode("overwrite").save()
        violations.write.format("noop").mode("overwrite").save()
        w = time.time() - t0
        spark.catalog.clearCache()
        return w

    # warmup: one full-suite pass (JIT, python workers, page faults)
    run_once(ALL_CHECKS)

    results: dict[str, float] = {}
    for c in ALL_CHECKS:
        best = min(run_once((c,)) for _ in range(args.reps))
        results[c] = best
        print(f"{c:>14}: {best:6.2f}s")
    full = min(run_once(ALL_CHECKS) for _ in range(args.reps))
    print(f"{'FULL SUITE':>14}: {full:6.2f}s   (isolated sum {sum(results.values()):.2f}s)")

    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
