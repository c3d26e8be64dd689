"""Per-query isolation bench (guide §1.4): times individual registry
queries against the noop sink and optionally dumps .explain("formatted")
to files. Does NOT replace bench.py (frozen for measurement) — this is
the measurement harness for optimization A/Bs.

Usage:
  python bench_extra.py --sf-dir /root/testdata/sf1.0 \
      --queries dedup_minhash_lsh,dedup_semantic --reps 2 \
      [--explain-dir plans/r06 --explain-suffix _before]

Prints one JSON line: {"sf_dir": ..., "reps": N,
                       "queries": {name: [sec, ...]}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from ssimulacra2_spark.session import default_parallelism

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", required=True, help="comma-separated registry ids")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=default_parallelism())
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-suffix", default="")
    ap.add_argument("--no-time", action="store_true", help="explain only, skip execution")
    args = ap.parse_args()

    from ssimulacra2_spark.registry import QUERIES
    from ssimulacra2_spark.session import get_spark

    spark = get_spark("bench_extra", cores=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names = [n.strip() for n in args.queries.split(",") if n.strip()]

    out: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            path = os.path.join(args.explain_dir, f"{name}{args.explain_suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"# wrote {path}", file=sys.stderr)
        if args.no_time:
            continue
        times = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = times
        print(f"# {name}: {times}", file=sys.stderr)

    print(json.dumps({"sf_dir": args.sf_dir, "reps": args.reps, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()
