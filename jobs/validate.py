"""Production entry point: spark-submit --py-files engine.zip jobs/validate.py

Validates a candidate snapshot against a reference snapshot, writes
verdicts + violations to a checkpointed results table as one commit, and
prints a per-check summary.

A --run-id names one run. Re-running a committed run id prints its
committed results without scanning either snapshot, even if the snapshots
changed since; to validate new inputs, use a new --run-id. A run that
crashed before its commit left nothing committed and computes afresh.

    spark-submit --master local[4] --py-files engine.zip jobs/validate.py \
        --ref /data/transcripts_ref --cand /data/transcripts_cand \
        --results /data/results --run-id nightly-2025-06-01 [--config cfg.json]
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def run(spark: SparkSession, argv: list[str]) -> list[str]:
    """Runs the job on `spark`; returns one CHECK_SUMMARY line per check."""
    p = argparse.ArgumentParser()
    p.add_argument("--ref", required=True)
    p.add_argument("--cand", required=True)
    p.add_argument("--results", required=True)
    p.add_argument("--run-id", default="run0")
    p.add_argument("--config", default=None, help="CheckSuiteConfig JSON path")
    args = p.parse_args(argv)

    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.plans.suite import ValidationSuite, summarize
    from ssimulacra2_spark.sources.tableio import ParquetTableIO

    if args.config:
        with open(args.config) as f:
            cfg = CheckSuiteConfig.from_json(f.read())
    else:
        cfg = CheckSuiteConfig()

    io = ParquetTableIO(args.results)
    ref = io.read_snapshot(spark, args.ref)
    cand = io.read_snapshot(spark, args.cand)
    ValidationSuite(cfg).run(spark, ref, cand, io=io, run_id=args.run_id)

    verdicts = io.read_verdicts(spark, args.run_id)
    return [
        "CHECK_SUMMARY " + json.dumps(row.asDict(), default=str)
        for row in summarize(verdicts).collect()
    ]


def main() -> None:
    spark = SparkSession.builder.getOrCreate()
    try:
        for line in run(spark, sys.argv[1:]):
            print(line)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
