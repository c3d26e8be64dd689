"""Benchmark of the transcript validation engine on the host it runs on.

    python3 perfbench/run.py --workload suite_full --seed 1 --seconds 12 --trace 0

Run from the repository root; it reads and writes only inside the
checkout (scratch under .perfbench/work-<pid>, removed at exit). One
invocation starts Spark (local[<cores>]), stages one seeded transcript
pair with `benchgen.stage_pair`, warms up with one pass, then repeats the
workload's pass for --seconds, and at least twice; turns_per_s is the
median over those passes. Every pass's verdicts are checked against
a DuckDB oracle over the staged parquet and against the warm-up's.

Workloads (BENCHMARK.json says why each was chosen):
  suite_full      all 12 checks, io=None, violations to a no-op sink,
                  then verdicts collected
  integrity_gate  the same with only the 8 constraint checks: no drift,
                  no column stats

The last stdout line is one JSON object {correct, attempted, failed,
metrics}. With --trace 0 the metrics are the end-to-end ones:
turns_per_s, setup_s (JVM start, staging and the cold first pass) and
rss_peak_mb (the process tree's peak RSS less the JVM's heap, which
session.py pre-touches at boot; see probes.RssSampler). With
--trace 1 the Spark event log is on from the start and every other timed
pass records spans and tags its jobs; the run then materializes each
check operator alone and prints the per-layer metrics. integrity_gate's
traced run also commits one pass through ParquetTableIO, resumes it, and
runs one registry query per module against its DuckDB oracle. A layer a
workload does not run reports 0. The line before the result is the run
record (per-pass walls and CPU steal); records, spans and event logs are
kept under .perfbench/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"
MIN_PASSES = 2

# name -> (runs the drift and stats checks, traced run adds the commit path
# and the registry queries, reference turns staged; distort drops ~0.1% of
# them from the candidate). integrity_gate's pass is short, so it stages
# more turns: interleaved runs at 200k spread about three times wider than
# at 600k.
WORKLOADS = {
    "suite_full": (True, False, 200_000),
    "integrity_gate": (False, True, 600_000),
}

OPERATORS = (
    "checks.prepare", "checks.partition_counts", "checks.order_unique", "checks.vocab",
    "checks.text_parity", "stats.column_stats", "drift.psi_emb", "drift_arrow.drift_score",
)


def pin_env(work: str) -> int:
    """Pins what the measurement depends on, whatever the caller's shell
    holds; returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    # session.py's 16g default cannot start on a 15 GB host; pinning also
    # keeps a later change of that default out of the measurement
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # local[cpus] task threads are the only parallelism: no BLAS/OpenMP
    # thread pools inside the Python workers on top of them
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        env[v] = "1"
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["PYTHONPATH"] = ROOT
    # session.py puts shuffle and spill on /dev/shm; the benchmark may write
    # only inside its checkout, so they go to the checkout's disk instead
    # (SPARK_LOCAL_DIRS overrides spark.local.dir)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cpus


def start_spark(work: str, cpus: int, event_dir: str | None = None):
    """`session.get_spark`, timed; scratch space stays under `work`."""
    from ssimulacra2_spark import session

    local = os.environ["SPARK_LOCAL_DIRS"]
    os.makedirs(local, exist_ok=True)
    # get_spark would otherwise create (and leave) /dev/shm/spark-local
    session.local_dirs = lambda: local
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", cores=cpus, extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_jvm() -> None:
    """Stops the JVM that PySpark launched and waits for it and its Python
    workers to exit (SparkSession.stop leaves the JVM running)."""
    from pyspark import SparkContext

    from perfbench.probes import descendants, wait_gone

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    wait_gone(pids, timeout_s=30)


class Run:
    """One workload's passes, with the failure count they feed."""

    def __init__(self, spark, cfg, pair, tracer):
        self.spark, self.cfg, self.pair, self.tracer = spark, cfg, pair, tracer
        self.reference: dict | None = None  # the first verdicts seen
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        print(f"FAIL {msg}", file=sys.stderr)

    def check(self, what: str, rows) -> bool:
        """Oracle checks of verdict rows, and equality with the first
        verdicts of the run."""
        from perfbench import workloads as W

        core = [{c: r[c] for c in W.VERDICT_FIELDS} for r in rows]
        probs = W.verdict_problems(core, self.cfg, self.pair.oracle)
        key = W.verdict_key(core)
        if self.reference is None:
            self.reference = key
        elif not W.same_verdicts(key, self.reference):
            probs.append("verdicts differ from the warm-up pass")
        if probs:
            self.fail(f"{what}: " + "; ".join(probs))
        return not probs

    def one_pass(self, i: int):
        """Returns (wall, cand turns), or None if the pass raised or its
        output was wrong."""
        from perfbench import workloads as W

        self.attempted += 1
        try:
            wall, rows = W.noop_pass(self.spark, self.cfg, self.pair, self.tracer)
        except Exception:
            traceback.print_exc()
            self.fail(f"pass {i}: raised")
            return None
        if not self.check(f"pass {i}", rows):
            return None
        return wall, self.pair.oracle["n_cand"]

    def timed_passes(self, seconds: float, alternate: bool) -> list[dict]:
        """Passes until `seconds` have elapsed (at least MIN_PASSES). With
        `alternate`, every other pass, starting with the first, is traced."""
        from perfbench.probes import cpu_times, steal_frac

        passes = []
        t_end = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            self.tracer.enabled = alternate and len(passes) % 2 == 0
            c0, w0 = cpu_times(), time.time()
            got = self.one_pass(len(passes) + 1)
            passes.append({
                "traced": self.tracer.enabled,
                "window": (w0, time.time()),
                "steal": steal_frac(c0, cpu_times()),
                "wall": got[0] if got else None,
                "tps": got[1] / got[0] if got else None,
            })
        self.tracer.enabled = alternate
        return passes


def measure(args, cpus: int, work: str, record: dict, sampler, event_dir: str | None):
    """Set-up, warm-up and timed passes; the event log is on when
    `event_dir` is given."""
    from perfbench import workloads as W
    from perfbench.probes import Tracer, cpu_times, steal_frac

    drift, _, turns = WORKLOADS[args.workload]
    turns = args.turns or turns
    cfg = W.suite_config(W.INTEGRITY_CHECKS + (W.DRIFT_CHECKS if drift else ()))
    c0 = cpu_times()
    spark, start_s = start_spark(work, cpus, event_dir)
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    sampler.heap_kb = heap.getCommitted() // 1024
    record["jvm_heap_committed_mb"] = sampler.heap_kb / 1024.0
    t0 = time.perf_counter()
    ref, cand = W.stage_seeded(spark, turns, os.path.join(work, "pair"), str(args.seed))
    stage_s = time.perf_counter() - t0
    run = Run(spark, cfg, W.Pair(ref, cand, W.oracle_counts(ref, cand, cfg)), Tracer(False))
    t0 = time.perf_counter()
    run.one_pass(0)
    warm_s = time.perf_counter() - t0
    record["setup_steal"] = steal_frac(c0, cpu_times())
    passes = run.timed_passes(args.seconds, alternate=event_dir is not None)
    record.update({
        "ref_turns": turns,
        "oracle": run.pair.oracle,
        "session_start_s": start_s,
        "stage_s": stage_s,
        "warmup_s": warm_s,
        "passes": passes,
    })
    tps = [p["tps"] for p in passes if p["tps"]]
    metrics = {
        "turns_per_s": (statistics.median(tps) if tps else 0.0, "turns/s"),
        # set-up as a user pays it: JVM start, staging, the cold first pass
        "setup_s": (start_s + stage_s + warm_s, "s"),
    }
    return spark, run, passes, metrics


def extras(run: Run, work: str, tracer) -> None:
    """integrity_gate's traced additions: one pass committed through
    ParquetTableIO and resumed, then the registry queries."""
    from perfbench import workloads as W

    spark, cfg, pair = run.spark, run.cfg, run.pair
    run.attempted += 1
    try:
        rows, io, probs = W.commit_pass(spark, cfg, pair, tracer, os.path.join(work, "results"), "bench")
        # committed verdicts must equal the no-op passes' verdicts
        if run.check("commit", rows) and probs:
            run.fail("commit: " + "; ".join(probs))
        run.attempted += 1
        after = W.resume_pass(spark, cfg, pair, io, "bench", tracer)
        if W.verdict_key(after) != W.verdict_key(rows):
            run.fail("resume: committed verdicts changed")
    except Exception:
        traceback.print_exc()
        run.fail("commit or resume: raised")
    star = W.make_star_data(ROOT, os.path.join(work, "star"))
    run.attempted += len(W.REGISTRY_QUERIES)
    for q in W.registry_probe(spark, star, tracer):
        run.fail(f"registry {q}: differs from its DuckDB oracle or raised")


def traced(args, cpus: int, work: str, run: Run, passes: list[dict], record: dict, trace_dir: str):
    """Per-layer metrics: spans of the traced passes, operators alone, the
    extras, and the event log of the whole run."""
    from perfbench import eventlog
    from perfbench import workloads as W

    tracer = run.tracer
    W.operator_probes(run.spark, run.cfg, run.pair, tracer)
    if WORKLOADS[args.workload][1]:
        extras(run, work, tracer)
    run.spark.stop()
    tracer.write(os.path.join(trace_dir, "spans.json"))

    med = statistics.median
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (record["session_start_s"], "s"),
        "benchgen.stage_s": (record["stage_s"], "s"),
        "suite.cold_pass_s": (record["warmup_s"], "s"),
    }
    for name in ("suite.build", "suite.violations_sink", "suite.verdicts_sink"):
        d = tracer.durations(name)
        m[f"{name}_s"] = (med(d) if d else 0.0, "s")
    for name in OPERATORS + (
        "suite.commit", "suite.resume", "tableio.write_results", "tableio.compact",
        "tableio.completed_partitions", "tableio.read_verdicts",
    ):
        m[f"{name}_s"] = (tracer.total(name), "s")
    m["tableio.commits"] = (float(len(tracer.durations("tableio.write_results"))), "count")
    files, size = W.tree_size(os.path.join(work, "results"))
    m["tableio.bytes_written"] = (float(size), "bytes")
    m["tableio.files_written"] = (float(files), "count")

    jobs, stages, tasks = eventlog.parse(eventlog.log_files(os.path.join(trace_dir, "eventlog")))
    per_pass = [eventlog.window_metrics(jobs, stages, tasks, *p["window"], cpus) for p in passes]
    for key, unit in eventlog.UNITS.items():
        m[key] = (med([p[key] for p in per_pass]), unit)

    queries = {s["query"]: s for s in tracer.spans if s["name"] == "registry.query"}
    modules = W.registry_modules()
    for mod in sorted(set(modules.values())):
        m[f"registry.{mod}_s"] = (
            sum(s["end"] - s["start"] for q, s in queries.items() if modules[q] == mod), "s"
        )
    for q in W.REGISTRY_QUERIES:
        s = queries.get(q)
        m[f"registry.{q}_s"] = (s["end"] - s["start"] if s else 0.0, "s")
    m["registry.queries_s"] = (sum(s["end"] - s["start"] for s in queries.values()), "s")
    m["host.steal_frac"] = (med([p["steal"] for p in passes]), "frac")
    # spans and job tags only: the event log is on for both kinds of pass
    on = [p["tps"] for p in passes if p["tps"] and p["traced"]]
    off = [p["tps"] for p in passes if p["tps"] and not p["traced"]]
    m["trace.overhead_turns_per_s"] = (med(on) - med(off) if on and off else 0.0, "turns/s")
    # with the event log on; compare with an untraced run's turns_per_s
    m["trace.turns_per_s"] = (med(on + off) if on or off else 0.0, "turns/s")
    return m


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=0, help="override turns per staged pair (smoke test)")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ssimulacra2_spark")):
        print(f"engine package not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"work-{os.getpid()}")
    cpus = pin_env(work)
    sys.path.insert(0, ROOT)
    from perfbench.probes import RssSampler

    sampler = RssSampler()
    sampler.start()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": cpus}
    trace_dir = os.path.join(OUT, "trace", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        spark, run, passes, metrics = measure(
            args, cpus, work, record, sampler, os.path.join(trace_dir, "eventlog") if args.trace else None
        )
        if args.trace:
            metrics = traced(args, cpus, work, run, passes, record, trace_dir)
        else:
            spark.stop()
            # the whole tree less the JVM's pre-touched heap (probes.RssSampler)
            metrics["rss_peak_mb"] = (sampler.stop()[1], "MB")
    finally:
        record["tree_rss_peak_mb"], record["movable_rss_peak_mb"] = sampler.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record.update({"attempted": run.attempted, "failed": run.failed, "problems": run.problems})
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(OUT, "runs", name), "w") as f:
        json.dump(record, f)
    print(json.dumps(record))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
