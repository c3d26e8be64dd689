"""Profile the validation suite's job/stage occupancy at bench scale.

Runs one untimed warmup pass + one timed pass of the full check suite
(same shape as bench.py) with the Spark event log enabled, then parses
the log to report, for the timed window only:

  - per-job wall time, task-time sum, and occupancy (= task-time /
    (job-wall x cores))
  - scheduling gaps between consecutive jobs (driver-side dead time)
  - the top stages by wall with their task counts

Usage:  python tools/profile_suite.py [--turns 8000000] [--cores N]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from ssimulacra2_spark.session import default_parallelism, get_spark

    p = argparse.ArgumentParser()
    p.add_argument("--turns", type=int, default=8_000_000)
    p.add_argument("--convs", type=int, default=80_000)
    p.add_argument("--cores", type=int, default=default_parallelism())
    p.add_argument("--buckets", type=int, default=32)
    p.add_argument("--scales", type=int, default=4)
    p.add_argument("--advisory", default=None, help="AQE advisoryPartitionSizeInBytes, e.g. 8m")
    args = p.parse_args()

    evdir = tempfile.mkdtemp(prefix="spark_events_")
    spark = get_spark(
        "profile_suite",
        cores=args.cores,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.compress": "false",
            **({"spark.sql.adaptive.advisoryPartitionSizeInBytes": args.advisory} if args.advisory else {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ssimulacra2_spark.benchgen import stage_pair
    from ssimulacra2_spark.config import CheckSuiteConfig
    from ssimulacra2_spark.plans.suite import ValidationSuite

    stage_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    stage = tempfile.mkdtemp(prefix="profile_suite_", dir=stage_base)
    ref, cand = stage_pair(spark, args.turns, args.convs, stage)
    cfg = CheckSuiteConfig(
        n_buckets=args.buckets,
        num_scales=args.scales,
        checks=(
            "schema", "min_rows", "row_parity", "uniqueness", "monotone_ts",
            "vocab_role", "vocab_tool", "text_parity", "column_stats",
            "psi_ks", "drift_score",
        ),
    )

    def suite_pass() -> None:
        verdicts, violations = ValidationSuite(cfg).run(spark, ref, cand)
        # sequential sinks, violations first — matching bench.py (concurrent
        # sinks starve small schedulers on cache locks; see bench.py)
        for name, df in (("violations", violations), ("verdicts", verdicts)):
            spark.sparkContext.setJobDescription(f"materialize:{name}")
            df.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)

    suite_pass()
    spark.catalog.clearCache()
    t0 = time.time()
    suite_pass()
    wall = time.time() - t0
    spark.catalog.clearCache()
    t_end = time.time()
    print(f"timed pass wall: {wall:.2f}s  ({args.turns / wall:,.0f} turns/s)")
    spark.stop()

    # ---- parse event log ----------------------------------------------
    logs = sorted(glob.glob(f"{evdir}/*"), key=os.path.getmtime)
    if logs and os.path.isdir(logs[-1]):
        inner = [p for p in glob.glob(f"{logs[-1]}/*") if os.path.isfile(p) and "appstatus" not in p]
        logs = sorted(inner, key=os.path.getmtime)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_tasks: dict[int, float] = {}
    stage_ntasks: dict[int, int] = {}
    task_spans: list[tuple[float, float, int]] = []
    slow_tasks: list[tuple] = []
    with open(logs[-1]) as f:
        for line in f:
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1000.0,
                    "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                    "desc": (props.get("spark.job.description") or props.get("callSite.short") or "")[:60],
                }
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" in si and "Completion Time" in si:
                    # the stage callsite is generic under AQE; RDD scope
                    # names carry the actual operator (Exchange, mapInPandas...)
                    scopes = []
                    for r in si.get("RDD Info", []):
                        sc_ = r.get("Scope")
                        if sc_:
                            try:
                                nm = json.loads(sc_).get("name", "")
                            except json.JSONDecodeError:
                                nm = ""
                            if nm and nm not in scopes:
                                scopes.append(nm)
                    stages[si["Stage ID"]] = {
                        "name": ">".join(scopes[:10]) or si["Stage Name"].split("\n")[0][:40],
                        "wall": (si["Completion Time"] - si["Submission Time"]) / 1000.0,
                        "ntasks": si["Number of Tasks"],
                    }
            elif ev == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                m = e.get("Task Metrics") or {}
                rt = (m.get("Executor Run Time") or 0) / 1000.0
                stage_tasks[sid] = stage_tasks.get(sid, 0.0) + rt
                stage_ntasks[sid] = stage_ntasks.get(sid, 0) + 1
                ti = e.get("Task Info") or {}
                if "Launch Time" in ti and "Finish Time" in ti:
                    task_spans.append(
                        (ti["Launch Time"] / 1000.0, ti["Finish Time"] / 1000.0, sid)
                    )
                    im = m.get("Input Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    slow_tasks.append((
                        (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                        sid,
                        ti["Launch Time"] / 1000.0,
                        im.get("Records Read", 0),
                        sr.get("Total Records Read", 0),
                        sw.get("Shuffle Records Written", 0),
                        (sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)) // 1024,
                    ))

    # restrict to the timed window (jobs submitted after t0)
    timed = {
        jid: j for jid, j in jobs.items() if "end" in j and j["start"] >= t0 - 0.5 and j["end"] <= t_end + 0.5
    }
    order = sorted(timed, key=lambda j: timed[j]["start"])
    print(f"\n{len(order)} jobs in the timed window; cores={args.cores}")
    print(f"{'job':>4} {'wall_s':>7} {'task_s':>8} {'occ':>5}  {'gap_before_s':>12}")
    prev_end = t0
    total_gap = 0.0
    total_job_wall = 0.0
    for jid in order:
        j = timed[jid]
        jwall = j["end"] - j["start"]
        jtask = sum(stage_tasks.get(s, 0.0) for s in j["stages"])
        occ = jtask / (jwall * args.cores) if jwall > 0 else 0.0
        gap = max(0.0, j["start"] - prev_end)
        total_gap += gap
        total_job_wall += jwall
        print(f"{jid:>4} {jwall:>7.2f} {jtask:>8.1f} {occ:>5.2f}  {gap:>12.2f}  {j.get('desc','')}")
        prev_end = max(prev_end, j["end"])
    tail_gap = max(0.0, t0 + wall - prev_end)
    print(f"\njob wall sum: {total_job_wall:.2f}s   inter-job gaps: {total_gap:.2f}s"
          f"   tail after last job: {tail_gap:.2f}s   timed wall: {wall:.2f}s")
    all_task = sum(
        stage_tasks.get(s, 0.0) for jid in order for s in timed[jid]["stages"]
    )
    print(f"total task time: {all_task:.1f}s -> overall occupancy {all_task / (wall * args.cores):.2f}")

    timed_stages = sorted(
        {s for jid in order for s in timed[jid]["stages"] if s in stages},
        key=lambda s: -stages[s]["wall"],
    )
    print("\ntop stages by wall:")
    for s in timed_stages[:18]:
        st = stages[s]
        ts = stage_tasks.get(s, 0.0)
        occ = ts / (st["wall"] * args.cores) if st["wall"] > 0 else 0.0
        print(f"  stage {s:>4} wall {st['wall']:>6.2f}s task_s {ts:>7.1f} occ {occ:>4.2f} "
              f"ntasks {st['ntasks']:>4}  {st['name']}")

    # ---- busy-core timeline over the timed window -----------------------
    # (overlapping AQE jobs make per-job occupancy misleading; this is the
    # ground truth: how many tasks are actually running at each instant,
    # and which stages own the low-occupancy intervals)
    DT = 0.25
    nslots = int(wall / DT) + 1
    busy = [0.0] * nslots
    slot_stage: list[dict[int, float]] = [dict() for _ in range(nslots)]
    for (ls, fs, sid) in task_spans:
        if fs <= t0 or ls >= t0 + wall:
            continue
        a, b = max(ls, t0), min(fs, t0 + wall)
        i0, i1 = int((a - t0) / DT), int((b - t0) / DT)
        for i in range(i0, min(i1 + 1, nslots)):
            s0, s1 = t0 + i * DT, t0 + (i + 1) * DT
            ov = max(0.0, min(b, s1) - max(a, s0))
            busy[i] += ov / DT
            slot_stage[i][sid] = slot_stage[i].get(sid, 0.0) + ov
    print("\nbusy-core timeline (slot=0.25s): t, busy/32, dominant stages")
    idle_cs = 0.0
    for i in range(nslots):
        idle_cs += max(0.0, args.cores - busy[i]) * DT
        if busy[i] < args.cores * 0.66:
            dom = sorted(slot_stage[i].items(), key=lambda kv: -kv[1])[:3]
            names = ", ".join(
                f"s{sid}:{stages.get(sid, {}).get('name', '?')[:38]}" for sid, _ in dom
            ) or "(nothing running)"
            print(f"  {i * DT:>6.2f}s busy {busy[i]:>5.1f}  {names}")
    print(f"idle core-seconds in timed window: {idle_cs:.0f} of {wall * args.cores:.0f}"
          f" ({idle_cs / (wall * args.cores):.0%})")

    timed_slow = [t for t in slow_tasks if t[2] >= t0 - 0.5 and t[2] <= t_end]
    timed_slow.sort(key=lambda t: -t[0])
    print("\nslowest tasks (dur_s, stage, start_rel, in_recs, shuf_read_recs, shuf_write_recs, sr_kb):")
    for (dur, sid, ls, ir, srr, swr, srkb) in timed_slow[:10]:
        nm = stages.get(sid, {}).get("name", "?")[:110]
        print(f"  {dur:6.2f}s s{sid:<4} @{ls - t0:6.1f}s in={ir:<9} sr={srr:<9} sw={swr:<9} srkb={srkb:<8}  {nm}")

    import shutil

    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(evdir, ignore_errors=True)


if __name__ == "__main__":
    main()
