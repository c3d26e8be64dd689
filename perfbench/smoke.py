"""Smoke test of the benchmark on tiny inputs.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json untraced and traced on 20k-turn
pairs for one second, and checks that each result line is correct and
names exactly the end-to-end (untraced) or per-layer (traced) metrics,
with their units. Then checks that the benchmark exits non-zero, printing
no result, in a directory holding only BENCHMARK.json and its own files.
Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def result_line(stdout: str):
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--turns", "20000",
            ]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            res = result_line(out.stdout)
            label = f"{w['name']} trace={trace}"
            if out.returncode != 0 or res is None:
                failures.append(f"{label}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{label}: result keys {sorted(res)}")
                continue
            before = len(failures)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{label}: correct={res['correct']} failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(
                    f"{label}: missing {sorted(want.keys() - got.keys())},"
                    f" extra {sorted(got.keys() - want.keys())},"
                    f" unit mismatches {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}"
                )
            if len(failures) == before:
                print(f"ok  {label}: {len(got)} metrics", flush=True)

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        cmd = spec["command"] + ["--workload", spec["workloads"][0]["name"],
                                 "--seed", "1", "--seconds", "1", "--trace", "0"]
        out = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
        if out.returncode == 0 or result_line(out.stdout) is not None:
            failures.append("bare directory: expected a non-zero exit and no result")
        else:
            print("ok  bare directory: exits", out.returncode)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
