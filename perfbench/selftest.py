"""Self-test of the benchmark on tiny inputs (sf0.001, two small
workbooks).

For every workload run.py knows (BENCHMARK.json's and
``relational_sf0.01``) it runs ``run.py --smoke`` untraced, and traced with
``--corrupt``, and asserts that:

* every metric BENCHMARK.json names is printed with its unit;
* the untraced run is correct with nothing failed, so every entry of
  both query lists matches its stored sf0.001 digest;
* the deliberately corrupted result is caught (``failed`` > 0);
* the layer counters read real values: operator entries launch jobs
  while their DataFrame is built and move data through Python workers,
  relational entries move none, and the pipeline parses rows and writes
  output.

It also asserts that run.py exits non-zero, printing no result, in a
directory holding only BENCHMARK.json and perfbench/.

Usage (from the repository root):  python3 perfbench/selftest.py
(about 15 minutes on 4 cores).  The ``ivfpq_topk_staged`` entry stages
its parquet under /tmp, as the program does.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()

# traced smoke run -> per-layer metrics that must be > 0, and that must be 0
LAYER_CHECKS = {
    "operators_sf0.01": (["operators.build_jobs", "functions.python_s",
                          "functions.python_mb", "exec.jobs"], []),
    "relational_sf0.01": (["exec.jobs", "exec.tasks"], ["functions.python_mb"]),
    "excel_etl": (["sources.rows", "sources.parse_s", "sinks.rows_written",
                   "sinks.output_mb", "operators.combine_jobs"], []),
}


def run(cwd: str, workload: str, *flags: str) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--smoke", *flags],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout


def result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from run import WORKLOADS

    problems = []
    for w in WORKLOADS:
        for flags, group in ((["--trace", "0"], "end_to_end"),
                             (["--trace", "1", "--corrupt"], "per_layer")):
            code, out = run(ROOT, w, *flags)
            if code != 0:
                problems.append(f"{w} {flags}: exit code {code}")
                continue
            r = result(out)
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{w} {flags}: metrics {got} != {want}")
            corrupt = "--corrupt" in flags
            if corrupt and not (r["failed"] > 0 and not r["correct"]):
                problems.append(f"{w}: corrupted result not caught: {r}")
            if not corrupt and not (r["failed"] == 0 and r["correct"]):
                problems.append(f"{w}: smoke run failed: {r}")
            if group == "per_layer":
                positive, zero = LAYER_CHECKS[w]
                value = {k: v["value"] for k, v in r["metrics"].items()}
                problems += [f"{w}: {k} = {value.get(k)}, expected > 0"
                             for k in positive if not value.get(k, 0) > 0]
                problems += [f"{w}: {k} = {value.get(k)}, expected 0"
                             for k in zero if value.get(k) != 0]
            print(f"{w} {' '.join(flags)}: attempted {r['attempted']} "
                  f"failed {r['failed']}", file=sys.stderr)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = run(bare, spec["workloads"][0]["name"], "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or out.strip():
        problems.append(f"bare directory: exit code {code}, stdout {out[-200:]!r}")

    for p in problems:
        print(f"FAIL {p}", file=sys.stderr)
    print("selftest:", "FAILED" if problems else "ok", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
