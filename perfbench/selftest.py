"""Self-test of the benchmark command at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload (``--workload all --size tiny``) untraced and
traced, and checks the output contract: exit code 0, a final JSON line
with exactly ``correct``, ``attempted``, ``failed`` and ``metrics``,
every end-to-end metric (untraced) or per-layer metric (traced) for
every workload, each with its unit. Then checks that the command fails,
without printing a result, in a directory holding only
``BENCHMARK.json`` and ``perfbench/``. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_contract(trace: int) -> list[str]:
    p = run(ROOT, "--workload", "all", "--size", "tiny", "--trace", str(trace))
    if p.returncode != 0:
        return [f"trace {trace}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"trace {trace}: keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"trace {trace}: correct={result['correct']} failed={result['failed']}")
    expected = PER_LAYER if trace else END_TO_END
    want = {f"{w}.{name}": unit for w in WORKLOADS for name, unit in expected}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"trace {trace}: metric set differs: {sorted(set(got) ^ set(want))}")
    return problems


def check_bare_directory() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run(bare, "--workload", "research_batch")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]
    return []


def main() -> int:
    problems = check_bare_directory() + check_contract(0) + check_contract(1)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
