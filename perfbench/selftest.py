"""Self-tests of the benchmark, at a tiny input size.

    python3 perfbench/selftest.py            # all workloads
    python3 perfbench/selftest.py query_mix  # one

For each workload: an untraced and a traced smoke run print every
metric of BENCHMARK.json with its unit, with zero failed ops; a run
with ``--corrupt`` (one output deliberately altered before its check)
reports failed ops and ``correct: false``. Finally the benchmark, run
from a directory holding only BENCHMARK.json and perfbench/, exits
non-zero without printing a result. Runs one JVM at a time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seconds", "1", "--scale", "0.05"]


def run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", *TINY, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except ValueError:
        return p.returncode, None


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def check_metrics(res: dict, spec: list[dict], what: str) -> None:
    expect(set(res) == {"correct", "attempted", "failed", "metrics"},
           f"{what}: result keys")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    expect(got == want, f"{what}: every metric with its unit")
    expect(all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values()), f"{what}: numeric values")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in names:
        rc, res = run(w, "--trace", "0")
        expect(rc == 0 and res is not None, f"{w}: untraced run exits 0")
        check_metrics(res, bench["end_to_end"], f"{w} untraced")
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
               f"{w}: zero failed ops")
        rc, res = run(w, "--trace", "1")
        expect(rc == 0 and res is not None, f"{w}: traced run exits 0")
        check_metrics(res, bench["per_layer"], f"{w} traced")
        rc, res = run(w, "--trace", "0", "--corrupt")
        expect(rc == 0 and res is not None and not res["correct"]
               and res["failed"] >= 1,
               f"{w}: a corrupted output counts as a failed op")
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(HERE, "_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_*", "__pycache__"))
        rc, res = run(names[0], cwd=bare)
        expect(rc != 0 and res is None,
               "outside a checkout: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    main()
