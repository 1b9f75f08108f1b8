"""Interleaved A/B of two checkouts on one perfbench workload.

Runs ``--pairs`` pairs of ``perfbench/run.py --trace 0``: each pair runs
both checkouts one after the other on the same fresh seed, and the
side that runs first alternates from pair to pair, so slow drift of
the host hits both sides alike. Every run lasts BENCHMARK.json's
``run_seconds``. Then, for every end-to-end metric in
``BENCHMARK.json``, it prints each side's median and quartiles, how
many pairs the head won, and whether the medians differ by more than
the base's interquartile range; plus the failed ops (and failed runs)
per side. Never run it beside another Spark JVM.

    python scripts/ab.py --base /path/to/parent --head . \\
        --workload corpus_ingest --pairs 10 --seed 1001
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(root: str, workload: str, seed: int, seconds: float) -> dict | None:
    """The result object of one run, or None if the run itself failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="parent checkout")
    ap.add_argument("--head", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="first seed")
    args = ap.parse_args()
    roots = {s: os.path.abspath(getattr(args, s)) for s in ("base", "head")}
    with open(os.path.join(roots["head"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    res: dict[str, list] = {"base": [], "head": []}
    for i in range(args.pairs):
        seed = args.seed + i
        for side in (("base", "head") if i % 2 == 0 else ("head", "base")):
            r = run(roots[side], args.workload, seed, bench["run_seconds"])
            res[side].append(r)
            vals = r and {k: round(v["value"], 3)
                          for k, v in r["metrics"].items()}
            print(f"pair {i} seed {seed} {side}: "
                  f"{'RUN FAILED' if r is None else vals}", flush=True)
    for side, rs in res.items():
        print(f"{side}: failed ops {sum(r['failed'] for r in rs if r)}, "
              f"failed runs {sum(r is None for r in rs)}")
    for name, how in better.items():
        pairs = [(b["metrics"][name]["value"], h["metrics"][name]["value"])
                 for b, h in zip(res["base"], res["head"])
                 if b and h and name in b["metrics"] and name in h["metrics"]]
        if not pairs:
            continue
        wins = sum((h < b) if how == "lower" else (h > b) for b, h in pairs)
        qb = quartiles([b for b, _ in pairs])
        qh = quartiles([h for _, h in pairs])
        clear = abs(qh[1] - qb[1]) > qb[2] - qb[0]
        print(f"{name} ({how} is better): base median {qb[1]:.4g} "
              f"[{qb[0]:.4g}, {qb[2]:.4g}]  head median {qh[1]:.4g} "
              f"[{qh[0]:.4g}, {qh[2]:.4g}]  head wins {wins}/{len(pairs)}  "
              f"median gap > base IQR: {'yes' if clear else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
