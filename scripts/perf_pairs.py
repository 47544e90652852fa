#!/usr/bin/env python3
"""Interleaved benchmark pairs of two checkouts, with the gain rule.

Runs ``perfbench/run.py`` (end-to-end metrics, ``--trace 0``) on a parent
checkout and a change checkout, ``--pairs`` times, one seed per pair, and
alternates which side runs first. It prints each run's metrics as it ends,
then, for every end-to-end metric of the change's ``BENCHMARK.json``, each
side's median and quartiles, the pairs the change wins (ties count for
neither) and whether the gain rule holds: the change wins at least nine
tenths of the pairs and the medians differ, in the better direction, by
more than the parent's interquartile range.

    python3 scripts/perf_pairs.py --parent ../parent-clone --change . \\
        --workload search --pairs 10 --seed 101 --seconds 10

Make the parent checkout with ``git clone`` (or ``git worktree add``) at the
parent commit. Both sides run the benchmark code of their own checkout. Only
the standard library is used.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run in ``checkout`` -> its result object,
    with ``metrics`` flattened to name -> value."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1800)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {proc.returncode}: {proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["metrics"] = {name: m["value"] for name, m in res["metrics"].items()}
    return res


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics: list[dict], parent: list[dict], change: list[dict]) -> list[dict]:
    """Per metric: both sides' quartiles, the change's wins and the verdict."""
    out = []
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        p = [r["metrics"][name] for r in parent]
        c = [r["metrics"][name] for r in change]
        wins = sum((b > a) if higher else (b < a) for a, b in zip(p, c))
        losses = sum((b < a) if higher else (b > a) for a, b in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        gain = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
        out.append(
            {
                "metric": name,
                "parent_q1_median_q3": pq,
                "change_q1_median_q3": cq,
                "change_wins": wins,
                "change_losses": losses,
                "pairs": len(p),
                "parent_iqr": pq[2] - pq[0],
                "gain_rule_holds": wins >= 0.9 * len(p) and gain > pq[2] - pq[0],
            }
        )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(getattr(args, side), args.workload, seed, args.seconds)
            runs[side].append(res)
            shown = {m["name"]: round(res["metrics"][m["name"]], 4) for m in metrics}
            print(json.dumps({"pair": i, "seed": seed, "side": side, "correct": res["correct"],
                              "attempted": res["attempted"], "failed": res["failed"], **shown}), flush=True)
    for row in summarize(metrics, runs["parent"], runs["change"]):
        print(json.dumps(row), flush=True)
    failed = {side: sum(r["failed"] for r in rs) for side, rs in runs.items()}
    print(json.dumps({"failed_ops": failed, "all_correct": all(r["correct"] for rs in runs.values() for r in rs)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
