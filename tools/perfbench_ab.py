"""Paired A/B of two checkouts on the repository benchmark.

    python tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload ods_chain \
        --seeds 101 102 103 104 105 106 107 108 109 110 [--json ab.json]

For each seed it runs the unmodified ``perfbench/run.py`` of both checkouts
for ``BENCHMARK.json``'s ``run_seconds`` (the file is read from PARENT_DIR),
one right after the other, alternating which runs first (parent first on
even positions), so the machine's drift falls on both sides alike. A pair in
which either run failed or lacks a metric is left out of the statistics, and
then no verdict is printed at all. For every end-to-end metric it prints:

- each side's median and quartiles (``statistics.quantiles(n=4)``);
- the parent's quartile distance over its median (its spread);
- the change's median over the parent's, minus 1;
- the number of pairs the change won;
- ``claim`` when the change won at least 9 in 10 pairs and its median is
  better by more than the parent's quartile distance;
- ``REGRESSION`` when the change's median is worse than the parent's by
  more than the metric's bound;

then every pair's values, and the failed operations of every run. With
``--json`` the raw runs are written to a file after each run.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``checkout``; its final JSON line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        out = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    return {"correct": out["correct"], "attempted": out["attempted"], "failed": out["failed"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()}}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return q1, med, q3


def usable(pair: dict, names: list[str]) -> bool:
    """Both runs of the pair are correct, failed nothing and carry every metric."""
    return all(pair[s]["correct"] and not pair[s]["failed"]
               and all(n in pair[s]["metrics"] for n in names) for s in ("parent", "change"))


def report(pairs: list[dict], spec: dict) -> dict[str, list[str]]:
    """Print the comparison; return each metric's verdicts (none if a pair was left out)."""
    names = [m["name"] for m in spec["end_to_end"]]
    good = [p for p in pairs if usable(p, names)]
    if len(good) < len(pairs):
        print(f"{len(pairs) - len(good)} of {len(pairs)} pairs left out (a run failed or "
              "lacks a metric): no verdict")
    verdicts = {n: [] for n in names}
    if not good:
        return verdicts
    print(f"{'metric':<15}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}"
          f"{'spread':>8}{'change':>9}{'wins':>7}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name] for p in good]
        chg = [p["change"]["metrics"][name] for p in good]
        pq, cq = quartiles(par), quartiles(chg)
        spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
        rel = cq[1] / pq[1] - 1 if pq[1] else float("inf")
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        verdict = verdicts[name]
        if len(good) == len(pairs):
            if wins * 10 >= 9 * len(good) and gain > pq[2] - pq[0]:
                verdict.append("claim")
            if (rel if lower else -rel) > m["bound"]:
                verdict.append("REGRESSION")
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
        print(f"{name:<15}{fmt(pq):>28}{fmt(cq):>28}{spread:>8.3f}{rel:>+9.3f}"
              f"{wins:>4}/{len(good):<2}  {' '.join(verdict)}")
    print()
    print("per pair, parent -> change (- = missing):")
    val = lambda run, n: f"{run['metrics'][n]:.4g}" if n in run["metrics"] else "-"  # noqa: E731
    for p in pairs:
        cells = [f"{n}={val(p['parent'], n)}->{val(p['change'], n)}" for n in names]
        print(f"  seed {p['seed']} ({p['first']} first): " + "  ".join(cells))
    print("failed operations, parent / change: " + ", ".join(
        f"{p['parent']['failed']}/{p['change']['failed']}" for p in pairs))
    return verdicts


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--json", type=Path, help="write the raw runs here after each run")
    args = ap.parse_args()
    spec = json.loads((args.parent / "BENCHMARK.json").read_text())

    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(getattr(args, side), args.workload, seed, spec["run_seconds"])
            m = pair[side]["metrics"]
            print(f"seed {seed} {side:<6} failed={pair[side]['failed']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in m.items()), flush=True)
        pairs.append(pair)
        if args.json:
            args.json.write_text(json.dumps({"workload": args.workload, "pairs": pairs},
                                            indent=1))
    print()
    report(pairs, spec)
    return 0 if all(p[s]["correct"] for p in pairs for s in ("parent", "change")) else 1


if __name__ == "__main__":
    sys.exit(main())
