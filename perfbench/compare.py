"""Summarise and compare sets of benchmark results.

Each input file holds one result per line: the last stdout line of
`perfbench/run.py` (one JSON object). For each metric this prints the
median, the quartiles (`statistics.quantiles(n=4)`) and the spread, the
inter-quartile distance as a share of the median. With `--base`, it
also prints how far this set's median moved against the base set's, as
a share of the base median, signed so that positive is worse, and flags
a move beyond the metric's bound in BENCHMARK.json.

A file may also hold the run records that `run.py` prints to standard
error (the JSON line with "steal_share"). Then the median share of CPU
time the host stole during the runs is printed for each set, and two
sets whose steal differs by more than STEAL_GAP are flagged: on a
shared host, runs made under different steal are not comparable.

    python3 perfbench/compare.py after.jsonl --base before.jsonl
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STEAL_GAP = 0.02  # absolute difference in the median steal share of two sets


def load(path: str) -> tuple[dict[str, list[float]], list[float]]:
    """(metric name → values, steal shares) of one set of runs."""
    values: dict[str, list[float]] = {}
    steal: list[float] = []
    for line in Path(path).read_text().splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        res = json.loads(line)
        if "steal_share" in res:
            steal.append(float(res["steal_share"]))
            continue
        if not res.get("correct"):
            print(f"{path}: a run was not correct: {line[:200]}", file=sys.stderr)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(float(m["value"]))
    return values, steal


def summary(xs: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("results")
    p.add_argument("--base")
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    cur, cur_steal = load(args.results)
    base, base_steal = load(args.base) if args.base else ({}, [])
    worse = 0
    for label, st in (("this set", cur_steal), ("base set", base_steal)):
        if st:
            print(f"host CPU steal, {label}: median {statistics.median(st):.3f} "
                  f"(min {min(st):.3f}, max {max(st):.3f}, {len(st)} runs)")
    if cur_steal and base_steal and abs(
        statistics.median(cur_steal) - statistics.median(base_steal)
    ) > STEAL_GAP:
        print(f"STEAL DIFFERS by more than {STEAL_GAP}: the two sets ran under different "
              "host load and their medians are not comparable")
    print(f"{'metric':34} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}"
          + ("  move vs base" if base else ""))
    for name, xs in cur.items():
        med, q1, q3, spread = summary(xs)
        line = f"{name:34} {len(xs):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f}"
        m = metrics.get(name, {})
        if "bound" in m and spread > m["bound"] / 3:
            line += "  (spread above a third of the bound)"
        if name in base:
            bmed = summary(base[name])[0]
            sign = 1 if m.get("better") == "lower" else -1
            move = sign * (med - bmed) / bmed if bmed else 0.0
            line += f"  {move:+.3f}"
            if "bound" in m and move > m["bound"]:
                line += " WORSE THAN BOUND"
                worse += 1
        print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
