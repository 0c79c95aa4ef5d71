"""One-time open-loop rate sweep over the serve_stream set-up: answer
latency and backlog at a few fixed Poisson arrival rates, in one
process over one store.

    python3 perfbench/rate_sweep.py [--rates 0.5,1,1.5,2] [--questions 30] [--seed 1]

Prints a Markdown table; RATE_SWEEP.md holds a run of it and what it
showed. Each question is timed from its due time.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--rates", default="0.5,0.75,1,1.25,1.5,2")
    p.add_argument("--questions", type=int, default=30)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    sys.path.insert(1, str(harness.ROOT))
    work = harness.OUT / "work" / f"rate-sweep-{os.getpid()}"
    harness.prepare_env(work)
    spark = harness.start_spark()
    rows = []
    try:
        from serve_stream import StreamServer

        wl = StreamServer(spark, work, args.seed)
        wl.setup()
        for k, rate in enumerate(float(r) for r in args.rates.split(",")):
            w = wl.open_loop(f"r{k}-", args.questions, rate)
            e = wl.end_to_end(w)
            lat = sorted(w["seen"][j] - w["due"][j] for j in w["seen"])
            sizes = [t.rows for t in w["triggers"]]
            rows.append((rate, e, w, sum(sizes) / max(1, len(sizes)), lat, wl.check(w)))
        wl.stop()
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"nproc={harness.nproc()} questions per rate={args.questions} seed={args.seed}\n")
    print("| rate q/s | p50 s | max s | answered per busy s | mean batch | backlog at last arrival | backlog grew | failed |")
    print("|---|---|---|---|---|---|---|---|")
    for rate, e, w, batch, lat, failed in rows:
        print(f"| {rate:g} | {e['latency_p50_s']:.2f} | {lat[-1]:.2f} | {e['answered_per_busy_s']:.2f} | "
              f"{batch:.1f} | {w['backlog_end']} | {w['backlog_grew']} | {failed} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
