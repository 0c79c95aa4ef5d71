"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve_stream --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics, taken from a traced
pass that follows an untraced one. Run records, spans and per-layer
self times go to `.perfbench/runs/`; scratch data goes to
`.perfbench/work/` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402

WORKLOADS = ("serve_stream", "admit_stream")
# per-layer metrics of layers a workload never calls; they are 0 by
# definition there. Any other per-layer metric without a value fails the run.
UNREACHED = {
    "serve_stream": ("gate.", "dedup."),
    "admit_stream": ("ingest.", "agent.", "retrieval.", "embed.", "llm.", "jobs."),
}


def _spec() -> dict:
    with open(harness.ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _serve_stream(wl, tracing: bool, seconds: float) -> dict:
    # a traced run also ingests the store afresh; a half-length untraced
    # pass keeps it well inside the 180 s a run may take
    from serve_stream import LOOP_TAG

    w = wl.closed_loop(LOOP_TAG, seconds / 2 if tracing else seconds)
    out = {"e2e": wl.end_to_end(w), "failed": wl.check(w), "attempted": len(w["due"]),
           "record": {"samples": len(w["seen"]), "triggers": len(w["triggers"]),
                      "trigger_s": [t.dur for t in w["triggers"]],
                      "trigger_rows": [t.rows for t in w["triggers"]],
                      "caller_late_p99_s": harness.pct(w["late"], 99)}}
    if tracing:
        tw, layers = wl.traced_loop("t", seconds)
        layers.update(wl.layers)
        layers["bench.gen_late_p99_s"] = harness.pct(tw["late"], 99)
        layers["bench.trace_overhead_frac"] = (
            wl.end_to_end(tw)["latency_p50_s"] / out["e2e"]["latency_p50_s"] - 1.0
        )
        out["layers"] = layers
        out["failed"] += wl.check(tw)
        out["attempted"] += len(tw["due"])
    return out


def _admit_stream(wl, tracing: bool, seconds: float) -> dict:
    from admit_stream import SECONDS_PER_DRAIN

    drains = [wl.drain(f"m{i}") for i in range(max(1, round(seconds / SECONDS_PER_DRAIN)))]
    failed = wl.setup_failed * wl.n_docs + sum(wl.check(d) for d in drains)
    out = {"e2e": wl.end_to_end(drains), "failed": failed, "attempted": wl.n_docs * len(drains),
           "record": {"drains": len(drains), "triggers": sum(len(d["triggers"]) for d in drains),
                      "drain_s": [d["end"] - d["start"] for d in drains],
                      "trigger_s": [t.dur for d in drains for t in d["triggers"]]}}
    if tracing:
        dr, layers = wl.traced_drain("t")
        out["failed"] += wl.check(dr)
        out["attempted"] += wl.n_docs
        layers["bench.gen_late_p99_s"] = 0.0  # closed loop: no generator
        layers["bench.trace_overhead_frac"] = (
            (dr["end"] - dr["start"]) / statistics.median(out["record"]["drain_s"]) - 1.0
        )
        out["layers"] = layers
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    spec = _spec()
    load_start, cpu_start = os.getloadavg(), harness.cpu_times()
    sys.path.insert(1, str(harness.ROOT))
    try:
        import githubrepostorag_spark  # noqa: F401  # the engine must be in the checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {harness.ROOT}: {e}", file=sys.stderr)
        return 2

    work = harness.OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = harness.OUT / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    harness.prepare_env(work)
    tracing = bool(args.trace)
    spark = None
    try:
        t0 = time.time()
        spark = harness.start_spark()
        session_s = time.time() - t0

        tracer = joblog = None
        if tracing:
            from sparkstat import JobLog
            from spans import Tracer

            tracer = Tracer()
            joblog = JobLog(spark.sparkContext, ["perfbench-ingest"])
            joblog.start()
            tracer.add("setup.session", t0, t0 + session_s, op="setup")

        if args.workload == "serve_stream":
            from serve_stream import StreamServer

            wl = StreamServer(spark, work, args.seed, tracer, joblog)
        else:
            from admit_stream import AdmitStream

            wl = AdmitStream(spark, work, args.seed, tracer, joblog)
        t1 = time.time()
        wl.setup()
        setup_s = session_s + (time.time() - t1) - wl.build_s

        if args.workload == "serve_stream":
            res = _serve_stream(wl, tracing, args.seconds)
        else:
            res = _admit_stream(wl, tracing, args.seconds)
        wl.stop()
        rss = harness.peak_rss_mb()
        if joblog:
            joblog.stop()
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["e2e"], setup_s=setup_s)
    if tracing:
        values = dict(res["layers"], **{"bench.load1_start": load_start[0]})
        wanted = spec["per_layer"]
        for m in wanted:
            if m["name"].startswith(UNREACHED[args.workload]):
                values.setdefault(m["name"], 0.0)
    else:
        values, wanted = e2e, spec["end_to_end"]

    record = harness.run_record(args, load_start, cpu_start)
    record.update(wl.record, **res["record"], session_s=session_s, peak_rss_mb=rss,
                  end_to_end=e2e, attempted=res["attempted"], failed=res["failed"])
    harness.write_json(run_dir / "record.json", record)
    if tracing:
        from spans import self_times

        tracer.dump(str(run_dir / "spans.jsonl"))
        harness.write_json(run_dir / "layers.json", values)
        selfs = self_times(tracer.spans)
        by_name: dict[str, float] = {}
        for s in tracer.spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + selfs[s.span_id]
        harness.write_json(run_dir / "self_times.json", by_name)
    print(json.dumps(record, default=str), file=sys.stderr)
    missing = [m["name"] for m in wanted if not math.isfinite(values.get(m["name"], math.nan))]
    if missing:
        print(f"perfbench: no value measured for {', '.join(missing)}", file=sys.stderr)
        return 3
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
