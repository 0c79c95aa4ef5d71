"""admit_stream: drain a backlog of document batch files through the
near-duplicate admission gate, `streaming.ingest.stream_dedup_gate`.

Setup splits the corpus (`corpus.py`) by the seed: one fifth of it,
1,000 documents, seeds a persisted LSH dedup store
(`operators.dedup.write_dedup_store`), and a seeded sample of the rest
becomes batch files that arrive in seeded order. Setup then drains the backlog once;
that drain is the warm-up and its accepted and rejected doc_id sets are
the reference. Each measured drain starts from a fresh copy of the
seeded store and reads one batch file per trigger (`maxFilesPerTrigger=1`),
so every trigger probes the store and then appends to it. Latency is the
duration of one trigger: the time to admit one batch file.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import streams
from harness import pct

BASE_SHARE = 0.2
N_BATCHES = 4
BATCH_DOCS = 100  # documents per batch file; the backlog is a sample, for the run budget
DRAIN_TIMEOUT_S = 40.0  # a drain takes about 10 s; a hung one must not push the run past 180 s
SECONDS_PER_DRAIN = 10.0  # a run measures one drain per this many seconds of --seconds


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) if path.exists() else 0


def _ids(path: Path, col: str) -> list[int]:
    return pq.read_table(path, columns=[col]).column(0).to_pylist() if path.exists() else []


class AdmitStream:
    def __init__(self, spark, work: Path, seed: int, tracer=None, joblog=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.joblog = tracer, joblog
        self.build_s = 0.0
        self.record: dict = {}

    def stop(self) -> None:
        pass

    def setup(self) -> None:
        from githubrepostorag_spark.operators.dedup import write_dedup_store

        base, batches = corpus.split_admission(
            corpus.documents(), self.seed, BASE_SHARE, N_BATCHES, BATCH_DOCS
        )
        self.inbox = self.work / "inbox"
        self.inbox.mkdir(parents=True)
        names = ["doc_id", "text", "lang", "source"]
        t_files = time.time() - len(batches)
        for i, b in enumerate(batches):
            path = self.inbox / f"batch-{i:03d}.parquet"
            pq.write_table(pa.Table.from_pylist([dict(zip(names, r)) for r in b]), path)
            # the file source orders files by modification time
            os.utime(path, (t_files + i, t_files + i))
        self.input_bytes = _dir_bytes(self.inbox)
        self.n_docs = sum(len(b) for b in batches)
        # the gate exact-dedups within a batch (lowest doc_id wins), so the
        # documents it decides on are the first of each text in a batch
        self.decidable = set()
        for b in batches:
            first: dict[str, int] = {}
            for doc_id, text, _, _ in b:
                first[text] = min(doc_id, first.get(text, doc_id))
            self.decidable |= set(first.values())
        self.base_store = self.work / "dedup-base"
        write_dedup_store(self.spark.createDataFrame(base, corpus.DOC_SCHEMA), str(self.base_store))
        t0 = time.time()
        ref = self.drain("reference")
        self.record["reference_drain_s"] = time.time() - t0
        self.reference = (ref["accepted"], ref["rejected"])
        self.setup_failed = int(
            bool(ref["accepted"] & ref["rejected"])
            or (ref["accepted"] | ref["rejected"]) != self.decidable
        )

    def drain(self, tag: str) -> dict:
        """One backlog drain against a fresh copy of the seeded store."""
        from githubrepostorag_spark.streaming.ingest import stream_dedup_gate

        d = self.work / f"drain-{tag}"
        store = d / "dedup"
        shutil.copytree(self.base_store, store)
        store_bytes0 = _dir_bytes(store)
        t0 = time.time()
        stream = (
            self.spark.readStream.schema(corpus.DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(self.inbox))
        )
        query = stream_dedup_gate(
            stream, str(store), str(d / "accepted"), str(d / "rejected"), str(d / "checkpoint")
        )
        if self.joblog:
            self.joblog.watch(str(query.runId))
        finished = query.awaitTermination(DRAIN_TIMEOUT_S)
        t1 = time.time()
        if not finished:
            query.stop()
        trigs = streams.triggers(query)
        accepted = set(_ids(d / "accepted", "doc_id"))
        rejected = set(_ids(d / "rejected", "new_id"))
        out = {
            "start": t0, "end": t1, "finished": bool(finished), "triggers": trigs,
            "run_id": str(query.runId), "accepted": accepted, "rejected": rejected,
            "store_rows": pq.read_table(store / "signatures", columns=["doc_id"]).num_rows,
            "store_bytes": _dir_bytes(store),
            "bytes_written": _dir_bytes(d / "accepted") + _dir_bytes(d / "rejected")
            + _dir_bytes(store) - store_bytes0,
        }
        shutil.rmtree(d, ignore_errors=True)
        return out

    def check(self, drain: dict) -> int:
        """Number of documents whose decision differs from the reference
        drain (a drain that did not finish fails every document)."""
        if not drain["finished"]:
            return self.n_docs
        acc, rej = self.reference
        return len(drain["accepted"] ^ acc) + len(drain["rejected"] ^ rej)

    @staticmethod
    def end_to_end(drains: list[dict]) -> dict:
        lat = [t.dur for dr in drains for t in dr["triggers"]]
        docs = sum(t.rows for dr in drains for t in dr["triggers"])
        wall = sum(dr["end"] - dr["start"] for dr in drains)
        return {
            "latency_p50_s": pct(lat, 50) if lat else float("nan"),
            "items_per_s": docs / wall if wall else float("nan"),
        }

    def traced_drain(self, tag: str) -> tuple[dict, dict]:
        """One drain with the dedup operators the gate calls wrapped."""
        from contextlib import ExitStack

        from githubrepostorag_spark.operators import dedup

        from spans import self_times

        tr = self.tracer
        n0 = len(tr.spans)
        with ExitStack() as stack:
            for fn, name in (
                ("exact_dedup", "dedup.exact_call"),
                ("minhash_signatures", "dedup.minhash_call"),
                ("incremental_near_dups", "dedup.probe_call"),
                ("append_to_dedup_store", "dedup.append"),
            ):
                stack.enter_context(tr.wrap(dedup, fn, name))
            # the gate's own Spark calls between them: the eager pins of the
            # probe result and the accepted and rejected log writes
            df_cls = type(self.spark.range(1))
            stack.enter_context(
                tr.wrap(df_cls, "localCheckpoint", "gate.local_checkpoint", root_only=True)
            )
            stack.enter_context(
                tr.wrap(type(self.spark.range(1).write), "parquet", "gate.write_parquet",
                        root_only=True)
            )
            dr = self.drain(tag)
        wrapped = tr.spans[n0:]
        trig_spans = [streams.trace_trigger(tr, t, "gate.trigger") for t in dr["triggers"]]
        streams.adopt(tr, trig_spans, wrapped)
        # the probe's plan is built by the call; it runs in the gate's next
        # eager pin, together with the two log writes, before the append
        probe_and_log = 0.0
        for root, _ in trig_spans:
            mine = [s for s in wrapped if s.op == root.op]
            probe = [s for s in mine if s.name == "dedup.probe_call"]
            append = [s for s in mine if s.name == "dedup.append"]
            if probe and append:
                probe_and_log += append[0].start - probe[-1].end
        ops = {root.op for root, _ in trig_spans}
        spans = [s for s in tr.spans if s.op in ops]
        selfs = self_times(tr.spans)
        n = max(1, len(trig_spans))

        def per_trigger(name: str) -> float:
            return sum(s.dur for s in spans if s.name == name) / n

        L: dict[str, float] = {}
        if self.joblog:
            tot: dict[str, float] = {}
            for t in dr["triggers"]:
                for k, v in self.joblog.counters(dr["run_id"], t.start, t.end).items():
                    tot[k] = tot.get(k, 0.0) + v
            for k, v in tot.items():
                L[f"spark.{k}"] = v / n
        trigs = dr["triggers"]
        L["gate.trigger_s"] = sum(t.dur for t in trigs) / n
        L["gate.overhead_s"] = sum(t.dur - t.phases.get("addBatch", 0.0) for t in trigs) / n
        L["gate.add_batch_self_s"] = sum(
            selfs[s.span_id] for s in spans if s.name == "gate.trigger.addBatch"
        ) / n
        L["dedup.probe_call_s"] = per_trigger("dedup.probe_call")
        L["gate.probe_and_log_s"] = probe_and_log / n
        L["dedup.append_s"] = per_trigger("dedup.append")
        decided = len(dr["accepted"]) + len(dr["rejected"])
        L["gate.reject_share"] = len(dr["rejected"]) / decided if decided else 0.0
        L["dedup.store_rows_end"] = dr["store_rows"]
        L["dedup.store_bytes_end"] = dr["store_bytes"]
        L["gate.bytes_written_per_input_byte"] = dr["bytes_written"] / self.input_bytes
        cov = [streams.trigger_coverage(tr, root, ab) for root, ab in trig_spans]
        L["bench.span_coverage"] = statistics.mean(cov) if cov else math.nan
        return dr, L
