"""serve_stream: questions answered by the streaming job plane,
`streaming.jobs.run_job_stream`, over a 5-scope vector store.

The store is the whole corpus (the repo's sf0.1 `documents` table:
5,000 documents, 9,443 vector rows over 5 scopes), built by
`plans.ingest.ingest_pipeline` and `operators.vector_write.write_vector_tables`. It is built once per
checkout and engine source digest, on the first run that needs it. That
is the build step, and it is not counted in `setup_s`: a cold ingest
costs about 35 s on a 4-core box, which the run budget cannot pay on
every run. The traced run always ingests afresh, so it measures the
ingest layers.

Setup loads the store and answers the first questions the measured loop
will send directly with `GraphRAGAgent.run_batch` and `DeterministicLLM`,
in batches of `CALLERS`: that is the reference the stream's answers must
match, and it warms the agent's plans, which the JVM keeps speeding up
over the first several batches. Setup then starts the stream on an empty
input directory and warms it with `WARM_BURSTS` bursts of `CALLERS`
questions. Each question is its own JSON
file, written to a dot-file and then renamed into the input directory.
Completions are found by reading the answers sink with pyarrow, so the
observer starts no Spark job. A question's latency runs from the moment
it was due until its answer row is visible in the sink.

Two loops drive the stream:

- `closed_loop`, the benchmark: `CALLERS` callers, each sending its next
  question as soon as its previous answer is visible;
- `open_loop`, used by rate_sweep.py: seeded Poisson arrivals at a fixed
  rate, each question timed from its due time.

After a loop, any question it sent that has no reference yet is answered
directly the same way. The stream's answer, scope, sources and `final`
event must match the reference exactly.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from contextlib import ExitStack, nullcontext
from pathlib import Path

import pyarrow.parquet as pq

import corpus
import harness
import streams
from harness import pct

CALLERS = 10  # one full micro-batch (MAX_JOBS_PER_TRIGGER) per round
MAX_JOBS_PER_TRIGGER = 10  # the reference worker's max_jobs
LOOP_TAG = "m"  # job-id prefix of the measured loop's questions
REF_BATCHES = 3  # reference batches answered in setup; the rest are answered after the loop
WARM_BURSTS = 1
POLL_S = 0.05
DRAIN_TIMEOUT_S = 30.0  # a trigger takes 2-10 s; a hung stream must not push the run past 180 s


class StreamServer:
    def __init__(self, spark, work: Path, seed: int, tracer=None, joblog=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.joblog = tracer, joblog
        self.layers: dict[str, float] = {}
        self.record: dict = {}
        self.build_s = 0.0  # the one-time store build, when this run made it
        self.timing_llm = False
        self.llms: list = []
        self.seen: dict[str, float] = {}
        self.reference: dict[str, list] = {}
        self._read_files: set[str] = set()

    def _span(self, name: str):
        return self.tracer.span(name, op="setup") if self.tracer else nullcontext()

    # ---------------- store ----------------
    def _ingest(self, path: Path, stage_times: bool = False) -> tuple[float, float, dict]:
        """Ingest the whole corpus into `path`; returns (build_s, write_s,
        stage → seconds). With `stage_times`, the pipeline runs in its
        diagnostic mode, which forces each persisted stage inside the
        call and times it."""
        from githubrepostorag_spark.llm.stub import DeterministicLLM
        from githubrepostorag_spark.operators import vector_write
        from githubrepostorag_spark.plans import ingest
        from githubrepostorag_spark.plans.parity import code_docs_fixture

        raw = self.spark.createDataFrame(corpus.documents(), corpus.DOC_SCHEMA)
        self.docs = code_docs_fixture(raw).select("repo", "file_path", "text")
        t0 = time.time()
        with self._span("ingest.build"):
            res = ingest.ingest_pipeline(
                self.docs, ingest_run_id="perfbench-store", llm_factory=DeterministicLLM,
                collect_stage_times=stage_times,
            )
        t1 = time.time()
        with self._span("ingest.write"):
            vector_write.write_vector_tables(res.rows, str(path))
        t2 = time.time()
        stages = (
            {r["stage"]: float(r["seconds"]) for r in res.timed_stages.collect()}
            if stage_times else {}
        )
        res.unpersist()
        return t1 - t0, t2 - t1, stages

    def _store_path(self) -> Path:
        """The cached store of this engine source, built on first use."""
        path = harness.OUT / "build" / f"serve-store-{harness.source_digest()}"
        if not path.exists():
            tmp = path.with_name(f".{path.name}-{os.getpid()}")
            shutil.rmtree(tmp, ignore_errors=True)
            t0 = time.time()
            build_s, write_s, _ = self._ingest(tmp)
            os.rename(tmp, path)
            self.build_s = time.time() - t0
            self.record.update(store_ingest_build_s=build_s, store_ingest_write_s=write_s)
        return path

    def _traced_store(self) -> Path:
        """Ingest afresh, in the pipeline's diagnostic mode, with the ingest
        layers measured. One pass gives both the call and write times and
        the per-stage times, so the traced run stays well inside 180 s; the
        forced stages count in `ingest.build_s` instead of `ingest.write_s`."""
        sc = self.spark.sparkContext
        path = self.work / "store"
        sc.setJobGroup("perfbench-ingest", "perfbench: ingest the serving store")
        t0 = time.time()
        build_s, write_s, stages = self._ingest(path, stage_times=True)
        t1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        self.joblog.poll()
        c = self.joblog.counters("perfbench-ingest", t0, t1)
        self.layers.update({
            "ingest.build_s": build_s, "ingest.write_s": write_s,
            "ingest.jobs": c["jobs"], "ingest.exec_cpu_s": c["exec_cpu_s"],
            "ingest.rows_out": pq.read_table(path, columns=["row_id"]).num_rows,
        })
        self.layers.update({f"ingest.stage.{k}_s": v for k, v in stages.items()})
        return path

    # ---------------- setup ----------------
    def setup(self) -> None:
        from githubrepostorag_spark.llm.stub import DeterministicLLM
        from githubrepostorag_spark.streaming.jobs import read_query_stream, run_job_stream

        from spans import TimingLLM

        path = self._traced_store() if self.tracer else self._store_path()
        self.record["store_build_s"] = self.build_s
        self.store = self.spark.read.parquet(str(path))
        t0 = time.time()
        with self._span("serve.reference"):
            pool = corpus.questions(REF_BATCHES * CALLERS, self.seed, prefix=LOOP_TAG)
            for k in range(REF_BATCHES):
                self._answer(pool[k * CALLERS : (k + 1) * CALLERS])
        self.record["reference_s"] = time.time() - t0

        def llm_factory():
            if not self.timing_llm:
                return DeterministicLLM()
            self.llms.append(TimingLLM(DeterministicLLM()))
            return self.llms[-1]

        d = self.work / "serve"
        self.inbox, self.answers, self.events = d / "in", d / "answers", d / "events"
        self.inbox.mkdir(parents=True)
        self.query = run_job_stream(
            read_query_stream(self.spark, str(self.inbox), MAX_JOBS_PER_TRIGGER),
            self.store, llm_factory,
            answers_path=str(self.answers), events_path=str(self.events),
            checkpoint_path=str(d / "checkpoint"),
        )
        if self.joblog:
            self.joblog.watch(str(self.query.runId))
        t0 = time.time()
        with self._span("jobs.warmup"):
            warm = corpus.questions(WARM_BURSTS * CALLERS, self.seed, prefix="w")
            for k in range(WARM_BURSTS):
                burst = warm[k * CALLERS : (k + 1) * CALLERS]
                for q in burst:
                    self._send(q["job_id"], q["query"])
                deadline = time.time() + DRAIN_TIMEOUT_S
                while any(q["job_id"] not in self.seen for q in burst) and time.time() < deadline:
                    self._poll()
                self._wait_idle()
        self.record["stream_warmup_s"] = time.time() - t0

    # ---------------- stream I/O ----------------
    def _send(self, job_id: str, query: str) -> None:
        tmp = self.inbox / f".{job_id}.tmp"
        tmp.write_text(json.dumps({"job_id": job_id, "query": query}) + "\n")
        os.rename(tmp, self.inbox / f"{job_id}.json")

    def _poll(self) -> None:
        """Note the first time each answer row is visible in the sink."""
        time.sleep(POLL_S)
        if not self.answers.is_dir():
            return
        for name in os.listdir(self.answers):
            if name.endswith(".parquet") and name not in self._read_files:
                self._read_files.add(name)
                t = time.time()
                for jid in pq.read_table(self.answers / name, columns=["job_id"]).column(0).to_pylist():
                    self.seen.setdefault(jid, t)

    def _wait_idle(self, timeout: float = DRAIN_TIMEOUT_S) -> None:
        """Wait for the trigger in flight to commit (its events included)."""
        deadline = time.time() + timeout
        while self.query.status["isTriggerActive"] and time.time() < deadline:
            time.sleep(POLL_S)

    def stop(self) -> None:
        self._wait_idle()
        self.query.stop()

    # ---------------- loops ----------------
    def closed_loop(self, tag: str, seconds: float) -> dict:
        """`CALLERS` callers send questions for `seconds`; each sends its
        next one when the previous answer is visible. Caller k asks every
        CALLERS-th question of the seeded mix, so each round carries all
        four intents."""
        pool = corpus.questions(CALLERS * (int(seconds / 0.5) + 2), self.seed, prefix=tag)
        queues = [pool[k::CALLERS] for k in range(CALLERS)]
        due: dict[str, float] = {}
        text: dict[str, str] = {}
        late: list[float] = []
        waiting: list[str | None] = [None] * CALLERS
        start = time.time()
        end, deadline = start + seconds, start + seconds + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            now = time.time()
            for k in range(CALLERS):
                prev = waiting[k]
                if prev is not None and prev not in self.seen:
                    continue
                waiting[k] = None
                if now < end and queues[k]:
                    q = queues[k].pop(0)
                    self._send(q["job_id"], q["query"])
                    due[q["job_id"]], text[q["job_id"]] = now, q["query"]
                    late.append(time.time() - (self.seen[prev] if prev else now))
                    waiting[k] = q["job_id"]
            if now >= end and not any(waiting):
                break
            self._poll()
        return self._finish(start, due, text, late, sum(1 for j in waiting if j))

    def open_loop(self, tag: str, n: int, rate: float) -> dict:
        """Send `n` seeded questions at seeded Poisson due times at `rate`."""
        qs = corpus.questions(n, self.seed, prefix=tag)
        offsets = corpus.poisson_offsets(n, rate, self.seed)
        due: dict[str, float] = {}
        text: dict[str, str] = {}
        late: list[float] = []
        backlog: list[int] = []
        start = time.time() + 0.5
        deadline = start + offsets[-1] + DRAIN_TIMEOUT_S
        i = 0
        while (i < n or any(j not in self.seen for j in due)) and time.time() < deadline:
            now = time.time()
            while i < n and now >= start + offsets[i]:
                jid = qs[i]["job_id"]
                self._send(jid, qs[i]["query"])
                due[jid], text[jid] = start + offsets[i], qs[i]["query"]
                late.append(time.time() - due[jid])
                backlog.append(sum(1 for j in due if j not in self.seen))
                i += 1
                now = time.time()
            self._poll()
        w = self._finish(start, due, text, late, backlog[-1] if backlog else 0)
        # grown: by the end, more than one full trigger's worth of questions
        # waits beyond what waited in the first half
        half, quarter = max(1, len(backlog) // 2), max(1, len(backlog) // 4)
        w["backlog_grew"] = bool(backlog) and (
            statistics.mean(backlog[-quarter:])
            > statistics.mean(backlog[:half]) + MAX_JOBS_PER_TRIGGER
        )
        return w

    def _finish(self, start, due, text, late, backlog_end) -> dict:
        self._wait_idle()
        seen = {j: self.seen[j] for j in due if j in self.seen}
        return {
            "start": start, "end": max(seen.values(), default=start), "due": due,
            "text": text, "seen": seen, "late": late, "backlog_end": backlog_end,
            "triggers": [t for t in streams.triggers(self.query) if t.start >= start],
        }

    def _answer(self, questions: list[dict]) -> None:
        """Add the reference answers of `questions`: `run_batch` on a fresh
        agent with `DeterministicLLM`, outside the stream."""
        from githubrepostorag_spark.llm.stub import DeterministicLLM
        from githubrepostorag_spark.plans.agent import GraphRAGAgent

        states = GraphRAGAgent(self.spark, self.store, DeterministicLLM()).run_batch(
            [{"job_id": q["job_id"], "query": q["query"]} for q in questions]
        )
        for st in states:
            self.reference[st.job_id] = [(st.answer or "", st.scope, json.dumps(st.sources))]

    def check(self, w: dict) -> int:
        """Questions of the loop whose sink rows differ from the reference."""
        todo = [{"job_id": j, "query": q} for j, q in w["text"].items() if j not in self.reference]
        if todo:
            self._answer(todo)
        ref = {j: self.reference[j] for j in w["text"]}
        got: dict[str, list] = {}
        for r in pq.read_table(self.answers).to_pylist():
            if r["job_id"] in ref:
                got.setdefault(r["job_id"], []).append((r["answer"], r["scope"], r["sources"]))
        finals = {
            r["job_id"] for r in pq.read_table(self.events, columns=["job_id", "event"]).to_pylist()
            if r["event"] == "final"
        }
        return sum(1 for j in ref if got.get(j) != ref[j] or j not in finals)

    @staticmethod
    def end_to_end(w: dict) -> dict:
        lat = [w["seen"][j] - w["due"][j] for j in w["seen"]]
        busy = sum(t.dur for t in w["triggers"])
        return {
            "latency_p50_s": pct(lat, 50) if lat else float("nan"),
            "items_per_s": len(lat) / (w["end"] - w["start"]) if lat else float("nan"),
            "answered_per_busy_s": len(lat) / busy if busy else float("nan"),
        }

    # ---------------- traced loop ----------------
    def traced_loop(self, tag: str, seconds: float) -> tuple[dict, dict]:
        """The closed loop with the agent, retrieval, embedding and LLM
        calls wrapped; returns (loop result, per-layer metrics)."""
        from githubrepostorag_spark.plans import agent as agent_mod

        tr = self.tracer
        states: list = []

        def on_batch_multi(args, kwargs, result, span):
            span.attrs["query_ids"] = [m["query_id"] for m in kwargs.get("query_meta") or []]

        n0 = len(tr.spans)
        self.timing_llm = True
        with ExitStack() as stack:
            G = agent_mod.GraphRAGAgent
            stack.enter_context(tr.wrap(
                G, "run_batch", "agent.run_batch", lambda a, k, res, s: states.extend(res)
            ))
            for m in ("plan", "retrieve", "judge", "rewrite_or_end", "synthesize"):
                stack.enter_context(tr.wrap(G, m, f"agent.{m}"))
            stack.enter_context(tr.wrap(agent_mod, "embed_text", "embed.query"))
            stack.enter_context(
                tr.wrap(agent_mod, "retrieve_batch_multi", "retrieval.batch_multi", on_batch_multi)
            )
            # the job plane's own Spark calls around run_batch: the dequeue
            # collect and the answers and events sink writes
            stack.enter_context(
                tr.wrap(type(self.store), "collect", "jobs.dequeue", root_only=True)
            )
            stack.enter_context(
                tr.wrap(type(self.store.write), "parquet", "jobs.sink_write", root_only=True)
            )
            w = self.closed_loop(tag, seconds)
        self.timing_llm = False
        wrapped = [s for s in tr.spans[n0:] if s.start >= w["start"]]
        trig_spans = [streams.trace_trigger(tr, t, "jobs.trigger") for t in w["triggers"]]
        streams.adopt(tr, trig_spans, wrapped)
        for jid, t_seen in w["seen"].items():
            t_due = w["due"][jid]
            q = tr.add("question", t_due, t_seen, op=jid)
            picked = [t for t in w["triggers"] if t.start <= t_seen]
            if picked:
                trig = picked[-1]
                tr.add("jobs.queue_wait", t_due, max(t_due, trig.start), q.span_id, jid)
                tr.add("jobs.in_trigger", max(t_due, trig.start), min(trig.end, t_seen), q.span_id, jid)
                if t_seen > trig.end:
                    tr.add("bench.observe", trig.end, t_seen, q.span_id, jid)
        return w, self._layers(w, trig_spans, states)

    def _layers(self, w: dict, trig_spans: list, states: list) -> dict:
        from spans import self_times

        tr = self.tracer
        n_trig = max(1, len(trig_spans))
        n_q = max(1, len(states))
        ops = {root.op for root, _ in trig_spans}
        spans = [s for s in tr.spans if s.op in ops]
        selfs = self_times(tr.spans)

        def per_trigger(name: str, self_time: bool = True) -> float:
            return sum(selfs[s.span_id] if self_time else s.dur for s in spans if s.name == name) / n_trig

        L: dict[str, float] = {}
        tot: dict[str, float] = {}
        for t in w["triggers"]:
            for k, v in self.joblog.counters(str(self.query.runId), t.start, t.end).items():
                tot[k] = tot.get(k, 0.0) + v
        L.update({f"spark.{k}": v / n_trig for k, v in tot.items()})
        for m in ("plan", "retrieve", "judge", "synthesize"):
            L[f"agent.{m}_s"] = per_trigger(f"agent.{m}")
        L["agent.rewrite_s"] = per_trigger("agent.rewrite_or_end")
        L["agent.retrieve_rounds"] = sum(1 for s in spans if s.name == "agent.retrieve") / n_trig
        L["agent.attempts_per_query"] = sum(
            sum(1 for e in st.events if e["event"] == "retrieve") for st in states
        ) / n_q
        # a retrieve round runs a second retrieval job only for questions
        # whose first job found fewer than 3 hits (the late expansion)
        calls = [s for s in spans if s.name == "retrieval.batch_multi"]
        by_round: dict[int, list] = {}
        for s in calls:
            by_round.setdefault(s.parent, []).append(s)
        late = {
            qid.split("::exp")[0]
            for round_calls in by_round.values()
            for s in sorted(round_calls, key=lambda s: s.start)[1:]
            for qid in s.attrs["query_ids"]
        }
        L["agent.late_expansion_share"] = len(late) / n_q
        L["retrieval.batch_multi_s"] = per_trigger("retrieval.batch_multi", False)
        L["retrieval.queries_per_call"] = (
            sum(len(s.attrs["query_ids"]) for s in calls) / len(calls) if calls else 0.0
        )
        L["embed.query_s"] = per_trigger("embed.query", False)
        L["llm.calls_per_query"] = sum(x.calls for x in self.llms) / n_q
        L["llm.s_per_query"] = sum(x.seconds for x in self.llms) / n_q
        trigs = w["triggers"]
        L["jobs.trigger_s"] = sum(t.dur for t in trigs) / n_trig
        L["jobs.add_batch_s"] = sum(t.phases.get("addBatch", 0.0) for t in trigs) / n_trig
        L["jobs.trigger_overhead_s"] = sum(
            sum(t.phases.get(p, 0.0) for p in streams.OVERHEAD_PHASES) for t in trigs
        ) / n_trig
        L["jobs.batch_size"] = sum(t.rows for t in trigs) / n_trig
        waits = [s.dur for s in tr.spans if s.name == "jobs.queue_wait" and s.op in w["seen"]]
        L["jobs.queue_wait_s"] = statistics.mean(waits) if waits else 0.0
        L["jobs.sink_s"] = L["jobs.add_batch_s"] - sum(
            s.dur for s in spans if s.name == "agent.run_batch"
        ) / n_trig
        L["jobs.backlog_end"] = w["backlog_end"]
        cov = [streams.trigger_coverage(tr, root, ab) for root, ab in trig_spans]
        L["bench.span_coverage"] = statistics.mean(cov) if cov else math.nan
        return L
