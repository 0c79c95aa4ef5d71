"""Benchmark harness: runs every engine query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.

Each query is forced end-to-end with a noop datasource write (computes
every output column — a plain count() would let Catalyst prune the
expensive expressions and under-report).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from githubrepostorag_spark.session import get_spark

WARMUP_QUERY = "q01_pricing_summary"


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    harness_t0 = time.time()
    # capture BEFORE the session spins up: by the time the warmup
    # queries finish, the 1-min loadavg reflects the bench's OWN 32-core
    # bursts — the guard below must measure the box's idleness, not ours
    loadavg_start = round(os.getloadavg()[0], 2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")

    qs = entry_mod.queries()
    # SPARK_GRAFT_BENCH_ONLY=<name,name,...>: isolated adjudication
    # reruns of a few entries in one command (r8 verdict ask #3 — the
    # judge had to hand-write a script for this). A filtered run is a
    # PARTIAL suite: it never touches bench_result.json (see below).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    only_names = [n for n in (s.strip() for s in only.split(",")) if n] if only else []
    composed_entries = {
        "ingest_pipeline", "agent_batch4", "agent_batch100",
        "curation_pipeline", "release_pipeline", "mixture_plan",
        "stream_dedup_gate", "stream_contract_gate", "stream_hygiene_gate",
        "stream_dedup_sustained", "stream_embedding_gate",
        "stream_embedding_sustained", "ivf_maintenance", "index_lifecycle",
    }
    if only_names:
        missing = [n for n in only_names if n not in qs and n not in composed_entries]
        if missing:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY: unknown entries {missing}")
        qs = {n: qs[n] for n in only_names if n in qs}
    # JVM/codegen warmup so the first measured query isn't charged for it
    run_query(entry_mod.queries()[WARMUP_QUERY](spark, sf_dir))
    # Python-worker warmup: the first Arrow UDF otherwise pays the
    # per-core worker fork (seconds) that steady-state queries never see
    from pyspark.sql import functions as F

    n_cores = spark.sparkContext.defaultParallelism
    warm = (
        spark.range(n_cores * 4, numPartitions=n_cores)
        .groupBy((F.col("id") % n_cores).alias("g"))
        .applyInPandas(lambda p: p, "id long")
    )
    run_query(warm)

    times: dict[str, float] = {}
    # Per-entry measurement metadata: {"load1": 1-min loadavg at the
    # START of the pass that produced the recorded (min) time, and for
    # composed pipelines "stages": {stage: sec}}. load1 >> the load at
    # harness start means the recorded number was taken on a busy box —
    # BENCH_r04's pipeline "regression" was exactly this artifact (see
    # README "Comparing bench rounds").
    entry_meta: dict[str, dict] = {}

    def record(name: str, seconds: float, load1: float, stages=None) -> bool:
        """Keep the min across passes; meta follows the winning pass.
        Returns True when this pass set the record."""
        if seconds < times.get(name, float("inf")):
            times[name] = round(seconds, 3)
            entry_meta[name] = {"load1": round(load1, 2)}
            if stages is not None:
                entry_meta[name]["stages"] = stages
            return True
        return False

    def stage_dict(timed_stages) -> dict:
        return {
            r["stage"]: r["seconds"]
            for r in timed_stages.collect()
        }

    def _want(*names) -> bool:
        """True when any of `names` should run this invocation — all of
        them on a full run, the listed subset under SPARK_GRAFT_BENCH_ONLY
        (composed entries sharing one setup block run together when any
        of the block's entries is requested)."""
        return not only_names or any(n in only_names for n in names)

    # shared setup for the composed blocks below — all lazy (no jobs):
    # imports plus the input frames more than one block reads
    import shutil
    import tempfile

    from githubrepostorag_spark.llm.stub import DeterministicLLM
    from githubrepostorag_spark.operators.similarity import (
        ivf_sidecar_path as _sidecar,
    )
    from githubrepostorag_spark.operators.similarity import write_ivf_store as _wivf
    from githubrepostorag_spark.plans.parity import code_docs_fixture
    from githubrepostorag_spark.sources.testdata import load_table

    raw_docs = load_table(spark, sf_dir, "documents")
    bench_side = raw_docs.filter(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    emb_all = load_table(spark, sf_dir, "embeddings")

    if _want('ingest_pipeline', 'agent_batch4', 'agent_batch100'):
        # composed ingest pipeline (docs → chunk → enrich → rollups → 5-scope
        # vector rows) with the deterministic LLM + hash embedder — the
        # end-to-end write path the per-query suite doesn't exercise
        from githubrepostorag_spark.plans.ingest import ingest_pipeline

        docs = code_docs_fixture(raw_docs).select("repo", "file_path", "text")

        def run_ingest(run_id: str):
            res = ingest_pipeline(docs, ingest_run_id=run_id, llm_factory=DeterministicLLM)
            # serving store: cap cached partitions at cluster parallelism (the
            # ingest lineage is partitioned for write throughput, not for the
            # many tiny rescans the serving loop issues)
            s = res.rows.coalesce(spark.sparkContext.defaultParallelism).persist()
            run_query(s)  # materializes the cache the serving bench reads
            return res, s

        # warmup pass compiles the ~15-stage plan and spins up the Python
        # UDF workers; the measured pass is steady-state ingest throughput
        # (same discipline as the suite warmup and the agent warmup batch)
        res, store = run_ingest("bench-warmup")
        store.unpersist()
        res.unpersist()
        # min of 2 measured passes, same discipline as the query loop
        for i in range(2):
            load1 = os.getloadavg()[0]
            t0 = time.time()
            res, store = run_ingest(f"bench-{i}")
            record("ingest_pipeline", time.time() - t0, load1)
            res.unpersist()
            if i == 0:
                store.unpersist()
        # one extra DIAGNOSTIC pass with stage boundaries forced — stage-
        # grain attribution for judges; NOT the measured number (forcing
        # boundaries costs ~2 s of pipelining at sf0.1, so the stage sum
        # exceeds ingest_pipeline's recorded seconds by design)
        diag = ingest_pipeline(
            docs, ingest_run_id="bench-stages", llm_factory=DeterministicLLM,
            collect_stage_times=True,
        )
        entry_meta["ingest_pipeline"]["stages"] = stage_dict(diag.timed_stages)
        entry_meta["ingest_pipeline"]["stages_note"] = "diagnostic pass; boundaries forced"
        diag.unpersist()

        # agent serving latency: a 4-query batch through the full
        # plan → retrieve → judge → synthesize loop with the scripted LLM,
        # served from the freshly-ingested store (all four scopes populated,
        # so retrievals return real hits rather than empty frontiers)
        from githubrepostorag_spark.plans.agent import GraphRAGAgent

        agent = GraphRAGAgent(spark, store, DeterministicLLM())
        agent.run_batch([{"job_id": "w0", "query": "warmup probe"}])  # codegen warmup
        batch = [
            {"job_id": "b1", "query": "tell me about the projects"},
            {"job_id": "b2", "query": "how is the cache configured"},
            {"job_id": "b3", "query": "stacktrace timeout exception in stream"},
            {"job_id": "b4", "query": "repo: src1 what does module m3 contain"},
        ]
        # min-of-3: the agent loop's latency is driver-heavy (plan
        # compilation + scripted-LLM round trips) and swings ~50% run to
        # run; three samples bound the noise the suite min-of-2 can't
        for _ in range(3):
            load1 = os.getloadavg()[0]
            t0 = time.time()
            states = agent.run_batch(batch)
            record("agent_batch4", time.time() - t0, load1)
            assert all(st.answer for st in states)

        # agent serving at 25× batch: 100 mixed queries through the same
        # loop — the number that proves the batched-retrieval design (every
        # scope+expansion folded into shared jobs, collects k-bounded per
        # query) holds when the batch is large. Spark job count recorded in
        # meta: it must track attempt rounds (≤3), never the query count.
        batch100 = [
            {
                "job_id": f"h{i}",
                "query": [
                    f"tell me about the projects variant {i}",
                    f"how is the cache configured in part {i}",
                    f"stacktrace timeout exception in stream {i}",
                    f"repo: src1 what does module m3 contain about {i}",
                ][i % 4],
            }
            for i in range(100)
        ]
        sc = spark.sparkContext
        for p in range(2):
            group = f"bench-agent100-{p}"
            load1 = os.getloadavg()[0]
            sc.setJobGroup(group, group)
            t0 = time.time()
            states = agent.run_batch(batch100)
            elapsed = time.time() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            assert all(st.answer for st in states)
            if record("agent_batch100", elapsed, load1):
                entry_meta["agent_batch100"].update(
                    {
                        "n_spark_jobs": len(
                            sc.statusTracker().getJobIdsForGroup(group)
                        ),
                        "queries_per_sec": round(100 / elapsed, 2),
                    }
                )
        store.unpersist()

    if _want('curation_pipeline'):
        # composed curation pipeline (quality gate → exact dedup → LSH
        # near-dup → decontaminate → weighted mix → batch packing) over the
        # documents table, with a held-out slice as the benchmark side
        from githubrepostorag_spark.plans.curation import curation_pipeline

        def run_curation(run_id: str):
            res = curation_pipeline(raw_docs, bench_side, run_id=run_id)
            run_query(res.corpus)
            run_query(res.audit)
            return res

        run_curation("bench-warmup").unpersist()  # plan compile + UDFless warm
        for i in range(2):
            load1 = os.getloadavg()[0]
            t0 = time.time()
            res = run_curation(f"bench-cur-{i}")
            elapsed = time.time() - t0
            # curation's stage timers wrap audit counts that run anyway, so
            # the winning pass's breakdown is the measured pass's breakdown
            record("curation_pipeline", elapsed, load1,
                   stages=stage_dict(res.timed_stages))
            res.unpersist()

    if _want('release_pipeline'):
        # composed release pipeline (scrub → span-decontaminate → gate →
        # exact dedup → epochs → shards → sequences + manifest) — the
        # packaging half of the corpus lifecycle
        from githubrepostorag_spark.plans.release import package_release

        def run_release(run_id: str):
            res = package_release(raw_docs, bench_side.select(
                F.col("bench_id").alias("doc_id"), "text"), run_id=run_id)
            run_query(res.sequences)
            run_query(res.manifest)
            return res

        run_release("bench-warmup").unpersist()
        for i in range(2):
            load1 = os.getloadavg()[0]
            t0 = time.time()
            res = run_release(f"bench-rel-{i}")
            elapsed = time.time() - t0
            record("release_pipeline", elapsed, load1,
                   stages=stage_dict(res.timed_stages))
            res.unpersist()

    if _want('mixture_plan'):
        # composed mixture-planning pipeline (DoReMi weights → repeat-decay
        # accounting → epoch/budget plan → quota sampling) — the decision
        # layer between curation and release
        from githubrepostorag_spark.plans.mixture import mixture_plan

        def run_mixture():
            res = mixture_plan(raw_docs)
            run_query(res.plan)
            run_query(res.sampled)
            return res

        run_mixture()  # plan compile warmup
        for _ in range(2):
            load1 = os.getloadavg()[0]
            t0 = time.time()
            res = run_mixture()
            record("mixture_plan", time.time() - t0, load1,
                   stages=stage_dict(res.timed_stages))

    if _want('stream_dedup_gate', 'stream_contract_gate', 'stream_hygiene_gate', 'stream_dedup_sustained'):
        # streaming admission gates: one availableNow micro-batch of the
        # documents table through each foreachBatch gate — the always-on
        # ingest front door's recorded steady-state cost. Each pass uses
        # fresh sink/checkpoint dirs (a reused checkpoint would no-op the
        # batch); pass 0 doubles as the plan/UDF warmup, min-of-2 overall.
        from githubrepostorag_spark.operators.dedup import write_dedup_store
        from githubrepostorag_spark.streaming.ingest import (
            stream_contract_gate,
            stream_dedup_gate,
        )

        gate_docs = raw_docs.select("doc_id", "text")
        store_side = gate_docs.filter(F.col("doc_id") % 5 == 0)  # pre-existing corpus
        batch_side = gate_docs.filter(F.col("doc_id") % 5 != 0)

        def run_stream(label, launch):
            for i in range(2):
                root = tempfile.mkdtemp(prefix=f"bench-{label}-")
                try:
                    load1 = os.getloadavg()[0]
                    t0 = time.time()
                    q = launch(root)
                    q.awaitTermination()
                    record(label, time.time() - t0, load1)
                finally:
                    shutil.rmtree(root, ignore_errors=True)

        dedup_store_root = tempfile.mkdtemp(prefix="bench-dedupstore-")
        try:
            store_path = os.path.join(dedup_store_root, "store")
            write_dedup_store(store_side, store_path)
            src_dir = os.path.join(dedup_store_root, "src")
            batch_side.write.mode("overwrite").json(src_dir)

            def launch_dedup(root):
                return stream_dedup_gate(
                    spark.readStream.schema("doc_id long, text string").json(src_dir),
                    os.path.join(root, "store"),
                    os.path.join(root, "accepted"),
                    os.path.join(root, "rejected"),
                    os.path.join(root, "ckpt"),
                )

            # each pass probes a COPY of the store (the gate appends to it)
            def launch_dedup_copy(root):
                shutil.copytree(store_path, os.path.join(root, "store"))
                return launch_dedup(root)

            run_stream("stream_dedup_gate", launch_dedup_copy)

            def launch_contract(root):
                return stream_contract_gate(
                    spark.readStream.schema("doc_id long, text string").json(src_dir),
                    os.path.join(root, "accepted"),
                    os.path.join(root, "quarantine"),
                    os.path.join(root, "report"),
                    os.path.join(root, "ckpt"),
                )

            run_stream("stream_contract_gate", launch_contract)

            from githubrepostorag_spark.streaming.ingest import stream_hygiene_gate

            def launch_hygiene(root):
                return stream_hygiene_gate(
                    spark.readStream.schema("doc_id long, text string").json(src_dir),
                    os.path.join(root, "accepted"),
                    os.path.join(root, "quarantine"),
                    os.path.join(root, "report"),
                    os.path.join(root, "ckpt"),
                )

            run_stream("stream_hygiene_gate", launch_hygiene)

            # Sustained multi-batch throughput: the dedup gate (the one with
            # per-batch store-probe state) driven over N micro-batches
            # (maxFilesPerTrigger=1 over an N-file source) — the firehose
            # number the one-shot entries can't show: steady-state docs/sec
            # and per-batch latency once checkpoint/plan setup amortizes.
            # Matches the reference worker's sustained-consumption envelope
            # (rag_worker/src/worker/worker.py:182-187: 10 concurrent jobs,
            # 300 s timeout). Value recorded = elapsed seconds; docs/sec and
            # per-batch trigger ms land in entry_meta.
            n_batches = 8
            multi_src = os.path.join(dedup_store_root, "multi_src")
            batch_side.repartition(n_batches).write.mode("overwrite").json(multi_src)
            n_gate_docs = batch_side.count()

            def launch_dedup_sustained(root):
                shutil.copytree(store_path, os.path.join(root, "store"))
                return stream_dedup_gate(
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .json(multi_src),
                    os.path.join(root, "store"),
                    os.path.join(root, "accepted"),
                    os.path.join(root, "rejected"),
                    os.path.join(root, "ckpt"),
                )

            for i in range(2):
                root = tempfile.mkdtemp(prefix="bench-gate-sustained-")
                try:
                    load1 = os.getloadavg()[0]
                    t0 = time.time()
                    q = launch_dedup_sustained(root)
                    q.awaitTermination()
                    elapsed = time.time() - t0
                    # StreamingQueryProgress is dict-like in PySpark 4
                    batches = [
                        p for p in (q.recentProgress or [])
                        if p.get("numInputRows", 0) > 0
                    ]
                    if record("stream_dedup_sustained", elapsed, load1):
                        entry_meta["stream_dedup_sustained"].update(
                            {
                                "n_batches": len(batches),
                                "docs_per_sec": round(n_gate_docs / elapsed, 1),
                                "batch_trigger_ms": [
                                    int(p["durationMs"]["triggerExecution"])
                                    for p in batches
                                    if "durationMs" in p
                                ],
                            }
                        )
                finally:
                    shutil.rmtree(root, ignore_errors=True)
        finally:
            shutil.rmtree(dedup_store_root, ignore_errors=True)

    if _want('stream_embedding_gate'):
        # embedding-plane semantic admission gate: one availableNow batch of
        # held-out vectors probed against the persisted IVF store (top-1
        # cosine, reject >= 0.95) — the SemDeDup firehose discipline. Fresh
        # store copy per pass (the gate appends); pass 0 warms the plan.
        from githubrepostorag_spark.streaming.ingest import stream_embedding_gate
        eg_root = tempfile.mkdtemp(prefix="bench-embgate-")
        try:
            eg_store = os.path.join(eg_root, "store")
            _wivf(emb_all.filter(F.col("vec_id") % 5 == 0), eg_store)
            eg_src = os.path.join(eg_root, "src")
            emb_all.filter(F.col("vec_id") % 5 != 0).select(
                "vec_id", "label", "embedding"
            ).write.mode("overwrite").json(eg_src)
            for i in range(2):
                root = tempfile.mkdtemp(prefix="bench-embgate-pass-")
                try:
                    shutil.copytree(eg_store, os.path.join(root, "store"))
                    shutil.copytree(
                        _sidecar(eg_store), _sidecar(os.path.join(root, "store"))
                    )
                    load1 = os.getloadavg()[0]
                    t0 = time.time()
                    q = stream_embedding_gate(
                        spark.readStream.schema(
                            "vec_id long, label int, embedding array<float>"
                        ).json(eg_src),
                        os.path.join(root, "store"),
                        os.path.join(root, "accepted"),
                        os.path.join(root, "rejected"),
                        os.path.join(root, "ckpt"),
                    )
                    q.awaitTermination()
                    record("stream_embedding_gate", time.time() - t0, load1)
                finally:
                    shutil.rmtree(root, ignore_errors=True)
        finally:
            shutil.rmtree(eg_root, ignore_errors=True)

    if _want('stream_embedding_sustained'):
        # import here too: under SPARK_GRAFT_BENCH_ONLY this block can
        # run WITHOUT the gate block above (whose import it otherwise
        # borrowed) — an isolated adjudication rerun crashed on exactly
        # that in round 11
        from githubrepostorag_spark.streaming.ingest import stream_embedding_gate
        # Sustained embedding-gate throughput (round-7 verdict #3): N
        # micro-batches (maxFilesPerTrigger=1) against a store ~100x the
        # batch size. Before the round-8 fix the per-batch plan re-scanned
        # and re-shuffled the WHOLE store (full-store centroid posexplode +
        # unpruned probe), so per-batch cost grew with the store; with
        # sidecar centroids + cell-pruned probe it must stay flat —
        # batch_trigger_ms in entry_meta is the per-batch evidence.
        es_root = tempfile.mkdtemp(prefix="bench-embsust-")
        try:
            es_store = os.path.join(es_root, "store")
            _wivf(emb_all.filter(F.col("vec_id") % 5 != 0), es_store)
            n_es_batches = 8
            es_docs = emb_all.filter(F.col("vec_id") % 5 == 0).limit(
                n_es_batches * 16
            )  # 16-vector batches: store is ~100x each batch at sf0.1
            n_es_docs = es_docs.count()
            es_src = os.path.join(es_root, "src")
            es_docs.select("vec_id", "label", "embedding").repartition(
                n_es_batches
            ).write.mode("overwrite").json(es_src)
            for i in range(2):
                root = tempfile.mkdtemp(prefix="bench-embsust-pass-")
                try:
                    shutil.copytree(es_store, os.path.join(root, "store"))
                    shutil.copytree(
                        _sidecar(es_store), _sidecar(os.path.join(root, "store"))
                    )
                    load1 = os.getloadavg()[0]
                    t0 = time.time()
                    q = stream_embedding_gate(
                        spark.readStream.schema(
                            "vec_id long, label int, embedding array<float>"
                        )
                        .option("maxFilesPerTrigger", 1)
                        .json(es_src),
                        os.path.join(root, "store"),
                        os.path.join(root, "accepted"),
                        os.path.join(root, "rejected"),
                        os.path.join(root, "ckpt"),
                    )
                    q.awaitTermination()
                    elapsed = time.time() - t0
                    batches = [
                        p for p in (q.recentProgress or [])
                        if p.get("numInputRows", 0) > 0
                    ]
                    if record("stream_embedding_sustained", elapsed, load1):
                        entry_meta["stream_embedding_sustained"].update(
                            {
                                "n_batches": len(batches),
                                "docs_per_sec": round(n_es_docs / elapsed, 1),
                                "batch_trigger_ms": [
                                    int(p["durationMs"]["triggerExecution"])
                                    for p in batches
                                    if "durationMs" in p
                                ],
                            }
                        )
                finally:
                    shutil.rmtree(root, ignore_errors=True)

            # --- scale-step (r9 verdict ask #3): the SAME docs pushed
            # through two trigger sizes — 24 batches of ~16 vs 3
            # batches of ~128. The per-trigger fixed cost (codebook
            # read, plan setup, checkpoint commit) amortizes with
            # batch size, so the 8x-larger trigger must show >=3x the
            # docs/s at flat trigger-to-trigger times — the
            # test_streaming amortization pin, now in the benched
            # artifact. Meta-only: adds NO entry, so round-over-round
            # entry sums stay comparable.
            step_docs = emb_all.filter(F.col("vec_id") % 5 == 0).limit(384)
            n_step = step_docs.count()
            step_meta = {}
            for label, n_files in (("batch16", 24), ("batch128", 3)):
                src = os.path.join(es_root, f"src_{label}")
                step_docs.select("vec_id", "label", "embedding").repartition(
                    n_files
                ).write.mode("overwrite").json(src)
                root = tempfile.mkdtemp(prefix="bench-embstep-")
                try:
                    shutil.copytree(es_store, os.path.join(root, "store"))
                    shutil.copytree(
                        _sidecar(es_store), _sidecar(os.path.join(root, "store"))
                    )
                    t0 = time.time()
                    q = stream_embedding_gate(
                        spark.readStream.schema(
                            "vec_id long, label int, embedding array<float>"
                        )
                        .option("maxFilesPerTrigger", 1)
                        .json(src),
                        os.path.join(root, "store"),
                        os.path.join(root, "accepted"),
                        os.path.join(root, "rejected"),
                        os.path.join(root, "ckpt"),
                    )
                    q.awaitTermination()
                    elapsed = time.time() - t0
                    batches = [
                        p for p in (q.recentProgress or [])
                        if p.get("numInputRows", 0) > 0
                    ]
                    step_meta[label] = {
                        "n_batches": len(batches),
                        "docs_per_sec": round(n_step / elapsed, 1),
                        "batch_trigger_ms": [
                            int(p["durationMs"]["triggerExecution"])
                            for p in batches
                            if "durationMs" in p
                        ],
                    }
                finally:
                    shutil.rmtree(root, ignore_errors=True)
            if "stream_embedding_sustained" in entry_meta:
                small = step_meta.get("batch16", {}).get("docs_per_sec", 0)
                large = step_meta.get("batch128", {}).get("docs_per_sec", 0)
                entry_meta["stream_embedding_sustained"]["scale_step"] = {
                    **step_meta,
                    "large_over_small": round(large / small, 2) if small else None,
                }
        finally:
            shutil.rmtree(es_root, ignore_errors=True)

    if _want('ivf_maintenance'):
        # IVF maintenance cycle (append -> probe -> drift-check): the
        # per-ingest-batch cost of the vector store's cheap path. Each pass
        # maintains a FRESH copy of the store (the cycle appends to it);
        # pass 0 doubles as plan/UDF warmup, min-of-2 overall.
        from githubrepostorag_spark.operators.similarity import write_ivf_store
        from githubrepostorag_spark.plans.index_maintenance import maintain_ivf_store

        emb = load_table(spark, sf_dir, "embeddings")
        ivf_root = tempfile.mkdtemp(prefix="bench-ivf-")
        try:
            base_store = os.path.join(ivf_root, "base")
            write_ivf_store(emb.filter(F.col("vec_id") % 10 != 7), base_store)
            mbatch = emb.filter(F.col("vec_id") % 10 == 7).select(
                "vec_id", "label", "embedding"
            )
            for i in range(3):  # pass 0 = warmup
                work = os.path.join(ivf_root, f"pass{i}")
                shutil.copytree(base_store, work)
                shutil.copytree(_sidecar(base_store), _sidecar(work))
                load1 = os.getloadavg()[0]
                t0 = time.time()
                # threshold 0.9: measure the every-batch CHEAP path (a 10%
                # same-distribution batch shifts small cells past the 0.995
                # production default, which would bench the rare remap)
                res = maintain_ivf_store(
                    spark, work, mbatch, k=10,
                    drift_cos_threshold=0.9, run_id=f"bench-{i}",
                )
                run_query(res.neighbors)
                elapsed = time.time() - t0
                if i > 0:
                    record("ivf_maintenance", elapsed, load1)
                shutil.rmtree(work, ignore_errors=True)
        finally:
            shutil.rmtree(ivf_root, ignore_errors=True)

    if _want('index_lifecycle'):
        # composed index lifecycle (r8 verdict ask #6): base build →
        # streaming semantic gate → maintenance cheap path → IVFADC
        # serve, all against ONE store — per-stage seconds in
        # entry_meta prove no stage degrades into a store scan when
        # composed (gate/maintain/serve must each be a fraction of
        # build, which is the only O(corpus) stage).
        from githubrepostorag_spark.plans.index_lifecycle import index_lifecycle

        lc_base = emb_all.filter(F.col("vec_id") % 5 < 3)
        lc_gate = emb_all.filter(F.col("vec_id") % 5 == 3).limit(128).select(
            "vec_id", "label", "embedding"
        )
        lc_maint = emb_all.filter(F.col("vec_id") % 5 == 4).limit(512).select(
            "vec_id", "label", "embedding"
        )
        lc_qv = [float(x) for x in emb_all.orderBy("vec_id").first()["embedding"]]
        for i in range(3):  # pass 0 = plan/UDF warmup
            root = tempfile.mkdtemp(prefix="bench-lifecycle-")
            try:
                load1 = os.getloadavg()[0]
                t0 = time.time()
                lres = index_lifecycle(
                    spark, lc_base, lc_gate, lc_maint, root, lc_qv,
                    k=10, n_probes=3, run_id=f"bench-{i}",
                )
                run_query(lres.served)
                elapsed = time.time() - t0
                if i > 0:
                    record(
                        "index_lifecycle", elapsed, load1,
                        stages=stage_dict(lres.timed_stages),
                    )
            finally:
                shutil.rmtree(root, ignore_errors=True)

    # drop everything the composed pipeline left behind before the
    # per-query loop (measured FIRST: long query churn accumulates
    # driver-side state that would otherwise inflate the pipeline's
    # number by 3-6x — the composed DAG is the most analysis-heavy
    # plan in the suite and feels heap pressure first)
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()

    # min over TWO passes, not back-to-back repeats: C2 JIT compiles on
    # background threads, so a query's second back-to-back run can
    # still be cold (observed 9.5s vs 3.6s steady on the LSH chain); by
    # the time pass 2 reaches a query, its pass-1 execution compiled
    # everything. Pass 2 skips queries already at the scheduling floor
    # (< RERUN_MIN_S in pass 1) — their pass-1 time is representative
    # (the suite-level warmup preceded them) and re-running ~half the
    # suite for no signal would double the harness wall-clock the
    # driver has to sit through.
    RERUN_MIN_S = 0.6
    for _pass in range(2):
        for name, fn in qs.items():
            if _pass == 1 and times.get(name, float("inf")) < RERUN_MIN_S:
                continue
            load1 = os.getloadavg()[0]
            t0 = time.time()
            run_query(fn(spark, sf_dir))
            record(name, time.time() - t0, load1)
            # Some query plans persist/localCheckpoint internally
            # (retrieval score table, dedup label propagation). Those
            # blocks are never shared across queries — drop them so they
            # don't squeeze later queries' execution memory. gc releases
            # the Python-side refs that keep localCheckpoint RDDs pinned
            # JVM-side.
            spark.catalog.clearCache()
            gc.collect()

    # Two totals, named so consumers know which definition they read
    # (r01 reported wall-clock under this metric name; r02 silently
    # switched to steady-state — emit both from now on):
    #   steady_state_total — sum of per-entry min-of-2 times (the
    #     reproducible suite cost; this is the headline value).
    #   wall_clock_total   — harness wall-clock including each entry's
    #     warmup duplicate and session startup.
    steady_total = round(sum(times.values()), 3)
    wall_total = round(time.time() - harness_t0, 3)

    detail = {
        "metric": "engine_query_suite_total_time",
        "value": steady_total,
        "unit": "sec",
        "steady_state_total": steady_total,
        "wall_clock_total": wall_total,
        "loadavg_start": loadavg_start,
        "loadavg_end": round(os.getloadavg()[0], 2),
        "queries": times,
        "entry_meta": entry_meta,
        "sf": sf,
    }
    # Full per-query detail: one (long) line of stdout plus a durable
    # file copy — the driver's tail buffer is ~2 KB, so this line may be
    # truncated in its capture; the file is the committed record.
    #
    # LOADAVG GUARD (r8 verdict ask #3): the committed bench_result.json
    # must BE the adjudicated idle-box run. A run that STARTED on a
    # loaded box (loadavg_start > SPARK_GRAFT_BENCH_MAX_LOAD, default 2)
    # refuses to overwrite an existing artifact — the numbers still
    # print to stdout for inspection, they just don't become the record.
    # SPARK_GRAFT_BENCH_FORCE=1 overrides; a missing artifact is always
    # written (any record beats none). BENCH_ONLY partial runs write a
    # SEPARATE file and never touch the full-suite artifact.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    max_load = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0"))
    force = os.environ.get("SPARK_GRAFT_BENCH_FORCE", "") == "1"
    if only_names:
        detail["partial"] = only_names
        out_path = os.path.join(repo_dir, "bench_result_only.json")
        with open(out_path, "w") as f:
            json.dump(detail, f, indent=2)
        file_status = "partial: wrote bench_result_only.json"
    else:
        # ALWAYS write the per-query detail to a side path (r12 verdict
        # ask #2): the loadavg guard starved two rounds of per-query
        # ground truth because the adjudicating box is never idle. The
        # side file carries loadavg_start/_end so consumers can judge
        # contamination themselves; the guard below still protects only
        # the canonical committed artifact. The default side path
        # carries the core count, so runs at different core counts keep
        # their own detail; SPARK_GRAFT_BENCH_OUT overrides it.
        cpus = spark.sparkContext.defaultParallelism
        side_path = os.environ.get("SPARK_GRAFT_BENCH_OUT") or os.path.join(
            repo_dir, f"bench_result_latest_c{cpus}.json"
        )
        with open(side_path, "w") as f:
            json.dump(detail, f, indent=2)
        out_path = os.path.join(repo_dir, "bench_result.json")
        if loadavg_start > max_load and not force and os.path.exists(out_path):
            file_status = (
                f"NOT written: loadavg_start {loadavg_start} > {max_load} "
                "(loaded box; existing artifact kept — rerun idle or set "
                "SPARK_GRAFT_BENCH_FORCE=1); detail in "
                + os.path.basename(side_path)
            )
            out_path = side_path
        else:
            with open(out_path, "w") as f:
                json.dump(detail, f, indent=2)
            file_status = "written (+detail side copy)"
    print(json.dumps(detail, separators=(",", ":")))
    sys.stdout.flush()
    # Headline: a SHORT object as the very last line so any tail capture
    # parses it (BENCH_r02 lost the round's number to line overflow).
    print(
        json.dumps(
            {
                "metric": "engine_query_suite_total_time",
                "value": steady_total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(times),
                "wall_clock_total": wall_total,
                "detail_file": os.path.basename(out_path),
                "file_status": file_status,
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()


if __name__ == "__main__":
    main()
