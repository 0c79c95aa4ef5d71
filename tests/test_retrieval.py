"""Retrieval scale-path tests: hash-join filter pruning and the IVF
ANN index (SURVEY V2/V3 + the reference's SAI-index tactic)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from githubrepostorag_spark.functions import vectors as V
from githubrepostorag_spark.operators.retrieval import (
    FILTER_KEYS,
    build_ivf_index,
    retrieve_batch,
)
from githubrepostorag_spark.plans.parity import fixture_queries, fixture_store
from githubrepostorag_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store(spark):
    s = fixture_store(
        load_table(spark, SF, "documents"), load_table(spark, SF, "embeddings")
    ).persist()
    s.count()
    yield s
    s.unpersist()


@pytest.fixture(scope="module")
def queries(spark):
    return fixture_queries(load_table(spark, SF, "embeddings"))


def test_ivf_all_probes_equals_exact(spark, store, queries):
    """Probing every cell makes the ANN candidate set the full store —
    the pruned plan must reproduce the exact results bit-for-bit."""
    ivf = build_ivf_index(store, n_cells=8)
    exact = {
        (r["query_id"], r["row_id"], r["score"], r["hop"])
        for r in retrieve_batch(store, queries, "code").collect()
    }
    ann = {
        (r["query_id"], r["row_id"], r["score"], r["hop"])
        for r in retrieve_batch(store, queries, "code", ivf=ivf, n_probes=8).collect()
    }
    assert ann == exact


def test_ivf_pruning_subsets_and_overlaps(spark, store, queries):
    """With fewer probes the candidate set shrinks but stays useful:
    every ANN hit is a real store row from a probed cell, per-query
    caps hold, and the seeds overlap the exact top-k substantially."""
    ivf = build_ivf_index(store, n_cells=8)
    ann = retrieve_batch(store, queries, "code", ivf=ivf, n_probes=4).collect()
    per_query: dict[str, list] = {}
    for r in ann:
        per_query.setdefault(r["query_id"], []).append(r)
    assert set(per_query) == {"q0", "q1", "q2"}
    for qid, rows in per_query.items():
        assert len(rows) <= 10  # k cap holds under pruning
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)
    # filtered query only returns rows matching its filter
    assert all(r["repo"] == "src1" for r in per_query["q1"])
    # overlap with exact top-k on the unfiltered query
    exact_ids = {
        r["row_id"]
        for r in retrieve_batch(store, queries, "code").collect()
        if r["query_id"] == "q0"
    }
    ann_ids = {r["row_id"] for r in per_query["q0"]}
    assert len(ann_ids & exact_ids) / len(exact_ids) >= 0.3


def test_empty_query_batch(spark, store, queries):
    out = retrieve_batch(store, queries.limit(0), "code")
    assert out.count() == 0
    assert "query_id" in out.columns and "score" in out.columns


def _join_reference(store, queries):
    """The exact scorer's definition as a plain join: every (query,
    row) pair under the query's scope, equality filters and topics
    filter, scored by the JVM `V.dot` fold on double-cast vectors."""
    s, q = store.alias("s"), queries.alias("q")
    cond = F.col("s.scope") == F.col("q.q_scope")
    for k in FILTER_KEYS:
        cond = cond & (
            F.col(f"q.flt_{k}").isNull() | (F.col(f"s.{k}") == F.col(f"q.flt_{k}"))
        )
    cond = cond & (
        F.col("q.flt_topics").isNull()
        | F.array_contains(F.coalesce(F.col("s.topics"), F.array()), F.col("q.flt_topics"))
    )
    return s.join(q, cond).select(
        F.col("q.query_id").alias("query_id"),
        F.col("s.row_id").alias("row_id"),
        F.round(
            V.dot(V.as_double(F.col("s.vector")), V.as_double(F.col("q.qvec"))), 6
        ).alias("score"),
    )


def test_scored_np_matches_join_kernel(spark, store, queries, monkeypatch):
    """The Arrow kernel (`_scored_np`, the one exact scorer) emits the
    reference join's rows with bit-identical scores: repo/module and
    topics filters, a row with a NULL element, a NULL vector and a
    wrong-length row (all NULL under the fold, except the short row
    against a query of its own length), over float and double vectors
    (a float query column rounds the driver-side vectors through
    float32), with the query block split into several chunks."""
    from githubrepostorag_spark.operators import retrieval as R

    monkeypatch.setattr(R, "_QUERY_CHUNK", 2)
    base = store.orderBy("row_id").first().asDict()
    vec = base["vector"]
    odd = [
        dict(base, row_id="null_elem", vector=vec[:5] + [None] + vec[6:]),
        dict(base, row_id="null_vec", vector=None),
        dict(base, row_id="short", vector=vec[:8]),
    ]
    q0 = queries.filter(F.col("query_id") == "q0")
    extra = q0.select(
        F.lit("q_topic").alias("query_id"),
        "qvec",
        "flt_namespace",
        "flt_repo",
        "flt_module",
        F.lit(base["topics"][0]).alias("flt_topics"),
    ).unionByName(
        q0.select(
            F.lit("q_short").alias("query_id"),
            F.slice("qvec", 1, 8).alias("qvec"),
            "flt_namespace",
            "flt_repo",
            "flt_module",
            "flt_topics",
        )
    )
    key = lambda r: (r["query_id"], r["row_id"], r["score"])
    # scaled so a query's float32 rounding shows through the 6-dp
    # score rounding; driver-side rows carry the double vectors, as the
    # agent's carry unrounded embeddings: an array<float> column must
    # round them
    qd = R.with_scope_params(
        queries.unionByName(extra).withColumn(
            "qvec", F.transform("qvec", lambda x: x * 1000.0)
        ),
        "code",
    )
    meta = [r.asDict() for r in qd.collect()]
    for vtype in ("double", "float"):
        st = store.unionByName(spark.createDataFrame(odd, store.schema)).withColumn(
            "vector", F.col("vector").cast(f"array<{vtype}>")
        )
        q = qd.withColumn("qvec", F.col("qvec").cast(f"array<{vtype}>"))
        got = sorted(map(key, R._scored_np(st, q, meta).collect()), key=lambda t: t[:2])
        ref = sorted(map(key, _join_reference(st, q).collect()), key=lambda t: t[:2])
        assert got == ref, vtype
        by = {(qid, rid): sc for qid, rid, sc in got}
        assert by[("q0", "null_elem")] is None and by[("q0", "null_vec")] is None
        assert by[("q0", "short")] is None and by[("q_short", "short")] is not None
        assert sum(sc is not None for (qid, _), sc in by.items() if qid == "q_short") == 1
        n_topic = sum(qid == "q_topic" for qid, _ in by)
        assert 0 < n_topic < sum(qid == "q0" for qid, _ in by)
        assert {qid for qid, _ in by} == {"q0", "q1", "q2", "q_topic", "q_short"}


def test_retrieve_np_kernel_end_to_end_identical(spark, store, queries):
    """retrieve_batch_multi in the agent configuration — an array<float>
    query column with driver-side `query_meta` carrying the unrounded
    double vectors — returns exactly the rows of the default path,
    which collects the float column itself; every seed scores as the
    join reference does."""
    from githubrepostorag_spark.operators.retrieval import (
        retrieve_batch_multi,
        with_scope_params,
    )

    # scaled as above so float32 rounding shows through the 6-dp scores
    qd = with_scope_params(
        queries.withColumn("qvec", F.transform("qvec", lambda x: x * 1000.0)), "code"
    )
    meta = [r.asDict() for r in qd.collect()]
    q = qd.withColumn("qvec", F.col("qvec").cast("array<float>"))
    key = lambda r: (r["query_id"], r["row_id"], r["score"], r["hop"])
    agent = sorted(map(key, retrieve_batch_multi(store, q, query_meta=meta).collect()))
    default = sorted(map(key, retrieve_batch_multi(store, q).collect()))
    assert agent == default and len(agent) > 0
    ref = {(r["query_id"], r["row_id"]): r["score"] for r in _join_reference(store, q).collect()}
    seeds = [t for t in agent if t[3] == 0]
    assert {t[0] for t in seeds} == {"q0", "q1", "q2"}
    assert all(ref[(qid, rid)] == sc for qid, rid, sc, _ in seeds)
