"""Graph-RAG retrieval (SURVEY V2/V3/V5, J1).

Reference behavior (graph_rag_retrievers.py:104-134, agent_graph.py:171-176):
seed via metadata-filtered cosine top-`start_k`, expand ≤`max_depth`
hops over metadata-equality edges (namespace/repo/module/file_path),
collect `adjacent_k` per hop, return ≤`k` by score. Per-scope params:

    project (repo table):   k=10, start_k=2, adjacent_k=6, max_depth=2
    package (module table): k=8,  start_k=2, adjacent_k=6, max_depth=2
    file:                   k=8,  start_k=2, adjacent_k=6, max_depth=2
    code (chunk table):     k=10, start_k=3, adjacent_k=8, max_depth=2

Engine shape: a whole mixed-scope batch of queries retrieves in ONE
shared set of jobs — one columnar Arrow pass over the touched scope
partitions applies every query's filters and scores it (dot on unit
vectors, `_scored_np`) into a narrow cached (query_id, row_id, edge
keys, score) table, then a bounded driver loop walks the hops: each
≤batch×k frontier row set is pushed back as literal isin predicates
over the cached scores (no broadcast joins, no lineage recursion), and
the final ≤k ids fetch doc bodies with one broadcast hash join. The
store never shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from githubrepostorag_spark.functions import vectors as V

FILTER_KEYS = ("namespace", "repo", "module")


@dataclass(frozen=True)
class ScopeParams:
    k: int
    start_k: int
    adjacent_k: int
    max_depth: int


SCOPE_PARAMS: dict[str, ScopeParams] = {
    "project": ScopeParams(10, 2, 6, 2),
    "package": ScopeParams(8, 2, 6, 2),
    "file": ScopeParams(8, 2, 6, 2),
    "code": ScopeParams(10, 3, 8, 2),
}

# agent scope name → storage scope partition (worker builders
# for_repo/for_module/for_file/for_chunk)
SCOPE_TO_TABLE = {
    "project": "repo",
    "package": "module",
    "file": "file",
    "code": "chunk",
}

EDGE_KEYS = ("namespace", "repo", "module", "file_path")  # graph_rag_retrievers.py:82-100

_DOC_COLS = (
    "row_id",
    "body",
    "scope",
    "namespace",
    "repo",
    "module",
    "file_path",
    "language",
    "topics",
)

# per-query ranking params carried as columns on the query batch — the
# driver reads them (via query_meta or a collect) so queries against
# DIFFERENT scopes (different k/start_k/adjacent_k) rank correctly
# inside one shared job
_PARAM_COLS = ("p_k", "p_start_k", "p_adjacent_k", "p_max_depth")

# queries per numpy score block in `_scored_np`: the per-batch score
# matrix is at most (Arrow batch rows × _QUERY_CHUNK) float64s however
# many queries a burst batch carries
_QUERY_CHUNK = 64

# slim scoring schema: ranking + hop expansion need only ids, edge
# keys, and the score — doc bodies are fetched once for the final ≤k
# rows, so the cached score table stays narrow at any store size
_SLIM_COLS = ("row_id", "namespace", "repo", "module", "file_path")


def with_scope_params(
    queries: DataFrame, scope: str, params: "ScopeParams | None" = None
) -> DataFrame:
    """Attach the table-scope + ranking-param columns for one agent
    scope, turning a plain query batch into multi-scope form."""
    p = params or SCOPE_PARAMS[scope]
    return (
        queries.withColumn("q_scope", F.lit(SCOPE_TO_TABLE.get(scope, scope)))
        .withColumn("p_k", F.lit(p.k))
        .withColumn("p_start_k", F.lit(p.start_k))
        .withColumn("p_adjacent_k", F.lit(p.adjacent_k))
        .withColumn("p_max_depth", F.lit(p.max_depth))
    )


def _or_tree(conds: list):
    """Balanced OR of a condition list. A left-deep ``c0 | c1 | ...``
    fold nests O(n) deep and overflows the JVM stack during
    Column→Expression conversion at ~1000 branches (observed with a
    1000-query burst batch); pairwise reduction keeps the tree
    log₂(n) deep, so batch size is bounded by plan-analysis cost, not
    by stack depth."""
    while len(conds) > 1:
        conds = [
            conds[i] | conds[i + 1] if i + 1 < len(conds) else conds[i]
            for i in range(0, len(conds), 2)
        ]
    return conds[0]


def _scored_np(
    store: DataFrame, queries: DataFrame, meta_rows: list[dict]
) -> DataFrame:
    """All (query × candidate) scores under the query's filters (SURVEY
    F10) — the engine's one exact scorer. Vectors are unit-normalized at
    write → cosine == dot.

    ONE `mapInArrow` pass over the slim store: each Arrow batch's
    vectors are read as one flat numpy array, the scope / filter /
    topics masks are `pyarrow.compute` kernels, and the matched rows
    leave as one `take` plus a numpy score column — no per-row Python.
    Each (row, query) score accumulates dim-sequentially in float64
    (acc += v[i] * q[i]) over double-cast inputs, which is the
    `V.dot` fold's left-to-right order bit for bit. A row scores NULL,
    as under the fold, when its vector is NULL, holds a NULL element or
    differs in length from the query's. Rounding stays JVM-side
    (`F.round`).

    `meta_rows` carry each query's ``qvec``; it is read at the `qvec`
    column's element type, so an array<float> query round-trips
    through float32 exactly as the column stores it."""
    import numpy as np
    from pyspark.sql.types import FloatType

    qtype = (
        np.float32
        if isinstance(queries.schema["qvec"].dataType.elementType, FloatType)
        else np.float64
    )
    scopes = sorted({r["q_scope"] for r in meta_rows})
    # plain-python payload captured by the closure (no DataFrames):
    # (mask key = (scope, ((filter key, value), ...), topics), qvec f64);
    # a qvec that is NULL or holds a NULL is None: every row scores NULL
    payload = []
    for r in meta_rows:
        qv = r["qvec"]
        ok = qv is not None and all(x is not None for x in qv)
        payload.append(
            (
                (
                    r["q_scope"],
                    tuple(
                        (k, r[f"flt_{k}"])
                        for k in FILTER_KEYS
                        if r[f"flt_{k}"] is not None
                    ),
                    r["flt_topics"],
                ),
                np.asarray(qv, dtype=qtype).astype(np.float64) if ok else None,
            )
        )
    qids = [r["query_id"] for r in meta_rows]

    slim = store.filter(F.col("scope").isin(scopes)).select(
        "scope", *_SLIM_COLS, "topics", "vector"
    )

    def score_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        qid_arr = pa.array(qids, type=pa.string())
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vec = batch.column("vector")
            lens = pc.fill_null(pc.list_value_length(vec), 0).to_numpy()
            starts = np.cumsum(lens) - lens  # row → offset in `flat`
            flat = pc.list_flatten(vec)
            vals = flat.to_numpy(zero_copy_only=False)
            dims = lens.astype(np.int64)
            dims[vec.is_null().to_numpy(zero_copy_only=False)] = -1
            if flat.null_count:
                parents = pc.list_parent_indices(vec).to_numpy()
                dims[parents[flat.is_null().to_numpy(zero_copy_only=False)]] = -1
            masks: dict = {}

            def mask(key):
                m = masks.get(key)
                if m is None:
                    scope, flt, topics = key
                    m = pc.equal(batch.column("scope"), scope)
                    for k, v in flt:
                        m = pc.and_(m, pc.equal(batch.column(k), v))
                    m = pc.fill_null(m, False).to_numpy(zero_copy_only=False)
                    if topics is not None:
                        t = batch.column("topics")
                        hit = pc.fill_null(pc.equal(pc.list_flatten(t), topics), False)
                        has = np.zeros(n, dtype=bool)
                        has[
                            pc.list_parent_indices(t).to_numpy()[
                                hit.to_numpy(zero_copy_only=False)
                            ]
                        ] = True
                        m = m & has
                    masks[key] = m
                return m

            for c0 in range(0, len(payload), _QUERY_CHUNK):
                chunk = range(c0, min(c0 + _QUERY_CHUNK, len(payload)))
                # queries sharing a scope and dimension score as one
                # (rows × queries) block over the union of their rows
                groups: dict[tuple, list[int]] = {}
                for qi in chunk:
                    key, qv = payload[qi]
                    d = -1 if qv is None else qv.shape[0]
                    groups.setdefault((key[0], d), []).append(qi)
                idx_parts, qpos_parts, score_parts, null_parts = [], [], [], []
                for (_scope, d), members in groups.items():
                    ms = [mask(payload[qi][0]) for qi in members]
                    rows = np.nonzero(
                        np.logical_or.reduce(ms) & (dims == d) & (d >= 0)
                    )[0]
                    pos = np.full(n, -1, dtype=np.int64)
                    pos[rows] = np.arange(rows.size)
                    S = np.zeros((rows.size, len(members)), dtype=np.float64)
                    if rows.size and d > 0:
                        VT = vals[starts[rows][None, :] + np.arange(d)[:, None]]
                        VT = VT.astype(np.float64)  # (d, rows)
                        QT = np.stack([payload[qi][1] for qi in members], axis=1)
                        tmp = np.empty_like(S)
                        for i in range(d):
                            np.multiply(VT[i][:, None], QT[i][None, :], out=tmp)
                            S += tmp
                    for j, (qi, m) in enumerate(zip(members, ms)):
                        idx = np.nonzero(m)[0]
                        p = pos[idx]
                        ok = p >= 0
                        sc = np.zeros(idx.size)
                        sc[ok] = S[p[ok], j]
                        idx_parts.append(idx)
                        qpos_parts.append(np.full(idx.size, qi, dtype=np.int64))
                        score_parts.append(sc)
                        null_parts.append(~ok)
                idx = np.concatenate(idx_parts)
                if idx.size == 0:
                    continue
                out = batch.select(list(_SLIM_COLS)).take(pa.array(idx))
                yield pa.RecordBatch.from_arrays(
                    [
                        qid_arr.take(pa.array(np.concatenate(qpos_parts))),
                        *out.columns,
                        pa.array(
                            np.concatenate(score_parts),
                            type=pa.float64(),
                            mask=np.concatenate(null_parts),
                        ),
                    ],
                    names=["query_id", *_SLIM_COLS, "score"],
                )

    raw = slim.mapInArrow(
        score_batches,
        "query_id string, "
        + ", ".join(f"{c} string" for c in _SLIM_COLS)
        + ", score double",
    )
    return raw.select(
        "query_id", *_SLIM_COLS, F.round(F.col("score"), 6).alias("score")
    )


@dataclass
class IvfIndex:
    """Coarse-quantization index over one store scope: a sampled
    codebook plus per-row cell assignments (both precomputed once per
    store version — the engine analog of the reference's SAI index
    build at write time)."""

    centroids: DataFrame  # (cell long, centroid array<double>)
    assignments: DataFrame  # (row_id string, cell long)


def build_ivf_index(store: DataFrame, n_cells: int = 16) -> IvfIndex:
    """Deterministic IVF codebook: the `n_cells` lowest-row_id vectors
    seed the cells; every row is assigned to its nearest centroid.

    One broadcast of the tiny codebook; the store scan never shuffles.
    (A k-means refinement loop slots in here without changing the
    index shape.)
    """
    # orderBy+limit = TakeOrderedAndProject (top-k per partition + merge,
    # no global sort); the row_number window then runs over n_cells rows
    seeds = store.select("row_id", "vector").orderBy("row_id").limit(n_cells)
    cents = (
        seeds.withColumn("rn", F.row_number().over(Window.orderBy("row_id")))
        .select(
            (F.col("rn") - 1).cast("long").alias("cell"),
            V.as_double("vector").alias("centroid"),
        )
    )
    scored = store.select("row_id", "vector").crossJoin(F.broadcast(cents)).select(
        "row_id", "cell", V.dot(V.as_double("vector"), F.col("centroid")).alias("sim")
    )
    wa = Window.partitionBy("row_id").orderBy(F.desc("sim"), F.asc("cell"))
    assignments = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("row_id", "cell")
    )
    return IvfIndex(centroids=cents, assignments=assignments)


def _scored_ivf(
    store: DataFrame, queries: DataFrame, ivf: IvfIndex, n_probes: int
) -> DataFrame:
    """IVF-pruned candidate scoring: each query scores ONLY rows whose
    cell is among its `n_probes` nearest centroids — the 100 TB serving
    plan (scan cost ~ n_probes/n_cells of the scope; all joins hash).
    Equality/topics filters apply on the pruned candidates."""
    probes = (
        queries.select("query_id", "qvec")
        .crossJoin(F.broadcast(ivf.centroids))
        .select(
            "query_id", "cell", V.dot(F.col("centroid"), V.as_double("qvec")).alias("sim")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
            ),
        )
        .filter(F.col("rn") <= n_probes)
        .select("query_id", "cell")
    )
    cand = (
        store.join(ivf.assignments, "row_id")
        .join(F.broadcast(probes), "cell")
        .alias("s")
        .join(F.broadcast(queries.alias("q")), F.col("s.query_id") == F.col("q.query_id"))
    )
    filt = F.lit(True)
    for k in FILTER_KEYS:
        filt = filt & (F.col(f"q.flt_{k}").isNull() | (F.col(f"s.{k}") == F.col(f"q.flt_{k}")))
    filt = filt & (
        F.col("q.flt_topics").isNull()
        | F.array_contains(F.coalesce(F.col("s.topics"), F.array()), F.col("q.flt_topics"))
    )
    return cand.filter(filt).select(
        F.col("s.query_id").alias("query_id"),
        *[F.col(f"s.{c}").alias(c) for c in _SLIM_COLS],
        F.round(V.dot(V.as_double(F.col("s.vector")), V.as_double(F.col("q.qvec"))), 6).alias(
            "score"
        ),
    )


def retrieve_batch_multi(
    store: DataFrame,
    queries: DataFrame,
    ivf: dict[str, IvfIndex] | None = None,
    n_probes: int = 3,
    query_meta: list[dict] | None = None,
    max_depth: int = 2,
) -> DataFrame:
    """Seed-and-expand retrieval for a batch of queries spanning ANY mix
    of scopes — the whole batch runs as ONE Spark job.

    queries: (query_id string, qvec array<float|double>, flt_namespace,
    flt_repo, flt_module, flt_topics — nullable strings, q_scope string
    = TABLE scope, p_k/p_start_k/p_adjacent_k/p_max_depth ints); use
    `with_scope_params` to attach the last five. Returns ≤p_k rows per
    query with hop + score, score-desc ranked.

    `ivf` maps TABLE scope → IvfIndex; queries on indexed scopes score
    only their probe cells (approximate, like the reference's ANN
    index), the rest score exactly in one columnar Arrow pass over the
    store (`_scored_np`). The per-hop loop bound is `max_depth`
    globally with per-query p_max_depth gating, so mixed-depth batches
    rank correctly. Callers holding the query rows driver-side (the
    agent does) pass them as `query_meta` (q_scope, ranking params and
    ``qvec`` per row) to skip the metadata collect; rows without
    ``qvec`` are ignored and collected from `queries` instead.
    """
    ivf = ivf or {}
    meta_rows = (
        query_meta
        if query_meta is not None and all("qvec" in r for r in query_meta)
        else queries.select(
            "query_id",
            "qvec",
            *[f"flt_{k}" for k in FILTER_KEYS],
            "flt_topics",
            "q_scope",
            *_PARAM_COLS,
        ).collect()
    )
    params = {
        r["query_id"]: (r["p_k"], r["p_start_k"], r["p_adjacent_k"], r["p_max_depth"])
        for r in meta_rows
    }

    ids_schema = "query_id string, row_id string, score double, hop int"
    batch_scopes = sorted({r["q_scope"] for r in meta_rows})
    if not meta_rows:
        ids = store.sparkSession.createDataFrame([], ids_schema)
        return _fetch_docs(store, ids, batch_scopes)

    exact_meta = [r for r in meta_rows if r["q_scope"] not in ivf]
    parts: list[DataFrame] = []
    if exact_meta:
        parts.append(_scored_np(store, queries, exact_meta))
    for tscope, index in ivf.items():
        qids = [r["query_id"] for r in meta_rows if r["q_scope"] == tscope]
        if not qids:
            continue
        sub = queries.filter(F.col("query_id").isin(qids))
        parts.append(
            _scored_ivf(store.filter(F.col("scope") == tscope), sub, index, n_probes)
        )
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionByName(p)
    # the slim score table is scanned once per hop plus once for seeds;
    # cap its cached partition count at cluster parallelism (coalesce is
    # narrow — no shuffle) so those rescans don't pay per-partition task
    # overhead proportional to the store's write-time partitioning
    n_slots = store.sparkSession.sparkContext.defaultParallelism
    scored = scored.coalesce(max(1, n_slots)).cache()
    try:
        # --- seeds: one job ranks every query's top start_k ---
        max_start = max(p[1] for p in params.values())
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("row_id"))
        seed_rows = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_start)
            .drop("rn")
            .collect()
        )
        by_q: dict[str, list] = {}
        for r in seed_rows:
            by_q.setdefault(r["query_id"], []).append(r)

        def rank_key(r):
            # Spark desc() is NULLS LAST; mirror it driver-side
            return (r["score"] is None, -(r["score"] or 0.0), r["row_id"])
        reached: dict[str, list[tuple]] = {}  # qid -> [(row_id, score, hop)]
        frontier: dict[str, list] = {}
        for qid, (k, start_k, adj_k, depth_q) in params.items():
            top = sorted(by_q.get(qid, []), key=rank_key)[:start_k]
            reached[qid] = [(r["row_id"], r["score"], 0) for r in top]
            frontier[qid] = top

        # --- hops: the frontier is ≤ batch×k rows by construction, so
        # it travels driver→executors as literal isin predicates over
        # the cached slim score table — no broadcast joins, no
        # re-computation of prior hops (the old lineage-recursive plan
        # re-ran hop N-1's subplan once per later reference) ---
        for depth in range(1, max_depth + 1):
            conds = []
            active_adj: dict[str, int] = {}
            for qid, (k, start_k, adj_k, depth_q) in params.items():
                fr = frontier.get(qid) or []
                if depth > depth_q or not fr:
                    continue
                key_sets = {
                    key: sorted({r[key] for r in fr if r[key] is not None})
                    for key in EDGE_KEYS
                }
                edge_cond = None
                for key, vals in key_sets.items():
                    if not vals:
                        continue
                    c = F.col(key).isin(vals)
                    edge_cond = c if edge_cond is None else edge_cond | c
                if edge_cond is None:
                    continue
                seen_ids = [row_id for row_id, _, _ in reached[qid]]
                conds.append(
                    (F.col("query_id") == qid)
                    & edge_cond
                    & ~F.col("row_id").isin(seen_ids)
                )
                active_adj[qid] = adj_k
            if not conds:
                break
            cond = _or_tree(conds)
            max_adj = max(active_adj.values())
            hop_rows = (
                scored.filter(cond)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= max_adj)
                .drop("rn")
                .collect()
            )
            hop_by_q: dict[str, list] = {}
            for r in hop_rows:
                hop_by_q.setdefault(r["query_id"], []).append(r)
            frontier = {}
            for qid, adj_k in active_adj.items():
                top = sorted(hop_by_q.get(qid, []), key=rank_key)[:adj_k]
                reached[qid].extend((r["row_id"], r["score"], depth) for r in top)
                frontier[qid] = top

        # --- final: rank ≤k per query driver-side, fetch doc columns once ---
        final: list[tuple] = []
        for qid, (k, _, _, _) in params.items():
            rows = sorted(
                reached.get(qid, []), key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0])
            )[:k]
            final.extend((qid, row_id, score, hop) for row_id, score, hop in rows)
        ids = store.sparkSession.createDataFrame(final, ids_schema)
        return _fetch_docs(store, ids, batch_scopes)
    finally:
        scored.unpersist()


def _fetch_docs(store: DataFrame, ids: DataFrame, scopes: list[str] | None = None) -> DataFrame:
    """Join the (tiny) ranked id list back to the store for doc columns.
    row_id is globally unique across scopes (sha1 over scope|keys); the
    scope filter keeps partition pruning in the fetch scan."""
    if scopes:
        store = store.filter(F.col("scope").isin(scopes))
    s = store.alias("s")
    i = F.broadcast(ids.alias("i"))
    return (
        s.join(i, F.col("s.row_id") == F.col("i.row_id"))
        .select(
            F.col("i.query_id").alias("query_id"),
            *[F.col(f"s.{c}").alias(c) for c in _DOC_COLS],
            F.col("i.score").alias("score"),
            F.col("i.hop").alias("hop"),
        )
        # callers read rows score-desc (V5); the result is ≤k×batch rows
        .orderBy(F.desc("score"), F.asc("row_id"))
    )


def retrieve_batch(
    store: DataFrame,
    queries: DataFrame,
    scope: str,
    params: ScopeParams | None = None,
    ivf: IvfIndex | None = None,
    n_probes: int = 3,
    query_meta: list[dict] | None = None,
) -> DataFrame:
    """Single-scope convenience wrapper over `retrieve_batch_multi`.

    queries: (query_id string, qvec array<float>, flt_namespace,
    flt_repo, flt_module, flt_topics — nullable strings).
    Returns ≤k rows per query with hop + score, score-desc ranked.
    """
    params = params or SCOPE_PARAMS[scope]
    tscope = SCOPE_TO_TABLE.get(scope, scope)
    q2 = with_scope_params(queries, scope, params)
    meta = (
        [
            dict(
                r,
                q_scope=tscope,
                p_k=params.k,
                p_start_k=params.start_k,
                p_adjacent_k=params.adjacent_k,
                p_max_depth=params.max_depth,
            )
            for r in query_meta
        ]
        if query_meta is not None
        else None
    )
    return retrieve_batch_multi(
        store,
        q2,
        ivf={tscope: ivf} if ivf is not None else None,
        n_probes=n_probes,
        query_meta=meta,
        max_depth=params.max_depth,
    )


def mmr_rerank(rows: list[dict], k: int, lambda_mult: float = 0.35) -> list[dict]:
    """Maximal-marginal-relevance re-rank (ingest factory strategy,
    GraphRetrieverFactory.py:148-161): greedy pick balancing query
    relevance vs redundancy. Runs driver-side on ≤k candidates (tiny).

    rows: dicts with 'score' (relevance) and 'body'; diversity proxy is
    token-set overlap of bodies (no vectors needed at this stage).
    """
    if not rows:
        return []
    chosen: list[dict] = []
    remaining = list(rows)

    def overlap(a: dict, b: dict) -> float:
        ta = set((a.get("body") or "").lower().split())
        tb = set((b.get("body") or "").lower().split())
        if not ta or not tb:
            return 0.0
        return len(ta & tb) / len(ta | tb)

    while remaining and len(chosen) < k:
        best, best_val = None, float("-inf")
        for r in remaining:
            redundancy = max((overlap(r, c) for c in chosen), default=0.0)
            val = lambda_mult * (r.get("score") or 0.0) - (1 - lambda_mult) * redundancy
            if val > best_val:
                best, best_val = r, val
        chosen.append(best)
        remaining.remove(best)
    return chosen
