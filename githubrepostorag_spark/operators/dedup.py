"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The scale story (100 TB):
- exact dedup: one shuffle on the md5 fingerprint — always cheap.
- n-gram Jaccard all-pairs is the *exact* verifier, quadratic per
  group — only run it scoped (here: within `source`) or on LSH
  candidate pairs.
- MinHash+LSH is the scale path: per-doc signature (narrow), band
  buckets (one shuffle on band value), candidate pairs only where a
  band collides — the classic shingle→minhash→band→bucket-join design
  (Broder 1997; MMDS ch.3).
- SimHash gives a 32-bit near-dup key (Charikar 2002); hamming-close
  docs collide on rotated prefixes.

All hashing is md5-based so the DuckDB oracle reproduces values
bit-for-bit (see functions.text.md5_bigint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from githubrepostorag_spark.functions import text as TXT
from githubrepostorag_spark.session import (
    driver_bound_rows,
    run_concurrently,
    scale_out,
)

# Shared with the DuckDB oracle builders.
SHINGLE_K = 4
MINHASH_FUNCS = 8
LSH_BANDS = 4  # rows per band = MINHASH_FUNCS // LSH_BANDS = 2
SIMHASH_BITS = 32
# Signature-agreement gate for the near-dup (threshold 0.8) verify
# chain: ≥6 of 8 slots. See jaccard_on_candidates for the recall math.
SIG_GATE_NEAR_DUP = 6


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup: keep min doc_id per normalized-content fingerprint."""
    return (
        documents.select("doc_id", TXT.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def _shingled(documents: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded distinct char-k-gram rows.

    Input is spread across the cluster first — the explode+hash work
    downstream dominates the tiny raw-row shuffle."""
    return scale_out(documents, "doc_id").select(
        "doc_id", F.explode(TXT.char_shingles(F.col("text"), SHINGLE_K)).alias("shingle")
    )


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """MinHash signature per doc: sig_i = min over shingles of the i-th
    8-hex slice of md5(shingle) || md5('1:' || shingle).

    TWO md5 calls per shingle yield all 8 hash functions (64 hex chars
    → 8 independent 32-bit slices) instead of one md5 per function —
    the hash is the dominant cost of the whole MinHash family at scale.
    Min over lexicographic hex strings — identical in any engine.
    One explode + one groupBy(doc_id): a single shuffle keyed on doc_id.
    """
    sh = _shingled(documents).withColumn(
        "hx",
        F.concat(
            F.md5(F.col("shingle")), F.md5(F.concat_ws(":", F.lit("1"), F.col("shingle")))
        ),
    )
    sigs = [
        F.min(F.substring(F.col("hx"), i * 8 + 1, 8)).alias(f"sig_{i}")
        for i in range(MINHASH_FUNCS)
    ]
    return sh.groupBy("doc_id").agg(*sigs)


def lsh_buckets(documents: DataFrame, n_bands: int = LSH_BANDS) -> DataFrame:
    """LSH band buckets: band_val = md5(concat of the band's signatures).

    Docs sharing (band_idx, band_val) are near-dup candidates; at scale
    the candidate join shuffles on band_val only — never all-pairs.
    Band geometry tunes the similarity threshold: collision prob =
    1-(1-s^r)^b with r = MINHASH_FUNCS/n_bands rows per band — fewer,
    wider bands admit only higher-similarity candidates (MMDS §3.4.2).
    """
    assert MINHASH_FUNCS % n_bands == 0, "bands must divide MINHASH_FUNCS"
    return _bands_from_sigs(minhash_signatures(documents), n_bands)


def _bands_from_sigs(sigs: DataFrame, n_bands: int) -> DataFrame:
    """Band rows (doc_id, band_idx, band_val) from a signature table —
    shared by the inline LSH chain and the persisted dedup store (which
    recomputes bands from STORED signatures rather than re-shingling)."""
    assert MINHASH_FUNCS % n_bands == 0, "bands must divide MINHASH_FUNCS"
    rows_per_band = MINHASH_FUNCS // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                ).alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", F.col("band.band_idx").alias("band_idx"), F.col("band.band_val").alias("band_val")
    )


def lsh_candidate_pairs(documents: DataFrame, n_bands: int = LSH_BANDS) -> DataFrame:
    """Candidate near-dup pairs: docs colliding in ≥1 LSH band.

    Shape: groupBy(band) → sorted member list → in-bucket pair explode.
    ONE scan of the MinHash chain and one shuffle on the band value — a
    band self-join would evaluate the signature computation twice (once
    per join side) and shuffle both. A d-member bucket yields d²/2 pair
    rows either way (one hot band value = one reducer in both shapes);
    at scale you cap runaway buckets (drop or sample buckets past a few
    thousand members — a bucket that big is not "near-duplicate"
    evidence anyway), which the grouped form makes a one-line filter.
    """
    return _pairs_from_buckets(lsh_buckets(documents, n_bands))


def _pairs_from_buckets(buckets: DataFrame) -> DataFrame:
    """In-bucket pair explode shared by lsh_candidate_pairs and the
    signature-reusing jaccard_on_candidates chain."""
    grouped = (
        buckets.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def jaccard_pairs(documents: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs, scoped within `source`.

    Shingle equi-join (co-partitioned on shingle) → per-pair shared
    count → |A∪B| from per-doc sizes. Quadratic within group by
    definition — the exact verifier for the MinHash path, intentionally
    scoped to keep the pair space bounded; `jaccard_on_candidates` is
    the unscoped scale composition. (A per-pair array_intersect variant
    measures ~17× slower here: Catalyst collapses the projection and
    recomputes the shingle arrays once per PAIR — exploded shingle rows
    materialize them once per doc.)
    """
    sh = _shingled(documents.select("doc_id", "source", "text"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    src = documents.select("doc_id", "source")
    sh_s = sh.join(F.broadcast(src), "doc_id")
    a = sh_s.alias("a")
    b = sh_s.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        shared.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


def jaccard_on_candidates(
    documents: DataFrame,
    threshold: float = 0.8,
    n_bands: int = 2,
    sig_gate: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard computed ONLY on LSH candidate pairs — the scale
    composition (shingle→minhash→band→bucket-join→verify).

    Unlike `jaccard_pairs`' raw shingle self-join (quadratic on any
    hot shingle key), the pair space here is bounded by LSH collisions:
    the shingle join is keyed on (candidate doc pair), so a popular
    4-gram never fans out. This is the operator you run at 100 TB;
    `jaccard_pairs` remains the small-scale exact verifier.

    Default geometry (2 bands × 4 rows) targets near-dups: collision
    prob ≈ 12% at s=0.5, 65% at s=0.8 — the candidate set stays sparse
    even on a corpus where *every* pair has moderate overlap.

    The candidate set is ``localCheckpoint``-ed: it is consumed three
    times downstream (doc restriction + pair fan-out), and without the
    cut each consumer would replay the full shingle→minhash→band chain.
    Verification then shingles ONLY candidate-touched docs (left_semi)
    — at a realistic dup rate that is a sliver of the corpus, so the
    full corpus is shingled exactly once (inside the LSH pass) no
    matter how the verify step is composed.

    ``sig_gate`` (optional, default OFF): before the shingle verify,
    drop candidate pairs whose MinHash signatures agree on fewer than
    `sig_gate` of the MINHASH_FUNCS slots — the sketch-gated two-stage
    verifier. At the default 2×4 geometry a collision guarantees 4
    matching slots, so the gate bites above 4; at g=6 a true pair at
    s=0.8 passes with P[Binom(4,0.8)≥2] ≈ 97.3% (≈99.5% at s=0.9) and
    the sf0.1 corpus's candidate set shrinks 58k → 17.8k. MEASURED at
    sf0.1/local[32], though, the gate is a net LOSS (min-of-5: 3.4 s
    ungated vs 4.7 s gated): the pair→shingle fan-out feeds a
    map-side-combined count that the 32-core shuffle absorbs easily,
    while the gate adds two joins and a second checkpoint
    materialization. It stays OFF on every benched call site and
    exists as the knob for corpora where the fan-out genuinely
    dominates — long documents (fan-out is |shingles| per pair, here
    only ~1k) or skew-heavy band collisions. Both engines compute
    identical md5 signatures, so an oracle can reproduce a gated pair
    set bit-for-bit when the knob is on.

    ``sigs`` (optional): a precomputed, already-materialized
    `minhash_signatures(documents)` frame. Callers that ALSO consume
    the signatures (minhash_error_audit's estimator join, the persisted
    dedup store) pass it so the corpus is shingled once total instead
    of once per consumer.
    """
    if sigs is None:
        sigs = minhash_signatures(documents).localCheckpoint(eager=True)
    cand = _pairs_from_buckets(_bands_from_sigs(sigs, n_bands))
    if sig_gate is not None and sig_gate > 0:
        sig_cols = [f"sig_{i}" for i in range(MINHASH_FUNCS)]
        ga = sigs.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(c).alias(f"ga_{c}") for c in sig_cols],
        )
        gb = sigs.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(c).alias(f"gb_{c}") for c in sig_cols],
        )
        n_match = None
        for c in sig_cols:
            term = F.when(F.col(f"ga_{c}") == F.col(f"gb_{c}"), 1).otherwise(0)
            n_match = term if n_match is None else n_match + term
        cand = (
            cand.join(ga, "doc_a")
            .join(gb, "doc_b")
            .filter(n_match >= sig_gate)
            .select("doc_a", "doc_b")
        )
    cand = cand.localCheckpoint(eager=True)
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Verify via PER-DOC SHINGLE ARRAYS (r13, guide §2.3/§2.4): the
    # r12 shape exploded each candidate doc's shingles and counted
    # shared ones through a pair-grain fan-out join + groupBy — at
    # sf0.1 that is ~16M (pair, shingle) rows through two joins and a
    # shuffle for 47k pairs. char_shingles already yields the DISTINCT
    # shingle set as an array, so per pair the same integer is
    # size(array_intersect(sh_a, sh_b)) — one map-side projection over
    # the pair table, no pair×shingle rows, no aggregation exchange.
    # The array frame is pinned (localCheckpoint) so the interpreted
    # shingle HOF runs once per doc — without the cut CollapseProject
    # re-inlines it into every pair row (the measured reason the array
    # variant lost when tried un-pinned). Measured: verify stage 9.1 →
    # 1.8 s at sf0.1. Inner-join semantics preserved exactly: a pair
    # sharing NO shingles (or touching an empty/NULL shingle set) was
    # absent from the old count join — the n_shared > 0 filter (NULL
    # fails it) reproduces that, and n_shared stays a long.
    docs_arr = _pin_via_cache(
        scale_out(documents.join(cand_docs, "doc_id", "left_semi"), "doc_id")
        .select(
            "doc_id",
            TXT.char_shingles(F.col("text"), SHINGLE_K).alias("sh"),
        )
        .withColumn("n_shingles", F.size("sh"))
    )
    a = docs_arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_shingles").alias("size_a"),
    )
    b = docs_arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_shingles").alias("size_b"),
    )
    # Pin the post-join slim table BEFORE any filter: without the
    # barrier, PushDownPredicates folds the n_shared/jaccard filters
    # into the join CONDITION with the alias substituted, and the
    # projection references n_shared twice — array_intersect ends up
    # evaluated up to 4× per pair (observed in the executed plan; the
    # whole verify ran 9-10 s instead of ~1.5 s at sf0.1). After the
    # pin each pair's intersection is computed exactly once; the
    # filters and the jaccard arithmetic run over pinned integers.
    pairs_shared = _pin_via_cache(
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias(
                "n_shared"
            ),
            "size_a",
            "size_b",
        )
    )
    return (
        pairs_shared.filter(F.col("n_shared") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


# --- session-level memoization of the LSH+verify chain -----------------
#
# Six audit operators (q34, q55/q56, q206, q209, q245, q254, q169 …)
# each pay the full shingle→minhash→band→verify chain independently —
# at sf0.1 that is ~4-6 s per bench entry, the single biggest block of
# suite time (round-6 verdict #7). The chain is deterministic (md5
# hashing end-to-end), so its threshold-0 output over the SAME input
# plan in the SAME Spark application is identical across callers: one
# localCheckpoint-ed table, keyed on (applicationId, plan semanticHash,
# schema, band geometry), serves them all; per-caller thresholds become
# cheap post-filters on the checkpoint. The cache can never go stale
# within a key: a different input (other sf_dir, other table, a
# filtered frame) analyzes to a different semantic hash, and a new
# session gets a new applicationId. IMMUTABLE-INPUT ASSUMPTION: the
# cache identifies inputs by their ANALYZED PLAN — overwriting a
# parquet path in-session and re-reading it produces the same plan and
# would be served the stale pair table. The engine never overwrites an
# input table in-session (stores the gates append to are keyed
# per-batch, not cached); callers that do must bust the cache with an
# explicit cache_key.

_PAIR_CACHE: dict[tuple, DataFrame] = {}
_PAIR_STAMP: dict[tuple, int] = {}  # explicit-key entries: input row count
# (key, input plan hash, schema) triples whose stamp has been VERIFIED —
# the count()-based stale-key check runs once per distinct input plan,
# not on every cache hit (ADVICE r8 low: per-hit re-counting eroded
# exactly the scan the cache exists to avoid)
_STAMP_VERIFIED: set[tuple] = set()
_SIG_CACHE: dict[tuple, DataFrame] = {}
_CACHE_MAX = 32
# hard bound on the verified-stamp set: a hot explicit key fed one fresh
# localCheckpoint plan per streaming trigger adds one tuple per trigger
# forever — when full, clear and re-verify lazily (one count per distinct
# plan, the documented steady-state cost) instead of growing the driver
_STAMP_VERIFIED_MAX = 1024


def _plan_key(df: DataFrame, *extra) -> tuple | None:
    """(applicationId, semanticHash, schema, *extra) or None if
    unavailable. The schema string rides along because semanticHash is
    32-bit — a silent cross-plan collision would serve WRONG pairs;
    with the schema in the key a collision additionally needs an
    identical column layout."""
    try:
        return (
            df.sparkSession.sparkContext.applicationId,
            df.semanticHash(),
            df.schema.simpleString(),
            *extra,
        )
    except Exception:  # pragma: no cover - e.g. Spark Connect
        return None


def _stamp_verified_add(vk: tuple) -> None:
    """Record a (key, plan) pair as count-verified, under the hard
    bound: at capacity the set is CLEARED, not trimmed — the penalty is
    one lazy re-count per still-live plan, never a wrong answer."""
    if len(_STAMP_VERIFIED) >= _STAMP_VERIFIED_MAX:
        _STAMP_VERIFIED.clear()
    _STAMP_VERIFIED.add(vk)


def _cache_put(cache: dict, key: tuple, df: DataFrame) -> None:
    if len(cache) >= _CACHE_MAX:
        evicted_key = next(iter(cache))
        cache.pop(evicted_key)
        _PAIR_STAMP.pop(evicted_key, None)
        # the evicted key's verified-plan tuples are dead weight (they
        # are only consulted while the key is cached); without this a
        # session rotating explicit keys leaks one tuple set per key
        _STAMP_VERIFIED.difference_update(
            vk for vk in list(_STAMP_VERIFIED) if vk[0] == evicted_key
        )
        # Drop the REFERENCE only — never unpersist (ADVICE r8 low): a
        # caller may still hold a frame DERIVED from the evicted
        # checkpoint (e.g. a threshold-filtered view returned earlier),
        # and localCheckpoint truncates lineage, so an explicit
        # unpersist would fail that frame's next action with
        # missing-block errors. The blocks stay alive exactly while
        # any such frame references the checkpointed RDD; once the
        # last reference is garbage-collected, Spark's ContextCleaner
        # unpersists them — bounded-lifetime, not a leak.
    cache[key] = df
    _STAMP_VERIFIED.difference_update(
        vk for vk in list(_STAMP_VERIFIED) if vk[0] == key
    )


def cached_signatures(documents: DataFrame) -> DataFrame:
    """`minhash_signatures`, localCheckpoint-ed once per (session,
    input plan) — signatures are pure md5 folds, so reuse is exact."""
    key = _plan_key(documents)
    if key is None:  # pragma: no cover
        return minhash_signatures(documents).localCheckpoint(eager=True)
    df = _SIG_CACHE.get(key)
    if df is None:
        df = minhash_signatures(documents).localCheckpoint(eager=True)
        _cache_put(_SIG_CACHE, key, df)
    return df


def _pin_via_cache(df: DataFrame) -> DataFrame:
    """Materialize + lineage-cut an expensive frame WITHOUT losing AQE:
    `localCheckpoint(eager=True)` executes the plan through the legacy
    (non-adaptive) path, where fresh-checkpoint inputs carry no size
    statistics, so every join in the subtree plans as sort-merge —
    measured 3-5× slower than the adaptive execution of the same plan
    (r13, the verified-pair base). Persisting and forcing the cache
    with a count() runs the plan under AQE (broadcast conversions,
    partition coalescing); the checkpoint then serializes the cached
    batches instead of recomputing, and the transient cache is dropped
    immediately. Same rows, same lineage cut, one extra in-memory copy
    during the call."""
    df = df.persist()
    try:
        df.count()
        return df.localCheckpoint(eager=True)
    finally:
        df.unpersist()


def verified_pairs_cached(
    documents: DataFrame,
    threshold: float = 0.8,
    n_bands: int = 2,
    cache_key: tuple | None = None,
) -> DataFrame:
    """`jaccard_on_candidates` backed by the session cache: the
    threshold-0 verified-pair table materializes ONCE per (session,
    input plan, n_bands); every caller's threshold is a post-filter on
    the checkpoint. Same columns, same rows as the direct call —
    `filter(jaccard >= t)` after verification is exactly where the
    direct call applies its own threshold.

    ``cache_key``: callers whose input frame contains a LINEAGE CUT
    (localCheckpoint produces a fresh LogicalRDD, so its semantic hash
    never repeats — e.g. the CDC chunk reps table) pass an explicit
    stable key derived from their OWN upstream plan; the caller owns
    the invariant that equal keys imply equal inputs. Still scoped by
    applicationId, so a new session can never read a stale entry — and
    each explicit-key entry is STAMPED with its input row count, so a
    stale-key bug (same key, different input) fails loudly on reuse
    instead of silently serving wrong pairs to the nine downstream
    audit queries."""
    if cache_key is not None:
        key = (*cache_key, int(n_bands))
    else:
        key = _plan_key(documents, int(n_bands))
    if key is None:  # pragma: no cover
        base = _pin_via_cache(
            jaccard_on_candidates(documents, threshold=0.0, n_bands=n_bands)
        )
    else:
        base = _PAIR_CACHE.get(key)
        if base is None:
            base = _pin_via_cache(
                jaccard_on_candidates(
                    documents,
                    threshold=0.0,
                    n_bands=n_bands,
                    sigs=cached_signatures(documents),
                )
            )
            _cache_put(_PAIR_CACHE, key, base)
            if cache_key is not None:
                _PAIR_STAMP[key] = documents.count()
                plan_sig = _plan_key(documents)
                if plan_sig is not None:  # this exact plan needs no re-count
                    _stamp_verified_add((key, plan_sig))
        elif cache_key is not None and key in _PAIR_STAMP:
            # stale-key guard, verified ONCE per distinct input plan:
            # the count() is a full input scan, so re-running it on
            # every hit would erode the cache's own savings (ADVICE r8
            # low). A frame already counted against this key skips the
            # scan; any NEW plan under the same key (including each
            # fresh localCheckpoint of an equal input) pays one count.
            plan_sig = _plan_key(documents)
            vk = (key, plan_sig)
            if plan_sig is None or vk not in _STAMP_VERIFIED:
                n_now = documents.count()
                if n_now != _PAIR_STAMP[key]:
                    raise ValueError(
                        f"verified_pairs_cached: explicit cache_key {cache_key!r} "
                        f"reused with a different input ({n_now} rows vs "
                        f"{_PAIR_STAMP[key]} at first materialization) — equal "
                        "keys must imply equal inputs"
                    )
                if plan_sig is not None:
                    _stamp_verified_add(vk)
    if threshold > 0.0:
        return base.filter(F.col("jaccard") >= threshold)
    return base


def simhash(documents: DataFrame) -> DataFrame:
    """32-bit SimHash per document over whitespace tokens (with multiplicity).

    Per token: v = first 8 md5 hex digits as int; each bit contributes
    ±count to the bit's weight; simhash bit j = (weight_j > 0).
    One explode + two aggregations, all JVM-side.
    """
    # No scale_out here (unlike minhash): the first groupBy shuffles the
    # (doc_id, tok) explode output anyway, so a pre-explode repartition
    # just adds a full-text shuffle in front of it — measured 2.25 s
    # without vs 3.17 s with at sf0.1 (r1 vs r2 bench).
    toks = documents.select("doc_id", F.explode(TXT.tokens(F.col("text"))).alias("tok"))
    counted = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    hashed = counted.withColumn("v", TXT.md5_bigint(F.col("tok"), 8))
    weights = [
        F.sum(
            F.when(F.shiftright(F.col("v"), j).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"w_{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc_id").agg(*weights)
    sim = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"w_{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_bucket_dedup(documents: DataFrame, prefix_bits: int = 16) -> DataFrame:
    """Group docs by high SimHash prefix — near-dup *bucket* summary.

    At scale: rotate the hash to probe multiple prefixes; here one
    prefix suffices to demonstrate the bucket-join shape.
    """
    s = simhash(documents)
    return (
        s.withColumn("bucket", F.shiftright(F.col("simhash"), SIMHASH_BITS - prefix_bits))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("canonical_doc_id"))
    )


def _components_unionfind(one: DataFrame) -> DataFrame:
    """Exact union-find over a BOUNDED collected edge list; labels every
    edge-touched node with the minimum id in its component — identical
    to the distributed hash-min fixpoint. Only called when the caller
    has already counted the edges under the driver-memory bound."""
    from pyspark.sql import types as T

    rows = one.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r.src, r.dst
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in parent:
        root = find(n)
        m = comp_min.get(root)
        if m is None or n < m:
            comp_min[root] = n
    data = [(n, comp_min[find(n)]) for n in parent]
    node_type = one.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_type),
            T.StructField("component", node_type),
        ]
    )
    return one.sparkSession.createDataFrame(data, schema)


# Per-edge driver cost for the union-find fast path: the python dicts
# hold ~200 B per edge, so the bound is DERIVED from the session's
# driver heap (2% of spark.driver.memory at 200 B/edge —
# session.driver_bound_rows; ~1.7M edges for the 16g bench driver,
# ~100k for a default 1g driver; previously a hand-picked 200k). The
# distributed loop costs 2 shuffles + a checkpoint + a count PER ROUND
# in job-scheduling latency alone (measured ~4 s for a 4k-edge graph
# at local[32], vs ~0.3 s via the fallback).
UNIONFIND_EDGE_BYTES = 200


def dedup_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
    small_graph_edges: int | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph by
    hash-min label propagation — the clustering step that turns
    pairwise near-dup evidence into dedup groups (keep one canonical
    doc per component).

    Iterative: every node adopts the minimum component id among itself
    and its neighbors until a fixpoint; converges in O(graph diameter)
    rounds, and near-dup graphs are unions of near-cliques, so the
    diameter is tiny. Each round is one join + one groupBy (two
    shuffles) on the edge list; the driver only evaluates the
    converged? count — labels never collect. At 100 TB you bound skew
    with the large-star/small-star split of the same propagation
    (Kiveris et al. 2014); the per-round plan is unchanged.

    `nodes` (one `node` column) seeds singleton components so isolated
    docs keep themselves as canonical.

    Only nodes that touch an edge can ever change label, so the
    iteration runs on that (tiny — dup-pair members only) subgraph and
    the untouched majority unions back in as singletons at the end: at
    a 1% dup rate the per-round shuffles handle 1% of the corpus, not
    all of it.

    Each round's labels are ``localCheckpoint``-ed: iterative lineage
    otherwise doubles the logical plan every round and overflows the
    planner stack long before the data is the problem. On a real
    cluster swap in reliable ``checkpoint`` (HDFS) for executor-loss
    tolerance; the algorithm is unchanged.
    """
    # Checkpoint the ONE-SIDED edge list before symmetrizing: a
    # union(edges, edges.swapped) would evaluate the upstream pair
    # chain once per branch — for a verify composition that is the
    # single most expensive subtree in the whole dedup pipeline.
    one = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).localCheckpoint(
        eager=True
    )
    # Right-size the loop to the materialized edge list: the dup
    # subgraph is tiny relative to the corpus, so without this every
    # round schedules mostly-empty tasks. count() on a checkpointed
    # frame is ~free; coalesce doesn't shuffle. ~100k slim edge rows
    # per task keeps a genuinely large graph wide.
    n_edges = one.count()
    if small_graph_edges is None:
        small_graph_edges = driver_bound_rows(
            edges.sparkSession, bytes_per_row=UNIONFIND_EDGE_BYTES
        )
    # Bounded-size fast path: the edge count is already materialized,
    # so when the dup subgraph provably fits on the driver (a few MB of
    # two-column rows), run exact union-find there instead of paying
    # 2 shuffles + checkpoint + count of job-scheduling latency per
    # propagation round. Same result by construction — both paths label
    # every edge-touched node with the MINIMUM id reachable from it —
    # so the oracle and every composition are unaffected. This is the
    # GraphFrames-style bounded collect (cap checked BEFORE collecting,
    # like the retrieval frontier); a 100 TB pair graph that exceeds
    # the cap takes the distributed loop below.
    if n_edges <= small_graph_edges:
        labels = _components_unionfind(one)
        singletons = nodes.select("node").join(
            labels.select("node"), "node", "left_anti"
        ).select("node", F.col("node").alias("component"))
        return labels.unionByName(singletons)
    parts = max(1, min(one.rdd.getNumPartitions(), n_edges // 100_000 + 1))
    one = one.coalesce(parts)
    sym = one.union(one.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    all_nodes = nodes.select("node")
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # own label tagged is_self so the same aggregate yields BOTH the
        # new min-label and the previous one — the convergence test is a
        # count on the checkpointed result, not a second join+shuffle
        # per round
        own = labels.select("node", "component", F.lit(1).alias("is_self"))
        nbr = sym.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(
            F.col("src").alias("node"), "component", F.lit(0).alias("is_self")
        )
        new_labels = (
            own.unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("is_self") == 1, F.col("component"))).alias(
                    "prev"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("component") != F.col("prev")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    singletons = all_nodes.join(labels.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labels.unionByName(singletons)


def dedup_survivors(
    documents: DataFrame, labels: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize the deduplicated corpus: one canonical row per
    component (min id wins), annotated with `component_size` so a
    downstream quality filter can audit how much each survivor
    represents. This is the last stage of the dedup pipeline
    (candidates → verify → components → survivors).

    Scale: `labels` is two ids per doc, so the per-component min/count
    is one cheap shuffle; the survivor join is a plain equi-join on the
    id that AQE turns into a broadcast when the surviving side is
    small. The full documents table is never shuffled on anything but
    its own id.
    """
    keep = (
        labels.groupBy("component")
        .agg(
            F.min("node").alias(id_col),
            F.count(F.lit(1)).alias("component_size"),
        )
        .drop("component")
    )
    return documents.join(keep, id_col)


def minhash_error_audit(documents: DataFrame, n_bands: int = 2) -> DataFrame:
    """MinHash estimate-vs-exact audit on the LSH candidate pairs:
    per pair, the signature-agreement estimate (matching slots /
    MINHASH_FUNCS — the unbiased Jaccard estimator, MMDS §3.3.3)
    against the exact shingle Jaccard, with the absolute error.
    Completes the sketch-audit family (IVF/PQ/JL/int8 recall audits,
    q115-q118) for the dedup side: the measured number that justifies
    — or refutes — a chosen band geometry before a 100 TB run trusts
    it.

    Plan: the exact side is `jaccard_on_candidates` (threshold 0 — the
    audit wants the misses too); the estimate joins the (bounded)
    candidate pairs back to the signature table twice. Signatures are
    8 narrow strings per doc, so both joins broadcast at any realistic
    candidate count. The signature table is computed ONCE and passed
    into the verify chain (`sigs=`), so the corpus is shingled exactly
    once — without the reuse the estimator side replayed the full
    shingle+md5 pass a second time.
    """
    sigs = cached_signatures(documents)
    exact = verified_pairs_cached(documents, threshold=0.0, n_bands=n_bands)
    sig_cols = [f"sig_{i}" for i in range(MINHASH_FUNCS)]
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(c).alias(f"a_{c}") for c in sig_cols]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(c).alias(f"b_{c}") for c in sig_cols]
    )
    n_match = None
    for c in sig_cols:
        term = F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        n_match = term if n_match is None else n_match + term
    return (
        exact.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_sig_match", n_match.cast("long"))
        .withColumn(
            "est_jaccard",
            F.round(F.col("n_sig_match") / F.lit(float(MINHASH_FUNCS)), 6),
        )
        .withColumn("abs_err", F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6))
        .select("doc_a", "doc_b", "jaccard", "n_sig_match", "est_jaccard", "abs_err")
    )


def cluster_quality_audit(documents: DataFrame, n_bands: int = 2) -> DataFrame:
    """Per-component audit of the dedup clustering: connected
    components merge near-dup PAIRS transitively, so a component can
    chain A~B~C where A and C are NOT similar — over-deduplication
    that silently drops non-duplicate documents. For every multi-doc
    component this reports the evidence density: verified-pair count
    vs the n(n-1)/2 a true duplicate clique would show, plus min/avg
    pairwise Jaccard. pair_density ≈ 1 and a high min = genuine clique
    (safe to keep one survivor); low density or a threshold-hugging
    min = chained cluster that deserves a second verify pass before
    deletion. This is the audit a 100 TB dedup run consults before
    destroying data.

    Plan: one LSH→verify chain (the same bounded pair table q56
    consumes, checkpointed so components and stats share it), hash-min
    label propagation for components (labels shuffle, documents never
    do), then two small aggregations over the pair/label tables — the
    audit costs one extra groupBy beyond the dedup pipeline itself.
    """
    pairs = verified_pairs_cached(documents, n_bands=n_bands).localCheckpoint(
        eager=True
    )
    labels = dedup_components(
        pairs,
        documents.select(F.col("doc_id").alias("node")),
        id_a="doc_a",
        id_b="doc_b",
    )
    sizes = (
        labels.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    # jaccard is 6dp-quantized per pair; summing it as an exact integer
    # (j·1e6 as long) makes the component mean ORDER-INDEPENDENT —
    # avg() over doubles flips at 6dp .5 boundaries with Spark's
    # partial-aggregation order (same class as dedup_bias_audit's q4
    # sum). mean·1e6 = Σj6/n, rounded convention-free.
    pstats = (
        pairs.join(
            labels.select(F.col("node").alias("doc_a"), "component"), "doc_a"
        )
        .withColumn(
            "j6", F.floor(F.col("jaccard") * 1e6 + 0.5).cast("long")
        )
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_verified_pairs"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            (
                F.floor(F.sum("j6") / F.count(F.lit(1)) + 0.5) / 1e6
            ).alias("avg_jaccard"),
        )
    )
    return (
        sizes.join(pstats, "component")
        .withColumn(
            "pair_density",
            F.round(
                F.col("n_verified_pairs")
                / (F.col("n_docs") * (F.col("n_docs") - 1) / 2.0),
                6,
            ),
        )
        .select(
            "component",
            "n_docs",
            "n_verified_pairs",
            "min_jaccard",
            "avg_jaccard",
            "pair_density",
        )
    )


def dedup_bias_audit(documents: DataFrame, n_bands: int = 2) -> DataFrame:
    """Survivorship-bias audit for the dedup pipeline: per source, how
    much of the corpus survives canonical-survivor selection and how
    the mean lexical quality shifts from raw to surviving. Dedup is
    not quality-neutral — boilerplate-heavy sources collapse hardest,
    but popular high-quality documents are ALSO over-duplicated, so a
    run that deletes without measuring this can silently tilt the
    training mixture. quality_delta is the number the mixture-weight
    step (q84) should see before reusing pre-dedup source weights.

    Plan: the same LSH→verify→components→survivors chain as q56
    (bounded pair table, label propagation), a left-semi join to flag
    survivors (never duplicates document rows), and two source-bounded
    aggregates over a single quality-scored projection — the audit's
    marginal cost over the dedup run itself is one scan of the
    already-narrow scored frame.
    """
    comp = dedup_components(
        verified_pairs_cached(documents, n_bands=n_bands),
        documents.select(F.col("doc_id").alias("node")),
        id_a="doc_a",
        id_b="doc_b",
    )
    survivors = dedup_survivors(documents, comp).select("doc_id")
    # quality is 4dp-rounded per doc; summing it as an exact integer
    # (q·1e4) makes the mean ORDER-INDEPENDENT — avg() over doubles
    # near a 6dp boundary flips with partial-aggregation order, i.e.
    # it is nondeterministic even within Spark (observed at sf0.01).
    # mean·1e6 = Σq4·100/n, rounded convention-free.
    scored = documents.select(
        "doc_id",
        "source",
        F.floor(TXT.quality_score(F.col("text")) * 1e4 + 0.5)
        .cast("long")
        .alias("q4"),
    )
    mean6 = lambda: (
        F.floor(F.sum("q4") * 100.0 / F.count(F.lit(1)) + 0.5) / 1e6
    )
    raw = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        mean6().alias("mean_quality_raw"),
    )
    surv = (
        scored.join(survivors, "doc_id", "left_semi")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_surviving"),
            mean6().alias("mean_quality_surviving"),
        )
    )
    return (
        raw.join(surv, "source")
        .withColumn(
            "keep_rate",
            # convention-free 6dp rounding (floor(x·1e6+0.5)/1e6): the
            # difference/ratio of already-rounded values lands exactly
            # on a .5 boundary often enough that engine round-half-up
            # vs oracle round-half-away diverge (observed at sf0.01)
            F.floor(F.col("n_surviving") / F.col("n_raw") * 1e6 + 0.5) / 1e6,
        )
        .withColumn(
            "quality_delta",
            F.floor(
                (F.col("mean_quality_surviving") - F.col("mean_quality_raw"))
                * 1e6
                + 0.5
            )
            / 1e6,
        )
        .select(
            "source",
            "n_raw",
            "n_surviving",
            "keep_rate",
            "mean_quality_raw",
            "mean_quality_surviving",
            "quality_delta",
        )
    )


def band_geometry_sweep(
    documents: DataFrame, configs: tuple[int, ...] = (1, 2, 4, 8)
) -> DataFrame:
    """LSH band-geometry sweep: for every admissible band count b
    (divisors of MINHASH_FUNCS), the empirical candidate workload the
    geometry would admit — bucket count, hot (≥2-member) buckets,
    candidate pairs Σ m(m-1)/2, max bucket size — alongside the
    geometry's theoretical 50%-collision similarity threshold
    s50 = (1-2^(-1/b))^(1/r) (MMDS §3.4.2 S-curve midpoint).

    This is the audit you run BEFORE committing a band geometry to a
    100 TB dedup pass: candidate pairs is exactly the downstream
    verify-join row count, so the sweep prices each (b, r) choice in
    shuffle rows while s50 prices it in recall — from the signature
    table alone, without running a single verify join.

    Plan: the corpus is shingled ONCE (one signature table, eagerly
    pinned); each config re-bands the 8 narrow signature strings —
    band rows are config-local arithmetic on the sigs, so the sweep
    costs |configs| small groupBys over (band_idx, band_val), never a
    rescan of the documents. Per-config output is ONE row (a global
    aggregate); the union is |configs| rows total.

    Reference anchor: the reference hard-codes its near-dup geometry;
    this operator is the measured justification step its pipeline
    lacks (SURVEY §2 dedup family, beyond-reference).
    """
    sigs = minhash_signatures(documents).localCheckpoint(eager=True)
    frames = []
    for b in configs:
        assert MINHASH_FUNCS % b == 0, "bands must divide MINHASH_FUNCS"
        r = MINHASH_FUNCS // b
        s50 = round((1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r), 6)
        bucket_sizes = (
            _bands_from_sigs(sigs, b)
            .groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("m"))
        )
        frames.append(
            bucket_sizes.agg(
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
                F.sum(F.when(F.col("m") > 1, 1).otherwise(0))
                .cast("long")
                .alias("hot_buckets"),
                # m(m-1) is always even, so the per-bucket cast is exact
                F.sum((F.col("m") * (F.col("m") - 1) / 2).cast("long"))
                .cast("long")
                .alias("candidate_pairs"),
                F.max("m").cast("long").alias("max_bucket"),
            ).select(
                F.lit(b).cast("long").alias("n_bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.lit(s50).alias("s50_threshold"),
                "n_buckets",
                "hot_buckets",
                "candidate_pairs",
                "max_bucket",
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def cross_source_leakage(documents: DataFrame, n_bands: int = 2) -> DataFrame:
    """Cross-source near-duplicate leakage matrix: for every ordered
    source pair (a ≤ b), how many verified near-dup pairs straddle
    them — the contamination report that tells a corpus owner WHICH
    ingestion feeds are copying from each other (within-source dups
    are ordinary; cross-source dups mean shared upstream or scraping
    overlap). Composes the LSH→verify chain with a dimension rollup:
    the pair table is LSH-bounded, so the matrix aggregation is
    trivially small.
    """
    pairs = verified_pairs_cached(documents, threshold=0.5, n_bands=n_bands)
    src = documents.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(F.broadcast(a), "doc_a")
        .join(F.broadcast(b), "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
        .withColumn(
            # 6dp-quantized jaccard summed as exact 1e-6-unit integers:
            # avg() over the doubles flips at 6dp .5 boundaries with
            # partial-aggregation order (the q206/q209 class)
            "j6",
            F.floor(F.col("jaccard") * 1e6 + 0.5).cast("long"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.floor(F.sum("j6") / F.count(F.lit(1)) + 0.5) / 1e6
            ).alias("avg_jaccard"),
        )
        .withColumn("cross_source", F.col("source_a") != F.col("source_b"))
    )


# ---------------------------------------------------------------------------
# Persisted dedup store: incremental near-dup against an existing corpus
# ---------------------------------------------------------------------------


def write_dedup_store(documents: DataFrame, path: str, n_bands: int = LSH_BANDS) -> None:
    """Persist the LSH dedup index for a corpus: the MinHash signature
    table plus the band-bucket table (partitioned by band_idx, sorted
    by band_val inside each partition for parquet row-group skipping).

    The 100 TB motivation: a growing corpus must dedup each NEW
    ingestion batch against everything already accepted, and
    re-shingling the existing corpus per batch is a full-corpus scan
    of wide text. The store is built once (signatures are ~8 narrow
    strings per doc, bands 3 narrow columns), and every subsequent
    batch touches only these slim tables — the corpus text is never
    read again. Same build-once/serve-many layout as the IVF vector
    store (similarity.write_ivf_store) and the inverted text index
    (textindex.write_text_index).

    Every row carries the writer's ``batch_id`` (-1 for this base
    write; streaming appends stamp their micro-batch id) so an
    at-least-once replayed batch can EXCLUDE its own earlier append
    from the probe and re-derive identical decisions.
    """
    sigs = minhash_signatures(documents).withColumn("batch_id", F.lit(-1))
    sigs.write.mode("overwrite").parquet(path + "/signatures")
    spark = documents.sparkSession
    stored = spark.read.parquet(path + "/signatures")
    # bands derive from the just-written signatures, not a second
    # shingle pass over the text
    _bands_from_sigs(stored, n_bands).withColumn(
        "batch_id", F.lit(-1)
    ).sortWithinPartitions("band_val").write.mode(
        "overwrite"
    ).partitionBy("band_idx").parquet(path + "/bands")
    # exact-dup side: the normalized content fingerprint, sorted so
    # parquet row-group min/max stats serve point probes
    documents.select(
        "doc_id", TXT.fingerprint(F.col("text")).alias("fp"), F.lit(-1).alias("batch_id")
    ).sortWithinPartitions("fp").write.mode("overwrite").parquet(path + "/fingerprints")


def incremental_near_dups(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    min_est_jaccard: float = 0.5,
    n_bands: int = LSH_BANDS,
    exclude_batch_id: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Flag documents in a new ingestion batch that near-duplicate a
    document already in the persisted dedup store: LSH band collision
    for candidates, then the MinHash signature-agreement estimate
    (matching slots / MINHASH_FUNCS — the q153-audited estimator) as
    the verifier. Returns (new_id, old_id, n_sig_match, est_jaccard)
    for every candidate at or above `min_est_jaccard`.

    Scale shape — the store side never shuffles:
    - only the NEW batch is shingled (one scan of the batch's text);
    - its band rows broadcast into a single scan of the stored band
      table (collision join, no store shuffle);
    - the (bounded) candidate set broadcasts into a single scan of the
      stored signature table;
    - verification is pure signature arithmetic — no text is re-read
      for either side. Set `min_est_jaccard` with q153's measured
      estimator error in hand (±1/MINHASH_FUNCS per slot).

    ``exclude_batch_id``: the streaming gate passes its micro-batch id
    so an at-least-once REPLAY whose first attempt already appended
    (crash between store append and checkpoint commit) skips its own
    earlier rows instead of self-matching every document at estimate
    1.0 and flipping accepted→rejected.

    ``sigs``: a caller that already holds `minhash_signatures(new_docs)`
    (the streaming gate computes the batch's signatures ONCE and reuses
    them for probe AND store append) passes them here to skip this
    function's own shingling pass.
    """
    new_sigs = (
        sigs
        if sigs is not None
        else minhash_signatures(new_docs).localCheckpoint(eager=False)
    )
    sig_cols = [f"sig_{i}" for i in range(MINHASH_FUNCS)]

    def _excl(df: DataFrame) -> DataFrame:
        if exclude_batch_id is None or "batch_id" not in df.columns:
            return df
        return df.filter(F.col("batch_id") != F.lit(int(exclude_batch_id)))

    new_bands = _bands_from_sigs(new_sigs, n_bands).select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_val"
    )
    # tombstoned (taken-down) docs must not veto newcomers: anti-join
    # the store side against the tombstone table (broadcast — bounded
    # by takedown volume, tiny next to the store)
    tombs = _read_dedup_tombstones(spark, path)
    store_bands = _without_tombstoned(
        _excl(spark.read.parquet(path + "/bands")), tombs
    )
    cand = (
        store_bands.join(F.broadcast(new_bands), ["band_idx", "band_val"])
        .filter(F.col("doc_id") != F.col("new_id"))
        .select(F.col("doc_id").alias("old_id"), "new_id")
        .distinct()
    )

    store_sigs = _without_tombstoned(
        _excl(spark.read.parquet(path + "/signatures")), tombs
    )
    old = store_sigs.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(c).alias(f"o_{c}") for c in sig_cols],
    )
    new = new_sigs.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(c).alias(f"n_{c}") for c in sig_cols],
    )
    n_match = None
    for c in sig_cols:
        term = F.when(F.col(f"o_{c}") == F.col(f"n_{c}"), 1).otherwise(0)
        n_match = term if n_match is None else n_match + term
    return (
        old.join(F.broadcast(cand), "old_id")
        .join(F.broadcast(new), "new_id")
        .withColumn("n_sig_match", n_match.cast("long"))
        .withColumn(
            "est_jaccard",
            F.round(F.col("n_sig_match") / F.lit(float(MINHASH_FUNCS)), 6),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("new_id", "old_id", "n_sig_match", "est_jaccard")
    )


def append_to_dedup_store(
    new_docs: DataFrame,
    path: str,
    n_bands: int = LSH_BANDS,
    batch_id: int = -1,
    sigs: DataFrame | None = None,
) -> None:
    """Append an accepted ingestion batch to the persisted dedup store,
    so the NEXT batch's incremental_near_dups sees it. Completes the
    build → probe → accept → append loop: the corpus text still never
    gets re-read; only the new batch is shingled (once — the signature
    frame is checkpointed and both writes derive from it). Streaming
    callers pass their micro-batch id so a replay can exclude the
    rows its first attempt appended.

    ``sigs``: pre-computed `minhash_signatures(new_docs)` rows (no
    batch_id column) — the streaming gate passes its probe-side
    signatures filtered to the accepted ids, so the batch is shingled
    exactly once per trigger instead of once for the probe and again
    here. CONTRACT: a caller-passed frame must already be pinned
    (localCheckpoint/persist-materialized); this function deliberately
    does NOT re-checkpoint it, so an unpinned frame would silently
    re-run the full shingle+md5 chain for each of the two writes below.

    Append batches are assumed micro-batch-sized: each append coalesces
    to ONE task/file per table (see comment below). A thousands-of-docs
    backfill should go through `write_dedup_store` (bulk path, full
    write parallelism) rather than this API."""
    # Caller-passed signature frames are already materialized (the
    # streaming gate's probe pinned them), so re-checkpointing here
    # costs one extra Spark job PER TRIGGER for nothing — both writes
    # below recompute only a literal column and a broadcast anti-join
    # on top of the pinned RDD. Only the self-computed path (where the
    # two writes would each replay the full shingle+md5 chain) still
    # pins (r12 optimization).
    base = sigs if sigs is not None else minhash_signatures(new_docs).localCheckpoint(
        eager=True
    )
    # One output file per append (r12 optimization, guide §6 small
    # files): an ingestion batch is small next to the store by
    # definition (bulk builds go through write_dedup_store), but the
    # batch frame arrives 32-way partitioned, so every append used to
    # drop ~32 tiny files per table — ~64 for the band table, whose
    # partitionBy writer emits one file per (task, band_idx) — and
    # every SUBSEQUENT trigger's store probe paid the listing + open
    # cost of the accumulated litter (measured: 8-trigger sustained
    # run left 500+ files; per-trigger probe time grew with it). The
    # coalesce(1) collapses only the cheap post-pin projection; the
    # band sort keeps its row-group-skipping layout, now global per
    # file.
    sigs = base.withColumn("batch_id", F.lit(int(batch_id))).coalesce(1)

    # The three appends are INDEPENDENT single-task jobs over the same
    # pinned signature frame (bands derive from it; fingerprints from
    # the pinned batch), each dominated by driver-side commit latency —
    # run them concurrently from driver threads (guide §2.6) that keep
    # the caller's job group. Callers see the append complete only when
    # all three landed, as before.

    def _w_sigs():
        sigs.write.mode("append").parquet(path + "/signatures")

    def _w_bands():
        _bands_from_sigs(sigs, n_bands).withColumn(
            "batch_id", F.lit(int(batch_id))
        ).sortWithinPartitions("band_val").write.mode(
            "append"
        ).partitionBy("band_idx").parquet(path + "/bands")

    def _w_fps():
        new_docs.coalesce(1).select(
            "doc_id",
            TXT.fingerprint(F.col("text")).alias("fp"),
            F.lit(int(batch_id)).alias("batch_id"),
        ).sortWithinPartitions("fp").write.mode("append").parquet(
            path + "/fingerprints"
        )

    run_concurrently(_w_sigs, _w_bands, _w_fps)


def _dedup_tombstones_path(path: str) -> str:
    return path.rstrip("/") + "/tombstones"


def _read_dedup_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """Tombstoned (doc_id, max_batch) rows for the store at `path`, or
    None when no deletion has ever run (one driver-side fs.exists, no
    Spark job). max_batch is the store's max batch_id AT TOMBSTONE TIME
    (the r11 ADVICE watermark): only store rows with batch_id <= that
    watermark are masked, so a legitimate post-takedown RESUBMISSION of
    the same doc_id (appended in a later batch) is neither hidden from
    the incremental probes nor purged by the next compaction. A doc_id
    deleted more than once keeps its LATEST watermark (max), which
    covers every earlier one."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(_dedup_tombstones_path(path))
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    return (
        spark.read.parquet(_dedup_tombstones_path(path))
        .groupBy("doc_id")
        .agg(F.max("max_batch").cast("long").alias("max_batch"))
    )


def _without_tombstoned(
    df: DataFrame, tombstones: DataFrame | None, id_col: str = "doc_id"
) -> DataFrame:
    """Mask store rows covered by a tombstone: same doc_id AND
    batch_id <= the tombstone's watermark. Compacted rows carry
    batch_id -1, which every watermark covers (>= -1 by construction —
    a compaction that PRECEDED the tombstone; a compaction AFTER it
    would have purged the tombstone physically and cleared the table).
    Left-join + filter rather than left_anti so the batch predicate
    participates; the aggregated tombstone table is unique per doc_id,
    so the join cannot duplicate store rows."""
    if tombstones is None:
        return df
    t = tombstones.select(
        F.col("doc_id").alias(id_col), F.col("max_batch").alias("_tomb_wm")
    )
    return (
        df.join(F.broadcast(t), id_col, "left")
        .filter(
            F.col("_tomb_wm").isNull()
            | (F.col("batch_id") > F.col("_tomb_wm"))
        )
        .drop("_tomb_wm")
    )


def delete_from_dedup_store(spark: SparkSession, path: str, doc_ids) -> int:
    """Takedown/deletion for the persisted LSH dedup store (r10
    verdict ask #4): TOMBSTONE the given doc_ids so they stop vetoing
    newcomers — a deleted document's signatures/bands/fingerprints no
    longer match incoming batches in `incremental_near_dups` /
    `incremental_exact_dups` (both anti-join the store side against
    the tombstone table). Without this, a taken-down doc keeps
    rejecting its own near-duplicates forever, which is exactly
    backwards: after a takedown, a RESUBMISSION of similar content is
    a fresh editorial decision, not a duplicate of removed data.

    Tombstones are an APPEND (one tiny parquet write, no store
    rewrite) — the physical purge of the three tables rides the next
    `compact_dedup_store`, which applies tombstones and clears the
    table. That is the right 100 TB split: deletes are latency-
    sensitive (legal clocks), compaction is scheduled.

    Each tombstone is SCOPED by a batch watermark (r11 ADVICE): it
    records the store's max batch_id at delete time and masks only
    rows with batch_id <= that watermark. A post-takedown resubmission
    of the same doc_id (a fresh editorial decision) appended in a
    LATER batch is live immediately — visible to the probes and kept
    by compaction — instead of being silently masked and purged.
    Assumes append batch ids are monotonically non-decreasing (the
    streaming gates use epoch ids); compacted rows (batch_id -1) are
    always covered.

    `doc_ids` is a DataFrame with a doc_id column or a Python
    iterable of ids. Returns the number of distinct ids tombstoned.
    """
    import pandas as pd

    # the watermark: max batch_id across the store at delete time (the
    # three tables share per-append batch ids — signatures is written
    # first in append_dedup_batch, so it bounds the other two); -1 for
    # a store that was never appended to (then nothing is masked,
    # which is vacuously correct for an empty store)
    jvm = spark._jvm
    sig_p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/signatures")
    fs = sig_p.getFileSystem(spark._jsc.hadoopConfiguration())
    wm = -1
    if fs.exists(sig_p):
        row = (
            spark.read.parquet(path + "/signatures")
            .agg(F.max("batch_id"))
            .first()
        )
        if row[0] is not None:
            wm = int(row[0])

    if isinstance(doc_ids, DataFrame):
        # pin before the count+write pair: two actions on an unpinned
        # frame would recompute its lineage, and a non-deterministic
        # source (a sampled takedown list) could tombstone one id set
        # and report another
        ids = (
            doc_ids.select("doc_id")
            .distinct()
            .withColumn("max_batch", F.lit(wm).cast("long"))
            .localCheckpoint(eager=True)
        )
        n = ids.count()
        ids.coalesce(1).write.mode("append").parquet(
            _dedup_tombstones_path(path)
        )
        return int(n)
    vals = sorted({int(d) for d in doc_ids})
    if not vals:
        return 0
    spark.createDataFrame(
        pd.DataFrame({"doc_id": vals, "max_batch": [wm] * len(vals)})
    ).coalesce(1).write.mode("append").parquet(_dedup_tombstones_path(path))
    return len(vals)


def compact_dedup_store(spark: SparkSession, path: str) -> None:
    """Offline compaction of the persisted LSH dedup store: a streaming
    gate appends one small file set per micro-batch to each of the
    three tables (signatures / bands / fingerprints), and the probe's
    single store scan degrades as the file count grows — the
    append-only firehose sink's classic failure mode, same as the IVF
    store (`similarity.compact_ivf_store`). Each table is rewritten in
    one pass: replay duplicates reconciled ((doc_id, batch_id) grain —
    the documented at-least-once read-side dedup, applied once at
    rest), batch_id folded to -1, the bands table re-partitioned by
    band_idx and re-sorted on band_val so parquet row-group skipping
    serves point probes again.

    Run OFFLINE with no gate in flight: folding batch ids collapses
    the per-batch replay-exclusion keys, so a batch replayed ACROSS a
    compaction boundary would re-append its rows.

    Tombstones (`delete_from_dedup_store`) are applied PHYSICALLY
    here: dead rows drop from all three tables and the tombstone table
    is cleared — compaction is the scheduled purge the append-time
    tombstone write defers to.
    """
    tombs = _read_dedup_tombstones(spark, path)
    if tombs is not None:
        tombs = tombs.localCheckpoint(eager=True)  # pin: its dir is
        # deleted below, before the lazy table rewrites would read it
    sigs = (
        _without_tombstoned(spark.read.parquet(path + "/signatures"), tombs)
        .dropDuplicates(["doc_id", "batch_id"])
        .withColumn("batch_id", F.lit(-1))
        .localCheckpoint(eager=True)  # pin before overwriting its source
    )
    sigs.coalesce(spark.sparkContext.defaultParallelism).write.mode(
        "overwrite"
    ).parquet(path + "/signatures")
    bands = (
        _without_tombstoned(spark.read.parquet(path + "/bands"), tombs)
        .dropDuplicates(["doc_id", "band_idx", "band_val", "batch_id"])
        .withColumn("batch_id", F.lit(-1))
        .localCheckpoint(eager=True)
    )
    bands.repartition("band_idx").sortWithinPartitions("band_val").write.mode(
        "overwrite"
    ).partitionBy("band_idx").parquet(path + "/bands")
    fps = (
        _without_tombstoned(spark.read.parquet(path + "/fingerprints"), tombs)
        .dropDuplicates(["doc_id", "batch_id"])
        .withColumn("batch_id", F.lit(-1))
        .localCheckpoint(eager=True)
    )
    fps.coalesce(spark.sparkContext.defaultParallelism).sortWithinPartitions(
        "fp"
    ).write.mode("overwrite").parquet(path + "/fingerprints")
    if tombs is not None:
        # applied physically above — clear so future probes skip the
        # anti-join entirely (fs.exists returns False again)
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(_dedup_tombstones_path(path))
        p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)


def incremental_exact_dups(
    spark: SparkSession, path: str, new_docs: DataFrame
) -> DataFrame:
    """Exact-duplicate probe against the persisted dedup store: the new
    batch's normalized-content fingerprints broadcast into one scan of
    the stored fingerprint table. Returns (new_id, old_id, fp) for every
    stored doc whose content matches a new doc byte-for-byte after
    normalization — the cheap first gate an ingestion batch passes
    before the (band-collision) near-dup probe.
    """
    new_fp = new_docs.select(
        F.col("doc_id").alias("new_id"), TXT.fingerprint(F.col("text")).alias("fp")
    )
    store = _without_tombstoned(
        spark.read.parquet(path + "/fingerprints"),
        _read_dedup_tombstones(spark, path),
    )
    return (
        store.join(F.broadcast(new_fp), "fp")
        .filter(F.col("doc_id") != F.col("new_id"))
        .select("new_id", F.col("doc_id").alias("old_id"), "fp")
    )


def cdc_chunk_near_dups(
    documents: DataFrame, threshold: float = 0.8, n_bands: int = 2
) -> DataFrame:
    """Near-duplicate detection at CDC-chunk grain — the paragraph-
    level dedup Lee et al. (2022) approximate and q90's fixed strides
    scan for, made both EDIT-STABLE (content-defined boundaries, q216)
    and TYPO-TOLERANT (MinHash/LSH + verified Jaccard, q23/q24's
    machinery) in one composition.

    Exact-duplicate chunks collapse FIRST: identical chunk_hash means
    identical text, so each distinct content becomes one node carrying
    its occurrence count — a 10x boilerplate flood grows n_occ, not
    the LSH candidate space, which keeps every pairwise step bounded
    by band collisions over DISTINCT contents (the same discipline as
    jaccard_on_candidates; chunks shorter than the shingle width have
    no shingles and drop out naturally).

    Returns (hash_a, hash_b, jaccard, n_occ_a, n_occ_b): verified
    near-dup pairs of distinct chunk contents with how often each
    occurs corpus-wide — n_occ_a·n_occ_b is the cross-document reach
    of each near-duplication, the number a chunk-store dedup pass
    ranks its merge candidates by.
    """
    from githubrepostorag_spark.operators.textops import cdc_chunks

    ch = cdc_chunks(documents).join(
        documents.select("doc_id", "text"), "doc_id"
    ).select(
        "chunk_hash",
        F.substr(
            F.col("text"), F.col("start_pos"), F.col("chunk_len")
        ).alias("chunk_text"),
    )
    # one node per distinct content (md5 determines the text, so
    # min() is a deterministic pick of the single value)
    reps = (
        ch.groupBy("chunk_hash")
        .agg(
            F.min("chunk_text").alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .withColumnRenamed("chunk_hash", "doc_id")
        .localCheckpoint(eager=False)  # feeds LSH chain AND both occ joins
    )
    # reps sits behind a lineage cut (fresh LogicalRDD per call), so
    # the plan-hash key would never repeat — key the pair cache on the
    # DOCUMENTS plan + the fixed CDC-chunk recipe instead (the whole
    # reps derivation is deterministic in `documents`)
    pairs = verified_pairs_cached(
        reps.select("doc_id", "text"),
        threshold=threshold,
        n_bands=n_bands,
        cache_key=_plan_key(documents, "cdc_reps_v1"),
    )
    occ = reps.select("doc_id", "n_occ")
    return (
        pairs.join(occ.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_occ", "n_occ_a")
        .join(
            occ.select(
                F.col("doc_id").alias("doc_b"), F.col("n_occ").alias("n_occ_b")
            ),
            "doc_b",
        )
        .select(
            F.col("doc_a").alias("hash_a"),
            F.col("doc_b").alias("hash_b"),
            "jaccard",
            "n_occ_a",
            "n_occ_b",
        )
    )

# --- round 6: repo-level fork detection ---

FORK_SHINGLE_K = 5        # word shingle width for the repo profile
FORK_SHINGLE_CAP = 10     # drop shingles present in > cap sources


def repo_fork_pairs(
    documents: DataFrame,
    k: int = FORK_SHINGLE_K,
    cap: int = FORK_SHINGLE_CAP,
) -> DataFrame:
    """Repository-level fork / mirror detection: profile every source
    (the repo analog in the documents table) as its DISTINCT word
    k-shingle set and report pairwise Jaccard between profiles — the
    repo-grain companion to the doc-grain near-dup family (q23/q24).
    GitHub corpora are full of forks and vendored mirrors; training
    pipelines dedup them at repo grain before doc-grain passes.

    Scale shape: one shuffle to build (shingle, source) distinct
    pairs; shingles present in more than `cap` sources are DROPPED
    before pairing — they are non-discriminative (boilerplate) AND
    they are the quadratic hot keys, so the cap is simultaneously the
    semantic and the skew bound: pair work per shingle is <= cap².
    The self-join runs on the capped inverted index, never on the
    corpus. Pair count is bounded by Σ c_s² over capped shingles.

    Jaccard is computed over the CAPPED profiles: numerator (shared)
    and denominators (n_a/n_b) both count only shingles that survive
    the df <= cap filter, so the metric is internally consistent —
    two forks sharing mostly boilerplate score on their discriminative
    shingles, not a mixed capped/uncapped ratio (round-6 ADVICE).
    """
    toks = TXT.tokens(F.lower(F.col("text")))
    sh = (
        scale_out(documents, "doc_id")
        .select(
            "source",
            F.explode(
                # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not
                # empty, so short docs must short-circuit to an empty array
                F.when(
                    F.size(toks) >= k,
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - k + 1),
                        lambda i: TXT.md5_bigint(
                            F.array_join(F.slice(toks, i, k), " ")
                        ),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("h"),
        )
        .distinct()
    )
    rare = sh.join(
        sh.groupBy("h").agg(F.count("*").alias("df")).filter(F.col("df") <= cap),
        "h",
        "inner",
    ).select("h", "source")
    # profile sizes from the SAME capped index the pair numerator uses
    sizes = rare.groupBy("source").agg(F.count("*").alias("n_shingles"))
    pairs = (
        rare.alias("a")
        .join(rare.alias("b"), "h")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").cast("long").alias("shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("source", "src_a"), "src_a")
        .withColumnRenamed("n_shingles", "n_a")
        .join(sizes.withColumnRenamed("source", "src_b"), "src_b")
        .withColumnRenamed("n_shingles", "n_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def pair_ngram_precision(documents: DataFrame) -> DataFrame:
    """Clipped n-gram precision (the BLEU-style overlap metric) for
    every LSH candidate near-dup pair — the VERIFIER that grades how
    much of doc_a is literally covered by doc_b, direction-sensitive
    where Jaccard (q25/q34) is symmetric: a quote-with-commentary pair
    scores high precision / low Jaccard, and a dedup policy treats
    those differently.

    Rides the existing MinHash/LSH candidate generation unchanged —
    pair work stays band-collision-bounded. The clipped overlap
    (Σ over grams of min(count_a, count_b), an exact integer) is
    computed the DISTRIBUTED way: gram counts materialize once per
    (doc, gram) — never per pair — and the per-pair overlap is an
    equi-join on the gram plus one sum(least(ca, cb)) aggregate, all
    whole-stage-codegen joins/aggregates. (The per-pair array-lambda
    form measured ~40× slower at sf0.01: interpreted HOFs scan each
    pair's arrays quadratically; shared counts + equi-join do the same
    work once per gram occurrence.) The only float is the final
    division, rounded 6dp on both engines.
    """
    # checkpointed: the pair set feeds four join branches (two size
    # lookups + two clipped-overlap aggregates) — without the pin each
    # branch would re-execute the whole MinHash/LSH chain
    # near-dup geometry (2 bands x 4 rows), matching jaccard_on_candidates:
    # the default 4x2 geometry admits ~100x more (lower-similarity) pairs
    # at sf0.1 — measured 3.8M vs ~58k — and a precision VERIFIER only
    # makes sense on pairs the near-dup pipeline would actually judge
    pairs = lsh_candidate_pairs(documents, n_bands=2).localCheckpoint(eager=True)
    toks = TXT.tokens(F.col("text"))
    # scale_out: the token/bigram explodes below are per-row work and
    # the corpus arrives as one scan split (r12 — guide §2.5); A/B
    # isolated runs measured 4.55 s with vs 4.69 s without
    base = scale_out(documents.select("doc_id", "text"), "doc_id").select(
        "doc_id", toks.alias("t")
    )
    uni = base.select("doc_id", F.explode("t").alias("g"))
    big = base.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.concat(
                    F.element_at(F.col("t"), i),
                    F.lit(" "),
                    F.element_at(F.col("t"), i + 1),
                ),
            )
        ).alias("g"),
    )

    def clipped(grams: DataFrame, out: str) -> DataFrame:
        cnt = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        ca = cnt.select(
            F.col("doc_id").alias("doc_a"), "g", F.col("c").alias("ca")
        )
        cb = cnt.select(
            F.col("doc_id").alias("doc_b"), "g", F.col("c").alias("cb")
        )
        return (
            pairs.join(ca, "doc_a")
            .join(cb, ["doc_b", "g"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.least("ca", "cb")).cast("long").alias(out))
        )

    sizes = base.select("doc_id", F.size("t").cast("long").alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_toks_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_toks_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(clipped(uni, "clip1"), ["doc_a", "doc_b"], "left")
        .join(clipped(big, "clip2"), ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "n_toks_a",
            "n_toks_b",
            F.round(
                F.coalesce(F.col("clip1"), F.lit(0)) / F.col("n_toks_a").cast("double"),
                6,
            ).alias("unigram_prec"),
            F.round(
                F.coalesce(F.col("clip2"), F.lit(0))
                / F.greatest(F.col("n_toks_a") - 1, F.lit(1)).cast("double"),
                6,
            ).alias("bigram_prec"),
        )
    )


DEDUP_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(
    documents: DataFrame, thresholds: tuple = DEDUP_SWEEP_THRESHOLDS
) -> DataFrame:
    """Jaccard-threshold sensitivity sweep for the near-dup policy: the
    verified candidate pairs are computed ONCE (threshold 0 — every LSH
    collision gets its exact Jaccard), then each candidate policy
    threshold reports how many pairs and how many distinct documents it
    would implicate. The table a corpus owner reads before committing
    to a dedup threshold — q203 sweeps the LSH *geometry*, this sweeps
    the *verify* cut on fixed geometry.

    One LSH+verify pass (checkpointed — consumed once per threshold
    row), then a thresholds×pairs broadcast fan-out (|pairs|·5 rows)
    with one aggregate: pair counts and endpoint-distinct counts per
    threshold. Threshold literals are identical decimal strings on both
    engines, and jaccard is already 6dp-rounded, so the >= compares
    can't diverge.
    """
    pairs = verified_pairs_cached(documents, threshold=0.0).localCheckpoint(
        eager=True
    )
    spark = documents.sparkSession
    th = F.broadcast(
        spark.createDataFrame([(t,) for t in thresholds], "threshold double")
    )
    hit = pairs.crossJoin(th).filter(F.col("jaccard") >= F.col("threshold"))
    ep = hit.select(
        "threshold", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    n_pairs = hit.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = ep.groupBy("threshold").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    return (
        th.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        )
    )


def quality_survivors(documents: DataFrame) -> DataFrame:
    """Quality-aware canonical selection: one survivor per verified
    near-dup component, keeping the HIGHEST-QUALITY copy (tie → min
    doc_id) instead of dedup_survivors' min-id rule — what a production
    pipeline actually ships: the dup cluster's best-written copy, not
    its accidentally-lowest id. Same chain as q56 (LSH candidates →
    Jaccard verify → components); the winner pick is one window per
    component (bounded by cluster size, never corpus-wide).
    """
    verified = verified_pairs_cached(documents).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    labels = dedup_components(
        verified, documents.select(F.col("doc_id").alias("node"))
    )
    scored = documents.select(
        "doc_id", "source", TXT.quality_score(F.col("text")).alias("quality")
    ).join(labels.select(F.col("node").alias("doc_id"), "component"), "doc_id")
    w = Window.partitionBy("component")
    wr = w.orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        scored.withColumn("component_size", F.count(F.lit(1)).over(w).cast("long"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "quality", "component_size")
    )


def dup_size_histogram(documents: DataFrame) -> DataFrame:
    """Near-duplicate CLUSTER-SIZE distribution — the one-page shape
    report curation reviews before picking a dedup policy: web-scale
    corpora show power-law cluster sizes (a few mega-clusters of
    boilerplate hold much of the duplicate mass — Lee et al. 2022), and
    the histogram decides whether min-id survivorship is enough or the
    mega-clusters need their own handling.

    One row per distinct component size: how many components, how many
    documents they hold, and the duplicate mass those rows would shed
    under keep-one-per-component (size-1 components shed nothing).

    Scale shape: rides the session-cached verified-pair table
    (`verified_pairs_cached`) and the same hash-min components as q56;
    the histogram itself is two tiny key-bounded aggregations on the
    two-column label frame — nothing document-sized shuffles twice.
    """
    labels = dedup_components(
        verified_pairs_cached(documents),
        documents.select(F.col("doc_id").alias("node")),
        id_a="doc_a",
        id_b="doc_b",
    )
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("component_size")
    )
    return (
        sizes.groupBy("component_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .select(
            "component_size",
            "n_components",
            (F.col("component_size") * F.col("n_components"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("component_size") - 1) * F.col("n_components"))
            .cast("long")
            .alias("shed_docs"),
        )
    )


EDIT_VERIFY_MAX_CHARS = 600


def edit_distance_verify(
    documents: DataFrame, max_chars: int = EDIT_VERIFY_MAX_CHARS
) -> DataFrame:
    """Levenshtein verification of every LSH candidate pair — the THIRD
    verifier next to set-overlap Jaccard (q34, order-blind) and clipped
    n-gram precision (q243, direction-sensitive): edit similarity is
    ORDER-SENSITIVE both ways, so a scrambled-paragraph copy that fools
    Jaccard scores low here, and the three together triangulate WHAT
    KIND of near-duplicate each candidate is.

    Rides the session-cached candidate table (threshold 0 — the verify
    wants misses too); texts join onto the pair-bounded frame only for
    candidate-touched docs (left_semi, the jaccard_on_candidates
    discipline), capped at `max_chars` per side because the DP kernel
    is O(len_a*len_b) per pair — the 600-char default keeps the
    per-pair DP ~0.4M cells (a pathological 100 MB pair would stall a
    task uncapped), and the docstring contract is explicit that the
    metric is over the capped prefix; raise the cap when the corpus
    grain is short. edit_sim =
    1 - dist/max(len) rounded 6dp.

    Oracle caveat: Spark's levenshtein counts CHARACTER edits, DuckDB's
    counts BYTES — identical on this corpus (verified all-ASCII), and
    the engine side is the semantic truth for non-ASCII data.
    """
    cand = verified_pairs_cached(documents, threshold=0.0).select(
        "doc_a", "doc_b", "jaccard"
    )
    txt = documents.select(
        "doc_id", F.substring(F.col("text"), 1, int(max_chars)).alias("t")
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    txt = txt.join(cand_docs, "doc_id", "left_semi")
    joined = (
        cand.join(
            txt.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")),
            "doc_a",
        )
        .join(
            txt.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")),
            "doc_b",
        )
    )
    # The DP kernel is materialized into its OWN projection first:
    # referencing `F.levenshtein(...)` from both output columns of one
    # select evaluates the O(len_a*len_b) kernel TWICE per pair —
    # Catalyst's CollapseProject declines to inline a non-cheap
    # expression referenced more than once, so the two-step form keeps
    # exactly one evaluation (r12 optimization, guide §7.2 duplicated-
    # subtree check; measured 7.0 s -> 3.4 s on the 58k-pair tail at
    # sf0.1).
    step = joined.withColumn("_dist", F.levenshtein(F.col("ta"), F.col("tb")))
    mx = F.greatest(F.length("ta"), F.length("tb"))
    return step.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.col("_dist").cast("long").alias("edit_dist"),
        F.when(mx > 0, F.round(1.0 - F.col("_dist") / mx.cast("double"), 6))
        .otherwise(F.lit(1.0))
        .alias("edit_sim"),
    )


def dedup_impact_by_source(documents: DataFrame) -> DataFrame:
    """Per-source near-dup dedup impact: how many of the source's docs
    sit in multi-doc components, how many survive keep-min-id, and how
    many lose their canonical to ANOTHER source — the directional
    "who copies whom" accounting that q169's pair-grain leakage report
    doesn't aggregate: under min-id survivorship a mirror source whose
    ids sort later loses ALL its duplicated mass to the original, and
    a mixture plan (q234/q84) weighting post-dedup tokens needs exactly
    this per-source shrinkage.

    Rides the session-cached verified pairs + q56's components; the
    report is three joins on the two-column label frame and one
    groupBy(source) — nothing document-sized shuffles beyond the
    labels. Rates are exact integer permille.
    """
    labels = dedup_components(
        verified_pairs_cached(documents),
        documents.select(F.col("doc_id").alias("node")),
        id_a="doc_a",
        id_b="doc_b",
    )
    src = documents.select("doc_id", "source")
    lab = labels.join(src, labels.node == src.doc_id).select(
        "node", "component", "source"
    )
    comp_sizes = lab.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    canon_src = (
        lab.filter(F.col("node") == F.col("component"))
        .select("component", F.col("source").alias("canon_source"))
    )
    j = lab.join(comp_sizes, "component").join(canon_src, "component")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("csize") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_in_multi"),
            F.sum(F.when(F.col("node") == F.col("component"), 1).otherwise(0))
            .cast("long")
            .alias("n_survivors"),
            F.sum(
                F.when(F.col("canon_source") != F.col("source"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_foreign_canonical"),
        )
        .select(
            "source",
            "n_docs",
            "n_in_multi",
            "n_survivors",
            "n_foreign_canonical",
            F.expr("(n_docs - n_survivors) * 1000 div n_docs")
            .cast("long")
            .alias("shed_permille"),
        )
    )


def dup_token_inflation(documents: DataFrame) -> DataFrame:
    """Per-source TOKEN-mass accounting of exact duplication: how much
    of each source's token volume is duplicate mass (its docs whose
    normalized content hash already has a smaller-id canonical anywhere
    in the corpus). q266 counts DOCUMENTS through the near-dup
    components; this weighs exact copies by the tokens a training run
    would actually re-consume — the number a token-budgeted mixture
    plan (q202/q234) must subtract, since feeding N copies of a 10k-
    token document costs N·10k of budget for one document's signal.

    One fingerprint+token-count scan, one groupBy(fp) for the global
    min-id canonical, one broadcast-size join back, one groupBy(source).
    All counts exact longs; the share is exact integer permille.
    """
    base = documents.select(
        "doc_id",
        "source",
        TXT.token_count(F.col("text")).cast("long").alias("n_toks"),
        TXT.fingerprint(F.col("text")).alias("fp"),
    )
    canon = base.groupBy("fp").agg(F.min("doc_id").alias("canon_id"))
    j = base.join(canon, "fp")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("doc_id") == F.col("canon_id"), 0).otherwise(1))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("doc_id") == F.col("canon_id"), F.col("n_toks")).otherwise(0))
            .cast("long")
            .alias("canonical_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "total_tokens",
            "canonical_tokens",
            (F.col("total_tokens") - F.col("canonical_tokens")).alias("dup_tokens"),
            F.when(
                F.col("total_tokens") > 0,
                F.expr("(total_tokens - canonical_tokens) * 1000 div total_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_token_permille"),
        )
    )


DUP_TRANSITIVITY_THRESHOLD = 0.8


def dup_transitivity(
    documents: DataFrame, threshold: float = DUP_TRANSITIVITY_THRESHOLD
) -> DataFrame:
    """Transitivity audit of the verified near-dup relation: of all
    WEDGES (x-b, b-z both verified pairs at >= `threshold`), what
    fraction close into a direct x-z pair at the same threshold. This
    is the number that justifies (or indicts) treating near-dup
    components as equivalence classes: min-id survivorship (q56) keeps
    ONE representative per connected component, which silently assumes
    near-duplication is transitive — a low closure rate means
    components are CHAINS of pairwise-similar-but-globally-different
    documents and a survivor policy is throwing away real content.

    Rides the session-cached threshold-0 pair table; wedges are built
    by one self-join of the strong edge list on the shared endpoint
    (pair-bounded — components are small by construction), and closure
    is a semi-join back onto the same edges. Caveat, stated rather
    than hidden: an x-z pair that never collided in ANY LSH band is
    counted as not-closed even if its true Jaccard clears the
    threshold; at 0.8 with the default band geometry that miss
    probability is the q203-audited tail.
    """
    strong = verified_pairs_cached(documents, threshold=threshold).select(
        "doc_a", "doc_b"
    )
    und = strong.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
    ).unionByName(strong.select(F.col("doc_b").alias("x"), F.col("doc_a").alias("y")))
    wedges = (
        und.alias("p")
        .join(und.alias("q"), F.col("p.y") == F.col("q.x"))
        .filter(F.col("p.x") < F.col("q.y"))
        .select(F.col("p.x").alias("doc_a"), F.col("q.y").alias("doc_b"))
        .distinct()
    )
    closed = wedges.join(strong, ["doc_a", "doc_b"], "left_semi")
    return (
        wedges.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
        .crossJoin(closed.agg(F.count(F.lit(1)).cast("long").alias("n_closed")))
        .select(
            "n_wedges",
            "n_closed",
            F.when(
                F.col("n_wedges") > 0,
                F.expr("n_closed * 1000 div n_wedges"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("closure_permille"),
        )
    )


SIMHASH_AGREE_BANDS = 4  # 4 bands x 8 bits: candidate iff any band equal
SIMHASH_AGREE_MAX_HAMMING = 3


def dedup_method_agreement(
    documents: DataFrame,
    jaccard_threshold: float = 0.8,
    max_hamming: int = SIMHASH_AGREE_MAX_HAMMING,
    n_bands: int = SIMHASH_AGREE_BANDS,
) -> DataFrame:
    """Cross-method dedup calibration: how well do SimHash Hamming
    cutoffs agree with the verified-Jaccard truth? For each cutoff
    h ∈ [0, max_hamming], precision/recall (permille) of "SimHash pair
    with Hamming(a,b) ≤ h" against "verified Jaccard ≥ threshold" —
    the audit a curator runs before swapping the cheap 8-bytes-per-doc
    SimHash gate in for the full MinHash+verify chain on a new corpus
    (Manku et al. 2007 pick their k this way).

    Both pair sets are band-bounded: SimHash candidates come from a
    4×8-bit band self-join (the standard Hamming-LSH trick — any pair
    within Hamming 3 of a 32-bit hash shares at least one of 4 bands,
    so recall at h ≤ 3 is exact); the truth side rides the session's
    cached verified-pair table. Output is max_hamming+1 rows.

    The pigeonhole guarantee only covers Hamming distances up to
    n_bands - 1 — a larger ``max_hamming`` would silently undercount
    the very calibration numbers this audit exists to make
    trustworthy, so it raises instead.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"dedup_method_agreement: max_hamming={max_hamming} exceeds the "
            f"band self-join's exact-recall bound n_bands-1={n_bands - 1}; "
            f"pass n_bands >= max_hamming + 1 (must divide SIMHASH_BITS="
            f"{SIMHASH_BITS}) so every pair within the cutoff shares a band"
        )
    width = SIMHASH_BITS // n_bands
    s = simhash(documents).localCheckpoint(eager=False)  # both join sides
    bands = s.select(
        "doc_id",
        *[
            (
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
            ).alias(f"b{b}")
            for b in range(n_bands)
        ],
    )
    cands = None
    for b in range(n_bands):
        left = bands.select(F.col("doc_id").alias("doc_a"), F.col(f"b{b}").alias("bv"))
        right = bands.select(F.col("doc_id").alias("doc_b"), F.col(f"b{b}").alias("bv"))
        one = (
            left.join(right, "bv")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        cands = one if cands is None else cands.unionByName(one)
    pred = (
        cands.distinct()
        .join(s.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa")), "doc_a")
        .join(s.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    truth = verified_pairs_cached(documents, threshold=jaccard_threshold).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    joined = pred.join(truth, ["doc_a", "doc_b"], "left").localCheckpoint(
        eager=False
    )
    n_truth = truth.count()
    cuts = documents.sparkSession.range(0, max_hamming + 1).select(
        F.col("id").cast("long").alias("hamming_cutoff")
    )
    agg = (
        cuts.crossJoin(joined)
        .filter(F.col("hamming") <= F.col("hamming_cutoff"))
        .groupBy("hamming_cutoff")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pred"),
            F.sum(F.coalesce(F.col("is_true"), F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    return (
        cuts.join(agg, "hamming_cutoff", "left")
        .select(
            "hamming_cutoff",
            F.coalesce(F.col("n_pred"), F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.lit(int(n_truth)).cast("long").alias("n_truth"),
        )
        .withColumn(
            "precision_permille",
            F.when(F.col("n_pred") > 0, F.expr("n_hit * 1000 div n_pred"))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn(
            "recall_permille",
            F.when(F.lit(int(n_truth)) > 0, F.expr("n_hit * 1000 div n_truth"))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .orderBy("hamming_cutoff")
    )


def component_source_mix(
    documents: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Provenance mix of near-duplicate clusters: for every verified
    near-dup component of ≥ 2 documents, is it WITHIN one source
    (scraper re-crawl, mirrored dump — dedup freely) or ACROSS sources
    (genuine syndication — dropping changes the mixture weights)? The
    distinction decides whether dedup is mixture-neutral; per
    component-size bucket the output counts mono- vs multi-source
    clusters. Rides the session pair cache + the bounded component
    labeler; everything after the pair table is component-grain.
    """
    pairs = verified_pairs_cached(documents, threshold=threshold)
    labels = dedup_components(
        pairs,
        documents.select(F.col("doc_id").alias("node")),
        id_a="doc_a",
        id_b="doc_b",
    )
    per_comp = (
        labels.join(
            documents.select(F.col("doc_id").alias("node"), "source"), "node"
        )
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("component_size"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .filter(F.col("component_size") >= 2)
    )
    return (
        per_comp.groupBy("component_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum(F.when(F.col("n_sources") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_multi_source"),
        )
        .withColumn(
            "multi_permille",
            F.expr("n_multi_source * 1000 div n_components").cast("long"),
        )
        .orderBy("component_size")
    )


def source_containment(documents: DataFrame) -> DataFrame:
    """Directional shingle-vocabulary containment between sources:
    for every ordered pair (A, B), the fraction of A's distinct
    character 4-shingles that also appear anywhere in B. The
    asymmetric complement to q169's pair-level leakage matrix: q169
    counts verified near-dup DOCUMENT pairs, this measures VOCABULARY
    absorption — a small feed fully swallowed by a large aggregator
    shows containment(A→B) ≈ 1 with containment(B→A) tiny, a signal
    no symmetric statistic exposes (the subset-copy case Jaccard
    dilutes toward 0).

    Exactness: pure integer set cardinalities and one final division
    rounded to 6 dp. Pairs sharing nothing report 0 explicitly (full
    |sources|·(|sources|−1) grid).

    Scale: distinct (source, shingle) is one shuffle with map-side
    partial dedup; the self-join keys on SHINGLE with per-key fanout
    ≤ |sources|² (constant), so the pair stage is linear in distinct
    shingles — never a doc×doc blowup; sizes and the zero-fill grid
    are |sources|-bounded broadcasts.
    """
    from githubrepostorag_spark.session import scale_out

    ss = (
        scale_out(documents.select("doc_id", "source", "text"), "doc_id")
        .select(
            "source",
            F.explode(TXT.char_shingles(F.col("text"), SHINGLE_K)).alias(
                "shingle"
            ),
        )
        .distinct()
    )
    sizes = ss.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    shared = (
        ss.select(F.col("source").alias("source_a"), "shingle")
        .join(
            ss.select(F.col("source").alias("source_b"), "shingle"),
            "shingle",
        )
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    grid = (
        sizes.select(F.col("source").alias("source_a"), "n_sh")
        .crossJoin(
            F.broadcast(sizes.select(F.col("source").alias("source_b")))
        )
        .filter(F.col("source_a") != F.col("source_b"))
    )
    return (
        grid.join(shared, ["source_a", "source_b"], "left")
        .fillna(0, subset=["n_shared"])
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.col("n_sh").alias("n_shingles_a"),
            F.round(
                F.col("n_shared").cast("double") / F.col("n_sh").cast("double"),
                6,
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


DUP_NGRAM_N = 8  # Lee et al. 2021 use 50-token spans; 8 word-grams is
# the repo's scale-matched proxy over the short synthetic docs


def dup_ngram_share(documents: DataFrame, n: int = DUP_NGRAM_N) -> DataFrame:
    """Per-source duplicated-n-gram mass (q320): for each document,
    the share of its DISTINCT word n-grams that also appear in at
    least one other document — the memorization-risk score from the
    dedup literature (Lee et al. 2021: near-dup training spans are
    what models regurgitate verbatim; the doc-grain complement to
    q309's source-level containment and q19's whole-doc hashes, which
    both miss partial template reuse inside otherwise-unique docs).

    Per source: total docs, scored docs (≥ 1 n-gram), short docs
    (< n tokens — unscored), total/duplicated gram counts, the
    corpus-level duplicated permille (integer-exact), the mean per-doc
    duplicated permille, and how many docs are majority-duplicated
    (> 500‰) — the rows a span-level dedup pass would rewrite.

    Exactness: grams are `functions.text.word_ngrams` (whitespace
    tokens, space-joined, duplicates dropped per doc), per-gram doc
    counts and every permille are integer arithmetic; the only double
    is the final mean, one division rounded 6dp.

    Scale: ONE corpus-sized shuffle keyed on the gram string (a
    count-over-gram window — high-cardinality key, no gram-side
    join), then doc- and source-grain rollups. At 100 TB the gram key
    would shuffle as a 128-bit hash instead of the string (pure
    transport-size optimization; kept as the string here so the
    DuckDB oracle shares the exact key domain).
    """
    # scale_out: the gram build + explode is the dominant per-row cost
    # and the corpus arrives as one scan split (r12 optimization —
    # guide §2.5 input skew; same fix as the CDC/novelty chains)
    grams = scale_out(documents.select("doc_id", "source", "text"), "doc_id").select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(TXT.word_ngrams(F.col("text"), n))
        ).alias("gram"),
    )
    wg = Window.partitionBy("gram")
    per_doc = (
        grams.withColumn("nd", F.count(F.lit(1)).over(wg))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
        )
        .withColumn("permille", F.expr("n_dup * 1000 div n_grams"))
    )
    totals = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum("n_grams").cast("long").alias("total_grams"),
        F.sum("n_dup").cast("long").alias("dup_grams"),
        F.sum("permille").cast("long").alias("_sp"),
        F.sum(F.when(F.col("permille") > 500, 1).otherwise(0))
        .cast("long")
        .alias("n_majority_dup"),
    )
    return (
        totals.join(agg, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_scored"), F.lit(0))
            .cast("long")
            .alias("n_scored"),
            (F.col("n_docs") - F.coalesce(F.col("n_scored"), F.lit(0)))
            .cast("long")
            .alias("n_short"),
            F.coalesce(F.col("total_grams"), F.lit(0))
            .cast("long")
            .alias("total_grams"),
            F.coalesce(F.col("dup_grams"), F.lit(0))
            .cast("long")
            .alias("dup_grams"),
            F.when(
                F.col("total_grams") > 0,
                F.expr("dup_grams * 1000 div total_grams"),
            )
            .cast("long")
            .alias("corpus_permille"),
            F.when(
                F.col("n_scored") > 0,
                F.round(
                    F.col("_sp").cast("double")
                    / F.col("n_scored").cast("double"),
                    6,
                ),
            ).alias("mean_doc_permille"),
            F.coalesce(F.col("n_majority_dup"), F.lit(0))
            .cast("long")
            .alias("n_majority_dup"),
        )
        .orderBy("source")
    )


def transitivity_audit(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Chaining-error audit of components-based dedup (q324): for each
    component SIZE, how many doc pairs the connected-components merge
    implies (s·(s−1)/2 per component) versus how many were actually
    VERIFIED as near-duplicates (the edge list), and the gap permille.
    Components treat near-duplication as transitive; it is not — A≈B
    and B≈C do not make A≈C — and the gap is exactly the mass of
    merges made on chained evidence alone (the false-merge exposure
    Lee et al. 2021 §4 accept as the price of clustering). A corpus
    whose big components are near-cliques (gap → 0) dedups safely;
    gap → 1000 in the large sizes means one promiscuous hub document
    is stitching unrelated docs into a mega-cluster and the canonical
    picker is deleting non-duplicates.

    Output per component size: n_components, implied_pairs,
    verified_pairs, extra_pairs, chain_gap_permille (integer-exact;
    NULL for singletons, which imply no pairs).

    Composition, no new kernel: `dedup_components`' label frame, one
    size rollup, one edge→component join (every verified edge lives
    inside one component by construction), one |sizes|-bounded final
    group. The only corpus-scale work is the label propagation q55
    already pays.
    """
    labels = dedup_components(edges, nodes)
    comp = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    ec = (
        edges.join(
            labels.withColumnRenamed("node", "id_a"), "id_a"
        )
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("e"))
    )
    per = comp.join(ec, "component", "left").select(
        "s", F.coalesce(F.col("e"), F.lit(0)).cast("long").alias("e")
    )
    agg = per.groupBy(F.col("s").alias("component_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum(F.expr("s * (s - 1) div 2")).cast("long").alias("implied_pairs"),
        F.sum("e").cast("long").alias("verified_pairs"),
    )
    return agg.select(
        "component_size",
        "n_components",
        "implied_pairs",
        "verified_pairs",
        (F.col("implied_pairs") - F.col("verified_pairs"))
        .cast("long")
        .alias("extra_pairs"),
        F.when(
            F.col("implied_pairs") > 0,
            F.expr(
                "(implied_pairs - verified_pairs) * 1000 div implied_pairs"
            ),
        )
        .cast("long")
        .alias("chain_gap_permille"),
    ).orderBy("component_size")
