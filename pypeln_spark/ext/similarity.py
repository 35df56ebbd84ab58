"""Similarity search over embedding columns (array<float>).

- **cosine brute-force top-k**: the exact baseline. The dot product is the
  IEEE double left-fold (dot_ieee) — index-ordered, so bit-identical
  cross-engine without decimal; norms/sqrt/division are likewise pure IEEE
  double ops.
- **LSH-bucketed ANN**: the scale path. Deterministic random-hyperplane
  signatures (plane components derived from md5, ext/hashing.py style) hash
  each vector into a bucket; top-k runs within buckets only. At 100 TB the
  bucket join replaces the all-pairs cross join; recall is tunable by
  n_planes / multi-probe.
- **embedding near-dup pairs**: all pairs with cosine ≥ threshold — exact
  (cross-join a<b) for the oracle-checked form; the LSH variant bounds it.

Float discipline: embeddings are float32 on disk; both engines MUST promote
to double before multiplying (float32 multiply then promote gives different
bits). All Spark-side math casts elements to double first.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import (
    IngestGate,
    pool_persist,
    retire_pipeline_caches,
    spread,
)
from .hashing import P31

# decimal(30,12) — NOT (38,12): Spark's decimal addition widens precision by
# one ((p,s)+(p,s) → (p+1,s) capped at 38); at p=38 the cap instead drops the
# scale to 11, silently rounding every fold step. p=30 leaves headroom so the
# scale survives, and the per-step cast back to (30,12) is width-only (exact).
DOT_PREC, DOT_SCALE = 30, 12


# ---------------------------------------------------------------------------
# Train-once model-artifact store (VERDICT r3 "Next round" #3)
# ---------------------------------------------------------------------------

_MODEL_STORE: tp.Dict[tuple, tuple] = {}


def trained_artifact(spark, key: tuple, build: tp.Callable[[], DataFrame]) -> DataFrame:
    """Session-process train-once store for small model artifacts (k-means
    centroids, PQ codebooks). The production ANN shape trains the quantizer
    ONCE and ships it as an artifact (FAISS's train/add split); without
    this, every registry/bench invocation of an IVF/PQ query re-ran
    quantizer training from scratch. ``build()`` runs at most once per
    ``key``; the artifact (n_cells or m·k rows — tiny by construction) is
    collected and replayed as a local DataFrame, so downstream plans
    broadcast a LocalTableScan instead of re-executing the training
    subtree. Values are the exact collected doubles, so oracle replays stay
    bit-identical. ``key`` must capture everything that affects the
    artifact: input table identity plus every training parameter."""
    _ARTIFACT_TOUCH.add(key)
    hit = _MODEL_STORE.get(key)
    if hit is None:
        df = build()
        hit = (df.collect(), df.schema)
        _MODEL_STORE[key] = hit
    rows, schema = hit
    return spark.createDataFrame(rows, schema)


_INDEX_CACHE: tp.Dict[tuple, DataFrame] = {}

# Measurement-side touch log (VERDICT r13 #7): every trained_artifact /
# cached_index access — hit or build — records its key here, so the bench
# can tell which rows' reported mins depend on session-cached artifacts
# and append one artifact-cold sample for exactly those rows. Never read
# by any query path.
_ARTIFACT_TOUCH: tp.Set[tuple] = set()


def artifact_touches() -> tp.Set[tuple]:
    """Copy of the artifact-access log (see _ARTIFACT_TOUCH)."""
    return set(_ARTIFACT_TOUCH)


def reset_artifact_touches() -> None:
    _ARTIFACT_TOUCH.clear()


def _session_alive(df: DataFrame) -> bool:
    """True iff the session that built ``df`` can still run jobs. A
    persisted frame outlives neither its SparkContext nor its JVM-side
    session; after stop() the context's _jsc is cleared, and a frame from
    a dead session fails obscurely at action time."""
    try:
        sc = df.sparkSession._sc
        return sc._jsc is not None and not sc._jsc.sc().isStopped()
    except Exception:
        return False


def cached_index(key: tuple, build: tp.Callable[[], DataFrame]) -> DataFrame:
    """Session-scope persisted INDEX frames (PQ code tables, inverted
    lists) — the 'add' half of the train/add split, complementing
    trained_artifact's 'train' half. Unlike model artifacts these are
    CORPUS-sized, so they must stay distributed: the frame persists
    (memory+disk) instead of collecting, and is deliberately NOT enrolled
    in the invocation-scoped pipeline cache pool (retire_pipeline_caches)
    — an index is long-lived state reused across queries, the in-session
    stand-in for the index table a production deployment writes once and
    scans thereafter. Entries live until the session ends or drop_index().
    Unlike trained_artifact (which replays collected rows into whatever
    session asks), a cached frame is BOUND to the session that built it —
    if that session was stopped and a new one created in-process, the
    stale entry is discarded and the index rebuilt in the live session."""
    from pyspark import StorageLevel

    _ARTIFACT_TOUCH.add(key)
    df = _INDEX_CACHE.get(key)
    if df is not None and not _session_alive(df):
        _INDEX_CACHE.pop(key, None)
        df = None
    if df is None:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        _INDEX_CACHE[key] = df
    return df


def clear_session_artifacts() -> None:
    """Reset BOTH session-scope caches — the collected model artifacts
    (trained_artifact) and the persisted index frames (cached_index) — so
    the next invocation of any train-once query pays its full cold path.
    This is the measurement knob behind `tools/scale_sweep.py --cold`: the
    r7 sweep's e2e capstone rows timed an artifact-cache hit at both scale
    factors (flagged 1.0x, SCALING.md), which is honest production steady
    state but says nothing about how the TRAINING/indexing half scales."""
    _MODEL_STORE.clear()
    drop_index()


def drop_index(key: tuple | None = None) -> None:
    """Unpersist one cached index (or all with key=None)."""
    keys = [key] if key is not None else list(_INDEX_CACHE)
    for k in keys:
        df = _INDEX_CACHE.pop(k, None)
        if df is not None:
            try:
                df.unpersist(blocking=False)
            except Exception:  # session gone — harmless
                pass


def _vec_double(c):
    return F.transform(c, lambda x: x.cast("double"))


def dot_decimal(a, b):
    """Exact, order-insensitive dot product: per-position double multiply
    (IEEE-identical on both engines), each product cast to decimal, exact
    decimal sum, cast back to double. Kept as the fallback for reductions
    whose term ORDER is not fixed; for per-row folds over an array prefer
    dot_ieee (4x faster, same cross-engine bit-identity)."""
    dt = f"decimal({DOT_PREC},{DOT_SCALE})"
    prods = F.zip_with(a, b, lambda x, y: (x * y).cast(dt))
    zero = F.lit(0).cast(dt)
    return F.aggregate(prods, zero, lambda acc, x: (acc + x).cast(dt)).cast("double")


def dot_ieee(a, b):
    """Pure-double dot product, cross-engine bit-identical WITHOUT decimal:
    a left fold in index order — fl(fl(acc + x_i)) — using only IEEE-754
    ops (multiply, add), which both JVM codegen and DuckDB's C++ evaluator
    compute correctly rounded with no FMA contraction. Order is what makes
    float sums engine-dependent; an array fold has a FIXED order, so the
    decimal armor dot_decimal wears (built for order-nondeterministic
    groupBy reductions) buys nothing here and costs 4x (measured at sf0.1:
    32k 64-dim dots 1.48s decimal vs 0.38s double; bit-parity vs DuckDB's
    list_reduce double fold pinned in tests/test_ext.py)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a):
    return F.sqrt(dot_ieee(a, a))


def with_norms(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _vec_double(F.col(vec_col))
    return df.withColumn("_v", v).withColumn("_norm", norm(F.col("_v")))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k: queries × corpus cross join, cosine, window
    rank. The cross join broadcasts the (small) query side; corpus streams.
    Output: (query_id, neighbor_id, cos, rank)."""
    c = with_norms(spread(emb), vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_v").alias("cv"), F.col("_norm").alias("cn")
    )
    q = with_norms(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv"), F.col("_norm").alias("qn")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot_ieee(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def mmr_rerank(
    emb: DataFrame,
    queries: DataFrame,
    k_cand: int = 10,
    k_out: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Diversified top-k via greedy MAXIMAL MARGINAL RELEVANCE (Carbonell
    & Goldstein 1998) — the standard rerank a retrieval stack runs
    between ANN candidates and a RAG context window, where near-duplicate
    hits crowd out coverage: step 1 takes the most relevant candidate;
    each later step takes argmax over the remaining candidates of

        mmr_score = lam * cos(q, d) - (1 - lam) * max_{s in selected} cos(d, s)

    (ties broken by neighbor id). Everything is Catalyst: the candidate
    set is the exact top-k_cand (cosine_topk — swap in an ANN front for
    production; the rerank only reads (query_id, neighbor_id, cos)
    rows), the candidate-pairwise similarity table is one self-join of
    k_cand narrow rows per query (k_cand² tiny rows), and the k_out-step
    greedy loop runs as ONE higher-order-function projection over
    per-query collected candidate/pair arrays (r13 — it previously
    unrolled into a chain of anti-join → max-agg → window-argmax stages
    whose 3-reference steps copied the candidate front's logical plan
    ~3^k_out times; with an ANN front that was ~20 s of driver-side
    Catalyst analysis for 100 rows of data, re-measured to 2.5 s in the
    array form) — no driver loop over data, no UDF. Scale shape: every
    stage after the candidate front is bounded by |queries| × k_cand
    rows — the rerank costs nothing at corpus scale, whatever the
    corpus. IEEE-deterministic end to end (dot_ieee products,
    order-independent MAX, the fold-argmax replays the window's
    score-desc/id-asc order), so the whole greedy trajectory replays in
    DuckDB — the registry oracle hash-checks every selection step, not
    just the final set.

    ``candidates`` (r13): supply the candidate front directly as a
    (query_id, neighbor_id, cos) frame — the PRODUCTION composition, with
    any ANN retriever (IVF, LSH, PQ) feeding the rerank; ``k_cand`` then
    describes the supplied front's nominal width (validation only — the
    frame defines the actual front, and a query whose cell population
    yields fewer candidates simply ends its greedy trajectory early).
    Default None keeps the exact cosine_topk front.

    Output: (query_id, neighbor_id, cos, mmr_score, mmr_rank ≤ k_out)."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1]: {lam}")
    if k_out > k_cand:
        raise ValueError(f"k_out {k_out} exceeds the candidate pool k_cand {k_cand}")
    # LAZY persists throughout (no eager counts): every cached subtree
    # here is consumed only downstream of the caller's single terminal
    # action, so the cache fills on first use WITHIN that action and all
    # later branches hit it — eager counts would add ~7 sequential job
    # overheads to a |queries| x k_cand computation (measured: the
    # count-per-step form cost ~14s at sf0.1 where this shape reads ~5s)
    cand = pool_persist(
        (
            candidates
            if candidates is not None
            else cosine_topk(emb, queries, k=k_cand, id_col=id_col, vec_col=vec_col)
        ).select("query_id", "neighbor_id", "cos")
    )
    # the supplied-front case keeps the SAME lazy persist as the internal
    # front: an eager count was A/B'd against the IVF composition at sf0.1
    # (r13) and bought nothing — the greedy chain's first materialization
    # fills the cache inside the one terminal action either way, and the
    # extra job only adds overhead (consistent with the r12 lazy-persist
    # measurement on the greedy steps)
    nf = with_norms(spread(emb), vec_col).select(
        F.col(id_col).alias("nid"), F.col("_v").alias("v"), F.col("_norm").alias("nrm")
    )
    # INNER join: a supplied candidate whose id has no emb row is dropped
    # HERE, before the greedy arrays are built (ADVICE r13). The r12
    # unrolled chain had exactly this semantics (its div join was inner);
    # the first array form built cands_arr from `cand` instead, so an
    # emb-less candidate had no pair rows, its step>=2 penalty
    # array_max(empty) was NULL, and the NULL-scored struct could win the
    # fold-argmax as the uncontested zero element (NULL comparisons keep
    # the accumulator). cv carries cos through so the candidate array
    # derives from the SURVIVING front.
    cv = pool_persist(
        cand.join(nf, F.col("neighbor_id") == F.col("nid")).select(
            "query_id", "neighbor_id", "cos", "v", "nrm"
        )
    )
    a = cv.select(
        "query_id", F.col("neighbor_id").alias("id_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = cv.select(
        "query_id", F.col("neighbor_id").alias("id_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    pair = (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "sim", dot_ieee(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .select("query_id", "id_a", "id_b", "sim")
    )
    # GREEDY CHAIN AS ONE EXPRESSION (r13 optimization round). The r12
    # form unrolled the k_out-step greedy loop into a chain of anti-join →
    # max-agg → window-argmax stages, each step referencing selected(s-1)
    # through THREE branches — so the LOGICAL plan tree copied the
    # candidate front ~3^k_out times. Runtime was cached (pool_persist),
    # but Catalyst still analyzes the full tree: with the ANN front's
    # literal-quantizer subtree that was ~20 s of pure driver planning at
    # sf0.1 (measured; the exact front ~5 s), for |queries|×k_cand ≤ 100
    # rows of actual data. Everything after the front is bounded by
    # |queries| × k_cand BY CONSTRUCTION, so the greedy trajectory now
    # computes per query in ONE higher-order-function projection over
    # collected candidate/pair arrays: identical IEEE arithmetic
    # (lam·cos − (1−lam)·max-sim, the exact float literals), identical
    # tie-break (score desc, then id asc), identical early-exhaustion
    # semantics — bit-identical output, linear plan, 3 narrow stages
    # instead of ~5·k_out shuffle stages. Corpus-scale shape is unchanged:
    # the per-query arrays are k_cand structs / k_cand² sims, constants
    # independent of corpus size.
    id_dt = dict(cand.dtypes)["neighbor_id"]
    cands_arr = cv.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("neighbor_id").alias("nid"), F.col("cos").alias("cos"))
            )
        ).alias("cands")
    )
    pairs_arr = pair.groupBy("query_id").agg(
        F.collect_list(F.struct("id_a", "id_b", "sim")).alias("pairs")
    )
    joined = cands_arr.join(pairs_arr, "query_id", "left").withColumn(
        "pairs",
        F.coalesce(
            F.col("pairs"),
            F.expr(f"CAST(array() AS array<struct<id_a:{id_dt},id_b:{id_dt},sim:double>>)"),
        ),
    )

    def _step(acc, _s):
        # one greedy step: remaining = cands minus selected-so-far; score
        # each remaining candidate (pure relevance on the first pick, the
        # MMR penalty after — max sim to the selected set, whose pair rows
        # are complete by construction); fold-argmax with the chain's
        # exact tie-break; exhausted queries keep their shorter trajectory
        rem = F.filter(
            F.col("cands"),
            lambda c: ~F.exists(acc, lambda x: x["nid"] == c["nid"]),
        )
        scored = F.transform(
            rem,
            lambda c: F.struct(
                c["nid"].alias("nid"),
                c["cos"].alias("cos"),
                F.when(F.size(acc) == 0, F.lit(float(lam)) * c["cos"])
                .otherwise(
                    F.lit(float(lam)) * c["cos"]
                    - F.lit(float(1.0 - lam))
                    * F.array_max(
                        F.transform(
                            F.filter(
                                F.col("pairs"),
                                lambda p: (p["id_a"] == c["nid"])
                                & F.exists(acc, lambda x: x["nid"] == p["id_b"]),
                            ),
                            lambda p: p["sim"],
                        )
                    )
                )
                .alias("score"),
            ),
        )
        best = F.aggregate(
            scored,
            F.element_at(scored, 1),
            lambda bacc, x: F.when(
                (x["score"] > bacc["score"])
                | ((x["score"] == bacc["score"]) & (x["nid"] < bacc["nid"])),
                x,
            ).otherwise(bacc),
        )
        return F.when(F.size(rem) == 0, acc).otherwise(
            F.concat(acc, F.array(best))
        )

    sel = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(k_out))),
        F.expr(f"CAST(array() AS array<struct<nid:{id_dt},cos:double,score:double>>)"),
        _step,
    )
    return (
        joined.withColumn("_sel", sel)
        .select("query_id", F.posexplode("_sel").alias("_p", "_s"))
        .select(
            "query_id",
            F.col("_s.nid").alias("neighbor_id"),
            F.col("_s.cos").alias("cos"),
            F.col("_s.score").alias("mmr_score"),
            (F.col("_p") + 1).cast("int").alias("mmr_rank"),
        )
    )


def hyperplane_component(plane: int, dim) -> F.Column:
    """Deterministic pseudo-random plane component in [-1, 1]:
    md5('plane_<p>_<d>') → h31 → ((h % 2001) - 1000)/1000. Reproducible in
    SQL, so the whole ANN pipeline has an oracle."""
    from .hashing import h31

    key = F.concat(F.lit(f"plane_{plane}_"), dim.cast("string"))
    return ((h31(key) % F.lit(2001)) - F.lit(1000)).cast("double") / F.lit(1000.0)


def plane_components(plane: int, dim: int) -> list[float]:
    """Driver-side precompute of one plane's components (py_h31 twin of
    hyperplane_component) — identical values, computed once instead of per
    row inside interpreted transforms."""
    from .hashing import py_h31

    return [((py_h31(f"plane_{plane}_{d}") % 2001) - 1000) / 1000.0 for d in range(dim)]


def lsh_bucket(
    df: DataFrame, vec_col: str = "embedding", n_planes: int = 8, dim: int | None = None
) -> DataFrame:
    """Random-hyperplane signature: bit p = [dot(plane_p, v) > 0]; bucket =
    the n_planes-bit integer. Plane dot products use the IEEE left fold —
    bit-identical cross-engine, so bucket assignment is engine-independent.

    Pass ``dim`` when the embedding dimension is fixed/known: plane
    components are then precomputed on the driver and inlined as literal
    arrays (the components depend only on (plane, dim-index), and the
    fallback recomputes their md5 derivation per ROW inside an interpreted
    transform — measured 2.5× slower at sf0.1).

    PREFIX-STABLE GROWTH: plane p's components depend only on (p, dim),
    so bucket_{n+k}(v) & (2^n - 1) == bucket_n(v) for every vector
    (tests/test_ext.py pins it). Growing n_planes therefore only SPLITS
    existing buckets — never re-shuffles pairs across unrelated buckets —
    which is what makes the ingest gates' documented scaling move
    ('re-bucket the index at a larger n_planes as it grows, one narrow
    pass') safe: pairs lost in the refinement are exactly the pairs the
    new planes separate, the same recall trade as having started wider."""
    v = _vec_double(F.col(vec_col))
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        if dim is not None:
            comps = F.array(*[F.lit(x) for x in plane_components(p, dim)])
        else:
            comps = F.transform(
                F.sequence(F.lit(0), F.size(v) - 1), lambda d: hyperplane_component(p, d)
            )
        d = dot_ieee(v, comps)
        bucket = bucket + F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0))
    return df.withColumn("bucket", bucket)


def ann_lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int | None = None,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket.
    One equi-join on bucket instead of a cross join — the 100 TB shape.

    ``probe_hamming=1`` enables multi-probe: each query also searches every
    bucket whose signature differs in one plane (n_planes+1 probes). A
    plane's sign flips exactly for the near-boundary vectors single-bucket
    LSH loses, so recall rises steeply while the probe fan-out — and with
    it candidate volume — stays a small constant factor; the corpus side
    is untouched (still one bucket per vector, the side that matters at
    scale). The classic multi-probe LSH trade."""
    c = lsh_bucket(with_norms(spread(emb), vec_col), "_v", n_planes, dim).select(
        F.col(id_col).alias("neighbor_id"), F.col("_v").alias("cv"),
        F.col("_norm").alias("cn"), "bucket",
    )
    q = lsh_bucket(with_norms(queries, vec_col), "_v", n_planes, dim).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"), "bucket",
    )
    if probe_hamming >= 1:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p)).alias(f"_p{p}")
                for p in range(n_planes)
            ],
        )
        q = q.select(
            "query_id", "qv", "qn", F.explode(probes).alias("bucket")
        )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot_ieee(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


_LIT_STORE: dict = {}  # memo_key -> the centroids' JSON text
_CELLS_TYPE = "array<struct<cid:bigint,cv:array<double>,cn:double>>"


def centroid_literals(
    centroids: DataFrame, id_col: str = "vec_id", memo_key: tuple | None = None
):
    """Collect a (tiny, materialized) centroid frame into one Column of
    (cid, cv, cn) structs — the inline quantizer ivf_assign(as_literals=...)
    scores against. One driver collect of n_cells rows; callers running
    several assignment passes over the same centroids build this ONCE and
    pass the Column to each.

    The Column is ``from_json`` over a string literal: the JSON text is
    built on the driver and the array type is parsed once, here. A plan
    that uses the Column carries it as an ordinary literal, which
    constant folding turns into one array literal, so no plan re-parses
    the centroids as SQL text (an ``F.expr`` string of the same values is
    parsed again each time a plan uses it — about 0.27 s per use for 32
    cells × 64 dims). Values are bit-identical to the frame: ``json``
    spells each double as its shortest round-trip decimal, Spark's JSON
    reader parses it correctly rounded, and NaN/±Infinity go through the
    reader's non-numeric spellings (-0.0 and subnormals included;
    test-pinned).

    ``memo_key`` (same discipline as trained_artifact's key — it must
    capture everything that affects the centroid VALUES): memoize the
    JSON text process-wide, so repeat calls skip the collect job too. The
    text is session-independent, so no session liveness bookkeeping
    applies."""
    js = _LIT_STORE.get(memo_key) if memo_key is not None else None
    if js is None:
        rows = centroids.select(
            F.col(id_col).alias("cid"), F.col("_v"), F.col("_norm")
        ).collect()
        js = json.dumps(
            [
                {"cid": int(r.cid), "cv": [float(x) for x in r._v],
                 "cn": float(r._norm)}
                for r in rows
            ]
        )
        if memo_key is not None:
            # bounded FIFO: a long-lived driver cycling through many
            # centroid artifacts must not keep their texts forever
            while len(_LIT_STORE) >= 64:
                _LIT_STORE.pop(next(iter(_LIT_STORE)))
            _LIT_STORE[memo_key] = js
    return F.from_json(F.lit(js), _CELLS_TYPE)


def ivf_assign(
    vecs: DataFrame,
    centroids: DataFrame,
    n_cells: int,
    keep: int = 1,
    id_col: str = "vec_id",
    with_rank: bool = False,
    as_literals=False,
) -> DataFrame:
    """Assign each vector to its ``keep`` nearest centroid cells by cosine
    (deterministic tiebreak: centroid id). ``vecs``/``centroids`` are
    with_norms frames. Returns (id, _v, _norm, cid), plus the probe rank
    ``crank`` (1..keep) with ``with_rank`` — keep>1 only — so a
    multi-nprobe eval can assign ONCE at the largest nprobe and carve each
    arm with a filter (ann_recall_eval_nprobe) instead of re-assigning per
    arm.

    Default path: the centroid frame is broadcast against the vectors, one
    narrow pass over the corpus. keep=1 (the corpus-assignment hot path)
    is an argmax aggregate — max over (ccos, -cid, payload) structs, the
    largest ccos and then the SMALLEST cid, partial-aggregated so the
    n_cells-wide cross join collapses map-side to one row per vector
    before any exchange. keep>1 (query probing, the small side) ranks the
    scored rows with a window.

    ``as_literals``: score against an inline centroid_literals() Column
    instead — one narrow projection per vector with no join, window,
    aggregate or exchange. Each vector ``transform``s the centroid array
    into (ccos, -cid, cid) structs; keep=1 takes ``array_max(...).cid``
    and keep>1 ``posexplode``s the first ``keep`` of the descending
    ``sort_array`` (crank = pos + 1). Struct order is the default path's
    order, so the cells, ties and ranks are identical (test-pinned). Only
    valid when the centroid frame is a materialized driver-side artifact
    (trained_artifact's collect-and-replay frames, the cells gate's
    centroids). Pass True to collect here, or a prebuilt
    centroid_literals() Column to share one collect across several
    assignment passes."""
    if with_rank and keep == 1:
        # neither keep=1 path builds crank — fail loudly instead of
        # silently returning a rank-less frame
        raise ValueError("with_rank=True requires keep > 1 (the argmax "
                         "keep=1 path carries no rank column)")
    if as_literals is not False and as_literals is not None:
        lits = (
            centroid_literals(centroids, id_col)
            if as_literals is True
            else as_literals
        )
        scored = F.transform(
            lits,
            lambda c: F.struct(
                (
                    dot_ieee(F.col("_v"), c["cv"]) / (F.col("_norm") * c["cn"])
                ).alias("ccos"),
                (-c["cid"]).alias("nc"),
                c["cid"].alias("cid"),
            ),
        )
        if keep == 1:
            return vecs.select(
                id_col, "_v", "_norm", F.array_max(scored)["cid"].alias("cid")
            )
        best = F.slice(F.sort_array(scored, asc=False), 1, keep)
        cols = [id_col, "_v", "_norm", F.col("_c.cid").alias("cid")]
        if with_rank:
            cols.append((F.col("_pos") + 1).alias("crank"))
        return vecs.select(
            id_col, "_v", "_norm", F.posexplode(best).alias("_pos", "_c")
        ).select(*cols)
    c = centroids.select(
        F.col(id_col).alias("cid"), F.col("_v").alias("cv"),
        F.col("_norm").alias("cn"),
    )
    scored = vecs.join(F.broadcast(c), F.lit(True)).withColumn(
        "ccos", dot_ieee(F.col("_v"), F.col("cv")) / (F.col("_norm") * F.col("cn"))
    )
    if keep == 1:
        best = F.max(
            F.struct(
                F.col("ccos").alias("c"),
                (-F.col("cid")).alias("nc"),
                F.col("_v").alias("v"),
                F.col("_norm").alias("n"),
                F.col("cid").alias("cid"),
            )
        ).alias("_b")
        return (
            scored.groupBy(id_col)
            .agg(best)
            .select(
                id_col,
                F.col("_b.v").alias("_v"),
                F.col("_b.n").alias("_norm"),
                F.col("_b.cid").alias("cid"),
            )
        )
    w = Window.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("cid").asc())
    ranked = scored.withColumn("crank", F.row_number().over(w)).filter(
        F.col("crank") <= keep
    )
    cols = [id_col, "_v", "_norm", "cid"] + (["crank"] if with_rank else [])
    return ranked.select(*cols)


def kmeans_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normed: DataFrame | None = None,
    train_mod: int | None = None,
    seeding: str = "hash",
) -> DataFrame:
    """Spherical k-means quantizer, engine-reproducible by construction:

    - **frozen-hash init**: seeds = the ``n_cells`` vectors whose
      h31(id) sorts smallest (tiebreak id) — deterministic, no RNG, and a
      hash-uniform draw over the corpus (first-K-by-id would bias toward
      whatever the id order encodes). cid = the seed's vec_id.
    - **assignment** by cosine (decimal-fold dot — bit-identical cross-
      engine), tiebreak cid asc.
    - **update**: per-dimension mean via exact decimal sums / double count
      — order-insensitive, so the centroid values don't depend on Spark's
      aggregation order and DuckDB can replay them exactly.
    - **fixed ``iters`` iterations**, no convergence test: the iteration
      count is part of the spec. Cells that lose all members drop (both
      engines agree).

    ``train_mod=m`` trains on the deterministic hash-sample
    ``h31(id) % m == 0`` instead of the full corpus — seeds AND the
    iteration passes both draw from the sample, so the spec stays fully
    replayable in SQL. This is the production IVF shape: a coarse
    quantizer needs a representative sample, not the corpus (FAISS trains
    on ~256 vectors/cell), and at 100 TB a full-corpus training pass per
    iteration is pure waste — the sample caps training cost at
    corpus/m per round while the final assignment still covers every
    vector. Measured at sf0.1: train_mod=4 cuts training 2.3s → 1.4s with
    recall unchanged on clustered data (the tests pin this).

    ``seeding="plusplus"`` (VERDICT r7 #8) replaces the one-shot hash draw
    with a DETERMINISTIC k-means++-style race, still RNG-free: seed 1 is
    the frozen-hash smallest; each later seed s is the training vector
    maximizing d2(x) · u_s(x), where d2 = 1 − max-cosine-to-chosen-seeds
    (the spherical D² analogue) and u_s(x) = (h31(f"{{id}}_s{{s}}") %
    1000003 + 1) / 1000004 — a per-step hash-uniform weight, so the draw
    is D²-biased like kmeans++ but reproducible bit-exactly in SQL (only
    IEEE multiplies/divides; no log, whose last-ulp rounding differs
    between libms). The n_cells−1 sequential argmax passes each run as a
    broadcast join over the TRAINING SAMPLE (never the corpus — this is
    why train_mod matters) with one collected row per step; FAISS pays
    the same sequential-seeding cost driver-side. A chosen seed re-racing
    is harmless in principle (its d2 is ~0·ulp, never the argmax unless
    everything ties) and the oracle replays the identical arithmetic, so
    both engines pick the same winners.

    Scale shape: each iteration is one broadcast-join assignment pass over
    the (sampled) corpus + a groupBy on (cid, dim) whose key cardinality is
    n_cells × dim — partial aggregation collapses the shuffle to a constant
    regardless of corpus size. Returns (id_col, _v, _norm) ready to feed
    ivf_assign. Pass ``normed`` (a with_norms frame over the same corpus,
    ideally persisted) to reuse an existing normalization — the iterations
    are unrolled into one lazy plan that scans it once per round."""
    from .hashing import h31

    n = normed if normed is not None else pool_persist(with_norms(spread(emb), vec_col))
    if train_mod is not None:
        n = n.filter(h31(F.col(id_col).cast("string")) % train_mod == 0)
    if seeding == "plusplus":
        cents = _plusplus_seeds(n, n_cells, id_col)
    elif seeding == "hash":
        cents = (
            n.withColumn("_h", h31(F.col(id_col).cast("string")))
            .orderBy(F.col("_h").asc(), F.col(id_col).asc())
            .limit(n_cells)
            .select(F.col(id_col).alias("cid"), F.col("_v").alias("cv"), F.col("_norm").alias("cn"))
        )
    else:
        raise ValueError(f"seeding must be 'hash' or 'plusplus': {seeding}")
    dt = f"decimal({DOT_PREC},{DOT_SCALE})"
    for _ in range(iters):
        scored = n.join(F.broadcast(cents), F.lit(True)).withColumn(
            "ccos", dot_ieee(F.col("_v"), F.col("cv")) / (F.col("_norm") * F.col("cn"))
        )
        # argmax aggregate, not a window: identical rank-1 pick (see
        # ivf_assign keep=1), but the n_cells-wide score rows collapse
        # map-side before the exchange instead of shuffling to a sort
        best = F.max(
            F.struct(
                F.col("ccos").alias("c"),
                (-F.col("cid")).alias("nc"),
                F.col("cid").alias("cid"),
                F.col("_v").alias("v"),
            )
        ).alias("_b")
        assigned = (
            scored.groupBy(id_col)
            .agg(best)
            .select(F.col("_b.cid").alias("cid"), F.col("_b.v").alias("_v"))
        )
        means = (
            assigned.select("cid", F.posexplode("_v").alias("_i", "_x"))
            .groupBy("cid", "_i")
            .agg(
                (
                    F.sum(F.col("_x").cast(dt)).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("_mv")
            )
        )
        cv = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_mv"))), lambda s: s["_mv"]
            ).alias("cv")
        )
        cents = cv.withColumn("cn", F.sqrt(dot_ieee(F.col("cv"), F.col("cv"))))
    return cents.select(
        F.col("cid").alias(id_col), F.col("cv").alias("_v"), F.col("cn").alias("_norm")
    )


PP_U_MOD = 1_000_003  # the kmeans++ race's hash-uniform modulus (prime)


def _plusplus_seeds(n: DataFrame, n_cells: int, id_col: str) -> DataFrame:
    """The sequential D²×hash-uniform seed race (kmeans_centroids
    seeding="plusplus"). ``n`` is the (already train_mod-sampled) normed
    frame. Each step broadcasts the seeds chosen so far, computes every
    candidate's d2·u_s, and collects the single winning row — n_cells−1
    tiny jobs over the sample, bounded by train_mod at scale."""
    from .hashing import h31

    spark = n.sparkSession
    first = (
        n.withColumn("_h", h31(F.col(id_col).cast("string")))
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .limit(1)
        .select(F.col(id_col).alias("cid"), F.col("_v").alias("cv"), F.col("_norm").alias("cn"))
    )
    rows, schema = first.collect(), first.schema
    for s in range(2, n_cells + 1):
        seeds = F.broadcast(spark.createDataFrame(rows, schema))
        u = (
            (
                h31(F.concat(F.col(id_col).cast("string"), F.lit(f"_s{s}")))
                % F.lit(PP_U_MOD)
                + F.lit(1)
            ).cast("double")
            / F.lit(float(PP_U_MOD + 1))
        )
        winner = (
            n.join(seeds, F.lit(True))
            .withColumn(
                "ccos", dot_ieee(F.col("_v"), F.col("cv")) / (F.col("_norm") * F.col("cn"))
            )
            .groupBy(id_col, "_v", "_norm")
            .agg(F.max("ccos").alias("_mc"))
            .withColumn("_w", (F.lit(1.0) - F.col("_mc")) * u)
            .orderBy(F.col("_w").desc(), F.col(id_col).asc())
            .limit(1)
            .select(F.col(id_col).alias("cid"), F.col("_v").alias("cv"), F.col("_norm").alias("cn"))
        )
        rows += winner.collect()
    return F.broadcast(spark.createDataFrame(rows, schema))


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 2,
    quantizer: str = "first",
    kmeans_iters: int = 2,
    train_mod: int | None = None,
    centroids: DataFrame | None = None,
    quantizer_literals: bool = False,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer (deterministic centroids = the first
    ``n_cells`` vectors by id) partitions the corpus into inverted lists;
    each query probes its ``nprobe`` nearest cells only.

    The 100 TB shape: corpus assignment is a broadcast-join narrow pass, the
    inverted lists are an equi-join key (cell id), and search cost per query
    drops from |corpus| to nprobe/n_cells of it. Recall is tunable via
    nprobe.

    ``quantizer``: "first" = frozen centroids (the first n_cells vectors by
    id — zero training cost, the simplest engine-reproducible choice);
    "kmeans" = trained spherical k-means (kmeans_centroids — better cell
    balance and recall, still engine-reproducible via frozen-hash init +
    decimal-exact updates, so it keeps a full SQL oracle too).

    Persist discipline is measured, per quantizer: with "first" the corpus
    is scanned twice and an eager materialization barrier costs MORE than
    recomputing the norm fold per consumer (1.0s → 1.6s at sf0.1), so it
    stays lazy; with "kmeans" the training iterations re-scan it
    kmeans_iters more times, and persisting wins (4.6s → 3.8s). The trained
    centroids persist in both cases — they feed corpus assignment AND query
    probing, and unpersisted each consumer replays training end to end
    (n_cells rows: the cheapest persist in the engine, ~1.7× end-to-end).

    ``quantizer_literals`` (requires ``centroids``): run BOTH
    assignment passes through ivf_assign's inline-literal path — the
    composed plan then has no BroadcastNestedLoopJoin anywhere (the probe
    join stays a broadcast HASH join on cid). True collects the centroids
    here (one job); a prebuilt centroid_literals() Column is used as-is
    (memoized callers skip the per-invocation collect).

    ``cells``: a precomputed corpus assignment (ivf_assign keep=1
    output: id, _v, _norm, cid — typically a cached_index frame) — the
    production train/add split taken one step further: the inverted
    LISTS are built once per (corpus, quantizer) and reused across
    query batches, so a serve pays only the probe-side assignment and
    the cid hash join. Bit-identical to recomputing (assignment is
    deterministic)."""
    if (
        quantizer_literals is not False
        and quantizer_literals is not None
        and centroids is None
    ):
        raise ValueError(
            "quantizer_literals requires a materialized centroids artifact"
        )
    if centroids is not None:
        # pre-trained quantizer artifact (trained_artifact): corpus is
        # scanned once for assignment and the centroids are already local —
        # nothing to persist
        corpus = with_norms(spread(emb), vec_col)
        cents = centroids
    elif quantizer == "kmeans":
        retire_pipeline_caches()
        # both persists stay LAZY (no eager count): the pipeline ends in ONE
        # action, and within an action Spark's ReusedExchange dedupes the
        # identical broadcast/cache subtrees — the eager barriers paid two
        # extra jobs for protection the engine already provides (measured
        # 3.6s → 2.8s at sf0.1 dropping them)
        corpus = pool_persist(with_norms(spread(emb), vec_col))
        cents = pool_persist(
            kmeans_centroids(
                emb, n_cells, kmeans_iters, id_col, vec_col,
                normed=corpus, train_mod=train_mod,
            )
        )
    else:
        corpus = with_norms(spread(emb), vec_col)
        cents = with_norms(emb.filter(F.col(id_col) < n_cells), vec_col)
    # one collect + one centroid Column, shared by both assignment passes;
    # True builds it here, a caller-provided Column (e.g. a memoized
    # centroid_literals result) is passed through as-is
    if quantizer_literals is True:
        lit_cents = centroid_literals(cents, id_col)
    elif quantizer_literals is not False and quantizer_literals is not None:
        lit_cents = quantizer_literals
    else:
        lit_cents = False
    if cells is None:
        cells = ivf_assign(
            corpus, cents, n_cells, keep=1, id_col=id_col,
            as_literals=lit_cents,
        )
    cells = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col("_v").alias("cv"),
        F.col("_norm").alias("cn"), "cid",
    )
    probes = ivf_assign(
        with_norms(queries, vec_col), cents, n_cells, keep=nprobe, id_col=id_col,
        as_literals=lit_cents,
    ).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"), "cid",
    )
    scored = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot_ieee(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _probe_masks(n_planes: int, probe_hamming: int) -> list:
    """All bucket-xor masks with popcount ≤ probe_hamming over n_planes
    bits, mask 0 (the own bucket) first. 1 + n + n(n-1)/2 masks at
    probe_hamming=2 — the probe fan-out constant."""
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << p for p in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << p) | (1 << q)
            for p in range(n_planes)
            for q in range(p + 1, n_planes)
        ]
    if probe_hamming >= 3:
        raise ValueError("probe_hamming > 2 unsupported (fan-out explodes)")
    return masks


def near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int | None = None,
    probe_hamming: int = 0,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """The BUCKETED production twin of near_dup_pairs: candidate pairs are
    limited to vectors sharing an LSH hyperplane bucket (self-equi-join on
    the n_planes-bit key — shuffle ∝ vectors, never all-pairs), then exact
    cosine verifies each candidate. Recall-lossy by design: a qualifying
    pair split by any plane is missed — the miss probability per plane is
    angle/π, so high-threshold (near-parallel) pairs survive with high
    probability and fewer planes trade precision-cost for recall.

    ``probe_hamming`` ≥ 1 is the MULTIPROBE extension (VERDICT r7 #7,
    same trade as the ANN sibling ann_lsh_topk): side A of the self-join
    additionally probes every bucket whose signature differs in ≤
    probe_hamming plane bits (xor-mask explode — 22 probes at n=6, hd≤2),
    so a qualifying pair split by one or two near-boundary planes is
    recovered. Equivalent pair predicate: hamming(bucket_a, bucket_b) ≤
    probe_hamming — which is what the SQL oracle replays. Exactly one
    join row per recovered pair (the xor mask connecting two buckets is
    unique), so no distinct is needed; candidate volume grows by the
    per-bucket collision mass of the probed shells, the corpus side is
    untouched, and the join stays a bucket equi-join. Measured capture
    lift per cosine bucket: embedding_near_dup_recall_eval (both arms).

    The oracle replays the identical deterministic plane family, so
    bucket assignment AND the recall loss itself are value-checked.
    Output: (id_a < id_b, cos ≥ threshold). The bucketed frame persists
    (pool): both self-join sides read it, and the plane-dot fold is the
    expensive projection.

    ``bucketed`` (ADVICE r8): a caller running SEVERAL probe arms over
    the SAME corpus (embedding_near_dup_recall_eval) passes its own
    pooled lsh_bucket frame (columns id_col, _v, _norm, bucket) — the
    operator then neither re-buckets nor retires the pipeline pool, so
    the arms share one cached frame instead of each arm's entry evicting
    the previous arm's (which made a 3-arm eval compute every arm cold
    and the quadratic exact baseline 3×)."""
    if bucketed is not None:
        n = bucketed
    else:
        retire_pipeline_caches()
        n = pool_persist(
            lsh_bucket(with_norms(spread(emb), vec_col), "_v", n_planes, dim)
        )
    a = n.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("va"),
        F.col("_norm").alias("na"), "bucket",
    )
    if probe_hamming >= 1:
        probes = F.array(
            *[
                F.col("bucket").bitwiseXOR(F.lit(m)).cast("long")
                for m in _probe_masks(n_planes, probe_hamming)
            ]
        )
        a = a.select(
            "id_a", "va", "na", F.explode(probes).alias("bucket")
        )
    b = n.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("vb"),
        F.col("_norm").alias("nb"), "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos", dot_ieee(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_large: bool = False,
) -> DataFrame:
    """Exact embedding near-dup pairs (cos ≥ threshold, id_a < id_b) — the
    all-pairs quadratic baseline; refuses >10⁶ vectors unless
    ``allow_large`` (the LSH-bucketed path is the production shape)."""
    from .dedup import guard_quadratic

    guard_quadratic(emb, "near_dup_pairs", allow_large)
    n = with_norms(spread(emb), vec_col)
    a = n.select(F.col(id_col).alias("id_a"), F.col("_v").alias("va"), F.col("_norm").alias("na"))
    b = n.select(F.col(id_col).alias("id_b"), F.col("_v").alias("vb"), F.col("_norm").alias("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot_ieee(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_near_dup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int | None = None,
    centroids: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Semantic dedup, cluster-bucketed: train the spherical k-means
    quantizer (kmeans_centroids — engine-reproducible), assign every vector
    to its nearest cell, and emit near-dup pairs (cos ≥ threshold) WITHIN
    cells only. Output (id_a, id_b, cell_id, cos).

    The third member of the near-dup family: exact all-pairs
    (near_dup_pairs, the guarded quadratic oracle baseline), hyperplane-LSH
    buckets (near_dup_lsh — data-independent buckets), and this one —
    DATA-ADAPTIVE buckets that follow the corpus's actual cluster
    structure, the shape semantic-dedup pipelines (SemDeDup-style) run at
    scale. Recall loss = pairs straddling a cell boundary; like the LSH
    twin, the loss itself is oracle-verified because training, assignment
    and pairing all replay in SQL.

    Scale: training is iters × (broadcast-assign + constant-size update);
    the pair join is an equi-join on cell id — shuffle ∝ corpus, compute ∝
    Σ cell² instead of n² (balanced cells ⇒ n²/n_cells).

    Two measured plan decisions (same reasoning as the LSH verify stage,
    SCALING.md round-4): the assigned-cells frame PERSISTS — it feeds both
    self-join sides plus the candidate-verify joins, and unpersisted each
    consumer replays quantizer training end to end (9.8s → ~2s at sf0.1);
    and candidate pairs form as SKINNY (id, id) rows on the n_cells-keyed
    join, get hash-repartitioned across the cluster, and only THEN pick up
    their vectors by id — the cell join alone has ≤ n_cells distinct keys,
    so leaving the cosine compute on it caps parallelism at n_cells however
    big the cluster is.

    ``cells``: a precomputed corpus assignment (ivf_assign keep=1
    output: id, _v, _norm, cid — typically a cached_index frame, see
    ivf_topk's twin param): training and assignment are skipped entirely
    and the provided inverted lists feed the pair scan. Bit-identical to
    assigning here (assignment is deterministic)."""
    retire_pipeline_caches()
    if cells is None:
        if centroids is not None:
            # pre-trained artifact: corpus feeds assignment once, stays lazy
            corpus = with_norms(spread(emb), vec_col)
            cents = centroids
        else:
            # lazy persist — see ivf_topk's ReusedExchange note (0.3s at sf0.1)
            corpus = pool_persist(with_norms(spread(emb), vec_col))
            cents = kmeans_centroids(
                emb, n_cells, iters, id_col, vec_col, normed=corpus,
                train_mod=train_mod,
            )
        cells = pool_persist(
            ivf_assign(corpus, cents, n_cells, keep=1, id_col=id_col)
        )
    cells.count()  # eager: consumers racing one action would each recompute
    skinny = cells.select(id_col, "cid")
    pairs = (
        skinny.withColumnRenamed(id_col, "id_a")
        .join(
            skinny.withColumnRenamed(id_col, "id_b").withColumnRenamed("cid", "_cid_b"),
            F.col("cid") == F.col("_cid_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.col("cid").alias("cell_id"))
    )
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, F.col("id_a")
    )
    va = cells.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("va"), F.col("_norm").alias("na")
    )
    vb = cells.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("vb"), F.col("_norm").alias("nb")
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos", dot_ieee(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cell_id", "cos")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress vectors to m sub-codes, score by ADC
# ---------------------------------------------------------------------------


def pq_subvectors(
    df: DataFrame, m: int, d_sub: int, id_col: str = "vec_id", vec_col: str = "_v"
) -> DataFrame:
    """Explode each vector into its m contiguous subvectors: (id, j, sub).
    Subspace j covers dims [j*d_sub, (j+1)*d_sub)."""
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice(F.col(vec_col), j * d_sub + 1, d_sub).alias("sub"),
            )
            for j in range(m)
        ]
    )
    return df.select(id_col, F.explode(subs).alias("_s")).select(
        id_col, F.col("_s.j").alias("j"), F.col("_s.sub").alias("sub")
    )


def _pq_l2_key(sub, cv):
    """argmin_c ||x-c||² ≡ argmax_c (x·c − c·c/2) — drops the constant
    ||x||², leaving only IEEE-deterministic fixed-order folds."""
    return dot_ieee(sub, cv) - dot_ieee(cv, cv) / F.lit(2.0)


def pq_train_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int | None = 4,
) -> DataFrame:
    """Train all m sub-codebooks in ONE keyed pipeline → (j, code, cv).

    Engine-reproducible like kmeans_centroids: seeds per subspace = the k
    sample vectors with smallest (h31(id), id) — ONE window over j — then a
    single L2 Lloyd refinement: assign every sample subvector to its
    nearest seed (argmax of x·c − c·c/2, tiebreak code asc) and take the
    per-dimension DECIMAL mean (assignment-group order is nondeterministic,
    so this is exactly where the decimal armor still belongs). Codes are
    the seed's rank 1..k within its subspace; cells that attract no members
    drop on both engines. Fixed iteration count (1) is part of the spec.

    Scale shape: training touches corpus/train_mod × m subvector rows; the
    mean's groupBy key space is m × k × d_sub — constant — so partial
    aggregation collapses the shuffle regardless of corpus size. The whole
    codebook is m × k rows: broadcast forever after."""
    from .hashing import h31

    d_sub = None  # derived in SQL twin; Spark slices lazily per literal j
    n = emb.select(
        F.col(id_col), _vec_double(F.col(vec_col)).alias("_v")
    )
    if train_mod is not None:
        n = n.filter(h31(F.col(id_col).cast("string")) % train_mod == 0)
    dim = len(
        emb.select(vec_col).first()[0]
    )
    d_sub = dim // m
    subs = pq_subvectors(n, m, d_sub, id_col=id_col)
    w = Window.partitionBy("j").orderBy(
        h31(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    seeds = (
        subs.withColumn("code", F.row_number().over(w))
        .filter(F.col("code") <= k)
        .select("j", "code", F.col("sub").alias("cv"))
    )
    scored = subs.join(F.broadcast(seeds), "j").withColumn(
        "_s", _pq_l2_key(F.col("sub"), F.col("cv"))
    )
    best = F.max(
        F.struct(
            F.col("_s").alias("s"),
            (-F.col("code")).alias("nc"),
            F.col("code").alias("code"),
            F.col("sub").alias("sub"),
        )
    ).alias("_b")
    assigned = (
        scored.groupBy(id_col, "j")
        .agg(best)
        .select("j", F.col("_b.code").alias("code"), F.col("_b.sub").alias("sub"))
    )
    dt = f"decimal({DOT_PREC},{DOT_SCALE})"
    means = (
        assigned.select("j", "code", F.posexplode("sub").alias("_d", "_x"))
        .groupBy("j", "code", "_d")
        .agg(
            (
                F.sum(F.col("_x").cast(dt)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("_mv")
        )
    )
    return means.groupBy("j", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_d", "_mv"))), lambda s: s["_mv"]
        ).alias("cv")
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode the FULL corpus against the trained codebooks → one row per
    (id, j, code). At 100 TB this is the point of PQ: a 64-dim float vector
    (256 B) becomes m=8 small codes (8 B) — the codes table is what ADC
    scans, a 32× working-set reduction, with the float vectors left cold.
    One broadcast join + argmax aggregate; nothing wide shuffles."""
    dim = len(emb.select(vec_col).first()[0])
    d_sub = dim // m
    n = emb.select(F.col(id_col), _vec_double(F.col(vec_col)).alias("_v"))
    subs = pq_subvectors(n, m, d_sub, id_col=id_col)
    scored = subs.join(F.broadcast(codebooks), "j").withColumn(
        "_s", _pq_l2_key(F.col("sub"), F.col("cv"))
    )
    best = F.max(
        F.struct(
            F.col("_s").alias("s"),
            (-F.col("code")).alias("nc"),
            F.col("code").alias("code"),
        )
    ).alias("_b")
    return (
        scored.groupBy(id_col, "j")
        .agg(best)
        .select(id_col, "j", F.col("_b.code").alias("code"))
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int | None = 4,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC DISTANCE COMPUTATION: the query stays
    a float vector; every corpus vector is its m PQ codes. Score(q, x) =
    Σ_j  q_j · cv[j, code_j(x)]  — inner product against the RECONSTRUCTED
    corpus vector, the classic ADC inner-product estimator.

    Determinism: the per-(query, subspace, code) lookup-table entries are
    IEEE folds; the final m-term sum is folded IN SUBSPACE ORDER (sorted
    struct array → left fold), not via a float groupBy sum — so scores and
    rank boundaries replay bit-identically in SQL.

    ``rerank=r`` adds the production second stage: ADC produces a
    SHORTLIST of r candidates per query, which are re-scored EXACTLY
    (cosine against the true float vectors) before the final top-k — the
    two-stage retrieve-then-refine architecture. Exact vectors are touched
    only for |queries| × r rows; measured on testdata, m=16/k=16 ADC alone
    gives recall@5 ≈ 0.42 vs exact cosine, +rerank=50 lifts it to 0.92.

    Scale shape: LUT = |queries| × m × k rows (tiny — built from the
    broadcast codebook and broadcast back); the corpus-side join touches
    only the CODES table (8 B/vector, not 256 B), partial-aggregated to one
    row per (query, vec) before the exchange. This is the memory-bound ANN
    architecture FAISS runs at billion scale; recall vs exact cosine is
    pinned in tests."""
    cb = codebooks
    if cb is None:
        cb = pq_train_codebooks(
            emb, m=m, k=n_codes, id_col=id_col, vec_col=vec_col, train_mod=train_mod
        )
    cb = pool_persist(cb)
    if codes is None:
        # the 'add' pass — at scale this is the one-time index build
        # (cached_index in the harness); encoding must use the SAME cb
        codes = pq_encode(emb, cb, m=m, id_col=id_col, vec_col=vec_col)
    dim = len(emb.select(vec_col).first()[0])
    d_sub = dim // m
    q = queries.select(
        F.col(id_col).alias("query_id"), _vec_double(F.col(vec_col)).alias("_v")
    )
    qsubs = pq_subvectors(q, m, d_sub, id_col="query_id")
    lut = qsubs.join(F.broadcast(cb), "j").select(
        "query_id", "j", "code", dot_ieee(F.col("sub"), F.col("cv")).alias("part")
    )
    parts = codes.withColumnRenamed(id_col, "neighbor_id").join(
        F.broadcast(lut), ["j", "code"]
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    folded = (
        parts.groupBy("query_id", "neighbor_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "part"))),
                    lambda s: s["part"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    if rerank is None:
        return (
            folded.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank")
        )
    shortlist = (
        folded.withColumn("srank", F.row_number().over(w))
        .filter(F.col("srank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    cn = with_norms(spread(emb), vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_v").alias("cv"), F.col("_norm").alias("cn")
    )
    qn = with_norms(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv"), F.col("_norm").alias("qn")
    )
    exact = (
        shortlist.join(cn, "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .withColumn(
            "score", dot_ieee(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _ivf_residuals(
    emb: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    quantizer: str,
    kmeans_iters: int,
    train_mod: int | None,
):
    """Shared coarse-quantize + residual stage of IVF-PQ — ONE definition so
    ivf_pq_topk and the standalone ivf_pq_train artifact builder can never
    diverge on the residual spec (residuals are relative to the coarse
    centroids; a drift here is a silent recall/correctness break). Returns
    (normed corpus, centroids-as-vectors, centroids-as-cells, residuals)."""
    normed = pool_persist(with_norms(spread(emb), vec_col))
    # Coarse cells: same quantizer options as ivf_topk. With rerank, final
    # recall EQUALS cell recall (the exact stage recovers every true
    # neighbor the probed cells contain — measured: candidates held 17/50
    # true top-5 under hash-seeded cells and rerank returned exactly those
    # 17), so the quantizer choice is what recall tuning actually buys.
    if quantizer == "kmeans":
        # kmeans_centroids returns (id_col, _v, _norm) — the ivf_assign shape
        cents_as_vecs = pool_persist(
            kmeans_centroids(
                emb, n_cells=n_cells, iters=kmeans_iters, id_col=id_col,
                vec_col=vec_col, normed=normed, train_mod=train_mod,
            )
        )
    else:
        cents_as_vecs = pool_persist(
            with_norms(emb.filter(F.col(id_col) < n_cells), vec_col).select(
                id_col, "_v", "_norm"
            )
        )
    cents = cents_as_vecs.select(
        F.col(id_col).alias("cid"), F.col("_v").alias("cv"), F.col("_norm").alias("cn")
    )
    corpus = ivf_assign(normed, cents_as_vecs, n_cells, keep=1, id_col=id_col)
    # residuals against the assigned centroid
    res = (
        corpus.join(F.broadcast(cents), "cid")
        .select(
            id_col, "cid",
            F.zip_with(F.col("_v"), F.col("cv"), lambda x, y: x - y).alias("res"),
        )
    )
    return normed, cents_as_vecs, cents, pool_persist(res)


def ivf_pq_train(
    emb: DataFrame,
    n_cells: int = 16,
    m: int = 16,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int | None = 4,
    quantizer: str = "first",
    kmeans_iters: int = 2,
) -> DataFrame:
    """Standalone residual-codebook training for ivf_pq_topk — the build
    stage of the train-once artifact flow (trained_artifact). Runs the
    SAME _ivf_residuals spec the query runs, then trains the sub-codebooks;
    feed the result to ivf_pq_topk(codebooks=...) with identical quantizer
    parameters."""
    _, _, _, res = _ivf_residuals(
        emb, n_cells=n_cells, id_col=id_col, vec_col=vec_col,
        quantizer=quantizer, kmeans_iters=kmeans_iters, train_mod=train_mod,
    )
    return pq_train_codebooks(
        res, m=m, k=n_codes, id_col=id_col, vec_col="res", train_mod=train_mod
    )


def ivf_pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    n_cells: int = 16,
    m: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int | None = 4,
    quantizer: str = "first",
    kmeans_iters: int = 2,
) -> DataFrame:
    """Standalone 'add' pass for IVF-PQ: (id, j, code, cid) — residual PQ
    codes plus the owning coarse cell, i.e. the inverted-list index. Uses
    the SAME _ivf_residuals spec as ivf_pq_topk; pass the result to
    ivf_pq_topk(codes=...) together with the codebooks it was encoded
    against (cached_index keys both on identical parameters)."""
    _, _, _, res = _ivf_residuals(
        emb, n_cells=n_cells, id_col=id_col, vec_col=vec_col,
        quantizer=quantizer, kmeans_iters=kmeans_iters, train_mod=train_mod,
    )
    return pq_encode(res, codebooks, m=m, id_col=id_col, vec_col="res").join(
        res.select(id_col, "cid"), id_col
    )


def ivf_pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 2,
    m: int = 16,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int | None = 4,
    quantizer: str = "first",
    kmeans_iters: int = 2,
    rerank: int | None = 50,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the composed billion-scale ANN
    architecture (coarse quantizer + product-quantized residuals + ADC
    within probed cells + exact rerank):

    1. coarse cells from the spherical k-means quantizer (sample-trained,
       engine-reproducible — kmeans_centroids);
    2. every corpus vector stores its cell id + the PQ codes of its
       RESIDUAL r = v − centroid(cell). Residuals are what PQ should
       quantize: they live in a far smaller ball than raw vectors, so the
       same 16-codeword budget spends its resolution where the data is;
    3. a query probes its ``nprobe`` nearest cells; candidate scores are
       ADC: q·x ≈ q·centroid + Σ_j LUT[q, j, code_j] (the LUT term is
       q·r̂). The centroid dot is computed once per (query, cell); the
       Σ over subspaces folds in subspace order — every float step is an
       IEEE fixed-order fold, so scores replay bit-identically in SQL;
    4. the shortlist re-scores exactly against the float vectors.

    Scale shape: per-vector state after build = 1 cell id + m codes (the
    inverted lists ADC scans); float vectors are touched only by the
    |queries| × rerank exact stage. Candidate volume ∝ corpus × nprobe /
    n_cells. Every model artifact (centroids, codebooks, LUTs) broadcasts."""
    normed, cents_as_vecs, cents, res = _ivf_residuals(
        emb, n_cells=n_cells, id_col=id_col, vec_col=vec_col,
        quantizer=quantizer, kmeans_iters=kmeans_iters, train_mod=train_mod,
    )
    # codebooks: pre-trained residual-PQ artifact (trained_artifact) or
    # trained here; injected codebooks must come from the SAME quantizer
    # spec — residuals are relative to the coarse centroids
    cb = pool_persist(
        codebooks
        if codebooks is not None
        else pq_train_codebooks(
            res, m=m, k=n_codes, id_col=id_col, vec_col="res", train_mod=train_mod
        )
    )
    if codes is None:
        # the 'add' pass: residual codes + the owning cell id — the
        # inverted-list index a deployment builds once (cached_index)
        codes = pq_encode(res, cb, m=m, id_col=id_col, vec_col="res").join(
            res.select(id_col, "cid"), id_col
        )
    # query side: probe nprobe cells, build the residual LUT
    qn = with_norms(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_v"), F.col("_norm")
    )
    probes = ivf_assign(
        qn.withColumnRenamed("query_id", id_col),
        cents_as_vecs,
        n_cells, keep=nprobe, id_col=id_col,
    ).select(F.col(id_col).alias("query_id"), F.col("_v").alias("qv"), "cid")
    qcent = probes.join(F.broadcast(cents), "cid").select(
        "query_id", "cid", dot_ieee(F.col("qv"), F.col("cv")).alias("qc")
    )
    dim = len(emb.select(vec_col).first()[0])
    d_sub = dim // m
    qsubs = pq_subvectors(
        qn.select(F.col("query_id"), F.col("_v")), m, d_sub, id_col="query_id", vec_col="_v"
    )
    lut = qsubs.join(F.broadcast(cb), "j").select(
        "query_id", "j", "code", dot_ieee(F.col("sub"), F.col("cv")).alias("part")
    )
    cand = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(qcent), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "j", "code"])
    )
    folded = (
        cand.groupBy("query_id", "neighbor_id")
        .agg(
            (
                F.first("qc")
                + F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("j", "part"))),
                        lambda s: s["part"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    if rerank is None:
        return (
            folded.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank")
        )
    shortlist = (
        folded.withColumn("srank", F.row_number().over(w))
        .filter(F.col("srank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    cn2 = normed.select(
        F.col(id_col).alias("neighbor_id"), F.col("_v").alias("cv2"), F.col("_norm").alias("cn2")
    )
    qn2 = with_norms(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv2"), F.col("_norm").alias("qn2")
    )
    exact = (
        shortlist.join(cn2, "neighbor_id")
        .join(F.broadcast(qn2), "query_id")
        .withColumn(
            "score", dot_ieee(F.col("qv2"), F.col("cv2")) / (F.col("qn2") * F.col("cn2"))
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization for embedding STORAGE — the compression
    companion to PQ's search-side codes: per-vector symmetric scale
    s = max|x| / 127, code_i = clamp(floor(x_i/s + 0.5), -127, 127).
    4× smaller than float32 (8× vs double) with the scale as one double
    per vector; at 100 TB this is how the cold embedding store is laid
    out, with exact floats kept only for rerank tiers.

    Engine-reproducible by construction: scale, codes, and the
    dequantized values are pure IEEE double ops (floor(x+0.5) spelling —
    not round(), whose half-way rule differs across engines), and the
    reconstruction cosine folds with dot_ieee. All-zero vectors get
    scale 0 and all-zero codes. Output: (id, scale, codes array<int>,
    dequantized _v, _norm) — feed with_norms-style consumers directly."""
    v = _vec_double(F.col(vec_col))
    s = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    ) / F.lit(127.0)
    out = emb.select(F.col(id_col), v.alias("_x"), s.alias("scale"))
    code = lambda x: F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
        F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")),
        )
    )
    out = out.select(
        id_col,
        "scale",
        F.transform(F.col("_x"), code).alias("codes"),
        F.col("_x"),
    )
    deq = F.transform(F.col("codes"), lambda c: c.cast("double") * F.col("scale"))
    return out.select(
        id_col,
        "scale",
        "codes",
        F.col("_x").alias("_orig"),
        deq.alias("_v"),
    ).withColumn("_norm", F.sqrt(dot_ieee(F.col("_v"), F.col("_v"))))


def _broadcast_bytes_limit(spark) -> int:
    """The session's broadcast size bound: spark.sql.autoBroadcastJoinThreshold
    parsed with the byte suffixes Spark accepts (10485760, 10m, 10mb, …).
    -1/0 means broadcast is disabled; parse failures fall back to Spark's
    10 MiB default rather than guessing bigger."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    s = raw.strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 2**10), ("mb", 2**20), ("gb", 2**30), ("tb", 2**40),
        ("pb", 2**50), ("k", 2**10), ("m", 2**20), ("g", 2**30),
        ("t", 2**40), ("p", 2**50), ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(float(s)) * mult
    except ValueError:  # pragma: no cover - malformed conf
        return 10 * 2**20


def probe_side_join(
    lists: DataFrame,
    probes: DataFrame,
    on: str,
    probe_rows: int,
    probe_row_bytes: int,
) -> DataFrame:
    """The ANN serving gate's verify join, with the broadcast GUARDED by
    an estimated probe-side size (VERDICT r10 #4): the join's sides are
    wildly asymmetric (probes = |batch|·nprobe skinny rows; lists = the
    corpus inverted lists), so the right plan is almost always to
    broadcast the probes and leave the corpus in place — but "almost
    always" previously meant an unconditional F.broadcast whose failure
    mode at huge micro-batches is a driver OOM, not a slower plan.

    The caller passes the probe-row COUNT it already paid for (the
    micro-batch count) and a per-row PAYLOAD byte estimate (element
    widths only, e.g. DIM·8 for the query vectors); when the estimated
    materialized size exceeds the session's autoBroadcastJoinThreshold
    (or broadcast is disabled with -1) the join degrades to shuffle_hash
    with the probes as the build side — both relations shuffle on the
    cell id, which is the measured-2.3×-slower-but-bounded plan, never
    an OOM. Decisions are plan-invariant (same equi-join); test-pinned
    with both branches in tests/test_plans.py.

    The estimate is deliberately NOT rows × raw payload (ADVICE r11 —
    the same underestimation pattern behind the r7 shingle-side
    broadcast OOM): each UnsafeRow adds a fixed region (8-byte null
    bitset word + 8 bytes per field) and each array/string field an
    offset+header word pair in the variable region, all derived from the
    probes SCHEMA here; the padded total is then doubled because the
    broadcast materializes TWICE over — the driver's collected copy plus
    the executor hashed-relation build (page arrays + key index). Near
    the threshold the guard therefore errs toward the bounded plan."""
    n_fields = len(probes.schema.fields)
    n_var = sum(
        1 for f in probes.schema.fields
        if f.dataType.typeName() in ("array", "string", "binary", "map", "struct")
    )
    row_bytes = int(probe_row_bytes) + 8 + 8 * n_fields + 16 * n_var
    est = 2 * int(probe_rows) * row_bytes
    limit = _broadcast_bytes_limit(lists.sparkSession)
    if 0 < est <= limit:
        return lists.join(F.broadcast(probes), on)
    return lists.join(probes.hint("shuffle_hash"), on)


def serving_nprobe(n_cells: int, recall_target: float = 0.5) -> int:
    """Resolve the ANN top-k SERVING gate's nprobe from a recall target:
    the serving twin of CellEmbeddingIngestGate's nprobe="auto", which
    resolves from the dedup THRESHOLD; serving has no threshold, so its
    dial is the caller's recall@k target.

    The rule is the measured partition physics, not a free parameter:
    top-k IVF recall is governed by how much of the corpus the probed
    cells cover. On a structure-free corpus — the ADVERSARIAL case for
    IVF, and exactly what the synthetic embeddings table is — expected
    recall at size-independent cell probing is the scanned fraction
    nprobe/n_cells, and the measured curve sits ON or ABOVE that floor
    at every arm and scale (ann_recall_eval_nprobe, 16 cells: sf0.1
    recall 0.22/0.42/0.68 at scanned 0.125/0.25/0.50; sf0.01
    0.30/0.48/0.76 — k-means locality only ever helps). So

        nprobe = clamp(ceil(recall_target * n_cells), 2, n_cells)

    is worst-case-safe: it guarantees ~recall_target on the corpus with
    NO cluster structure and over-delivers on every corpus with some
    (real embedding corpora cluster, which is why production IVF runs
    much lower scan fractions for the same recall — a deployment that
    has measured ITS curve via ann_recall_eval_nprobe should set nprobe
    directly from it; this resolver is the no-measurement-yet default).
    The floor of 2 keeps the boundary-straddle guard: a query on a cell
    edge always probes its second-nearest cell."""
    import math

    if not 0.0 < recall_target <= 1.0:
        raise ValueError(f"recall_target must be in (0, 1]: {recall_target}")
    if n_cells < 1:
        raise ValueError(f"n_cells must be positive: {n_cells}")
    # n_cells bound applied LAST: at n_cells=1 the straddle floor of 2
    # would otherwise win and request more probe cells than exist
    return min(int(n_cells), max(2, math.ceil(recall_target * n_cells)))


def live_topk_serve(
    index,
    centroids: DataFrame,
    n_cells: int,
    batch_df: DataFrame,
    k: int,
    dim: int,
    recall_target: float = 0.12,
    id_col: str = "vec_id",
    cents_lits=None,
) -> tp.Optional[DataFrame]:
    """One query micro-batch served top-k against a LIVE cells index
    (an IncrementalLshIndex whose ``comb`` side stores (id, _v, _norm,
    cell)) — the serve body shared by the registry entry
    `streaming_ann_topk_serving_live` and perfbench's `ann_live_serve`.

    nprobe resolves from the CURRENT geometry via serving_nprobe (a
    retrain that grows n_cells keeps the scan fraction — and the recall
    target — instead of silently shrinking it). The queries are assigned
    to their nprobe nearest cells; with ``cents_lits`` (a caller-held
    centroid_literals() Column, e.g. the cells gate's centroid_lits(),
    built once per geometry) that assignment is one narrow projection
    against the folded centroid literal, with no join and no shuffle, and
    a request neither collects nor re-parses the centroids. ``None``
    broadcasts the centroid frame instead, for centroids that are not
    materialized artifacts. Values are identical either way.

    The probes join the ``comb`` view once through the guarded probe-side
    broadcast (probe_side_join; past the threshold it degrades to the
    bounded shuffle_hash build), and cos is computed in the same pass. A
    vector lives in exactly one cell, so each (query, neighbor) pair
    appears once. The view is base + the one lineage-cut level leaf every
    absorb merges into — a two-leaf read, never a re-derivation. Returns
    (query_id, neighbor_id, cos, rank ≤ k) or None on an empty batch; the
    caller labels the epoch and writes."""
    serve_np = serving_nprobe(n_cells, recall_target=recall_target)
    n_batch = batch_df.count()  # one tiny job; feeds the broadcast guard
    if n_batch == 0:
        return None
    retire_pipeline_caches()
    q = with_norms(spread(batch_df))
    probes = ivf_assign(
        q, centroids, n_cells, keep=serve_np, id_col=id_col,
        as_literals=cents_lits,
    ).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"), F.col("cid"),
    )
    scored = probe_side_join(
        index.comb.select(
            F.col(id_col).alias("neighbor_id"), F.col("_v").alias("cv"),
            F.col("_norm").alias("cn"), F.col("bucket").alias("cid"),
        ),
        probes, "cid",
        probe_rows=n_batch * serve_np,
        probe_row_bytes=2 * dim * 8 + 40,
    ).withColumn(
        "cos", dot_ieee(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


class EmbeddingIngestGate(IngestGate):
    """The streaming EMBEDDING ingest gate bucketed by random hyperplanes
    (queries/streaming.streaming_embedding_ingest): bucket the arriving
    batch, multiprobe the index's buckets at hamming ≤ ``probe_hamming``,
    verify by exact cosine, and absorb the novel vectors. The per-epoch
    body is IngestGate's; this class and CellEmbeddingIngestGate supply
    only the bucketing (``_prepare``, ``_probes``, ``_stored_rows``) and the
    growth step.

    The index must be an embedding index (built with ``comb=``, whose
    one side stores (id, _v, _norm, bucket) rows: the inverted-list
    layout); any other index is rejected at construction. Verify: probes
    carrying their own vectors join ``index.comb`` once through the
    guarded probe-side broadcast (probe_side_join) and score in the same
    pass, so under the guard the index never moves; the guard's row
    estimate pays the batch count. Every absorb is one (id, _v, _norm,
    bucket) frame (``index.absorb_combined``), and every re-bucket one
    ``index.rebuild_combined``.

    OCCUPANCY TRIGGER: hyperplane buckets have a fixed 2^n_planes
    cardinality, so candidate mass grows ∝ |new|·|index| / 2^n_planes as
    the index absorbs (~100× candidates at 10× data with n_planes pinned,
    SCALING.md). With ``occupancy_trigger`` > 0 the gate checks mean
    bucket occupancy (index.size() / 2^n_planes, tracked counts) after
    every absorb; on crossing, it re-buckets the whole index at

        n_planes' = max(n_planes + 1, ceil(log2(size / target_occupancy)))

    in one narrow pass over the stored vectors and widens its own batch
    bucketing to match. Plane families are prefix-stable (lsh_bucket), so
    the rebuilt table equals a from-scratch wider index
    (tests/test_streaming.py::test_embedding_index_rebucket_widens_mid_stream).
    ``target_occupancy`` < ``occupancy_trigger`` gives hysteresis. The
    default 0 disables the trigger. At sf1 the trigger cut the saturating
    gate 91 → 42 s with zero recall loss at threshold 0.9; at 0.35 it
    lost 27% of dup decisions (mid-cosine pairs are weakly bucket-stable),
    which is what CellEmbeddingIngestGate is for.

    ``absorb_dedup`` keys on the full vector and defaults to True: on a
    duplicate-free stream it costs below the noise floor (sf0.1 0.91x,
    sf1 1.006x), while an unguarded flood bloats the index and collapses
    centroids on retrain (SCALING.md "Hot cells"). Callers whose oracles
    replay every stored copy (the registry entries) pass False.

    ``collect_stats`` adds ``n_planes``, ``index_rows`` and ``n_cand`` (the
    epoch's candidate pairs, one extra job) to each epoch's record."""

    score = "cos"

    def __init__(
        self,
        index,
        sink_root: str,
        dim: int,
        n_planes: int,
        threshold: float,
        probe_hamming: int = 1,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        occupancy_trigger: float = 0.0,
        target_occupancy: float = 8.0,
        epoch_col=None,
        collect_stats: bool = False,
        absorb_dedup: bool = True,
    ):
        if occupancy_trigger and target_occupancy >= occupancy_trigger:
            raise ValueError(
                "target_occupancy must be < occupancy_trigger (hysteresis): "
                f"{target_occupancy} >= {occupancy_trigger}"
            )
        if index.comb is None:
            raise ValueError(
                "an embedding gate needs an embedding index: build the "
                "IncrementalLshIndex with comb=<(id, _v, _norm, bucket) frame>"
            )
        super().__init__(
            index, sink_root, id_col, epoch_col, absorb_dedup, collect_stats
        )
        self.dim = dim
        self.n_planes = n_planes
        self.threshold = threshold
        self.probe_hamming = probe_hamming
        self.vec_col = vec_col
        self.occupancy_trigger = occupancy_trigger
        self.target_occupancy = target_occupancy

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        return lsh_bucket(
            with_norms(spread(batch_df), self.vec_col),
            "_v", self.n_planes, self.dim,
        )

    def _probes(self, new: DataFrame) -> DataFrame:
        """(new_id, va, na, bucket) probe rows: the hd ≤ probe_hamming
        xor-mask shell. The connecting mask is unique, so each (new,
        corpus) pair appears once downstream."""
        masks = _probe_masks(self.n_planes, self.probe_hamming)
        probes = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m)).cast("long") for m in masks]
        )
        return new.select(
            F.col(self.id_col).alias("new_id"), F.col("_v").alias("va"),
            F.col("_norm").alias("na"), F.explode(probes).alias("bucket"),
        )

    def _n_probes(self) -> int:
        """Probe rows per arriving vector (the broadcast guard's
        multiplier)."""
        return len(_probe_masks(self.n_planes, self.probe_hamming))

    def _stored_rows(self, df: DataFrame) -> DataFrame:
        """The (id, _v, _norm, bucket) rows the index stores for ``df``."""
        return df.select(self.id_col, "_v", "_norm", "bucket")

    def _dedup_key(self):
        return F.col("_v")

    def _matches(self, new: DataFrame, n_new) -> DataFrame:
        idc = self.id_col
        scored = probe_side_join(
            self.index.comb.select(
                F.col(idc).alias("corpus_id"), F.col("_v").alias("vb"),
                F.col("_norm").alias("nb"), "bucket",
            ),
            self._probes(new), "bucket",
            probe_rows=(new.count() if n_new is None else n_new)
            * self._n_probes(),
            probe_row_bytes=self.dim * 8 + 40,
        )
        self._n_cand = scored.count() if self.collect_stats else None
        return scored.withColumn(
            "cos", dot_ieee(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        ).filter(F.col("cos") >= self.threshold)

    def _absorb(self, novel: DataFrame, dropped: DataFrame) -> None:
        self.index.absorb_combined(self._stored_rows(novel))

    def _capacity(self) -> int:
        return 2 ** self.n_planes

    def _grow(self, size: int) -> None:
        import math

        n_planes = max(
            self.n_planes + 1,
            math.ceil(math.log2(max(size / self.target_occupancy, 2.0))),
        )
        self.index.rebuild_combined(
            self._stored_rows(lsh_bucket(self.index.sh, "_v", n_planes, self.dim))
        )
        self.n_planes = n_planes

    def _after_absorb(self) -> bool:
        if not self.occupancy_trigger:
            return False
        size = self.index.size()
        if size / float(self._capacity()) < self.occupancy_trigger:
            return False
        self._grow(size)
        return True

    def _extra_stats(self) -> dict:
        return {
            "n_planes": self.n_planes,
            "index_rows": self.index.size(),
            "n_cand": self._n_cand,
        }


class CellEmbeddingIngestGate(EmbeddingIngestGate):
    """The embedding ingest gate bucketed by K-MEANS CELLS instead of
    hyperplanes: the gate for semantic-range thresholds. A wider
    hyperplane index loses mid-cosine pairs (E[plane flips] grows with
    every plane: 27% of dup decisions lost at threshold 0.35 at sf1),
    while a centroid cell's radius follows the data's cluster structure,
    and probing the ``nprobe`` nearest cells degrades gracefully (the IVF
    shape).

    Centroids train once on the initial corpus (kmeans_centroids:
    frozen-hash seeds, decimal-exact updates, so the whole gate replays
    in DuckDB). Arriving vectors probe their ``nprobe`` nearest cells
    (ivf_assign keep=nprobe) and the index stores each vector in its one
    nearest cell (keep=1), so each (new, corpus) pair connects through at
    most one cell. Every assignment is a narrow projection against
    ``centroid_lits()``. The index's one combined side stores each vector
    with its cell, so verify is one join against it. The maintenance move
    is ``retrain``: re-train the centroids on the grown index and
    re-assign it into a new combined side (``index.rebuild_combined``, the
    standard IVF rebuild); ``occupancy_trigger`` runs it when mean
    vectors per cell crosses the trigger, growing the cell count back to
    ``target_occupancy``.

    nprobe rule (sf1, threshold 0.35, 10k arrivals, 100 cells; decision
    counts are run-to-run identical): nprobe 2 / 3 / 4 catch 93.1% /
    97.3% / 99.1% of the fixed-hyperplane reference's dups at 40.3 /
    46.3 / 51.0 s against the reference's 215 s: the straddle gap halves
    per extra probe at ~13% wall each. At threshold ≥ 0.9 near-exact
    pairs share the one nearest cell and more probes buy nothing.
    ``nprobe="auto"`` applies the rule: 2 at ≥ 0.9, else 4.

    ``collect_stats`` adds ``n_cells`` to the parent's keys."""

    def __init__(
        self,
        index,
        sink_root: str,
        dim: int,
        centroids: DataFrame,
        n_cells: int,
        threshold: float,
        nprobe: tp.Union[int, str] = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        epoch_col=None,
        collect_stats: bool = False,
        occupancy_trigger: float = 0.0,
        target_occupancy: float = 8.0,
        retrain_iters: int = 2,
        retrain_train_mod: tp.Optional[int] = 4,
        absorb_dedup: bool = True,
    ):
        super().__init__(
            index, sink_root, dim, n_planes=0, threshold=threshold,
            probe_hamming=0, id_col=id_col, vec_col=vec_col,
            occupancy_trigger=occupancy_trigger,
            target_occupancy=target_occupancy, epoch_col=epoch_col,
            collect_stats=collect_stats, absorb_dedup=absorb_dedup,
        )
        self.centroids = centroids
        self.n_cells = n_cells
        if nprobe == "auto":
            nprobe = 2 if threshold >= 0.9 else 4
        self.nprobe = int(nprobe)
        self.retrain_iters = retrain_iters
        self.retrain_train_mod = retrain_train_mod
        self._lits = None  # centroid_lits(), built on first use

    def centroid_lits(self):
        """The current geometry's centroid_literals() Column, built once
        per geometry (one collect of the materialized centroids: the
        trained artifact at construction, retrain's own collect after) and
        reset by retrain. Every assignment pass of the gate — probe
        (keep=nprobe), absorb (keep=1), retrain's re-assignment — and the
        live serve's query probing share it, so each runs as one narrow
        projection with no join or shuffle, and no plan re-collects or
        re-parses the centroids. Values are bit-identical to the join path
        (test-pinned)."""
        if self._lits is None:
            self._lits = centroid_literals(self.centroids, self.id_col)
        return self._lits

    def _assign(self, df: DataFrame, keep: int) -> DataFrame:
        return ivf_assign(
            df, self.centroids, self.n_cells, keep=keep, id_col=self.id_col,
            as_literals=self.centroid_lits(),
        )

    def retrain(self, n_cells: tp.Optional[int] = None) -> None:
        """Re-train the centroids on the CURRENT index vectors (the corpus
        plus everything absorbed; index.sh is a with_norms frame) and
        re-assign the whole index in one narrow pass: the standard
        periodic IVF rebuild. Training is one broadcast-join assignment
        pass per iteration over the hash-sampled index. Deterministic end
        to end (frozen-hash seeds, decimal means), so a replay after any
        number of retrains is still engine-reproducible."""
        n_cells = n_cells or self.n_cells
        cents = kmeans_centroids(
            None, n_cells, self.retrain_iters, id_col=self.id_col,
            normed=self.index.sh, train_mod=self.retrain_train_mod,
        )
        # the centroid frame is n_cells tiny rows: collecting and replaying
        # it keeps every later plan off the training lineage
        spark = self.index.sh.sparkSession
        self.centroids = spark.createDataFrame(cents.collect(), cents.schema)
        self.n_cells = n_cells
        self._lits = None  # new geometry -> new centroid Column
        self.index.rebuild_combined(self._stored_rows(self.index.sh))

    def _capacity(self) -> int:
        return self.n_cells

    def _grow(self, size: int) -> None:
        import math

        self.retrain(
            max(self.n_cells + 1, math.ceil(size / self.target_occupancy))
        )

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        # no bucket column: probes assign keep=nprobe, stored rows keep=1
        return with_norms(spread(batch_df), self.vec_col)

    def _probes(self, new: DataFrame) -> DataFrame:
        return self._assign(new, self.nprobe).select(
            F.col(self.id_col).alias("new_id"), F.col("_v").alias("va"),
            F.col("_norm").alias("na"), F.col("cid").alias("bucket"),
        )

    def _n_probes(self) -> int:
        return self.nprobe

    def _stored_rows(self, df: DataFrame) -> DataFrame:
        return self._assign(df, 1).select(
            self.id_col, "_v", "_norm", F.col("cid").alias("bucket")
        )

    def _extra_stats(self) -> dict:
        return {**super()._extra_stats(), "n_cells": self.n_cells}
