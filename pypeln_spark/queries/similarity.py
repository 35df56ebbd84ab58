"""Similarity-search queries over the embeddings table — oracle-matched.

Cosine similarity uses the IEEE double left-fold dot product
(ext/similarity.dot_ieee): both engines fold products in index order with
correctly-rounded IEEE ops and no FMA, so the cosines are bit-identical
WITHOUT the decimal armor (which exists for order-nondeterministic groupBy
reductions, and costs 4x) — even top-k rank boundaries agree. The oracle's
list_reduce below is the same left fold.
"""

from __future__ import annotations

from pypeln_spark.ext import similarity as S
from pypeln_spark.ext.hashing import sql_h31

from .base import register, tables

K = 5
N_QUERIES = 10  # query set = vec_id < 10
NEAR_DUP_T = 0.35
N_PLANES = 6
DIM = 64  # embeddings table dimension — the oracle's range(1,65) hardcodes it too

# DuckDB spelling of the IEEE left-fold dot product over 1-based list
# indexes — mirrors ext/similarity.dot_ieee: fold products in index order,
# double arithmetic only (elements are already DOUBLE via the e CTE)
def _dot(u: str, v: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({u}) + 1), "
        f"i -> {u}[CAST(i AS INT)] * {v}[CAST(i AS INT)])), "
        f"(acc, x) -> acc + x)"
    )


_E_CTE = """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt({vv}) AS nrm FROM e)
""".format(vv=_dot("v", "v"))


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH {_E_CTE},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= {K}
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-k (query side broadcast, corpus streams).
    The baseline every ANN variant is judged against."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.cosine_topk(emb, queries, k=K)


MMR_K_CAND = 10
MMR_K_OUT = 5
MMR_LAM = 0.7


def _mmr_trajectory_oracle(cand_ctes: list) -> str:
    """Shared greedy-MMR trajectory oracle: callers supply the CTE chain
    producing ``cand`` (query_id, neighbor_id, cos — the candidate front;
    exact top-k for the baseline entry, the replayed IVF probe for the
    ANN composition), and this appends the complete candidate-pairwise
    sim table plus one (anti-join -> max-penalty -> argmax) CTE per
    greedy step. The (1 - lam) coefficient is emitted with its exact
    Python float repr so both engines compute the identical IEEE score.
    Requires the ``n`` CTE (normed vectors) among cand_ctes — the
    pairwise table reads it."""
    lam = repr(MMR_LAM)
    oml = repr(1.0 - MMR_LAM)  # 0.30000000000000004 — NOT 0.3
    ctes = list(cand_ctes) + [
        f"""pr AS MATERIALIZED (
      SELECT x.query_id, x.neighbor_id AS id_a, y.neighbor_id AS id_b,
             {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS sim
      FROM cand x
      JOIN cand y ON y.query_id = x.query_id
                 AND x.neighbor_id <> y.neighbor_id
      JOIN n a ON a.vec_id = x.neighbor_id
      JOIN n b ON b.vec_id = y.neighbor_id
    )""",
        f"""s1 AS MATERIALIZED (
      SELECT query_id, neighbor_id, cos, {lam} * cos AS mmr_score,
             1 AS mmr_rank
      FROM (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {lam} * cos DESC, neighbor_id) AS rk
        FROM cand) WHERE rk = 1
    )""",
        "sel1 AS (SELECT * FROM s1)",
    ]
    for s in range(2, MMR_K_OUT + 1):
        ctes.append(f"""s{s} AS MATERIALIZED (
      SELECT query_id, neighbor_id, cos, mmr_score, {s} AS mmr_rank FROM (
        SELECT r.query_id, r.neighbor_id, r.cos,
               {lam} * r.cos - {oml} * d.max_sim AS mmr_score,
               ROW_NUMBER() OVER (PARTITION BY r.query_id
                 ORDER BY {lam} * r.cos - {oml} * d.max_sim DESC,
                          r.neighbor_id) AS rk
        FROM cand r
        ANTI JOIN sel{s - 1} ON sel{s - 1}.query_id = r.query_id
                            AND sel{s - 1}.neighbor_id = r.neighbor_id
        JOIN (SELECT p.query_id, p.id_a, MAX(p.sim) AS max_sim
              FROM pr p JOIN sel{s - 1} s ON s.query_id = p.query_id
                                         AND s.neighbor_id = p.id_b
              GROUP BY p.query_id, p.id_a) d
          ON d.query_id = r.query_id AND d.id_a = r.neighbor_id
      ) WHERE rk = 1
    )""")
        ctes.append(
            f"sel{s} AS (SELECT * FROM sel{s - 1} UNION ALL SELECT * FROM s{s})"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, cos, mmr_score,
           CAST(mmr_rank AS INT) AS mmr_rank
    FROM sel{MMR_K_OUT}
    """
    )


def _mmr_oracle() -> str:
    """Oracle for search_mmr_diversified_topk: exact brute-force candidate
    front, then the shared greedy trajectory."""
    return _mmr_trajectory_oracle([
        _E_CTE.strip(),
        f"""scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )""",
        f"""cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, cos FROM (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored) WHERE rk <= {MMR_K_CAND}
    )""",
    ])


@register("search_mmr_diversified_topk", oracle=_mmr_oracle())
def search_mmr_diversified_topk(spark, sf_dir):
    """Diversified top-k: greedy Maximal Marginal Relevance rerank over
    the exact top-{MMR_K_CAND} candidates — the pass a RAG stack runs
    between ANN retrieval and the context window so near-duplicate hits
    don't crowd out coverage (ext/similarity.mmr_rerank: pure-Catalyst
    unrolled greedy — candidate front + k_cand²-per-query pairwise sims
    + one anti-join/max/argmax stage per step; every stage after the
    candidate front is bounded by |queries| x k_cand rows, so the rerank
    is corpus-size-independent). The oracle replays the full greedy
    TRAJECTORY — both similarity tables and all five selection steps —
    with the (1 - lam) coefficient emitted at exact float repr, so the
    driver hash-checks every pick, score, and rank."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.mmr_rerank(
        emb, queries, k_cand=MMR_K_CAND, k_out=MMR_K_OUT, lam=MMR_LAM
    )


_PLANE = (
    "(({h} % 2001) - 1000) / 1000.0"
)


def _plane_comp(p: int) -> str:
    h = sql_h31(f"concat('plane_{p}_', CAST(i - 1 AS VARCHAR))")
    return f"list_transform(range(1, 65), i -> (({h} % 2001) - 1000) / 1000.0)"


_BUCKET = " + ".join(
    f"(CASE WHEN {_dot('v', _plane_comp(p))} > 0 THEN {1 << p} ELSE 0 END)"
    for p in range(N_PLANES)
)


@register(
    "ann_lsh_bucketed_topk",
    oracle=f"""
    WITH {_E_CTE},
    bktd AS (SELECT vec_id, v, nrm, CAST({_BUCKET} AS BIGINT) AS bucket FROM n),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM bktd q JOIN bktd c ON q.bucket = c.bucket
       AND q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= {K}
    """,
)
def ann_lsh_bucketed_topk(spark, sf_dir):
    """Scale-path ANN: deterministic random-hyperplane LSH buckets; top-k
    searches only the query's bucket (equi-join replaces the cross join).
    The oracle replays the identical plane family, so bucket assignment and
    the recall loss itself are both verified."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.ann_lsh_topk(emb, queries, k=K, n_planes=N_PLANES, dim=DIM)


_PROBE_LIST = "[" + ",".join(str(x) for x in [0] + [1 << p for p in range(N_PLANES)]) + "]"


@register(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
    WITH {_E_CTE},
    bktd AS (SELECT vec_id, v, nrm, CAST({_BUCKET} AS BIGINT) AS bucket FROM n),
    probes AS (
      SELECT vec_id, v, nrm, xor(bucket, pb) AS bucket
      FROM bktd, (SELECT unnest({_PROBE_LIST}) AS pb)
      WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM probes q JOIN bktd c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= {K}
    """,
)
def ann_lsh_multiprobe_topk(spark, sf_dir):
    """Multi-probe LSH ANN: each query also searches the n_planes buckets
    one sign-flip away — recall recovers the near-boundary neighbors
    single-bucket LSH loses, at a constant probe fan-out on the (small)
    query side only; the corpus side stays one bucket per vector. Oracle
    replays probing exactly, so the probe set and its recall are
    value-checked."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.ann_lsh_topk(
        emb, queries, k=K, n_planes=N_PLANES, dim=DIM, probe_hamming=1
    )


N_CELLS = 16
NPROBE = 2


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_E_CTE},
    cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < {N_CELLS}),
    ascore AS (
      SELECT x.vec_id, x.v, x.nrm, c.cid,
             {_dot("x.v", "c.cv")} / (x.nrm * c.cn) AS ccos
      FROM n x JOIN cent c ON TRUE
    ),
    ranked AS (
      SELECT vec_id, v, nrm, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
      FROM ascore
    ),
    cells AS (SELECT vec_id, v, nrm, cid FROM ranked WHERE crank = 1),
    probes AS (SELECT vec_id, v, nrm, cid FROM ranked
               WHERE crank <= {NPROBE} AND vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM probes q JOIN cells c ON q.cid = c.cid AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= {K}
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN: deterministic coarse quantizer (centroids = first 16 vectors)
    → inverted lists keyed by cell id → nprobe=2 probe join. Together with
    ann_lsh_bucketed_topk this gives both scale paths the brief names; the
    oracle replays quantization, probing, and ranking — recall loss itself
    is verified."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.ivf_topk(
        emb, queries, k=K, n_cells=N_CELLS, nprobe=NPROBE,
        cells=_first_cells(spark, sf_dir),
    )


def _kmeans_ctes(
    n_cells: int,
    iters: int,
    dim: int,
    train_mod: int | None = None,
    prefix: str = "",
    seeding: str = "hash",
    base: str = "n",
) -> tuple[str, str]:
    """DuckDB CTE chain replaying ext/similarity.kmeans_centroids exactly:
    seed draw (``seeding="hash"`` = frozen-hash smallest-n_cells;
    ``"plusplus"`` = the unrolled deterministic D²×hash-uniform race, one
    argmax CTE per seed), per-iteration cosine assignment (tiebreak cid),
    per-dimension decimal-exact mean update. ``train_mod`` replays the
    hash-sampled training set (h31(id) % m == 0) — seeds and iteration
    passes draw from the sample, final assignment stays full-corpus.
    ``prefix`` namespaces every CTE so two quantizer replays can coexist
    in one oracle. ``base`` names the normed-vector CTE the quantizer
    trains over (default the full-corpus ``n``; the cells ingest gate
    passes its corpus-only CTE — a gate trains on what exists at stream
    start). Returns (cte_sql, final_name)."""
    h = sql_h31("CAST(vec_id AS VARCHAR)")
    p = prefix
    train = base
    cte = ""
    if train_mod is not None:
        train = f"{p}ktrain"
        cte = f"""
    {train} AS (SELECT * FROM {base} WHERE {h} % {train_mod} = 0),"""
    if seeding == "hash":
        cte += f"""
    {p}seeds AS (
      SELECT vec_id AS cid, v AS cv, nrm AS cn
      FROM {train} ORDER BY {h}, vec_id LIMIT {n_cells}
    )"""
    else:  # plusplus: unrolled sequential race (ext _plusplus_seeds twin).
        # Every chain CTE is AS MATERIALIZED: DuckDB inlines CTEs by
        # default, and sds{s} references sds{s-1} twice (the race join +
        # the union), so inlining expands the base scan 2^n_cells times —
        # measured as an fd-exhaustion blowup before the first row.
        cte += f"""
    {p}sds1 AS MATERIALIZED (
      SELECT vec_id AS cid, v AS cv, nrm AS cn
      FROM {train} ORDER BY {h}, vec_id LIMIT 1
    )"""
        for s in range(2, n_cells + 1):
            u = sql_h31(f"CAST(t.vec_id AS VARCHAR) || '_s{s}'")
            cte += f""",
    {p}w{s} AS (
      SELECT t.vec_id AS cid, t.v AS cv, t.nrm AS cn,
             (1.0 - MAX({_dot('t.v', 'c.cv')} / (t.nrm * c.cn)))
               * (CAST(({u} % {S.PP_U_MOD}) + 1 AS DOUBLE) / {float(S.PP_U_MOD + 1)}) AS w
      FROM {train} t JOIN {p}sds{s - 1} c ON TRUE
      GROUP BY t.vec_id, t.v, t.nrm
    ),
    {p}sds{s} AS MATERIALIZED (
      SELECT cid, cv, cn FROM {p}sds{s - 1}
      UNION ALL
      SELECT cid, cv, cn FROM (
        SELECT cid, cv, cn FROM {p}w{s} ORDER BY w DESC, cid LIMIT 1)
    )"""
        cte += f""",
    {p}seeds AS (SELECT * FROM {p}sds{n_cells})"""
    prev = f"{p}seeds"
    for it in range(1, iters + 1):
        cte += f""",
    {p}asg{it} AS (
      SELECT x.vec_id, x.v, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
               ORDER BY {_dot('x.v', 'c.cv')} / (x.nrm * c.cn) DESC, c.cid) AS rk
      FROM {train} x JOIN {prev} c ON TRUE
    ),
    {p}dim{it} AS (
      SELECT cid, i,
             CAST(SUM(CAST(v[CAST(i AS INT)] AS DECIMAL(30,12))) AS DOUBLE)
               / COUNT(*) AS mv
      FROM {p}asg{it}, (SELECT unnest(range(1, {dim + 1})) AS i)
      WHERE rk = 1
      GROUP BY cid, i
    ),
    {p}cvec{it} AS (
      SELECT cid, list(mv ORDER BY i) AS cv FROM {p}dim{it} GROUP BY cid
    ),
    {p}cent{it} AS (
      SELECT cid, cv, sqrt({_dot('cv', 'cv')}) AS cn FROM {p}cvec{it}
    )"""
        prev = f"{p}cent{it}"
    return cte, prev


KMEANS_ITERS = 2
KMEANS_NPROBE = 2
# quantizer trains on the h31(id) % 4 == 0 hash-sample — the production IVF
# shape (sample-trained coarse quantizer, full-corpus assignment); measured
# 2.3s → 1.4s training at sf0.1 with recall unchanged on clustered data
KMEANS_TRAIN_MOD = 4

_KM_CTE, _KM_FINAL = _kmeans_ctes(N_CELLS, KMEANS_ITERS, DIM, KMEANS_TRAIN_MOD)
_KM_PP_CTE, _KM_PP_FINAL = _kmeans_ctes(
    N_CELLS, KMEANS_ITERS, DIM, KMEANS_TRAIN_MOD, prefix="pp", seeding="plusplus"
)

# disjoint recall-eval query set — deliberately OUTSIDE vec_id < N_CELLS:
# the 'first' quantizer's centroids are vec_id < 16, which CONTAIN the
# vec_id < 10 query set, so every overlapping-query cell is centered on
# the query itself (see ann_recall_eval_ivf_kmeans)
DQ_LO, DQ_HI = 100, 110


def _kmeans_artifact(spark, sf_dir, seeding: str = "hash"):
    """Train-once spherical-k-means centroids for this sf_dir — shared by
    ann_ivf_kmeans_topk AND semantic_dedup_pairs (identical training spec),
    and across repeat invocations (bench warm runs, plan lint, driver).
    The artifact is n_cells rows; see ext/similarity.trained_artifact.
    ``seeding="plusplus"`` keys a separate artifact (the r8 kmeans++ arm)."""

    def build():
        (emb,) = tables(spark, sf_dir, "embeddings")
        return S.kmeans_centroids(
            emb, N_CELLS, KMEANS_ITERS, train_mod=KMEANS_TRAIN_MOD,
            seeding=seeding,
        )

    key = ("kmeans_cents", sf_dir, N_CELLS, KMEANS_ITERS, KMEANS_TRAIN_MOD, seeding)
    return S.trained_artifact(spark, key, build)


def _kmeans_cells(spark, sf_dir, seeding: str = "hash"):
    """Session-cached IVF inverted lists (corpus assignment, keep=1) for
    the kmeans quantizer with the given ``seeding`` — the 'add' half of
    the train/add split, complementing _kmeans_artifact's 'train' half
    and shared by every entry that retrieves or buckets through the SAME
    (corpus, quantizer) pair: the MMR-over-ANN front, the recall evals'
    kmeans arms, and SemDeDup's cell bucketing (r13 opt round — each was
    paying its own corpus-assignment pass for an identical frame).
    Built through ivf_assign's inline-literal path, so the BUILD plan is
    BNLJ-free; assignment is deterministic, so the cached frame is
    bit-identical to recomputing it inside each entry (the argument the
    MMR entry established, oracle-replayed). The centroids' JSON text is
    likewise memoized (centroid_literals memo_key — the values are the
    artifact's own collected doubles), so repeat invocations skip the
    literal collect job. Returns (cents, cells, lits)."""
    cents = _kmeans_artifact(spark, sf_dir, seeding=seeding)
    key = ("ivf_kmeans_cells", sf_dir, N_CELLS, KMEANS_ITERS, KMEANS_TRAIN_MOD)
    if seeding != "hash":
        key += (seeding,)
    lits = S.centroid_literals(cents, memo_key=("lits",) + key)

    def build():
        (emb,) = tables(spark, sf_dir, "embeddings")
        return S.ivf_assign(
            S.with_norms(S.spread(emb)), cents, N_CELLS, keep=1,
            as_literals=lits,
        )

    return cents, S.cached_index(key, build), lits


def _first_cells(spark, sf_dir):
    """Session-cached inverted lists for the FROZEN 'first' quantizer
    (centroids = the first N_CELLS vectors by id — no training, so no
    artifact): the _kmeans_cells twin for the zero-training path, shared
    by ann_ivf_topk, ann_recall_eval_ivf and the 5-arm eval's first_dq
    arm (r13 opt round). The corpus assignment is deterministic, so the
    cached frame is bit-identical to assigning inside each entry; the
    centroid side here is a corpus FILTER (not a driver-side artifact),
    so the build keeps ivf_assign's broadcast path."""
    from pyspark.sql import functions as F

    def build():
        (emb,) = tables(spark, sf_dir, "embeddings")
        corpus = S.with_norms(S.spread(emb))
        cents = S.with_norms(emb.filter(F.col("vec_id") < N_CELLS))
        return S.ivf_assign(corpus, cents, N_CELLS, keep=1)

    return S.cached_index(("ivf_first_cells", sf_dir, N_CELLS), build)


def _exact_topk(spark, sf_dir):
    """Session-cached exact cosine ground truth over the UNION of every
    eval query set (vec_id < N_QUERIES plus the [DQ_LO, DQ_HI) dq set),
    k=K — the measurement BASELINE the five recall evals compare their
    approximate arms against (r13 opt round: each eval recomputed an
    identical brute-force arm per invocation). cosine_topk is per-query
    independent (per-query window over the full corpus), so filtering
    this frame by query_id is bit-identical to computing on the subset —
    the same deterministic-recompute argument as the cells index, applied
    to the ground-truth table an eval deployment materializes once. The
    RETRIEVAL entries (ann_cosine_topk, ann_knn_classify) keep computing
    their own search: their output IS the thing being measured."""

    def build():
        from pyspark.sql import functions as F

        (emb,) = tables(spark, sf_dir, "embeddings")
        q = emb.filter(
            (F.col("vec_id") < N_QUERIES)
            | ((F.col("vec_id") >= DQ_LO) & (F.col("vec_id") < DQ_HI))
        )
        return S.cosine_topk(emb, q, k=K)

    return S.cached_index(
        ("exact_cosine_topk", sf_dir, K, N_QUERIES, DQ_LO, DQ_HI), build
    )


@register(
    "ann_ivf_kmeans_topk",
    oracle=f"""
    WITH {_E_CTE},
    {_KM_CTE},
    ascore AS (
      SELECT x.vec_id, x.v, x.nrm, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
               ORDER BY {_dot("x.v", "c.cv")} / (x.nrm * c.cn) DESC, c.cid) AS crank
      FROM n x JOIN {_KM_FINAL} c ON TRUE
    ),
    cells AS (SELECT vec_id, v, nrm, cid FROM ascore WHERE crank = 1),
    probes AS (SELECT vec_id, v, nrm, cid FROM ascore
               WHERE crank <= {KMEANS_NPROBE} AND vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM probes q JOIN cells c ON q.cid = c.cid AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= {K}
    """,
)
def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF ANN with the TRAINED spherical k-means quantizer — still fully
    engine-reproducible: frozen-hash seed draw, decimal-exact centroid
    updates, fixed iteration count, so the oracle replays quantizer
    TRAINING, assignment, probing, and ranking end to end. The centroids
    come from the train-once artifact store (the FAISS train/add split) —
    shared with semantic_dedup_pairs, which trains the identical spec.
    Which quantizer wins is DATA-DEPENDENT, and the eval measures it: on
    naturally-clustered vectors the trained quantizer recovers the
    clusters and recall is high (tests/test_ext.py::
    test_ivf_kmeans_recall_on_clustered_vectors). r7's reading that the
    frozen quantizer beats it on the stock corpus (0.98 vs 0.40 at
    sf0.1) was CORRECTED in r8: the 0.98 was a measurement confound (the
    'first' centroids contain the query vectors — see
    ann_recall_eval_ivf_kmeans's disjoint-query arms); fairly measured,
    every quantizer reads ~0.2-0.45 on this unstructured corpus at
    nprobe=2/16, and recall tuning should go through nprobe. Run the
    multi-arm eval on YOUR corpus before paying for quantizer training."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents, cells, lits = _kmeans_cells(spark, sf_dir)
    return S.ivf_topk(
        emb, queries, k=K, n_cells=N_CELLS, nprobe=KMEANS_NPROBE,
        quantizer="kmeans", kmeans_iters=KMEANS_ITERS,
        train_mod=KMEANS_TRAIN_MOD, centroids=cents,
        quantizer_literals=lits, cells=cells,
    )


def _mmr_ann_oracle() -> str:
    """Oracle for search_mmr_over_ann_front: the IVF-kmeans candidate
    front replayed end to end (quantizer TRAINING, corpus assignment,
    query probing, per-query top-k_cand — the ann_ivf_kmeans_topk chain),
    then the shared greedy-MMR trajectory over that front."""
    return _mmr_trajectory_oracle([
        _E_CTE.strip(),
        _KM_CTE.strip(),
        f"""ascore AS (
      SELECT x.vec_id, x.v, x.nrm, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
               ORDER BY {_dot("x.v", "c.cv")} / (x.nrm * c.cn) DESC, c.cid) AS crank
      FROM n x JOIN {_KM_FINAL} c ON TRUE
    )""",
        "cells AS (SELECT vec_id, v, nrm, cid FROM ascore WHERE crank = 1)",
        f"""probes AS (SELECT vec_id, v, nrm, cid FROM ascore
               WHERE crank <= {KMEANS_NPROBE} AND vec_id < {N_QUERIES})""",
        f"""scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM probes q JOIN cells c ON q.cid = c.cid AND q.vec_id <> c.vec_id
    )""",
        f"""cand AS MATERIALIZED (
      SELECT query_id, neighbor_id, cos FROM (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored) WHERE rk <= {MMR_K_CAND}
    )""",
    ])


@register("search_mmr_over_ann_front", oracle=_mmr_ann_oracle())
def search_mmr_over_ann_front(spark, sf_dir):
    """The PRODUCTION retrieval composition (VERDICT r12 #5): greedy MMR
    diversified top-k running over the IVF-kmeans ANN candidate front
    instead of the exact brute-force top-k — ANN candidates → pairwise
    sims → greedy trajectory, the chain a RAG stack actually deploys.
    Two structural claims are demonstrated here rather than asserted:
    (a) the rerank is corpus-size-independent DOWNSTREAM OF A BOUNDED
    FRONT — every post-candidate stage is |queries| × k_cand rows fed by
    a retriever that probes nprobe/n_cells of the corpus, so no stage
    anywhere touches the full corpus pairwise; (b) the composed plan has
    NO BroadcastNestedLoopJoin at all (no plan-lint exemption): the
    coarse-quantizer assignment runs through ivf_assign's inline-literal
    path (centroids embedded as a literal struct array and exploded — a
    pure codegen projection; the trained artifact already holds them
    driver-side), and the probe join is a broadcast HASH join on cid.
    The oracle replays quantizer training, both assignment passes, cell
    probing, the top-k_cand front, and the full greedy trajectory —
    every pick, score, and rank hash-checked."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # the inverted LISTS are a session-cached index (the FAISS train/add
    # split taken one step further): built once per (corpus, quantizer)
    # and reused across invocations AND entries (_kmeans_cells); a query
    # batch then pays only its own probe assignment + the cid hash join
    cents, cells, lits = _kmeans_cells(spark, sf_dir)
    front = S.ivf_topk(
        emb, queries, k=MMR_K_CAND, n_cells=N_CELLS, nprobe=KMEANS_NPROBE,
        quantizer="kmeans", kmeans_iters=KMEANS_ITERS,
        train_mod=KMEANS_TRAIN_MOD, centroids=cents,
        quantizer_literals=lits, cells=cells,
    )
    return S.mmr_rerank(
        emb, queries, k_cand=MMR_K_CAND, k_out=MMR_K_OUT, lam=MMR_LAM,
        candidates=front,
    )



@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH {_E_CTE}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_dot("a.v", "b.v")} / (a.nrm * b.nrm) >= {NEAR_DUP_T}
    """,
)
def embedding_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact, id_a < id_b)."""
    (emb,) = tables(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(emb, threshold=NEAR_DUP_T)


@register(
    "embedding_near_dup_lsh",
    oracle=f"""
    WITH {_E_CTE},
    bktd AS (SELECT vec_id, v, nrm, CAST({_BUCKET} AS BIGINT) AS bucket FROM n)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
    FROM bktd a JOIN bktd b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_dot("a.v", "b.v")} / (a.nrm * b.nrm) >= {NEAR_DUP_T}
    """,
)
def embedding_near_dup_lsh(spark, sf_dir):
    """The bucketed PRODUCTION twin of embedding_near_dup_pairs: same-LSH-
    bucket candidates + exact cosine verify — shuffle ∝ vectors instead of
    the guarded all-pairs baseline. The oracle replays the identical plane
    family, so the recall loss vs the exact baseline is itself verified."""
    (emb,) = tables(spark, sf_dir, "embeddings")
    return S.near_dup_lsh(emb, threshold=NEAR_DUP_T, n_planes=N_PLANES, dim=DIM)


NEARDUP_SAMPLE_MOD = 4  # recall-eval ground truth on the vec_id % 4 sample

_E_SAMPLE_CTE = """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % {mod} = 0),
n AS (SELECT vec_id, v, sqrt({vv}) AS nrm FROM e)
""".format(mod=NEARDUP_SAMPLE_MOD, vv=_dot("v", "v"))


@register(
    "embedding_near_dup_recall_eval",
    oracle=f"""
    WITH {_E_SAMPLE_CTE},
    exact AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE {_dot("a.v", "b.v")} / (a.nrm * b.nrm) >= {NEAR_DUP_T}
    ),
    bktd AS (SELECT vec_id, v, nrm, CAST({_BUCKET} AS BIGINT) AS bucket FROM n),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bktd a JOIN bktd b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    candm1 AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bktd a JOIN bktd b
        ON bit_count(xor(a.bucket, b.bucket)) <= 1 AND a.vec_id < b.vec_id
    ),
    candm AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bktd a JOIN bktd b
        ON bit_count(xor(a.bucket, b.bucket)) <= 2 AND a.vec_id < b.vec_id
    )
    SELECT CAST(0 AS INTEGER) AS probe_hamming,
           CAST(FLOOR(e.cos * 20) AS INTEGER) AS c_bucket,
           COUNT(*) AS n_exact,
           COUNT(l.id_a) AS n_lsh,
           CAST(COUNT(l.id_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM exact e
    LEFT JOIN cand l ON l.id_a = e.id_a AND l.id_b = e.id_b
    GROUP BY CAST(FLOOR(e.cos * 20) AS INTEGER)
    UNION ALL
    SELECT CAST(1 AS INTEGER) AS probe_hamming,
           CAST(FLOOR(e.cos * 20) AS INTEGER) AS c_bucket,
           COUNT(*) AS n_exact,
           COUNT(l.id_a) AS n_lsh,
           CAST(COUNT(l.id_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM exact e
    LEFT JOIN candm1 l ON l.id_a = e.id_a AND l.id_b = e.id_b
    GROUP BY CAST(FLOOR(e.cos * 20) AS INTEGER)
    UNION ALL
    SELECT CAST(2 AS INTEGER) AS probe_hamming,
           CAST(FLOOR(e.cos * 20) AS INTEGER) AS c_bucket,
           COUNT(*) AS n_exact,
           COUNT(l.id_a) AS n_lsh,
           CAST(COUNT(l.id_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM exact e
    LEFT JOIN candm l ON l.id_a = e.id_a AND l.id_b = e.id_b
    GROUP BY CAST(FLOOR(e.cos * 20) AS INTEGER)
    """,
)
def embedding_near_dup_recall_eval(spark, sf_dir):
    """Completes the recall-eval matrix: every approximate similarity arm
    in the engine now carries a measured, oracle-replayed quality number —
    ANN retrieval (IVF/LSH/PQ evals), sparse retrieval (champion-list
    eval), lexical near-dup pairs (the LSH S-curve), and COSINE near-dup
    pairs: per 0.05-wide cosine bucket, the capture rate of the
    hyperplane bucketing vs the exact all-pairs ground truth on a
    deterministic vec_id % 4 sample (sampled for the same reason every
    other eval samples — the exact arm is the guarded baseline). Per-plane
    miss probability is angle/π, so capture should fall as cos approaches
    the threshold from above — the curve a deployment reads when trading
    n_planes against verify cost.

    THREE ARMS since r8 (VERDICT r7 #7): single-bucket (probe_hamming=0 —
    r7 measured 0.2/0.0 capture at cos 0.35-0.45 with 6 planes),
    MULTIPROBE hd≤1 (7 probes — the setting the streaming embedding
    ingest gate runs, so ITS capture trade is a measured number too) and
    hd≤2 (22 probes). The pair predicate for probe_hamming=h is
    hamming(bucket_a, bucket_b) ≤ h, which is what the oracle replays;
    the capture each probe shell buys at mid-cosine is a side-by-side
    number. Verified-LSH output is exact ∩ candidates by construction,
    so recall needs no second verify pass.

    Shared-frame discipline (ADVICE r8): the three arms previously each
    recomputed the quadratic exact baseline AND evicted each other's
    pooled bucketed frame (near_dup_lsh retires the pool at entry, and
    the union evaluates in ONE action at the end — so arms 0/1 ran fully
    cold). Now the eval retires once, pool-persists the bucketed frame
    and the exact pair set with eager counts (simhash_capture_table's
    pattern), and hands the bucketed frame to each arm via near_dup_lsh's
    ``bucketed`` parameter."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import dedup as D

    (emb,) = tables(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") % NEARDUP_SAMPLE_MOD == 0)
    D.retire_pipeline_caches()
    bktd = D.pool_persist(
        S.lsh_bucket(S.with_norms(S.spread(sample)), "_v", N_PLANES, DIM)
    )
    bktd.count()  # eager — all three arms' self-join sides consume it
    exact = D.pool_persist(S.near_dup_pairs(sample, threshold=NEAR_DUP_T))
    exact.count()  # eager — one recall rollup per arm consumes it

    def arm(ph: int):
        cand = S.near_dup_lsh(
            sample, threshold=NEAR_DUP_T, n_planes=N_PLANES, dim=DIM,
            probe_hamming=ph, bucketed=bktd,
        ).select("id_a", "id_b")
        hit = cand.withColumn("hit", F.lit(1))
        return (
            exact.join(hit, ["id_a", "id_b"], "left")
            .groupBy(F.floor(F.col("cos") * 20).cast("int").alias("c_bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count(F.col("hit")).alias("n_lsh"),
                (
                    F.count(F.col("hit")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("recall"),
            )
            .select(
                F.lit(ph).cast("int").alias("probe_hamming"),
                "c_bucket", "n_exact", "n_lsh", "recall",
            )
        )

    return arm(0).unionByName(arm(1)).unionByName(arm(2))


@register(
    "semantic_dedup_pairs",
    oracle=f"""
    WITH {_E_CTE},
    {_KM_CTE},
    ascore AS (
      SELECT x.vec_id, x.v, x.nrm, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
               ORDER BY {_dot("x.v", "c.cv")} / (x.nrm * c.cn) DESC, c.cid) AS crank
      FROM n x JOIN {_KM_FINAL} c ON TRUE
    ),
    cells AS (SELECT vec_id, v, nrm, cid FROM ascore WHERE crank = 1)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid AS cell_id,
           {_dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
    FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE {_dot("a.v", "b.v")} / (a.nrm * b.nrm) >= {NEAR_DUP_T}
    """,
)
def semantic_dedup_pairs(spark, sf_dir):
    """SemDeDup-shaped semantic dedup: k-means cells as data-adaptive
    near-dup buckets (ext/similarity.semantic_near_dup). Training,
    assignment, and the within-cell pair scan all replay in SQL, so the
    oracle verifies the recall trade itself — which boundary-straddling
    pairs the bucketing loses vs embedding_near_dup_pairs."""
    (emb,) = tables(spark, sf_dir, "embeddings")
    cents, cells, _ = _kmeans_cells(spark, sf_dir)
    return S.semantic_near_dup(
        emb, threshold=NEAR_DUP_T, n_cells=N_CELLS, iters=KMEANS_ITERS,
        train_mod=KMEANS_TRAIN_MOD, centroids=cents, cells=cells,
    )


@register(
    "semantic_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_E_CTE},
    {_KM_CTE},
    ascore AS (
      SELECT x.vec_id, x.v, x.nrm, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
               ORDER BY {_dot("x.v", "c.cv")} / (x.nrm * c.cn) DESC, c.cid) AS crank
      FROM n x JOIN {_KM_FINAL} c ON TRUE
    ),
    cells AS (SELECT vec_id, v, nrm, cid FROM ascore WHERE crank = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_dot("a.v", "b.v")} / (a.nrm * b.nrm) >= {NEAR_DUP_T}
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS vec_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    """,
)
def semantic_dedup_clusters(spark, sf_dir):
    """SemDeDup COMPLETED: the within-cell cosine pairs clustered into
    duplicate groups — (vec_id, cluster_id = min reachable id), keep-list
    = ``cluster_id == vec_id``. This is the step SemDeDup actually ships
    (one representative per semantic-duplicate cluster); the pairwise
    entry above exposes the raw pairs, this one the survivor election —
    the same pairs→components relationship the MinHash family has
    (dedup_minhash_lsh → dedup_minhash_clusters). Spark runs min-label
    propagation to the exact fixpoint over the verified pair graph; the
    oracle replays training, assignment, within-cell pairing AND the
    transitive closure (recursive CTE), so the cluster labeling itself is
    value-checked. Scale: the pair stage is the cell-bucketed equi-join
    (never all-pairs); CC rounds ∝ cluster diameter — semantic-dup
    clusters are shallow, like their lexical cousins."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import dedup as D

    (emb,) = tables(spark, sf_dir, "embeddings")
    cents, cells, _ = _kmeans_cells(spark, sf_dir)
    pairs = S.semantic_near_dup(
        emb, threshold=NEAR_DUP_T, n_cells=N_CELLS, iters=KMEANS_ITERS,
        train_mod=KMEANS_TRAIN_MOD, centroids=cents, cells=cells,
    ).select("id_a", "id_b")
    return D.connected_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


# ---------------------------------------------------------------------------
# Product quantization (ADC + exact rerank) — ext/similarity.pq_adc_topk
# ---------------------------------------------------------------------------

PQ_M = 16          # subspaces (d_sub = DIM // PQ_M = 4)
PQ_K = 16          # codewords per subspace
PQ_RERANK = 50     # ADC shortlist size for the exact second stage
PQ_TRAIN_MOD = 4   # codebooks train on the h31(id) % 4 == 0 sample


def _pq_ctes(m: int, k: int, dim: int, train_mod: int) -> str:
    """DuckDB CTE chain replaying pq_train_codebooks + pq_encode + ADC
    exactly: windowed frozen-hash seeds per subspace, one L2 Lloyd
    refinement with decimal per-dimension means, full-corpus encode, LUT,
    and the subspace-ORDERED double fold for the ADC score."""
    h = sql_h31("CAST(vec_id AS VARCHAR)")
    d_sub = dim // m
    # x·c − c·c/2, both IEEE left folds
    l2key = f"{_dot('s.sub', 'se.cv')} - {_dot('se.cv', 'se.cv')} / 2.0"
    return f"""
    ptrain AS (SELECT vec_id, v FROM e WHERE {h} % {train_mod} = 0),
    jj AS (SELECT unnest(range(0, {m})) AS j),
    tsubs AS (
      SELECT vec_id, j,
             list_slice(v, CAST(j * {d_sub} + 1 AS INT), CAST(j * {d_sub} + {d_sub} AS INT)) AS sub
      FROM ptrain CROSS JOIN jj
    ),
    pseeds AS (
      SELECT j, code, sub AS cv FROM (
        SELECT j, sub, vec_id,
               ROW_NUMBER() OVER (PARTITION BY j ORDER BY {h}, vec_id) AS code
        FROM tsubs) WHERE code <= {k}
    ),
    tassign AS (
      SELECT j, code, sub FROM (
        SELECT s.j, se.code, s.sub,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {l2key} DESC, se.code ASC) AS rk
        FROM tsubs s JOIN pseeds se ON s.j = se.j) WHERE rk = 1
    ),
    pmeans AS (
      SELECT j, code, i,
             CAST(SUM(CAST(sub[CAST(i AS INT)] AS DECIMAL(30,12))) AS DOUBLE)
               / COUNT(*) AS mv
      FROM tassign, (SELECT unnest(range(1, {d_sub + 1})) AS i)
      GROUP BY j, code, i
    ),
    pcodebook AS (
      SELECT j, code, list(mv ORDER BY i) AS cv FROM pmeans GROUP BY j, code
    ),
    csubs AS (
      SELECT vec_id, j,
             list_slice(v, CAST(j * {d_sub} + 1 AS INT), CAST(j * {d_sub} + {d_sub} AS INT)) AS sub
      FROM e CROSS JOIN jj
    ),
    pcodes AS (
      SELECT vec_id, j, code FROM (
        SELECT s.vec_id, s.j, se.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {l2key} DESC, se.code ASC) AS rk
        FROM csubs s JOIN pcodebook se ON s.j = se.j) WHERE rk = 1
    ),
    plut AS (
      SELECT q.vec_id AS query_id, cb.j, cb.code,
             {_dot('q.sub', 'cb.cv')} AS part
      FROM (SELECT * FROM csubs WHERE vec_id < {N_QUERIES}) q
      JOIN pcodebook cb ON q.j = cb.j
    ),
    padc AS (
      SELECT query_id, neighbor_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(part ORDER BY j)), (acc, x) -> acc + x) AS score
      FROM (
        SELECT l.query_id, c.vec_id AS neighbor_id, l.j, l.part
        FROM pcodes c JOIN plut l ON c.j = l.j AND c.code = l.code
        WHERE c.vec_id <> l.query_id)
      GROUP BY query_id, neighbor_id
    )"""


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_E_CTE},
    {_pq_ctes(PQ_M, PQ_K, DIM, PQ_TRAIN_MOD)},
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS srank
        FROM padc) WHERE srank <= {PQ_RERANK}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             {_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS score
      FROM shortlist s
      JOIN n c ON c.vec_id = s.neighbor_id
      JOIN n q ON q.vec_id = s.query_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT query_id, neighbor_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS INT) AS rank
      FROM exact)
    WHERE rank <= {K}
    """,
)
def ann_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation and an
    exact rerank stage (ext/similarity.pq_adc_topk): 16 sub-codebooks of 16
    codewords trained in one keyed pipeline (frozen-hash seeds, one decimal
    L2 Lloyd step on the hash sample), corpus encoded to 16 small codes per
    vector (a 16x working-set compression — ADC scans codes, not floats),
    query-side lookup tables broadcast, the m-term ADC score folded in
    subspace order for bit-identical replay, then the top-50 shortlist
    re-scored exactly. recall@5 = 0.92 vs brute-force cosine on testdata
    (ADC alone 0.42 — the rerank stage is the production trick). The
    retrieve-then-refine shape billion-scale ANN systems run."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    def build():
        (e,) = tables(spark, sf_dir, "embeddings")
        return S.pq_train_codebooks(e, m=PQ_M, k=PQ_K, train_mod=PQ_TRAIN_MOD)

    cb = S.trained_artifact(
        spark, ("pq_codebooks", sf_dir, PQ_M, PQ_K, PQ_TRAIN_MOD), build
    )
    codes = S.cached_index(
        ("pq_codes", sf_dir, PQ_M, PQ_K, PQ_TRAIN_MOD),
        lambda: S.pq_encode(tables(spark, sf_dir, "embeddings")[0], cb, m=PQ_M),
    )
    return S.pq_adc_topk(
        emb, queries, k=K, m=PQ_M, n_codes=PQ_K,
        train_mod=PQ_TRAIN_MOD, rerank=PQ_RERANK, codebooks=cb, codes=codes,
    )


@register(
    "ann_knn_classify",
    oracle=f"""
    WITH {_E_CTE},
    lbl AS (SELECT vec_id, label FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    topk AS (
      SELECT query_id, neighbor_id, cos FROM (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored) WHERE rank <= {K}
    ),
    votes AS (
      SELECT t.query_id, l.label, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM topk t JOIN lbl l ON l.vec_id = t.neighbor_id
      GROUP BY t.query_id, l.label
    )
    SELECT v.query_id,
           v.label AS predicted_label,
           v.n_votes,
           q.label AS true_label,
           v.label = q.label AS correct
    FROM (
      SELECT query_id, label, n_votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY n_votes DESC, label ASC) AS vrank
      FROM votes) v
    JOIN lbl q ON q.vec_id = v.query_id
    WHERE v.vrank = 1
    """,
)
def ann_knn_classify(spark, sf_dir):
    """k-NN classification over the embedding column: each query vector is
    labeled by the MAJORITY LABEL of its exact top-5 cosine neighbors
    (tiebreak: most votes, then smallest label). The similarity layer
    composing into an ML inference primitive — the label column rides the
    neighbor join, a vote count, and one window. Swap the exact top-k for
    any ANN variant (LSH/IVF/PQ) and the classifier inherits its scale
    shape; the oracle replays the exact formulation."""
    from pyspark.sql import Window, functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    topk = S.cosine_topk(emb, queries, k=K)
    lbl = emb.select("vec_id", "label")
    votes = (
        topk.join(lbl.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    pred = votes.withColumn("vrank", F.row_number().over(wv)).filter("vrank = 1")
    truth = F.broadcast(
        lbl.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        F.col("label").alias("predicted_label"),
        "n_votes",
        "true_label",
        (F.col("label") == F.col("true_label")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ with residual encoding — ext/similarity.ivf_pq_topk
# ---------------------------------------------------------------------------

IVFPQ_CELLS = 16
IVFPQ_NPROBE = 2
IVFPQ_M = 16
IVFPQ_K = 16
IVFPQ_RERANK = 50
IVFPQ_TRAIN_MOD = 4  # PQ residual codebooks train on the h31 % 4 sample


def _ivfpq_ctes(
    n_cells: int, nprobe: int, m: int, k: int, dim: int, train_mod: int
) -> str:
    """CTE chain replaying ivf_pq_topk end to end: first-vector coarse
    cells, cosine cell assignment, residuals, PQ codebook training on the
    residual hash-sample, full-corpus residual encoding, query probing,
    LUT, the qc + subspace-ordered ADC fold, shortlist, exact rerank."""
    h = sql_h31("CAST(vec_id AS VARCHAR)")
    d_sub = dim // m
    l2key = f"{_dot('s.sub', 'se.cv')} - {_dot('se.cv', 'se.cv')} / 2.0"
    return f"""
    cents AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
              WHERE vec_id < {n_cells}),
    cassign AS (
      SELECT vec_id, v, cid FROM (
        SELECT x.vec_id, x.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                 ORDER BY {_dot('x.v', 'c.cv')} / (x.nrm * c.cn) DESC, c.cid) AS rk
        FROM n x JOIN cents c ON TRUE) WHERE rk = 1
    ),
    resid AS (
      SELECT a.vec_id, a.cid,
             list_transform(range(1, {dim + 1}),
               i -> a.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]) AS v
      FROM cassign a JOIN cents c ON a.cid = c.cid
    ),
    ptrain AS (SELECT vec_id, v FROM resid WHERE {h} % {train_mod} = 0),
    jj AS (SELECT unnest(range(0, {m})) AS j),
    tsubs AS (
      SELECT vec_id, j,
             list_slice(v, CAST(j * {d_sub} + 1 AS INT), CAST(j * {d_sub} + {d_sub} AS INT)) AS sub
      FROM ptrain CROSS JOIN jj
    ),
    pseeds AS (
      SELECT j, code, sub AS cv FROM (
        SELECT j, sub, vec_id,
               ROW_NUMBER() OVER (PARTITION BY j ORDER BY {h}, vec_id) AS code
        FROM tsubs) WHERE code <= {k}
    ),
    tassign AS (
      SELECT j, code, sub FROM (
        SELECT s.j, se.code, s.sub,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {l2key} DESC, se.code ASC) AS rk
        FROM tsubs s JOIN pseeds se ON s.j = se.j) WHERE rk = 1
    ),
    pmeans AS (
      SELECT j, code, i,
             CAST(SUM(CAST(sub[CAST(i AS INT)] AS DECIMAL(30,12))) AS DOUBLE)
               / COUNT(*) AS mv
      FROM tassign, (SELECT unnest(range(1, {d_sub + 1})) AS i)
      GROUP BY j, code, i
    ),
    pcodebook AS (
      SELECT j, code, list(mv ORDER BY i) AS cv FROM pmeans GROUP BY j, code
    ),
    csubs AS (
      SELECT vec_id, cid, j,
             list_slice(v, CAST(j * {d_sub} + 1 AS INT), CAST(j * {d_sub} + {d_sub} AS INT)) AS sub
      FROM resid CROSS JOIN jj
    ),
    pcodes AS (
      SELECT vec_id, cid, j, code FROM (
        SELECT s.vec_id, s.cid, s.j, se.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                 ORDER BY {l2key} DESC, se.code ASC) AS rk
        FROM csubs s JOIN pcodebook se ON s.j = se.j) WHERE rk = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, v, cid FROM (
        SELECT x.vec_id, x.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY x.vec_id
                 ORDER BY {_dot('x.v', 'c.cv')} / (x.nrm * c.cn) DESC, c.cid) AS rk
        FROM n x JOIN cents c ON x.vec_id < {N_QUERIES}) WHERE rk <= {nprobe}
    ),
    qcent AS (
      SELECT q.query_id, q.cid, {_dot('q.v', 'c.cv')} AS qc
      FROM qprobe q JOIN cents c ON q.cid = c.cid
    ),
    qsubs AS (
      SELECT vec_id AS query_id, j,
             list_slice(v, CAST(j * {d_sub} + 1 AS INT), CAST(j * {d_sub} + {d_sub} AS INT)) AS sub
      FROM e CROSS JOIN jj WHERE vec_id < {N_QUERIES}
    ),
    plut AS (
      SELECT q.query_id, cb.j, cb.code, {_dot('q.sub', 'cb.cv')} AS part
      FROM qsubs q JOIN pcodebook cb ON q.j = cb.j
    ),
    padc AS (
      SELECT query_id, neighbor_id,
             qc + list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(part ORDER BY j)), (acc, x) -> acc + x) AS score
      FROM (
        SELECT qc.query_id, pc.vec_id AS neighbor_id, qc.qc, l.j, l.part
        FROM pcodes pc
        JOIN qcent qc ON pc.cid = qc.cid AND pc.vec_id <> qc.query_id
        JOIN plut l ON l.query_id = qc.query_id
                   AND l.j = pc.j AND l.code = pc.code)
      GROUP BY query_id, neighbor_id, qc
    )"""


@register(
    "ann_ivf_pq_topk",
    oracle=f"""
    WITH {_E_CTE},
    {_ivfpq_ctes(IVFPQ_CELLS, IVFPQ_NPROBE, IVFPQ_M, IVFPQ_K, DIM, IVFPQ_TRAIN_MOD)},
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS srank
        FROM padc) WHERE srank <= {IVFPQ_RERANK}
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             {_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS score
      FROM shortlist s
      JOIN n c ON c.vec_id = s.neighbor_id
      JOIN n q ON q.vec_id = s.query_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
      SELECT query_id, neighbor_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS INT) AS rank
      FROM exact)
    WHERE rank <= {K}
    """,
)
def ann_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ with residual encoding (ext/similarity.ivf_pq_topk) — the
    composed billion-scale ANN architecture: coarse cells partition the
    corpus into inverted lists, every vector stores (cell id + 16 PQ codes
    of its residual r = v − centroid), queries probe 2 cells and score
    candidates by ADC (q·centroid + the subspace-ordered LUT fold over
    residual codes), and the top-50 shortlist re-scores exactly. Final
    recall EQUALS cell recall (0.92 here — the exact stage recovers every
    true neighbor the probed cells contain; ADC-only ordering is 0.44).
    Per-vector search state after build: 1 cell id + 16 codes; floats are
    touched only by |queries| × 50 exact rows. Oracle replays coarse
    assignment, residuals, codebook TRAINING, encoding, ADC and rerank —
    hash-exact."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    def build():
        (e,) = tables(spark, sf_dir, "embeddings")
        return S.ivf_pq_train(
            e, n_cells=IVFPQ_CELLS, m=IVFPQ_M, n_codes=IVFPQ_K,
            train_mod=IVFPQ_TRAIN_MOD, quantizer="first",
        )

    cb = S.trained_artifact(
        spark,
        ("ivfpq_codebooks", sf_dir, IVFPQ_CELLS, IVFPQ_M, IVFPQ_K, IVFPQ_TRAIN_MOD),
        build,
    )
    codes = S.cached_index(
        ("ivfpq_codes", sf_dir, IVFPQ_CELLS, IVFPQ_M, IVFPQ_K, IVFPQ_TRAIN_MOD),
        lambda: S.ivf_pq_encode(
            tables(spark, sf_dir, "embeddings")[0], cb, n_cells=IVFPQ_CELLS,
            m=IVFPQ_M, train_mod=IVFPQ_TRAIN_MOD, quantizer="first",
        ),
    )
    return S.ivf_pq_topk(
        emb, queries, k=K, n_cells=IVFPQ_CELLS, nprobe=IVFPQ_NPROBE,
        m=IVFPQ_M, n_codes=IVFPQ_K, train_mod=IVFPQ_TRAIN_MOD,
        quantizer="first", rerank=IVFPQ_RERANK, codebooks=cb, codes=codes,
    )


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    sc AS (SELECT vec_id, v,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(v, x -> abs(x))),
                    (acc, x) -> greatest(acc, x)) / CAST(127.0 AS DOUBLE) AS scale
           FROM e),
    cd AS (SELECT vec_id, v, scale,
                  list_transform(v, x -> CASE WHEN scale = CAST(0.0 AS DOUBLE) THEN 0
                    ELSE CAST(greatest(CAST(-127 AS DOUBLE), least(CAST(127 AS DOUBLE),
                         floor(x / scale + CAST(0.5 AS DOUBLE)))) AS INT) END) AS codes
           FROM sc),
    dq AS (SELECT vec_id, scale, codes, v,
                  list_transform(codes, c -> CAST(c AS DOUBLE) * scale) AS d
           FROM cd)
    SELECT vec_id, scale, array_to_string(codes, ',') AS codes_csv,
           {_dot("v", "d")} / (sqrt({_dot("v", "v")}) * sqrt({_dot("d", "d")})) AS cos_recon
    FROM dq
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Scalar int8 embedding quantization (ext/similarity.quantize_int8) —
    the STORAGE-side compression op (4× vs float32; PQ is the search-side
    counterpart): per-vector symmetric scale, floor(x/s + 0.5) codes (not
    round(), whose half-way rule differs across engines), and the
    reconstruction cosine as the quality metric. Every step is pure IEEE
    double arithmetic, so the oracle replays scale, every code, and the
    reconstruction cosine bit-for-bit; codes serialize to CSV for the
    scalar-only output contract."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    q = S.quantize_int8(emb)
    return q.select(
        "vec_id",
        "scale",
        F.array_join("codes", ",").alias("codes_csv"),
        (
            S.dot_ieee(F.col("_orig"), F.col("_v"))
            / (S.norm(F.col("_orig")) * F.col("_norm"))
        ).alias("cos_recon"),
    )


def _hybrid_rrf_oracle() -> str:
    from pypeln_spark.ext.text import sql_bm25_topk

    from .text import _BM25_TERMS

    bm25 = sql_bm25_topk(_BM25_TERMS, k=20)
    return f"""
    WITH {_E_CTE},
    sp AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rs
      FROM ({bm25}) bm
    ),
    dscored AS (
      SELECT c.vec_id AS doc_id, {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id = 0 AND c.vec_id <> 0
    ),
    de AS (
      SELECT doc_id, rd FROM (
        SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT) AS rd
        FROM dscored)
      WHERE rd <= 20
    ),
    f AS (
      SELECT COALESCE(sp.doc_id, de.doc_id) AS doc_id, sp.rs, de.rd
      FROM sp FULL OUTER JOIN de ON sp.doc_id = de.doc_id
    )
    SELECT doc_id, rs AS rank_arm0, rd AS rank_arm1,
           (CASE WHEN rs IS NULL THEN 0.0e0
                 ELSE 1.0e0 / (60.0e0 + CAST(rs AS DOUBLE)) END
          + CASE WHEN rd IS NULL THEN 0.0e0
                 ELSE 1.0e0 / (60.0e0 + CAST(rd AS DOUBLE)) END) AS rrf_score
    FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10
    """


@register("search_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def search_hybrid_rrf(spark, sf_dir):
    """HYBRID retrieval via reciprocal-rank fusion (ext/text.rrf_fuse) —
    the RAG-pipeline default for combining incomparably-scaled retrievers:
    the sparse arm is BM25 over the fixed keyword query, the dense arm is
    exact-cosine top-20 for the request's embedding (vector 0; doc and
    vec ids are aligned 1:1), and RRF scores 1/(60+rank) per arm, summed
    in arm order. Rank arithmetic only, so fused scores and ordering are
    bit-identical in the oracle. Fusion cost ∝ Σ arm top-k, independent
    of corpus size."""
    from pyspark.sql import Window, functions as F

    from pypeln_spark.ext import text as X

    from .text import _BM25_TERMS

    docs, emb = tables(spark, sf_dir, "documents", "embeddings")
    # unpartitioned window by design: bm25_topk already truncated to k=20
    # rows, so the global row_number ranks a constant-size frame
    sparse = X.bm25_topk(docs, _BM25_TERMS, k=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("int")
        .alias("rank"),
    )
    dense = S.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("int").alias("rank")
    )
    return X.rrf_fuse([sparse, dense], id_col="doc_id", k_rrf=60, topk=10)


@register(
    "ann_recall_eval_ivf",
    # RETIRED r13: a scaffolding variant whose parameters two later
    # entries now sweep — ann_recall_eval_ivf_kmeans covers the quantizer
    # axis (five arms incl. this entry's 'first' quantizer, on BOTH query
    # sets, exposing this arm's documented query⊆centroid confound) and
    # ann_recall_eval_nprobe covers the nprobe axis on the confound-free
    # disjoint query set. Same retrieval + recall-rollup code path, equal
    # oracle structure, strictly stronger coverage in the survivors.
    retired_by="ann_recall_eval_ivf_kmeans",
    oracle=f"""
    WITH {_E_CTE},
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    ex_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM ex_scored)
      WHERE rank <= {K}
    ),
    cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < {N_CELLS}),
    ascore AS (
      SELECT x.vec_id, x.v, x.nrm, c.cid,
             {_dot("x.v", "c.cv")} / (x.nrm * c.cn) AS ccos
      FROM n x JOIN cent c ON TRUE
    ),
    ranked AS (
      SELECT vec_id, v, nrm, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crank
      FROM ascore
    ),
    cells AS (SELECT vec_id, v, nrm, cid FROM ranked WHERE crank = 1),
    probes AS (SELECT vec_id, v, nrm, cid FROM ranked
               WHERE crank <= {NPROBE} AND vec_id < {N_QUERIES}),
    iv_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM probes q JOIN cells c ON q.cid = c.cid AND q.vec_id <> c.vec_id
    ),
    iv_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM iv_scored)
      WHERE rank <= {K}
    ),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM ex_top x JOIN iv_top i
        ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
      GROUP BY x.query_id
    ),
    base AS (SELECT query_id, COUNT(*) AS n_exact FROM ex_top GROUP BY query_id)
    SELECT b.query_id, b.n_exact,
           COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE)
             AS recall
    FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
    """,
)
def ann_recall_eval_ivf(spark, sf_dir):
    """Retrieval-quality EVALUATION: recall@k of the IVF retriever against
    the exact brute-force ground truth, per query — the measurement every
    ANN deployment runs before trading recall for speed (FAISS's
    eval loop as a query). Both retrievers are the registry's own
    deterministic pipelines, so the oracle replays retrieval AND
    ground truth and the recall numbers themselves are value-checked.
    Scale: ground truth is computed on a SAMPLE of queries (here the
    N_QUERIES query set) — the corpus-side cost is the guarded brute-force
    baseline's, which is exactly why recall eval runs on samples, not the
    full query log.

    READ WITH CARE (r8): this arm's high absolute recall is partly a
    query/centroid coincidence — the 'first' quantizer's centroids are
    vec_id < 16 ⊇ this query set (vec_id < 10), so each query's cell is
    centered on the query itself. Kept unchanged as the
    production-shaped 'queries drawn from the indexed corpus' reading;
    for quantizer COMPARISONS use ann_recall_eval_ivf_kmeans's
    disjoint-query arms, which remove the coincidence."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    ex = (
        _exact_topk(spark, sf_dir)
        .filter(F.col("query_id") < N_QUERIES)
        .select("query_id", "neighbor_id")
    )
    iv = S.ivf_topk(
        emb, queries, k=K, n_cells=N_CELLS, nprobe=NPROBE,
        cells=_first_cells(spark, sf_dir),
    ).select("query_id", "neighbor_id")
    return _recall_table(ex, iv)


@register(
    "ann_recall_eval_lsh",
    oracle=f"""
    WITH {_E_CTE},
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    ex_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM ex_scored)
      WHERE rank <= {K}
    ),
    bktd AS (SELECT vec_id, v, nrm, CAST({_BUCKET} AS BIGINT) AS bucket FROM n),
    ls_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM bktd q JOIN bktd c ON q.bucket = c.bucket
       AND q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    ls_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM ls_scored)
      WHERE rank <= {K}
    ),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM ex_top x JOIN ls_top l
        ON l.query_id = x.query_id AND l.neighbor_id = x.neighbor_id
      GROUP BY x.query_id
    ),
    base AS (SELECT query_id, COUNT(*) AS n_exact FROM ex_top GROUP BY query_id)
    SELECT b.query_id, b.n_exact,
           COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE)
             AS recall
    FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
    """,
)
def ann_recall_eval_lsh(spark, sf_dir):
    """recall@k of the single-probe hyperplane-LSH retriever against exact
    ground truth — the companion to ann_recall_eval_ivf, so BOTH scale
    paths carry a value-checked quality measurement (single-probe LSH is
    the recall-lossy extreme; comparing the two recall tables is exactly
    the tuning loop a deployment runs when choosing n_planes/probes vs
    nprobe). Same sampled-query-set cost shape."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    ex = (
        _exact_topk(spark, sf_dir)
        .filter(F.col("query_id") < N_QUERIES)
        .select("query_id", "neighbor_id")
    )
    ls = S.ann_lsh_topk(emb, queries, k=K, n_planes=N_PLANES, dim=DIM).select(
        "query_id", "neighbor_id"
    )
    return _recall_table(ex, ls)


def _ivf_recall_arm_sql(name: str, cent_final: str, q_pred: str, ex_top: str) -> str:
    """One quantizer×query-set arm of the multi-arm IVF recall oracle:
    assignment CTEs live OUTSIDE (shared per centroid set); this emits the
    probes/iv/rollup chain and the arm's SELECT (caller UNION ALLs)."""
    a = name
    return f"""
    probes_{a} AS (SELECT vec_id, v, nrm, cid FROM ascore_{cent_final}
               WHERE crank <= {KMEANS_NPROBE} AND {q_pred}),
    iv_top_{a} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_dot("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id)
                 AS rank
        FROM probes_{a} q
        JOIN cells_{cent_final} c ON q.cid = c.cid AND q.vec_id <> c.vec_id)
      WHERE rank <= {K}
    ),
    arm_{a} AS (
      SELECT '{a}' AS quantizer, b.query_id, b.n_exact,
             COALESCE(h.n_hits, 0) AS n_hits,
             CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE)
               AS recall
      FROM (SELECT query_id, COUNT(*) AS n_exact FROM {ex_top} GROUP BY query_id) b
      LEFT JOIN (
        SELECT x.query_id, COUNT(*) AS n_hits
        FROM {ex_top} x JOIN iv_top_{a} i
          ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
        GROUP BY x.query_id) h
      ON h.query_id = b.query_id
    )"""


def _ivf_recall_oracle() -> str:
    """The 5-arm quantizer-comparison oracle: exact ground truth per query
    set, one shared assignment per centroid set (km / pp / f), one
    probes+rollup chain per arm."""
    q_o = f"vec_id < {N_QUERIES}"
    q_d = f"vec_id >= {DQ_LO} AND vec_id < {DQ_HI}"
    ex_tops = ""
    for tag, pred in (("o", q_o), ("d", q_d)):
        ex_tops += f""",
    ex_top_{tag} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_dot("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id)
                 AS rank
        FROM n q JOIN n c ON ({pred.replace('vec_id', 'q.vec_id')})
                         AND q.vec_id <> c.vec_id)
      WHERE rank <= {K}
    )"""
    cent_sets = f""",
    cent_f AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
               WHERE vec_id < {N_CELLS})"""
    assigns = ""
    for cs, final in (("km", _KM_FINAL), ("pp", _KM_PP_FINAL), ("f", "cent_f")):
        assigns += f""",
    ascore_{cs} AS (
      SELECT x.vec_id, x.v, x.nrm, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
               ORDER BY {_dot("x.v", "c.cv")} / (x.nrm * c.cn) DESC, c.cid)
               AS crank
      FROM n x JOIN {final} c ON TRUE
    ),
    cells_{cs} AS (SELECT vec_id, v, nrm, cid FROM ascore_{cs} WHERE crank = 1)"""
    arms = [
        ("kmeans", "km", q_o, "ex_top_o"),
        ("kmeans_pp", "pp", q_o, "ex_top_o"),
        ("first_dq", "f", q_d, "ex_top_d"),
        ("kmeans_dq", "km", q_d, "ex_top_d"),
        ("kmeans_pp_dq", "pp", q_d, "ex_top_d"),
    ]
    arm_sql = ",".join(_ivf_recall_arm_sql(*a) for a in arms)
    union = "\n    UNION ALL\n    ".join(f"SELECT * FROM arm_{a[0]}" for a in arms)
    return (
        f"WITH {_E_CTE}{ex_tops},\n    {_KM_CTE},\n    {_KM_PP_CTE}"
        f"{cent_sets}{assigns},{arm_sql}\n    {union}"
    )


@register("ann_recall_eval_ivf_kmeans", oracle=_ivf_recall_oracle())
def ann_recall_eval_ivf_kmeans(spark, sf_dir):
    """recall@k of the IVF retriever, FIVE quantizer×query-set arms side
    by side — the table that corrects r7's headline with data twice over:

    - ``kmeans`` (queries vec_id < 10): r7's 0.40-at-sf0.1 reading,
      unchanged for continuity.
    - ``kmeans_pp``: the r8 kmeans++-seeded quantizer (VERDICT r7 #8 —
      deterministic D²×hash-uniform race, kmeans_centroids
      seeding="plusplus").
    - ``first_dq`` / ``kmeans_dq`` / ``kmeans_pp_dq``: the SAME retrieval
      on a query set DISJOINT from every centroid id (vec_id 100-109),
      which exposes that r7's 'frozen quantizer reads 0.98' was a
      MEASUREMENT CONFOUND, not quantizer quality: the 'first' centroids
      are vec_id < 16 ⊇ the vec_id < 10 queries, so each overlapping
      query's cell is centered on the query itself and its top-k is
      near-guaranteed to share it. On disjoint queries the frozen
      quantizer drops to ~0.2 — BELOW the trained arms — and all three
      quantizers sit in the same band: on this unstructured corpus, IVF
      recall at nprobe=2/16 is governed by partition physics
      (near-threshold neighbors only weakly co-locate), not by quantizer
      training. kmeans++ seeding buys a modest, real lift over hash
      seeding (measured in-table); the step change needs more nprobe.
      Numbers in SCALING.md.

    Centroids come from the train-once artifacts (hash and plusplus keys);
    the oracle replays BOTH trainings (the plusplus seed race unrolled),
    all three assignments, probing, ranking and the recall arithmetic."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    q_o = emb.filter(F.col("vec_id") < N_QUERIES)
    q_d = emb.filter((F.col("vec_id") >= DQ_LO) & (F.col("vec_id") < DQ_HI))
    q_all = q_o.unionByName(q_d)
    # ground truth for BOTH query sets from the session exact-topk cache
    # (_exact_topk — covers exactly this union), split by id
    ex_all = _exact_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ex_o = ex_all.filter(F.col("query_id") < N_QUERIES)
    ex_d = ex_all.filter(F.col("query_id") >= DQ_LO)
    km, km_cells, km_lits = _kmeans_cells(spark, sf_dir)
    pp, pp_cells, pp_lits = _kmeans_cells(spark, sf_dir, seeding="plusplus")

    # the corpus assignment per trained centroid set comes from the
    # session cells index (_kmeans_cells — shared with the ANN/SemDeDup
    # entries; bit-identical to assigning here), probing both query sets
    # in the same run and splitting afterwards — so an invocation pays 2
    # probe assignments + 1 frozen-arm corpus assignment for 5 arms (the
    # oracle shares its ascore CTEs per centroid set the same way).
    # Query sets are id-disjoint, so the split is a pure filter of the
    # ranked output.
    def split_arms(cents, cells, lits, quantizer, name_o, name_d):
        iv = S.ivf_topk(
            emb, q_all, k=K, n_cells=N_CELLS, nprobe=KMEANS_NPROBE,
            quantizer=quantizer, kmeans_iters=KMEANS_ITERS,
            train_mod=KMEANS_TRAIN_MOD, centroids=cents,
            quantizer_literals=lits, cells=cells,
        ).select("query_id", "neighbor_id")
        parts = []
        for name, ex, pred in (
            (name_o, ex_o, F.col("query_id") < N_QUERIES),
            (name_d, ex_d, F.col("query_id") >= DQ_LO),
        ):
            if name is None:
                continue
            parts.append(
                _recall_table(ex, iv.filter(pred)).select(
                    F.lit(name).alias("quantizer"), "query_id", "n_exact",
                    "n_hits", "recall",
                )
            )
        out = parts[0]
        for pdf in parts[1:]:
            out = out.unionByName(pdf)
        return out

    out = split_arms(km, km_cells, km_lits, "kmeans", "kmeans", "kmeans_dq")
    out = out.unionByName(
        split_arms(pp, pp_cells, pp_lits, "kmeans", "kmeans_pp", "kmeans_pp_dq")
    )
    # the frozen quantizer only carries the disjoint arm (its overlapping
    # reading is ann_recall_eval_ivf, documented there)
    return out.unionByName(
        split_arms(
            None, _first_cells(spark, sf_dir), None, "first", None, "first_dq"
        )
    )


def _recall_table(ex, approx):
    """(query_id, n_exact, n_hits, recall) — shared tail of the recall
    evals: intersect the approximate arm's top-k with the exact
    ground truth per query."""
    from pyspark.sql import functions as F

    hits = (
        ex.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = ex.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
        )
        .withColumn(
            "recall",
            F.col("n_hits").cast("double") / F.col("n_exact").cast("double"),
        )
    )


NPROBE_ARMS = (2, 4, 8)


def _nprobe_recall_oracle() -> str:
    """The nprobe-axis oracle (VERDICT r8 #4): kmeans quantizer, DISJOINT
    queries (the confound-free setting), one shared assignment, one
    probes/topk/recall/n_scored chain per nprobe arm. n_scored replays
    the arm's CANDIDATE COST — the corpus rows the probe join scores per
    query — so the recall-vs-cost tradeoff is itself value-checked."""
    q_pred = f"vec_id >= {DQ_LO} AND vec_id < {DQ_HI}"
    q_pred_q = f"q.vec_id >= {DQ_LO} AND q.vec_id < {DQ_HI}"
    ctes = f"""WITH {_E_CTE},
    {_KM_CTE},
    ex_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_dot("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id)
                 AS rank
        FROM n q JOIN n c ON {q_pred_q} AND q.vec_id <> c.vec_id)
      WHERE rank <= {K}
    ),
    ascore AS (
      SELECT x.vec_id, x.v, x.nrm, c.cid,
             ROW_NUMBER() OVER (PARTITION BY x.vec_id
               ORDER BY {_dot("x.v", "c.cv")} / (x.nrm * c.cn) DESC, c.cid)
               AS crank
      FROM n x JOIN {_KM_FINAL} c ON TRUE
    ),
    cells AS (SELECT vec_id, v, nrm, cid FROM ascore WHERE crank = 1)"""
    arms = []
    for a in NPROBE_ARMS:
        ctes += f""",
    probes_{a} AS (SELECT vec_id, v, nrm, cid FROM ascore
                   WHERE crank <= {a} AND {q_pred}),
    scored_{a} AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM probes_{a} q JOIN cells c ON q.cid = c.cid AND q.vec_id <> c.vec_id
    ),
    iv_top_{a} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored_{a})
      WHERE rank <= {K}
    ),
    nsc_{a} AS (SELECT query_id, COUNT(*) AS n_scored
                FROM scored_{a} GROUP BY query_id),
    arm_{a} AS (
      SELECT CAST({a} AS INTEGER) AS nprobe, b.query_id, b.n_exact,
             COALESCE(h.n_hits, 0) AS n_hits,
             CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE)
               AS recall,
             s.n_scored
      FROM (SELECT query_id, COUNT(*) AS n_exact FROM ex_top GROUP BY query_id) b
      LEFT JOIN (
        SELECT x.query_id, COUNT(*) AS n_hits
        FROM ex_top x JOIN iv_top_{a} i
          ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
        GROUP BY x.query_id) h
      ON h.query_id = b.query_id
      JOIN nsc_{a} s ON s.query_id = b.query_id
    )"""
        arms.append(f"SELECT * FROM arm_{a}")
    return ctes + "\n    " + "\n    UNION ALL\n    ".join(arms)


@register("ann_recall_eval_nprobe", oracle=_nprobe_recall_oracle())
def ann_recall_eval_nprobe(spark, sf_dir):
    """The NPROBE PRODUCTIONIZATION of the IVF story (VERDICT r8 #4): r8's
    5-arm quantizer eval established that on this corpus recall is
    governed by partition physics, and nprobe — not quantizer training —
    is the lever users actually tune (diagnostic readings 0.16→0.40→0.68
    at nprobe 2→4→8). This eval promotes that diagnostic into an
    oracle-replayed curve: recall@k AND candidate cost per query at
    nprobe ∈ {2, 4, 8}, kmeans quantizer, DISJOINT query set (vec_id
    100-109 — no query⊆centroid confound). ``n_scored`` is the corpus
    rows the probe join scores for that query — the cost denominator of
    the tradeoff: ~nprobe/n_cells of the corpus per query, the number a
    deployment balances against the measured recall column.

    Plan discipline: the corpus assignment serving all three arms is the
    SESSION cells index (_kmeans_cells — shared with the ANN/SemDeDup
    entries, bit-identical values); queries assign once at the LARGEST
    nprobe with the rank retained (ivf_assign with_rank) and each arm is
    a crank filter — the same share-the-expensive-pass structure as the
    5-arm quantizer eval, one step further (3 arms, 0 in-query corpus
    assignments). The oracle replays training, assignment, probing,
    ranking, recall AND the per-query candidate count."""
    from pyspark.sql import Window, functions as F

    from pypeln_spark.ext import dedup as D

    (emb,) = tables(spark, sf_dir, "embeddings")
    q_d = emb.filter((F.col("vec_id") >= DQ_LO) & (F.col("vec_id") < DQ_HI))
    D.retire_pipeline_caches()
    ex = (
        _exact_topk(spark, sf_dir)
        .filter(F.col("query_id") >= DQ_LO)
        .select("query_id", "neighbor_id")
    )
    ex.count()  # eager — one recall rollup per arm consumes it
    km, cells_idx, _ = _kmeans_cells(spark, sf_dir)
    cells = cells_idx.select(
        F.col("vec_id").alias("neighbor_id"), F.col("_v").alias("cv"),
        F.col("_norm").alias("cn"), "cid",
    )
    cells_idx.count()  # eager — every arm's probe join reads the lists
    probes_all = S.ivf_assign(
        S.with_norms(q_d), km, N_CELLS, keep=max(NPROBE_ARMS), with_rank=True
    ).select(
        F.col("vec_id").alias("query_id"), F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"), "cid", "crank",
    )

    out = None
    for np_ in NPROBE_ARMS:
        probes = probes_all.filter(F.col("crank") <= np_).drop("crank")
        scored = (
            cells.join(F.broadcast(probes), "cid")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "cos",
                S.dot_ieee(F.col("qv"), F.col("cv"))
                / (F.col("qn") * F.col("cn")),
            )
        )
        n_scored = scored.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_scored")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= K)
            .select("query_id", "neighbor_id")
        )
        arm = (
            _recall_table(ex, topk)
            .join(n_scored, "query_id")
            .select(
                F.lit(np_).cast("int").alias("nprobe"),
                "query_id", "n_exact", "n_hits", "recall", "n_scored",
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


@register(
    "ann_recall_eval_pq",
    oracle=f"""
    WITH {_E_CTE},
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    ex_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM ex_scored)
      WHERE rank <= {K}
    ),
    {_pq_ctes(PQ_M, PQ_K, DIM, PQ_TRAIN_MOD)},
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS srank
        FROM padc) WHERE srank <= {PQ_RERANK}
    ),
    rr AS (
      SELECT s.query_id, s.neighbor_id,
             {_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS score
      FROM shortlist s
      JOIN n c ON c.vec_id = s.neighbor_id
      JOIN n q ON q.vec_id = s.query_id
    ),
    pq_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rank
        FROM rr)
      WHERE rank <= {K}
    ),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM ex_top x JOIN pq_top p
        ON p.query_id = x.query_id AND p.neighbor_id = x.neighbor_id
      GROUP BY x.query_id
    ),
    base AS (SELECT query_id, COUNT(*) AS n_exact FROM ex_top GROUP BY query_id)
    SELECT b.query_id, b.n_exact,
           COALESCE(h.n_hits, 0) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE)
             AS recall
    FROM base b LEFT JOIN hits h ON h.query_id = b.query_id
    """,
)
def ann_recall_eval_pq(spark, sf_dir):
    """recall@k of the PQ-ADC + exact-rerank retriever against exact
    ground truth (VERDICT r5 #6) — completes the recall-eval trilogy so
    ALL three production ANN arms (IVF, LSH, PQ) carry an oracle-checked
    quality measurement, not just unit-tested recall. The oracle replays
    codebook training, corpus encode, LUT build, the subspace-ordered ADC
    fold, the rerank AND the recall arithmetic. Reuses the session-cached
    PQ codebooks/codes (same artifact keys as ann_pq_adc_topk), so back-
    to-back eval + retrieval never retrains. Same sampled-query-set cost
    shape as the other evals."""
    from pyspark.sql import functions as F

    (emb,) = tables(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    ex = (
        _exact_topk(spark, sf_dir)
        .filter(F.col("query_id") < N_QUERIES)
        .select("query_id", "neighbor_id")
    )

    def build():
        (e,) = tables(spark, sf_dir, "embeddings")
        return S.pq_train_codebooks(e, m=PQ_M, k=PQ_K, train_mod=PQ_TRAIN_MOD)

    cb = S.trained_artifact(
        spark, ("pq_codebooks", sf_dir, PQ_M, PQ_K, PQ_TRAIN_MOD), build
    )
    codes = S.cached_index(
        ("pq_codes", sf_dir, PQ_M, PQ_K, PQ_TRAIN_MOD),
        lambda: S.pq_encode(tables(spark, sf_dir, "embeddings")[0], cb, m=PQ_M),
    )
    pq = S.pq_adc_topk(
        emb, queries, k=K, m=PQ_M, n_codes=PQ_K,
        train_mod=PQ_TRAIN_MOD, rerank=PQ_RERANK, codebooks=cb, codes=codes,
    ).select("query_id", "neighbor_id")
    return _recall_table(ex, pq)
