"""Deduplication operators — exact and fuzzy — for training-data pipelines.

Scale design notes (the point of each implementation):

- **exact_dedup**: hash-groupBy on md5(text). One shuffle of (hash, id) —
  never the payload; at 100 TB you shuffle ~50 bytes/doc, not documents.
- **minhash_lsh**: shingle→minhash→band→bucket-join→verify, engineered so
  the per-shingle work NEVER shuffles: shingles live as a per-doc array
  column, all n minhashes come from ``array_min(transform(...))`` in one
  projection, and the only shuffles are the (tiny) band self-join and the
  candidate-pair verification — measured 3-4× faster than the exploded
  formulation at sf0.1 and asymptotically the right shape (shuffle bytes ∝
  docs, not shingles). Per-doc arrays bound memory by document length;
  multi-GB documents would need an exploded (id, shingle) formulation,
  which only the exact-ngram path builds.
- **simhash**: 32-bit fingerprints; near-dup candidates via the pigeonhole
  band trick (hamming ≤ 3 over 4 bytes → at least one byte equal) then
  exact hamming via bit_count(xor) — no O(n²).
- **ngram_jaccard**: the exact baseline. Candidate generation needs an
  inverted index (docs sharing ≥1 shingle), so this one DOES explode — the
  cost is why minhash_lsh exists.

Deterministic md5-based hashing (ext/hashing.py) makes every stage
reproducible cross-engine; the DuckDB oracles replay the identical pipeline.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import typing as tp

from pyspark.sql import DataFrame, Window, functions as F

from .hashing import MINHASH_PARAMS, P31, fast_h31, h31, shingles


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure a CPU-heavy narrow pipeline gets the cluster's parallelism.

    A single-file local input reads as ONE partition, serializing every
    narrow projection downstream (measured: the whole minhash pipeline on 1
    of 32 cores, 2× end-to-end). Repartition the raw side up to
    defaultParallelism; no-op when the input already has that many
    partitions — which a 100 TB source always does, so at scale this costs
    nothing."""
    if df.isStreaming:  # micro-batch sizing is the trigger's job
        return df
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_PIPELINE_CACHES: list = []


def retire_pipeline_caches() -> None:
    """Unpersist frames cached by PREVIOUS pipeline invocations.

    The persist points inside minhash/ngram pipelines are load-bearing for
    that run (each cache has 2-4 consumers), but nothing can unpersist them
    before the caller has consumed the lazily-evaluated result — so in a
    session that runs many pipelines back-to-back (the driver's 86-query
    correctness sweep, bench.py, a real notebook) caches from finished
    invocations pile up until the storage pool evicts under pressure.
    Measured locally: repeated sf0.1 LSH runs go 6s → 45s on an 8g heap once
    eviction thrash starts. Each pipeline entry point therefore retires the
    prior invocation's caches: at most one pipeline's working set is live at
    a time, which is also the right checkpoint discipline on a cluster.
    Re-executing an OLD result DataFrame afterwards silently recomputes
    instead of reading cache — correct, just cold."""
    while _PIPELINE_CACHES:
        df = _PIPELINE_CACHES.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:  # session already stopped, plan gone — harmless
            pass


def storage_pool_report(spark) -> dict:
    """Executor storage-pool occupancy: cached-RDD count, cached bytes in
    memory and on disk, and the pool's capacity — the observability half
    of the r8 pressure finding (VERDICT r8 #5): the sf1 text ingest gate
    measured 70.7 s inside a 40-query sweep vs 37.7 s isolated, because
    10 persist-heavy queries' session caches (cached_index frames —
    OUTSIDE the invocation pool retire_pipeline_caches drains) filled the
    pool and every gate persist evicted under thrash. bench.py records
    this per query and flags rows that ran with the pool above half
    capacity, so a pressured absolute number is never mistaken for an
    engine regression. Deployment mitigation, documented in SCALING.md:
    run persist-heavy gates in their own session scope
    (spark.newSession() shares the cluster but not the cache pool only on
    separate drivers — on one driver, size spark.memory.storageFraction
    for the co-resident working sets, or clear session caches
    (similarity.drop_index) between pipeline families)."""
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    mem = sum(i.memSize() for i in infos)
    disk = sum(i.diskSize() for i in infos)
    cap = 0
    it = jsc.getExecutorMemoryStatus().iterator()
    while it.hasNext():
        cap += it.next()._2()._1()
    return {
        "cached_rdds": len(infos),
        "mem_bytes": int(mem),
        "disk_bytes": int(disk),
        "capacity_bytes": int(cap),
    }


def pool_persist(df: DataFrame, level=None) -> DataFrame:
    """persist() + enroll in the invocation-scoped cache pool (see
    retire_pipeline_caches)."""
    from pyspark import StorageLevel

    df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _PIPELINE_CACHES.append(df)
    return df


def validate_sink_schema(decisions: DataFrame, sink_root: str) -> None:
    """Refuse to append a decisions frame whose columns differ from what
    ``sink_root`` already holds (ADVICE r11: a gate's sink schema depends
    on ``absorb_dedup`` — 4 vs 5 columns — so toggling the flag against an
    existing sink_root would append mixed-schema parquet, and plain reads
    then silently drop 'absorbed' for some rows or fail depending on which
    footer Spark samples). Called once per gate instance before its first
    write; a missing/empty sink is a fresh sink. Column NAMES *and TYPES*
    are the contract (order included — parquet readers resolve by name,
    but a reordered append is a symptom of the same misconfiguration, and
    a same-named column with a different type — e.g. an id_col that is
    long in one source and int in another — appends mixed-typed parquet
    whose reads then depend on which footer Spark samples: the exact
    nondeterministic-read class this guard exists for, ADVICE r12). Only
    AnalysisException (path not found / unable to infer schema — the
    two fresh-sink shapes) is treated as fresh: an I/O failure or
    corrupt footer must surface, not silently disarm the guard."""
    from pyspark.errors import AnalysisException

    try:
        existing = decisions.sparkSession.read.parquet(sink_root).schema
    except AnalysisException:
        return  # fresh sink: path absent or no parquet footers yet
    have = [(f.name, f.dataType.simpleString()) for f in existing.fields]
    want = [(f.name, f.dataType.simpleString()) for f in decisions.schema.fields]
    if have != want:
        raise ValueError(
            f"ingest-gate sink {sink_root!r} already holds decisions with "
            f"schema {have} but this gate writes {want} "
            "— absorb_dedup (and any other schema- or type-shaping option, "
            "including the source's id/text column types) must be "
            "fixed per sink_root; point the reconfigured gate at a fresh "
            "sink directory"
        )


QUADRATIC_GUARD_ROWS = 1_000_000


def guard_quadratic(df: DataFrame, what: str, allow_large: bool = False) -> None:
    """Refuse to run a deliberately-quadratic exact baseline on large input
    (VERDICT r1: the baselines must not be mistaken for prod paths). The
    check reads at most GUARD+1 rows (limit pushes into the scan). Pass
    ``allow_large=True`` to run anyway — you are choosing O(n²) on n>10⁶."""
    if allow_large:
        return
    if df.limit(QUADRATIC_GUARD_ROWS + 1).count() > QUADRATIC_GUARD_ROWS:
        raise ValueError(
            f"{what} is an exact quadratic baseline kept for oracle/ground-"
            f"truth use; input exceeds {QUADRATIC_GUARD_ROWS:,} rows. Use the "
            "bucketed production path (minhash_lsh_dedup / ann_lsh_topk / "
            "ivf_topk) instead, or pass allow_large=True to force it."
        )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One surviving id per distinct text. Returns (text_hash, keep_id, n_copies)."""
    return (
        spread(df).select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_arrays(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    hasher=None,
) -> DataFrame:
    """(id, sh_arr: array<long>) — per-doc distinct k-shingle hashes as one
    array column. No explode, no shuffle; the representation every
    narrow-only stage below builds on.

    ``hasher`` defaults to h31 (md5 — cross-engine auditable, the oracle
    path); pass hashing.fast_h31 (xxhash64, ~20× cheaper in transforms) for
    production runs that don't need engine-portable hashes. (A char-code
    polynomial alternative measured SLOWER than md5: higher-order exprs run
    interpreted, so per-element node count dominates, not hash cost.)"""
    hasher = hasher or h31
    return df.select(
        F.col(id_col),
        F.transform(shingles(F.col(text_col), k), hasher).alias("sh_arr"),
    )


def minhash_signatures_wide(
    doc_sh: DataFrame, id_col: str = "doc_id", n_hashes: int = 32,
    keep: tp.Sequence[str] = (),
) -> DataFrame:
    """(id, sig: array<long>[n_hashes]) — ALL signatures from ONE fold over
    the shingle array: the accumulator is the running per-function minima,
    each shingle updates all n via zip_with. One traversal, no intermediate
    n_hashes-sized arrays per hash function (the per-function
    array_min(transform) formulation re-walks the shingles n times).
    ``keep`` carries extra input columns through (the combined-absorb
    frame wants sh_arr next to the signature)."""
    params = "array(" + ",".join(
        f"named_struct('a', CAST({a} AS BIGINT), 'b', CAST({b} AS BIGINT))"
        for a, b in MINHASH_PARAMS[:n_hashes]
    ) + ")"
    expr = f"""
    aggregate(
      sh_arr,
      array_repeat(CAST({P31} AS BIGINT), {n_hashes}),
      (acc, h) -> zip_with(acc, {params}, (m, p) -> least(m, (p.a * h + p.b) % {P31}))
    )
    """
    return doc_sh.select(
        F.col(id_col), *[F.col(c) for c in keep], F.expr(expr).alias("sig")
    )


def shingle_sigs_np(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_hashes: int = 32,
) -> DataFrame:
    """(id, sh_arr, sig) in ONE Arrow/numpy pass — the vectorized twin of
    ``shingle_arrays`` + ``minhash_signatures_wide``.

    Same frozen md5 family (hashing.py_h31 lockstep), same first-occurrence
    shingle order, so outputs are BIT-IDENTICAL to the Catalyst path
    (tested) — but the per-shingle md5 and the n_hashes-way min-fold run in
    Python/numpy instead of Spark's *interpreted* higher-order expressions,
    which r1 measured as the dominant cost of the LSH pipeline. The fold is
    one `(a*h+b) % p` vector op + `minimum.reduceat` per hash function over
    the batch's concatenated shingle hashes; a per-partition md5 memo
    exploits cross-document shingle repetition. NULL text hashes as ''.

    Scale shape: narrow mapInPandas — no shuffle, parallelism = input
    partitions, memory bounded per Arrow batch. The trade vs Catalyst is a
    Python worker hop; it wins because the JVM path is interpreted, not
    codegen, for higher-order functions."""
    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("sh_arr", T.ArrayType(T.LongType())),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    ab = [(int(a), int(b)) for a, b in MINHASH_PARAMS[:n_hashes]]

    def op(batches):
        import hashlib

        import pandas as pd

        cache: dict = {}

        def sh_hashes(text: str):
            # distinct shingles in FIRST-OCCURRENCE order = exactly
            # array_distinct(transform(sequence, substring)) semantics
            n = max(len(text) - (k - 1), 1)
            seen: dict = {}
            for i in range(n):
                s = text[i : i + k]
                if s not in seen:
                    h = cache.get(s)
                    if h is None:
                        h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P31
                        cache[s] = h
                    seen[s] = h
            return list(seen.values())

        for pdf in batches:
            if len(pdf) == 0:
                continue
            if len(cache) > 2_000_000:  # bound the memo across huge partitions
                cache.clear()
            hl = [
                np.fromiter(
                    sh_hashes(t if t is not None else ""), dtype=np.int64
                )
                for t in pdf[text_col]
            ]
            lens = np.fromiter((len(x) for x in hl), dtype=np.int64, count=len(hl))
            conc = np.concatenate(hl)
            starts = np.zeros(len(hl), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # one pass per hash fn keeps peak memory at O(total shingles),
            # not O(total × n_hashes)
            sig_cols = [
                np.minimum.reduceat((a * conc + b) % P31, starts)
                for a, b in ab
            ]
            sigs = np.stack(sig_cols, axis=1)  # (n_docs, n_hashes)
            # numpy arrays (not Python lists) in the object columns: Arrow
            # converts them zero-copy-ish — measured the cheaper hop for
            # ~10^6-element array columns
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "sh_arr": pd.Series(hl, dtype="object"),
                    "sig": pd.Series(list(sigs), dtype="object"),
                }
            )

    return df.select(id_col, text_col).mapInPandas(op, schema=schema)


def minhash_signatures(
    df_or_doc_sh: DataFrame, id_col: str = "doc_id", n_hashes: int = 32
) -> DataFrame:
    """Long form (id, j, mh) — the auditable signature table. Accepts either
    a raw documents frame or a shingle_arrays frame."""
    doc_sh = (
        df_or_doc_sh
        if "sh_arr" in df_or_doc_sh.columns
        else shingle_arrays(spread(df_or_doc_sh), id_col=id_col)
    )
    wide = minhash_signatures_wide(doc_sh, id_col, n_hashes)
    return wide.select(
        id_col, F.posexplode("sig").alias("j", "mh")
    )


def lsh_band_table(
    wide: DataFrame, id_col: str = "doc_id", bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(id, sigh, sig) — one row per (doc, band): the LSH INDEX
    representation. ``sigh`` = xxhash64(band, band-sig), a SCALAR join key
    (8 bytes through the shuffle partitioner and comparator instead of an
    array — measured ~20% cheaper); exactness is preserved by re-checking
    full band-sig equality after the hash match. This is also the state an
    incremental deployment maintains: append new docs' band rows, and
    dedup_against_corpus joins fresh batches against it."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return (
        wide.select(F.col(id_col), F.explode(band_structs).alias("bs"))
        .select(
            id_col,
            F.xxhash64(F.col("bs.band"), F.col("bs.sig")).alias("sigh"),
            F.col("bs.sig").alias("sig"),
        )
    )


def lsh_candidate_pairs(
    wide: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    bucket_cap: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing at least one LSH band bucket.

    Band rows from lsh_band_table, then a self-equi-join on the scalar band
    hash. At scale the join's shuffle bytes stay ∝ n_docs × bands,
    independent of document size — but the PAIRS a bucket emits are
    quadratic in its size, and real web corpora have degenerate buckets
    (boilerplate pages, mirror sites: dup clusters of 10^4-10^6 docs whose
    every band collides). ``bucket_cap`` is the production guard: buckets
    with ≤ cap members emit all pairs exactly as before; a HOT bucket
    (> cap) emits a STAR instead — each member pairs with the bucket's
    min-id representative — so its pair count drops from m(m-1)/2 to m-1
    while every member stays reachable from the representative. For the
    downstream connected-components clustering (the dedup keep-list) a
    giant bucket is near-certainly one dup cluster, and the star keeps it
    one component; what star mode gives up is the individual (member,
    member) verified edge inside hot buckets — pairs whose BOTH endpoints
    verify below threshold against the representative can fall out of the
    pair OUTPUT even when their direct similarity clears it. That trade is
    the standard one (it is why production dedup runs exact-dedup before
    LSH and caps bucket width); callers that need exhaustive hot-bucket
    pairs leave bucket_cap=None and accept the quadratic.

    Cost shape with a cap: one extra hash shuffle of the skinny band table
    (the size/rank window over (sigh, sig)); the self-join then only ever
    multiplies ≤ cap × cap rows per bucket key. At 100 TB a cap of ~10^3
    bounds the worst bucket at ~10^6 pairs where uncapped boilerplate
    buckets are 10^12-pair jobs that never finish."""
    banded = lsh_band_table(wide, id_col, bands, rows_per_band)
    if bucket_cap is None:
        a = banded.select(
            F.col(id_col).alias("id_a"), "sigh", F.col("sig").alias("sig_a")
        )
        b = banded.select(
            F.col(id_col).alias("id_b"), "sigh", F.col("sig").alias("sig_b")
        )
        return (
            a.join(b, "sigh")
            .filter((F.col("id_a") < F.col("id_b")) & (F.col("sig_a") == F.col("sig_b")))
            .select("id_a", "id_b")
            .distinct()
        )
    # Bucket identity is the exact (sigh, sig) pair the uncapped join
    # checks; one shuffle serves both window functions. row_number over
    # min-id order makes rank 1 the representative, so star pairs keep
    # id_a < id_b for free.
    bw = Window.partitionBy("sigh", "sig")
    ranked = banded.select(
        F.col(id_col),
        "sigh",
        "sig",
        F.count(F.lit(1)).over(bw).alias("bsz"),
        F.row_number().over(bw.orderBy(F.col(id_col))).alias("rnk"),
    )
    # ranked feeds FOUR consumers (both sides of the small-bucket self-join
    # plus the reps/members star join), and Catalyst prunes each branch
    # differently enough that no exchange is reused — unpersisted, the
    # band table and its window shuffle run 4× (verified in the formatted
    # plan). Same discipline as the pipeline's other shared stages.
    # ``persist=False`` (threaded from minhash_lsh_dedup, ADVICE r10)
    # honors the caller's lazy contract and accepts that 4× recompute.
    if persist:
        ranked = pool_persist(ranked)
        ranked.count()
    small = ranked.filter(F.col("bsz") <= bucket_cap)
    a = small.select(F.col(id_col).alias("id_a"), "sigh", F.col("sig").alias("sig_a"))
    b = small.select(F.col(id_col).alias("id_b"), "sigh", F.col("sig").alias("sig_b"))
    dense = (
        a.join(b, "sigh")
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("sig_a") == F.col("sig_b")))
        .select("id_a", "id_b")
    )
    hot = ranked.filter(F.col("bsz") > bucket_cap)
    reps = hot.filter(F.col("rnk") == 1).select(
        F.col(id_col).alias("id_a"), "sigh", F.col("sig").alias("sig_a")
    )
    members = hot.filter(F.col("rnk") > 1).select(
        F.col(id_col).alias("id_b"), "sigh", F.col("sig").alias("sig_b")
    )
    star = (
        members.join(reps, "sigh")
        .filter(F.col("sig_a") == F.col("sig_b"))
        .select("id_a", "id_b")
    )
    return dense.unionByName(star).distinct()


def jaccard_pairs_from_candidates(
    pairs: DataFrame,
    doc_sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.7,
    measure: str = "jaccard",
) -> DataFrame:
    """Exact Jaccard for candidate pairs: join each side's shingle ARRAY onto
    the pair row, one vectorized array_intersect per pair. Two hash joins on
    doc ids; zero per-shingle shuffle. Integer sizes → double division:
    deterministic.

    ``measure="containment"`` swaps the denominator for min(|A|, |B|) —
    max-containment, the quote/subset-duplication detector: a short doc
    fully embedded in a long one scores 1.0 where Jaccard stays low
    (|A∩B|/|A∪B| shrinks with the size gap). Same joins, same intersect;
    only the final scalar changes, and the output column is named
    ``containment``.

    The explicit repartition on the pair side is load-bearing: AQE sizes the
    candidate shuffle by the bytes it WRITES (skinny (id_a, id_b) rows) and
    coalesces it to a couple of partitions — but the join then widens every
    row with two shingle arrays and the array_intersect compute lands on
    those few cores. Hashing pairs across defaultParallelism first keeps the
    verify stage compute-bound-parallel (measured 2× end-to-end at sf0.1);
    the extra shuffle moves only the skinny pair rows. On a big cluster the
    same reasoning holds — defaultParallelism tracks total cores, and a
    genuinely large pair table just keeps its AQE partitioning (repartition
    to ≥ cores is never a coalesce of real volume)."""
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, F.col("id_a")
    )
    a = doc_sh.select(F.col(id_col).alias("id_a"), F.col("sh_arr").alias("sh_a"))
    b = doc_sh.select(F.col(id_col).alias("id_b"), F.col("sh_arr").alias("sh_b"))
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    if measure == "containment":
        out_col = "containment"
        denom = F.least(F.size(F.col("sh_a")), F.size(F.col("sh_b")))
    elif measure == "jaccard":
        out_col = "jaccard"
        denom = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - F.col("n_inter")
    else:  # pragma: no cover
        raise ValueError(f"unknown measure {measure!r}")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", n_inter)
        .withColumn(out_col, F.col("n_inter").cast("double") / denom.cast("double"))
        .filter(F.col(out_col) >= threshold)
        .select("id_a", "id_b", out_col)
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    persist: bool = True,
    hasher=None,
    impl: str = "catalyst",
    measure: str = "jaccard",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline → verified (id_a, id_b, jaccard).

    ``bucket_cap`` forwards to lsh_candidate_pairs: hot band buckets
    (> cap members) emit representative-star pairs instead of all pairs —
    the guard that keeps boilerplate dup clusters from going quadratic at
    corpus scale (see lsh_candidate_pairs for the exact semantics trade).

    ``measure="containment"`` verifies candidates with max-containment
    |A∩B| / min(|A|, |B|) instead of Jaccard (see
    jaccard_pairs_from_candidates) — the quote/subset detector. Note the
    LSH candidate stage still recalls by JACCARD (MinHash collision
    probability is the Jaccard), so high-containment pairs with very
    skewed sizes may not surface as candidates; that selectivity is part
    of the spec and the oracle replays it.

    ``impl="numpy"`` swaps the shingle+signature stage for shingle_sigs_np
    (one vectorized Arrow pass, bit-identical outputs over the same frozen
    md5 family — ``hasher`` is ignored); banding/candidate/verify stay the
    same Catalyst plan. Measured the fastest end-to-end variant at sf0.1:
    the interpreted higher-order fold is the pipeline's cost center.

    Two persist points, both load-bearing (measured at sf0.1):

    - the shingle table feeds three consumers (signatures, both sides of the
      verify join); without a persist Spark recomputes the md5-shingling per
      consumer (~3× the dominant cost);
    - the signature table feeds BOTH sides of the band self-join, and the
      interpreted aggregate/zip_with fold is the single most expensive
      projection in the pipeline — unpersisted it runs once per join side
      plus once per verify path (11.2s → 5.4s end-to-end with the persist).

    MEMORY_AND_DISK is the production choice: spills instead of OOM, and at
    cluster scale these are the steps real dedup pipelines checkpoint to
    storage anyway. Both caches are tiny relative to input: shingles ∝ text
    length, signatures are n_hashes longs per doc. Caches from the PREVIOUS
    pipeline invocation are retired on entry (retire_pipeline_caches)."""
    retire_pipeline_caches()
    if impl == "numpy":
        both = shingle_sigs_np(spread(df), text_col, id_col, k, n_hashes)
        if persist:
            # ONE persist covers all four consumers (band join both sides +
            # verify join both sides) — the single-pass stage's other win
            both = pool_persist(both)
            both.count()
        doc_sh = both.select(id_col, "sh_arr")
        wide = both.select(id_col, "sig")
    else:
        doc_sh = shingle_arrays(spread(df), text_col, id_col, k, hasher=hasher)
        if persist:
            # eager materialization: downstream consumers racing to fill the
            # cache within one action would each recompute the projection
            doc_sh = pool_persist(doc_sh)
            doc_sh.count()
        wide = minhash_signatures_wide(doc_sh, id_col, n_hashes)
        if persist:
            wide = pool_persist(wide)
            wide.count()
    cand = lsh_candidate_pairs(
        wide, id_col, bands, n_hashes // bands,
        bucket_cap=bucket_cap, persist=persist,
    )
    return jaccard_pairs_from_candidates(cand, doc_sh, id_col, threshold, measure)


def build_corpus_index(
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    bucket_cap: int | None = None,
) -> tuple:
    """Build the persistent LSH index for dedup_against_corpus: (shingle
    arrays, band table, params). In a deployment both frames are TABLES
    maintained append-only as batches are absorbed; in-session, route each
    through similarity.cached_index so repeated batch absorptions (bench
    runs, notebooks) pay the corpus scan once. The third element records
    the (k, n_hashes, bands) the index was built with —
    dedup_against_corpus verifies them, because an index built with
    different shingling/banding parameters would silently match wrong.

    ``bucket_cap`` bounds the band table at the cap lowest-id rows per
    (sigh, sig) bucket — the batch-incremental form of the gates' hot
    bucket guard (IncrementalLshIndex.bucket_cap): a corpus boilerplate
    cluster otherwise makes every batch's candidate join pay its full
    width. One rank window at build time; min-id priority keeps exact-dup
    matches pointed at the same min-id member the uncapped index reports."""
    cor_sh = shingle_arrays(spread(corpus_df), text_col, id_col, k)
    cor_bands = lsh_band_table(
        minhash_signatures_wide(cor_sh, id_col, n_hashes),
        id_col, bands, n_hashes // bands,
    )
    if bucket_cap is not None:
        w = Window.partitionBy("sigh", "sig").orderBy(F.col(id_col))
        cor_bands = (
            cor_bands.withColumn("_rnk", F.row_number().over(w))
            .filter(F.col("_rnk") <= bucket_cap)
            .drop("_rnk")
        )
    # bucket_cap travels in the params dict so a capped index is
    # self-describing (reduced hot-bucket match sets are by DESIGN, and a
    # consumer can tell); dedup_against_corpus checks only the semantic
    # keys (k, n_hashes, bands) — a cap difference changes recall inside
    # hot buckets, not match correctness, so it is surfaced, not fatal
    return cor_sh, cor_bands, {
        "k": k, "n_hashes": n_hashes, "bands": bands, "bucket_cap": bucket_cap
    }


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: tp.Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    corpus_index: tp.Optional[tuple] = None,
) -> DataFrame:
    """INCREMENTAL near-dedup: match NEW documents against an EXISTING
    corpus — the daily-increment shape for a continuously crawled training
    set. Only new→corpus pairs form; no new×new or corpus×corpus work. The
    corpus contributes its band table and shingle arrays — exactly the
    state a deployment maintains as a persistent LSH index (append-only:
    lsh_band_table rows for each absorbed batch) — so the per-batch cost is
    ∝ |new| × bands for candidates plus the verify joins, while the corpus
    is scanned once, never self-joined. Pass ``corpus_index`` (from
    build_corpus_index, ideally via similarity.cached_index) to reuse a
    maintained index instead of rebuilding the corpus side per batch —
    ``corpus_df`` is then unused and may be omitted. An index carrying its
    build params (the 3-tuple build_corpus_index returns) is verified
    against this call's (k, n_hashes, bands): mismatched shingling or
    banding would otherwise produce silently wrong matches, not an error.
    Returns (new_id, corpus_id, jaccard) for matches ≥ threshold;
    anti-join new_df on new_id against this to keep only novel
    documents."""
    retire_pipeline_caches()
    if corpus_df is None and corpus_index is None:
        raise ValueError(
            "dedup_against_corpus: pass corpus_df or corpus_index "
            "(from build_corpus_index)"
        )
    if corpus_index is not None and len(corpus_index) >= 3:
        got = corpus_index[2]
        want = {"k": k, "n_hashes": n_hashes, "bands": bands}
        # compare only the semantic keys: extra self-describing entries in
        # the index params (bucket_cap) don't affect match correctness
        got = {kk: vv for kk, vv in got.items() if kk in want}
        if got != want:
            raise ValueError(
                f"dedup_against_corpus: corpus_index was built with {got}, "
                f"but this call uses {want} — matches would be silently "
                "wrong; rebuild the index or align the parameters"
            )
    rpb = n_hashes // bands
    # eager counts: each shingle table feeds its signature projection AND a
    # verify-join side — racing consumers within one action would each
    # recompute the md5 shingling (same discipline as minhash_lsh_dedup)
    new_sh = pool_persist(shingle_arrays(spread(new_df), text_col, id_col, k))
    new_sh.count()
    if corpus_index is not None:
        cor_sh, cor_band_raw = corpus_index[0], corpus_index[1]
    else:
        cor_sh = pool_persist(shingle_arrays(spread(corpus_df), text_col, id_col, k))
        cor_sh.count()
        cor_band_raw = lsh_band_table(
            minhash_signatures_wide(cor_sh, id_col, n_hashes), id_col, bands, rpb
        )
    new_bands = lsh_band_table(
        minhash_signatures_wide(new_sh, id_col, n_hashes), id_col, bands, rpb
    )
    return _verify_band_matches(
        new_sh, new_bands, cor_sh, cor_band_raw, id_col, threshold,
        new_sh.sparkSession.sparkContext.defaultParallelism,
    )


def _verify_band_matches(
    new_sh: DataFrame,
    new_bands: DataFrame,
    cor_sh: DataFrame,
    cor_bands: DataFrame,
    id_col: str,
    threshold: float,
    width: int,
) -> DataFrame:
    """(new_id, corpus_id, jaccard) for every new→corpus pair that shares a
    MinHash band and whose exact shingle-set Jaccard is ≥ ``threshold``:
    the band equi-join (new × index, never index × index), distinct pairs
    repartitioned by new_id to ``width`` tasks, then both shingle-array
    sides joined in and intersected. The batch dedup_against_corpus sizes
    ``width`` to defaultParallelism; the streaming text gate to the
    streaming scope's shuffle width, because 32 tasks on epoch-sized
    inputs is launch overhead.

    Both verify joins carry shuffle_hash hints: the shingle-array sides
    grow with the data and must never broadcast. Spark's size estimate for
    array columns runs low enough that the 64m session ceiling admitted a
    corpus broadcast at 10× data and the driver build ran out of memory."""
    nb = new_bands.select(
        F.col(id_col).alias("new_id"), "sigh", F.col("sig").alias("sig_n")
    )
    cb = cor_bands.select(
        F.col(id_col).alias("corpus_id"), "sigh", F.col("sig").alias("sig_c")
    )
    cand = (
        nb.join(cb, "sigh")
        .filter(F.col("sig_n") == F.col("sig_c"))
        .select("new_id", "corpus_id")
        .distinct()
        .repartition(width, F.col("new_id"))
    )
    a = new_sh.select(F.col(id_col).alias("new_id"), F.col("sh_arr").alias("sh_a"))
    b = cor_sh.select(F.col(id_col).alias("corpus_id"), F.col("sh_arr").alias("sh_b"))
    n_inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(a.hint("shuffle_hash"), "new_id")
        .join(b.hint("shuffle_hash"), "corpus_id")
        .withColumn("n_inter", n_inter)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (
                F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - F.col("n_inter")
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


@dataclasses.dataclass
class _Side:
    """One index side: an immutable base frame plus the one lineage-cut
    level leaf every absorb merges into, and under ``checkpoint_dir`` the
    files that hold them."""

    base: DataFrame
    level: tp.Optional[DataFrame] = None
    base_file: tp.Optional[str] = None
    level_file: tp.Optional[str] = None

    def view(self) -> DataFrame:
        return self.base if self.level is None else self.base.unionByName(self.level)


class IncrementalLshIndex:
    """LSH index state for a continuously-absorbing dedup gate (the
    streaming ingest gates, queries/streaming.py).

    The index is a set of named SIDES, each an immutable base frame plus
    one lineage-cut level leaf. A text index has two sides, ``sh``
    (shingle rows) and ``bands`` (band rows). An embedding index, built
    with ``comb=``, has one side, ``comb``: the sh and band columns in one
    row, (id, _v, _norm, bucket), the IVF layout in which an inverted
    list stores each vector with its cell. ``sh``, ``bands`` and ``comb``
    are views. On a text index they are the sides (``comb`` is None); on
    an embedding index ``comb`` is the side and ``sh``/``bands`` are its
    projections onto the columns of the ``sh``/``bands`` frames the
    constructor received.

    Every absorb merges the epoch's novel rows at once through
    ``compact()``. Rows reach the index only through a lineage cut, so
    each view stays at two plan leaves however long the stream runs (an
    uncut delta derives from the decisions join against the previous
    index, and a chain of them nests every earlier epoch's plan,
    SCALING.md "Compaction knee at depth"). One rule applies to each side:

    - with ``bucket_cap`` set, the side that carries the band key
      (``bands`` or ``comb``) becomes materialize(cap(view ∪ new)), a new
      base with no level;
    - every other side's level becomes materialize(level ∪ new), so a
      merge costs ∝ rows absorbed so far, never ∝ the corpus.

    A merge moves rows and never changes them; only the cap does. It
    drops an evicted band row; on a ``comb`` side it nulls the evicted
    row's bucket instead, so the vector stays stored (``sh``, ``size()``,
    retrain and a rebuild see it) while the ``bands`` and ``comb`` views,
    and so every probe, skip it.

    ``checkpoint_dir`` changes only what materialize produces: a parquet
    directory under it instead of a localCheckpoint (whose blocks are
    lost with their executor). A leveled side's base is copied once
    (``<side>_base``), each merge replaces the side's one numbered file,
    and ``MANIFEST.json`` naming the live files is published atomically
    before superseded files are removed: a crash leaks a file, never
    loses data. ``recover()`` rebuilds (sh, bands) from the manifest
    alone.

    The schedule is fixed at one merge per absorb (SCALING.md "Schedule
    fixed at one merge per absorb"); ``compact_every`` is accepted only
    as 1.

    The index never releases a frame the caller passed in; ``close()``
    releases the blocks of every leaf the index cut itself."""

    def __init__(
        self,
        sh: DataFrame,
        bands: DataFrame,
        compact_every: int = 1,
        checkpoint_dir: tp.Optional[str] = None,
        bucket_cap: tp.Optional[int] = None,
        comb: tp.Optional[DataFrame] = None,
    ):
        if compact_every != 1:
            raise ValueError(
                "IncrementalLshIndex merges on every absorb; compact_every "
                f"accepts only 1 (got {compact_every!r})"
            )
        # ``bucket_cap``: bound the width of every band bucket the gate
        # PROBES — the streaming twin of lsh_candidate_pairs' hot-bucket
        # star cap. A sub-threshold template family (pages similar enough
        # to share band signatures but below the dup threshold, so every
        # one is kept and absorbed) grows its buckets ∝ family size, and
        # every later epoch's candidate join pays that width; a cluster of
        # identical vectors shares one bucket at any hyperplane width or
        # centroid set. With a cap, the band-key side keeps only the
        # bucket_cap LOWEST-id rows per bucket — applied lazily to the
        # initial base here and re-applied at every merge and rebuild, so
        # width stays ≤ cap forever. Keeping the LOWEST ids makes the cap
        # decision-invariant for exact-dup traffic: the min-id member (the
        # survivor pick's target) always survives capping, so
        # dup_of/score match the uncapped gate bit-for-bit on any row that
        # matches a surviving member. The trade is recall on near-dups
        # whose ONLY matching members were evicted (test-pinned). Both
        # layouts keep every stored vector or shingle row: an embedding
        # index's evicted row keeps its vector under a null bucket, so a
        # retrain still trains on it and a rebuild can re-bucket it.
        # Convention: the band frame's FIRST column is the id; all other
        # columns form the bucket key ((sigh, sig) for MinHash band tables).
        self.bucket_cap = bucket_cap
        self.checkpoint_dir = checkpoint_dir
        self._n_rows: tp.Optional[int] = None  # lazy; reset by every merge
        self._cut: list = []  # in-session leaves this index cut (close())
        self._seq = 0  # durable file sequence
        if comb is None:
            self._cols = None
            self._sides = {"sh": _Side(sh), "bands": _Side(bands)}
        else:
            self._cols = {"sh": sh.columns, "bands": bands.columns}
            cols = dict.fromkeys(sh.columns + bands.columns)
            self._sides = {"comb": _Side(comb.select(*cols))}
        key = self._sides["bands" if comb is None else "comb"]
        key.base = self._cap(key.base)

    def _project(self, name: str) -> DataFrame:
        if self._cols is None:
            return self._sides[name].view()
        comb = self._sides["comb"].view()
        if name != "sh" and self.bucket_cap is not None:
            comb = comb.dropna(subset=self._cols["bands"][1:])  # evicted
        return comb if name == "comb" else comb.select(*self._cols[name])

    @property
    def sh(self) -> DataFrame:
        """The shingle or vector rows: (id, sh_arr) or (id, _v, _norm)."""
        return self._project("sh")

    @property
    def bands(self) -> DataFrame:
        """The band rows: (id, <bucket key>)."""
        return self._project("bands")

    @property
    def comb(self) -> tp.Optional[DataFrame]:
        """An embedding index's (id, _v, _norm, bucket) rows; None on a
        text index."""
        return None if self._cols is None else self._project("comb")

    def size(self) -> int:
        """Row count of the index: counts ``sh`` once after each merge and
        serves the cached count until the next one."""
        if self._n_rows is None:
            self._n_rows = self.sh.count()
        return self._n_rows

    def _cap(self, df: DataFrame) -> DataFrame:
        """Rank-filter a band-key frame (``bands``, or ``comb`` by the band
        columns) to the bucket_cap lowest-id rows per bucket (no-op
        without a cap). One hash shuffle, paid lazily at init and once per
        merge, never per probe."""
        if self.bucket_cap is None:
            return df
        cols = df.columns if self._cols is None else self._cols["bands"]
        idc, key = cols[0], cols[1:]
        # the first-column-is-id convention is validated, not trusted: a
        # misordered frame would otherwise silently cap by the wrong key.
        # The one unambiguous misorder signal is a frame whose first
        # column is not id-shaped while a later column is ((sigh, doc_id,
        # sig)). Frames with no `*_id` column anywhere keep the positional
        # trust, since an exotic id name is the caller's convention. A
        # bare "id" first column is id-shaped too ((id, band_id, sig) is
        # ordered: band_id is a bucket key), unless the index's own id
        # column (the sh frame's first column) appears later in the frame:
        # (id, doc_id, sig) against a doc_id-keyed index is the misorder.
        index_id = self.sh.columns[0]
        bare_id_shadows_real_id = (
            idc == "id" and index_id != "id" and index_id in key
        )
        if bare_id_shadows_real_id or (
            idc != "id" and not idc.endswith("_id")
            and any(c.endswith("_id") for c in key)
        ):
            raise ValueError(
                "IncrementalLshIndex: band frame must lead with the id "
                f"column (got columns {cols}; a '*_id' column appears "
                "after a non-id first column) — refusing to cap by a "
                "misinferred bucket key"
            )
        if self._cols is None:
            w = Window.partitionBy(*key).orderBy(F.col(idc))
            return (
                df.withColumn("_rnk", F.row_number().over(w))
                .filter(F.col("_rnk") <= self.bucket_cap)
                .drop("_rnk")
            )
        # a comb side nulls an evicted row's bucket; the id joins the
        # window key of null-bucket rows, so rows evicted earlier stay
        # spread across tasks instead of forming one ever-growing window
        k = F.col(key[0])
        w = Window.partitionBy(*key, F.when(k.isNull(), F.col(idc))).orderBy(idc)
        keep = F.row_number().over(w) <= self.bucket_cap
        return df.select(
            *[F.when(keep, F.col(c)).alias(c) if c in key else c for c in df.columns]
        )

    def absorb(self, nov_sh: DataFrame, nov_bands: DataFrame) -> None:
        """Merge one epoch's novel rows into a text index — a shingle
        frame and its band frame — through ``compact()``."""
        self.compact(nov_sh, nov_bands)

    def absorb_combined(self, comb: DataFrame) -> None:
        """Merge one epoch's novel (id, _v, _norm, bucket) rows into an
        embedding index through ``compact()``."""
        self.compact(new_comb=comb)

    def compact(
        self,
        new_sh: tp.Optional[DataFrame] = None,
        new_bands: tp.Optional[DataFrame] = None,
        new_comb: tp.Optional[DataFrame] = None,
    ) -> None:
        """Merge new rows into their sides by the class rule (a capped
        band-key side: materialize(cap(view ∪ new)); any other side:
        level = materialize(level ∪ new)), then publish the manifest and
        drop superseded durable files. A side given no rows keeps its
        layout; under ``checkpoint_dir`` it still gets its base copy, so
        the manifest names a file for every side."""
        new = {"sh": new_sh, "bands": new_bands, "comb": new_comb}
        given = {name for name, rows in new.items() if rows is not None}
        if not given <= self._sides.keys():
            raise ValueError(
                f"IncrementalLshIndex: rows for sides {sorted(given)}, but "
                f"the index has sides {sorted(self._sides)}"
            )
        stale = []
        for name, side in self._sides.items():
            rows = new[name]
            if rows is not None and self.bucket_cap is not None and name != "sh":
                stale += [side.base_file, side.level_file]
                base, path = self._materialize(
                    self._cap(side.view().unionByName(rows)), name
                )
                self._sides[name] = _Side(base, base_file=path)
                continue
            # every side the manifest lists has a file: a base copy first
            if self.checkpoint_dir and side.base_file is None:
                side.base_file = self._write(side.base, f"{name}_base")
            if rows is None:
                continue
            stale.append(side.level_file)
            side.level, side.level_file = self._materialize(
                rows if side.level is None else side.level.unionByName(rows),
                name,
            )
        self._publish(stale)

    def rebuild_combined(self, comb: DataFrame) -> None:
        """Replace an embedding index's whole ``comb`` side with a freshly
        derived (id, _v, _norm, bucket) frame: the cells gate's retrain
        re-assignment and the hyperplane gate's occupancy widen, each one
        narrow pass over the stored vectors (the standard IVF rebuild:
        re-add rewrites the lists, and the lists store vectors). The
        frame is re-capped under the new bucket geometry, materialized
        (it must not re-derive from the side it replaces) and becomes the
        side's base."""
        old = self._sides["comb"]
        base, path = self._materialize(self._cap(comb), "comb")
        self._sides["comb"] = _Side(base, base_file=path)
        self._publish([old.base_file, old.level_file])

    def _materialize(self, df: DataFrame, side: str):
        """One lineage cut, as (frame, durable file or None): a
        localCheckpoint (kept for close()) or, under checkpoint_dir, a
        parquet write and read of ``<dir>/<side>_<seq>``."""
        if not self.checkpoint_dir:
            cut = df.localCheckpoint(eager=True)
            self._cut.append(cut)
            return cut, None
        self._seq += 1
        path = self._write(df, f"{side}_{self._seq:05d}")
        return df.sparkSession.read.parquet(path), path

    def _write(self, df: DataFrame, name: str) -> str:
        path = self.checkpoint_dir.rstrip("/") + "/" + name
        df.write.mode("overwrite").parquet(path)
        return path

    def _publish(self, stale: list) -> None:
        """After a merge or rebuild: publish the live durable file set in
        MANIFEST.json (an atomic rename), then remove the superseded
        files, so a crash between the two leaks files and never loses
        data. Recovery is the union of each side's listed files. The
        manifest is written for local/shared-POSIX paths only; under a URI
        root the deployment's table format carries its role."""
        self._n_rows = None
        if not self.checkpoint_dir:
            return
        if "://" not in self.checkpoint_dir:
            m: dict = {
                name: [p for p in (s.base_file, s.level_file) if p is not None]
                for name, s in self._sides.items()
            }
            if self._cols is not None:
                m["columns"] = self._cols
            path = os.path.join(self.checkpoint_dir, "MANIFEST.json")
            with open(path + ".inprogress", "w") as f:
                json.dump(m, f)
            os.rename(path + ".inprogress", path)
        from pypeln_spark.streaming import remove_sink_dir

        spark = next(iter(self._sides.values())).base.sparkSession
        for p in stale:
            if p is not None:
                remove_sink_dir(spark, p)

    @staticmethod
    def recover(spark, checkpoint_dir: str):
        """Rebuild (sh, bands) from the durable dir ALONE — the
        executor-loss recovery path: read the manifest and union each
        side's live files (base copy + level file); an embedding index's
        views are projections of its ``comb`` side, ``bands`` without the
        rows a cap evicted. No session state is consulted."""
        with open(os.path.join(checkpoint_dir, "MANIFEST.json")) as f:
            m = json.load(f)

        def read(side: str) -> DataFrame:
            dfs = [spark.read.parquet(p) for p in m[side]]
            return functools.reduce(DataFrame.unionByName, dfs)

        if "comb" in m:
            comb, cols = read("comb"), m["columns"]
            return (
                comb.select(*cols["sh"]),
                comb.select(*cols["bands"]).dropna(subset=cols["bands"][1:]),
            )
        return read("sh"), read("bands")

    def close(self) -> None:
        """Release the blocks of every leaf this index cut in session —
        level leaves, rebuilt and capped bases — including leaves a later
        merge superseded. Frames the caller passed in are never touched,
        and durable files under checkpoint_dir are the deployment's index
        state and stay in place. A checkpointed frame's ``unpersist()`` is
        a no-op, so the release goes to the checkpointed RDD under the
        leaf's plan. The index's views are unusable afterwards."""
        for df in self._cut:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        self._cut = []


class IngestGate:
    """The foreachBatch body every streaming ingest gate runs, one epoch
    per call: prepare the arriving batch, probe and verify it against the
    index, pick one survivor per duplicate, append one decision row per
    arriving row to ``sink_root``, and absorb the novel rows into the
    index before the next epoch. Subclasses plug in only their pieces:

    - ``_prepare(batch)``: the persisted per-row frame (id plus signature);
    - ``_matches(new, n_new)``: verified (new_id, corpus_id, <score>) pairs,
      where ``n_new`` is the batch row count or None when unpaid;
    - ``score``: the score column's name;
    - ``_dedup_key()``: the exact-identity Column of absorb_dedup;
    - ``_absorb(novel, dropped)``: hand the novel rows to the index;
    - ``_after_absorb() -> widened``: an optional growth step;
    - ``_extra_stats()``: gate-specific ``stats`` keys.

    The survivor is the min corpus id (struct-min: corpus_id leads, so the
    attached score is that pair's). ``pick`` is pool-persisted because the
    decisions write and the absorb set's anti-join both read it; unpersisted,
    the probe + verify join (the epoch's dominant compute) re-ran per
    consumer (measured 3x per epoch at sf0.1). The batch count is paid only
    under ``collect_stats`` or when the gate's verify guard asks for it.

    Absorb: novel rows join the index with a lineage cut (every absorb
    merges into a materialized level leaf, IncrementalLshIndex docstring);
    the absorb set derives from this epoch's decisions against the current
    index, so an uncut plan would nest every earlier epoch's plan.

    ``absorb_dedup``: gates never compare a batch's rows against each
    other, so an identical-row flood (a mirror burst arriving in one
    micro-batch) would absorb in full and widen every later epoch's
    candidate join. With the flag on, the absorb set keeps only the min-id
    row per ``_dedup_key()`` (the exact identity, never a hash), which is
    the future survivor pick's target, so later decisions are bit-identical
    to storing every copy; distinct near-duplicates in one batch still
    both absorb. The decisions then carry ``absorbed``: TRUE exactly for
    the rows the index stored. The flag shapes the sink schema, so it is
    fixed per ``sink_root`` (``validate_sink_schema`` checks the first
    write).

    ``collect_stats`` appends one dict per epoch to ``stats``: ``epoch``
    (the processed-batch ordinal), ``n_new``, ``n_batch_dup`` (rows minus
    distinct dedup keys: the within-batch flood mass, invisible in dup_of
    because gates never compare a batch against itself; a sustained
    non-zero reading on a gate running ``absorb_dedup=False`` is the
    signal to turn it on), ``widened`` and the gate's extra keys.

    ``epoch_col`` (no-arg callable returning a Column) labels each
    decision's epoch; the default is the harness's ``epoch_id``, not the
    processed-batch ordinal, which skips empty micro-batches. Decisions
    append FROM THE EXECUTORS: on a cluster ``sink_root`` must be shared-FS
    (stream_sink_dir)."""

    score = "jaccard"

    def __init__(self, index, sink_root, id_col, epoch_col, absorb_dedup,
                 collect_stats):
        self.index = index
        self.sink_root = sink_root
        self.id_col = id_col
        self.epoch_col = epoch_col
        self.absorb_dedup = absorb_dedup
        self.collect_stats = collect_stats
        self.stats: list = []
        self._epoch = 0
        self._sink_checked = False

    def _after_absorb(self) -> bool:
        return False

    def _extra_stats(self) -> dict:
        return {}

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        retire_pipeline_caches()
        idc = self.id_col
        new = pool_persist(self._prepare(batch_df))
        key = self._dedup_key()
        n_new = new.count() if self.collect_stats else None
        if self.collect_stats:
            n_batch_dup = n_new - new.select(key).distinct().count()
        pick = pool_persist(self._matches(new, n_new).groupBy("new_id").agg(
            F.min(F.struct("corpus_id", self.score)).alias("m")
        ))
        epoch = (
            self.epoch_col() if self.epoch_col is not None
            else F.lit(int(epoch_id)).cast("int")
        )
        dropped = pick.select(F.col("new_id").alias(idc))
        novel = new.join(dropped, idc, "left_anti")
        if self.absorb_dedup:
            # the deduped set feeds the decisions write, the absorb and
            # its band derivation: persist + eager count, or the window
            # and the verify re-run per consumer
            w = Window.partitionBy(key).orderBy(F.col(idc))
            novel = pool_persist(
                novel.withColumn("_rnk", F.row_number().over(w))
                .filter(F.col("_rnk") == 1)
                .drop("_rnk")
            )
            novel.count()
        decisions = (
            batch_df.select(idc)
            .join(pick, F.col(idc) == F.col("new_id"), "left")
            .select(
                idc,
                epoch.alias("epoch"),
                F.col("m.corpus_id").alias("dup_of"),
                F.col(f"m.{self.score}").alias(self.score),
            )
        )
        if self.absorb_dedup:
            kept = novel.select(F.col(idc).alias("_kept_id"))
            decisions = decisions.join(
                kept, F.col(idc) == F.col("_kept_id"), "left"
            ).select(
                idc, "epoch", "dup_of", self.score,
                F.col("_kept_id").isNotNull().alias("absorbed"),
            )
        if not self._sink_checked:
            validate_sink_schema(decisions, self.sink_root)
            self._sink_checked = True
        decisions.write.mode("append").parquet(self.sink_root)
        self._absorb(novel, dropped)
        widened = self._after_absorb()
        if self.collect_stats:
            self.stats.append({
                "epoch": self._epoch, "n_new": n_new,
                "n_batch_dup": n_batch_dup, "widened": widened,
                **self._extra_stats(),
            })
        self._epoch += 1


class TextIngestGate(IngestGate):
    """The streaming TEXT ingest gate (queries/streaming.
    streaming_incremental_dedup and its variants): shingle and MinHash-band
    the arriving batch, band-join it against the index, verify by exact
    Jaccard, and absorb the novel docs. The per-epoch body is IngestGate's.

    Shingles and signatures run on the Catalyst path, not the numpy
    single pass (shingle_sigs_np) that wins in the batch pipeline: inside
    foreachBatch every epoch pays the mapInPandas worker round trip fresh,
    and measured bit-identical it was slower here (sf0.1 13.3 → 14.3 s,
    sf1 37.7 → 49.7 s).

    The batch's band rows are pool-persisted and feed both the probe and
    the absorb set (novel bands = batch bands minus the dropped ids), so
    the MinHash fold runs once per epoch. Under ``absorb_dedup`` the fold
    instead re-runs over the thinned novel set, which on a flood epoch is
    far smaller than the batch (caching the flooded batch's bands cost
    about +1 s on the flood row).

    The index keeps the text layout, two sides (``index.absorb``): a
    combined (sh_arr, bands) leaf measured +15% on this gate, because the checkpointed leaf
    is row-stored and every later band probe then deserializes the fat
    shingle arrays. The band join + verify also keeps its shuffle shape: a
    probe-side-broadcast variant needed two guard-count jobs per epoch and
    measured slower (4-row subset 32.3 → 34.9 s, OPTIMIZATION_r14.md).

    No occupancy trigger: MinHash band keys are (band, signature) pairs
    whose cardinality grows with the data, so there is no fixed bucket
    space to saturate.

    ``absorb_dedup`` keys on the sorted shingle array, the canonical set:
    equal shingle sets are indistinguishable to MinHash. Default False,
    because the registry oracles replay store-everything. Turn it on for
    web/crawl ingest, where mirror bursts are the norm: the window
    shuffles the novel set's shingle arrays once per epoch (clean stream
    sf0.1 +4.2%, sf1 +5.3%, decisions identical) and a flood epoch buys
    that back 3x over (SCALING.md "absorb_dedup priced on a CLEAN
    stream")."""

    def __init__(
        self,
        index: IncrementalLshIndex,
        sink_root: str,
        n_hashes: int,
        bands: int,
        shingle_k: int,
        threshold: float,
        id_col: str = "doc_id",
        text_col: str = "text",
        epoch_col=None,
        absorb_dedup: bool = False,
        collect_stats: bool = False,
    ):
        super().__init__(
            index, sink_root, id_col, epoch_col, absorb_dedup, collect_stats
        )
        self.n_hashes = n_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self.threshold = threshold
        self.text_col = text_col

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        return shingle_arrays(
            spread(batch_df), self.text_col, self.id_col, self.shingle_k
        )

    def _dedup_key(self):
        return F.array_sort("sh_arr")

    def _band_rows(self, sh: DataFrame) -> DataFrame:
        return lsh_band_table(
            minhash_signatures_wide(sh, self.id_col, self.n_hashes),
            self.id_col, self.bands, self.n_hashes // self.bands,
        )

    def _matches(self, new_sh: DataFrame, n_new) -> DataFrame:
        from pypeln_spark.streaming import shuffle_width

        self._new_bands = self._band_rows(new_sh)
        if not self.absorb_dedup:
            self._new_bands = pool_persist(self._new_bands)
        return _verify_band_matches(
            new_sh, self._new_bands, self.index.sh, self.index.bands,
            self.id_col, self.threshold, shuffle_width(new_sh.sparkSession),
        )

    def _absorb(self, novel: DataFrame, dropped: DataFrame) -> None:
        if self.absorb_dedup:
            novel_bands = self._band_rows(novel)
        else:
            novel_bands = self._new_bands.join(dropped, self.id_col, "left_anti")
        self.index.absorb(novel, novel_bands)


def span_dedup(
    df: DataFrame,
    window: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    stride: tp.Optional[int] = None,
) -> DataFrame:
    """Corpus-wide repeated-span accounting: split every document into
    ``window``-token chunks starting every ``stride`` tokens (default
    stride=window → non-overlapping), hash each chunk (frozen h31 family),
    and keep only the FIRST occurrence of each chunk corpus-wide (first =
    smallest (doc_id, chunk index)). Output one row per doc: (id, n_chunks,
    n_kept, kept_frac) — the windowed approximation of exact-substring
    dedup (Lee et al.'s suffix-array pass), which is what production
    pipelines run when the suffix array doesn't fit.

    stride < window is the OVERLAPPING (rolling-window) variant: the
    non-overlapping form only matches a repeated passage whose offset
    difference between two docs is a multiple of ``window``, so a
    duplicate shifted by e.g. half a window is invisible to it; with
    stride s every chunk start lands on a multiple of s, so shifts that
    are multiples of s (s=window/2 catches the half-window shift) align
    and are caught, at rows ∝ tokens/s — i.e. recall scales with 1/s at
    linear cost, stride=1 being the full rolling-hash pass. Shifts NOT
    ≡ 0 (mod s) remain invisible; closing those needs content-defined
    boundaries or a suffix array.

    Scale shape: chunking is a narrow posexplode (rows ∝ tokens/stride, no
    shuffle); first-occurrence selection is ONE hash-partitioned window over
    chunk_hash (high-cardinality key → even partitions, tiny groups); the
    per-doc rollup shuffles on doc_id. Nothing is quadratic and no text
    leaves the chunking projection — only (hash, doc, idx) triples shuffle,
    so bytes on the wire ∝ 24B per chunk whatever the document sizes."""
    s = window if stride is None else int(stride)
    if not (1 <= s <= window):
        raise ValueError(f"span_dedup: stride must be in [1, window], got {s}")
    # materialize the token array before the chunk transform references it
    # (r13 optimization round, same fix as cdc_chunk_dedup: the inlined
    # form re-evaluated split(text) once per chunk — O(tokens²/stride)
    # per doc; Catalyst does not CSE into lambda bodies)
    toks = F.split(F.col(text_col), " ")
    base = spread(df).select(id_col, toks.alias("_toks"))
    tcol = F.col("_toks")
    n_chunks = F.floor((F.size(tcol) + F.lit(s - 1)) / F.lit(s)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.array_join(F.slice(tcol, c * s + 1, window), " "),
    )
    rows = base.select(
        id_col, F.posexplode(chunks).alias("chunk_idx", "_chunk")
    ).select(id_col, "chunk_idx", h31(F.col("_chunk")).alias("_h"))
    rn = F.row_number().over(
        Window.partitionBy("_h").orderBy(F.col(id_col), F.col("chunk_idx"))
    )
    marked = rows.withColumn("_keep", (rn == 1).cast("long"))
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("_keep").alias("n_kept"),
    )
    kept_frac = F.col("n_kept").cast("double") / F.col("n_chunks").cast("double")
    return out.withColumn("kept_frac", kept_frac)


def sql_span_dedup(window: int = 16, stride: tp.Optional[int] = None) -> str:
    """DuckDB twin of span_dedup over the `documents` view."""
    from .hashing import sql_h31

    s = window if stride is None else int(stride)
    toks = "string_split(text, ' ')"
    return f"""
    WITH _t AS (SELECT doc_id, {toks} AS toks FROM documents),
    _c AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
             {sql_h31(f"array_to_string(list_slice(toks, u.i*{s}+1, u.i*{s}+{window}), ' ')")} AS _h
      FROM _t, UNNEST(range(0, (len(toks) + {s - 1}) // {s})) AS u(i)
    ),
    _m AS (
      SELECT doc_id, CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY _h ORDER BY doc_id, chunk_idx) = 1
             THEN 1 ELSE 0 END AS _keep
      FROM _c
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(_keep) AS BIGINT) AS n_kept,
           CAST(SUM(_keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS kept_frac
    FROM _m GROUP BY doc_id
    """


def cdc_chunk_dedup(
    df: DataFrame,
    divisor: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CONTENT-DEFINED chunking dedup — the shift-invariant substring pass
    span_dedup's docstring defers to. A token ENDS a chunk wherever its
    frozen hash satisfies ``h31(token) % divisor == 0`` (plus the forced
    final boundary), so chunk boundaries depend only on the local content:
    the same repeated passage chunks IDENTICALLY no matter what offset it
    sits at in each document. A duplicate shifted by ANY number of tokens —
    invisible to fixed-stride windows unless the shift ≡ 0 (mod stride) —
    shares every interior chunk here; only the boundary-straddling first/
    last chunks can differ. This is the FastCDC/rsync boundary idea applied
    at token granularity (window-1 gear: the boundary test hashes one
    token, which is what makes the whole pass a pure Catalyst projection).

    Expected chunk length = ``divisor`` tokens. No min/max chunk bound: a
    bound makes the boundary decision depend on the PREVIOUS boundary (a
    sequential per-doc scan); the unbounded form stays a data-parallel
    array expression, and a pathological boundary-free document degrades
    to one whole-doc chunk — i.e. exact dedup — never to an error.

    Measured recall (tools/substring_recall.py, planted arbitrary-shift
    overlaps; table in SCALING.md): with d=8, detection of a planted
    span reaches ≥95% by L≈3d tokens and 100% by L≈6d; token recall
    approaches 1 − ~2d/L (the boundary-straddling first/last partial
    chunks). Both residuals scale with ``divisor`` — pipelines needing
    ~8-token sensitivity run d=4 at exactly 2× rows, which is why no
    second-level pass exists: the knob already buys the same trade.

    Output one row per doc: (id, n_chunks, n_kept, n_tokens,
    kept_token_frac) where a chunk is "kept" iff it is the corpus-wide
    first occurrence of its content (smallest (doc_id, chunk_idx)), and
    the fraction is TOKEN-weighted (chunks vary in size, so chunk-counting
    would over-weight short chunks). All counts are exact integers; the
    single final division is the only float.

    Scale shape: identical to span_dedup — chunking is a narrow per-doc
    array projection + posexplode (rows ∝ tokens/divisor, no shuffle);
    first-occurrence selection is ONE hash-partitioned window over
    chunk_hash; the rollup shuffles on doc_id. Only (hash, doc, idx, len)
    rows ever shuffle — ~32 B/chunk regardless of document size."""
    d = int(divisor)
    if d < 1:
        raise ValueError(f"cdc_chunk_dedup: divisor must be >= 1, got {d}")
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # MATERIALIZE the token array and the boundary array as columns BEFORE
    # the chunk transform references them (r13 optimization round): the
    # chunk lambda reads ``ends`` at two call sites per chunk, and inlined
    # (the r12 form) each site re-evaluated the whole boundary expression —
    # a per-token h31 filter over the document — making chunking
    # O(tokens²/divisor) per doc instead of O(tokens); Catalyst does not
    # CSE across nested lambda bodies. Measured at sf0.1: the chunk-rows
    # projection 3.9 s → 0.6 s, same values bit-for-bit.
    base0 = spread(df).filter(n > 0).select(
        # sequence(1, 0) would DESCEND; empty docs have no chunks
        id_col, toks.alias("_toks"),
    )
    tcol = F.col("_toks")
    ends0 = F.filter(
        F.sequence(F.lit(1), F.size(tcol)),
        lambda i: h31(F.element_at(tcol, i)) % F.lit(d) == 0,
    )
    # CaseWhen is lazy per-branch; a plain `&` is not, and element_at(-1) on
    # an empty ends0 (a boundary-free doc) would throw under ANSI mode
    last_end = F.when(F.size(ends0) > 0, F.element_at(ends0, -1)).otherwise(
        F.lit(-1)
    )
    ends = F.when(last_end == F.size(tcol), ends0).otherwise(
        F.concat(ends0, F.array(F.size(tcol)))
    )
    base = base0.select(id_col, "_toks", ends.alias("_ends"))
    ecol = F.col("_ends")
    chunks = F.transform(
        ecol,
        lambda e, j: F.array_join(
            F.slice(
                F.col("_toks"),
                F.when(j == 0, F.lit(0)).otherwise(F.element_at(ecol, j)) + 1,
                e - F.when(j == 0, F.lit(0)).otherwise(F.element_at(ecol, j)),
            ),
            " ",
        ),
    )
    rows = (
        base.select(id_col, F.posexplode(chunks).alias("chunk_idx", "_chunk"))
        .select(
            id_col,
            "chunk_idx",
            h31(F.col("_chunk")).alias("_h"),
            F.size(F.split(F.col("_chunk"), " ")).cast("long").alias("_ct"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("_h").orderBy(F.col(id_col), F.col("chunk_idx"))
    )
    marked = rows.withColumn("_keep", (rn == 1).cast("long"))
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("_keep").alias("n_kept"),
        F.sum("_ct").alias("n_tokens"),
        F.sum(F.col("_keep") * F.col("_ct")).alias("_kt"),
    )
    return out.select(
        id_col,
        "n_chunks",
        "n_kept",
        "n_tokens",
        (F.col("_kt").cast("double") / F.col("n_tokens").cast("double")).alias(
            "kept_token_frac"
        ),
    )


def sql_cdc_chunk_dedup(divisor: int = 8) -> str:
    """DuckDB twin of cdc_chunk_dedup over the `documents` view — same
    frozen boundary hash, same forced final boundary, same token-weighted
    first-occurrence accounting."""
    from .hashing import sql_h31

    d = int(divisor)
    toks = "string_split(text, ' ')"
    tok_i = "toks[CAST(i AS INT)]"
    return f"""
    WITH _t AS (
      SELECT doc_id, {toks} AS toks FROM documents WHERE len({toks}) > 0
    ),
    _e AS (
      SELECT doc_id, toks,
             list_filter(range(1, len(toks) + 1),
                         i -> {sql_h31(tok_i)} % {d} = 0) AS ends0
      FROM _t
    ),
    _e2 AS (
      SELECT doc_id, toks,
             CASE WHEN len(ends0) > 0 AND ends0[-1] = len(toks) THEN ends0
                  ELSE list_append(ends0, CAST(len(toks) AS BIGINT)) END AS ends
      FROM _e
    ),
    _c AS (
      SELECT doc_id, CAST(u.j - 1 AS BIGINT) AS chunk_idx,
             array_to_string(list_slice(toks,
               CASE WHEN u.j = 1 THEN 1
                    ELSE CAST(ends[CAST(u.j AS INT) - 1] AS INT) + 1 END,
               CAST(ends[CAST(u.j AS INT)] AS INT)), ' ') AS chunk
      FROM _e2, UNNEST(range(1, len(ends) + 1)) AS u(j)
    ),
    _h AS (
      SELECT doc_id, chunk_idx, {sql_h31('chunk')} AS _h,
             CAST(len(string_split(chunk, ' ')) AS BIGINT) AS _ct
      FROM _c
    ),
    _m AS (
      SELECT doc_id, _ct, CASE WHEN ROW_NUMBER() OVER (
               PARTITION BY _h ORDER BY doc_id, chunk_idx) = 1
             THEN 1 ELSE 0 END AS _keep
      FROM _h
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(_keep) AS BIGINT) AS n_kept,
           CAST(SUM(_ct) AS BIGINT) AS n_tokens,
           CAST(SUM(_keep * _ct) AS DOUBLE) / CAST(SUM(_ct) AS DOUBLE)
             AS kept_token_frac
    FROM _m GROUP BY doc_id
    """


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.7,
    allow_large: bool = False,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold. Candidates via the
    inverted shingle index (any shared shingle) — the quadratic baseline;
    refuses >10⁶ docs unless ``allow_large`` (see guard_quadratic)."""
    guard_quadratic(df, "ngram_jaccard_pairs", allow_large)
    retire_pipeline_caches()
    doc_sh = pool_persist(shingle_arrays(spread(df), text_col, id_col, k))
    doc_sh.count()  # eager — see minhash_lsh_dedup
    sh = doc_sh.select(id_col, F.explode("sh_arr").alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("s"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("s"))
    cand = (
        a.join(b, "s").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b").distinct()
    )
    return jaccard_pairs_from_candidates(cand, doc_sh, id_col, threshold)


def lsh_recall_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    allow_large: bool = False,
) -> DataFrame:
    """Measured LSH S-curve: per Jaccard decile, how many exact
    above-threshold pairs does the production banding capture?

    Ground truth = the inverted-shingle-index exact baseline (any shared
    shingle → exact Jaccard verify — complete above any threshold, since
    J > 0 requires a shared shingle); approximate arm = the banding's
    candidate pairs. Verified-LSH output is exact ∩ candidates by
    construction (the verify IS the exact Jaccard), so recall per decile
    is capture probability — the empirical curve to hold against the
    banding theory 1−(1−J^r)^b when tuning bands vs verify cost.

    Output: (j_decile = floor(jaccard·10) as int, n_exact, n_lsh, recall).
    The exact arm is the guarded quadratic baseline — run this on a doc
    SAMPLE (the registry query samples doc_id % 4), exactly as the ANN
    recall evals sample their query set. One shared shingle scan feeds
    both arms."""
    guard_quadratic(df, "lsh_recall_table ground truth", allow_large)
    retire_pipeline_caches()
    doc_sh = pool_persist(shingle_arrays(spread(df), text_col, id_col, k))
    doc_sh.count()  # eager — two candidate arms + the verify consume it
    sh = doc_sh.select(id_col, F.explode("sh_arr").alias("s"))
    ea = sh.select(F.col(id_col).alias("id_a"), "s")
    eb = sh.select(F.col(id_col).alias("id_b"), "s")
    # exact arm WITHOUT re-joining the shingle arrays (r14, guide §2.3/§6):
    # shingle_arrays dedups within a doc, so the inverted-index self-join
    # emits exactly |A∩B| rows per pair — n_inter IS the pair's row count,
    # aggregated map-side, where the old spelling distinct-ed the pairs
    # and then shuffled both docs' FAT shingle arrays through two more
    # hash joins for an array_intersect that recomputed the same number.
    # Sizes attach from a per-doc projection of the persisted doc_sh; the
    # division is the same int-cast-double arithmetic, bit-identical.
    inter = (
        ea.join(eb, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_ni"))
    )
    sizes = doc_sh.select(id_col, F.size("sh_arr").alias("_sz"))
    exact = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("_sz").alias("_sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("_sz").alias("_sb")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("_ni").cast("double")
            / (F.col("_sa") + F.col("_sb") - F.col("_ni")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # persist the signatures: both sides of the band self-join read them and
    # the fold is the expensive projection (same reasoning as
    # minhash_lsh_dedup's second persist point)
    wide = pool_persist(minhash_signatures_wide(doc_sh, id_col, n_hashes))
    wide.count()
    cand_lsh = lsh_candidate_pairs(wide, id_col, bands, n_hashes // bands)
    hit = cand_lsh.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["id_a", "id_b"], "left")
        .groupBy(F.floor(F.col("jaccard") * 10).cast("int").alias("j_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count(F.col("hit")).alias("n_lsh"),
            (
                F.count(F.col("hit")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("recall"),
        )
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """``bits``-bit SimHash over whitespace tokens: bit i of the fingerprint
    is 1 iff sum over tokens of (2*bit_i(hash(token)) - 1) > 0.

    One SQL fold computes ALL bit-sums as an array accumulator — exactly one
    md5 per token (a per-bit-fold formulation recomputes the token hashes
    ``bits`` times: projection collapse defeats subexpression reuse across
    higher-order functions; measured ~10× slower). Single narrow projection,
    no shuffle.

    The token hash follows ``bits``: ≤ 32 uses h31 — the FROZEN historical
    contract for the 32-bit fingerprint family (h31 < 2^31, so fingerprint
    bit 31 is constant-0 on both engines; every existing oracle bakes that
    in); 33-60 uses h60, the un-reduced 60-bit md5 prefix, for the
    wide-band keys that keep candidate volume sane at corpus scale
    (simhash_near_pairs_wideband). More than 60 bits would need a second
    md5 fold per token — refused rather than silently zero-padded."""
    from .hashing import spark_sql_h31, spark_sql_h60

    if bits > 60:
        raise ValueError(f"simhash_fingerprints: bits must be ≤ 60, got {bits}")
    spark_sql_hash = spark_sql_h31 if bits <= 32 else spark_sql_h60
    df = spread(df)
    expr = f"""
    aggregate(
      zip_with(
        aggregate(
          transform(split({text_col}, ' '), t -> {spark_sql_hash('t')}),
          array_repeat(CAST(0 AS BIGINT), {bits}),
          (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                               (a, i) -> a + (shiftright(h, i) & 1) * 2 - 1)
        ),
        sequence(0, {bits - 1}),
        (s, i) -> CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), i)
                       ELSE CAST(0 AS BIGINT) END
      ),
      CAST(0 AS BIGINT), (x, y) -> x + y
    )
    """
    return df.select(F.col(id_col), F.expr(expr).alias("simhash"))


def simhash_near_pairs(
    fp: DataFrame, id_col: str = "doc_id", max_hamming: int = 3, tables: int = 1
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole: 32 bits in 4 bytes — ≤3 differing bits leave ≥1 byte equal,
    so matching on any (band, byte-value) key finds every such pair without
    O(n²). Lowering: ONE explode to 4 keyed rows per doc (key = band*256 +
    byte so bands never cross-match) and ONE self-equi-join — the earlier
    4-joins-unioned form scanned the fingerprint projection 8×; the
    fingerprint fold is also persisted (pool) since both join sides read
    it. Shuffle ∝ 4·docs either way; candidate set identical.

    ``tables`` > 1 adds the pigeonhole GENERALIZATION for max_hamming ≥ 4
    (where one table's capture decays — measured 0.91→0.29 over hd 4-8,
    SCALING.md): T independent bit-permutation tables, each regrouping the
    32 bits into 4 different bytes, so a pair missed by one grouping is
    caught by another (see _simhash_candidates). hd ≤ 3 recall stays
    exactly 1.0 with any T; the hd 4-6 lift per added table is measured
    by dedup_simhash_recall_eval."""
    retire_pipeline_caches()
    fp = pool_persist(fp)
    cands = _simhash_candidates(fp, id_col, tables)
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# Frozen affine constants for multi-table WIDE-band SimHash regroupings:
# table t regroups the (bands × band_bits)-bit fingerprint by
# pi_t(i) = (A[t]*i + B[t]) mod (bands*band_bits). Every A is coprime to
# 60 = 2^2·3·5 (the registry geometry 4×15), so each map is a bijection
# there; gcd is re-checked at call time for other geometries. Table 0 is
# the identity — its bands are the plain contiguous band_bits slices, so
# tables=1 reproduces the single-table wideband key set bit-exactly.
# Frozen like SIMHASH_TABLE_A/B: the DuckDB oracle bakes these in.
SIMHASH60_TABLE_A = (1, 7, 11, 13, 17, 19, 23, 29)
SIMHASH60_TABLE_B = (0, 11, 22, 33, 44, 7, 18, 29)


def simhash_near_pairs_wideband(
    fp: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_bits: int = 15,
    bands: int = 4,
    tables: int = 1,
) -> DataFrame:
    """SimHash near-pairs over WIDE band keys — the corpus-scale form.

    The 32-bit byte-banded join (simhash_near_pairs) has only 2^8 = 256
    key values per band, so per-key collisions are n/256 and candidates
    are Θ(n²/64) REGARDLESS of how similar the documents are — byte
    banding is quadratic in the corpus with a small constant, fine at
    10^5 docs, fatal at 10^8 (the "never quadratic" reading holds only
    while n/256 stays small). Widening the key is the production fix:
    ``bands`` × ``band_bits`` keys over a ``bands × band_bits``-bit
    fingerprint (default 4 × 15 over the 60-bit h60 family) give 2^15
    key values per band — per-key collisions n/32768, candidates cut
    128× vs bytes at identical pigeonhole semantics: ≤ bands-1 flipped
    bits leave ≥1 band intact, so hd ≤ 3 recall is EXACTLY 1.0 with 4
    bands. Any fixed-width banding stays asymptotically ∝ n² on random
    fingerprints; band width buys the constant (pick band_bits ≈ log2 n
    like a production simhash deployment), and past that the multi-table
    regrouping (simhash_near_pairs tables>1) trades explode volume for
    recall beyond the guarantee.

    ``tables`` > 1 (r11, VERDICT r10 #7) combines the two r10 advances —
    wide bands for the collision floor AND multi-table affine
    regroupings for recall past the pigeonhole guarantee: table t
    re-gathers the fingerprint's bits by the frozen bijection
    pi_t(i) = (A[t]·i + B[t]) mod (bands·band_bits)
    (SIMHASH60_TABLE_A/B), so a flip pattern that wrecks every
    contiguous band of table 0 lands differently in tables 1..T-1 and
    ≥1 intact band somewhere captures the pair. Candidate explode
    volume ∝ T; per-key collisions stay n/2^band_bits. This supersedes
    the 32-bit tables=4 production setting for corpora past ~10^5
    docs, where 32-bit fingerprints saturate (311,610 false hd≤3
    admissions at sf0.1 vs 512 at 60 bits — SCALING.md r10): run
    60-bit fingerprints, band_bits ≈ log2(corpus), tables for the
    hd 4-5 recall. Same structural blind spot as the 32-bit affine
    family (coset-aligned flip patterns; see the note above
    SIMHASH_TABLE_A) — real-text flips are unstructured.

    Requires a fingerprint with ≥ bands × band_bits bits
    (simhash_fingerprints(bits=60)); max_hamming > bands-1 is allowed
    but capture past the pigeonhole guarantee is probabilistic — same
    contract as the byte-banded form."""
    if bands * band_bits > 60:
        raise ValueError(
            f"simhash_near_pairs_wideband: bands*band_bits must be ≤ 60 "
            f"(the h60 fingerprint width), got {bands}×{band_bits}"
        )
    import math

    if not 1 <= tables <= len(SIMHASH60_TABLE_A):
        raise ValueError(f"tables must be in 1..{len(SIMHASH60_TABLE_A)}: {tables}")
    fp_bits = bands * band_bits
    for t in range(1, tables):
        if math.gcd(SIMHASH60_TABLE_A[t], fp_bits) != 1:
            raise ValueError(
                f"affine multiplier {SIMHASH60_TABLE_A[t]} is not coprime "
                f"with bands×band_bits = {fp_bits}; table {t} would not "
                "be a bit bijection — use a geometry whose width is "
                "coprime with the frozen multipliers (4×15 is)"
            )
    retire_pipeline_caches()
    fp = pool_persist(fp)
    # Fail fast on a too-narrow fingerprint (ADVICE r10): a 32-bit
    # h31-family simhash fed in here would leave every high band reading
    # key 0 — one degenerate bucket holding the whole corpus, silently
    # reintroducing the quadratic volume this function exists to prevent.
    # A genuine (bands×band_bits)-bit fingerprint has its top band
    # populated with probability 1 - 2^-band_bits per doc, so max() over
    # the corpus clears the threshold with overwhelming probability; the
    # aggregate is one narrow scan that doubles as the persist fill.
    hi = fp.agg(F.max("simhash").alias("m")).first()["m"]
    if hi is not None and hi < (1 << ((bands - 1) * band_bits)):
        raise ValueError(
            "simhash_near_pairs_wideband: fingerprints look narrower than "
            f"bands×band_bits = {bands * band_bits} bits (max simhash = "
            f"{hi} < 2^{(bands - 1) * band_bits}) — the high bands would "
            "degenerate to one all-corpus bucket; build fingerprints with "
            "simhash_fingerprints(bits=60)"
        )
    mask = (1 << band_bits) - 1
    keys = []
    for t in range(tables):
        a_m, c_o = SIMHASH60_TABLE_A[t], SIMHASH60_TABLE_B[t]
        for b in range(bands):
            if t == 0:
                # identity table: cheap contiguous slice — bit-exact with
                # the affine sum at A=1, B=0, and with the tables=1 form
                e = F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(
                    F.lit(mask)
                )
            else:
                # re-gather band_bits single bits by the frozen bijection;
                # still one narrow projection, the key stays a SCALAR long
                terms = " + ".join(
                    "shiftleft(shiftright(simhash, "
                    f"{(a_m * (band_bits * b + j) + c_o) % fp_bits}) & 1, {j})"
                    for j in range(band_bits)
                )
                e = F.expr(terms)
            # (t*bands + b) << band_bits keeps tables and bands from
            # cross-matching, exactly like the 32-bit multi-table keys
            keys.append((F.lit((t * bands + b) << band_bits) + e).cast("long"))
    e = fp.select(F.col(id_col), "simhash", F.explode(F.array(*keys)).alias("k"))
    a = e.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "k")
    bb = e.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "k")
    cands = (
        a.join(bb, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# Frozen affine bit-permutation tables for multi-table SimHash banding:
# table t regroups fingerprint bits by pi_t(i) = (A[t]*i + B[t]) mod 32
# (A odd => a bijection on Z_32). Table 0 is the identity — its 4 byte
# groups are the plain contiguous bytes, so tables=1 reproduces the
# original single-table key set bit-exactly. The constants are part of
# the oracle contract (the DuckDB replay bakes them in), frozen like the
# hashing seeds in ext/hashing.py.
#
# KNOWN STRUCTURAL BLIND SPOT (tested by value,
# tests/test_ext.py::test_simhash_capture_table_hand_constructed): an
# affine map sends a stride-8 flip pattern (one flipped bit per byte,
# e.g. xor = 0x01010101) to another coset-structured pattern that again
# touches every byte — NO affine table ever captures it. Truly random
# per-table bit permutations would; they'd also make the key expression
# and the SQL oracle 32 table-driven terms with no shared structure.
# SimHash flips on real text are unstructured (each differing token
# flips a pseudo-random bit subset), and the measured sf0.01 lift is
# hd4 0.91→1.00, hd5 0.75→1.00, hd6 0.61→0.97 with 4 tables
# (SCALING.md) — the affine family earns its simplicity on real data;
# revisit only if a corpus shows adversarial coset-aligned fingerprints.
SIMHASH_TABLE_A = (1, 5, 7, 11, 13, 17, 19, 23)
SIMHASH_TABLE_B = (0, 7, 14, 21, 28, 3, 10, 17)


def _simhash_keys(tables: int) -> list:
    """The T×4 band-key expressions for one fingerprint row: key =
    t*1024 + band*256 + byte, where byte collects the 8 bits that
    permutation t assigns to that band (the t*1024 offset keeps tables
    from cross-matching, exactly like band*256 keeps bands apart). Table
    0 keeps the cheap contiguous-byte extraction; tables t ≥ 1 rebuild
    each byte from 8 single-bit shifts — still one narrow projection, no
    shuffle, and the key stays a SCALAR long through the join."""
    if not 1 <= tables <= len(SIMHASH_TABLE_A):
        raise ValueError(f"tables must be in 1..{len(SIMHASH_TABLE_A)}: {tables}")
    keys = []
    for t in range(tables):
        a, c = SIMHASH_TABLE_A[t], SIMHASH_TABLE_B[t]
        for b in range(4):
            if t == 0:
                e = F.expr(f"shiftright(simhash, {8 * b}) & 255")
            else:
                terms = " + ".join(
                    f"shiftleft(shiftright(simhash, {(a * (8 * b + j) + c) % 32}) & 1, {j})"
                    for j in range(8)
                )
                e = F.expr(terms)
            keys.append((F.lit(t * 1024 + b * 256) + e).cast("long"))
    return keys


def _simhash_candidates(
    fp: DataFrame, id_col: str = "doc_id", tables: int = 1
) -> DataFrame:
    """The pigeonhole candidate stage shared by simhash_near_pairs and
    simhash_capture_table: T×4 keyed rows per doc (key = table*1024 +
    band*256 + byte), one self-equi-join — (id_a < id_b, sh_a, sh_b),
    distinct. Candidate volume scales ∝ T on the explode side and with
    per-key collision counts on the join side; adding tables widens
    recall past the single-table hd≤3 guarantee (each table's bit
    regrouping gives an independent chance that some byte avoids all
    flipped bits). SCALE HONESTY (r10 — this docstring used to read
    "never quadratic in the corpus", which holds only while n/256 stays
    small): per-key collisions are n/256 on random fingerprints, so byte
    banding is Θ(n²/64) in the corpus — fine at 10^5 docs, fatal at
    10^8. The corpus-scale form is simhash_near_pairs_wideband (60-bit
    fingerprints, 2^15-value band keys, 128× fewer per-key collisions at
    the same hd≤3 pigeonhole guarantee)."""
    e = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*_simhash_keys(tables))).alias("k")
    )
    a = e.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "k")
    bb = e.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "k")
    return (
        a.join(bb, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )


def simhash_capture_table(
    fp: DataFrame,
    id_col: str = "doc_id",
    max_eval_hamming: int = 8,
    allow_large: bool = False,
    tables: int = 1,
) -> DataFrame:
    """Measured pigeonhole capture curve: per hamming distance 0..max,
    how many exact fingerprint pairs does the band join surface?

    The pigeonhole theorem says hd ≤ 3 capture is EXACTLY 1.0 for one
    table (3 flipped bits leave ≥1 of 4 bytes intact) — this turns the
    comment into a measurement, and shows the falloff past the guarantee
    (an hd-4 pair survives only if no byte straddles all four flips),
    which is what a deployment reads before retuning max_hamming upward.
    With ``tables`` > 1 the output carries one curve PER ARM — the
    single-table baseline and the T-table generalization — so the lift
    each extra permutation table buys at hd 4+ is a side-by-side number,
    not a claim. Exact ground truth is the all-pairs XOR popcount on the
    (1 long per doc) fingerprint sample — the guarded baseline;
    candidates are the IDENTICAL stage the production operator uses
    (_simhash_candidates). Output: (n_tables, hamming, n_exact, n_cand,
    capture)."""
    guard_quadratic(fp, "simhash_capture_table ground truth", allow_large)
    retire_pipeline_caches()
    fp = pool_persist(fp)
    fp.count()  # eager — candidate stages + both exact-arm sides consume it
    fa = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    exact = pool_persist(
        fa.join(fb, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_eval_hamming)
        .select("id_a", "id_b", "hamming")
    )
    exact.count()  # eager — one rollup per arm consumes it

    def rollup(n_tables: int) -> DataFrame:
        cand = _simhash_candidates(fp, id_col, n_tables).select("id_a", "id_b")
        hit = cand.withColumn("hit", F.lit(1))
        return (
            exact.join(hit, ["id_a", "id_b"], "left")
            .groupBy("hamming")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count(F.col("hit")).alias("n_cand"),
                (
                    F.count(F.col("hit")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("capture"),
            )
            .select(
                F.lit(n_tables).cast("int").alias("n_tables"),
                "hamming", "n_exact", "n_cand", "capture",
            )
        )

    out = rollup(1)
    if tables > 1:
        out = out.unionByName(rollup(tables))
    return out


# Edge-row cap under which connected components runs driver-side. The
# iterative implementations pay 1-2 Spark jobs per round whatever the data
# volume: at sf0.1, 857 semantic near-dup pairs cost ~6.5 s of round fixed
# costs for ~0.1 s of graph work. A bounded probe (limit cap+1, one job)
# decides: at or under the cap the skinny edge rows (100k rows ≈ a few MB)
# collect and a union-find labels them exactly as the fixpoint would; above
# it the distributed rounds run. Callers pass ``local_edge_cap=0`` to
# disable it.
CC_LOCAL_EDGES = 100_000


def _local_components(
    edges: DataFrame, cap: tp.Optional[int]
) -> tp.Optional[DataFrame]:
    """Driver-side union-find over a BOUNDED edge frame (see
    CC_LOCAL_EDGES): returns the (doc_id, cluster_id = component
    minimum) frame, or None when the edge set exceeds the cap (caller
    stays on the distributed rounds). One bounded job: limit(cap+1) +
    collect — never a full scan of an over-cap edge set. Deterministic:
    the component minimum is order-free, and rows are emitted sorted."""
    cap = CC_LOCAL_EDGES if cap is None else cap
    if cap <= 0:
        return None
    c1, c2 = edges.columns[0], edges.columns[1]
    rows = edges.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    parent: tp.Dict[tp.Any, tp.Any] = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = row[c1], row[c2]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: tp.Dict[tp.Any, tp.Any] = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    spark = edges.sparkSession
    from pyspark.sql import types as T

    typ = edges.schema[c1].dataType
    schema = T.StructType(
        [T.StructField("doc_id", typ), T.StructField("cluster_id", typ)]
    )
    data = sorted((v, comp_min[find(v)]) for v in parent)
    return spark.createDataFrame(data, schema)


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    local_edge_cap: tp.Optional[int] = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    ACM SoCC 2014): O(log n) rounds instead of min-label propagation's
    O(diameter), so adversarial long-chain graphs converge in a handful
    of passes. Same output contract as connected_components:
    (doc_id, cluster_id = component minimum).

    Each half-round is two shuffles (a per-node min + an equi-join) with
    NO per-node neighborhood collection — hub nodes never materialize
    their adjacency list in one task, which is the operation's point.
    Convergence = the directed edge multiset reaches a fixpoint, detected
    by (count, sum-of-edge-hashes) in the same action that materializes
    the round; deterministic, so the oracle's recursive-CTE closure
    replays it exactly. Each round LOCAL-CHECKPOINTS (not just persists):
    a round references its predecessor 4× (symmetrize + two joins), so
    the un-truncated logical plan grows 4^rounds and the ANALYZER — not
    the data — becomes the bottleneck (measured: an 8-edge chain OOMs a
    8g driver by round 3 on plan growth alone). Prefer
    connected_components for shallow near-dup graphs (fewer fixed costs
    per round); this one for deep/unknown topology."""
    edges = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    local = _local_components(edges, local_edge_cap)
    if local is not None:
        return local

    def _signature(e: DataFrame):
        # decimal sum: exact and overflow-free under ANSI (a long sum of
        # int64 hashes overflows); order-insensitive, so deterministic
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64(F.col("lo"), F.col("hi")).cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).first()
        return row["n"], row["h"]

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric view; for each u: m = min(neighbors ∪ {u}); emit
        # (v, m) for neighbors v > u
        sym = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("_mn", F.col("u")).alias("m"))
        )
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # edges directed hi -> lo; for each hi: m = min(lo-neighbors);
        # emit (v, m) for all lo-neighbors v plus (hi, m)
        mins = e.groupBy("hi").agg(F.min("lo").alias("m"))
        relink = (
            e.join(mins, "hi")
            .select(F.least("lo", "m").alias("lo"), F.greatest("lo", "m").alias("hi"))
        )
        selfs = mins.select(F.col("m").alias("lo"), F.col("hi"))
        return (
            relink.unionByName(selfs)
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

    sig = _signature(edges)
    for _ in range(max_iter):
        # lazy localCheckpoint: the signature action materializes the
        # round AND truncates the plan — one job per round, O(1) plans
        stepped = small_star(large_star(edges)).localCheckpoint(eager=False)
        new_sig = _signature(stepped)
        edges = stepped
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint: every edge is (component-min, node). Labels: each node's
    # min neighbor; component minima label themselves.
    members = edges.select(
        F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id")
    ).groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))
    roots = (
        edges.select(F.col("lo").alias("doc_id"))
        .distinct()
        .join(members, "doc_id", "left_anti")
        .withColumn("cluster_id", F.col("doc_id"))
    )
    return members.unionByName(roots)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    local_edge_cap: tp.Optional[int] = None,
) -> DataFrame:
    """Cluster near-dup pairs into components: (doc_id, cluster_id) where
    cluster_id = the MINIMUM doc id reachable through the pair graph — the
    canonical survivor choice, making dedup keep-lists one filter away
    (keep iff doc_id == cluster_id).

    Iterative min-label propagation: each round every vertex takes the min
    of its own label and its neighbors' labels (one join + one groupBy-min
    per round), converging in O(graph diameter) rounds — near-dup clusters
    are shallow, so this is 2-4 rounds in practice. Each round's labels
    persist eagerly and the previous round unpersists: lineage stays O(1)
    deep, not O(iterations). Convergence is detected exactly (changed == 0)
    WITHOUT an extra self-join or separate job: each round's frame carries
    the previous label alongside the new one, so a single agg action both
    materializes the persisted labels and returns the changed-count — one
    Spark job per round. Results are deterministic and engine-independent —
    the oracle replays the same fixpoint as a recursive-CTE transitive
    closure. For adversarial high-diameter graphs swap in alternating
    large-star/small-star (O(log n) rounds, same join shapes); dedup
    workloads don't need it."""
    from pyspark import StorageLevel

    # symmetrize via ONE explode, not a self-union: unionByName duplicates
    # the whole upstream subtree, so a lazy `pairs` fed straight from the
    # LSH pipeline would run band-join + verify TWICE in the first job
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    local = _local_components(edges, local_edge_cap)
    if local is not None:
        edges.unpersist()
        return local
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("v", "src"), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("nl"))
            .withColumnRenamed("dst", "v")
        )
        # lazy localCheckpoint (not persist): the convergence agg below
        # materializes the round AND truncates the logical plan — without
        # truncation each round's plan embeds the previous round's twice
        # (join + nbr_min), so analysis cost grows 2^rounds even though
        # the cached DATA is tiny (see connected_components_star's note)
        stepped = (
            labels.join(nbr_min, "v", "left")
            .select(
                "v",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nl", "label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.agg(
            F.sum((F.col("label") != F.col("old")).cast("long")).alias("c")
        ).first()["c"]
        labels = stepped.select("v", "label")
        if not changed:
            break
    edges.unpersist()
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))


def pagerank(
    edges: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    iters: int = 3,
    damping: float = 0.85,
    sources: tp.Optional[tp.Sequence[int]] = None,
) -> DataFrame:
    """Power-iteration PageRank over an UNDIRECTED graph (edges are
    deduped and symmetrized) — the canonical iterative graph algorithm,
    engine-reproducible by construction so it keeps a full SQL oracle.

    ``sources`` switches to PERSONALIZED PageRank (the recommendation /
    related-items form): the walk teleports to the source set instead of
    everywhere — r0 = 1/|S| on S (0 elsewhere) and the base term becomes
    (1-d)·[v∈S]/|S| — so ranks measure proximity TO the sources. Sources
    must be graph vertices (a source with no edges contributes no teleport
    mass). Same plan shape; membership is a broadcast-free isin over the
    tiny source list:

    - fixed ``iters`` iterations (part of the spec, like kmeans_centroids);
    - r_{t+1}(v) = (1-d)/N + d · Σ_{u→v} r_t(u)/deg(u);
    - each per-edge contribution is one IEEE double division (order-free);
      the per-vertex gather — the ONE place aggregation order is
      engine-dependent — collects (source, contribution) pairs, sorts by
      source and LEFT-FOLDS in that fixed order (the dot_ieee convention):
      pure correctly-rounded double ops, no decimal cast anywhere, so
      ranks are bit-identical cross-engine. (The decimal-armor variant
      measured 1-ulp flaky here: casting a scale-12 decimal sum back to
      double double-rounds differently across engines.) The collected
      array is in-degree-sized — bounded by max degree; a power-law
      celebrity vertex would want the decimal-sum form instead, trading
      exact replay for O(1) aggregation state.

    Scale shape (the Pregel loop as dataframes): one equi-join + one
    partially-aggregated shuffle per iteration, both ∝ |edges|; degrees
    and N are computed once. The iterations UNROLL into a single lazy
    plan — at bench depth (3) Catalyst handles it; for deep iteration
    counts add localCheckpoint truncation like minhash_clusters_cc.
    Output: (vertex, rank)."""
    retire_pipeline_caches()
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = pool_persist(sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg")))
    n = deg.count()
    # The edge list carries the SOURCE's degree and is hash-partitioned by
    # source ONCE (persisted): the cached plan's outputPartitioning
    # satisfies every iteration's join on u, so edges shuffle once for the
    # whole run, not once per iteration — the Pregel co-partitioning
    # discipline as dataframes — and ranks stay a skinny (vertex, rank)
    # frame with no per-iteration degree re-join.
    sym = pool_persist(
        sym.join(deg, "u").repartition(
            sym.sparkSession.sparkContext.defaultParallelism, F.col("u")
        )
    )
    if sources is None:
        r0 = F.lit(1.0 / n)
        def base_term(vcol):
            return F.lit((1.0 - damping) / n)
    else:
        srcs = sorted(set(sources))
        m = len(srcs)
        r0 = F.when(F.col("u").isin(srcs), F.lit(1.0 / m)).otherwise(F.lit(0.0))
        def base_term(vcol):
            return F.when(vcol.isin(srcs), F.lit((1.0 - damping) / m)).otherwise(
                F.lit(0.0)
            )
    ranks = deg.select(F.col("u").alias("vertex"), r0.alias("rank"))
    for _ in range(iters):
        contribs = sym.join(
            ranks, sym["u"] == ranks["vertex"]
        ).select(
            F.col("v").alias("_dst"),
            F.col("u").alias("_src"),
            (F.col("rank") / F.col("deg")).alias("_c"),
        )
        # every vertex of the SYMMETRIZED graph has ≥1 in-edge (deg ≥ 1 and
        # in-degree = out-degree), so the gather covers all vertices — no
        # left join back to deg is needed to keep zero-contribution rows
        ranks = (
            contribs.groupBy("_dst")
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_src", "_c"))),
                        lambda s: s["_c"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("_s")
            )
            .select(
                F.col("_dst").alias("vertex"),
                (
                    base_term(F.col("_dst")) + F.lit(damping) * F.col("_s")
                ).alias("rank"),
            )
        )
    return ranks.select("vertex", "rank")


def label_propagation(
    edges: DataFrame, a: str = "id_a", b: str = "id_b", iters: int = 3
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) over an
    undirected graph — deterministic by construction so it keeps a full
    SQL oracle. Unlike min-label connected components (which converges to
    one label per component), LPA finds DENSE regions inside a component:
    each vertex adopts the label held by the most of its neighbors.

    Spec (fixed, both engines replay it exactly):

    - label_0(v) = v;
    - each of the fixed ``iters`` rounds, label_{t+1}(v) = the neighbor
      label with the highest count, ties broken by SMALLEST label — a
      total order, so no engine-dependent tie behavior (classic async LPA
      breaks ties randomly; this is the deterministic synchronous form);
    - isolated vertices don't occur (every vertex is an edge endpoint).

    Scale shape (mirrors pagerank): the symmetrized edge list is
    hash-partitioned by neighbor id ONCE and reused every round, so the
    per-round label join co-locates on that partitioning and only the
    (vertex, label) frame — |V| skinny rows — reshuffles; the per-(v,
    label) count is a partial-aggregated groupBy and the argmax is a
    max_by hash aggregate over the SAME v key (one exchange, no sort).
    Integer-only state: no float drift anywhere. Per-round lineage is two
    joins deep; for iters beyond ~10 add the connected_components-style
    localCheckpoint truncation."""
    retire_pipeline_caches()
    sc = edges.sparkSession.sparkContext
    # dedupe + symmetrize + drop self-loops (a (v,v) edge would let a
    # vertex vote for its own label — simple-graph convention, matching
    # pagerank/triangle_count and the pure-Python spec replay in tests)
    sym = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionAll(edges.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # partition by u (the label-carrying side of the per-round join) ONCE
    # and PERSIST — same discipline as pagerank's degree-tagged edge frame:
    # without the persist each round's lazy plan re-derives the whole
    # edge-build subtree (.explain showed the co-occurrence join replayed
    # per round); with it, every round's join reads the cached partitioning
    sym = pool_persist(sym.repartition(sc.defaultParallelism, F.col("u")))
    sym.count()
    labels = sym.select(F.col("u").alias("vertex")).distinct().withColumn(
        "label", F.col("vertex")
    )
    for _ in range(iters):
        # labels derives FROM sym, so this is a shared-lineage self-join —
        # explicit aliases keep the join keys resolving to the intended
        # sides (attribute-reference equality would be ambiguous)
        cnt = (
            sym.alias("s")
            .join(labels.alias("l"), F.col("s.u") == F.col("l.vertex"))
            .groupBy(F.col("s.v").alias("v"), F.col("l.label").alias("label"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (count DESC, label ASC) as ONE hash aggregate:
        # max_by over the (c, -label) struct replaces the sort+row_number
        # window (measured ~15% off the whole query at sf0.1; same spec,
        # same oracle — struct comparison is lexicographic, so negating
        # the label turns the min-label tie-break into a max)
        labels = cnt.groupBy(F.col("v").alias("vertex")).agg(
            F.max_by(
                "label", F.struct(F.col("c"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
    return labels


def kcore_prune(
    edges: DataFrame, a: str = "id_a", b: str = "id_b", k: int = 2, rounds: int = 3
) -> DataFrame:
    """Bounded-round k-core peeling over an undirected simple graph:
    each round drops every vertex whose CURRENT degree is < k (and the
    edges touching it), then recomputes degrees — the standard iterated
    peel whose fixpoint is the k-core. ``rounds`` is FIXED and part of
    the spec (like kmeans/pagerank iterations) so the result is
    engine-reproducible and fully SQL-oracle-replayable; near-dup and
    co-occurrence graphs peel to (near-)stability in 2-3 rounds, and a
    production fixpoint run just raises ``rounds``. Returns the surviving
    (vertex, degree) — degree measured IN the surviving subgraph.

    Scale shape: per round one partial-aggregated degree count (skinny
    integer rows) and two semi-joins of the edge list against the
    surviving-vertex set. Each round's edge frame persists LAZILY — it
    has three consumers inside the one terminal action (both semi-join
    probe sides via the degree count, plus the next round's edge list),
    and the InMemoryRelation dedupes them when the action runs; the
    eager-count variant paid one extra job per round for protection the
    single action doesn't need (A/B at sf0.1 warm: ~3.0s lazy vs ~4.1s
    eager). The previous round's cache unpersists as construction
    advances so a long peel holds at most two cached edge frames.
    Integer-only: no float convention needed."""
    retire_pipeline_caches()
    # self-loops dropped: a (v,v) edge would inflate its vertex's own
    # degree and resist the peel — simple-graph convention (see
    # label_propagation / triangle_count)
    sym = (
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionAll(edges.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cur = pool_persist(sym)
    prev = None
    for _ in range(rounds):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= k).select("u")
        nxt = pool_persist(
            cur.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
        )
        if prev is not None:
            prev.unpersist(blocking=False)
        prev, cur = cur, nxt
    return cur.groupBy(F.col("u").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def triangle_count(
    edges: DataFrame, a: str = "id_a", b: str = "id_b", orient: str = "degree"
) -> DataFrame:
    """Count triangles per vertex in an undirected graph — the clustering/
    community-density primitive beyond connected components. Input: one
    row per undirected edge (any orientation, duplicates tolerated).

    Algorithm: orient every edge along a TOTAL order (each triangle
    a≺b≺c is then counted exactly once as the wedge a→b, b→c closed by
    a→c), build wedges with ONE self-join on the shared middle vertex,
    and close them with a second join against the oriented edge set.
    Per-vertex counts credit all three corners.

    ``orient`` picks the order — the per-vertex OUTPUT is identical for
    any total order, only the intermediate wedge volume changes, so the
    SQL oracle (which replays the id orientation) stays valid for both:

    - "degree" (default, the scale path): (degree, id) lexicographic —
      the classic degree-ordered orientation. Every vertex's out-degree
      is bounded by O(√m) on any graph, so wedge fan-out on a skewed
      graph (one celebrity vertex of degree d) drops from O(d²) wedges
      to O(m^1.5) total — the bound that makes triangle counting
      feasible on power-law graphs. Costs one extra degree aggregate +
      two broadcast-or-shuffle joins to tag endpoints (SCALING.md).
    - "id": plain low→high id — one job fewer; fine for near-uniform
      degree distributions (e.g. the co-purchase fixture)."""
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    if orient == "degree":
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("_d"))
        )
        tagged = (
            e.join(deg.select(F.col("n").alias("u"), F.col("_d").alias("_du")), "u")
            .join(deg.select(F.col("n").alias("v"), F.col("_d").alias("_dv")), "v")
        )
        lower = (F.col("_du") < F.col("_dv")) | (
            (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
        )
        e = tagged.select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("u"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("v"),
        )
    elif orient != "id":
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    w = e.alias("e1").join(
        e.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    tri = w.join(
        e.alias("e3"),
        (F.col("x") == F.col("e3.u")) & (F.col("z") == F.col("e3.v")),
    ).select("x", "y", "z")
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("vertex"))
    return corners.groupBy("vertex").agg(F.count(F.lit(1)).alias("n_triangles"))
