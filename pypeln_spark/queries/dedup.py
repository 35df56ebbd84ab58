"""Deduplication queries over the documents table — oracle-matched.

The MinHash/SimHash oracles replicate the ENTIRE pipeline (shingle → hash →
signature → band → candidate → verify) in DuckDB SQL using the same frozen
hash family (ext/hashing.py), so the comparison checks the algorithm end to
end — including which candidate pairs LSH does and doesn't surface — not
just a lucky subset.
"""

from __future__ import annotations

from pypeln_spark.ext import dedup as D
from pypeln_spark.ext.hashing import MINHASH_PARAMS, sql_h31, sql_shingles

from .base import REGISTRY, register, tables

JACCARD_THRESHOLD = 0.5
N_HASHES = 32
BANDS = 8

_PARAM_VALUES = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(MINHASH_PARAMS[:N_HASHES]))

# shared CTE prefix: distinct (doc_id, shingle_hash)
_SH_CTE = f"""
sh AS (
  SELECT DISTINCT doc_id, {sql_h31('shingle')} AS sh
  FROM (SELECT doc_id, unnest({sql_shingles('text')}) AS shingle FROM documents)
)
"""

_MH_CTE = f"""
params(j, a, b) AS (VALUES {_PARAM_VALUES}),
mh AS (
  SELECT doc_id, j, MIN((a * sh + b) % 2147483647) AS mh
  FROM sh CROSS JOIN params GROUP BY doc_id, j
)
"""

_JACCARD_TAIL = """
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= {t}
"""


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_documents(spark, sf_dir):
    """Exact dedup: hash-groupBy — shuffles (hash,id), never the payload."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.exact_dedup(docs)


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_SH_CTE}, {_MH_CTE}
    SELECT doc_id, j, mh FROM mh
    """,
)
def dedup_minhash_signatures(spark, sf_dir):
    """MinHash signatures (32 frozen hash fns) — checked value-for-value."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.minhash_signatures(docs, n_hashes=N_HASHES)


@register(
    "dedup_minhash_lsh",
    # RETIRED r13: superseded by dedup_minhash_lsh_fast — the IDENTICAL
    # pipeline and IDENTICAL oracle, differing only in the impl= parameter
    # (numpy vs interpreted signature stage). The interpreted impl stays
    # registry-covered (dedup_lsh_hot_bucket_star, dedup_ngram_jaccard_exact
    # run it) and bit-equivalence is test-pinned
    # (test_shingle_sigs_np_bitwise_matches_catalyst).
    retired_by="dedup_minhash_lsh_fast",
    oracle=f"""
    WITH {_SH_CTE}, {_MH_CTE},
    banded AS (
      SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL.format(t=JACCARD_THRESHOLD)}
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """Full MinHash-LSH near-dup pipeline: shingle→sign→band→bucket-join→
    exact-Jaccard verify. The oracle replays the identical pipeline, so the
    check covers LSH's candidate generation itself."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD
    )


HOT_BUCKET_CAP = 3  # binds on 18 of 3,596 sf0.01 buckets (sizes 4-7) so the
# star path is actually exercised by the driver check; a deployment sets ~10^3


@register(
    "dedup_lsh_hot_bucket_star",
    oracle=f"""
    WITH {_SH_CTE}, {_MH_CTE},
    banded AS (
      SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, j // 4
    ),
    ranked AS (
      SELECT doc_id, band, sig,
             COUNT(*) OVER (PARTITION BY band, sig) AS bsz,
             ROW_NUMBER() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rnk
      FROM banded
    ),
    cand AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ranked a JOIN ranked b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        WHERE a.bsz <= {HOT_BUCKET_CAP}
        UNION ALL
        SELECT r.doc_id AS id_a, m.doc_id AS id_b
        FROM ranked r JOIN ranked m ON r.band = m.band AND r.sig = m.sig
        WHERE r.bsz > {HOT_BUCKET_CAP} AND r.rnk = 1 AND m.rnk > 1
      )
    ),
    {_JACCARD_TAIL.format(t=JACCARD_THRESHOLD)}
    """,
)
def dedup_lsh_hot_bucket_star(spark, sf_dir):
    """MinHash-LSH with the hot-bucket guard: band buckets wider than
    HOT_BUCKET_CAP emit representative-STAR candidate pairs (member ↔
    min-id rep, m-1 pairs) instead of all pairs (m(m-1)/2) — the cap that
    keeps boilerplate/mirror dup clusters from going quadratic at corpus
    scale. Small buckets are bit-identical to dedup_minhash_lsh; the
    oracle replays the size/rank window and BOTH emission arms, so the
    driver check covers exactly which pairs the cap does and doesn't
    surface."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
        bucket_cap=HOT_BUCKET_CAP,
    )


@register(
    "dedup_ngram_jaccard_exact",
    oracle=f"""
    WITH {_SH_CTE},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL.format(t=JACCARD_THRESHOLD)}
    """,
)
def dedup_ngram_jaccard_exact(spark, sf_dir):
    """Exact n-gram Jaccard baseline (ground truth the LSH path approximates):
    candidates = any shared shingle, then exact verify. Quadratic in the
    worst case — the reason minhash_lsh exists."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)


RECALL_SAMPLE_MOD = 4  # ground truth on the doc_id % 4 == 0 doc sample


@register(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, {sql_h31('shingle')} AS sh
      FROM (SELECT doc_id, unnest({sql_shingles('text')}) AS shingle
            FROM documents WHERE doc_id % {RECALL_SAMPLE_MOD} = 0)
    ),
    {_MH_CTE},
    banded AS (
      SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, j // 4
    ),
    cand_lsh AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    cand_ex AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand_ex c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY c.id_a, c.id_b
    ),
    exact AS (
      SELECT i.id_a, i.id_b,
             CAST(i.n_inter AS DOUBLE)
               / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE CAST(i.n_inter AS DOUBLE)
              / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)
            >= {JACCARD_THRESHOLD}
    )
    SELECT CAST(FLOOR(e.jaccard * 10) AS INTEGER) AS j_decile,
           COUNT(*) AS n_exact,
           COUNT(l.id_a) AS n_lsh,
           CAST(COUNT(l.id_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM exact e
    LEFT JOIN cand_lsh l ON l.id_a = e.id_a AND l.id_b = e.id_b
    GROUP BY CAST(FLOOR(e.jaccard * 10) AS INTEGER)
    """,
)
def dedup_lsh_recall_eval(spark, sf_dir):
    """Dedup-quality EVALUATION — the MinHash family's counterpart to the
    ANN recall-eval trilogy: the MEASURED LSH S-curve. Ground truth is the
    exact inverted-index Jaccard baseline on a deterministic doc sample
    (doc_id % 4 — sampled for the same reason the ANN evals sample their
    query set: exact all-pairs is the guarded baseline, never the prod
    path); the approximate arm is the production banding (b=8, r=4).
    Verified-LSH output is exact ∩ candidates by construction, so per
    Jaccard decile: recall = captured/exact — the empirical capture curve
    a deployment compares against 1-(1-J^r)^b when tuning bands vs
    verify-cost (pairs at J≈threshold are the ones banding loses; J≥0.9
    capture should read ~1.0). One shared shingle scan feeds both arms;
    the oracle replays shingling, signatures, banding, BOTH candidate
    sets, the verify, and the decile rollup, so the recall numbers
    themselves are hash-checked."""
    from pyspark.sql import functions as F

    (docs,) = tables(spark, sf_dir, "documents")
    sample = docs.filter(F.col("doc_id") % RECALL_SAMPLE_MOD == 0)
    return D.lsh_recall_table(
        sample, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD
    )


CONTAINMENT_THRESHOLD = 0.6


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SH_CTE}, {_MH_CTE},
    banded AS (
      SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)
             AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE)
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """Max-containment near-dedup (ext/dedup.minhash_lsh_dedup with
    measure="containment"): |A∩B| / min(|A|, |B|) — the quote/subset
    detector a crawl pipeline runs alongside Jaccard, since a short doc
    embedded verbatim in a long one scores containment 1.0 while its
    Jaccard shrinks with the size gap. Same MinHash-LSH candidate stage
    (recalled BY Jaccard — that selectivity is part of the spec and the
    oracle replays it); only the verify scalar changes."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs, n_hashes=N_HASHES, bands=BANDS,
        threshold=CONTAINMENT_THRESHOLD, measure="containment",
    )


@register(
    "dedup_minhash_lsh_fast",
    oracle=f"""
    WITH {_SH_CTE}, {_MH_CTE},
    banded AS (
      SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    {_JACCARD_TAIL.format(t=JACCARD_THRESHOLD)}
    """,
)
def dedup_minhash_lsh_fast(spark, sf_dir):
    """The production-speed MinHash-LSH: identical pipeline, but the
    shingle+signature stage runs as ONE vectorized numpy/Arrow pass
    (ext/dedup.shingle_sigs_np) instead of Spark's interpreted higher-order
    fold — r1 measured interpretation overhead, not hash cost, as the
    bottleneck (an xxhash64 variant was only 1.1× faster, confirming it).
    Because the numpy pass uses the SAME frozen md5 family, this variant
    now shares the md5 oracle — the fast path is value-checked end to end,
    not trusted by analogy."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.minhash_lsh_dedup(
        docs, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
        impl="numpy",
    )


_TH = sql_h31("tok")

@register(
    "dedup_simhash_fingerprints",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {_TH} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    contrib AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
      GROUP BY doc_id, i
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM contrib GROUP BY doc_id
    """,
)
def dedup_simhash_fingerprints(spark, sf_dir):
    """32-bit SimHash fingerprints over tokens (every occurrence counts)."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.simhash_fingerprints(docs)


@register(
    "dedup_simhash_near_pairs",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {_TH} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    contrib AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
      GROUP BY doc_id, i
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM contrib GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 3). Spark avoids O(n²) via the
    4-byte pigeonhole band join; the oracle's brute-force scan proves the
    banding loses nothing.

    DELIBERATELY tables=1 (ADVICE r8 — an earlier commit message
    overstated a 'tables=4 production pin'): at hd ≤ 3 a SINGLE table is
    pigeonhole-COMPLETE (3 flips leave ≥1 of 4 bytes intact), so extra
    permutation tables add 4× candidate-explode cost and exactly zero
    recall. The multi-table path earns its cost only past the guarantee —
    that production shape is dedup_simhash_near_pairs_wide (hd ≤ 5,
    tables=4) below, with its capture measured by
    dedup_simhash_recall_eval."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.simhash_near_pairs(D.simhash_fingerprints(docs))


_TH60 = "CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)"


@register(
    "dedup_simhash_near_pairs60",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {_TH60} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    contrib AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS i)
      GROUP BY doc_id, i
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM contrib GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_near_pairs60(spark, sf_dir):
    """The corpus-scale SimHash shape: 60-bit fingerprints (h60, the
    un-reduced md5 prefix) banded as 4 × 15-bit keys — 2^15 key values
    per band where the 32-bit byte banding has 2^8, cutting per-key
    collisions (and the self-join's candidate volume) 128× at identical
    pigeonhole semantics (hd ≤ 3 leaves ≥1 of 4 bands intact: recall
    exactly 1.0). Byte banding is Θ(n²/64) in the corpus no matter how
    dissimilar the documents are; band width ≈ log2(corpus) is the
    production dial. The oracle is the brute-force 60-bit scan, so the
    driver check proves the wide banding loses nothing (13 hd≤3 pairs
    at sf0.01)."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.simhash_near_pairs_wideband(
        D.simhash_fingerprints(docs, bits=60), max_hamming=3,
        band_bits=15, bands=4,
    )


@register(
    "dedup_simhash_near_pairs_wide",
    # RETIRED r13: documented SUPERSEDED (its own docstring, since r11) by
    # dedup_simhash_near_pairs_wide60 — the same simhash_near_pairs code
    # path at the production setting (60-bit fingerprints x 4 affine
    # tables vs this 32-bit variant, which saturates past ~10^5 docs).
    # The 32-bit tables=4 path stays pytest-covered
    # (test_simhash_wide_entry_plan_shape + the hd-5 pair mechanics in
    # test_ext.py) and its capture is measured by dedup_simhash_recall_eval.
    retired_by="dedup_simhash_near_pairs_wide60",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {_TH} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    contrib AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
      GROUP BY doc_id, i
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM contrib GROUP BY doc_id
    ),
    keysm AS (
      SELECT doc_id,
             t * 1024 + b * 256 +
             SUM(((simhash >> CAST((mult * (8 * b + j) + boff) % 32 AS INT)) & 1)
                 * (1 << CAST(j AS INT))) AS k
      FROM fp
      CROSS JOIN (VALUES (0, 1, 0), (1, 5, 7), (2, 7, 14), (3, 11, 21))
                 tabs(t, mult, boff)
      CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
      CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
      GROUP BY doc_id, t, b
    ),
    candm AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keysm a JOIN keysm b ON a.k = b.k AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
    FROM candm c
    JOIN fp fa ON fa.doc_id = c.id_a
    JOIN fp fb ON fb.doc_id = c.id_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 5
    """,
)
def dedup_simhash_near_pairs_wide(spark, sf_dir):
    """The WIDENED-RECALL production SimHash path (VERDICT r8 #6):
    hamming ≤ 5 with tables=4 — the setting a deployment actually runs
    for near-dup TEXT, where hd 4-5 pairs matter and one table's capture
    decays (measured 0.91/0.75 at hd 4/5; 4 affine permutation tables
    lift both to 1.00 at sf0.01, dedup_simhash_recall_eval / SCALING.md).
    Candidate volume ∝ T on the explode side, the join stays a scalar-key
    equi-join (plan-pinned by tests/test_plans.py).

    Past the hd ≤ 3 pigeonhole guarantee the banding is APPROXIMATE, so
    the oracle replays the CANDIDATE STAGE itself (the 4-table affine
    key derivation, frozen constants from ext/dedup.SIMHASH_TABLE_A/B)
    rather than a brute-force scan — the capture loss, if any, is part
    of the verified contract, exactly like embedding_near_dup_lsh's
    bucket replay.

    SUPERSEDED past ~10^5 docs by dedup_simhash_near_pairs_wide60
    (below): 32-bit fingerprints saturate at corpus scale — hd ≤ 5
    "matches" become fingerprint collisions, not near-dups — and the
    byte bands carry a Θ(n²/64) random-collision candidate floor."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.simhash_near_pairs(
        D.simhash_fingerprints(docs), max_hamming=5, tables=4
    )


@register(
    "dedup_simhash_near_pairs_wide60",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {_TH60} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    ),
    contrib AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS i)
      GROUP BY doc_id, i
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM contrib GROUP BY doc_id
    ),
    keysm AS (
      SELECT doc_id,
             (t * 4 + b) * 32768 +
             SUM(((simhash >> CAST((mult * (15 * b + j) + boff) % 60 AS INT)) & 1)
                 * (1 << CAST(j AS INT))) AS k
      FROM fp
      CROSS JOIN (VALUES (0, 1, 0), (1, 7, 11), (2, 11, 22), (3, 13, 33))
                 tabs(t, mult, boff)
      CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
      CROSS JOIN (SELECT unnest(range(0, 15)) AS j)
      GROUP BY doc_id, t, b
    ),
    candm AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keysm a JOIN keysm b ON a.k = b.k AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
    FROM candm c
    JOIN fp fa ON fa.doc_id = c.id_a
    JOIN fp fb ON fb.doc_id = c.id_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 5
    """,
)
def dedup_simhash_near_pairs_wide60(spark, sf_dir):
    """The CORPUS-SCALE production SimHash setting (VERDICT r10 #7):
    60-bit fingerprints × 4 affine regrouping tables at hamming ≤ 5 —
    the two r10 advances combined. r10 showed each alone is
    insufficient past ~10^5 docs: 32-bit fingerprints SATURATE
    (hd ≤ 3 admits 311,610 pairs at sf0.1 where 60 bits admit 512 —
    fingerprint collisions, not near-dups), and single-table wide
    bands lose hd 4-5 recall exactly like single-table bytes (the
    pigeonhole guarantee stops at bands-1 = 3 flips). Here the 2^15
    keys/band keep the candidate floor 128× below byte banding while
    tables 1-3 (frozen mod-60 bijections, ext/dedup.SIMHASH60_TABLE_A/B)
    re-gather the bits so hd 4-5 flip patterns that straddle every
    contiguous band still share a key somewhere. Like the 32-bit wide
    entry, capture past the guarantee is part of the contract: the
    oracle replays the CANDIDATE STAGE itself (the 4-table key
    derivation, constants baked in), so any capture loss is verified,
    not hidden."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.simhash_near_pairs_wideband(
        D.simhash_fingerprints(docs, bits=60), max_hamming=5,
        band_bits=15, bands=4, tables=4,
    )


@register(
    "dedup_simhash_recall_eval",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {_TH} AS h
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id % {RECALL_SAMPLE_MOD} = 0)
    ),
    contrib AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
      GROUP BY doc_id, i
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM contrib GROUP BY doc_id
    ),
    exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    ),
    keys1 AS (
      SELECT doc_id, b * 256 + ((simhash >> CAST(8 * b AS INT)) & 255) AS k
      FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
    ),
    cand1 AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keys1 a JOIN keys1 b ON a.k = b.k AND a.doc_id < b.doc_id
    ),
    keysm AS (
      SELECT doc_id,
             t * 1024 + b * 256 +
             SUM(((simhash >> CAST((mult * (8 * b + j) + boff) % 32 AS INT)) & 1)
                 * (1 << CAST(j AS INT))) AS k
      FROM fp
      CROSS JOIN (VALUES (0, 1, 0), (1, 5, 7), (2, 7, 14), (3, 11, 21))
                 tabs(t, mult, boff)
      CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
      CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
      GROUP BY doc_id, t, b
    ),
    candm AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keysm a JOIN keysm b ON a.k = b.k AND a.doc_id < b.doc_id
    )
    SELECT CAST(1 AS INTEGER) AS n_tables, e.hamming,
           COUNT(*) AS n_exact,
           COUNT(c.id_a) AS n_cand,
           CAST(COUNT(c.id_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS capture
    FROM exact e
    LEFT JOIN cand1 c ON c.id_a = e.id_a AND c.id_b = e.id_b
    GROUP BY e.hamming
    UNION ALL
    SELECT CAST(4 AS INTEGER) AS n_tables, e.hamming,
           COUNT(*) AS n_exact,
           COUNT(c.id_a) AS n_cand,
           CAST(COUNT(c.id_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS capture
    FROM exact e
    LEFT JOIN candm c ON c.id_a = e.id_a AND c.id_b = e.id_b
    GROUP BY e.hamming
    """,
)
def dedup_simhash_recall_eval(spark, sf_dir):
    """The SimHash leg of the recall-eval matrix: per hamming distance
    0..8, the capture rate of the pigeonhole band join against the exact
    all-pairs XOR-popcount ground truth on the doc_id % 4 sample
    (ext/dedup.simhash_capture_table) — TWO ARMS side by side (r8): the
    single-table baseline (hd ≤ 3 must measure EXACTLY 1.0 — the
    pigeonhole theorem as a value-checked number; r7 measured the hd 4-8
    falloff at 0.91→0.29) and the 4-table bit-permutation generalization
    (VERDICT r7 #6), whose hd 4-6 lift is the number a deployment reads
    before retuning max_hamming. Both candidate stages are the IDENTICAL
    code path production uses (_simhash_candidates with tables=1/4); the
    oracle replays fingerprints, both key families (contiguous bytes and
    the frozen affine bit permutations), both pair sets and the rollup."""
    from pyspark.sql import functions as F

    (docs,) = tables(spark, sf_dir, "documents")
    sample = docs.filter(F.col("doc_id") % RECALL_SAMPLE_MOD == 0)
    return D.simhash_capture_table(D.simhash_fingerprints(sample), tables=4)


@register(
    "dedup_minhash_clusters",
    oracle=f"""
    WITH RECURSIVE {_SH_CTE}, {_MH_CTE},
    banded AS (
      SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.sh = a.sh
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)
            >= {JACCARD_THRESHOLD}
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
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    """,
)
def dedup_minhash_clusters(spark, sf_dir):
    """Near-dup pairs → connected components → (doc_id, cluster_id =
    min reachable id). The keep-list is `cluster_id = doc_id`. Spark runs
    iterative min-label propagation to the exact fixpoint; the oracle
    replays it as a recursive-CTE transitive closure — both converge to the
    same canonical labeling, so the iteration count never leaks into the
    result."""
    (docs,) = tables(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        docs, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
        impl="numpy",  # same md5 family → same oracle; see shingle_sigs_np
    )
    return D.connected_components(pairs)


# same fixpoint, same oracle: label propagation and large/small-star both
# converge to (doc_id, min reachable id)
_CLUSTERS_ORACLE = REGISTRY["dedup_minhash_clusters"].oracle


@register("dedup_minhash_clusters_star", oracle=_CLUSTERS_ORACLE)
def dedup_minhash_clusters_star(spark, sf_dir):
    """The O(log n)-round clustering path: identical near-dup pair input,
    components via alternating large-star/small-star
    (ext/dedup.connected_components_star) instead of min-label
    propagation — the variant that survives adversarial high-diameter dup
    graphs. Same canonical labeling, so it shares
    dedup_minhash_clusters' recursive-CTE oracle verbatim."""
    (docs,) = tables(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        docs, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
        impl="numpy",
    )
    return D.connected_components_star(pairs)


@register("dedup_span_chunks", oracle=D.sql_span_dedup(window=16))
def dedup_span_chunks(spark, sf_dir):
    """Repeated-span accounting (ext/dedup.span_dedup): every doc split into
    non-overlapping 16-token chunks, each chunk kept only at its first
    corpus-wide occurrence — the fixed-window stand-in for suffix-array
    exact-substring dedup. Only (hash, doc, idx) triples ever shuffle
    (~24 B/chunk); first-occurrence pick is one window over the
    high-cardinality chunk hash, so partitions stay even at any corpus
    size."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.span_dedup(docs, window=16)


@register("dedup_span_overlap", oracle=D.sql_span_dedup(window=16, stride=8))
def dedup_span_overlap(spark, sf_dir):
    """OVERLAPPING-window repeated-span accounting (VERDICT r5 #3):
    stride=8 < window=16, so chunk starts land every 8 tokens and a
    duplicated passage shifted by any multiple of 8 tokens — including
    the half-window shift the non-overlapping dedup_span_chunks provably
    misses (tests/test_ext.py::test_span_dedup_overlap_catches_half_
    window_shift) — aligns and is caught. Cost is rows ∝ tokens/stride
    (2× the chunk rows of the fixed variant), same 24 B/chunk shuffle
    shape: recall buys linearly, never quadratically."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.span_dedup(docs, window=16, stride=8)


@register("dedup_cdc_chunks", oracle=D.sql_cdc_chunk_dedup(divisor=8))
def dedup_cdc_chunks(spark, sf_dir):
    """CONTENT-DEFINED chunking dedup — the shift-INVARIANT substring pass
    that closes span_dedup's documented residual gap (shifts not ≡ 0 mod
    stride): chunk boundaries fall where the frozen token hash ≡ 0 (mod 8),
    so a repeated passage chunks identically at ANY offset and every
    interior chunk of an arbitrary-shift duplicate is caught
    (tests/test_ext.py::test_cdc_chunk_dedup_catches_arbitrary_shift).
    Token-weighted first-occurrence accounting; same narrow-projection +
    one-window shuffle shape as span_dedup (~32 B/chunk on the wire). The
    oracle replays boundary placement, segmentation, chunk hashing and the
    keep decision end to end."""
    (docs,) = tables(spark, sf_dir, "documents")
    return D.cdc_chunk_dedup(docs, divisor=8)


@register(
    "dedup_incremental_vs_corpus",
    oracle=f"""
    WITH {_SH_CTE}, {_MH_CTE},
    banded AS (
      SELECT doc_id, j // 4 AS band, list(mh ORDER BY j) AS sig
      FROM mh GROUP BY doc_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      FROM banded n JOIN banded c
        ON n.band = c.band AND n.sig = c.sig
       AND n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.new_id, p.corpus_id, COUNT(*) AS n_inter
      FROM cand p
      JOIN sh a ON a.doc_id = p.new_id
      JOIN sh b ON b.doc_id = p.corpus_id AND b.sh = a.sh
      GROUP BY p.new_id, p.corpus_id
    )
    SELECT i.new_id, i.corpus_id,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.new_id
    JOIN sizes sb ON sb.doc_id = i.corpus_id
    WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_incremental_vs_corpus(spark, sf_dir):
    """INCREMENTAL dedup (ext/dedup.dedup_against_corpus): odd doc_ids play
    the fresh crawl batch, even doc_ids the existing corpus. Only
    new→corpus candidate pairs form — the corpus is never self-joined, and
    its band table is exactly the append-only LSH index a deployment
    maintains between batches, so absorbing a batch costs ∝ |batch| ×
    bands, not corpus². The oracle replays the split, the banding, and the
    exact-Jaccard verification end to end."""
    from pyspark.sql import functions as F

    (docs,) = tables(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    cor_sh, cor_bands = _corpus_index(
        sf_dir, docs.filter(F.col("doc_id") % 2 == 0)
    )
    return D.dedup_against_corpus(
        new, n_hashes=N_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
        corpus_index=(
            cor_sh, cor_bands,
            {"k": 5, "n_hashes": N_HASHES, "bands": BANDS},
        ),
    )


def _corpus_index(sf_dir, corpus, name="lsh_corpus"):
    """The maintained corpus LSH index, session-cached: (shingle arrays,
    band table) of ``corpus``, keyed by ``name`` and ``sf_dir``, so the
    batch dedup_incremental_vs_corpus and every streaming text gate over
    the same corpus share one build, and absorbing a batch pays only the
    batch side after it."""
    from pypeln_spark.ext import similarity as S

    cor_sh = S.cached_index(
        (f"{name}_shingles", sf_dir),
        lambda: D.shingle_arrays(D.spread(corpus), "text", "doc_id", 5),
    )
    cor_bands = S.cached_index(
        (f"{name}_bands", sf_dir, N_HASHES, BANDS),
        lambda: D.lsh_band_table(
            D.minhash_signatures_wide(cor_sh, "doc_id", N_HASHES),
            "doc_id", BANDS, N_HASHES // BANDS,
        ),
    )
    return cor_sh, cor_bands
