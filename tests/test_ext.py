"""Extension-layer unit tests: multimodal plumbing (the only ext module
without an oracle-checked query) + spot checks on dedup/similarity internals."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pypeln_spark.ext import multimodal as M


def test_multimodal_extract_features_shapes(spark):
    assets = M.synthesize_assets(spark, n=32)
    out = M.extract_features(assets, fake_decode=True).collect()
    assert len(out) == 32
    for r in out:
        assert len(r.features) == 16
        assert r.mean_intensity == pytest.approx(float(np.mean(r.features)))
        assert r.batch_rows >= 1


def test_multimodal_real_decode_raises(spark):
    assets = M.synthesize_assets(spark, n=2)
    with pytest.raises(Exception) as ei:
        M.extract_features(assets, fake_decode=False).collect()
    assert "NotImplementedError" in str(ei.value) or "decode" in str(ei.value)


def test_pnm_decoder_pure_python():
    """_decode_pnm: the REAL in-repo decoder — P5 raster round-trips,
    header comments/whitespace parse, P6 reduces by integer ITU-R 601
    luma, truncated rasters and non-8-bit maxval fail loudly."""
    px = np.arange(24, dtype=np.uint8).reshape(4, 6)
    media = b"P5\n# a comment\n6 4\n255\n" + px.tobytes()
    out = M._decode_pnm(media)
    assert out.shape == (4, 6) and (out == px).all()

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[0, 0] = (255, 0, 0)    # luma 299*255//1000 = 76
    rgb[0, 1] = (0, 255, 0)    # 149
    rgb[1, 0] = (0, 0, 255)    # 29
    rgb[1, 1] = (10, 20, 30)   # (2990+11740+3420)//1000 = 18
    out6 = M._decode_pnm(b"P6 2 2 255\n" + rgb.tobytes())
    assert out6.tolist() == [[76, 149], [29, 18]]

    with pytest.raises(ValueError, match="truncated"):
        M._decode_pnm(b"P5\n6 4\n255\n" + px.tobytes()[:-1])
    with pytest.raises(ValueError, match="maxval"):
        M._decode_pnm(b"P5\n2 2\n65535\n" + b"\x00" * 8)
    # _decode_image routes PNM magic to the real decoder, fake untouched
    assert (M._decode_image(media, fake=False) == px).all()


def test_pnm_decoder_roundtrip_property():
    """Property: any 8-bit raster round-trips through encode→_decode_pnm
    for both P5 (identity) and P6 (exact integer luma), under arbitrary
    header whitespace/comment noise."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 9),
        seed=st.integers(0, 2**31),
        ws=st.sampled_from([" ", "\n", "\t", "\n# c\n", " # x y\n"]),
    )
    def check(w, h, seed, ws):
        rng = np.random.default_rng(seed)
        gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        hdr = f"P5{ws}{w}{ws}{h}{ws}255\n".encode()
        assert (M._decode_pnm(hdr + gray.tobytes()) == gray).all()
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        hdr6 = f"P6{ws}{w}{ws}{h}{ws}255\n".encode()
        c = rgb.astype(np.int64)
        want = (299 * c[..., 0] + 587 * c[..., 1] + 114 * c[..., 2]) // 1000
        assert (M._decode_pnm(hdr6 + rgb.tobytes()) == want).all()

    check()


def test_multimodal_real_decode_pnm_end_to_end(spark):
    """decode_stats over synthesized PNM assets runs the REAL decoder with
    no codec library: decoded dimensions come from the pixel array and
    match the generator's spec; the fake path is not involved."""
    assets = M.synthesize_pnm_assets(spark, n=12)
    got = {r.asset_id: r for r in M.decode_stats(assets).collect()}
    assert len(got) == 12
    for i in range(12):
        assert (got[i].width, got[i].height) == (4 + i % 3, 5 + i % 4)
        assert 0.0 <= got[i].mean16 <= 255.0


def test_multimodal_frame_sample(spark):
    assets = M.synthesize_assets(spark, n=12)
    frames = M.frame_sample(assets, every_n=2)
    rows = frames.collect()
    assert all(r.frame_idx % 2 == 0 for r in rows)
    # every video asset with n_frames >= 1 contributes frame 0
    videos = assets.filter(F.col("modality") == "video").count()
    assert len({r.asset_id for r in rows}) == videos


def test_multimodal_resize_rewrites_meta_only(spark):
    assets = M.synthesize_assets(spark, n=3)
    out = M.resize_stub(assets, 128, 96).collect()
    for r in out:
        assert r.meta.width == 128 and r.meta.height == 96
        assert len(r.media) > 0


def test_metadata_query_prunes_media_column(spark):
    """Metadata-only aggregates must not read the media bytes — verify the
    optimized plan prunes the binary column (the 100 TB survival property)."""
    import tempfile

    assets = M.synthesize_assets(spark, n=16)
    with tempfile.TemporaryDirectory() as d:
        assets.write.mode("overwrite").parquet(f"{d}/assets")
        df = spark.read.parquet(f"{d}/assets")
        q = df.groupBy("modality").agg(F.avg(F.col("meta.n_frames")).alias("avg_frames"))
        # the scan's ReadSchema is what actually hits disk
        plan = q._jdf.queryExecution().executedPlan().toString()
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert read_schema and all("media" not in l for l in read_schema), (
            f"media column not pruned from scan:\n{plan}"
        )
        q.collect()


def test_simhash_pigeonhole_equals_bruteforce(spark, sf_dir):
    """The 4-byte band join must find exactly the pairs a full O(n^2) scan
    finds (hamming <= 3)."""
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, sf_dir, "documents")
    fp = D.simhash_fingerprints(docs).cache()
    banded = {(r.id_a, r.id_b) for r in D.simhash_near_pairs(fp).collect()}
    a = fp.selectExpr("doc_id id_a", "simhash sh_a")
    b = fp.selectExpr("doc_id id_b", "simhash sh_b")
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.bit_count(F.expr("sh_a ^ sh_b")))
        .filter(F.col("h") <= 3)
    )
    assert banded == {(r.id_a, r.id_b) for r in brute.collect()}
    fp.unpersist()


def test_sample_by_hash_deterministic_and_nested(spark, sf_dir):
    from pypeln_spark.ext import curation as C

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s25 = {r.doc_id for r in C.sample_by_hash(docs, rate=0.25).select("doc_id").collect()}
    s25_again = {r.doc_id for r in C.sample_by_hash(docs, rate=0.25).select("doc_id").collect()}
    s50 = {r.doc_id for r in C.sample_by_hash(docs, rate=0.5).select("doc_id").collect()}
    assert s25 == s25_again  # reproducible, unlike df.sample
    assert s25 <= s50  # rate windows nest: [0,2500) ⊂ [0,5000)
    other = {
        r.doc_id
        for r in C.sample_by_hash(docs, rate=0.5, salt="val").select("doc_id").collect()
    }
    assert other != s50  # a different salt is an independent draw


def test_decontaminate_drops_all_bench_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypeln_spark.ext import curation as C

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    surv = C.decontaminate(docs, bench)
    # every bench doc shares its own grams -> none survive
    assert surv.join(bench.select("doc_id"), "doc_id").count() == 0
    assert 0 < surv.count() < docs.count()


def test_chunk_tokens_roundtrip(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypeln_spark.ext import text as X

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    chunks = X.chunk_tokens(docs, chunk_size=16)
    assert chunks.filter(F.col("n_chunk_tokens") > 16).count() == 0
    # chunks, re-joined in chunk order, reconstruct the original text exactly
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda s: s.chunk_text,
                ),
                " ",
            ).alias("rebuilt")
        )
    )
    bad = (
        docs.join(rebuilt, "doc_id")
        .filter(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_ivf_topk_shape_and_recall(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    ivf = S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=2).collect()
    brute = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, q, k=5).collect()}
    per_q = {}
    for r in ivf:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))  # contiguous ranks
    hits = sum((r.query_id, r.neighbor_id) in brute for r in ivf)
    assert hits / max(len(brute), 1) > 0.2  # probing 2/8 cells keeps real recall


def test_serving_nprobe_resolution_and_recall_floor(spark, sf_dir):
    """VERDICT r11 #5: the serving gate's nprobe resolves from a recall
    target via the scan-fraction physics. Pins: (a) the registry serving
    entry's setting (target 0.12 at 16 cells -> the committed nprobe=2,
    so the oracle/floor decisions are auto-equal by construction);
    (b) monotonicity + clamps; (c) the worst-case-safety property the
    rule rests on, measured live: at the resolved nprobe for target 0.5,
    IVF recall@5 on the structure-free corpus meets the target."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    # (a) the registry serving entry's committed resolution
    assert S.serving_nprobe(16, recall_target=0.12) == 2
    # (b) monotone in target; clamped to [2, n_cells]; loud on bad input
    assert S.serving_nprobe(16, 0.5) == 8
    assert S.serving_nprobe(16, 1.0) == 16
    assert S.serving_nprobe(16, 0.01) == 2   # floor: boundary straddle
    assert S.serving_nprobe(4, 1.0) == 4     # never beyond n_cells
    assert S.serving_nprobe(1, 1.0) == 1     # n_cells bound beats the floor
    # the live entry's post-retrain geometry: its oracle bakes rk <= 4
    # for query epoch 1, which must equal the resolver at the grown cell
    # count (a change to either side must break here, not hash-mismatch
    # in the driver)
    from pypeln_spark.queries.streaming import LIVE_RETRAIN_CELLS

    assert S.serving_nprobe(LIVE_RETRAIN_CELLS, 0.12) == 4
    got = [S.serving_nprobe(16, t) for t in (0.1, 0.3, 0.5, 0.7, 0.9)]
    assert got == sorted(got)
    with _pytest.raises(ValueError):
        S.serving_nprobe(16, 0.0)
    with _pytest.raises(ValueError):
        S.serving_nprobe(0, 0.5)
    # (c) the measured floor property at the resolved nprobe (8/16 cells
    # scanned for target 0.5): recall >= target on THIS corpus — the
    # structure-free adversarial case the rule is calibrated against
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    n_cells = 16
    np_ = S.serving_nprobe(n_cells, 0.5)
    ivf = S.ivf_topk(emb, q, k=5, n_cells=n_cells, nprobe=np_).collect()
    brute = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, q, k=5).collect()}
    hits = sum((r.query_id, r.neighbor_id) in brute for r in ivf)
    assert hits / max(len(brute), 1) >= 0.5


def test_mmr_rerank_diversifies_near_duplicate_hits(spark):
    """MMR on a constructed corpus: the query's two most relevant hits
    are near-identical vectors — plain top-k takes both; MMR (lam=0.5)
    must take one, then prefer the orthogonal moderately-relevant hit
    over the near-duplicate. Also pins: mmr_rank contiguous 1..k_out,
    validation errors loud."""
    import pytest as _pytest

    from pypeln_spark.ext import similarity as S

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, q),                        # the query itself (excluded: self)
        (1, [0.99, 0.14, 0.0, 0.0]),   # near-dup pair, both cos~0.99
        (2, [0.99, 0.141, 0.0, 0.0]),
        (3, [0.7, 0.0, 0.71, 0.0]),    # moderately relevant, orthogonal axis
        (4, [0.1, 0.0, 0.0, 0.99]),    # barely relevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") == 0)
    out = S.mmr_rerank(emb, queries, k_cand=4, k_out=3, lam=0.5).collect()
    by_rank = {r.mmr_rank: r.neighbor_id for r in out}
    assert sorted(by_rank) == [1, 2, 3]
    assert by_rank[1] in (1, 2)        # pure relevance first
    assert by_rank[2] == 3             # diversity beats the near-dup
    assert by_rank[3] in (1, 2, 4)
    assert by_rank[3] != by_rank[1]
    with _pytest.raises(ValueError, match="lam"):
        S.mmr_rerank(emb, queries, lam=1.5)
    with _pytest.raises(ValueError, match="k_out"):
        S.mmr_rerank(emb, queries, k_cand=3, k_out=5)
    # candidates= (r13): supplying the exact front explicitly must be
    # bit-identical to the internal cosine_topk front — the contract the
    # ANN composition (search_mmr_over_ann_front) builds on
    internal = S.mmr_rerank(emb, queries, k_cand=4, k_out=3, lam=0.5)
    supplied = S.mmr_rerank(
        emb, queries, k_cand=4, k_out=3, lam=0.5,
        candidates=S.cosine_topk(emb, queries, k=4),
    )
    assert sorted(map(tuple, internal.collect())) == sorted(
        map(tuple, supplied.collect())
    )


def test_mmr_rerank_drops_candidates_missing_from_emb(spark):
    """ADVICE r13 (medium): a supplied candidate whose id has no emb row
    used to survive into the greedy arrays with no pair rows, get a NULL
    penalty score at step >= 2, and — as the fold's uncontested zero
    element — be SELECTED with mmr_score NULL, ahead of a real candidate.
    The contract (the r12 chain's inner div join): such candidates are
    dropped before the rerank. Repro mirrors the advice: a bogus id with
    a high front cos must not appear, no mmr_score may be NULL, and the
    real candidates must fill the trajectory."""
    from pypeln_spark.ext import similarity as S

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, q),
        (1, [0.99, 0.14, 0.0, 0.0]),
        (3, [0.7, 0.0, 0.71, 0.0]),
        (4, [0.1, 0.0, 0.0, 0.99]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") == 0)
    cand = spark.createDataFrame(
        [(0, 1, 0.99), (0, 999, 0.95), (0, 3, 0.70), (0, 4, 0.10)],
        "query_id long, neighbor_id long, cos double",
    )  # 999 has no emb row — an external ANN front handing back a stale id
    out = S.mmr_rerank(
        emb, queries, k_cand=4, k_out=3, lam=0.5, candidates=cand
    ).collect()
    picked = {r.neighbor_id for r in out}
    assert 999 not in picked
    assert all(r.mmr_score is not None for r in out)
    assert picked == {1, 3, 4}          # the real front fills k_out
    assert sorted(r.mmr_rank for r in out) == [1, 2, 3]


def test_ivf_assign_literal_path_matches_join_path(spark):
    """ivf_assign(as_literals=True) embeds the centroids as an inline
    literal array (no join node — the BNLJ-free quantizer the MMR-over-ANN
    entry composes). Values must be BIT-identical to the broadcast-join
    path on both the keep=1 argmax and keep>1 window formulations, and
    the literal plan must carry no join at all."""
    import random

    from pypeln_spark.ext import similarity as S

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    vecs = S.with_norms(S.spread(emb))
    cents = S.with_norms(S.spread(emb.filter(F.col("vec_id") < 4)))
    for keep in (1, 3):
        a = S.ivf_assign(vecs, cents, 4, keep=keep)
        b = S.ivf_assign(vecs, cents, 4, keep=keep, as_literals=True)
        cols = ["vec_id", "cid"]
        assert sorted(map(tuple, a.select(cols).collect())) == sorted(
            map(tuple, b.select(cols).collect())
        )
    plan = (
        S.ivf_assign(vecs, cents, 4, keep=1, as_literals=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan[:2000]

    # keep=3 with ranks, against a centroid frame holding two IDENTICAL
    # centroids (cid 1 and cid 7): the cid tiebreak decides their order
    twin = cents.unionByName(
        cents.filter(F.col("vec_id") == 1).withColumn("vec_id", F.lit(7).cast("long"))
    )
    for keep, rank in ((1, False), (3, True)):
        cols = ["vec_id", "cid"] + (["crank"] if rank else [])
        a = S.ivf_assign(vecs, twin, 5, keep=keep, with_rank=rank)
        b = S.ivf_assign(
            vecs, twin, 5, keep=keep, with_rank=rank, as_literals=True
        )
        assert b.columns == a.columns == ["vec_id", "_v", "_norm"] + cols[1:]
        got = sorted(map(tuple, b.select(cols).collect()))
        assert sorted(map(tuple, a.select(cols).collect())) == got
    ranks = {(v, c): r for v, c, r in got}
    tied = [v for (v, c) in ranks if c == 7]
    assert tied and all(ranks[(v, 1)] == ranks[(v, 7)] - 1 for v in tied)


def test_centroid_literals_round_trip_non_finite_bits(spark):
    """centroid_literals carries every double of the centroid frame bit
    for bit — NaN, ±Infinity, -0.0 and subnormals included — and the
    literal path assigns such centroids exactly as the join path does."""
    import struct

    from pypeln_spark.ext import similarity as S

    special = [float("nan"), float("inf"), float("-inf"), -0.0, 5e-324,
               2.2250738585072014e-308 / 3, 0.1, -1e308]
    cents = spark.createDataFrame(
        [(3, special, 2.0), (5, [1.0] * 8, float("inf")),
         (9, [0.5, -0.25] * 4, 1.0), (11, [0.0] * 8, -0.0)],
        "vec_id long, _v array<double>, _norm double",
    )
    got = spark.range(1).select(
        S.centroid_literals(cents).alias("c")
    ).collect()[0].c
    bits = lambda x: struct.pack(">d", x)
    want = [(r.vec_id, r._v, r._norm) for r in cents.collect()]
    assert [(r.cid, [bits(x) for x in r.cv], bits(r.cn)) for r in got] == [
        (c, [bits(x) for x in v], bits(n)) for c, v, n in want
    ]
    vecs = S.with_norms(S.spread(spark.createDataFrame(
        [(i, [float(i % 3 - 1), 1.0, -0.5, 0.0, 2.0, 0.0, 1.0, float(i)])
         for i in range(12)],
        "vec_id long, embedding array<float>",
    )))
    # a zero norm is a division by zero under ANSI mode on either path
    cents = cents.filter(F.col("_norm") != 0)
    for keep in (1, 2):
        cols = ["vec_id", "cid"]
        a = S.ivf_assign(vecs, cents, 3, keep=keep).select(cols)
        b = S.ivf_assign(vecs, cents, 3, keep=keep, as_literals=True).select(cols)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_connected_components_chain_and_islands(spark):
    from pypeln_spark.ext import dedup as D

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # island pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in D.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_local_gate_matches_distributed(spark):
    """The size-gated driver-side union-find (r13 optimization round)
    must label EXACTLY as the distributed fixpoint, for both variants,
    and the cap boundary must route correctly: local_edge_cap=0 disables
    the gate (distributed rounds), a cap below the edge count falls
    through to distributed, a cap at/above it goes local. The edge frame
    counted against the cap is each variant's internal one (symmetrized
    for min-label, lo<hi for star)."""
    from pypeln_spark.ext import dedup as D

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22), (5, 5)],
        "id_a long, id_b long",
    )

    def lab(df):
        return {(r.doc_id, r.cluster_id) for r in df.collect()}

    for fn in (D.connected_components, D.connected_components_star):
        dist = lab(fn(pairs, local_edge_cap=0))
        loc = lab(fn(pairs, local_edge_cap=100))
        assert loc == dist, (fn.__name__, loc, dist)
        under = lab(fn(pairs, local_edge_cap=3))  # < edges: distributed
        assert under == dist, (fn.__name__, under)
    # schema parity with the distributed output
    loc_df = D.connected_components(pairs, local_edge_cap=100)
    assert [f.name for f in loc_df.schema.fields] == ["doc_id", "cluster_id"]
    assert {f.dataType.simpleString() for f in loc_df.schema.fields} == {"bigint"}


def test_kmv_sketch_partition_invariant_and_accurate(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypeln_spark.ext import sketch as K
    from pypeln_spark.queries.base import load_table

    events = load_table(spark, sf_dir, "events")
    one = K.kmv_sketch(events.coalesce(1), ["event_type"], "user_id", k=32, salts=1)
    many = K.kmv_sketch(events.repartition(16), ["event_type"], "user_id", k=32, salts=8)
    a = {r.event_type: (r.kmin, r.est_distinct) for r in one.collect()}
    b = {r.event_type: (r.kmin, r.est_distinct) for r in many.collect()}
    assert a == b  # merge is lossless: layout/salting never changes the sketch
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, (kmin, est) in a.items():
        if len(kmin) < 32:
            assert est == len(kmin) == exact[et]  # small groups are exact
        else:
            assert abs(est - exact[et]) / exact[et] < 0.5  # k=32 → ~18% σ


def test_quadratic_guard_refuses_large_input(spark):
    """VERDICT r1: the exact quadratic baselines must refuse big inputs
    unless explicitly forced."""
    import pytest as _pytest

    from pypeln_spark.ext import dedup as D

    big = spark.range(0, D.QUADRATIC_GUARD_ROWS + 10).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    )
    with _pytest.raises(ValueError, match="quadratic"):
        D.guard_quadratic(big, "test_op")
    D.guard_quadratic(big, "test_op", allow_large=True)  # explicit opt-in OK
    D.guard_quadratic(big.limit(10), "test_op")  # small inputs pass


def test_shingle_sigs_np_bitwise_matches_catalyst(spark, sf_dir):
    """The numpy signature pass must be BIT-identical to the Catalyst
    shingle_arrays + minhash_signatures_wide path — same md5 family, same
    first-occurrence shingle order, same minima."""
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    cat_sh = D.shingle_arrays(docs)
    cat_sig = D.minhash_signatures_wide(cat_sh, n_hashes=16)
    np_both = D.shingle_sigs_np(docs, n_hashes=16)
    a_sh = {r.doc_id: r.sh_arr for r in cat_sh.collect()}
    a_sig = {r.doc_id: r.sig for r in cat_sig.collect()}
    b = {r.doc_id: (r.sh_arr, r.sig) for r in np_both.collect()}
    assert set(b) == set(a_sh)
    for d, (sh, sig) in b.items():
        assert sh == a_sh[d], f"sh_arr mismatch doc {d}"
        assert sig == a_sig[d], f"sig mismatch doc {d}"


def test_kmv_sketch_bounded_matches_collect_set_path(spark, sf_dir):
    """kmv_sketch_bounded (O(k) incremental state via mapInPandas) must be
    bit-identical to the Catalyst collect_set path — same frozen hash
    family, lossless merge, any partitioning."""
    from pypeln_spark.ext import sketch as K
    from pypeln_spark.queries.base import load_table

    events = load_table(spark, sf_dir, "events")
    ref = K.kmv_sketch(events, ["event_type"], "user_id", k=32)
    bnd = K.kmv_sketch_bounded(
        events.repartition(16), ["event_type"], "user_id", k=32
    )
    a = {r.event_type: (r.kmin, r.est_distinct) for r in ref.collect()}
    b = {r.event_type: (r.kmin, r.est_distinct) for r in bnd.collect()}
    assert a == b


def test_cms_sketch_linear_merge_and_bounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypeln_spark.ext import sketch as K
    from pypeln_spark.queries.base import load_table

    events = load_table(spark, sf_dir, "events")
    one = K.cms_sketch(events.coalesce(1), ["event_type"], "user_id", d=2, w=64)
    many = K.cms_sketch(events.repartition(16), ["event_type"], "user_id", d=2, w=64)
    a = {r.event_type: r.cms for r in one.collect()}
    b = {r.event_type: r.cms for r in many.collect()}
    assert a == b  # linear sketch: layout never changes the counters
    totals = {
        r.event_type: r.n
        for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for et, cms in a.items():
        for row in cms:  # every CMS row preserves the group's total mass
            assert sum(row) == totals[et]
    # point estimates are upper bounds on true frequency, exact-deterministic
    truth = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_true")
    )
    est = K.cms_estimate(
        K.cms_sketch(events, ["event_type"], "user_id", d=2, w=64),
        truth, ["event_type"], "user_id", d=2, w=64,
    )
    bad = est.filter(F.col("n_est") < F.col("n_true")).count()
    assert bad == 0


def test_bottomk_quantiles_partition_invariant_and_exact_small(spark, sf_dir):
    from pyspark.sql import functions as F

    from pypeln_spark.ext import sketch as K
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, sf_dir, "documents")
    one = K.bottomk_quantiles(
        docs.coalesce(1), ["lang"], "doc_id", "n_chars", k=64, salts=1
    )
    many = K.bottomk_quantiles(
        docs.repartition(16), ["lang"], "doc_id", "n_chars", k=64, salts=8
    )
    a = {r.lang: (r.m_sample, r.est_p50, r.est_p90) for r in one.collect()}
    b = {r.lang: (r.m_sample, r.est_p50, r.est_p90) for r in many.collect()}
    assert a == b  # bottom-k merge is lossless under any layout
    # k >= group size → sample is the whole group → exact rank quantiles
    import math

    whole = K.bottomk_quantiles(docs, ["lang"], "doc_id", "n_chars", k=10**6)
    got = {r.lang: (r.m_sample, r.est_p50, r.est_p90) for r in whole.collect()}
    pdf = docs.select("lang", "n_chars").toPandas()
    for lang, grp in pdf.groupby("lang"):
        vals = sorted(grp.n_chars)
        m = len(vals)
        exp = (
            m,
            vals[max(1, math.ceil(0.5 * m)) - 1],
            vals[max(1, math.ceil(0.9 * m)) - 1],
        )
        assert got[lang] == exp


def test_bottomk_quantiles_global_partition_invariant(spark, sf_dir):
    """group_cols=[] — the GLOBAL quantile sketch behind the equi-depth
    histogram's global edges: one row out, lossless bottom-k merge under
    any partition layout / salt count."""
    from pypeln_spark.ext import sketch as K
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, sf_dir, "documents")
    one = K.bottomk_quantiles(
        docs.coalesce(1), [], "doc_id", "n_chars", k=64, salts=1,
        probs=(0.25, 0.5, 0.75, 0.9),
    ).collect()
    many = K.bottomk_quantiles(
        docs.repartition(16), [], "doc_id", "n_chars", k=64, salts=8,
        probs=(0.25, 0.5, 0.75, 0.9),
    ).collect()
    assert len(one) == len(many) == 1
    assert one[0].asDict() == many[0].asDict()
    assert one[0].m_sample == 64
    assert one[0].est_p25 <= one[0].est_p50 <= one[0].est_p75 <= one[0].est_p90


def test_bottom_k_update_bounded_and_exact():
    """The streaming-state kernel: O(k) result from any stream — equal to
    sorted(distinct)[:k] — and NULL/NaN skipped like Catalyst."""
    from pypeln_spark.ext.sketch import bottom_k_update

    vals = [(i * 7919) % 1000 for i in range(5000)]  # heavy duplication
    cur: list = []
    for chunk_start in range(0, len(vals), 613):  # uneven chunks
        cur = bottom_k_update(cur, vals[chunk_start : chunk_start + 613], k=16)
        assert len(cur) <= 16
        assert cur == sorted(cur)
    assert cur == sorted(set(vals))[:16]
    # nulls / NaNs are dropped, not hashed as strings (ADVICE r2)
    assert bottom_k_update([], [None, float("nan"), 5, 3], k=8) == [3, 5]


def test_kmv_sketch_bounded_skips_nulls(spark):
    """NULL values must not enter the bounded sketch (they'd hash as 'None'
    while the collect_set path drops them — the paths would diverge)."""
    from pypeln_spark.ext import sketch as K

    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("a", "y"), ("a", None)], "g string, v string"
    )
    bounded = K.kmv_sketch_bounded(df, ["g"], "v", k=8).collect()
    plain = K.kmv_sketch(df, ["g"], "v", k=8).collect()
    assert [(r.g, r.kmin) for r in bounded] == [(r.g, r.kmin) for r in plain]
    assert len(bounded[0].kmin) == 2


def test_ivf_kmeans_recall_on_clustered_vectors(spark):
    """On data with real cluster structure the trained k-means quantizer
    must reach high recall — and beat the frozen 'first' quantizer, whose
    seed cells (the first n vectors by id) all land inside ONE cluster
    here. (On the near-random testdata embeddings no cell quantizer probes
    its way to 0.9 recall at nprobe=2; structure is what IVF exploits.)"""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    dim, n_clusters, per = 16, 8, 40
    rows = []
    for c in range(n_clusters):
        center = [10.0 if d == 2 * c else 0.0 for d in range(dim)]
        for j in range(per):
            # deterministic 'noise', small vs the center separation
            vec = [
                center[d] + (((c * per + j) * 31 + d * 7) % 97) / 97.0
                for d in range(dim)
            ]
            rows.append((c * per + j, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # queries drawn across clusters (one per cluster)
    q_ids = [c * per + 3 for c in range(n_clusters)]
    q = emb.filter(F.col("vec_id").isin(q_ids))
    brute = {}
    for r in S.cosine_topk(emb, q, k=5).collect():
        brute.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(brute[qi] & got.get(qi, set())) / len(brute[qi]) for qi in brute
        ) / len(brute)

    km = recall(
        S.ivf_topk(emb, q, k=5, n_cells=n_clusters, nprobe=2, quantizer="kmeans")
    )
    first = recall(S.ivf_topk(emb, q, k=5, n_cells=n_clusters, nprobe=2))
    assert km >= 0.9, f"kmeans IVF recall {km} < 0.9 on clustered data"
    assert km > first, f"kmeans ({km}) should beat first-quantizer ({first}) here"


def test_kmeans_plusplus_seeding_contract(spark):
    """The deterministic kmeans++ race (r8): produces exactly n_cells
    DISTINCT seeds drawn from the data, is run-to-run deterministic (no
    RNG — the hash race is the randomness), differs from the hash draw,
    and on clustered data the seeded-then-trained quantizer still reaches
    the ≥0.9 recall bar the hash-seeded form sets."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    dim, n_clusters, per = 16, 8, 40
    rows = []
    for c in range(n_clusters):
        center = [10.0 if d == 2 * c else 0.0 for d in range(dim)]
        for j in range(per):
            vec = [
                center[d] + (((c * per + j) * 31 + d * 7) % 97) / 97.0
                for d in range(dim)
            ]
            rows.append((c * per + j, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pp1 = S.kmeans_centroids(emb, n_cells=8, iters=0, seeding="plusplus")
    pp2 = S.kmeans_centroids(emb, n_cells=8, iters=0, seeding="plusplus")
    s1 = sorted(r.vec_id for r in pp1.collect())
    assert s1 == sorted(r.vec_id for r in pp2.collect())  # deterministic
    assert len(set(s1)) == 8  # distinct seeds
    hash_seeds = sorted(
        r.vec_id for r in S.kmeans_centroids(emb, n_cells=8, iters=0).collect()
    )
    assert s1 != hash_seeds  # the race actually changes the draw
    # D²-bias sanity: the 8 race seeds should spread across ≥ 6 of the 8
    # planted clusters (hash draw has no such pressure)
    assert len({v // per for v in s1}) >= 6, s1

    q_ids = [c * per + 3 for c in range(n_clusters)]
    q = emb.filter(F.col("vec_id").isin(q_ids))
    brute = {}
    for r in S.cosine_topk(emb, q, k=5).collect():
        brute.setdefault(r.query_id, set()).add(r.neighbor_id)
    pp_cents = S.kmeans_centroids(emb, n_cells=8, iters=2, seeding="plusplus")
    got = {}
    for r in S.ivf_topk(emb, q, k=5, n_cells=8, nprobe=2, centroids=pp_cents).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    rec = sum(
        len(brute[qi] & got.get(qi, set())) / len(brute[qi]) for qi in brute
    ) / len(brute)
    assert rec >= 0.9, f"pp-seeded kmeans IVF recall {rec} < 0.9 on clustered data"


def test_multimodal_real_decode_when_pil_available(spark):
    """The feature-gated REAL decode path: when PIL is installed,
    extract_features(fake_decode=False) decodes actual encoded images and
    the mean intensity equals numpy's mean over the gray pixels. Skipped
    (not failed) in codec-less containers — the stub contract is unchanged."""
    import pytest as _pytest

    PIL = _pytest.importorskip("PIL")
    import io

    import numpy as _np
    from PIL import Image

    from pypeln_spark.ext import multimodal as M
    from pyspark.sql import types as T

    rows, want = [], {}
    for i in range(4):
        px = _np.arange(64, dtype=_np.uint8).reshape(8, 8) * (i + 1) % 256
        buf = io.BytesIO()
        Image.fromarray(px, mode="L").save(buf, format="PNG")
        rows.append((i, "image", bytearray(buf.getvalue()),
                     (8, 8, 0, 1, "png")))
        want[i] = float(px.astype(_np.float32).ravel()[:16].mean())
    df = spark.createDataFrame(rows, schema=M.ASSET_SCHEMA)
    got = {r.asset_id: r.mean_intensity
           for r in M.extract_features(df, fake_decode=False).collect()}
    assert got == want


def test_multimodal_real_decode_raises_without_pil():
    """Without PIL the real path must fail loudly at the decode call, not
    silently fall back to the fake."""
    import pytest as _pytest

    from pypeln_spark.ext.multimodal import _decode_image

    try:
        import PIL  # noqa: F401

        _pytest.skip("PIL installed — covered by the real-decode test")
    except ImportError:
        pass
    with _pytest.raises(NotImplementedError, match="PIL"):
        _decode_image(b"\x89PNG not really", fake=False)


def test_train_val_split_stable_and_exhaustive(spark, sf_dir):
    """Split assignment is a pure function of (salt, key): growing the
    corpus must not move any existing document, and the three windows
    partition the corpus exactly."""
    from pypeln_spark.ext import curation as C

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    small = docs.filter("doc_id < 100")
    a = {r.doc_id: r.split for r in
         C.train_val_split(small, val_frac=0.2, test_frac=0.1).collect()}
    b = {r.doc_id: r.split for r in
         C.train_val_split(docs, val_frac=0.2, test_frac=0.1).collect()}
    assert all(b[k] == v for k, v in a.items())  # growth never reshuffles
    assert set(b.values()) <= {"train", "val", "test"}
    assert len(b) == docs.count()  # exhaustive, no row dropped


def test_repetition_stats_edge_cases(spark):
    """Single-token and fully-repeated docs: no descending-sequence bug,
    exact fractions."""
    from pypeln_spark.ext import text as X

    df = spark.createDataFrame(
        [(1, "hello"), (2, "a a a a"), (3, "x y x y")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_tokens, r.dup_token_frac, r.dup_2gram_frac)
           for r in X.repetition_stats(df).collect()}
    assert got[1] == (1, 0.0, 0.0)  # 1 token, no 2-grams
    # 'a a' x3 -> 1 distinct of 3; spelled 1 - 1/3 exactly as computed
    # (2.0/3.0 differs from 1.0 - 1.0/3.0 by one ulp)
    assert got[2] == (4, 0.75, 1.0 - 1.0 / 3.0)
    assert got[3][1] == 0.5  # x,y twice each


from hypothesis import given, settings, strategies as st


@settings(max_examples=50, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=40), max_size=120),
    k=st.integers(min_value=1, max_value=12),
    cut=st.integers(min_value=0, max_value=120),
)
def test_bottom_k_update_matches_model_property(vals, k, cut):
    """Property: feeding any stream in any two chunks == sorted(set)[:k],
    and intermediate state never exceeds k (the streaming-KMV bound)."""
    from pypeln_spark.ext.sketch import bottom_k_update

    cut = min(cut, len(vals))
    mid = bottom_k_update([], vals[:cut], k)
    assert len(mid) <= k and mid == sorted(set(vals[:cut]))[:k]
    final = bottom_k_update(mid, vals[cut:], k)
    assert final == sorted(set(vals))[:k]


def test_multiprobe_lsh_supersets_single_bucket(spark, sf_dir):
    """Probing Hamming-1 buckets can only ADD candidates: the multi-probe
    result for every query must contain the single-bucket result's
    candidate set (rank-k cutoffs aside, compare at the candidate level by
    re-running with large k)."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    kk = 10**6  # no cutoff: compare full candidate sets
    single = {(r.query_id, r.neighbor_id)
              for r in S.ann_lsh_topk(emb, q, k=kk, n_planes=6, dim=64).collect()}
    multi = {(r.query_id, r.neighbor_id)
             for r in S.ann_lsh_topk(emb, q, k=kk, n_planes=6, dim=64,
                                     probe_hamming=1).collect()}
    assert single <= multi
    assert len(multi) > len(single)  # probes actually add candidates here


def test_scrub_pii_redacts_and_counts(spark):
    from pypeln_spark.ext import text as X

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@test.org or call 555-123-4567 ok"),
            (2, "no pii here"),
            (3, "two mails x@y.io z@w.co and 123-456-7890 999-888-7777"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in X.scrub_pii(df).collect()}
    assert got[1].text == "mail me at <EMAIL> or call <PHONE> ok"
    assert (got[1].n_email, got[1].n_phone, got[1].n_pii) == (1, 1, 2)
    assert got[2].text == "no pii here" and got[2].n_pii == 0
    assert got[3].n_email == 2 and got[3].n_phone == 2 and got[3].n_pii == 4


def test_connected_components_star_equals_label_prop(spark):
    """large-star/small-star must produce identical components to min-label
    propagation — including on a LONG CHAIN, the adversarial high-diameter
    topology it exists for (label-prop needs O(n) rounds there; the star
    rounds are O(log n))."""
    from pypeln_spark.ext import dedup as D

    chain = [(i, i + 1) for i in range(40)]               # diameter 40
    extra = [(100, 101), (200, 201), (201, 202), (200, 202)]
    pairs = spark.createDataFrame(chain + extra, "id_a long, id_b long")
    star = {(r.doc_id, r.cluster_id)
            for r in D.connected_components_star(pairs).collect()}
    prop = {(r.doc_id, r.cluster_id)
            for r in D.connected_components(pairs, max_iter=60).collect()}
    assert star == prop
    assert ({c for _, c in star} == {0, 100, 200})


@settings(max_examples=10, deadline=None)
@given(
    raw=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=40
    )
)
def test_connected_components_star_property(spark, raw):
    """Property: on arbitrary small graphs, star CC == a pure-Python
    union-find model."""
    from pypeln_spark.ext import dedup as D

    pairs_list = [(a, b) for a, b in raw if a != b]
    if not pairs_list:
        return
    pairs = spark.createDataFrame(pairs_list, "id_a long, id_b long")
    got = {(r.doc_id, r.cluster_id)
           for r in D.connected_components_star(pairs).collect()}
    # union-find model
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {(n, min(members)) for members in comp.values() for n in members}
    assert got == want


def test_hll_sketch_partition_invariant_and_sane(spark, sf_dir):
    """HLL registers/estimate must not depend on partitioning (the integer
    harmonic sum is associative), and the estimate should land within the
    ~1.04/sqrt(256) = 6.5% HLL error band (3 sigma ≈ 20%) of exact."""
    from pypeln_spark.ext import sketch as K
    from pypeln_spark.queries.base import load_table

    events = load_table(spark, sf_dir, "events")
    a = K.hll_sketch(events, ["event_type"], "user_id").orderBy("event_type").collect()
    b = (
        K.hll_sketch(events.repartition(7, "user_id"), ["event_type"], "user_id")
        .orderBy("event_type")
        .collect()
    )
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in a:
        assert r.est_distinct == pytest.approx(exact[r.event_type], rel=0.20)


def test_hll_rho_matches_python_model(spark):
    """The hex-string rho extraction must equal a bit-level Python HLL on
    the same md5 hashes — catches any off-by-one in the CASE ladder. A
    single-value sketch has exactly one occupied register, so its integer
    harmonic sum S = 2^(53-rho) + 255*2^53 recovers rho exactly."""
    import hashlib

    from pypeln_spark.ext import sketch as K

    vals = [str(i) for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r.v: r.hll_sum_pow for r in K.hll_sketch(df, ["v"], "v").collect()
    }
    base = 255 * (1 << 53)
    for v in vals:
        h = hashlib.md5(v.encode()).hexdigest()
        rem = int(h[2 : 2 + K.HLL_REM_HEX], 16)
        bits = K.HLL_REM_HEX * 4
        rho = 53 if rem == 0 else bits - rem.bit_length() + 1
        assert got[v] == (1 << (53 - rho)) + base, (v, rho)


def test_bm25_topk_scores_monotone_and_deterministic(spark, sf_dir):
    from pypeln_spark.ext import text as X
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = X.bm25_topk(docs, ("spark", "join"), k=10).collect()
    assert 0 < len(out) <= 10
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(r.tf_spark > 0 or r.tf_join > 0 for r in out)
    again = X.bm25_topk(docs.repartition(5), ("spark", "join"), k=10).collect()
    assert [r.asDict() for r in out] == [r.asDict() for r in again]


def test_tfidf_cosine_topk_ranks_near_copy_first(spark):
    """A near-copy of a query document must rank first with cos close to 1;
    a document sharing zero terms must never appear as its neighbor; the
    result is partitioning-invariant (the term-ordered folds make the float
    path deterministic, not just approximately stable)."""
    from pypeln_spark.ext import text as X

    rows = [
        (0, "spark join shuffle window sort merge"),
        (1, "totally different words entirely here"),
        (2, "spark join shuffle window sort merge extra"),  # near-copy of 0
        (3, "unrelated vocabulary nothing shared"),
        (4, "spark join"),  # partial overlap with 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = X.tfidf_cosine_topk(df, n_queries=1, k=3).collect()
    by_rank = {r.rank: r for r in out if r.query_id == 0}
    # the one extra term is rare (high idf) so it costs real mass: cos ≈ 0.83
    assert by_rank[1].neighbor_id == 2 and by_rank[1].cos > 0.8
    assert by_rank[2].neighbor_id == 4
    neighbors = {r.neighbor_id for r in out}
    assert 1 not in neighbors and 3 not in neighbors  # zero shared terms
    again = X.tfidf_cosine_topk(df.repartition(7), n_queries=1, k=3).collect()
    assert sorted(map(lambda r: r.asDict(), out), key=lambda d: d["rank"]) == sorted(
        map(lambda r: r.asDict(), again), key=lambda d: d["rank"]
    )


def test_tfidf_champion_pruning_is_exact_on_shortlist(spark):
    """The champion-list arm is candidate-generation + EXACT rerank, so
    two properties must hold on any corpus: (a) every (query, neighbor)
    the pruned arm returns carries the IDENTICAL cosine the exact arm
    computes for that pair (pruning may drop candidates, never distort a
    survivor's score), and (b) with champions ≥ the longest posting list
    nothing prunes at all — the pruned output equals the exact output
    row for row, rank for rank."""
    import random

    from pypeln_spark.ext import text as X

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25))))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r.query_id, r.neighbor_id): r.cos
        for r in X.tfidf_cosine_topk(df, n_queries=4, k=30).collect()
    }
    pruned = X.tfidf_cosine_topk(df, n_queries=4, k=5, champions=3).collect()
    assert pruned, "champion lists of 3 should still surface candidates"
    for r in pruned:
        assert exact[(r.query_id, r.neighbor_id)] == r.cos  # bit-identical
    full = X.tfidf_cosine_topk(df, n_queries=4, k=5, champions=10_000).collect()
    base = X.tfidf_cosine_topk(df, n_queries=4, k=5).collect()
    assert sorted(map(lambda r: r.asDict(), full), key=lambda d: (d["query_id"], d["rank"])) == \
        sorted(map(lambda r: r.asDict(), base), key=lambda d: (d["query_id"], d["rank"]))


def test_lsh_bucket_prefix_stable_growth(spark):
    """The hyperplane family is prefix-stable — plane p's components
    depend only on (p, dim) — so growing n_planes REFINES buckets:
    bucket at n+k planes has the n-plane bucket as its low bits. This is
    the property behind the ingest gates' documented scaling move
    (re-bucket the growing index at a larger n_planes): refinement only
    splits buckets, never moves a vector to an unrelated one."""
    import random

    from pypeln_spark.ext import similarity as S

    rng = random.Random(23)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    normed = S.with_norms(S.spread(emb))
    b6 = {r.vec_id: r.bucket for r in S.lsh_bucket(normed, "_v", 6, 16).collect()}
    b10 = {r.vec_id: r.bucket for r in S.lsh_bucket(normed, "_v", 10, 16).collect()}
    assert all(b10[i] & 63 == b6[i] for i in b6)
    # and the literal-inlined (dim=) and per-row-derived paths agree
    b6_rt = {
        r.vec_id: r.bucket for r in S.lsh_bucket(normed, "_v", 6, None).collect()
    }
    assert b6_rt == b6
    assert len(set(b10.values())) >= len(set(b6.values()))  # refinement


def test_near_dup_multiprobe_probes_hamming_shells(spark):
    """Multiprobe near-dup (probe_hamming=2) must equal the predicate it
    implements: exact-qualifying pairs whose bucket signatures differ in
    ≤ 2 plane bits — a strict superset of the single-bucket arm, strict
    subset of the exact arm (on any corpus where boundary pairs exist),
    with NO duplicate pair rows (the connecting xor mask is unique)."""
    import random

    from pypeln_spark.ext import similarity as S

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    t, planes = 0.35, 4
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in S.near_dup_pairs(emb, threshold=t).collect()
    }
    buckets = {
        r.vec_id: r.bucket
        for r in S.lsh_bucket(S.with_norms(S.spread(emb)), "_v", planes, 8)
        .select("vec_id", "bucket").collect()
    }
    single_rows = S.near_dup_lsh(emb, threshold=t, n_planes=planes, dim=8).collect()
    multi_rows = S.near_dup_lsh(
        emb, threshold=t, n_planes=planes, dim=8, probe_hamming=2
    ).collect()
    assert len(multi_rows) == len({(r.id_a, r.id_b) for r in multi_rows})  # no dups
    single = {(r.id_a, r.id_b) for r in single_rows}
    multi = {(r.id_a, r.id_b) for r in multi_rows}
    want = {
        p for p in exact
        if bin(buckets[p[0]] ^ buckets[p[1]]).count("1") <= 2
    }
    assert multi == want
    assert single <= multi <= set(exact)
    assert single == {p for p in exact if buckets[p[0]] == buckets[p[1]]}
    for r in multi_rows:  # verify pass stays exact
        assert exact[(r.id_a, r.id_b)] == r.cos


def test_tfidf_champion_mode_is_composition_safe(spark):
    """The pruned arm pool-persists its weights frame but must NOT act as
    a pipeline entry point: an early draft called retire_pipeline_caches()
    when champions was set, silently unpersisting any caller-owned pooled
    frames in pruned mode only (ADVICE r7 low #4). Pin the fix: a frame a
    caller pool-persisted BEFORE the call is still cached after it."""
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import text as X

    D.retire_pipeline_caches()  # own the scope for this test
    mine = D.pool_persist(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    mine.count()
    assert mine.storageLevel.useMemory or mine.storageLevel.useDisk
    df = spark.createDataFrame(
        [(i, f"tok{i % 3} tok{i % 5} shared") for i in range(12)],
        "doc_id long, text string",
    )
    X.tfidf_cosine_topk(df, n_queries=2, k=3, champions=4).collect()
    assert mine.storageLevel.useMemory or mine.storageLevel.useDisk, (
        "champions mode retired a caller-owned pooled frame"
    )
    D.retire_pipeline_caches()  # leave the pool clean for other tests


def test_span_dedup_conservation_and_first_wins(spark):
    """n_kept sums to the number of distinct chunk hashes; a corpus of two
    identical docs keeps every chunk exactly once, attributed to the lower
    doc_id."""
    from pypeln_spark.ext import dedup as D

    text = " ".join(f"w{i}" for i in range(64))  # 4 chunks of 16
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "unique tokens only here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in D.span_dedup(df, window=16).collect()}
    assert rows[1].n_chunks == 4 and rows[1].n_kept == 4
    assert rows[2].n_chunks == 4 and rows[2].n_kept == 0
    assert rows[3].n_chunks == 1 and rows[3].n_kept == 1
    assert rows[2].kept_frac == 0.0


def test_span_dedup_overlap_catches_half_window_shift(spark):
    """VERDICT r5 #3: a duplicated passage shifted by half a window is
    PROVABLY invisible to the non-overlapping variant (no chunk of doc 2
    aligns with doc 1's chunk grid) but caught by stride=window/2 (the
    shift is a multiple of the stride, so chunk starts align)."""
    from pypeln_spark.ext import dedup as D

    passage = " ".join(f"p{i}" for i in range(32))  # 2 full 16-token windows
    prefix8 = " ".join(f"x{i}" for i in range(8))  # half-window shift
    df = spark.createDataFrame(
        [(1, passage), (2, prefix8 + " " + passage)],
        "doc_id long, text string",
    )
    # fixed windows: doc 2's grid is offset by 8 tokens → zero chunks match
    fixed = {r.doc_id: r for r in D.span_dedup(df, window=16).collect()}
    assert fixed[2].n_kept == fixed[2].n_chunks  # everything "novel" — the miss
    # stride=8: doc 2's chunks starting at offsets 8 and 16 reproduce doc
    # 1's chunks starting at 0 and 8 verbatim → caught as duplicates
    over = {r.doc_id: r for r in D.span_dedup(df, window=16, stride=8).collect()}
    # doc 2 has 5 chunk starts (40 tokens / stride 8); all but the first
    # (the only one containing x-prefix tokens) reproduce doc 1 chunks —
    # starts 8/16/24/32 match doc 1 starts 0/8/16/24 verbatim
    assert over[2].n_chunks == 5
    assert over[2].n_kept == 1
    # stride=window reproduces the fixed variant exactly
    same = {r.doc_id: r for r in D.span_dedup(df, window=16, stride=16).collect()}
    assert {k: (v.n_chunks, v.n_kept) for k, v in same.items()} == {
        k: (v.n_chunks, v.n_kept) for k, v in fixed.items()
    }
    with pytest.raises(ValueError, match="stride"):
        D.span_dedup(df, window=16, stride=17)


def test_cdc_chunk_dedup_catches_arbitrary_shift(spark):
    """A duplicate shifted by 5 tokens — NOT a multiple of any fixed
    stride in use — is invisible to span_dedup(stride=8) but fully caught
    by content-defined chunking: boundaries depend only on token content,
    so every chunk after the prefix-straddling first one reproduces doc
    1's chunks verbatim. Expected chunk layout precomputed with py_h31
    (boundary ends of p0..p47 at divisor 8: 14,17,19,21,23,28,36,39,46 +
    forced 48 → 10 chunks; the 5 x-prefix tokens hash to no boundary)."""
    from pypeln_spark.ext import dedup as D

    passage = " ".join(f"p{i}" for i in range(48))
    prefix5 = " ".join(f"x{i}" for i in range(5))  # shift ≢ 0 (mod 8)
    df = spark.createDataFrame(
        [(1, passage), (2, prefix5 + " " + passage)],
        "doc_id long, text string",
    )
    # fixed-stride overlapping windows: shift 5 never aligns → total miss
    over = {r.doc_id: r for r in D.span_dedup(df, window=16, stride=8).collect()}
    assert over[2].n_kept == over[2].n_chunks
    # content-defined: only doc 2's first chunk (x0..x4 p0..p13) is novel
    cdc = {r.doc_id: r for r in D.cdc_chunk_dedup(df, divisor=8).collect()}
    assert (cdc[1].n_chunks, cdc[1].n_kept) == (10, 10)
    assert (cdc[2].n_chunks, cdc[2].n_kept) == (10, 1)
    assert cdc[2].n_tokens == 53
    # kept fraction is token-weighted: the one novel chunk is 19 tokens
    assert cdc[2].kept_token_frac == 19.0 / 53.0
    # a boundary-free doc degrades to ONE whole-doc chunk (exact dedup)
    nb = " ".join(["x0", "x1", "x2"])
    df2 = spark.createDataFrame(
        [(1, nb), (2, nb)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in D.cdc_chunk_dedup(df2, divisor=8).collect()}
    assert (rows[1].n_chunks, rows[1].n_kept) == (1, 1)
    assert (rows[2].n_chunks, rows[2].n_kept) == (1, 0)
    with pytest.raises(ValueError, match="divisor"):
        D.cdc_chunk_dedup(df2, divisor=0)


def test_pairwise_vs_cc_survivor_election(spark):
    """VERDICT r5 #4: on an A–B, B–C chain cluster where the bridge doc
    holds the LARGEST id — verified pairs (1,3) and (2,3) — the pairwise
    smaller-id-wins rule drops only {3} and keeps BOTH 1 and 2 from the
    one duplicate cluster; CC election keeps exactly the min id {1}.
    (With a<b pair orientation the cluster min is never an id_b, so
    pairwise can never drop everything — its failure mode is extra
    survivors, which CC closes.)"""
    from pypeln_spark.ext import dedup as D

    pairs = spark.createDataFrame([(1, 3), (2, 3)], "id_a long, id_b long")
    pairwise_drop = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    assert pairwise_drop == {3}  # survivors {1, 2} — two from one cluster
    cc = D.connected_components(pairs)
    cc_survivors = {
        r.doc_id for r in cc.filter("doc_id = cluster_id").collect()
    }
    cc_dropped = {r.doc_id for r in cc.filter("doc_id != cluster_id").collect()}
    assert cc_survivors == {1}
    assert cc_dropped == {2, 3}


def test_weighted_sample_deterministic_and_monotone(spark, sf_dir):
    """Same rows kept across runs/partitionings; weight=denom keeps all,
    weight=0 keeps none."""
    from pypeln_spark.ext import curation as C
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars"), F.lit(400)) * F.lit(25)
    kept1 = {r.doc_id for r in C.weighted_sample(docs, w).select("doc_id").collect()}
    kept2 = {
        r.doc_id
        for r in C.weighted_sample(docs.repartition(9), w).select("doc_id").collect()
    }
    assert kept1 == kept2
    assert C.weighted_sample(docs, F.lit(10000)).count() == docs.count()
    assert C.weighted_sample(docs, F.lit(0)).count() == 0


def test_shard_manifest_two_level_equals_single_window(spark, sf_dir):
    """The scalable (shard, bucket)-window + prefix-offset enumeration must
    equal the naive one-window-per-shard spelling — the invariant that lets
    the oracle replay the simple form while Spark runs the scalable one."""
    from pyspark.sql import Window

    from pypeln_spark.ext import curation as C
    from pypeln_spark.ext.hashing import h31
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.doc_id): (r.shard, r.pos)
        for r in C.shard_manifest(docs, "doc_id", n_shards=8, n_buckets=16).collect()
    }
    h = h31(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    naive = docs.select(
        "doc_id",
        h.alias("_hk"),
        (h % 8).alias("shard"),
        ((h / 8).cast("long") % 16).alias("_bkt"),
    ).withColumn(
        "pos",
        F.row_number()
        .over(Window.partitionBy("shard").orderBy("_bkt", "_hk", "doc_id"))
        .cast("long"),
    )
    want = {r.doc_id: (r.shard, r.pos) for r in naive.collect()}
    assert got == want
    # positions are a dense 1..n permutation within every shard
    from collections import defaultdict

    per_shard = defaultdict(list)
    for s, p in got.values():
        per_shard[s].append(p)
    for s, ps in per_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_pack_sequences_contiguous_fill(spark):
    """seq_id is nondecreasing in pos, starts at 0, and every boundary
    crossing happens exactly when cum_before crosses a budget multiple."""
    from pypeln_spark.ext import curation as C

    rows = [(i, 0, i + 1, 100) for i in range(10)]  # 10 docs x 100 tokens
    df = spark.createDataFrame(
        rows, "doc_id long, shard long, pos long, n_tokens long"
    )
    out = sorted(
        C.pack_sequences(df, "n_tokens", budget=256).collect(),
        key=lambda r: r.pos,
    )
    assert [r.cum_before for r in out] == [100 * i for i in range(10)]
    assert [r.seq_id for r in out] == [(100 * i) // 256 for i in range(10)]


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_bounded(spark):
    """Every inserted value must probe positive (the Bloom guarantee), and
    the bit set stays within m whatever the input."""
    from pypeln_spark.ext import sketch as K

    vals = spark.range(0, 500).select(F.col("id").alias("v"))
    bits = K.bloom_build(vals, "v", m=1024, kh=3)
    nbits = bits.select(F.size("bits")).first()[0]
    assert 0 < nbits <= 1024
    probed = K.bloom_maybe_contains(vals, bits, "v", m=1024, kh=3)
    assert probed.filter(~F.col("maybe_member")).count() == 0


def test_bloom_false_positive_rate_sane(spark):
    """Non-members probe mostly negative at the classic fp-rate scale:
    n=500, m=8192, k=3 → theoretical fp ≈ (1-e^{-kn/m})^k ≈ 0.3%; assert
    an order-of-magnitude bound, not the exact constant."""
    from pypeln_spark.ext import sketch as K

    members = spark.range(0, 500).select(F.col("id").alias("v"))
    others = spark.range(10_000, 12_000).select(F.col("id").alias("v"))
    bits = K.bloom_build(members, "v", m=8192, kh=3)
    fp = (
        K.bloom_maybe_contains(others, bits, "v", m=8192, kh=3)
        .filter(F.col("maybe_member"))
        .count()
    )
    assert fp / 2000.0 < 0.05


# ---------------------------------------------------------------------------
# TF-IDF
# ---------------------------------------------------------------------------

def test_tfidf_ranks_distinctive_terms_first(spark):
    """A term unique to one doc must outrank the corpus-wide filler term."""
    from pypeln_spark.ext import text as X

    docs = spark.createDataFrame(
        [(1, "common zebra"), (2, "common yak"), (3, "common")],
        ["doc_id", "text"],
    )
    out = X.tfidf_top_terms(docs, k=2)
    rows = {(r.doc_id, r.rank): r for r in out.collect()}
    assert rows[(1, 1)].term == "zebra"
    assert rows[(2, 1)].term == "yak"
    # df is exact: 'common' appears in all 3 docs
    assert rows[(1, 2)].term == "common" and rows[(1, 2)].df == 3
    # rank never exceeds k and per-doc ranks are dense from 1
    assert all(r.rank in (1, 2) for r in rows.values())


def test_tfidf_k_bound_and_tie_break(spark):
    from pypeln_spark.ext import text as X

    docs = spark.createDataFrame([(1, "b a c"), (2, "z z")], ["doc_id", "text"])
    out = X.tfidf_top_terms(docs, k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: three equal-score terms → alphabetical tiebreak
    d1 = sorted(by_doc[1], key=lambda r: r.rank)
    assert [r.term for r in d1] == ["a", "b", "c"]
    assert len(by_doc[2]) == 1  # only one distinct term → fewer than k rows


# ---------------------------------------------------------------------------
# Semantic (k-means-cell) near-dup
# ---------------------------------------------------------------------------

def test_semantic_near_dup_subset_of_exact(spark):
    """Cell-bucketed pairs ⊆ exact all-pairs, with identical cosines —
    bucketing may lose boundary pairs but can never invent or re-score
    one."""
    from pypeln_spark.ext import similarity as S

    rng = np.random.RandomState(7)
    base = rng.randn(4, 8)
    rows = []
    for i in range(40):
        v = base[i % 4] + rng.randn(8) * 0.05  # 4 tight clusters
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r.id_a, r.id_b): r.cos
        for r in S.near_dup_pairs(emb, threshold=0.9).collect()
    }
    sem = S.semantic_near_dup(emb, threshold=0.9, n_cells=4, iters=2).collect()
    assert len(sem) > 0
    for r in sem:
        assert (r.id_a, r.id_b) in exact
        assert r.cos == exact[(r.id_a, r.id_b)]


# ---------------------------------------------------------------------------
# Fuzzy (lev<=1) join
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


def test_fuzzy_join_lev1_matches_brute_force(spark):
    """Deletion-key blocking must find EXACTLY the lev<=1 pairs — the
    blocking is recall-lossless by construction, and the verify discards
    any distance-2 candidates that happen to share a key."""
    from pypeln_spark.ext import text as X

    names = ["abc", "abd", "ab", "abcd", "xyz", "", "a", "abc"]
    df = spark.createDataFrame(list(enumerate(names)), ["nid", "nm"])
    got = {
        (r.id_a, r.id_b): r.distance
        for r in X.fuzzy_join_lev1(df, "nm", "nid").collect()
    }
    want = {
        (i, j): _lev(names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if _lev(names[i], names[j]) <= 1
    }
    assert got == want


def test_fuzzy_join_lev1_hypothesis(spark):
    """Property: over random short strings from a tiny alphabet (maximizing
    collisions and near-misses), deletion-key blocking + verify equals the
    brute-force lev<=1 pair set exactly."""
    from hypothesis import given, settings, strategies as st

    from pypeln_spark.ext import text as X

    @settings(max_examples=5, deadline=None)
    @given(st.lists(st.text(alphabet="ab", max_size=4), min_size=2, max_size=12))
    def prop(names):
        df = spark.createDataFrame(list(enumerate(names)), ["nid", "nm"])
        got = {
            (r.id_a, r.id_b): r.distance
            for r in X.fuzzy_join_lev1(df, "nm", "nid").collect()
        }
        want = {
            (i, j): _lev(names[i], names[j])
            for i in range(len(names))
            for j in range(i + 1, len(names))
            if _lev(names[i], names[j]) <= 1
        }
        assert got == want

    prop()


def test_unigram_lm_score_semantics(spark):
    """Common-word docs outscore rare-word docs; OOV fraction is exact; the
    numerator is the exact sum of corpus counts of each token occurrence."""
    from pypeln_spark.ext import text as X

    rows = [
        (1, "the the the"),       # 'the' appears 5x in corpus
        (2, "the zebra"),         # one common, one rare
        (3, "qwerty zzz"),        # both singletons
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in X.unigram_lm_score(df, vocab_size=100).collect()}
    # corpus counts: the=4? -> the: doc1 3x + doc2 1x = 4; zebra/qwerty/zzz = 1
    n_total = 7
    assert out[1].sum_counts == 3 * 4 and out[1].n_tokens == 3
    assert out[1].lm_score == (3 * 4) / (3 * n_total)
    assert out[2].sum_counts == 4 + 1
    assert out[3].sum_counts == 2
    assert out[1].lm_score > out[2].lm_score > out[3].lm_score
    assert out[1].oov_frac == 0.0


def test_unigram_lm_vocab_truncation_marks_oov(spark):
    """Tokens outside the top-K vocab contribute 0 and count as OOV; the
    (count desc, term asc) boundary keeps the truncation deterministic."""
    from pypeln_spark.ext import text as X

    rows = [(1, "a a a b b c"), (2, "c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # vocab_size=2 -> {a(3), b(2)}; c(2)? ties with b on count=2 -> term ASC
    # keeps b... counts: a=3 b=2 c=2 d=1; top2 by (count desc, term asc) = a, b
    out = {r.doc_id: r for r in X.unigram_lm_score(df, vocab_size=2).collect()}
    assert out[1].in_vocab == 5 and out[1].n_tokens == 6
    assert out[1].sum_counts == 3 * 3 + 2 * 2
    assert out[2].in_vocab == 0 and out[2].sum_counts == 0
    assert out[2].lm_score == 0.0 and out[2].oov_frac == 1.0


def test_dot_ieee_bit_parity_with_duckdb(spark):
    """The IEEE left-fold dot product must be BIT-identical to DuckDB's
    list_reduce double fold — this is what lets the whole ANN family drop
    the 4x-slower decimal armor. Any FMA contraction or reassociation on
    either side breaks this; the struct.pack compare would catch it."""
    import struct

    import duckdb

    from pypeln_spark.ext.similarity import dot_ieee

    from pyspark.sql import functions as F

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sp = {
        r[0]: r[1]
        for r in emb.select("vec_id", dot_ieee(v, v).alias("d")).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{path}')")
    dk = dict(
        con.execute(
            """
        SELECT vec_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, len(v) + 1),
                   i -> v[CAST(i AS INT)] * v[CAST(i AS INT)])),
               (acc, x) -> acc + x) AS d
        FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM e)
        """
        ).fetchall()
    )
    assert len(sp) == len(dk) > 0
    mism = [k for k in sp if struct.pack("<d", sp[k]) != struct.pack("<d", dk[k])]
    assert not mism, f"{len(mism)} bit mismatches, first {mism[:3]}"


def test_merge_upsert_semantics(spark):
    """Updates win on key match, unmatched base rows survive, new keys
    insert — the ANSI MERGE contract."""
    from pypeln_spark import relational as R

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    upd = spark.createDataFrame(
        [(2, "B2"), (9, "NEW")], "k long, v string"
    )
    got = {r.k: r.v for r in R.merge_upsert(base, upd, on="k").df.collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "NEW"}


def test_merge_upsert_duplicate_update_keys(spark):
    """ANSI MERGE errors on multiple matches; our default keeps every
    update row (documented divergence, ADVICE r3). validate_keys=True
    restores the ANSI rejection without touching the base side."""
    import pytest

    from pypeln_spark import relational as R

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upd = spark.createDataFrame(
        [(2, "B2"), (2, "B3"), (9, "NEW")], "k long, v string"
    )
    # default: base row for k=2 dropped once, BOTH duplicates insert
    got = sorted((r.k, r.v) for r in R.merge_upsert(base, upd, on="k").df.collect())
    assert got == [(1, "a"), (2, "B2"), (2, "B3"), (9, "NEW")]
    with pytest.raises(ValueError, match="duplicate keys"):
        R.merge_upsert(base, upd, on="k", validate_keys=True)
    # unique update keys pass validation untouched
    uniq = spark.createDataFrame([(2, "B2")], "k long, v string")
    got2 = {r.k: r.v for r in R.merge_upsert(base, uniq, on="k", validate_keys=True).df.collect()}
    assert got2 == {1: "a", 2: "B2"}


def test_trained_artifact_builds_once_and_replays_exactly(spark):
    """trained_artifact: build() runs at most once per key; the replayed
    local DataFrame carries the exact collected values (bit-identical to
    direct training), and distinct keys don't collide."""
    import struct

    from pypeln_spark.ext import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return S.kmeans_centroids(emb, 4, 1, train_mod=None)

    key = ("test_kmeans", "sf0.001-unit", 4, 1, None)
    S._MODEL_STORE.pop(key, None)
    a1 = S.trained_artifact(spark, key, build)
    a2 = S.trained_artifact(spark, key, build)
    assert calls["n"] == 1
    direct = {r.vec_id: r for r in S.kmeans_centroids(emb, 4, 1).collect()}
    got = {r.vec_id: r for r in a2.collect()}
    assert set(got) == set(direct)
    for vid in got:
        pack = lambda vs: b"".join(struct.pack("<d", x) for x in vs)
        assert pack(got[vid]._v) == pack(direct[vid]._v)
    assert {r.vec_id for r in a1.collect()} == set(direct)
    S._MODEL_STORE.pop(key, None)


def test_pq_adc_recall_and_code_shape(spark):
    """PQ contract: every vector gets exactly m codes in 1..k; ADC+rerank
    recall@5 vs brute-force cosine ≥ 0.85 (measured 0.92 at sf0.01); ADC
    alone is the honest coarse stage (measured 0.42, pinned ≥ 0.3).
    Recall is measured at sf0.01 — the sf0.001 corpus (~50 vectors) is
    smaller than the 16-seed-per-subspace training draw and degenerate."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)

    cb = S.pq_train_codebooks(emb, m=16, k=16)
    codes = S.pq_encode(emb, cb, m=16)
    per_vec = codes.groupBy("vec_id").agg(
        F.count("*").alias("n"), F.min("code").alias("lo"), F.max("code").alias("hi")
    )
    bad = per_vec.filter(
        (F.col("n") != 16) | (F.col("lo") < 1) | (F.col("hi") > 16)
    ).count()
    assert bad == 0

    bf = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, queries, k=5).collect()}
    adc = {
        (r.query_id, r.neighbor_id)
        for r in S.pq_adc_topk(emb, queries, k=5, m=16, n_codes=16).collect()
    }
    rr = {
        (r.query_id, r.neighbor_id)
        for r in S.pq_adc_topk(
            emb, queries, k=5, m=16, n_codes=16, rerank=50
        ).collect()
    }
    assert len(bf & adc) / len(bf) >= 0.3
    assert len(bf & rr) / len(bf) >= 0.85


@given(
    base=st.dictionaries(st.integers(0, 30), st.integers(0, 99), max_size=12),
    upd=st.dictionaries(st.integers(0, 30), st.integers(100, 199), max_size=8),
)
@settings(max_examples=10, deadline=None)
def test_merge_upsert_property(base, upd):
    """MERGE ≡ dict-update: for any key→value maps, the merged table equals
    {**base, **upd} exactly."""
    from pypeln_spark import relational as R
    from pypeln_spark.session import get_spark

    spark = get_spark()  # getOrCreate — safe under any test ordering
    b = spark.createDataFrame(list(base.items()) or [(None, None)], "k int, v int")
    u = spark.createDataFrame(list(upd.items()) or [(None, None)], "k int, v int")
    b = b.filter("k is not null")
    u = u.filter("k is not null")
    got = {r.k: r.v for r in R.merge_upsert(b, u, on="k").df.collect()}
    assert got == {**base, **upd}


def test_ivf_pq_recall_equals_cell_recall(spark):
    """IVF-PQ contract: with exact rerank wider than the per-query
    candidate pool, final recall equals the probed cells' recall — the
    composition loses nothing beyond the coarse stage (measured 0.92 at
    sf0.01; ADC-only ordering is the honest coarse signal, ~0.44)."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, queries, k=5).collect()}
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(emb, queries, k=5, n_cells=16, nprobe=2).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_pq_topk(
            emb, queries, k=5, n_cells=16, nprobe=2, rerank=200
        ).collect()
    }
    # rerank=200 exceeds every per-query candidate pool (~60) → the exact
    # stage ranks the SAME candidate set plain IVF ranks exactly
    assert pq == ivf
    assert len(bf & pq) / len(bf) >= 0.85


def test_expectations_policies(spark):
    """expect(): keep counts without filtering, drop counts then filters,
    fail raises at enforce time; NULL conditions count as violations."""
    import pytest

    from pypeln_spark.ext import quality as Q

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, -5), (4, 200)], "id long, v long"
    )
    from pyspark.sql import functions as F

    rules = {
        "v_present": (F.col("v").isNotNull(), "keep"),
        "v_positive": (F.col("v") > 0, "drop"),  # NULL > 0 → violation → dropped
        "v_small": (F.col("v") < 100, "keep"),
    }
    out, obs = Q.expect(df, rules)
    kept = sorted(r.id for r in out.collect())
    assert kept == [1, 4]  # -5 and NULL dropped by v_positive
    got = Q.enforce(obs, rules)
    # counts are PRE-drop, over all 4 rows
    assert got == {"v_present": 1, "v_positive": 2, "v_small": 2}

    frules = {"never_negative": (F.col("v") >= 0, "fail")}
    out2, obs2 = Q.expect(df, frules)
    out2.count()
    with pytest.raises(Q.ExpectationError, match="never_negative"):
        Q.enforce(obs2, frules)


def test_expect_rejects_fail_policy_on_stream(spark, tmp_path):
    """A 'fail' rule on a streaming DataFrame can never be enforced (no
    Observation to read) — expect() must reject it up front instead of
    failing silently (ADVICE r3). keep/drop rules stay allowed."""
    import pytest

    from pyspark.sql import functions as F

    from pypeln_spark.ext import quality as Q

    spark.createDataFrame([(1,)], "v long").write.parquet(
        str(tmp_path / "src"), mode="overwrite"
    )
    stream = spark.readStream.schema("v long").parquet(str(tmp_path / "src"))
    with pytest.raises(ValueError, match="policy='fail'"):
        Q.expect(stream, {"pos": (F.col("v") > 0, "fail")})
    out, obs = Q.expect(stream, {"pos": (F.col("v") > 0, "drop")})
    assert obs is None and out.isStreaming


def test_profile_single_pass_stats(spark):
    """profile(): one aggregate pass, correct nulls/distincts/min/max/mean."""
    from pypeln_spark.ext import quality as Q

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, None), (4, "a")], "k long, s string"
    )
    prof = {r.column: r for r in Q.profile(df).collect()}
    assert prof["k"].n_rows == 4 and prof["k"].n_nulls == 0
    assert prof["k"].n_distinct == 3
    assert prof["k"].min_value == "1" and prof["k"].max_value == "4"
    assert prof["k"].mean_value == 2.25
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["s"].mean_value is None


def test_profile_keeps_mutable_min_max_in_one_aggregate(spark):
    """Date, long and boolean min/max have mutable aggregation buffers, so
    profile() keeps them in the one hash aggregate: no cross join of a
    second one-row aggregate, and the same rows as the split plan."""
    import datetime

    from pypeln_spark.ext import quality as Q

    df = spark.createDataFrame(
        [(datetime.date(2024, 3, 1), 5, True),
         (datetime.date(2023, 12, 31), None, False),
         (None, 7, True),
         (datetime.date(2024, 3, 1), 5, None)],
        "d date, n long, b boolean",
    )
    prof = Q.profile(df)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert [tuple(r) for r in prof.collect()] == [
        ("d", 4, 1, 2, "2023-12-31", "2024-03-01", None),
        ("n", 4, 1, 2, "5", "7", 5.666666666666667),
        ("b", 4, 1, 2, "false", "true", None),
    ]


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-50, 50)),
        min_size=1, max_size=30,
    ),
    cut=st.integers(0, 30),
)
@settings(max_examples=10, deadline=None)
def test_ivm_merge_split_invariance(rows, cut):
    """Property: ANY split of the data into base/delta partial aggregates
    merges to exactly the full-recompute aggregate — the IVM contract."""
    from pypeln_spark import relational  # noqa: F401 (session warm)
    from pypeln_spark.ext import incremental as I
    from pypeln_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark()
    cut = min(cut, len(rows))

    def partial(data):
        # empty side → empty aggregate (filter out the placeholder row)
        df = spark.createDataFrame(data or [("_", 0)], "k string, v long")
        if not data:
            df = df.filter("k <> '_'")
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        )

    merged = {
        r.k: (r.n, r.s, r.lo, r.hi)
        for r in I.merge_aggregates(
            partial(rows[:cut]), partial(rows[cut:]), "k",
            {"n": "count", "s": "sum", "lo": "min", "hi": "max"},
        ).collect()
    }
    full = {r.k: (r.n, r.s, r.lo, r.hi) for r in partial(rows).collect()}
    assert merged == full


def test_table_diff_null_safe_change_detection(spark):
    """table_diff: NULL payloads compare null-safely — NULL→NULL is
    unchanged, NULL→value and value→NULL are changes; adds/removes by key."""
    from pypeln_spark.ext import quality as Q

    l = spark.createDataFrame(
        [(1, None), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    r = spark.createDataFrame(
        [(1, None), (2, None), (3, "c"), (5, "e")], "k long, v string"
    )
    got = {row.k: row.status for row in Q.table_diff(l, r, "k").collect()}
    assert got == {2: "changed", 3: "changed", 4: "removed", 5: "added"}


def test_zorder_key_locality_beats_single_column_sort(spark):
    """Z-order property: bucketing consecutive z-keys bounds BOTH
    dimensions (each 64-key bucket of a 10-bit 2-D grid spans ≤ 8 in x and
    y), where a single-column sort leaves the second dimension unbounded."""
    from pypeln_spark.ext.curation import zorder_key
    from pyspark.sql import functions as F

    grid = spark.range(32 * 32).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    keyed = grid.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), bits=5).alias("z")
    )
    boxes = (
        keyed.withColumn("bucket", F.expr("z DIV 64"))
        .groupBy("bucket")
        .agg(
            (F.max("x") - F.min("x")).alias("dx"),
            (F.max("y") - F.min("y")).alias("dy"),
        )
        .collect()
    )
    assert len(boxes) == 16
    assert all(b.dx <= 8 and b.dy <= 8 for b in boxes)
    # contrast: bucketing a plain x-sort leaves y spanning the full range
    xsort = (
        grid.withColumn("bucket", F.expr("(x * 32 + y) DIV 64"))
        .groupBy("bucket")
        .agg((F.max("y") - F.min("y")).alias("dy"))
        .collect()
    )
    assert max(b.dy for b in xsort) == 31


def test_triangle_count_known_graph(spark):
    """K4 has 4 triangles, 3 per vertex; attaching a pendant vertex adds
    none; edge orientation/duplication in the input doesn't matter."""
    from pypeln_spark.ext.dedup import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    messy = k4 + [(b, a) for a, b in k4] + [(3, 9), (9, 3)]  # reversed dups + pendant
    edges = spark.createDataFrame(messy, "id_a long, id_b long")
    got = {r.vertex: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # output is orientation-invariant: id order matches degree order
    by_id = {r.vertex: r.n_triangles
             for r in triangle_count(edges, orient="id").collect()}
    assert by_id == got

    # skewed wheel: hub 0 connected to rim 1..8, rim is a cycle → 8
    # triangles, all through the hub. Degree orientation points rim→hub
    # (hub degree 8 ≫ rim degree 3), so hub out-degree is 0 and the wedge
    # join never fans out by the hub's degree; counts still exact.
    rim = [(i, i % 8 + 1) for i in range(1, 9)]
    wheel = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + rim, "id_a long, id_b long"
    )
    wgot = {r.vertex: r.n_triangles for r in triangle_count(wheel).collect()}
    # hub closes 8 rim edges; each rim vertex sits in the two triangles of
    # its two rim edges
    assert wgot[0] == 8 and all(wgot[i] == 2 for i in range(1, 9))


def test_pagerank_star_graph(spark):
    """Star K1,4: hub rank exceeds leaf ranks, leaves are identical, ranks
    match a pure-Python replay of the exact spec (same op order)."""
    from pypeln_spark.ext.dedup import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a long, id_b long"
    )
    got = {r.vertex: r["rank"] for r in pagerank(edges, iters=3).collect()}
    n, d = 5, 0.85
    deg = {0: 4, 1: 1, 2: 1, 3: 1, 4: 1}
    rank = {v: 1.0 / n for v in deg}
    for _ in range(3):
        contribs = {v: [] for v in deg}
        for u in range(1, 5):  # symmetric edges: hub<->leaf both ways
            contribs[u].append((0, rank[0] / deg[0]))
            contribs[0].append((u, rank[u] / deg[u]))
        new = {}
        for v in deg:
            s = 0.0
            for _u, c in sorted(contribs[v]):
                s = s + c
            new[v] = (1.0 - d) / n + d * s
        rank = new
    assert got == rank
    assert got[0] > got[1] and len({got[i] for i in range(1, 5)}) == 1


def test_quantize_int8_error_bound_and_edges(spark):
    """Invariant: |x − code·scale| ≤ scale/2 for every component (floor(x/s
    + 0.5) is nearest-grid), codes stay in [−127, 127], the max-|x|
    component maps to ±127 exactly, and the all-zero vector gets scale 0
    with all-zero codes instead of dividing by zero."""
    from pypeln_spark.ext import similarity as S

    rows = [
        (0, [1.0, -1.0, 0.5, -0.25]),
        (1, [127.0, -127.0, 63.5, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),          # zero vector
        (3, [1e-6, -1e-6, 3e-7, 0.0]),      # tiny magnitudes
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in S.quantize_int8(df).collect()}
    for vid, vec in rows:
        r = got[vid]
        assert all(-127 <= c <= 127 for c in r.codes)
        if all(x == 0 for x in vec):
            assert r.scale == 0.0 and all(c == 0 for c in r.codes)
            continue
        mx = max(abs(x) for x in vec)
        assert r.scale == mx / 127.0
        for x, c in zip(vec, r.codes):
            assert abs(x - c * r.scale) <= r.scale / 2 * (1 + 1e-12)
            if abs(x) == mx:
                assert abs(c) == 127


def test_personalized_pagerank_concentrates_on_sources(spark):
    """PPR on the star K1,4 with sources={1}: mass concentrates near the
    source — the source leaf outranks the other leaves, ranks match a
    pure-Python replay of the exact spec, and the global variant's uniform
    teleport differs from PPR's."""
    from pypeln_spark.ext.dedup import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a long, id_b long"
    )
    got = {r.vertex: r["rank"]
           for r in pagerank(edges, iters=3, sources=[1]).collect()}
    d = 0.85
    deg = {0: 4, 1: 1, 2: 1, 3: 1, 4: 1}
    rank = {v: (1.0 if v == 1 else 0.0) for v in deg}
    for _ in range(3):
        contribs = {v: [] for v in deg}
        for u in range(1, 5):
            contribs[u].append((0, rank[0] / deg[0]))
            contribs[0].append((u, rank[u] / deg[u]))
        new = {}
        for v in deg:
            s = 0.0
            for _u, c in sorted(contribs[v]):
                s = s + c
            base = (1.0 - d) / 1 if v == 1 else 0.0
            new[v] = base + d * s
        rank = new
    assert got == rank
    assert got[1] > got[2] == got[3] == got[4]
    glob = {r.vertex: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert glob != got


def test_dedup_against_corpus_verifies_index_params(spark):
    """ADVICE r4: a corpus_index built with different (k, n_hashes, bands)
    must raise instead of silently matching wrong; corpus_df becomes
    optional once an index is supplied."""
    from pypeln_spark.ext import dedup as D

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "the quick brown fox jumps over the lazy dog again"),
         (3, "completely different text with no overlap whatsoever here")],
        "doc_id long, text string",
    )
    idx = D.build_corpus_index(docs, k=5, n_hashes=32, bands=8)
    # bucket_cap travels in the params for self-description (ADVICE r10)
    # but is NOT part of the semantic compatibility check below
    assert len(idx) == 3 and idx[2] == {
        "k": 5, "n_hashes": 32, "bands": 8, "bucket_cap": None
    }
    assert D.build_corpus_index(docs, bucket_cap=2)[2]["bucket_cap"] == 2
    with pytest.raises(ValueError, match="built with"):
        D.dedup_against_corpus(
            docs, n_hashes=16, bands=4, corpus_index=idx
        )
    with pytest.raises(ValueError, match="corpus_df or corpus_index"):
        D.dedup_against_corpus(docs)
    # matching params: runs without corpus_df, finds the 1↔2 duplicate
    out = D.dedup_against_corpus(
        docs.filter("doc_id = 1"), n_hashes=32, bands=8, corpus_index=idx
    )
    pairs = {(r.new_id, r.corpus_id) for r in out.collect() if r.corpus_id != 1}
    assert (1, 2) in pairs


def test_cached_index_rebuilds_for_dead_session(spark):
    """ADVICE r4: a cached index frame bound to a stopped SparkSession must
    be discarded and rebuilt, not handed back to fail obscurely."""
    from pypeln_spark.ext import similarity as S

    class _DeadSession:
        @property
        def _sc(self):
            raise RuntimeError("session stopped")

    class _DeadFrame:
        sparkSession = _DeadSession()

    key = ("test_dead_session_idx",)
    S._INDEX_CACHE[key] = _DeadFrame()
    try:
        fresh = spark.range(3)
        got = S.cached_index(key, lambda: fresh)
        assert got is not S._INDEX_CACHE.get("never")  # sanity
        assert not isinstance(got, _DeadFrame)
        assert got.count() == 3
        # and a live entry is returned as-is, not rebuilt
        again = S.cached_index(key, lambda: (_ for _ in ()).throw(AssertionError))
        assert again is got
    finally:
        S.drop_index(key)


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: LPA assigns each clique its
    own community (min member id) where connected components would merge
    everything into one label."""
    from pypeln_spark.ext.dedup import label_propagation

    k1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    k2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(
        k1 + k2 + [(3, 10)], "id_a long, id_b long"
    )
    out = {r.vertex: r.label for r in label_propagation(edges, iters=4).collect()}
    assert set(out[v] for v in (0, 1, 2)) == {0}
    assert set(out[v] for v in (11, 12, 13)) == {10}
    # all 8 vertices labeled, labels drawn from the two clique minima
    assert len(out) == 8 and set(out.values()) <= {0, 1, 10, 11}


def test_label_propagation_ignores_multi_edges(spark):
    """Duplicate edges must not inflate a neighbor's vote (simple-graph
    convention shared with pagerank/triangle_count)."""
    from pypeln_spark.ext.dedup import label_propagation

    # vertex 5's neighbors: 1 (duplicated 3x) and 0; dedup → tie → min label 0
    edges = spark.createDataFrame(
        [(1, 5), (1, 5), (5, 1), (0, 5), (0, 1)], "id_a long, id_b long"
    )
    out = {r.vertex: r.label for r in label_propagation(edges, iters=1).collect()}
    assert out[5] == 0


def test_containment_catches_embedded_doc(spark):
    """A short doc fully embedded in a long one: containment 1.0 even though
    Jaccard is low."""
    from pypeln_spark.ext import dedup as D

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " " + " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    sh = D.shingle_arrays(docs, "text", "doc_id", 5)
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    cont = D.jaccard_pairs_from_candidates(
        cand, sh, threshold=0.9, measure="containment"
    ).collect()
    assert len(cont) == 1 and cont[0].containment == 1.0
    jac = D.jaccard_pairs_from_candidates(cand, sh, threshold=0.0).collect()
    assert jac[0].jaccard < 0.2


def test_wav_decode_roundtrip_and_truncation(spark):
    """The stdlib-wave decode path: synthesized assets decode to the spec'd
    channels/rate/frames, and a truncated container raises."""
    import io
    import wave

    from pypeln_spark.ext import multimodal as M

    out = {r.asset_id: r for r in M.decode_audio_stats(
        M.synthesize_wav_assets(spark, n=6)
    ).collect()}
    assert len(out) == 6
    for i in range(6):
        assert out[i].channels == 1 + i % 2
        assert out[i].sample_rate == 8000 + (i % 3) * 4000
        assert out[i].n_frames == 12 + i % 5
    # mean8 replays from the raw payload independently
    import hashlib
    import numpy as np

    payload = b"".join(hashlib.md5(f"wav:0:{b}".encode()).digest() for b in range(2))
    want = float(np.frombuffer(payload[:16], dtype="<i2").astype(np.float64).mean())
    assert out[0].mean8 == want
    with pytest.raises(Exception):
        wave.open(io.BytesIO(b"RIFF\x00\x00\x00\x00WAVEjunk"))


def test_video_stream_walk_and_truncation(spark):
    """Frame-walking a PNM stream: sampled means match an independent
    replay, and a truncated final frame raises (the walk really reads
    every header/raster)."""
    import hashlib

    import numpy as np

    from pypeln_spark.ext import multimodal as M

    out = {r.asset_id: r for r in M.video_frame_stats(
        M.synthesize_pnm_video_assets(spark, n=4, frames=6), every_n=2
    ).collect()}
    assert all(out[i].n_frames == 6 and out[i].n_sampled == 3 for i in range(4))
    pix = np.concatenate([
        np.frombuffer(
            hashlib.md5(f"vid:1:{f}:0".encode()).digest()[:12], dtype=np.uint8
        )
        for f in (0, 2, 4)
    ]).astype(np.int64)
    assert out[1].mean12_sampled == float(pix.sum()) / float(pix.size)
    # truncated stream: chop the last raster short
    df = M.synthesize_pnm_video_assets(spark, n=1, frames=2)
    row = df.collect()[0]
    bad = spark.createDataFrame(
        [(0, "video", bytearray(bytes(row.media)[:-3]), None)], M.ASSET_SCHEMA
    )
    with pytest.raises(Exception, match="truncated"):
        M.video_frame_stats(bad).collect()


def test_kcore_prune_cascade(spark):
    """Path graph a-b-c-d plus a triangle (x,y,z) with k=2: round 1 peels
    the path endpoints, the CASCADE then peels the whole path over later
    rounds; the triangle survives with degree 2 everywhere."""
    from pypeln_spark.ext.dedup import kcore_prune

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    out = {r.vertex: r.degree for r in kcore_prune(edges, k=2, rounds=3).collect()}
    assert out == {10: 2, 11: 2, 12: 2}
    # bounded rounds are part of the spec: with rounds=1 only the path
    # endpoints are gone; inner path vertices (now degree 1) still present
    one = {r.vertex: r.degree for r in kcore_prune(edges, k=2, rounds=1).collect()}
    assert set(one) == {2, 3, 10, 11, 12} and one[2] == 1


def _pure_lpa(edges, iters):
    """Pure-Python replay of the label_propagation spec."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lab = {v: v for v in adj}
    for _ in range(iters):
        nxt = {}
        for v in adj:
            c = Counter(lab[u] for u in adj[v])
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        lab = nxt
    return lab


def _pure_kcore(edges, k, rounds):
    """Pure-Python replay of the kcore_prune spec (bounded iterated peel)."""
    from collections import defaultdict

    es = set()
    for a, b in edges:
        if a != b:
            es.add((a, b))
            es.add((b, a))
    for _ in range(rounds):
        deg = defaultdict(int)
        for u, v in es:
            deg[u] += 1
        keep = {u for u, d in deg.items() if d >= k}
        es = {(u, v) for u, v in es if u in keep and v in keep}
    deg = defaultdict(int)
    for u, v in es:
        deg[u] += 1
    return dict(deg)


def test_graph_ops_match_pure_replay_property(spark):
    """Property: on random small graphs, the distributed LPA and k-core
    agree with direct pure-Python replays of their specs — independent of
    partitioning, join order, and aggregate implementation details."""
    from pypeln_spark.ext.dedup import kcore_prune, label_propagation

    @settings(max_examples=8, deadline=None)
    @given(
        seed=st.integers(0, 2**31),
        n=st.integers(4, 14),
        m=st.integers(3, 40),
        k=st.integers(1, 4),
    )
    def check(seed, n, m, k):
        rng = np.random.default_rng(seed)
        # self-loops are INCLUDED on purpose: both ops must ignore them
        # (simple-graph convention) exactly like the pure replays do
        edges = [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2))]
        if not any(a != b for a, b in edges):
            return
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got_l = {r.vertex: r.label for r in label_propagation(df, iters=2).collect()}
        assert got_l == _pure_lpa(edges, 2)
        got_k = {r.vertex: r.degree for r in kcore_prune(df, k=k, rounds=2).collect()}
        assert got_k == _pure_kcore(edges, k, 2)

    check()


def test_substring_recall_cdc_beats_fixed_stride_on_shifts(spark):
    """Pins the measured substring-recall story (SCALING.md r7 table):
    on ARBITRARILY-SHIFTED planted spans of 24 tokens, fixed
    non-overlapping 16-token windows detect ≈1/stride of the plants
    (≤10%) while CDC chunking (d=8, L=3d) detects ≥90% — the
    quantified reason cdc_chunk_dedup exists. Uses the committed
    experiment's own corpus builder, so the test and the SCALING
    numbers can never drift apart."""
    import random

    import tools.substring_recall as R
    from pypeln_spark.ext import dedup as D

    rows, target_len = R.build_corpus(random.Random(R.SEED))
    keep = {d for d, L in target_len.items() if L == 24}
    keep |= {d - 1 for d in keep}  # the matching source docs
    sub = [r for r in rows if r[0] in keep]
    docs = spark.createDataFrame(sub, "doc_id long, text string")

    def detect_rate(out):
        hits = {
            r["doc_id"]: r["n_chunks"] - r["n_kept"] > 0 for r in out.collect()
        }
        tgt = [d for d in hits if d in target_len and target_len[d] == 24]
        return sum(hits[d] for d in tgt) / len(tgt)

    fixed = detect_rate(D.span_dedup(docs, window=16))
    cdc = detect_rate(D.cdc_chunk_dedup(docs, divisor=8))
    assert fixed <= 0.10, f"fixed stride should miss shifted spans: {fixed}"
    assert cdc >= 0.90, f"CDC should catch shifted spans: {cdc}"


def test_lsh_recall_table_structure_and_exact_copy_capture(spark):
    """The measured S-curve's structural invariants: the LSH arm can never
    capture MORE than exact truth (n_lsh <= n_exact per decile, recall in
    [0,1]); identical documents (J = 1.0, decile 10) are ALWAYS captured
    (identical shingle sets give identical signatures, so every band
    collides); and the table is partitioning-invariant (frozen hashes +
    exact verify — nothing in it depends on layout)."""
    import random

    from pypeln_spark.ext import dedup as D

    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(40)]
    rows = []
    for i in range(20):  # unrelated base docs
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(30))))
    for i in range(5):  # exact copies: planted J = 1.0 pairs
        rows.append((100 + i, rows[i][1]))
    for i in range(5, 12):  # mid-J pairs: share a prefix, diverge after
        base = rows[i][1].split()
        half = len(base) // 2
        tail = [rng.choice(vocab) for _ in range(len(base) - half)]
        rows.append((200 + i, " ".join(base[:half] + tail)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.j_decile: r for r in D.lsh_recall_table(df, threshold=0.3).collect()}
    assert out, "planted pairs must produce at least one decile row"
    for r in out.values():
        assert 0 <= r.n_lsh <= r.n_exact
        assert 0.0 <= r.recall <= 1.0
        assert r.recall == r.n_lsh / r.n_exact
    assert 10 in out and out[10].recall == 1.0  # exact copies always captured
    assert out[10].n_exact >= 5
    assert any(d < 10 for d in out), "mid-J planted pairs must appear"
    again = {
        r.j_decile: r
        for r in D.lsh_recall_table(df.repartition(7), threshold=0.3).collect()
    }
    assert {k: v.asDict() for k, v in out.items()} == {
        k: v.asDict() for k, v in again.items()
    }


def test_near_dup_lsh_recall_structure(spark):
    """Cosine S-curve invariants mirroring the lexical one: identical
    vectors (cos = 1.0 → bucket 20) land in the SAME hyperplane bucket by
    construction (equal plane dots, equal signs), so their capture is
    always 1.0; per bucket the LSH arm never exceeds exact truth; and the
    eval is partitioning-invariant (deterministic plane family + IEEE
    left-fold dots)."""
    import random

    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    rng = random.Random(3)
    rows = []
    for i in range(24):  # random base vectors
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)]))
    for i in range(6):  # exact duplicates: planted cos = 1.0 pairs
        rows.append((100 + i, rows[i][1]))

    def table(df):
        exact = S.near_dup_pairs(df, threshold=0.2)
        cand = S.near_dup_lsh(df, threshold=0.2, n_planes=6, dim=64).select(
            "id_a", "id_b"
        )
        return (
            exact.join(cand.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left")
            .groupBy(F.floor(F.col("cos") * 20).cast("int").alias("c_bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count(F.col("hit")).alias("n_lsh"),
            )
        )

    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.c_bucket: r for r in table(df).collect()}
    assert out
    for r in out.values():
        assert 0 <= r.n_lsh <= r.n_exact
    # identical vectors: cos is 1.0 up to IEEE rounding of dot/(sqrt·sqrt),
    # so the planted pairs land in bucket 19 or 20 — but ALWAYS captured
    # (equal plane dots give equal signs, hence the same bucket)
    top = [r for b, r in out.items() if b >= 19]
    assert sum(r.n_exact for r in top) >= 6
    assert all(r.n_lsh == r.n_exact for r in top)
    again = {r.c_bucket: r for r in table(df.repartition(5)).collect()}
    assert {k: v.asDict() for k, v in out.items()} == {
        k: v.asDict() for k, v in again.items()
    }


def test_simhash_capture_table_hand_constructed(spark):
    """Fully deterministic capture table from hand-built fingerprints:

      id 0: 0x00000000
      id 1: 0x00000007  (3 bits, all in byte 0 -> hd 3 vs id 0)
      id 2: 0x01010101  (1 bit per byte)
      id 3: 0x000000FF  (8 bits, all in byte 0)

    Expected pairs (hd <= 8): (0,1) hd3 SHARED bytes 1-3 -> captured;
    (0,2) hd4, every byte differs -> missed; (0,3) hd8, bytes 1-3 intact
    -> captured; (1,2) hd5, no equal byte -> missed; (1,3) hd5, bytes 1-3
    intact -> captured; (2,3) hd10 -> outside the eval range. So the
    table must read hd3: 1/1, hd4: 0/1, hd5: 1/2, hd8: 1/1 — the
    pigeonhole guarantee AND a concrete miss, both pinned by value."""
    from pypeln_spark.ext import dedup as D

    fp = spark.createDataFrame(
        [(0, 0x00000000), (1, 0x00000007), (2, 0x01010101), (3, 0x000000FF)],
        "doc_id long, simhash long",
    )
    out = {r.hamming: r for r in D.simhash_capture_table(fp).collect()}
    assert set(out) == {3, 4, 5, 8}
    assert all(r.n_tables == 1 for r in out.values())
    assert (out[3].n_exact, out[3].n_cand) == (1, 1)
    assert (out[4].n_exact, out[4].n_cand) == (1, 0)
    assert (out[5].n_exact, out[5].n_cand) == (2, 1)
    assert (out[8].n_exact, out[8].n_cand) == (1, 1)
    assert out[5].capture == 0.5

    # multi-table arm, same fingerprints. Worked by hand against the
    # frozen affine tables: the (1,2) hd-5 pair (xor touches every
    # contiguous byte) IS captured by table 1 — its byte-0 group collects
    # original positions {(5j+7)%32} = {7,12,17,22,27,0,5,10}, which the
    # xor set {1,2,8,16,24} never touches — so hd-5 capture rises 1/2 →
    # 2/2. The (0,2) hd-4 pair is the documented affine blind spot: xor =
    # 0x01010101 is stride-8, and every affine image of a stride-8 coset
    # again hits all four bytes, so it stays missed at ANY table count.
    multi = {
        (r.n_tables, r.hamming): r
        for r in D.simhash_capture_table(fp, tables=4).collect()
    }
    assert {t for t, _ in multi} == {1, 4}
    assert multi[(1, 5)].n_cand == 1 and multi[(4, 5)].n_cand == 2
    assert multi[(4, 4)].n_cand == 0  # the affine blind spot, pinned
    assert multi[(4, 3)].capture == 1.0 and multi[(4, 8)].capture == 1.0
    # single-table arm inside the two-arm output matches the solo run
    for hd in (3, 4, 5, 8):
        assert multi[(1, hd)].n_cand == out[hd].n_cand

    # the PRODUCTION operator path at tables=4: the (1,2) hd-5 pair that
    # every contiguous byte misses is now surfaced; tables=1 still misses
    # it; hd ≤ 3 output identical either way (the pigeonhole guarantee)
    from pypeln_spark.ext import dedup as D2

    one = {(r.id_a, r.id_b) for r in D2.simhash_near_pairs(fp, max_hamming=5).collect()}
    four = {
        (r.id_a, r.id_b)
        for r in D2.simhash_near_pairs(fp, max_hamming=5, tables=4).collect()
    }
    assert (1, 2) in four and (1, 2) not in one
    assert one < four
    one3 = {(r.id_a, r.id_b) for r in D2.simhash_near_pairs(fp, max_hamming=3).collect()}
    four3 = {
        (r.id_a, r.id_b)
        for r in D2.simhash_near_pairs(fp, max_hamming=3, tables=4).collect()
    }
    assert one3 == four3


def test_lsh_hot_bucket_star_caps_pairs_and_keeps_clusters(spark):
    """The hot-bucket guard (lsh_candidate_pairs bucket_cap): a planted
    m-wide exact-dup cluster must emit m-1 star candidates instead of
    m(m-1)/2, and the downstream connected-components labeling must be
    IDENTICAL to the uncapped run — the property the star exists for."""
    from pypeln_spark.ext import dedup as D

    m = 12
    rows = [(i, "the same boilerplate footer text repeated verbatim") for i in range(m)]
    # plus a handful of unrelated docs that land in singleton buckets
    rows += [(100 + i, f"unique document body number {i} with its own words {i*7}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = D.shingle_arrays(docs)
    wide = D.minhash_signatures_wide(sh, n_hashes=16)
    uncapped = D.lsh_candidate_pairs(wide, bands=4, rows_per_band=4)
    capped = D.lsh_candidate_pairs(wide, bands=4, rows_per_band=4, bucket_cap=3)

    un_pairs = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cap_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    cluster_un = {p for p in un_pairs if p[0] < 100 and p[1] < 100}
    cluster_cap = {p for p in cap_pairs if p[0] < 100 and p[1] < 100}
    assert len(cluster_un) == m * (m - 1) // 2
    # every band bucket holds the same 12 docs -> one star from rep 0
    assert cluster_cap == {(0, i) for i in range(1, m)}
    # star pairs always keep id_a < id_b
    assert all(a < b for a, b in cap_pairs)

    cc_un = {r.doc_id: r.cluster_id for r in D.connected_components(uncapped).collect()}
    cc_cap = {r.doc_id: r.cluster_id for r in D.connected_components(capped).collect()}
    assert cc_un == cc_cap


def test_lsh_bucket_cap_noop_when_no_bucket_exceeds_it(spark, sf_dir):
    """With a cap no real bucket exceeds, capped output must be
    bit-identical to the uncapped join — small buckets take the exact
    pre-guard path."""
    from pypeln_spark.ext import dedup as D
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, sf_dir, "documents").limit(150)
    wide = D.minhash_signatures_wide(D.shingle_arrays(docs), n_hashes=16)
    base = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(wide, bands=4).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(wide, bands=4, bucket_cap=10**6).collect()
    }
    assert base == capped


def test_lsh_capped_path_honors_lazy_contract(spark):
    """ADVICE r10: with persist=False threaded through, the capped path
    must skip the eager pool-persist (caller opted out of caching) and
    still emit identical candidates."""
    from pypeln_spark.ext import dedup as D

    rows = [(i, "the same boilerplate footer text repeated verbatim") for i in range(8)]
    rows += [(100 + i, f"unique document body number {i} xx {i*3}") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wide = D.minhash_signatures_wide(D.shingle_arrays(docs), n_hashes=16)

    def pairs(**kw):
        return {
            (r.id_a, r.id_b)
            for r in D.lsh_candidate_pairs(wide, bands=4, bucket_cap=3, **kw).collect()
        }

    assert pairs(persist=False) == pairs(persist=True)


def test_index_cap_refuses_misordered_band_frame(spark):
    """ADVICE r10: IncrementalLshIndex._cap validates the
    first-column-is-id convention — a band frame led by a bucket-key
    column must raise, not silently cap by the wrong key."""
    import pytest as _pytest

    from pypeln_spark.ext import dedup as D

    good_sh = spark.createDataFrame([(1, [1])], "doc_id long, sh_arr array<bigint>")
    bad = spark.createDataFrame(
        [(7, 1, [7])], "sigh long, doc_id long, sig array<bigint>"
    )
    with _pytest.raises(ValueError, match="lead with the id"):
        D.IncrementalLshIndex(good_sh, bad, bucket_cap=2)
    # without a cap the frame is never key-inferred — no raise
    D.IncrementalLshIndex(good_sh, bad)
    # ADVICE r11: a bare "id" first column is id-shaped — (id, band_id,
    # sig) is legitimately ordered (band_id is the bucket key) and the
    # guard must accept it AND cap by the right key (2 lowest ids kept)
    sh_id = spark.createDataFrame(
        [(i, [i]) for i in range(4)], "id long, sh_arr array<bigint>"
    )
    bands_id = spark.createDataFrame(
        [(i, 0, [9]) for i in range(4)],
        "id long, band_id int, sig array<bigint>",
    )
    idx = D.IncrementalLshIndex(sh_id, bands_id, bucket_cap=2)
    assert sorted(r.id for r in idx.bands.collect()) == [0, 1]
    # ADVICE r12: bare "id" must NOT launder a genuine misorder — when
    # the index's OWN id column (sh's first column) appears LATER in the
    # band frame ((id, doc_id, sig) against a doc_id-keyed index), the
    # frame is misordered and must raise, not cap by the wrong key
    bands_shadow = spark.createDataFrame(
        [(7, 1, [7])], "id long, doc_id long, sig array<bigint>"
    )
    with _pytest.raises(ValueError, match="lead with the id"):
        D.IncrementalLshIndex(good_sh, bands_shadow, bucket_cap=2)
    # and still no raise without a cap (frame is never key-inferred)
    D.IncrementalLshIndex(good_sh, bands_shadow)


def test_simhash_wideband_pigeonhole_mechanics(spark):
    """Wide-band (4×15-bit) pigeonhole on hand-constructed 60-bit
    fingerprints: any hd ≤ 3 pair leaves ≥1 band intact and MUST surface;
    an hd-4 pair with one flip in EVERY band has no intact band and must
    not (the guarantee's exact boundary)."""
    from pypeln_spark.ext import dedup as D

    base = 0b101010101010101010101010101010101010101010101010101010101010
    rows = [
        (0, base),
        (1, base ^ 0b111),                      # hd 3, all flips in band 0
        (2, base ^ (1 | (1 << 20) | (1 << 40))),  # hd 3 spread over 3 bands
        (3, base ^ (1 | (1 << 16) | (1 << 31) | (1 << 46))),  # hd 4, one per band
        (4, 0),                                  # unrelated
    ]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_pairs_wideband(fp, max_hamming=4).collect()
    }
    assert (0, 1, 3) in got
    assert (0, 2, 3) in got
    # hd-4 with every band dirty: pigeonhole cannot surface it even though
    # the hamming filter would admit it
    assert not any(a == 0 and b == 3 for a, b, _ in got)
    assert not any(4 in (a, b) for a, b, _ in got)


def test_simhash_fingerprints_bits_contract(spark):
    """bits ≤ 32 stays on the frozen h31 family (bit 31 constant-0 — the
    historical oracle contract); bits > 60 is refused; 60-bit prints are
    full-width (some doc uses a bit ≥ 32 at sf-independent certainty on
    real text)."""
    import pytest as _pytest

    from pypeln_spark.ext import dedup as D

    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared words and token{i}") for i in range(30)],
        "doc_id long, text string",
    )
    fp32 = [r.simhash for r in D.simhash_fingerprints(docs).collect()]
    assert all(0 <= v < (1 << 31) for v in fp32)  # bit 31 never set
    fp60 = [r.simhash for r in D.simhash_fingerprints(docs, bits=60).collect()]
    assert all(0 <= v < (1 << 60) for v in fp60)
    assert any(v >= (1 << 32) for v in fp60)  # the top bits are live
    with _pytest.raises(ValueError):
        D.simhash_fingerprints(docs, bits=61)
    with _pytest.raises(ValueError):
        D.simhash_near_pairs_wideband(
            spark.createDataFrame([(0, 0)], "doc_id long, simhash long"),
            band_bits=16, bands=4,
        )


def test_simhash_wideband_refuses_narrow_fingerprints(spark):
    """ADVICE r10: a 32-bit (h31-family) fingerprint fed to the wide-band
    path leaves every high band reading key 0 — ONE degenerate bucket
    holding the whole corpus, silently quadratic. The max-sample guard
    must refuse it loudly; genuine 60-bit prints pass."""
    import pytest as _pytest

    from pypeln_spark.ext import dedup as D

    docs = spark.createDataFrame(
        [(i, f"document number {i} with shared words and token{i}") for i in range(30)],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="narrower"):
        D.simhash_near_pairs_wideband(D.simhash_fingerprints(docs))  # 32-bit
    # the genuine 60-bit frame flows (no assertion on pairs — just no raise)
    D.simhash_near_pairs_wideband(D.simhash_fingerprints(docs, bits=60)).collect()


def test_simhash_wideband_multitable_recall_and_identity(spark):
    """The combined corpus-scale setting (VERDICT r10 #7): tables=1 is
    bit-exact with the single-table wideband form (table 0 is the
    identity affine map), and extra tables capture hd-4/5 pairs whose
    flips straddle every CONTIGUOUS band — the exact boundary case the
    pigeonhole mechanics test pins as invisible at tables=1."""
    from pypeln_spark.ext import dedup as D

    base = 0b101010101010101010101010101010101010101010101010101010101010
    rows = [
        (0, base),
        (1, base ^ 0b111),                       # hd 3, all flips in band 0
        (2, base ^ (1 | (1 << 16) | (1 << 31) | (1 << 46))),  # hd 4, one per band
        # hd 5, one per contiguous band + one extra — verified captured by
        # the frozen tables (NOT coset-aligned: {0,15,30,45,...} patterns
        # are the affine family's structural blind spot at 60 bits exactly
        # as stride-8 is at 32; see the note above SIMHASH_TABLE_A)
        (3, base ^ (1 | (1 << 16) | (1 << 31) | (1 << 46) | (1 << 59))),
        (4, 0),                                  # unrelated
    ]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")

    def pairs(tables, hd):
        return {
            (r.id_a, r.id_b, r.hamming)
            for r in D.simhash_near_pairs_wideband(
                fp, max_hamming=hd, tables=tables
            ).collect()
        }

    # tables=1 ≡ the original single-table form, any hamming budget
    for hd in (3, 4, 5):
        assert pairs(1, hd) == {
            (r.id_a, r.id_b, r.hamming)
            for r in D.simhash_near_pairs_wideband(fp, max_hamming=hd).collect()
        }
    # one-flip-per-contiguous-band patterns: invisible at tables=1 (every
    # contiguous band dirty), captured once the affine regroupings
    # re-gather the bits (some table-t band collects 15 untouched bits)
    t1, t4 = pairs(1, 5), pairs(4, 5)
    assert not any(a == 0 and b == 2 for a, b, _ in t1)
    assert not any(a == 0 and b == 3 for a, b, _ in t1)
    assert (0, 2, 4) in t4
    assert (0, 3, 5) in t4
    # multi-table only ADDS capture — never loses the guaranteed pairs
    assert t1 <= t4
    assert not any(4 in (a, b) for a, b, _ in t4)
