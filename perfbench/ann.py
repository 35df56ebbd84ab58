"""ann_live_serve: query epochs interleaved with ingest epochs on one live
cells index.

Query epochs run ``live_topk_serve``; ingest epochs run
``CellEmbeddingIngestGate``; one retrain (growing 16 -> 32 cells) runs mid
round before the second ingest epoch. Gate, retrain and serve take the
arguments of the registry entry ``streaming_ann_topk_serving_live``. Reads
and writes share the index, so a change that speeds one at the cost of the
other shows here. One request is one query epoch; ingest epochs are timed
beside them. The text path and the harness are idle.

Each round starts from a fresh index over the same persisted corpus cells
and the trained centroids, so every round does identical work.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F, types as T

from pypeln_spark import streaming as ST
from pypeln_spark.ext import dedup as D, similarity as S
from pypeln_spark.queries.similarity import (
    DIM, K, KMEANS_ITERS, KMEANS_TRAIN_MOD, N_CELLS, NEAR_DUP_T,
)
from pypeln_spark.queries.streaming import LIVE_RETRAIN_CELLS

from . import gen

N_VECS = 2000  # the size of ``embeddings`` at sf0.1; even ids are the corpus
INGEST_SIZE = 100  # held-out vectors per ingest epoch
DUP_SHARE = 0.1  # planted near-duplicates per ingest epoch, share of INGEST_SIZE
QUERY_SIZE = 100
QUERY_NOISE = 0.3  # perturbation of a query's source vector, relative to its norm
FREE_SHARE = 0.5  # fresh vectors of the corpus distribution per query epoch
RECALL_TARGET = 0.12
# one round: ingest, six queries, retrain + ingest, six queries
PLAN = ("ingest",) + ("query",) * 6 + ("retrain+ingest",) + ("query",) * 6
NOMINAL_ROUND_S = 28.0  # one warm round on a 4-vCPU host
COS_TOL = 1e-9

VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)
SERVE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
    ]
)


def _unit(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def check_round(vecs: dict, corpus_ids, plan: list, ingest: pd.DataFrame,
                served: pd.DataFrame) -> tuple:
    """(failed, attempted, recall sum) for one round. ``plan`` lists
    (kind, ids) per epoch in stream order. An ingest vector fails without
    exactly one decision row, or with a dup_of outside the live index or
    below the threshold; a query fails when a neighbour's cos differs from
    numpy's by more than COS_TOL, a neighbour is not in the live index, its
    ranks are not 1..n with non-increasing cos, or it has no rows."""
    live = [int(i) for i in corpus_ids]
    failed = attempted = 0
    recall = 0.0
    dec_n = ingest.groupby("vec_id").size().to_dict()
    dec = ingest.drop_duplicates("vec_id").set_index("vec_id")["dup_of"].to_dict()
    by_query = {q: g for q, g in served.groupby("query_id")}
    for kind, ids in plan:
        live_set = set(live)
        if kind == "ingest":
            novel = []
            for i in ids:
                attempted += 1
                if dec_n.get(i) != 1:
                    failed += 1
                    continue
                d = dec[i]
                if pd.isna(d):
                    novel.append(i)
                elif int(d) not in live_set or float(
                    _unit(np.stack([vecs[i], vecs[int(d)]])).prod(0).sum()
                ) < NEAR_DUP_T - COS_TOL:
                    failed += 1
            live.extend(novel)
            continue
        lv = np.stack([vecs[i] for i in live]).astype(np.float64)
        lnorm = np.sqrt((lv * lv).sum(1))
        pos = {v: j for j, v in enumerate(live)}
        for q in ids:
            attempted += 1
            qv = vecs[q].astype(np.float64)
            cos_all = (lv @ qv) / (lnorm * np.sqrt(qv @ qv))
            exact = set(np.array(live)[np.argsort(-cos_all, kind="stable")[:K]].tolist())
            g = by_query.get(q)
            if g is None:
                failed += 1
                continue
            g = g.sort_values("rank")
            ok = list(g["rank"]) == list(range(1, len(g) + 1)) and len(g) <= K
            ok = ok and bool((np.diff(g["cos"].to_numpy()) <= COS_TOL).all())
            for n, c in zip(g["neighbor_id"], g["cos"]):
                j = pos.get(int(n))
                if j is None or abs(cos_all[j] - c) > COS_TOL:
                    ok = False
            failed += not ok
            recall += len(exact & set(int(n) for n in g["neighbor_id"])) / K
    return failed, attempted, recall


class AnnLiveServe:
    name = "ann_live_serve"

    def __init__(self, spark, seed: int, seconds: int, tracer):
        self.spark = spark
        self.tracer = tracer
        self.n_rounds = max(1, round(seconds / NOMINAL_ROUND_S))
        n_ingest = sum("ingest" in p for p in PLAN)
        n_query = PLAN.count("query")
        with tracer.span("setup.inputs"):
            emb = gen.embeddings(seed, N_VECS, DIM)
            arr = gen.vector_arrivals(
                seed, emb, n_ingest, INGEST_SIZE, DUP_SHARE,
                n_query, QUERY_SIZE, QUERY_NOISE, FREE_SHARE,
            )
            self.corpus_ids = np.arange(0, N_VECS, 2)
            self.vecs = {i: emb[i] for i in self.corpus_ids.tolist()}
            ingest, queries = iter(arr.ingest), iter(arr.queries)
            self.plan = []
            self.feeds = []
            for kind in PLAN:
                ids, m = next(queries) if kind == "query" else next(ingest)
                self.vecs.update(zip(ids.tolist(), m))
                self.plan.append(("query" if kind == "query" else "ingest", ids.tolist()))
                self.feeds.append(spark.createDataFrame(
                    [(int(i), v.tolist()) for i, v in zip(ids, m)], VEC_SCHEMA
                ))
            corpus = spark.createDataFrame(
                [(int(i), emb[i].tolist()) for i in self.corpus_ids], VEC_SCHEMA
            )
        with tracer.span("similarity.kmeans"):
            cents = S.kmeans_centroids(
                corpus, N_CELLS, KMEANS_ITERS, train_mod=KMEANS_TRAIN_MOD
            )
            # collect-and-replay, as the registry's trained_artifact does
            self.cents = spark.createDataFrame(cents.collect(), cents.schema)
        with tracer.span("similarity.index_build"):
            self.cor = S.ivf_assign(
                S.with_norms(D.spread(corpus)), self.cents, N_CELLS, keep=1
            ).select(
                "vec_id", "_v", "_norm", F.col("cid").alias("bucket")
            ).persist(StorageLevel.MEMORY_AND_DISK)
            self.cor.count()
        self.sinks: list = []
        self.latencies: list = []
        self.ingest_latencies: list = []
        self.index_rows = 0

    def _round(self, n_epochs: int, timed: bool) -> tuple:
        ingest_root = ST.stream_sink_dir("pypeln_spark_perfbench_")
        serve_root = ST.stream_sink_dir("pypeln_spark_perfbench_")
        self.sinks += [ingest_root, serve_root]
        ST.seed_sink_schema(self.spark, SERVE_SCHEMA, serve_root)
        cor = self.cor
        index = D.IncrementalLshIndex(
            cor.select("vec_id", "_v", "_norm"), cor.select("vec_id", "bucket"),
            compact_every=1, comb=cor,
        )
        if self.tracer.enabled:
            for method, name in (("absorb_combined", "dedup.absorb"), ("compact", "dedup.compact")):
                setattr(index, method, self.tracer.wrap(name, getattr(index, method)))
        gate = S.CellEmbeddingIngestGate(
            index, ingest_root, DIM, self.cents, N_CELLS, NEAR_DUP_T, nprobe="auto",
            absorb_dedup=False, retrain_iters=KMEANS_ITERS,
            retrain_train_mod=KMEANS_TRAIN_MOD,
        )
        tr = self.tracer

        def serve(batch_df, epoch_id):
            with tr.span("similarity.serve_plan"):
                topk = S.live_topk_serve(
                    index, gate.centroids, gate.n_cells, batch_df, k=K, dim=DIM,
                    recall_target=RECALL_TARGET, cents_lits=gate.centroid_lits(),
                )
            with tr.span("similarity.serve_write"):
                topk.select(
                    "query_id", F.lit(int(epoch_id)).cast("int").alias("epoch"),
                    "neighbor_id", "cos", "rank",
                ).write.mode("append").parquet(serve_root)

        def body(batch_df, epoch_id):
            kind = PLAN[epoch_id]
            t = time.perf_counter()
            if kind == "query":
                with tr.request_span("request", epoch_id):
                    serve(batch_df, epoch_id)
                if timed:
                    self.latencies.append(time.perf_counter() - t)
                return
            with tr.span("ingest"):
                if kind == "retrain+ingest":
                    with tr.span("similarity.retrain"):
                        gate.retrain(n_cells=LIVE_RETRAIN_CELLS)
                with tr.span("similarity.ingest_gate"):
                    gate(batch_df, epoch_id)
            if timed:
                self.ingest_latencies.append(time.perf_counter() - t)

        with tr.span("streaming.staged_foreach_batch"):
            ST.staged_foreach_batch(self.spark, self.feeds[:n_epochs], body)
        D.retire_pipeline_caches()
        index.close()
        return ingest_root, serve_root

    def warmup(self):
        self._round(2, timed=False)  # one ingest epoch and one query epoch

    def run(self):
        self.timed_sinks = [self._round(len(PLAN), timed=True) for _ in range(self.n_rounds)]

    @property
    def requests(self) -> int:
        return self.n_rounds * sum(len(ids) for kind, ids in self.plan if kind == "query")

    def check(self) -> dict:
        failed = attempted = 0
        recall = 0.0
        for ingest_root, serve_root in self.timed_sinks:
            ingest = self.spark.read.parquet(ingest_root).toPandas()
            served = self.spark.read.parquet(serve_root).toPandas()
            f, a, r = check_round(self.vecs, self.corpus_ids, self.plan, ingest, served)
            failed += f
            attempted += a
            recall += r
            self.index_rows = len(self.corpus_ids) + int(ingest["dup_of"].isna().sum())
        recall_at_k = recall / self.requests
        return {
            "attempted": attempted,
            "failed": failed,
            "quality": recall_at_k,
            "record": {
                "rounds": self.n_rounds,
                "plan": list(PLAN),
                "query_size": QUERY_SIZE,
                "ingest_size": INGEST_SIZE + round(DUP_SHARE * INGEST_SIZE),
                "recall_at_k": {"value": recall_at_k, "unit": "ratio"},
                "ingest_latency_p50_s": {
                    "value": float(np.median(self.ingest_latencies)), "unit": "s",
                },
                "ingest_latency_samples": len(self.ingest_latencies),
            },
        }

    def layer_metrics(self, jobs_of) -> dict:
        return {"dedup.index_rows": self.index_rows}

    def close(self):
        for root in self.sinks:
            ST.remove_sink_dir(self.spark, root)
        self.cor.unpersist()
