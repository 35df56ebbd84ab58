"""Self-test of the benchmark's correctness checkers (no Spark needed).

    python3 perfbench/selftest.py

For each workload it builds the exact result with the checker's own
reference, shows that the checker counts zero failures on it, then feeds
one deliberately wrong result and shows exactly that failure counted.
Exits non-zero if any checker misses the injected fault.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import ann, element, gen  # noqa: E402
from pypeln_spark.operators.to_iterable import Element  # noqa: E402


def element_case() -> list:
    records = gen.element_batch(0, 0, 300)
    good = [
        Element((i, j), v)
        for i, items in sorted(element.reference(records).items())
        for j, v in enumerate(items)
    ]
    wrong = list(good)
    k = len(wrong) // 2
    wrong[k] = Element(wrong[k].index, {**wrong[k].value, "tag": "wrong"})
    return [("exact output", element.check(records, good), 0),
            ("one wrong value", element.check(records, wrong), 1)]


def ann_case() -> list:
    emb = gen.embeddings(0, 400, 64)
    arr = gen.vector_arrivals(0, emb, 1, 30, 0.2, 1, 20, 0.3, 0.2)
    corpus = np.arange(0, 400, 2)
    vecs = {int(i): emb[i] for i in corpus}
    (ing_ids, ing_m), (q_ids, q_m) = arr.ingest[0], arr.queries[0]
    vecs.update(zip(ing_ids.tolist(), ing_m))
    vecs.update(zip(q_ids.tolist(), q_m))
    unit = ann._unit
    live = [int(i) for i in corpus]
    dec = []
    for i in ing_ids.tolist():
        cos = unit(np.stack([vecs[c] for c in live])) @ unit(vecs[i][None])[0]
        hits = [c for c, s in zip(live, cos) if s >= ann.NEAR_DUP_T]
        dec.append((i, min(hits) if hits else None))
    live += [i for i, d in dec if d is None]
    lv = np.stack([vecs[c] for c in live]).astype(np.float64)
    served = []
    for q in q_ids.tolist():
        qv = vecs[q].astype(np.float64)
        cos = (lv @ qv) / (np.sqrt((lv * lv).sum(1)) * np.sqrt(qv @ qv))
        for r, j in enumerate(np.argsort(-cos, kind="stable")[: ann.K]):
            served.append((q, live[j], float(cos[j]), r + 1))
    ingest = pd.DataFrame(dec, columns=["vec_id", "dup_of"])
    good = pd.DataFrame(served, columns=["query_id", "neighbor_id", "cos", "rank"])
    plan = [("ingest", ing_ids.tolist()), ("query", q_ids.tolist())]
    failed, attempted, recall = ann.check_round(vecs, corpus, plan, ingest, good)
    wrong = good.copy()
    wrong.loc[3, "cos"] += 1e-6
    # one novel vector claimed as a duplicate of its least similar corpus vector
    bad_dup = ingest.copy()
    k = bad_dup.index[bad_dup["dup_of"].isna()][0]
    v = unit(vecs[int(bad_dup.loc[k, "vec_id"])][None])[0]
    bad_dup.loc[k, "dup_of"] = min(corpus.tolist(), key=lambda c: float(unit(vecs[c][None])[0] @ v))

    def count(ing, srv):
        return ann.check_round(vecs, corpus, plan, ing, srv)[0]

    return [("exact top-k", failed, 0),
            ("recall of the exact top-k", round(recall / len(q_ids), 9), 1.0),
            ("one cos off by 1e-6", count(ingest, wrong), 1),
            ("one query without rows", count(ingest, good[good["query_id"] != q_ids[0]]), 1),
            ("one dup_of below the threshold", count(bad_dup, good), 1)]


def main() -> int:
    ok = True
    for workload, case in (("element_pipeline", element_case),
                           ("ann_live_serve", ann_case)):
        for what, got, want in case():
            good = got == want
            ok &= good
            print(f"{workload}: {what}: counted {got}, expected {want} "
                  f"{'ok' if good else 'FAIL'}")
    print("selftest: " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
