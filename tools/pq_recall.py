"""Measured PQ recall evidence (the pq_topk companion of
tools/ivf_recall.py): recall@10 of ADC ranking vs exact L2 over the
sf0.01 embeddings fixture, across (m, k) codebook sizes. Prints ONE
JSON line.

Usage: python tools/pq_recall.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from effocr_spark.operators.similarity import pq_topk, pq_train  # noqa: E402
from effocr_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
N_QUERIES = 24
K = 10


def main() -> None:
    spark = get_spark("pq-recall", cpus=8, shuffle_partitions=8)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    x = np.array([r[1] for r in rows], np.float64)
    qids = sorted(ids)[:N_QUERIES]
    out: dict = {"metric": "pq_recall_at_k", "k": K,
                 "n_queries": N_QUERIES, "n_vectors": len(ids),
                 "sf_dir": SF_DIR, "recall": {}}
    for m, kk in ((4, 16), (8, 32), (8, 64)):
        books = pq_train(emb, "embedding", m=m, k=kk, sample=500)
        hits = 0
        for qid in qids:
            q = x[ids.tolist().index(qid)]
            d = ((x - q) ** 2).sum(1)
            exact = set(ids[np.argsort(d)[:K]].tolist())
            approx = {r["vec_id"] for r in
                      pq_topk(emb, "embedding", "vec_id", books, q,
                              topk=K).collect()}
            hits += len(exact & approx)
        out["recall"][f"m{m}_k{kk}"] = round(hits / (K * N_QUERIES), 4)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
