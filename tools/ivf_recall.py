"""Measure IVF ANN recall@k vs brute force across the nprobe dial —
the accuracy/cost tradeoff IVF exists for — with and without Lloyd
centroid refinement (operators/similarity.ivf_centroids refine=N).

Method: the cell ASSIGNMENT (the recall-determining object) is
computed by the Spark operators (ivf_centroids + ivf_assign) and
collected once per refine level; per-query probed-cell sets and the
exact cosine top-k are then evaluated vectorized driver-side with the
same formula the Spark path uses (that equivalence is separately
pinned: ivf_topk at nprobe = n_cells ≡ cosine_topk, tests +
correctness gate). recall@k = |ivf ∩ brute| / k averaged over
N_QUERIES held-out queries; nprobe = n_cells is asserted ≡ 1.0.

Prints one JSON line — recorded in PLANS.md §IVF.

Usage: python tools/ivf_recall.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from effocr_spark.operators.similarity import (ivf_assign,  # noqa: E402
                                               ivf_centroids)
from effocr_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
K = 10
N_CELLS = 16
N_QUERIES = 24


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.maximum(np.linalg.norm(m, axis=-1, keepdims=True),
                          1e-12)


def main() -> None:
    spark = get_spark("ivf-recall", cpus=8, shuffle_partitions=8)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    vecs = _unit(np.array([r["embedding"] for r in rows], np.float64))
    n = len(ids)
    qidx = np.arange(min(N_QUERIES, n))

    results = {}
    for refine in (0, 1, 2):
        cents = {r["cell"]: np.array(r["centroid"], np.float64)
                 for r in ivf_centroids(emb, "embedding", "vec_id",
                                        N_CELLS, refine).collect()}
        cell_ids = sorted(cents)
        cmat = _unit(np.array([cents[c] for c in cell_ids]))
        assign = {r["vec_id"]: r["cell"]
                  for r in ivf_assign(emb, "embedding", "vec_id",
                                      N_CELLS, refine).collect()}
        acol = np.array([assign[i] for i in ids])

        per_probe: dict[int, float] = {}
        for nprobe in (1, 2, 4, 8, N_CELLS):
            hits = 0
            for qi in qidx:
                q = vecs[qi]
                pool = ids != ids[qi]
                sims = vecs @ q
                # brute top-k (score desc, id asc — same ordering as
                # cosine_topk's TakeOrderedAndProject)
                cand = np.flatnonzero(pool)
                order = cand[np.lexsort((ids[cand], -sims[cand]))][:K]
                brute = set(ids[order])
                # probed cells: query↔centroid score desc, cell asc
                cs = cmat @ q
                probe_order = np.lexsort((np.array(cell_ids), -cs))
                probed = {cell_ids[j] for j in probe_order[:nprobe]}
                mask = pool & np.isin(acol, list(probed))
                cand2 = np.flatnonzero(mask)
                order2 = cand2[np.lexsort((ids[cand2],
                                           -sims[cand2]))][:K]
                hits += len(brute & set(ids[order2]))
            per_probe[nprobe] = round(hits / (K * len(qidx)), 4)
        assert per_probe[N_CELLS] == 1.0, \
            f"nprobe=n_cells must be brute-force-exact: {per_probe}"
        results[f"refine{refine}"] = per_probe
    print(json.dumps({"metric": "ivf_recall_at_k", "k": K,
                      "n_cells": N_CELLS, "n_queries": int(len(qidx)),
                      "n_vectors": n, "sf_dir": SF_DIR,
                      "recall": results}))


if __name__ == "__main__":
    main()
