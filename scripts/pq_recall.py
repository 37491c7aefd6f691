"""Measure PQ / IVF-PQ recall@k vs the exact L2 baseline.

PQ approximates SQUARED L2 (the ADC sum), so the honest baseline is
exact L2 top-k — not the cosine baseline ivf_recall.py uses (IVF
re-ranks candidates by exact cosine, PQ ranks by the approximation
itself). Runs both the GATE's literal codebooks (make_planes seeds —
data-independent, the worst case) and data-TRAINED per-subspace
k-means codebooks, plus the IVF-PQ composition at nprobe=1..4.
Prints one JSON line; numbers land in BENCH.md.

Usage: python scripts/pq_recall.py [sf_dir] [k] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from stirling_pdf_spark.operators.ivf import train_centroids  # noqa: E402
from stirling_pdf_spark.operators.similarity import (  # noqa: E402
    ivfpq_topk, pq_topk, train_pq_codebooks)
from stirling_pdf_spark.plans import oracles as O  # noqa: E402
from stirling_pdf_spark.session import get_spark  # noqa: E402
from stirling_pdf_spark.sources.tables import read_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark("pq-recall")
    emb = read_table(spark, sf_dir, "embeddings").cache()

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    step = max(1, len(ids) // n_queries)
    query_ids = [int(i) for i in ids[::step][:n_queries]]

    # exact L2 top-k (driver-side numpy: measurement script, not an op)
    idx = {int(v): i for i, v in enumerate(ids)}
    exact = set()
    for qid in query_ids:
        d = ((x - x[idx[qid]]) ** 2).sum(axis=1)
        order = [int(ids[i]) for i in np.argsort(d, kind="stable")
                 if int(ids[i]) != qid][:k]
        exact |= {(qid, nb) for nb in order}

    def recall(df) -> float:
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return round(len(got & exact) / max(1, len(exact)), 4)

    trained = train_pq_codebooks(emb, m=O.PQ_M, k=O.PQ_K)
    cents = train_centroids(emb, k=8)
    out = {"sf_dir": sf_dir, "n_vectors": len(ids), "k": k,
           "n_queries": len(query_ids),
           "pq_literal": recall(pq_topk(emb, O.PQ_CODEBOOKS,
                                        query_ids, k=k)),
           "pq_trained": recall(pq_topk(emb, trained, query_ids, k=k)),
           "ivfpq_trained": {}}
    for nprobe in (1, 2, 3, 4):
        out["ivfpq_trained"][f"nprobe{nprobe}"] = recall(
            ivfpq_topk(emb, cents, trained, query_ids,
                       k=k, nprobe=nprobe))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
