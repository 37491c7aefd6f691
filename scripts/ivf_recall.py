"""Measure IVF ANN recall@k vs the exact cosine baseline.

Runs the DATA-TRAINED quantizer (operators/ivf.train_centroids) over
the sf embeddings table, probes at nprobe = 1..4, and reports
recall@k = |IVF top-k ∩ exact top-k| / k averaged over a query
sample. Prints one JSON line; the numbers land in BENCH.md so the
ANN family's accuracy/cost dial is documented, not just gated.

Usage: python scripts/ivf_recall.py [sf_dir] [k] [n_queries]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stirling_pdf_spark.operators.ivf import ivf_topk, train_centroids  # noqa: E402
from stirling_pdf_spark.operators.similarity import cosine_topk  # noqa: E402
from stirling_pdf_spark.session import get_spark  # noqa: E402
from stirling_pdf_spark.sources.tables import read_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_queries = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark("ivf-recall")
    emb = read_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    # deterministic query sample: every (n // n_queries)-th id
    ids = [r[0] for r in emb.select("vec_id")
           .orderBy("vec_id").collect()]
    step = max(1, len(ids) // n_queries)
    query_ids = ids[::step][:n_queries]

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, query_ids, k=k).collect()
    }
    centroids = train_centroids(emb, k=8)
    out = {"sf_dir": sf_dir, "n_vectors": n, "k": k,
           "n_queries": len(query_ids), "recall": {}}
    for nprobe in (1, 2, 3, 4):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, centroids, query_ids,
                              k=k, nprobe=nprobe).collect()
        }
        out["recall"][f"nprobe{nprobe}"] = round(
            len(got & exact) / max(1, len(exact)), 4)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
