#!/usr/bin/env python
"""At-size evidence for the round-7 operators (BENCH/newops_at_size.json).

1. semantic_dedup at 640k vectors on the clustered corpus (the realistic
   embedding-table shape, same fixture as ivf_at_size): measures the
   operator wall and the pairwise-work fraction sum(|cell|^2)/n^2
   actually scanned (the n^1.5 claim, measured).
2. cross_doc_spans at SF=32 (1.6M driver-shaped docs, ~86M positional
   grams): wall time + docs/s for the full linear pipeline (digest
   shuffle -> document frequency -> flag-back join -> window union).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RANDOM_DIR = "/tmp/robokop_driver/sf32.0"


def semdedup_at_size(spark, sf_dir: str, threshold: float) -> dict:
    import numpy as np
    import pyarrow.dataset as ds

    from robokop_build_spark.operators import similarity as S

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()

    # bounded-sample training, same rule as the driver query
    tbl = ds.dataset(os.path.join(sf_dir, "embeddings.parquet")).head(
        65_536, columns=["vec_id", "embedding"]
    )
    col = tbl.column("embedding").combine_chunks()
    X = col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), -1)
    X = X[np.argsort(tbl.column("vec_id").to_numpy())]
    t0 = time.time()
    cents = S.ivf_train_centroids(X, S.auto_nlist(n))
    train_s = round(time.time() - t0, 2)

    # measured pairwise-work fraction: sum(|cell|^2) / n^2
    pops = (
        S.ivf_assign(emb, cents).groupBy("cid").count().collect()
    )
    pair_work = sum(r["count"] ** 2 for r in pops)
    work_fraction = pair_work / (n * n)

    t0 = time.time()
    n_drops = S.semantic_dedup(emb, cents, threshold=threshold).count()
    wall_s = round(time.time() - t0, 2)

    return {
        "op": "semantic_dedup",
        "corpus": sf_dir,
        "n_vecs": n,
        "nlist": len(cents),
        "threshold": threshold,
        "train_s": train_s,
        "pairwise_work_fraction": round(work_fraction, 6),
        "pairs_scored": pair_work,
        "pairs_allpairs": n * n,
        "wall_s": wall_s,
        "n_dropped": n_drops,
    }


def spans_at_size(spark, sf_dir: str) -> dict:
    from robokop_build_spark.operators.dedup import cross_doc_spans

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = docs.count()
    t0 = time.time()
    out = cross_doc_spans(docs, "doc_id", "text", n=8, min_df=2)
    agg = out.selectExpr(
        "count(*) AS docs",
        "sum(CASE WHEN dup_tokens > 0 THEN 1 ELSE 0 END) AS docs_with_dup",
        "sum(n_tokens) AS tokens",
        "sum(dup_tokens) AS dup_tokens",
    ).collect()[0]
    sec = round(time.time() - t0, 2)
    return {
        "op": "cross_doc_spans",
        "corpus": sf_dir,
        "n_docs": n,
        "wall_s": sec,
        "docs_per_sec": round(n / sec, 1),
        "tokens": agg["tokens"],
        "docs_with_dup": agg["docs_with_dup"],
        "dup_tokens": agg["dup_tokens"],
    }


def main() -> None:
    from robokop_build_spark.datagen.driver_tables import ensure_driver_tables_spark
    from robokop_build_spark.session import get_spark

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from ivf_at_size import ensure_clustered

    spark = get_spark(app_name="newops-at-size")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_driver_tables_spark(spark, RANDOM_DIR, 32.0)
    results = [
        semdedup_at_size(spark, ensure_clustered(), threshold=0.9),
        spans_at_size(spark, RANDOM_DIR),
    ]
    out = {"results": results, "ts": time.time()}
    with open(os.path.join(REPO, "BENCH", "newops_at_size.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
