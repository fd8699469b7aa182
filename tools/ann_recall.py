#!/usr/bin/env python
"""ANN recall telemetry: recall@k of the bucketed/probed production
similarity paths against the exact brute-force cosine top-k, on the
real embeddings table.

The correctness battery proves each ANN path equals ITS OWN definition
(oracle parity); this sidecar records the accuracy-cost TRADEOFF those
definitions imply — recall@5 for SRP sign-buckets at 4/8 bits and for
IVF (k=8 trained codebook) at n_probe 1/2 — so the docstring claim
"recall tuned by n_probe/bits" is a measured number in SCALING.md, not
prose. Prints one JSON line.

``--clustered`` re-measures on a CLUSTERED variant of the table — 10%
of vectors (vec_id % 10 == 0) replaced by deterministic jitter around
one anchor vector — because bucket collisions under clustered data is
exactly the 100 TB ANN failure mode: a hot semantic cluster lands in
one SRP bucket / one IVF cell, so candidate generation is fine
(everything relevant IS in the probed cell) but the per-bucket
candidate list explodes. The recall numbers quantify what survives.

Usage:
    python tools/ann_recall.py [--sf-dir /root/testdata/sf0.1]
        [--n-queries 64] [--k 5] [--clustered]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--n-queries", type=int, default=64)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--clustered", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.datapipe.clustering import (
        kmeans_fit_assign,
    )
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        ann_bucket_topk,
        cosine_topk,
        ivf_topk,
    )
    from python_etl_mailing_automation_spark.detach import cache_once
    from python_etl_mailing_automation_spark.session import build_spark

    spark = build_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    emb = spark.read.parquet(os.path.join(args.sf_dir, "embeddings.parquet"))
    if args.clustered:
        # plant a hot cluster: every 10th vector becomes the anchor
        # (vec_id 1's embedding) plus small deterministic per-element
        # jitter — tight in cosine space, so all hot vectors hash to
        # the same SRP bucket / IVF cell. cache_once: the jittered table
        # feeds truth + 4 ANN paths for the rest of the run.
        anchor = emb.filter(F.col("vec_id") == 1).head().embedding
        dim = len(anchor)
        jittered = F.array(
            *[
                F.lit(float(anchor[j]))
                + F.lit(0.02)
                * (
                    F.pmod(F.xxhash64(F.col("vec_id"), F.lit(j)), F.lit(100))
                    .cast("double")
                    / F.lit(100.0)
                )
                for j in range(dim)
            ]
        )
        emb = cache_once(
            emb.select(
                "vec_id",
                F.when(F.col("vec_id") % 10 == 0, jittered)
                .otherwise(F.col("embedding"))
                .alias("embedding"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
            )
        )
    sample = emb.filter(F.col("vec_id") < args.n_queries)

    def neighbor_sets(df) -> dict:
        out: dict = {}
        for r in df.collect():
            out.setdefault(r.vec_id, set()).add(r.neighbor_id)
        return out

    t0 = time.time()
    truth = neighbor_sets(cosine_topk(sample, emb, k=args.k))
    brute_s = time.time() - t0

    def recall(approx: dict) -> float:
        num = sum(len(approx.get(v, set()) & t) for v, t in truth.items())
        den = sum(len(t) for t in truth.values())
        return round(num / den, 4) if den else 1.0

    results: dict = {
        "sf_dir": args.sf_dir,
        "data": "clustered_10pct" if args.clustered else "uniform",
        "n_queries": len(truth),
        "k": args.k,
        "brute_sec": round(brute_s, 2),
        "methods": {},
    }

    for bits in (4, 8):
        t0 = time.time()
        approx = neighbor_sets(
            ann_bucket_topk(emb, bits=bits, k=args.k).filter(
                F.col("vec_id") < args.n_queries
            )
        )
        results["methods"][f"srp_{bits}bit"] = {
            "recall": recall(approx),
            "sec": round(time.time() - t0, 2),
        }

    _, cents = kmeans_fit_assign(emb, k=8, n_iter=2)
    centroids = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "centroid_id int, embedding array<double>",
    )
    for n_probe in (1, 2):
        t0 = time.time()
        approx = neighbor_sets(
            ivf_topk(sample, emb, centroids, n_probe=n_probe, k=args.k)
        )
        results["methods"][f"ivf_probe{n_probe}"] = {
            "recall": recall(approx),
            "sec": round(time.time() - t0, 2),
        }

    # int8 scalar quantization: same brute pairing as the truth, so the
    # recall isolates PRECISION loss (not candidate-generation loss).
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        quantized_topk,
    )

    t0 = time.time()
    approx = neighbor_sets(quantized_topk(sample, emb, k=args.k))
    results["methods"]["int8_quantized"] = {
        "recall": recall(approx),
        "sec": round(time.time() - t0, 2),
    }

    # Product quantization (ADC): like int8, the recall isolates the
    # quantizer's PRECISION loss — the pairing is brute; production
    # feeds it IVF/SRP candidates.
    from python_etl_mailing_automation_spark.datapipe.similarity import (
        pq_topk,
        pq_train,
    )

    t0 = time.time()
    cbs = pq_train(emb, m=8, k=16, n_iter=2)
    train_s = time.time() - t0
    t0 = time.time()
    approx = neighbor_sets(pq_topk(sample, emb, cbs, k=args.k))
    results["methods"]["pq_m8_k16"] = {
        "recall": recall(approx),
        "sec": round(time.time() - t0, 2),
        "train_sec": round(train_s, 2),
    }

    print(json.dumps(results))


if __name__ == "__main__":
    main()
