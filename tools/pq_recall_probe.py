"""Measure PQ recall@5: learned codebooks (``ann_pq_trained``) vs
deterministic seeds (``ann_pq_adc_rerank``) on a CLUSTERABLE fixture.

The committed fixture's uniform-random vectors are PQ's adversarial
case (pairwise distances concentrate; quantization error swamps
neighbor gaps) — the honest ~0.68 recall documented in pq_search.
Production embeddings cluster, and k-means codebooks move codewords
to the density. This probe synthesizes the clusterable case the same
way the SemDeDup scale probes do (center + small deterministic
perturbation), runs BOTH query paths unchanged on it, and reports
recall@5 = mean(n_hits_exact) / TOP_K.

Usage: python tools/pq_recall_probe.py [--n 2000] [--centers 50]
Writes nothing to the repo — results are pasted into PLANS.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_fixture(out_dir: str, n: int, centers: int, dim: int = 64,
                  noise: float = 0.08) -> None:
    rng = np.random.default_rng(42)
    cents = rng.normal(size=(centers, dim)).astype(np.float32)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    assign = rng.integers(0, centers, size=n)
    vecs = cents[assign] + noise * rng.normal(size=(n, dim)).astype(
        np.float32
    )
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(
                [v.astype(np.float32).tolist() for v in vecs],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(assign.astype("int32")),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "embeddings.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2000)
    ap.add_argument("--centers", type=int, default=50)
    ap.add_argument("--noise", type=float, default=0.08)
    ap.add_argument("--sf-dir", default=None,
                    help="run on an existing fixture dir instead of synthesizing")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from etl_xlsx_potgres_spark import caching
    from etl_xlsx_potgres_spark.operators.ann import (
        TOP_K,
        adc_rerank,
        seed_codebook,
        subvectors,
        train_codebook,
    )
    from etl_xlsx_potgres_spark.sources import load_table

    if args.sf_dir:
        work = args.sf_dir
    else:
        work = tempfile.mkdtemp(prefix="pq_recall_")
        build_fixture(work, args.n, args.centers, noise=args.noise)
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("pq-recall-probe")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        emb = load_table(spark, work, "embeddings").filter(
            F.col("embedding").isNotNull()
        )
        results = {}
        for k in (8, 64):
            subs = subvectors(emb)
            for name, cb in (
                (f"seed_k{k}", seed_codebook(subs, k=k)),
                (f"trained_k{k}", train_codebook(subs, k=k)),
            ):
                rows = adc_rerank(emb, subs, cb).collect()
                hits = {r["qid"]: r["n_hits_exact"] for r in rows}
                recall = sum(hits.values()) / (len(hits) * TOP_K)
                results[name] = (recall, dict(sorted(hits.items())))
                caching.release_persisted()
                spark.catalog.clearCache()
        src = args.sf_dir or (
            f"synthetic n={args.n} centers={args.centers} noise={args.noise}"
        )
        print(f"fixture: {src}  top_k={TOP_K}")
        for name, (recall, hits) in results.items():
            print(
                f"{name:12s} recall@{TOP_K} = {recall:.3f}  per-query {hits}"
            )
    finally:
        spark.stop()
        if not args.sf_dir:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
