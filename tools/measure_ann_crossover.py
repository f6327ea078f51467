"""Measure the on-the-fly vs materialized-index LSH crossover.

ann_lsh_topk re-signs the whole corpus per query batch (one pass, no
index); ann_lsh_indexed reads only the probe partitions of a pre-built
bucket index, at the cost of opening ~256 small partition dirs. At
small corpora the full pass is cheaper than the file-open overhead; at
large corpora the index wins by reading bands/2^width of the corpus.
This script synthesizes seeded-gaussian corpora at several sizes and
times both paths (best-of-2 warm, noop sink), printing one line each.

Usage: python tools/measure_ann_crossover.py [n ...]   (default sizes)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

ROOT = os.path.join(REPO, ".data", "crossover")
DIM = 64


def synth_embeddings(spark, n: int):
    path = os.path.join(ROOT, f"emb_n{n}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        @F.pandas_udf("array<float>")
        def vec(ids: pd.Series) -> pd.Series:
            out = []
            for i in ids:
                rng = np.random.default_rng(int(i) + 7)
                out.append(rng.standard_normal(DIM).astype(np.float32))
            return pd.Series(out)

        (
            spark.range(n).select(
                F.col("id").alias("vec_id"), vec("id").alias("embedding")
            )
            .repartition(max(1, n // 50_000))
            .write.mode("overwrite").parquet(path)
        )
    return spark.read.parquet(path)


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def best_of(k, fn):
    best = None
    for _ in range(k):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main():
    from hydra_spark.session import get_spark
    from hydra_spark.ops import similarity as S

    sizes = [int(a) for a in sys.argv[1:]] or [2_000, 50_000, 500_000]
    spark = get_spark(cores=8)
    qids = list(range(25))
    for n in sizes:
        emb = synth_embeddings(spark, n)
        idx_path = os.path.join(ROOT, f"lsh_idx_n{n}")
        if os.path.exists(os.path.join(idx_path, "_SUCCESS")):
            build_s = "cached"  # don't report a bogus ~0s build time
        else:
            t0 = time.time()
            S.lsh_index_write(emb, idx_path)
            build_s = round(time.time() - t0, 3)
        fly = best_of(2, lambda: _force(S.lsh_topk(emb, qids, k=3)))
        served = best_of(
            2, lambda: _force(S.lsh_index_topk(spark, idx_path, emb, qids, k=3))
        )
        print(
            f"n={n} fly={fly}s indexed={served}s build={build_s}s "
            f"speedup={round(fly / served, 2)}x"
        )


if __name__ == "__main__":
    main()
