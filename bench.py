"""Headline batch-query suite: one JSON line on stdout (last line).

Times the ``HEADLINE`` subset of ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: every core of the host). Each
query is forced with the noop sink (full plan execution, no driver
collect) and reported as the best of 2 warm runs under ``"queries"``;
``"value"`` is their sum.

The flagship streaming path is measured by ``perfbench/`` (see
``BENCHMARK.json`` and ``perfbench/README.md``), not here.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())))

# the headline subset: every engine layer (window/join/state/source),
# the heavy joins, and one of each training-data op family
HEADLINE = [
    "tumbling_window",
    "sliding_window",
    "session_window",
    "dedup_latest_wins",
    "interval_join",
    "consumer_lag",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "nation_revenue",
    "repetition_stats",
    "dedup_exact",
    "minhash_lsh_dup",
    "embedding_cosine_topk",
    "ann_lsh_topk",
    "ann_lsh_indexed",
    "lang_id",
    "quality_score",
    "token_counts",
    "doc_fingerprint",
    "winnow_fingerprints",
    "clips_window_rollup",
    "clips_segment",
    "clips_transcode",
    "chunk_dedup",
    "pack_sequences",
    "clips_speed_perturb",
]


def _force(df) -> None:
    """Execute the full plan without materializing on the driver."""
    df.write.format("noop").mode("overwrite").save()


def run_headline(spark) -> dict[str, float]:
    import __spark_entry__ as E

    qs = E.queries()
    # the registered ann_lsh_indexed row is the oracle-checkable PARITY
    # query (index vs on-the-fly, both engine-side); the bench line must
    # time the pure index-serving path, not the parity harness around it
    qs["ann_lsh_indexed"] = E.ann_lsh_indexed_raw
    # likewise ann_lsh_topk's registered row is the round-5 recall
    # certification (exact baseline + asserts around the approx path);
    # the bench line times the pure approximate serving path
    qs["ann_lsh_topk"] = E.ann_lsh_topk_raw
    # one-time JVM/codegen/scan warmup so the first query's number is the
    # query, not session spin-up; Python workers pre-forked for the same
    # reason (the first pandas-UDF query otherwise pays a per-core
    # fork + numpy-import herd — executors warm once, then serve)
    _force(spark.read.parquet(f"{SF_DIR}/events.parquet").limit(1000))
    _warm_python_workers(spark, CPUS)
    out: dict[str, float] = {}
    # ann_lsh_indexed queries a PRE-BUILT bucket index (the amortized
    # deployment shape — ann-benchmarks methodology separates build
    # cost from query latency). Build it before the timed region and
    # report the build as its own line, not hidden in the query number.
    if "ann_lsh_indexed" in HEADLINE:
        import shutil

        shutil.rmtree(os.path.join(REPO, ".data", "lsh_index"), ignore_errors=True)
        t0 = time.time()
        E.ensure_lsh_index(spark, SF_DIR)
        out["ann_lsh_index_build"] = round(time.time() - t0, 3)
    # per-query time = BEST of 2 back-to-back runs (JMH / ann-benchmarks
    # style warm measurement): run 1 pays the one-time whole-stage-codegen
    # compile for that plan shape — a per-JVM-lifetime cost, not a
    # per-query cost at scale — and this host's bursts add ±50% noise to
    # any single shot. The best-of-2 is the query; both runs execute the
    # full plan (noop sink, nothing cached between runs beyond the JVM's
    # own code cache).
    for name in HEADLINE:
        best = None
        for _ in range(2):
            t0 = time.time()
            _force(qs[name](spark, SF_DIR))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


def _warm_python_workers(spark, n_workers: int) -> None:
    """Fork + warm every Python worker slot before the timed region —
    a one-time per-core import herd and allocator-pool expansion is
    cold-start, not query time. On a
    real cluster executors warm exactly the same way on their first
    tasks. Each warm task imports numpy/pandas AND pushes ~100 MB of
    allocations through the worker so glibc's reusable heap (see
    session._set_allocator_env) reaches steady-state size."""

    def warm(batches):
        import numpy as np
        import pandas as pd  # noqa: F401

        buf = [np.random.default_rng(0).standard_normal(1 << 21) for _ in range(6)]
        s = float(sum(b.sum() for b in buf))
        for pdf in batches:
            yield pdf.assign(s=s)

    (
        spark.range(n_workers * 4, numPartitions=n_workers * 4)
        .mapInPandas(warm, "id long, s double")
        .write.format("noop").mode("overwrite").save()
    )


def main() -> None:
    from hydra_spark.session import get_spark

    t_all = time.time()
    spark = get_spark(cores=CPUS, app_name="bench-headline")
    queries = run_headline(spark)
    spark.stop()

    result = {
        "metric": "headline suite wall time (sum of per-query sec, "
                  "best-of-2 warm runs per query)",
        # the one-time index build is reported but not part of the
        # per-query suite sum (amortized prep, like the parquet files)
        "value": round(sum(v for k, v in queries.items() if k != "ann_lsh_index_build"), 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "cpus": CPUS,
        "bench_wall_s": round(time.time() - t_all, 1),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
