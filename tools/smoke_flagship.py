"""One-command flagship smoke (the verify-skill recipe): synthesize the
cached 2k-clip dataset, run the streaming pipeline end-to-end on a fresh
checkpoint, assert output row count / key uniqueness / lineage+metrics.

    timeout 570 python tools/smoke_flagship.py
"""

import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hydra_spark.session import get_spark  # noqa: E402
from hydra_spark import synth, pipeline  # noqa: E402


def main() -> None:
    spark = get_spark()
    root = os.path.join(REPO, ".data", "smoke")
    paths = synth.ensure_dataset(spark, root, n=2000)
    out_root = os.path.join(root, "out")
    shutil.rmtree(out_root, ignore_errors=True)
    q, sink, t = pipeline.start_flagship(
        spark, paths["audio"], paths["transcripts"], out_root, files_per_trigger=16
    )
    q.processAllAvailable()
    q.stop()
    n = t["output"].read(spark).count()
    d = t["output"].read(spark).select("clip_id", "window_start").distinct().count()
    lin = t["lineage"].read(spark).count()
    met = t["metrics"].read(spark).count()
    assert n == d, (n, d)
    assert n == 1961, n  # pinned for the deterministic n=2000 dataset
    assert lin > 0 and met > 0, (lin, met)
    print(f"SMOKE OK rows={n} lineage={lin} metrics={met}")


if __name__ == "__main__":
    main()
