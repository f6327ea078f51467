import os
import sys
from pathlib import Path

import pytest

# the tree this file lives in: its engine is the one under test
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from hydra_spark.session import get_spark  # noqa: E402
from hydra_spark import synth  # noqa: E402

TEST_ROOT = str(REPO / ".data" / "tests")
N = 2000


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=8, app_name="hydra_tests", driver_memory="16g")
    yield s


@pytest.fixture(scope="session")
def dataset(spark):
    """Deterministic clips dataset (cached across runs)."""
    return synth.ensure_dataset(spark, TEST_ROOT, n=N)


@pytest.fixture(scope="session")
def clips(spark, dataset):
    return spark.read.parquet(dataset["clips"])


def flush_sentinels(spark, audio_dir, transcripts_dir, base_ts="2025-01-02 00:00:00", rounds=2):
    """Delegates to hydra_spark.synth.append_watermark_sentinels (moved
    into the package so registry rows can flush too)."""
    from hydra_spark.synth import append_watermark_sentinels

    append_watermark_sentinels(spark, audio_dir, transcripts_dir, base_ts=base_ts, rounds=rounds)
