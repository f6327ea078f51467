import dataclasses
import os
import shutil
import sys
from pathlib import Path

import pytest

# the tree this file lives in: its engine is the one under test
REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from hydra_spark.session import get_spark  # noqa: E402
from hydra_spark import pipeline, synth  # noqa: E402
from hydra_spark.sources.replay import FILES_PER_TRIGGER  # noqa: E402
from perfbench import gen, oracle  # noqa: E402

TEST_ROOT = str(REPO / ".data" / "tests")
N = 2000

# The flagship's stream fixture: perfbench's arrival-ordered slices of
# the disorderly, dirty workload at a lower event-time density, so 2,000
# clips span ~400 s in 16 slice files per stream (sentinel slice
# included) with 8 ts<=0, 2 oversize and 20 undecodable clips.
STREAM_WORKLOAD = dataclasses.replace(
    gen.WORKLOADS["late_dirty"], clips_per_event_s=5, slice_event_s=30.0
)
STREAM_SEED = 1


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, shuffle_partitions=8, app_name="hydra_tests", driver_memory="16g")
    yield s


@pytest.fixture(scope="session")
def clips(spark):
    """Deterministic clips table of the registry (cached across runs)."""
    return spark.read.parquet(synth.ensure_clips(spark, TEST_ROOT, n=N))


def write_streams(name: str, w: gen.Workload = STREAM_WORKLOAD) -> str:
    """A fresh gen dataset (audio/ and transcripts/ slices, truth.parquet,
    meta.json) under TEST_ROOT/streams/<name>. Written anew each session:
    it takes well under a second, and gen's own cache keys on the
    workload's name, which a variant keeps."""
    path = os.path.join(TEST_ROOT, "streams", name)
    shutil.rmtree(path, ignore_errors=True)
    gen.write_dataset(w, STREAM_SEED, N, path)
    return path


@pytest.fixture(scope="session")
def streams():
    return write_streams("late_dirty")


@pytest.fixture(scope="session")
def truth(streams):
    t = oracle.load_truth(streams)
    # the fixture must keep exercising every quarantine path
    assert set(t["kind"]) == {"ok", "ts_reject", "oversize", "undecodable"}
    return t


def drain(spark, streams, out_root, files_per_trigger=FILES_PER_TRIGGER):
    """Run the flagship and the admission-reject side stream, as the
    runner does, over a gen dataset to its end on a fresh out_root.
    Returns (tables, the flagship's progress records)."""
    shutil.rmtree(out_root, ignore_errors=True)
    aud, trs = os.path.join(streams, "audio"), os.path.join(streams, "transcripts")
    q, _sink, tables = pipeline.start_flagship(spark, aud, trs, out_root, files_per_trigger)
    qq, _ = pipeline.start_quarantine_stream(spark, aud, out_root, files_per_trigger)
    q.processAllAvailable()
    qq.processAllAvailable()
    progress = q.recentProgress
    q.stop()
    qq.stop()
    return tables, progress


def outcomes(spark, tables):
    """(output rows, quarantine rows) of a run as pandas frames, the
    shapes oracle.compare takes."""
    out = tables["output"].read(spark).select(*oracle.OUTPUT_COLS).toPandas()
    return out, oracle.quarantine_frame(spark, tables)


@pytest.fixture(scope="session")
def flagship_run(spark, streams):
    """One drain of the fixture at the default trigger size."""
    tables, progress = drain(spark, streams, os.path.join(TEST_ROOT, "flagship_out"))
    return {"tables": tables, "progress": progress}
