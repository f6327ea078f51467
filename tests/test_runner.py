"""Runner: restart loop semantics (R5), listener metrics (A5/K8), and
the spark-submit --py-files submission mode the north rule requires.

Reference semantics under test: RetryableFs2Stream reruns the stream on
error AND on unexpected completion (ingestors/kafka/src/main/scala/
hydra/kafka/algebras/RetryableFs2Stream.scala:45-85); restart recovery
resumes from the checkpoint without loss or duplication (Transport.scala
AtLeastOnceDelivery + our idempotent sink).
"""

import glob
import json
import os
import subprocess

import pyarrow.parquet as pq
import pytest

from hydra_spark.runner import ProgressListener, run_with_restarts
from tests.conftest import REPO


class FakeQuery:
    def __init__(self):
        self.stopped = False

    def processAllAvailable(self):
        pass

    def stop(self):
        self.stopped = True


def test_restart_loop_retries_on_error(monkeypatch):
    import hydra_spark.runner as R

    monkeypatch.setattr(R.time, "sleep", lambda s: None)
    calls = {"n": 0}

    def start_fn():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return FakeQuery(), None, {"output": "tables"}

    notes = []
    tables, restarts = run_with_restarts(start_fn, bounded=True, notify=notes.append)
    assert tables == {"output": "tables"}
    assert restarts == 2
    assert all("restarting" in n for n in notes)


def test_restart_loop_max_restarts(monkeypatch):
    import hydra_spark.runner as R

    monkeypatch.setattr(R.time, "sleep", lambda s: None)

    def start_fn():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="max_restarts"):
        run_with_restarts(start_fn, max_restarts=2, bounded=True, notify=lambda m: None)


def test_progress_listener_writes_jsonl(tmp_path):
    path = str(tmp_path / "m" / "_progress.jsonl")
    lis = ProgressListener(path)
    lis._emit({"event": "progress", "batch_id": 7})
    lis._emit({"event": "terminated"})
    lines = [json.loads(l) for l in open(path)]
    assert lines[0]["batch_id"] == 7
    assert lines[1]["event"] == "terminated"


def test_spark_submit_py_files(streams, tmp_path):
    """End-to-end through `spark-submit --py-files` — the packaged-engine
    submission mode (north rule). Bounded replay of the n=2000 gen
    fixture, exactly-once output must match the direct-API row semantics."""
    out = str(tmp_path / "submit_out")
    r = subprocess.run(
        [
            "bash", "tools/submit.sh", "local[4]",
            os.path.join(streams, "audio"), os.path.join(streams, "transcripts"), out, "--bounded",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert result["restarts"] == 0
    assert result["rows_out"] > 0
    # listener metrics feed written
    progress = [json.loads(l) for l in open(os.path.join(out, "_progress.jsonl"))]
    batches = [p for p in progress if p["event"] == "progress"]
    assert any(p["num_input_rows"] > 0 for p in batches)
    # the join's state churn reaches the feed (its row total is untracked)
    assert sum(p["state_rows_updated"] for p in batches) > 0
    # per-partition lineage rows written by the same commits
    assert os.path.isdir(os.path.join(out, "_lineage"))
    # the engine settings of session.get_spark reach the submit path:
    # changelog state checkpoints and zstd output files
    state = glob.glob(os.path.join(out, "_checkpoint", "state", "**", "*.changelog"), recursive=True)
    assert state, "join state holds no changelog checkpoints"
    # the file:// override keeps both checksum layers: Hadoop's
    # .N.changelog.crc sidecar and Spark's N.changelog.crc checksum file
    for f in state:
        d, name = os.path.split(f)
        assert os.path.isfile(os.path.join(d, f".{name}.crc")), f
        assert os.path.isfile(f + ".crc"), f
    files = glob.glob(os.path.join(out, "output", "data", "**", "*.parquet"), recursive=True)
    codecs = {
        meta.row_group(g).column(c).compression
        for meta in (pq.ParquetFile(f).metadata for f in files)
        for g in range(meta.num_row_groups)
        for c in range(meta.num_columns)
    }
    assert codecs == {"ZSTD"}, codecs


def test_progress_listener_batch_timeout_flag(tmp_path):
    """R3 ingest-timeout analog: slow batches are flagged, never fatal."""

    class P:  # minimal progress stub
        batchId = 1
        numInputRows = 10
        inputRowsPerSecond = 1.0
        processedRowsPerSecond = 1.0
        batchDuration = 750
        eventTime = {}
        stateOperators = []

    class E:
        progress = P()

    lis = ProgressListener(str(tmp_path / "p" / "_progress.jsonl"), batch_timeout_ms=500)
    lis.onQueryProgress(E())
    line = json.loads(open(lis.path).read().splitlines()[0])
    assert line["timed_out"] is True
    assert lis.timeouts == 1
