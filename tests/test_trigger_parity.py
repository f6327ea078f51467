"""The flagship's output must not depend on trigger size.

The gen fixture replays arrival-ordered slices, as a per-partition
Kafka read delivers rows, with disorder inside declared bounds: a clip
at most 30 s late and a matching transcript at most 55 s late, under a
60 s watermark. Within those bounds every clip's outcome is the same
however the slices are grouped into micro-batches. Beyond them the
watermark drops rows, and the progress records count every drop.
"""

import dataclasses
import json
import os

import pytest

from tests.conftest import STREAM_WORKLOAD, TEST_ROOT, drain, gen, oracle, outcomes, write_streams

CLIP_LATE_BOUND_MS = 30_000  # gen's declared clip lateness


def _rows(frame) -> set:
    return set(frame.itertuples(index=False, name=None))


def _n_files(streams) -> int:
    with open(os.path.join(streams, "meta.json")) as f:
        return json.load(f)["n_files"]


def _dropped(progress) -> int:
    return sum(s.numRowsDroppedByWatermark for p in progress for s in p.stateOperators)


@pytest.mark.parametrize("files_per_trigger", [16, 3, 1])
def test_output_independent_of_trigger_size(spark, streams, truth, flagship_run, files_per_trigger):
    tables, progress = drain(
        spark, streams, os.path.join(TEST_ROOT, f"parity_{files_per_trigger}"), files_per_trigger
    )
    assert sum(p.numInputRows > 0 for p in progress) == -(-_n_files(streams) // files_per_trigger)
    out, quar = outcomes(spark, tables)
    verdict = oracle.compare(out, quar, truth)
    assert verdict["failed"] == 0, verdict["by_cause"]
    # the same rows as the default trigger size's run, clip for clip
    ref_out, ref_quar = outcomes(spark, flagship_run["tables"])
    assert _rows(out) == _rows(ref_out)
    assert _rows(quar) == _rows(ref_quar)


def test_beyond_bound_late_clips_dropped_and_counted(spark):
    w = dataclasses.replace(STREAM_WORKLOAD, clip_late_frac=0.05, clip_late_s=(90, 150))
    streams = write_streams("late_beyond_bound", w)
    truth = oracle.load_truth(streams)
    # a clip arrives in the slice holding its arrival time, so one whose
    # slice starts more than the bound after its event time is late
    # beyond the bound (ts<=0 clips keep their arrival slot, not their time)
    slice_start_ms = truth["slice_a"] * int(w.slice_event_s * 1000) + gen.EPOCH_MS
    late = set(
        truth["clip_id"][
            (truth["kind"] != "ts_reject")
            & (slice_start_ms > truth["event_time_ms"] + CLIP_LATE_BOUND_MS)
        ]
    )
    assert late

    def run(files_per_trigger):
        out_root = os.path.join(TEST_ROOT, f"disorder_{files_per_trigger}")
        tables, progress = drain(spark, streams, out_root, files_per_trigger)
        out, quar = outcomes(spark, tables)
        return out, quar, oracle.compare(out, quar, truth), _dropped(progress)

    # every slice in one trigger: nothing is behind the watermark yet
    *_, verdict, _ = run(_n_files(streams))
    assert verdict["failed"] == 0, verdict["by_cause"]

    out, quar, verdict, dropped = run(1)
    assert dropped > 0
    assert set(verdict["by_cause"]) == {"missing"}, verdict["by_cause"]
    accepted = truth["kind"] == "ok"
    missing = (set(truth["clip_id"][accepted]) - set(out["clip_id"])) | (
        set(truth["clip_id"][~accepted]) - set(quar["clip_id"])
    )
    assert len(missing) == verdict["failed"]
    assert missing <= late
    assert len(missing) <= dropped
