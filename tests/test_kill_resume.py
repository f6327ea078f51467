"""Tier 3 (SURVEY.md §5): kill-and-resume exactly-once.

Start the flagship pipeline in a subprocess, SIGKILL it mid-stream,
restart from the same checkpoint, and assert the final output set is
IDENTICAL to an uninterrupted run: zero lost and zero duplicated
(clip_id, window_start) keys, no double-committed batch ids.
"""

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO, TEST_ROOT, flush_sentinels

RUNNER = [sys.executable, "-m", "hydra_spark.runner"]


def _prepare_streams(spark, dataset, tag):
    aud = os.path.join(TEST_ROOT, f"audio_{tag}")
    trs = os.path.join(TEST_ROOT, f"trs_{tag}")
    for src, dst in [(dataset["audio"], aud), (dataset["transcripts"], trs)]:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
    flush_sentinels(spark, aud, trs)
    return aud, trs


def _current_version(out_root):
    try:
        with open(os.path.join(out_root, "output", "CURRENT")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def _run(aud, trs, out, wait=True):
    p = subprocess.Popen(
        RUNNER + ["--audio", aud, "--transcripts", trs, "--out", out,
                  "--files-per-trigger", "4", "--bounded"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
    )
    if wait:
        out_b, _ = p.communicate(timeout=420)
        assert p.returncode == 0, out_b.decode()[-2000:]
    return p


@pytest.mark.slow
def test_kill_and_resume_exactly_once(spark, dataset):
    aud, trs = _prepare_streams(spark, dataset, "kill")
    out_victim = os.path.join(TEST_ROOT, "out_victim")
    out_clean = os.path.join(TEST_ROOT, "out_clean")
    shutil.rmtree(out_victim, ignore_errors=True)
    shutil.rmtree(out_clean, ignore_errors=True)

    # victim: kill after >=2 real commits, mid-stream
    p = _run(aud, trs, out_victim, wait=False)
    deadline = time.time() + 300
    while time.time() < deadline:
        if p.poll() is not None:
            pytest.fail("victim finished before we could kill it — slow down trigger")
        if _current_version(out_victim) >= 2:
            break
        time.sleep(0.2)
    os.kill(p.pid, signal.SIGKILL)
    p.wait()
    v_at_kill = _current_version(out_victim)
    assert v_at_kill >= 2

    # resume from checkpoint to completion
    _run(aud, trs, out_victim, wait=True)

    # uninterrupted reference
    _run(aud, trs, out_clean, wait=True)

    cols = ["clip_id", "window_start", "codec", "n_samples", "transcript_norm"]
    real = lambda df: df.where(~F.col("clip_id").startswith("sentinel")).select(*cols)
    from hydra_spark.tables import TransactionalTable

    victim = TransactionalTable(os.path.join(out_victim, "output"), ["clip_id", "window_start"])
    clean = TransactionalTable(os.path.join(out_clean, "output"), ["clip_id", "window_start"])
    v_df, c_df = real(victim.read(spark)), real(clean.read(spark))

    n_v, n_c = v_df.count(), c_df.count()
    assert n_v == n_c, f"row count after resume {n_v} != clean {n_c}"
    assert v_df.select("clip_id", "window_start").distinct().count() == n_v  # no dups
    assert v_df.exceptAll(c_df).count() == 0  # no extras
    assert c_df.exceptAll(v_df).count() == 0  # no losses

    # a batch id committed before the kill must not be re-committed
    batches = victim.manifest()["committed_batches"]
    assert len(batches) == len(set(batches))
