"""Admission rejects must reach the quarantine table even when their
event time is behind the watermark.

A row rejected for InvalidLogicalType (ts<=0) has a garbage event time;
the flagship's watermarked join would drop it as late data — so rejects
are split off the main stream pre-join and delivered by the stateless
side stream (pipeline.start_quarantine_stream). Decode errors (valid
event time) keep flowing through the main pipeline and land in
quarantine via the sink's split (executor-side write). The gen fixture
holds ts<=0, oversize and undecodable clips (the ``truth`` fixture
asserts it).
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import TEST_ROOT, drain, oracle, outcomes


def test_rejects_reach_quarantine_despite_watermark(spark, flagship_run, truth):
    out, quar = outcomes(spark, flagship_run["tables"])
    reasons = dict(zip(quar["clip_id"], quar["reject_reason"]))
    # ts-invalid rows captured even though the join would have dropped
    # them, oversize rows by the side stream, decode errors by the
    # flagship sink's split
    for kind, reason in oracle.REASON.items():
        for cid in truth["clip_id"][truth["kind"] == kind]:
            assert reasons[cid].startswith(reason), (cid, reasons.get(cid))
    assert not set(out["clip_id"]) & set(truth["clip_id"][truth["kind"] != "ok"])


def test_whole_batch_quarantined_executor_side(spark, streams, truth):
    """A bad codec can reject an entire batch — the quarantine write
    must stay executor-side (never a driver collect) and the run must
    stay exactly-once under that load."""
    root = os.path.join(TEST_ROOT, "quar_big")
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(os.path.join(streams, "transcripts"), os.path.join(root, "transcripts"))
    # every clip's codec corrupted -> 100% decode-error batches; each
    # slice keeps its name and modification time, so its arrival order
    os.makedirs(os.path.join(root, "audio"))
    for name in sorted(os.listdir(os.path.join(streams, "audio"))):
        src, dst = os.path.join(streams, "audio", name), os.path.join(root, "audio", name)
        a = pq.read_table(src)
        a = a.set_column(a.schema.get_field_index("codec"), "codec", pa.array(["corrupt"] * a.num_rows))
        pq.write_table(a, dst)
        mtime = os.stat(src).st_mtime_ns
        os.utime(dst, ns=(mtime, mtime))

    tables, _ = drain(spark, root, os.path.join(root, "out"))
    # no row reached the output table, which still reads with its columns
    assert tables["output"].read(spark).select(*oracle.OUTPUT_COLS).count() == 0
    # every clip admission accepts is now a decode error; the rest keep
    # their admission reasons; no clip reaches the output table
    expected = truth.assign(kind=truth["kind"].replace("ok", "undecodable"))
    verdict = oracle.compare(*outcomes(spark, tables), expected)
    assert verdict["failed"] == 0, verdict["by_cause"]
    assert verdict["quarantined"] == len(truth)
