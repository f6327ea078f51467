"""Exactly-once sink semantics: idempotent replay, keyed upsert, tombstones.

FIXTURES.md §3 replay/dedup suite: duplicated rows + whole-input replay
must leave exactly one row per key (Hydra latest-wins compacted cache,
ConsumerGroupsAlgebra.scala:254-303, + idempotent keyed publish).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hydra_spark import tables as tbl
from hydra_spark.sink import ExactlyOnceSink
from hydra_spark.tables import TransactionalTable


def _mk(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def test_merge_idempotent_replay(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    df = _mk(spark, [{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    assert t.merge_upsert(spark, df, batch_id=0) is True
    assert t.merge_upsert(spark, df, batch_id=0) is False  # replay: no-op
    assert t.read(spark).count() == 2


def test_merge_upsert_latest_wins(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    t.merge_upsert(spark, _mk(spark, [{"k": "a", "v": 1}, {"k": "b", "v": 2}]), 0)
    t.merge_upsert(spark, _mk(spark, [{"k": "a", "v": 99}, {"k": "c", "v": 3}]), 1)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {"a": 99, "b": 2, "c": 3}


def test_merge_tombstone_delete(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    t.merge_upsert(spark, _mk(spark, [{"k": "a", "v": 1}, {"k": "b", "v": 2}]), 0)
    delete = _mk(spark, [{"k": "a", "v": 0}]).withColumn("_delete", F.lit(True))
    t.merge_upsert(spark, delete, 1)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {"b": 2}


def test_whole_input_replayed_twice(spark, tmp_path, clips):
    """Feed the same 500-row input as two different batch ids (the
    'whole table replayed twice' fixture) — sink must stay key-unique."""
    t = TransactionalTable(str(tmp_path / "t"), ["clip_id"], n_buckets=8)
    sample = clips.limit(500).select("clip_id", "codec", "event_time")
    t.merge_upsert(spark, sample, "run-1")
    t.merge_upsert(spark, sample, "run-2")
    out = t.read(spark)
    assert out.count() == 500
    assert out.select("clip_id").distinct().count() == 500


def test_snapshot_isolation_versions(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    v0 = t.manifest()["version"]
    t.merge_upsert(spark, _mk(spark, [{"k": "a", "v": 1}]), 0)
    assert t.manifest()["version"] == v0 + 1
    assert 0 in t.committed_batches()


def test_replayed_batch(spark, tmp_path, clips):
    """The sink writes the output, a metrics row and per-partition
    offset lineage. A replayed batch_id's output commit is a no-op, and
    its side rows are rewritten under the batch id, not appended."""
    # 200 clips in the shape of the flagship batch, without rejects
    batch = clips.limit(200).select(
        "clip_id", "codec", "event_time", "ingest_partition", "ingest_offset",
        F.lit(None).cast("string").alias("reject_reason"),
        F.col("event_time").alias("transcript_time"),
    )
    t = tbl.bootstrap(str(tmp_path / "t"), ["clip_id"])
    sink = ExactlyOnceSink(t, ["clip_id"])
    sink(batch, 0)
    assert t["output"].read(spark).count() == 200
    assert t["metrics"].read(spark).count() == 1
    lineage = t["lineage"].read(spark).count()
    assert t["lineage"].read(spark).agg(F.sum("rows")).first()[0] == 200

    version = t["output"].manifest()["version"]
    sink(batch, 0)  # replay
    out = t["output"].read(spark)
    assert out.count() == 200
    assert out.select("clip_id").distinct().count() == 200
    assert t["output"].manifest()["version"] == version
    assert t["metrics"].read(spark).count() == 1
    assert t["lineage"].read(spark).count() == lineage


def _side_batch(spark, rows):
    """(ingest_partition, ingest_offset, reject_reason) -> sink rows."""
    from datetime import datetime, timedelta

    return spark.createDataFrame(
        [(f"c{i}", datetime(2025, 1, 1) + timedelta(seconds=i), *r, None) for i, r in enumerate(rows)],
        "clip_id string, event_time timestamp, ingest_partition int, "
        "ingest_offset long, reject_reason string, transcript_time timestamp",
    )


def test_side_rows_survive_crash_after_output_commit(spark, tmp_path, monkeypatch):
    """A crash between the output commit and the side writes: the
    replay of the same batch_id leaves the output (rows and manifest
    version) as committed and writes every quarantine, lineage and
    metrics row the crash lost."""
    rows = [(0, o, None) for o in range(6)] + [(1, o, None) for o in range(4)]
    rows += [(1, 4, "decode_error"), (0, 6, "decode_error")]
    batch = _side_batch(spark, rows)
    t = tbl.bootstrap(str(tmp_path / "t"), ["clip_id"])
    sink = ExactlyOnceSink(t, ["clip_id"])

    def crash(self, pdf, batch_id):
        raise RuntimeError("crash after the output commit")

    monkeypatch.setattr(tbl.AppendTable, "append_pandas", crash)
    with pytest.raises(RuntimeError, match="crash after"):
        sink(batch, 7)
    monkeypatch.undo()
    version = t["output"].manifest()["version"]
    assert 7 in t["output"].committed_batches()
    assert t["output"].read(spark).count() == 10
    assert t["lineage"].is_empty() and t["metrics"].is_empty()

    sink(batch, 7)  # Structured Streaming's replay of the batch
    assert t["output"].manifest()["version"] == version
    assert t["output"].read(spark).count() == 10
    assert t["quarantine"].read(spark).count() == 2
    lin = sorted(tuple(r) for r in t["lineage"].read(spark).collect())
    assert lin == [(0, 0, 5, 6, 7), (1, 0, 3, 4, 7)]  # partition, start, end, rows, batch
    met = t["metrics"].read(spark).collect()
    assert [(m.batch_id, m.rows_in, m.rows_quarantined) for m in met] == [(7, 12, 2)]


def test_lineage_every_partition(spark, tmp_path):
    """Every ingest partition id gets its lineage row, however large
    the id; rows with a NULL partition get none."""
    rows = [(0, o, None) for o in (3, 4, 5)] + [(5, o, None) for o in (10, 12)]
    rows += [(40, o, None) for o in (100, 101, 102, 103)] + [(None, 9, None)]
    t = tbl.bootstrap(str(tmp_path / "t"), ["clip_id"])
    ExactlyOnceSink(t, ["clip_id"])(_side_batch(spark, rows), 0)
    lin = sorted(tuple(r) for r in t["lineage"].read(spark).collect())
    assert lin == [(0, 3, 5, 3, 0), (5, 10, 12, 2, 0), (40, 100, 103, 4, 0)]
