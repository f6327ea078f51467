"""Exactly-once sink semantics: idempotent replay, keyed upsert, tombstones.

FIXTURES.md §3 replay/dedup suite: duplicated rows + whole-input replay
must leave exactly one row per key (Hydra latest-wins compacted cache,
ConsumerGroupsAlgebra.scala:254-303, + idempotent keyed publish).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

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


@pytest.mark.parametrize("ack", ["noack", "persisted", "replicated"])
def test_ack_modes(spark, tmp_path, clips, ack):
    """Hydra ack strategies (AckStrategy.scala:35-45): every mode writes
    the output and a metrics row; only replicated writes per-partition
    offset lineage. A replayed batch_id is a no-op for persisted and
    replicated; noack commits again, and the key dedup keeps its output
    key-unique."""
    from hydra_spark import tables as tbl
    from hydra_spark.sink import ExactlyOnceSink

    batch = clips.limit(200).select(
        "clip_id", "codec", "event_time", "ingest_partition", "ingest_offset"
    )
    t = tbl.bootstrap(str(tmp_path / ack), ["clip_id"])
    sink = ExactlyOnceSink(t, ["clip_id"], ack=ack)
    sink(batch, 0)
    assert t["output"].read(spark).count() == 200
    assert t["metrics"].read(spark).count() == 1
    assert t["lineage"].is_empty() is (ack != "replicated")

    version = t["output"].manifest()["version"]
    sink(batch, 0)  # replay
    out = t["output"].read(spark)
    assert out.count() == 200
    assert out.select("clip_id").distinct().count() == 200
    assert t["output"].manifest()["version"] == version + (ack == "noack")
