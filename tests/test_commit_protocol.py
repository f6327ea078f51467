"""The table commit protocol: every TransactionalTable operation that
publishes a snapshot advances the version by one and carries the
manifest's bookkeeping (committed batch ids, key columns, bucket count,
per-file stats and schema ids) intact."""

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from hydra_spark.tables import TransactionalTable

from tests.conftest import REPO

SCHEMA = [{"name": "k", "type": "string"}, {"name": "v", "type": "bigint"}]
FIXTURE = REPO / "tests" / "fixtures" / "parent_table"


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k string, v bigint")


def _live(m):
    return {p for fl in m["files"].values() for p in fl}


# op name -> (call on a table holding k0..k11 in two generations, batch id
# the commit records or None, bucket count after the commit)
OPS = {
    "append_dedup": (lambda t, s: t.append_dedup(s, _kv(s, [("k0", 99), ("n1", 1)]), 7), 7, 4),
    "merge_upsert": (lambda t, s: t.merge_upsert(s, _kv(s, [("k0", 99), ("n1", 1)]), 7), 7, 4),
    "compact": (lambda t, s: t.compact(s), None, 4),
    "rebucket": (lambda t, s: t.rebucket(s, 8), None, 8),
    "delete_where": (lambda t, s: t.delete_where(s, {"v": (2, 5)}), None, 4),
    "update_where": (
        lambda t, s: t.update_where(s, {"v": (2, 5)}, {"v": F.col("v") * 10}), None, 4
    ),
    "register_schema": (
        lambda t, s: t.register_schema(SCHEMA + [{"name": "w", "type": "double"}]), None, 4
    ),
    "set_properties": (lambda t, s: t.set_properties({"owner": "x"}), None, 4),
    "rollback": (lambda t, s: t.rollback(t.manifest()["version"] - 1), None, 4),
}


@pytest.mark.parametrize("op", list(OPS))
def test_commit_protocol(spark, tmp_path, op):
    call, batch_id, n_after = OPS[op]
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.register_schema(SCHEMA)
    t.append_dedup(spark, _kv(spark, [(f"k{i}", i) for i in range(6)]), "g0")
    t.append_dedup(spark, _kv(spark, [(f"k{i}", i) for i in range(6, 12)]), "g1")
    before = t.manifest()
    call(t, spark)
    m = t.manifest()
    assert m["version"] == before["version"] + 1
    want = before["committed_batches"] + ([] if batch_id is None else [batch_id])
    assert m["committed_batches"] == want
    assert m["key_cols"] == ["k"] and m["n_buckets"] == n_after
    live = _live(m)
    assert set(m["file_stats"]) == live
    assert set(m["file_schema"]) == live
    added = live - _live(before)
    # a data commit writes all its files under one new commit directory
    assert len({p.split(os.sep + "_bucket=")[0] for p in added}) <= 1
    for p in added:
        assert re.fullmatch(r"c[0-9a-f]{12}", os.path.basename(os.path.dirname(os.path.dirname(p))))


def test_append_dedup_subset_of_buckets_keeps_first_row(spark, tmp_path):
    """A batch touching a strict subset of buckets, one of its keys
    already committed: the committed row wins, the new key lands."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=8)
    t.append_dedup(spark, _kv(spark, [(f"k{i}", i) for i in range(20)]), 0)
    batch = _kv(spark, [("k3", 999), ("new", 1)])
    buckets = {r[0] for r in batch.select(t._bucket_col()).collect()}
    assert len(buckets) < 8
    assert t.append_dedup(spark, batch, 1) is True
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got["k3"] == 3 and got["new"] == 1 and len(got) == 21


def test_table_written_before_one_commit_path(spark, tmp_path):
    """A table written by the per-operation commit code (its data under
    c*/compact-*/delete-* directories) opens, keeps its bucket count and
    bookkeeping, and takes an append_dedup and a merge_upsert."""
    root = tmp_path / "t"
    shutil.copytree(FIXTURE, root)
    mp = root / "manifests" / "v6.json"
    mp.write_text(mp.read_text().replace("@ROOT@", str(root)))
    t = TransactionalTable(str(root), ["k"], n_buckets=32)
    assert t.n_buckets == 4 and t.properties() == {"owner": "fixture"}
    keys = {f"k{i}" for i in range(12)} - {"k5"}
    assert {r.k: r.v for r in t.read(spark).collect()} == {k: int(k[1:]) for k in keys}
    assert t.append_dedup(spark, _kv(spark, [("k1", 100), ("k12", 12)]), 2) is True
    assert t.merge_upsert(spark, _kv(spark, [("k2", 200), ("k13", 13)]), 3) is True
    assert t.append_dedup(spark, _kv(spark, [("k1", 100)]), 2) is False
    m = t.manifest()
    assert m["version"] == 8 and m["committed_batches"] == [0, 1, 2, 3]
    assert set(m["file_stats"]) == set(m["file_schema"]) == _live(m)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {**{k: int(k[1:]) for k in keys}, "k2": 200, "k12": 12, "k13": 13}
