"""D2 schema registry/evolution, D1 transactional bootstrap rollback,
D5 table properties — catalog tier (SchemaRegistry.scala:39-119,
CreateTopicProgram.scala:39-107, TagsAlgebra.scala semantics)."""

import os

import pandas as pd
import pytest

from hydra_spark import tables as tbl
from hydra_spark.tables import SchemaCompatError, TransactionalTable

V1 = [{"name": "k", "type": "string"}, {"name": "v", "type": "bigint"}]
V2 = V1 + [{"name": "w", "type": "double", "default": 1.5}]


def test_register_idempotent_and_lookup(tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    assert t.register_schema(V1) == 1
    assert t.register_schema(V1) == 1  # idempotent re-register
    assert t.register_schema(V2) == 2  # additive evolution
    assert t.schema_version()["id"] == 2
    assert t.schema_version(1)["fields"] == V1


def test_incompatible_evolution_rejected(tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    t.register_schema(V1)
    with pytest.raises(SchemaCompatError):  # field removal
        t.register_schema([{"name": "k", "type": "string"}])
    with pytest.raises(SchemaCompatError):  # type change
        t.register_schema([{"name": "k", "type": "string"}, {"name": "v", "type": "string"}])
    assert t.schema_version()["id"] == 1  # failed registers leave no version


def test_compat_level_pinned_to_confluent_backward(tmp_path):
    """Pins register_schema to its Confluent-equivalent level. The
    reference's SchemaRegistry delegates compat checking to the
    Confluent client at the subject's configured level (default
    BACKWARD — SchemaRegistry.scala:39-119). This catalog implements
    BACKWARD with three documented deviations (see the register_schema
    docstring), each pinned here."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    t.register_schema([{"name": "k", "type": "string"}, {"name": "v", "type": "bigint"}])
    # BACKWARD: addition with an explicit default -> new version
    assert (
        t.register_schema(
            [{"name": "k", "type": "string"}, {"name": "v", "type": "bigint"},
             {"name": "w", "type": "double", "default": 1.5}]
        ) == 2
    )
    # deviation 1: addition WITHOUT a default is also accepted (absent
    # default == nullable-with-NULL-default; Confluent would reject)
    assert (
        t.register_schema(
            [{"name": "k", "type": "string"}, {"name": "v", "type": "bigint"},
             {"name": "w", "type": "double", "default": 1.5},
             {"name": "x", "type": "string"}]
        ) == 3
    )
    # deviation 2: removal is rejected (Confluent BACKWARD allows it)
    with pytest.raises(SchemaCompatError):
        t.register_schema([{"name": "k", "type": "string"}])
    # deviation 3: Avro-legal type promotion (bigint->double would be
    # long->double promotion) is rejected — type equality is exact
    with pytest.raises(SchemaCompatError):
        t.register_schema(
            [{"name": "k", "type": "string"}, {"name": "v", "type": "double"},
             {"name": "w", "type": "double", "default": 1.5},
             {"name": "x", "type": "string"}]
        )
    assert t.schema_version()["id"] == 3


def test_evolution_read_fills_default(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.register_schema(V1)
    t.merge_upsert(spark, spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "v": [1, 2]})), 0)
    t.register_schema(V2)
    t.merge_upsert(
        spark,
        spark.createDataFrame(pd.DataFrame({"k": ["c"], "v": [3], "w": [9.0]})),
        1,
    )
    got = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    assert got == {"a": (1, 1.5), "b": (2, 1.5), "c": (3, 9.0)}
    assert [f.name for f in t.read(spark).schema.fields] == ["k", "v", "w"]


def test_bootstrap_rollback_on_failure(tmp_path, monkeypatch):
    root = str(tmp_path / "boot")

    calls = {"n": 0}
    orig = tbl.AppendTable.__init__

    def flaky(self, path):
        calls["n"] += 1
        raise OSError("disk on fire")

    monkeypatch.setattr(tbl.AppendTable, "__init__", flaky)
    with pytest.raises(OSError):
        tbl.bootstrap(root, ["k"], retries=2)
    # every creation was retried (3 attempts for the first AppendTable)
    assert calls["n"] == 3
    # rollback: the already-created output table was deleted — nothing
    # half-created remains
    assert not os.path.exists(os.path.join(root, "output"))
    assert not os.path.exists(os.path.join(root, "_metrics"))

    monkeypatch.setattr(tbl.AppendTable, "__init__", orig)
    out = tbl.bootstrap(root, ["k"])
    assert set(out) == {"output", "metrics", "lineage", "quarantine"}
    assert os.path.exists(os.path.join(root, "output", "CURRENT"))


def test_bootstrap_rollback_keeps_preexisting(tmp_path, monkeypatch):
    """Rollback only deletes what THIS bootstrap created (the reference
    deletes only resources acquired inside the failed Resource scope)."""
    root = str(tmp_path / "boot2")
    TransactionalTable(os.path.join(root, "output"), ["k"])  # pre-existing

    def boom(self, path):
        raise OSError("nope")

    monkeypatch.setattr(tbl.AppendTable, "__init__", boom)
    with pytest.raises(OSError):
        tbl.bootstrap(root, ["k"], retries=0)
    assert os.path.exists(os.path.join(root, "output", "CURRENT"))


def test_table_properties_tags(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.set_properties({"team": "ingest", "pii": "false"})
    assert t.properties() == {"team": "ingest", "pii": "false"}
    t.set_properties({"pii": "true", "ttl_days": 30})
    assert t.properties()["pii"] == "true" and t.properties()["ttl_days"] == "30"
    t.set_properties({"team": None})  # delete
    assert "team" not in t.properties()
    # properties survive data commits: an actual merge bumps the manifest
    # version and must carry the property map forward unchanged
    props_before = t.properties()
    v_before = t.manifest()["version"]
    t.merge_upsert(spark, spark.createDataFrame(pd.DataFrame({"k": ["a"], "v": [1]})), 0)
    assert t.manifest()["version"] > v_before
    assert t.properties() == props_before


def test_key_schema_validation(tmp_path):
    """SchemaWrapper.validate semantics: declared key fields must exist
    and must not be nullable unions (SchemaWrapper.scala:26-53)."""
    from hydra_spark.tables import InvalidKeySchemaError, primary_keys

    t = TransactionalTable(str(tmp_path / "t"), ["k"])
    with pytest.raises(InvalidKeySchemaError):  # key column absent
        t.register_schema([{"name": "v", "type": "bigint"}])
    with pytest.raises(InvalidKeySchemaError):  # nullable key
        t.register_schema(
            [{"name": "k", "type": "string", "nullable": True}, {"name": "v", "type": "bigint"}]
        )
    assert t.schema_version() is None  # failed registers leave no version
    assert t.register_schema(V1) == 1  # non-nullable key passes

    # hydra.key property parsing (SchemaWrapper.scala:10-24)
    assert primary_keys(V1, {"hydra.key": "k, v"}) == ["k", "v"]
    assert primary_keys([{"name": "k", "type": "string", "key": True}] + V1[1:], {}) == ["k"]


def test_drop_with_report_partial_failure(tmp_path, monkeypatch):
    import shutil as _sh

    from hydra_spark.tables import AppendTable, TransactionalTable, drop_with_report

    root = str(tmp_path / "d")
    TransactionalTable(os.path.join(root, "output"), ["k"])
    AppendTable(os.path.join(root, "_metrics"))

    orig = _sh.rmtree

    def flaky(path, **kw):
        if path.endswith("output"):
            raise OSError("EACCES")
        return orig(path, **kw)

    monkeypatch.setattr(tbl.shutil, "rmtree", flaky)
    rep = {r["table"]: r for r in drop_with_report(root)}
    # the failing table is reported, the others still processed
    assert rep["output"]["status"] == "failed" and "EACCES" in rep["output"]["error"]
    assert rep["_metrics"]["status"] == "deleted"
    assert rep["_lineage"]["status"] == "not_found"
    assert not os.path.exists(os.path.join(root, "_metrics"))


def test_evolution_explicit_null_stays_null(spark, tmp_path):
    """Avro resolution semantics: the default fills only fields ABSENT
    from the writer's schema — an explicit NULL written under a schema
    that has the field reads back as NULL, not the default."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.register_schema(V1)
    t.merge_upsert(spark, spark.createDataFrame(pd.DataFrame({"k": ["a"], "v": [1]})), 0)
    t.register_schema(V2)
    import pyspark.sql.functions as F

    with_null = spark.createDataFrame(pd.DataFrame({"k": ["b"], "v": [2]})).withColumn(
        "w", F.lit(None).cast("double")
    )
    t.merge_upsert(spark, with_null, 1)
    got = {r.k: r.w for r in t.read(spark).collect()}
    assert got["a"] == 1.5  # absent column -> default
    assert got["b"] is None  # explicit NULL stays NULL


def _kv_df(spark, pairs):
    return spark.createDataFrame(pd.DataFrame({"k": [p[0] for p in pairs], "v": [p[1] for p in pairs]}))


def test_time_travel_read_and_snapshots(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge_upsert(spark, _kv_df(spark, [("a", 1), ("b", 2)]), 0)
    v1 = t.manifest()["version"]
    t.merge_upsert(spark, _kv_df(spark, [("b", 20), ("c", 3)]), 1)
    v2 = t.manifest()["version"]
    assert {r.k: r.v for r in t.read(spark, version=v1).collect()} == {"a": 1, "b": 2}
    assert {r.k: r.v for r in t.read(spark, version=v2).collect()} == {"a": 1, "b": 20, "c": 3}
    snaps = t.snapshots()
    assert [s["version"] for s in snaps] == [0, v1, v2]
    assert snaps[-1]["n_batches"] == 2
    # monotone commit timestamps -> read_as_of picks the right snapshot
    assert snaps[1]["committed_at"] <= snaps[2]["committed_at"]
    got = t.read_as_of(spark, snaps[1]["committed_at"])
    assert {r.k: r.v for r in got.collect()} == {"a": 1, "b": 2}
    with pytest.raises(tbl.SnapshotExpiredError):
        t.read_as_of(spark, -1.0)
    with pytest.raises(tbl.SnapshotExpiredError):
        t.read(spark, version=99)


def test_time_travel_pins_old_schema(spark, tmp_path):
    """A snapshot read uses the schema AS OF that version: the column
    added by a later evolution must not appear in the old snapshot."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.register_schema(V1)
    t.merge_upsert(spark, _kv_df(spark, [("a", 1)]), 0)
    v1 = t.manifest()["version"]
    t.register_schema(V2)
    t.merge_upsert(
        spark, spark.createDataFrame(pd.DataFrame({"k": ["b"], "v": [2], "w": [9.0]})), 1
    )
    assert [f.name for f in t.read(spark, version=v1).schema.fields] == ["k", "v"]
    assert [f.name for f in t.read(spark).schema.fields] == ["k", "v", "w"]


def test_rollback_then_replay_is_noop(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge_upsert(spark, _kv_df(spark, [("a", 1), ("b", 2)]), 0)
    v1 = t.manifest()["version"]
    t.merge_upsert(spark, _kv_df(spark, [("b", 20)]), 1)
    new_v = t.rollback(v1)
    assert t.manifest()["version"] == new_v
    assert {r.k: r.v for r in t.read(spark).collect()} == {"a": 1, "b": 2}
    # exactly-once survives rollback: batch 1 is still committed
    assert t.merge_upsert(spark, _kv_df(spark, [("b", 20)]), 1) is False
    # and a NEW batch moves state forward from the rolled-back snapshot
    assert t.merge_upsert(spark, _kv_df(spark, [("c", 3)]), 2) is True
    assert {r.k: r.v for r in t.read(spark).collect()} == {"a": 1, "b": 2, "c": 3}


def test_expire_snapshots_deletes_only_dead_files(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=2)
    t.merge_upsert(spark, _kv_df(spark, [("a", 1), ("b", 2)]), 0)
    v1 = t.manifest()["version"]
    t.merge_upsert(spark, _kv_df(spark, [("a", 10)]), 1)  # rewrites a's bucket only
    v2 = t.manifest()["version"]
    t.merge_upsert(spark, _kv_df(spark, [("a", 100)]), 2)
    rep = t.expire_snapshots(keep_last=2)
    assert rep["manifests_removed"] >= 2  # v0 + v1 gone
    assert rep["files_deleted"] >= 1  # a's v1-generation bucket file
    with pytest.raises(tbl.SnapshotExpiredError):
        t.read(spark, version=v1)
    # kept snapshots still read correctly (shared files NOT deleted:
    # b's bucket file from v1 is still referenced by v2 and current)
    assert {r.k: r.v for r in t.read(spark, version=v2).collect()} == {"a": 10, "b": 2}
    assert {r.k: r.v for r in t.read(spark).collect()} == {"a": 100, "b": 2}
    assert t.expire_snapshots(keep_last=2) == {"manifests_removed": 0, "files_deleted": 0}


def test_read_changes_types_and_preimage(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge_upsert(spark, _kv_df(spark, [("a", 1), ("b", 2), ("c", 3)]), 0)
    v1 = t.manifest()["version"]
    batch = spark.createDataFrame(
        pd.DataFrame(
            {"k": ["b", "c", "d"], "v": [20, 3, 4], "_delete": [False, True, False]}
        )
    )
    t.merge_upsert(spark, batch, 1)
    rows = {r.k: (r.v, r._change_type) for r in t.read_changes(spark, v1).collect()}
    # a unchanged -> no row; b updated (new value); c deleted (pre-image
    # value 3); d inserted
    assert rows == {"b": (20, "update"), "c": (3, "delete"), "d": (4, "insert")}
    # explicit to_version: v1 -> v1 is an empty diff
    assert t.read_changes(spark, v1, to_version=v1).count() == 0


def test_read_changes_bucket_pruned(spark, tmp_path):
    """Buckets whose manifest file lists are identical in both snapshots
    must not be READ at all — assert via the planned input partitions."""
    from hydra_spark.sources.cdf_stream import CdfBatchReader

    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=8)
    keys = [(f"k{i}", i) for i in range(32)]
    t.merge_upsert(spark, _kv_df(spark, keys), 0)
    v1 = t.manifest()["version"]
    m1 = t.manifest()
    t.merge_upsert(spark, _kv_df(spark, [("k0", 100)]), 1)
    m2 = t.manifest()
    ch = t.read_changes(spark, v1)
    assert {(r.k, r.v, r._change_type) for r in ch.collect()} == {("k0", 100, "update")}
    # one input partition: k0's bucket, from both snapshots
    bucket = t._bucket_col()
    b0 = str(_kv_df(spark, [("k0", 0)]).select(bucket.alias("b")).collect()[0].b)
    assert ch.rdd.getNumPartitions() == 1
    parts = CdfBatchReader(
        {"path": t.path, "startingVersion": str(v1), "endingVersion": str(m2["version"])}
    ).partitions()
    assert [(p.files_old, p.files_new) for p in parts] == [
        (sorted(m1["files"][b0]), sorted(m2["files"][b0]))
    ]


def test_read_changes_across_schema_evolution(spark, tmp_path):
    """Old-snapshot rows are projected onto the new schema (declared
    default) before the diff, so adding a column does NOT turn every
    untouched row into a spurious update."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.register_schema(V1)
    t.merge_upsert(spark, _kv_df(spark, [("a", 1), ("b", 2)]), 0)
    v1 = t.manifest()["version"]
    t.register_schema(V2)  # adds w double default 1.5
    t.merge_upsert(
        spark,
        spark.createDataFrame(pd.DataFrame({"k": ["b"], "v": [2], "w": [9.0]})),
        1,
    )
    rows = {r.k: (r.v, r.w, r._change_type) for r in t.read_changes(spark, v1).collect()}
    # a's pre/post images are both (1, default 1.5) -> pruned... BUT a
    # shares a bucket generation rewrite only if its bucket was touched;
    # either way it must not appear as a change
    assert rows == {"b": (2, 9.0, "update")}


def test_read_changes_empty_table_shapes(spark, tmp_path):
    """No data + registered schema -> empty diff with real columns;
    no data + no schema -> loud error, never a placeholder schema."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=2)
    with pytest.raises(ValueError):
        t.read_changes(spark, 0)
    t.register_schema(V1)
    v = t.manifest()["version"]
    d = t.read_changes(spark, v)
    assert d.columns == ["k", "v", "_change_type"] and d.count() == 0


def test_cdc_replication_roundtrip(spark, tmp_path):
    """read_changes + apply_changes = incremental replication: a replica
    fed only change feeds converges to the source state; replaying a
    feed segment is a no-op (exactly-once)."""
    src = TransactionalTable(str(tmp_path / "src"), ["k"], n_buckets=4)
    dst = TransactionalTable(str(tmp_path / "dst"), ["k"], n_buckets=4)
    src.merge_upsert(spark, _kv_df(spark, [("a", 1), ("b", 2), ("c", 3)]), 0)
    v1 = src.manifest()["version"]
    feed1 = src.read_changes(spark, 0)  # bootstrap: everything is insert
    assert {r._change_type for r in feed1.collect()} == {"insert"}
    dst.apply_changes(spark, feed1, "f1")

    batch = spark.createDataFrame(
        pd.DataFrame({"k": ["b", "c", "d"], "v": [20, 3, 4],
                      "_delete": [False, True, False]})
    )
    src.merge_upsert(spark, batch, 1)
    feed2 = src.read_changes(spark, v1)
    dst.apply_changes(spark, feed2, "f2")
    want = {r.k: r.v for r in src.read(spark).collect()}
    assert {r.k: r.v for r in dst.read(spark).collect()} == want == {
        "a": 1, "b": 20, "d": 4,
    }
    # replayed feed segment: idempotent no-op
    assert dst.apply_changes(spark, feed2, "f2") is False
    assert {r.k: r.v for r in dst.read(spark).collect()} == want
    # malformed feed fails loudly
    import pyspark.sql.functions as F

    broken = feed2.withColumn("_change_type", F.lit("upsert"))
    with pytest.raises(ValueError):
        dst.apply_changes(spark, broken, "f3")
    # feed projected to a column subset fails loudly too (it would
    # otherwise silently replicate NULLs into the value columns)
    with pytest.raises(ValueError, match="missing target columns"):
        dst.apply_changes(spark, feed2.select("k", "_change_type"), "f4")


def test_compact_data_identical_and_snapshot_safe(spark, tmp_path):
    """Compaction collapses append_dedup's per-batch file generations
    without changing content, replay idempotence, retained snapshots,
    or the change feed."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    for i in range(5):
        t.append_dedup(
            spark, _kv_df(spark, [(f"k{j}", j) for j in range(i * 10, i * 10 + 10)]), i
        )
    before = {(r.k, r.v) for r in t.read(spark).collect()}
    v_pre = t.manifest()["version"]
    files_before = sum(s["n_files"] for s in t.stats())
    assert files_before > 4  # generations accumulated

    rep = t.compact(spark)
    assert rep["buckets_compacted"] > 0 and rep["files_after"] <= 4
    assert all(s["n_files"] <= 1 for s in t.stats())
    # content identical
    assert {(r.k, r.v) for r in t.read(spark).collect()} == before
    # change feed across the compaction is empty (files differ, content not)
    assert t.read_changes(spark, v_pre).count() == 0
    # retained pre-compaction snapshot still readable, identical
    assert {(r.k, r.v) for r in t.read(spark, version=v_pre).collect()} == before
    # replay idempotence preserved (committed_batches carried)
    assert t.append_dedup(spark, _kv_df(spark, [("k0", 999)]), 0) is False
    # fresh commits proceed from the compacted snapshot
    assert t.append_dedup(spark, _kv_df(spark, [("z", 1)]), 99) is True
    assert ("z", 1) in {(r.k, r.v) for r in t.read(spark).collect()}
    # second compact with nothing to do is a no-op
    t.compact(spark)
    assert t.compact(spark)["buckets_compacted"] == 0


def test_reopen_adopts_stored_layout(spark, tmp_path):
    """Bucket count is a property of the TABLE: a handle opened with a
    different n_buckets must adopt the stored modulus (else compact
    re-routes rows to wrong buckets = silent loss, and merges duplicate
    keys across buckets); opening with different key columns is an
    outright error."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    for i in range(3):
        t.append_dedup(
            spark, _kv_df(spark, [(f"k{j}", j) for j in range(i * 5, i * 5 + 5)]), i
        )
    before = {(r.k, r.v) for r in t.read(spark).collect()}
    # reopen with the DEFAULT (wrong) bucket count — adopted, not trusted
    t2 = TransactionalTable(str(tmp_path / "t"), ["k"])
    assert t2.n_buckets == 4
    t2.compact(spark)
    assert {(r.k, r.v) for r in t2.read(spark).collect()} == before
    assert t2.merge_upsert(spark, _kv_df(spark, [("k0", 100)]), 99) is True
    after = {(r.k, r.v) for r in t2.read(spark).collect()}
    assert after == (before - {("k0", 0)}) | {("k0", 100)}
    with pytest.raises(ValueError, match="keyed by"):
        TransactionalTable(str(tmp_path / "t"), ["other"])


def test_table_stats_metadata_only(spark, tmp_path):
    """stats() totals agree with a real read at current AND historical
    versions, and empty buckets report zero rows/files."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge_upsert(spark, _kv_df(spark, [(f"k{i}", i) for i in range(20)]), 0)
    v1 = t.manifest()["version"]
    t.merge_upsert(spark, _kv_df(spark, [("k0", 99), ("zz", 1)]), 1)
    s = t.stats()
    assert sum(x["n_rows"] for x in s) == t.read(spark).count() == 21
    assert all(x["n_bytes"] > 0 for x in s if x["n_files"])
    s1 = t.stats(version=v1)
    assert sum(x["n_rows"] for x in s1) == 20  # historical snapshot stats


def test_subject_validation_grammar(tmp_path):
    """Subject grammar parity with the reference's refined regex
    (TopicMetadataV2Transport.scala:113-127): org prefix, dot segments,
    single-hyphen runs, 249-char cap, no consecutive special chars."""
    from hydra_spark.tables import InvalidSubjectError, validate_subject

    for ok in [
        "tech.clips-raw", "cloud.a.b-c.d2", "_team9.audio.pcm-16",
        "fin.x", "dvs.a-b-c",
        "tech." + "a" * 244,  # exactly 249 chars
    ]:
        assert validate_subject(ok) == ok
    for bad in [
        "", "tech", "tech.", "acme.clips",          # no/unknown org, no segment
        "tech..x", "tech.x..y",                     # empty segment
        "tech.-x", "tech.x-", "tech.a--b",          # hyphen at edge / doubled
        "tech.x_y", "tech.x y", "Tech.x",           # bad chars / bad org case
        "_.x",                                      # '_' org needs alnum tail
        "tech." + "a" * 245,                        # 250 chars: over cap
    ]:
        with pytest.raises(InvalidSubjectError, match="Invalid Topic Name"):
            validate_subject(bad)
    # bootstrap refuses BEFORE creating anything — nothing to roll back
    from hydra_spark.tables import bootstrap

    root = str(tmp_path / "badsubj")
    with pytest.raises(InvalidSubjectError):
        bootstrap(root, ["k"], subject="acme.clips")
    assert not os.path.exists(root)
    ts = bootstrap(root, ["k"], subject="tech.clips-raw")
    assert set(ts) == {"output", "metrics", "lineage", "quarantine"}


def test_rebucket_preserves_data_and_routing(spark, tmp_path):
    """Partition-spec evolution: a 2->8 rebucket is data-identical,
    keeps replay idempotence, routes later merges with the NEW modulus
    (no duplicate keys), survives handle reopen, stays time-travelable,
    and emits zero CDF rows (layout changed, content didn't)."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=2)
    rows = [(f"k{i}", i) for i in range(40)]
    t.merge_upsert(spark, _kv_df(spark, rows), 0)
    v0 = t.manifest()["version"]
    before = {(r.k, r.v) for r in t.read(spark).collect()}
    rep = t.rebucket(spark, 8)
    assert (rep["n_buckets_before"], rep["n_buckets_after"]) == (2, 8)
    assert {(r.k, r.v) for r in t.read(spark).collect()} == before
    # zero-row CDF across the layout change
    assert t.read_changes(spark, from_version=v0).count() == 0
    # replay of an already-committed batch is still a no-op
    assert t.merge_upsert(spark, _kv_df(spark, rows), 0) is False
    # new-modulus routing: an upsert replaces, never duplicates
    assert t.merge_upsert(spark, _kv_df(spark, [("k3", 999)]), 1) is True
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got["k3"] == 999 and len(got) == 40
    # a reopened handle adopts the evolved bucket count
    assert TransactionalTable(str(tmp_path / "t"), ["k"]).n_buckets == 8
    # pre-rebucket snapshot still reads the original rows
    assert {(r.k, r.v) for r in t.read(spark, version=v0).collect()} == before
    # same-count rebucket is a structural no-op (no new snapshot)
    v = t.manifest()["version"]
    t.rebucket(spark, 8)
    assert t.manifest()["version"] == v
