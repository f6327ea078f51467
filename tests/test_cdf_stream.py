"""Streaming CDF source (hydra_cdf): version-cursor offsets over a
TransactionalTable's manifest chain, per-changed-bucket partitions,
parity with the batch read_changes, and cursor resume."""

import os

import pandas as pd
import pytest

from hydra_spark.sources.cdf_stream import stream_changes
from hydra_spark.tables import TransactionalTable


def _kv(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame({"k": [r[0] for r in rows], "v": [r[1] for r in rows]})
    )


def _collect_stream(spark, path, starting_version, out):
    got = []

    def sink(batch_df, batch_id):
        got.extend(
            (r.k, r.v, r._change_type) for r in batch_df.collect()
        )

    q = (
        stream_changes(spark, path, starting_version=starting_version)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", out)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return got


BIG = 2**60  # int64 values a float64 cannot hold exactly
NAN = float("nan")

# (writes, columns, change rows): each write is (method, ddl, rows) on a
# one-bucket table; the feed is read from the version after the first
# write
FEED_CASES = {
    "bigint_with_null": (
        [
            ("merge_upsert", "k string, v bigint", [("a", BIG + 1), ("b", None)]),
            ("merge_upsert", "k string, v bigint", [("a", BIG + 3), ("c", BIG + 5)]),
        ],
        ["k", "v", "_change_type"],
        {("a", BIG + 3, "update"), ("c", BIG + 5, "insert")},
    ),
    "nan_to_null": (
        [
            ("merge_upsert", "k string, v double", [("a", NAN)]),
            ("merge_upsert", "k string, v double", [("a", None)]),
        ],
        ["k", "v", "_change_type"],
        {("a", None, "update")},
    ),
    "nan_to_nan": (
        [
            ("merge_upsert", "k string, v double", [("a", NAN)]),
            ("merge_upsert", "k string, v double", [("a", NAN)]),
        ],
        ["k", "v", "_change_type"],
        set(),
    ),
    "schemaless_added_column": (
        [
            ("append_dedup", "k string, v bigint", [("a", 1)]),
            ("append_dedup", "k string, v bigint, w double", [("b", 2, 3.0)]),
        ],
        ["k", "v", "w", "_change_type"],
        {("b", 2, 3.0, "insert")},
    ),
}


@pytest.mark.parametrize("case", sorted(FEED_CASES))
def test_change_feed_exact_rows(spark, tmp_path, case):
    """The batch read and the stream give the same exact rows and
    columns: int64 stays exact next to a NULL, NULL equals only NULL
    while NaN equals NaN, and a schema-less table's feed carries the
    union of its files' columns."""
    writes, cols, want = FEED_CASES[case]
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=1)
    for i, (method, ddl, rows) in enumerate(writes):
        getattr(t, method)(spark, spark.createDataFrame(rows, ddl), i)
        if i == 0:
            v1 = t.manifest()["version"]
    batch = t.read_changes(spark, v1)
    assert batch.columns == cols
    assert set(map(tuple, batch.collect())) == want

    seen_cols, got = [], []

    def sink(batch_df, batch_id):
        seen_cols.append(batch_df.columns)
        got.extend(map(tuple, batch_df.collect()))

    q = (
        stream_changes(spark, t.path, starting_version=v1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert seen_cols and all(c == cols for c in seen_cols)
    assert set(got) == want


def test_stream_resumes_from_checkpoint_cursor(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge_upsert(spark, _kv(spark, [("a", 1)]), 0)
    v1 = t.manifest()["version"]
    t.merge_upsert(spark, _kv(spark, [("b", 2)]), 1)
    cp = str(tmp_path / "cp")
    first = _collect_stream(spark, str(tmp_path / "t"), v1, cp)
    assert set(first) == {("b", 2, "insert")}
    # new commits while the stream is down; restart on the SAME
    # checkpoint -> only the new range replays (cursor resumed, not
    # startingVersion)
    t.merge_upsert(spark, _kv(spark, [("a", 10), ("c", 3)]), 2)
    second = _collect_stream(spark, str(tmp_path / "t"), v1, cp)
    assert set(second) == {("a", 10, "update"), ("c", 3, "insert")}


def test_stream_default_start_is_future_only(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge_upsert(spark, _kv(spark, [("a", 1)]), 0)
    got = _collect_stream(spark, str(tmp_path / "t"), None, str(tmp_path / "cp"))
    assert got == []  # nothing happened after stream start


def test_metadata_only_commit_yields_empty_batch(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge_upsert(spark, _kv(spark, [("a", 1)]), 0)
    v1 = t.manifest()["version"]
    t.set_properties({"owner": "me"})  # version bump, zero file changes
    got = _collect_stream(spark, str(tmp_path / "t"), v1, str(tmp_path / "cp"))
    assert got == []


def test_stream_across_rebucket_is_empty(spark, tmp_path):
    """A rebucket moves keys between buckets without changing a row: the
    changed buckets diff as one partition, so no key reads as a delete
    in its old bucket plus an insert in its new one."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=2)
    t.merge_upsert(spark, _kv(spark, [(f"k{i}", i) for i in range(20)]), 0)
    v1 = t.manifest()["version"]
    t.rebucket(spark, 8)
    assert _collect_stream(spark, t.path, v1, str(tmp_path / "cp")) == []


def test_bucket_pruned_partitions(spark, tmp_path):
    """Only buckets whose file lists changed become input partitions."""
    from hydra_spark.sources.cdf_stream import CdfStreamReader

    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=8)
    t.merge_upsert(spark, _kv(spark, [(f"k{i}", i) for i in range(40)]), 0)
    v1 = t.manifest()["version"]
    t.merge_upsert(spark, _kv(spark, [("k0", 100)]), 1)
    v2 = t.manifest()["version"]
    r = CdfStreamReader({"path": str(tmp_path / "t")})
    parts = r.partitions({"version": v1}, {"version": v2})
    touched = [p for p in parts if p.files_old or p.files_new]
    assert len(touched) == 1  # k0's bucket only


def test_array_typed_value_columns(spark, tmp_path):
    """Nested (array) value columns diff correctly: pyarrow hands them
    back as numpy arrays, where a bare == is elementwise — update
    detection and row emission must stay null-safe and value-exact."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)

    def df(rows):
        return spark.createDataFrame(rows, "k string, emb array<float>")

    t.merge_upsert(spark, df([("a", [1.0, 2.0]), ("b", [3.0, 4.0]), ("c", None)]), 0)
    v1 = t.manifest()["version"]
    # a changes, b rewritten identical (no row), c stays null (no row),
    # d inserted with a null array
    t.merge_upsert(
        spark,
        df([("a", [1.0, 9.0]), ("b", [3.0, 4.0]), ("c", None), ("d", None)]),
        1,
    )
    got = []

    def sink(batch_df, batch_id):
        got.extend(
            (r.k, list(r.emb) if r.emb is not None else None, r._change_type)
            for r in batch_df.collect()
        )

    q = (
        stream_changes(spark, str(tmp_path / "t"), starting_version=v1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert set((k, tuple(e) if e else None, c) for k, e, c in got) == {
        ("a", (1.0, 9.0), "update"),
        ("d", None, "insert"),
    }


def test_diff_compares_nested_values_null_safely():
    """The Arrow diff's equality inside lists and structs: NaN equals
    NaN, NULL equals only NULL, -0.0 equals 0.0, lengths must match."""
    import pyarrow as pa

    from hydra_spark.sources.cdf_stream import diff

    vt = pa.struct([("x", pa.int64()), ("y", pa.list_(pa.float64()))])
    old = [[NAN], [1.0, None], None, [], [1.0], [0.0], None]
    new = [[NAN], [1.0, None], None, [], [1.0, 2.0], [-0.0], []]
    keys = [f"k{i}" for i in range(len(old))]

    def table(lists, s):
        return pa.table(
            {"k": keys, "v": pa.array(lists, pa.list_(pa.float64())), "s": pa.array(s, vt)}
        )

    same_s = [{"x": 1, "y": [NAN]}] * len(keys)
    got = diff(table(old, same_s), table(new, same_s), ["k"])
    assert sorted(zip(got["k"].to_pylist(), got["_change_type"].to_pylist())) == [
        ("k4", "update"), ("k6", "update"),
    ]
    s_old = [{"x": None, "y": None}, None, {"x": 2, "y": [1.0]}] + same_s[3:]
    s_new = [{"x": None, "y": None}, {"x": None, "y": None}, {"x": 2, "y": [2.0]}] + same_s[3:]
    got = diff(table(old, s_old), table(old, s_new), ["k"])
    assert sorted(got["k"].to_pylist()) == ["k1", "k2"]


def test_expired_cursor_raises(spark, tmp_path):
    """Resuming past an expired snapshot fails LOUDLY (wrapped by Spark
    in StreamingQueryException) instead of silently skipping changes."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=4)
    for i in range(6):
        t.merge_upsert(spark, _kv(spark, [(f"k{i}", i)]), i)
    t.expire_snapshots(keep_last=2)
    with pytest.raises(StreamingQueryException, match="expired or missing"):
        _collect_stream(spark, str(tmp_path / "t"), 1, str(tmp_path / "cp"))
