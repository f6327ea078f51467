"""The flagship's output commit: one bucket, so each commit writes one
file per write task, and the dedup anti-join against every older file
still drops keys the table already holds."""

from pyspark.sql import functions as F

from hydra_spark import pipeline, tables as tbl
from hydra_spark.sink import ExactlyOnceSink

KEYS = ["clip_id", "window_start"]


def _batch(spark, rows):
    """Sink-shaped rows from (clip_id, window start in epoch seconds,
    v). Timestamps are built in Spark from epoch seconds, so the rows do
    not depend on the Python process's time zone."""
    df = spark.createDataFrame(
        [(c, s, v, i) for i, (c, s, v) in enumerate(rows)],
        "clip_id string, ws long, v long, ingest_offset long",
    )
    ts = F.timestamp_seconds("ws")
    return df.select(
        "clip_id",
        ts.alias("window_start"),
        ts.alias("event_time"),
        ts.alias("transcript_time"),
        "v",
        F.lit(0).alias("ingest_partition"),
        "ingest_offset",
        F.lit(None).cast("string").alias("reject_reason"),
    )


def _rows(spark, out):
    return sorted((r.clip_id, r.v) for r in out.read(spark).collect())


def _live(m):
    return {p for fl in m["files"].values() for p in fl}


def test_flagship_commit_writes_one_bucket(spark, flagship_run):
    """Every flagship commit adds at most one file per shuffle partition
    (the write tasks), all in the one bucket."""
    out = flagship_run["tables"]["output"]
    assert out.n_buckets == 1
    tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    versions = [s["version"] for s in out.snapshots()]
    assert versions == list(range(versions[-1] + 1))
    n_commits = 0
    for v in versions[1:]:
        before, m = out.manifest_at(v - 1), out.manifest_at(v)
        added = _live(m) - _live(before)
        assert len(added) <= tasks, (v, len(added))
        assert set(m["files"]) == {"0"}
        n_commits += bool(added)
    assert n_commits >= 2


def test_parent_32_bucket_output_resumes(spark, tmp_path):
    """An output bootstrapped with the former default of 32 buckets keeps
    them when ``build_tables`` reopens it, and still drops keys it
    already holds."""
    root = str(tmp_path / "out")
    t = tbl.bootstrap(root, KEYS)
    ExactlyOnceSink(t, KEYS)(_batch(spark, [(f"a{i}", 100, 0) for i in range(40)]), 0)
    reopened = pipeline.build_tables(root)
    out = reopened["output"]
    assert out.n_buckets == 32
    ExactlyOnceSink(reopened, KEYS)(
        _batch(spark, [("a3", 100, 1), ("a7", 100, 1), ("b0", 100, 1)]), 1
    )
    m = out.manifest()
    assert m["n_buckets"] == 32 and 1 < len(m["files"]) and max(map(int, m["files"])) < 32
    got = _rows(spark, out)
    assert len(got) == 41
    assert ("a3", 0) in got and ("a7", 0) in got and ("b0", 1) in got


def test_key_in_older_file_is_dropped(spark, tmp_path):
    """A key an older commit wrote is dropped (first wins); a new key,
    or the same clip in another window, is inserted."""
    t = pipeline.build_tables(str(tmp_path / "out"))
    sink = ExactlyOnceSink(t, KEYS)
    sink(_batch(spark, [("a", 100, 0), ("m", 110, 0), ("z", 120, 0)]), 0)
    sink(_batch(spark, [("m", 110, 1), ("m", 100, 1), ("q", 115, 1)]), 1)
    assert _rows(spark, t["output"]) == [("a", 0), ("m", 0), ("m", 1), ("q", 1), ("z", 0)]
