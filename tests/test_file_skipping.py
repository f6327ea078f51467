"""File-skipping scan planning over manifest column stats — the Iceberg
manifest lower_bounds/upper_bounds analog (scan planning never opens a
data file; footer stats lifted into the manifest once, at commit time).
Hydra analog: offset-seek (S5) skipping whole log segments the consumer
never reads."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from hydra_spark.tables import TransactionalTable, _stats_admit


def _paths(uris):
    return {u.removeprefix("file://") for u in uris}


def _mk(spark, path, n_batches=4, rows=400):
    """Append-generation table: batch g holds ts in day g, v in
    [g*1000, g*1000+rows) — disjoint ranges per generation, so a
    single-generation predicate must prune the other generations'
    files."""
    t = TransactionalTable(str(path), ["k"], n_buckets=4)
    base = dt.datetime(2025, 3, 1)
    for g in range(n_batches):
        df = spark.range(rows).select(
            (F.col("id") + g * rows).cast("string").alias("k"),
            (F.col("id") + g * 1000).alias("v"),
            (
                F.lit(base + dt.timedelta(days=g))
                + F.make_dt_interval(secs=F.col("id").cast("double"))
            ).alias("ts"),
            F.concat(F.lit(f"s{g}_"), F.col("id").cast("string")).alias("tag"),
        )
        assert t.append_dedup(spark, df, f"g{g}")
    return t


def test_numeric_range_prunes_to_one_generation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    kept, total = t.plan_files({"v": (2000, 2399)})
    assert total == 16 and len(kept) == 4  # 4 buckets of generation 2 only
    df = t.read_where(spark, {"v": (2000, 2399)})
    # plan guard: the physical scan reads exactly the planned files
    assert _paths(df.inputFiles()) <= set(kept)
    # answer parity: pruning never changes the result
    expect = t.read(spark).where(F.col("v").between(2000, 2399))
    assert sorted(r.k for r in df.collect()) == sorted(r.k for r in expect.collect())


def test_timestamp_range_prunes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    lo = dt.datetime(2025, 3, 2)
    hi = dt.datetime(2025, 3, 2, 23, 59, 59)
    kept, total = t.plan_files({"ts": (lo, hi)})
    assert len(kept) == 4 < total
    got = t.read_where(spark, {"ts": (lo, hi)}).count()
    assert got == 400  # full generation 1


def test_string_and_conjunct_pruning(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    # string bounds: generation 3's tags all start s3_
    kept, _ = t.plan_files({"tag": ("s3_", "s3_~")})
    assert len(kept) == 4
    # conjunction: v range admits gen 1, tag range admits gen 3 -> empty plan
    kept, _ = t.plan_files({"v": (1000, 1399), "tag": ("s3_", "s3_~")})
    assert kept == []
    df = t.read_where(spark, {"v": (1000, 1399), "tag": ("s3_", "s3_~")})
    assert df.count() == 0 and "tag" in df.columns  # schema survives empty plan


def test_half_open_bounds_and_unknown_column(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    kept, total = t.plan_files({"v": (3000, None)})
    assert len(kept) == 4
    assert t.read_where(spark, {"v": (3000, None)}).count() == 400
    kept, total = t.plan_files({"v": (None, 999)})
    assert len(kept) == 4
    # a column with no stats (absent from the files) never prunes
    kept, total = t.plan_files({"nope": (0, 1)})
    assert len(kept) == total
    with pytest.raises(ValueError):
        t.plan_files({"v": (None, None)})


def test_all_null_file_skipped_missing_stats_kept(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=1)
    t.append_dedup(
        spark,
        spark.createDataFrame([Row(k="a", v=None), Row(k="b", v=None)], "k string, v int"),
        "nulls",
    )
    t.append_dedup(
        spark, spark.createDataFrame([Row(k="c", v=7)], "k string, v int"), "vals"
    )
    kept, total = t.plan_files({"v": (0, 100)})
    assert total == 2 and len(kept) == 1  # all-NULL file provably matches nothing
    assert t.read_where(spark, {"v": (0, 100)}).count() == 1
    # conservative semantics unit-pinned: no entry -> admit; all-null -> reject
    assert _stats_admit(None, 0, 1) is True
    assert _stats_admit({"lo": None, "hi": None, "t": None}, 0, 1) is False


def test_stats_carried_forward_and_survive_compact(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_batches=2)
    m1 = t.manifest()
    files1 = {p for fl in m1["files"].values() for p in fl}
    assert set(m1["file_stats"]) == files1  # every live file has a stats entry
    # next commit must carry gen-0/1 stats forward by path (no recompute drift)
    df = spark.range(10).select(
        (F.col("id") + 9000).cast("string").alias("k"),
        (F.col("id") + 9000).alias("v"),
        F.lit(dt.datetime(2025, 4, 1)).alias("ts"),
        F.lit("s9_x").alias("tag"),
    )
    t.append_dedup(spark, df, "g9")
    m2 = t.manifest()
    for p in files1:
        assert m2["file_stats"][p] == m1["file_stats"][p]
    # compaction rewrites files; new files get fresh stats, pruning still exact
    t.compact(spark)
    kept, total = t.plan_files({"v": (9000, 9009)})
    assert len(kept) < total or total <= 4
    assert t.read_where(spark, {"v": (9000, 9009)}).count() == 10


def test_sorted_compaction_preserves_pruning(spark, tmp_path):
    """Binpack compaction widens every file's bounds to the full range
    (pruning collapses); a SORT-ordered rewrite splitting at
    target_file_rows restores disjoint per-file ranges."""
    t = _mk(spark, tmp_path / "t", n_batches=4, rows=400)
    pred = {"v": (1000, 1399)}  # generation 1's range
    kept, total = t.plan_files(pred)
    assert len(kept) == 4 < total

    r = t.compact(spark, sort_by=["v"], target_file_rows=150)
    assert r["buckets_compacted"] == 4
    kept2, total2 = t.plan_files(pred)
    assert kept2 and len(kept2) < total2, "sorted rewrite must keep pruning"
    # per-file v-ranges within each bucket are disjoint (contiguous sort runs)
    st = t.manifest()["file_stats"]
    for b, fl in t.manifest()["files"].items():
        spans = sorted((st[p]["v"]["lo"], st[p]["v"]["hi"]) for p in fl)
        assert len(fl) > 1  # the split actually happened
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, f"bucket {b} has overlapping sorted files"
    # answer parity after the rewrite
    got = sorted(r.k for r in t.read_where(spark, pred).collect())
    exp = sorted(r.k for r in t.read(spark).where(F.col("v").between(1000, 1399)).collect())
    assert got == exp and len(got) == 400


def test_binpack_compaction_collapses_pruning(spark, tmp_path):
    """Documents the interaction the sorted rewrite exists to fix."""
    t = _mk(spark, tmp_path / "t", n_batches=3, rows=300)
    t.compact(spark)
    kept, total = t.plan_files({"v": (0, 299)})
    assert len(kept) == total  # every merged file now spans every generation


def test_date_column_with_datetime_bound_never_wrong_prunes(spark, tmp_path):
    """A DATE-typed column queried with a DATETIME bound must coerce to
    date-level compare: 'YYYY-MM-DDTHH:MM:SS' sorts after 'YYYY-MM-DD',
    which would wrongly prune the file containing the bound's own day."""
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=1)
    for g, day in enumerate(["2025-03-01", "2025-06-01"]):
        df = spark.range(5).select(
            (F.col("id") + g * 10).cast("string").alias("k"),
            F.lit(day).cast("date").alias("d"),
        )
        t.append_dedup(spark, df, f"g{g}")
    lo = dt.datetime(2025, 3, 1)  # midnight datetime, same day as file bounds
    kept, total = t.plan_files({"d": (lo, lo)})
    assert len(kept) == 1 < total  # March file admitted, June file pruned
    assert t.read_where(spark, {"d": (lo, lo)}).count() == 5
    # pure date bounds still prune exactly
    kept, _ = t.plan_files({"d": (dt.date(2025, 6, 1), None)})
    assert len(kept) == 1


def test_delete_where_rewrites_only_admitted_files(spark, tmp_path):
    """Ranged DELETE rewrites only the files whose stats admit the
    range; every other file keeps its exact path, the residual filter
    is exact within rewritten files, and time travel + CDF see the
    delete correctly."""
    t = _mk(spark, tmp_path / "t")
    v0 = t.manifest()["version"]
    before = {b: set(fl) for b, fl in t.manifest()["files"].items()}
    n_before = t.read(spark).count()
    # delete v in [1200, 1299] — inside generation 1 only, partial file hit
    rep = t.delete_where(spark, {"v": (1200, 1299)})
    assert rep["rows_deleted"] == 100
    assert rep["files_untouched"] > 0 and rep["files_rewritten"] > 0
    after = {b: set(fl) for b, fl in t.manifest()["files"].items()}
    # every non-admitted pre-delete file survives BY PATH IDENTITY
    admitted, _ = t.plan_files({"v": (1200, 1299)}, version=v0)
    for b in before:
        assert before[b] - set(admitted) <= after[b]
    surv = t.read(spark)
    assert surv.count() == n_before - 100
    assert surv.where((F.col("v") >= 1200) & (F.col("v") <= 1299)).count() == 0
    # partially-hit generation keeps its non-matching rows
    assert surv.where((F.col("v") >= 1000) & (F.col("v") < 1200)).count() == 200
    # time travel: the pre-delete snapshot still holds every row
    assert t.read(spark, version=v0).count() == n_before
    # CDF across the delete: exactly the deleted keys, all 'delete'
    ch = t.read_changes(spark, from_version=v0).collect()
    assert len(ch) == 100 and all(r._change_type == "delete" for r in ch)
    assert {int(r.v) for r in ch} == set(range(1200, 1300))


def test_delete_where_null_rows_survive_and_nomatch_is_noop(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=2)
    df = spark.createDataFrame(
        [("a", 1), ("b", None), ("c", 50)], "k string, v long"
    )
    t.append_dedup(spark, df, "g0")
    v = t.manifest()["version"]
    # range predicate never matches NULL — 'b' survives
    rep = t.delete_where(spark, {"v": (0, 10)})
    assert rep["rows_deleted"] == 1
    assert {r.k for r in t.read(spark).collect()} == {"b", "c"}
    # stats admit nothing -> zero-cost no-op, version unchanged
    v1 = t.manifest()["version"]
    rep2 = t.delete_where(spark, {"v": (1000, 2000)})
    assert rep2 == {
        "rows_deleted": 0, "files_rewritten": 0,
        "files_untouched": rep2["files_untouched"], "buckets_touched": 0,
    }
    assert t.manifest()["version"] == v1 and v1 > v


def test_update_where_rewrites_only_admitted_files(spark, tmp_path):
    """Ranged UPDATE rewrites only the files whose stats admit the
    range; non-admitted files keep their exact paths, SET expressions
    apply to matching rows only, and time travel + CDF see the update
    correctly."""
    t = _mk(spark, tmp_path / "t")
    v0 = t.manifest()["version"]
    before = {b: set(fl) for b, fl in t.manifest()["files"].items()}
    n_before = t.read(spark).count()
    rep = t.update_where(
        spark, {"v": (1200, 1299)}, {"v": F.col("v") + 100000}
    )
    assert rep["rows_updated"] == 100
    assert rep["files_untouched"] > 0 and rep["files_rewritten"] > 0
    after = {b: set(fl) for b, fl in t.manifest()["files"].items()}
    admitted, _ = t.plan_files({"v": (1200, 1299)}, version=v0)
    for b in before:
        assert before[b] - set(admitted) <= after[b]
    cur = t.read(spark)
    assert cur.count() == n_before  # UPDATE never changes cardinality
    assert cur.where(F.col("v").between(1200, 1299)).count() == 0
    assert cur.where(F.col("v").between(101200, 101299)).count() == 100
    # non-matching rows in rewritten files are untouched
    assert cur.where(F.col("v").between(1000, 1199)).count() == 200
    # time travel: pre-update snapshot still has the old values
    assert t.read(spark, version=v0).where(
        F.col("v").between(1200, 1299)
    ).count() == 100
    # CDF across the update: exactly the updated keys, all 'update',
    # carrying the NEW values
    ch = t.read_changes(spark, from_version=v0).collect()
    assert len(ch) == 100 and all(r._change_type == "update" for r in ch)
    assert {int(r.v) for r in ch} == set(range(101200, 101300))


def test_update_where_preimage_swap_and_guards(spark, tmp_path):
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=2)
    df = spark.createDataFrame(
        [("a", 1, 10), ("b", None, 20), ("c", 50, 30)],
        "k string, v long, w long",
    )
    t.append_dedup(spark, df, "g0")
    # SET v = w, w = v must SWAP (single-select pre-image semantics,
    # not sequential assignment); NULL range rows never match
    rep = t.update_where(
        spark, {"v": (0, 100)}, {"v": F.col("w"), "w": F.col("v")}
    )
    assert rep["rows_updated"] == 2
    got = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    assert got == {"a": (10, 1), "b": (None, 20), "c": (30, 50)}
    # key columns cannot be SET
    with pytest.raises(ValueError, match="key column"):
        t.update_where(spark, {"v": (0, 100)}, {"k": F.lit("x")})
    # unknown SET column is loud
    with pytest.raises(ValueError, match="not in table schema"):
        t.update_where(spark, {"v": (0, 100)}, {"nope": F.lit(1)})
    # stats admit nothing -> no-op, no new version
    v1 = t.manifest()["version"]
    rep2 = t.update_where(spark, {"v": (9000, 9999)}, {"w": F.lit(0)})
    assert rep2["rows_updated"] == 0 and t.manifest()["version"] == v1


def test_update_where_guards_fire_early_and_on_type_change(spark, tmp_path):
    from hydra_spark.tables import SchemaCompatError

    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=2)
    t.register_schema(
        [{"name": "k", "type": "string"}, {"name": "v", "type": "bigint"}]
    )
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    t.append_dedup(spark, df, "g0")
    # typo'd SET column must raise EVEN when the predicate matches no
    # file (schema-registered tables validate before scan planning) —
    # a silent no-op would mask the typo until data entered the range
    with pytest.raises(ValueError, match="not in table schema"):
        t.update_where(spark, {"v": (9000, 9999)}, {"vaule": F.lit(1)})
    # a column-type-changing SET (here: int -> bigint widening via the
    # when/otherwise coercion) must raise instead of silently rewriting
    # files under a schema the registered cast would mangle
    t2 = TransactionalTable(str(tmp_path / "t2"), ["k"], n_buckets=2)
    t2.register_schema(
        [{"name": "k", "type": "string"}, {"name": "v", "type": "int"}]
    )
    t2.append_dedup(
        spark, spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"), "g0"
    )
    with pytest.raises(SchemaCompatError, match="changes column type"):
        t2.update_where(
            spark, {"v": (0, 10)}, {"v": F.col("v").cast("bigint") + 1}
        )
    # an ANSI-invalid value cast (string 'x' into a numeric column)
    # fails LOUDLY at the rewrite, before the manifest commit — the
    # table must be unchanged
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|invalid input"):
        t.update_where(spark, {"v": (0, 10)}, {"v": F.lit("x")})
    for tab in (t, t2):
        assert tab.read(spark).count() == 2
        assert {r.v for r in tab.read(spark).collect()} == {1, 2}


def test_ts_pruning_survives_vanilla_int96_session(spark, tmp_path):
    """Round-4 driver regression: a vanilla SparkSession leaves
    spark.sql.parquet.outputTimestampType at its INT96 default, and
    INT96 parquet timestamps carry no footer min/max — so if the table
    relied on the repo session builder for the conf, every ts column
    went stats-less and ts-range pruning silently admitted all files.
    The write paths must force TIMESTAMP_MICROS themselves (and restore
    the caller's conf after), so pruning works under ANY session."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")  # simulate the driver's default session
    try:
        t = _mk(spark, tmp_path / "t")
        assert spark.conf.get(key) == "INT96", "write path must restore caller conf"
        lo = dt.datetime(2025, 3, 2)
        hi = dt.datetime(2025, 3, 2, 23, 59, 59)
        kept, total = t.plan_files({"ts": (lo, hi)})
        assert len(kept) == 4 < total, "ts stats must survive an INT96 session"
        assert t.read_where(spark, {"ts": (lo, hi)}).count() == 400
        # the DML rewrites must also keep their ts stats under INT96
        rep = t.delete_where(spark, {"ts": (lo, hi)})
        assert rep["rows_deleted"] == 400 and rep["files_untouched"] > 0
        rep = t.update_where(
            spark,
            {"ts": (dt.datetime(2025, 3, 3), dt.datetime(2025, 3, 3, 23, 59, 59))},
            {"v": F.col("v") + 100000},
        )
        assert rep["rows_updated"] == 400 and rep["files_untouched"] > 0
        # post-rewrite manifest still carries ts stats for the new files
        kept2, total2 = t.plan_files(
            {"ts": (dt.datetime(2025, 3, 4), dt.datetime(2025, 3, 4, 23, 59, 59))}
        )
        assert kept2 and len(kept2) < total2
    finally:
        spark.conf.set(key, prev)


def test_zorder_interleave_matches_reference(spark):
    """The JVM shift/mask expression tree must equal the textbook
    Morton interleave bit-for-bit."""
    import random

    from hydra_spark.tables import _interleave_bits

    rng = random.Random(17)
    vals = [(rng.getrandbits(16), rng.getrandbits(16)) for _ in range(64)]
    df = spark.createDataFrame(vals, "a long, b long")
    z = _interleave_bits(F.col("a"), 0, 2, 16).bitwiseOR(
        _interleave_bits(F.col("b"), 1, 2, 16)
    )
    got = [r.z for r in df.select(z.alias("z")).collect()]

    def ref(a, b):
        out = 0
        for j in range(16):
            out |= ((a >> j) & 1) << (2 * j)
            out |= ((b >> j) & 1) << (2 * j + 1)
        return out

    assert got == [ref(a, b) for a, b in vals]


def test_zorder_compaction_prunes_both_axes(spark, tmp_path):
    """Z-order rewrite over a 100x100 (x, y) grid: range queries on
    EITHER axis must prune files (a single-column sort would prune only
    its own axis — asserted as the contrast), and answers stay exact."""
    t = TransactionalTable(str(tmp_path / "z"), ["k"], n_buckets=1)
    # row-major grid: appended order is sorted by y, scrambled in x
    df = spark.range(10000).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).cast("double").alias("x"),
        (F.col("id") / 100).cast("long").cast("double").alias("y"),
    )
    t.append_dedup(spark, df, "g0")
    r = t.compact(spark, max_files_per_bucket=0, zorder_by=["x", "y"], target_file_rows=625)
    assert r["files_after"] == 16
    kept_x, total = t.plan_files({"x": (10.0, 19.0)})
    kept_y, _ = t.plan_files({"y": (10.0, 19.0)})
    assert len(kept_x) < total, "z-order must prune on x"
    assert len(kept_y) < total, "z-order must prune on y"
    assert t.read_where(spark, {"x": (10.0, 19.0)}).count() == 1000
    assert t.read_where(spark, {"y": (10.0, 19.0)}).count() == 1000
    # conjunct query on both axes prunes harder than either alone
    kept_xy, _ = t.plan_files({"x": (10.0, 19.0), "y": (10.0, 19.0)})
    assert len(kept_xy) <= min(len(kept_x), len(kept_y))
    assert t.read_where(spark, {"x": (10.0, 19.0), "y": (10.0, 19.0)}).count() == 100

    # contrast: the same data sort_by x prunes x perfectly, y not at all
    t2 = TransactionalTable(str(tmp_path / "s"), ["k"], n_buckets=1)
    t2.append_dedup(spark, df, "g0")
    t2.compact(spark, max_files_per_bucket=0, sort_by=["x"], target_file_rows=625)
    kx, tot2 = t2.plan_files({"x": (10.0, 19.0)})
    ky, _ = t2.plan_files({"y": (10.0, 19.0)})
    assert len(kx) < tot2
    assert len(ky) == tot2, "single-axis sort cannot prune the other axis"


def test_zorder_guards(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n_batches=2, rows=100)
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(spark, sort_by=["v"], zorder_by=["v", "ts"])
    with pytest.raises(ValueError, match="2-4 columns"):
        t.compact(spark, zorder_by=["v"])
    with pytest.raises(ValueError, match="string-ordered"):
        t.compact(spark, zorder_by=["v", "k"])
    # timestamp + numeric works, stats-path bounds (no extra scan)
    r = t.compact(spark, zorder_by=["v", "ts"], target_file_rows=100)
    assert r["buckets_compacted"] == 4
    assert t.read(spark).count() == 200


def test_zorder_four_columns_no_sign_overflow(spark, tmp_path):
    """4-column Z-order must cap per-column bits so no rank bit lands in
    the long's sign bit (a negative key sorts first and destroys the
    curve): all four axes must still prune after the rewrite."""
    t = TransactionalTable(str(tmp_path / "z4"), ["k"], n_buckets=1)
    df = spark.range(4096).select(
        F.col("id").alias("k"),
        (F.col("id") % 8).cast("double").alias("a"),
        (F.col("id") / 8 % 8).cast("long").cast("double").alias("b"),
        (F.col("id") / 64 % 8).cast("long").cast("double").alias("c"),
        (F.col("id") / 512 % 8).cast("long").cast("double").alias("d"),
    )
    t.append_dedup(spark, df, "g0")
    t.compact(
        spark, max_files_per_bucket=0, zorder_by=["a", "b", "c", "d"],
        target_file_rows=256,
    )
    for col in ("a", "b", "c", "d"):
        kept, total = t.plan_files({col: (6.0, 7.0)})
        assert kept and len(kept) < total, f"axis {col} must prune"
        assert t.read_where(spark, {col: (6.0, 7.0)}).count() == 1024


def test_timestamp_stats_are_exact_micros(spark, tmp_path):
    """Timestamp stats are exact epoch micros: a float path through
    ``total_seconds()`` rounds 545175556185458 µs down by one, and a
    bound equal to the file's true maximum would then prune it."""
    us = 545_175_556_185_458
    t = TransactionalTable(str(tmp_path / "t"), ["k"], n_buckets=1)
    df = spark.range(1).select(
        F.lit("a").alias("k"), F.timestamp_micros(F.lit(us)).alias("ts")
    )
    assert t.append_dedup(spark, df, 0)
    fstats = t.manifest()["file_stats"]
    assert [s["ts"]["hi"] for s in fstats.values()] == [us]
    bound = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    for lo in (us, bound):
        kept, total = t.plan_files({"ts": (lo, None)})
        assert len(kept) == total == 1
