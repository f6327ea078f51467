"""Batch-checkable analogs of the engine's operators over the driver testdata.

Each function here is the DataFrame form of a SURVEY.md §2 operator,
expressed over the driver-generated tables (events / orders / lineitem /
customer / nation / documents) so the DuckDB oracle can verify it at
sf=0.01. The streaming forms of the same operators live in
hydra_spark.operators / sources / sink and are exercised by the pytest
suite against the synthesized clips stream.

Determinism rules for oracle parity (value-hash comparison):
  * timestamps are emitted as epoch microseconds (unix_micros) — no
    timezone ambiguity between Spark and DuckDB
  * double aggregates are rounded to 4 decimals — double accumulation
    order differs between engines; 1e-10 noise must not flip the hash
  * every computed column is aliased identically in SQL and DataFrame
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from hydra_spark import lineage as lin
from hydra_spark.operators import windows as win
from hydra_spark.operators.state import latest_wins_hash
from hydra_spark.sources.replay import seek_predicate

# the tables the stateful rows build live under the tree this file is in
ENTRY_DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".data",
    "entry",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _us(col):
    """epoch microseconds; parquet naive timestamps arrive as
    TIMESTAMP_NTZ in Spark 4 — cast to session-TZ (UTC) timestamp."""
    return F.unix_micros(F.col(col).cast("timestamp") if isinstance(col, str) else col.cast("timestamp"))


# ------------------------------------------------------ §2.8 windows

def tumbling_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    out = win.tumbling(
        ev, "10 minutes", "event_type",
        aggs=[F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")],
        event_col="ts",
    )
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_s"), "event_type", "n_events", "sum_value"
    )


def sliding_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    out = win.sliding(
        ev, "10 minutes", "5 minutes", "event_type",
        aggs=[F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")],
        event_col="ts",
    )
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_s"), "event_type", "n_events", "sum_value"
    )


def session_window(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    out = win.session(
        ev, "30 minutes", "user_id",
        aggs=[F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")],
        event_col="ts",
    )
    return out.select(
        "user_id",
        _us("window_start").alias("session_start_us"),
        _us("window_end").alias("session_end_us"),
        "n_events",
        "sum_value",
    )


def session_window_dynamic(spark, sf_dir):
    """Session windows with a PER-EVENT gap (operators/windows.py
    session with a Column gap — Spark's dynamic session_window):
    purchases hold a session open 45 min, clicks 30, everything else
    15. Each event spans [ts, ts+gap); overlapping spans merge; the
    session ends at the max reach of its members — semantics the
    fixed-gap oracle's lag-diff rule cannot express (a short-gap event
    after a long-gap one stays merged while the long reach covers it).
    The oracle computes the same merge with a running max of reach:
    break when ts > max(prev reach). Flink/KSQL dynamic session gap
    analog."""
    ev = load(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("45 minutes"))
        .when(F.col("event_type") == "click", F.lit("30 minutes"))
        .otherwise(F.lit("15 minutes"))
    )
    out = win.session(
        ev, gap, "user_id",
        aggs=[F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")],
        event_col="ts",
    )
    return out.select(
        "user_id",
        _us("window_start").alias("session_start_us"),
        _us("window_end").alias("session_end_us"),
        "n_events",
        "sum_value",
    )


# ------------------------------------------------------ A1/A2/A3/A4 state & lag

def dedup_latest_wins(spark, sf_dir):
    """Latest event per user by (ts, event_id) through the flagship
    sink's own operator, so this row's oracle certifies it."""
    ev = load(spark, sf_dir, "events")
    return latest_wins_hash(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", _us("ts").alias("ts_us")
    )


def tombstone_latest_state(spark, sf_dir):
    """Latest-wins then drop keys whose winner is a tombstone
    ('error' events stand in for Hydra's null-payload deletes)."""
    latest = dedup_latest_wins(spark, sf_dir)
    return latest.where(F.col("event_type") != "error")


def latest_offsets(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return lin.latest_offsets(ev, part_col="event_type", off_col="event_id").select(
        "event_type", "latest_offset", F.col("rows").alias("n_rows")
    )


def consumer_lag(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    latest = ev.groupBy("event_type").agg(F.max("event_id").alias("latest_offset"))
    committed = (
        ev.where(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.max("event_id").alias("committed_offset"))
    )
    j = lin.consumer_lag(latest, committed, part_col="event_type")
    return j.select("event_type", "latest_offset", "committed_offset", F.col("lag").alias("offset_lag"))


def groups_inversion(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


# ------------------------------------------------------ S5/S7 source ops

def bounded_tail(spark, sf_dir):
    ev = load(spark, sf_dir, "events").where(F.col("event_id") < 9000)
    w = W.partitionBy("event_type").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 5)
        .select("event_id", "event_type", "user_id")
    )


SEEK_MAP = {"click": 4000, "purchase": 8000}


def seek_from_offsets(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    pred = seek_predicate({k: v for k, v in SEEK_MAP.items()})
    # seek_predicate works over ingest_partition/ingest_offset names
    ev2 = ev.withColumnRenamed("event_type", "ingest_partition").withColumnRenamed(
        "event_id", "ingest_offset"
    )
    out = ev2.where(pred)
    return out.select(
        F.col("ingest_offset").alias("event_id"), F.col("ingest_partition").alias("event_type"), "user_id"
    )


# ------------------------------------------------------ §2.8 interval join

def _click_purchase_join(spark, sf_dir, how: str) -> DataFrame:
    """Clicks joined to the same user's purchases in the 30 minutes after
    the click — the one equi-key + range condition of the three
    interval-join rows, which differ only in ``how``."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id"), F.col("ts").alias("click_ts")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (clicks["user_id"] == buys["p_user"])
        & (buys["p_ts"] >= clicks["click_ts"])
        & (buys["p_ts"] <= clicks["click_ts"] + F.expr("interval 30 minutes"))
    )
    return clicks.join(buys, cond, how)


def interval_join(spark, sf_dir):
    return _click_purchase_join(spark, sf_dir, "inner").select("click_id", "purchase_id", "user_id")


def interval_join_outer(spark, sf_dir):
    """LEFT-OUTER interval join — the unmatched-emission half of the
    stream-stream join contract (operators/join.py
    clip_transcript_join(how='left_outer'): a clip whose transcript
    never arrives inside the tolerance is emitted with a NULL
    transcript once the watermark passes; Hydra analog:
    IngestionSupervisor timeout marking stragglers IngestorTimeout,
    ingest/src/main/scala/hydra.ingest/services/IngestionSupervisor.scala:98-120).
    Batch-checkable form over events: every click row survives; clicks
    with no purchase by the same user within 30 minutes carry NULL
    purchase_id. Same equi-key + range shape as the inner row — state
    pruning semantics identical, only NULL-extension differs."""
    return _click_purchase_join(spark, sf_dir, "left_outer").select(
        "click_id",
        "purchase_id",
        "user_id",
        F.col("purchase_id").isNotNull().alias("matched"),
    )


def interval_join_full(spark, sf_dir):
    """FULL-OUTER interval join — BOTH unmatched sides emitted. The
    streaming contract this certifies is clip_transcript_join(how=
    'full_outer'): a transcript whose clip never arrives is emitted
    with NULL clip columns once both watermarks pass — the ORPHAN
    audit row the left-outer form can never surface (Hydra analog: the
    key/value mismatch report T7, IngestionFlowV2.scala:120-141, which
    reports both directions of the pairing). Batch-checkable form over
    events: clicks with no purchase in-window carry NULL purchase_id
    AND purchases preceded by no click carry NULL click_id. Same
    equi-key + range condition and state-pruning shape as the
    inner/left rows."""
    return _click_purchase_join(spark, sf_dir, "full_outer").select(
        "click_id",
        "purchase_id",
        F.coalesce("user_id", "p_user").alias("user_id"),
        (F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()).alias(
            "matched"
        ),
    )


def asof_purchase_click(spark, sf_dir):
    """As-of join (operators/join.py asof_join): each purchase matched
    to the user's LATEST click at or before it, within 30 minutes —
    nearest-earlier-match semantics (pandas merge_asof / DuckDB ASOF
    JOIN) built as one union + window pass, no range-join state. The
    oracle is an independent formulation: DuckDB LEFT JOIN LATERAL with
    ORDER BY ts DESC, id DESC LIMIT 1 (same backward-inclusive +
    greatest-tiebreak contract)."""
    from hydra_spark.operators.join import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("p_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("c_ts"),
    )
    out = asof_join(
        purchases, clicks, on=["user_id"], left_ts="p_ts", right_ts="c_ts",
        tolerance="30 minutes", tiebreak="click_id",
    )
    return out.select("user_id", "purchase_id", "click_id")


# ------------------------------------------------------ T6 key extraction / JsonPath

def key_extraction(spark, sf_dir):
    """Composite PK concat with '|' (IngestionFlow.scala:66-77)."""
    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", F.concat_ws("|", F.col("o_custkey"), F.col("o_orderkey")).alias("hydra_key")
    )


def json_key_extraction(spark, sf_dir):
    """JsonPath key extraction (producer/JsonPathKeys.scala:1-28)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k")
    )


# ------------------------------------------------------ T9 ISO-date conversion

def iso_date_convert(spark, sf_dir):
    """Lenient 3-format ISO parse with EPOCH fallback (T9 —
    avro/src/main/scala/hydra/avro/convert/ISODateConverter.scala:31-43
    tries OffsetDateTime, then LocalDateTime, then yyyy-MM-dd'T'HH:mm:ssX
    before the EPOCH fallback). The fixture exercises all accepted forms:
    offset-with-colon (+02:00), Zulu (Z), short offset (+02), local, and
    an unparseable string that must land on EPOCH, not fail the query."""
    ev = load(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    local = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    # offset forms are shifted so every variant encodes the SAME instant
    shifted = F.date_format(ts + F.expr("interval 2 hours"), "yyyy-MM-dd'T'HH:mm:ss")
    iso = (
        F.when(F.col("event_id") % 50 == 0, F.lit("not-a-date"))
        .when(F.col("event_id") % 7 == 1, F.concat(shifted, F.lit("+02:00")))
        .when(F.col("event_id") % 7 == 2, F.concat(local, F.lit("Z")))
        .when(F.col("event_id") % 7 == 3, F.concat(shifted, F.lit("+02")))
        .otherwise(local)
    )
    parsed = F.coalesce(
        F.try_to_timestamp(iso, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),  # OffsetDateTime
        F.try_to_timestamp(iso, F.lit("yyyy-MM-dd'T'HH:mm:ss")),  # LocalDateTime
        F.try_to_timestamp(iso, F.lit("yyyy-MM-dd'T'HH:mm:ssX")),  # ssX short offset
        F.timestamp_seconds(F.lit(0)),  # EPOCH fallback
    )
    return ev.select("event_id", F.unix_micros(parsed).alias("parsed_us"))


# ------------------------------------------------------ T4 defaults fill

def defaults_fill(spark, sf_dir):
    """Missing-field -> schema default (T4 — SimpleStringToGenericRecord
    handleRecord fills absent fields from Avro defaults, :23-40)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.select(
        "event_id",
        F.coalesce(k, F.lit(0)).alias("k_filled"),
        k.isNull().cast("int").alias("was_defaulted"),
    )


NESTED_DEFAULTS_SPEC = [
    {"name": "k", "type": "bigint", "default": 7},
    {"name": "rec", "type": {"struct": [
        {"name": "a", "type": "bigint", "default": 1},
        {"name": "b", "type": "string", "default": "d"},
    ]}},  # record with NO default: absent -> null
    {"name": "cfg", "type": {"struct": [{"name": "v", "type": "bigint", "default": 3}]},
     "default": {"v": 42}},  # record WITH default: absent -> {v:42}, explicit null -> null
    {"name": "arr", "type": {"array": {"struct": [
        {"name": "a", "type": "bigint", "default": 5},
        {"name": "b", "type": "string"},
    ]}}, "default": []},
    {"name": "m", "type": {"map": {"struct": [{"name": "a", "type": "bigint", "default": 9}]}}},
]


def defaults_fill_nested(spark, sf_dir):
    """T4 recursive defaults fill through records/arrays/maps
    (SimpleStringToGenericRecord.scala:23-70): absent fields take their
    declared default at EVERY nesting depth; explicit nulls stay null;
    array elements and map values recurse. Output flattened to scalars
    so the value-hash comparison is representation-stable."""
    from hydra_spark.functions.defaults import fill_defaults_json

    ev = load(spark, sf_dir, "events")
    # a props row lacking $.k yields explicit JSON null, never a NULL
    # payload — keeps engine and oracle on the same branch even if a
    # fixture refresh adds missing-k rows (oracle guards identically)
    k = F.coalesce(F.get_json_object("props", "$.k"), F.lit("null"))
    payload = (
        F.when(
            F.col("event_id") % 4 == 0,
            F.concat(F.lit('{"k":'), k,
                     F.lit(',"rec":{"a":10,"b":"x"},"cfg":{},"arr":[{"a":1},{}],"m":{"x":{"a":2}}}')),
        )
        .when(F.col("event_id") % 4 == 1, F.lit('{"rec":{"a":11}}'))
        .when(
            F.col("event_id") % 4 == 2,
            F.concat(F.lit('{"k":'), k, F.lit(',"rec":null,"cfg":null}')),
        )
        .otherwise(F.lit('{"arr":[{"a":3,"b":"y"},{"b":"z"}],"m":{"p":{},"q":{"a":4}}}'))
    )
    df = ev.select("event_id", payload.alias("payload"))
    filled = fill_defaults_json("payload", NESTED_DEFAULTS_SPEC)
    return df.select(
        "event_id",
        filled.getField("k").alias("k_filled"),
        filled.getField("rec").getField("a").alias("rec_a"),
        filled.getField("rec").getField("b").alias("rec_b"),
        filled.getField("cfg").getField("v").alias("cfg_v"),
        # explicit "arr": null stays NULL (not size()'s legacy -1) — the
        # oracle mirrors with a json_type != 'NULL' guard, same as rec/m
        F.when(
            filled.getField("arr").isNotNull(), F.size(filled.getField("arr")).cast("long")
        ).alias("arr_n"),
        F.when(
            filled.getField("arr").isNotNull(),
            F.aggregate(
                filled.getField("arr"), F.lit(0).cast("long"), lambda acc, x: acc + x.getField("a")
            ),
        ).alias("arr_sum_a"),
        F.aggregate(
            F.map_values(filled.getField("m")), F.lit(0).cast("long"),
            lambda acc, x: acc + x.getField("a"),
        ).alias("m_sum_a"),
    )


# ------------------------------------------------------ A3 lag totals

def total_lag(spark, sf_dir):
    """Cross-partition lag totals + percentage (A3 —
    ConsumerGroupsAlgebra.getLagOnDvsInternalCGTopic :155-184)."""
    ev = load(spark, sf_dir, "events")
    latest = ev.groupBy("event_type").agg(F.max("event_id").alias("latest_offset"))
    committed = (
        ev.where(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(F.max("event_id").alias("committed_offset"))
    )
    lag = lin.consumer_lag(latest, committed, part_col="event_type")
    return lin.total_lag(lag).select(
        "total_lag", "total_latest", F.round("lag_pct", 4).alias("lag_pct")
    )


# ------------------------------------------------------ CEP sequence detection

def cep_sequence(spark, sf_dir):
    """CEP pattern match: per user, two consecutive clicks followed by a
    purchase, all within 4 hours (operators/cep.py — the batch form of
    the applyInPandasWithState sequence detector)."""
    from hydra_spark.operators.cep import sequence_matches_batch

    ev = load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    out = sequence_matches_batch(
        ev, "user_id", "event_type", "ts",
        ["click", "click", "purchase"], within_seconds=14400, tiebreak_col="event_id",
    )
    return out.select(
        "user_id", _us(F.col("seq_start")).alias("seq_start_us"), _us(F.col("seq_end")).alias("seq_end_us")
    )


# ------------------------------------------------------ T10 schema inference

def json_schema_infer(spark, sf_dir):
    """Schema discovery from JSON payloads (T10 — Hydra's
    AvroSchemaGenerator infers an Avro schema from a JSON doc;
    Spark-first analog: per-stream key-set discovery, JVM-side
    json_object_keys + set aggregation)."""
    ev = load(spark, sf_dir, "events")
    keys = F.json_object_keys("props").alias("ks")
    return (
        ev.select("event_type", keys)
        .groupBy("event_type")
        .agg(
            F.array_join(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("ks")))), ","
            ).alias("fields")
        )
    )


# ------------------------------------------------------ §2.9 correlation ids

def correlation_ids(spark, sf_dir):
    """Compact per-record correlation ids (Hydra Base62 correlation-id
    builder, common/src/main/scala/hydra/common/util/Base62.scala +
    CorrelationIdBuilder.scala:7-13; base-36 here = the largest radix
    Spark's conv and ANSI to_base share, JVM-side/codegen)."""
    from hydra_spark.functions.ids import correlation_id_col

    ev = load(spark, sf_dir, "events")
    return ev.select("event_id", correlation_id_col("event_id").alias("corr_id"))


# ------------------------------------------------------ K5 admission / quarantine

def size_limit_quarantine(spark, sf_dir):
    """RecordTooLarge admission rule (KafkaClientAlgebra.scala:204-215)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.where(F.length("text") > 300)
        .select(
            "doc_id",
            F.length("text").alias("n_len"),
            F.concat(F.lit("RecordTooLarge:"), F.length("text").cast("string"), F.lit(">300")).alias(
                "reject_reason"
            ),
        )
    )


# ------------------------------------------------------ headline TPC-H-style

def tpch_q1(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def tpch_q3(spark, sf_dir):
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    )
    return (
        j.groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .where(F.col("revenue") > 100000)
        # date emitted as a plain string on BOTH engine and oracle sides —
        # the driver's value-hash is representation-sensitive
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "revenue")
    )


def nation_revenue(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    nation = load(spark, sf_dir, "nation")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


def skew_salted_agg(spark, sf_dir):
    """Two-stage salted aggregation over a skew-prone key, CERTIFIED
    equal to the plain aggregate (the oracle is the unsalted GROUP BY).
    The pattern operators/skew.py applies to joins, here in its
    aggregate form: stage 1 groups on (key, salt) so one hot key's rows
    spread across `n_salts` reducers instead of one straggler; stage 2
    re-aggregates the n_salts partials per key — count/sum re-combine
    losslessly (sum of sums), which is exactly what makes the rewrite
    safe. Salt is DERIVED (pmod of event_id), never random: replays
    and retries land rows on the same reducer, so the op stays
    deterministic under speculative execution. At 100 TB a hot
    event_type would cap the whole job at one reducer's throughput;
    salted, it scales with n_salts. (Hydra analog: K7 per-format
    fan-out, ingestors/kafka RecordSizeConstraint fan-out path.)"""
    ev = load(spark, sf_dir, "events")
    partial = ev.groupBy(
        "event_type", F.pmod(F.col("event_id"), F.lit(8)).alias("_salt")
    ).agg(
        F.count("*").alias("pn"),
        F.sum("value").alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 2).alias("sum_value"),
    )


def customers_without_orders(spark, sf_dir):
    """LEFT ANTI join (NOT EXISTS): customers that never ordered —
    churned customers with zero orders in 1996 — the
    retention/orphan-detection probe, and the join type the engine's
    coverage lacked next to inner/outer/semi/interval/as-of. Plan
    shape for 100 TB: anti join on the key both sides shuffle on;
    orders is date-filtered AT THE SCAN (pushed predicate) and
    projected to the single join column (no payload travels), and the
    aggregate after the anti join is a broadcast-size nation rollup."""
    cust = load(spark, sf_dir, "customer")
    o_keys = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_custkey")
    )
    loners = cust.join(
        o_keys, cust["c_custkey"] == o_keys["o_custkey"], "left_anti"
    )
    return loners.groupBy("c_nationkey").agg(
        F.count("*").alias("n_customers"),
        F.sum("c_custkey").alias("sum_custkey"),  # membership checksum
    )


def customer_running_total(spark, sf_dir):
    """Cumulative window frame (ROWS UNBOUNDED PRECEDING .. CURRENT):
    per-customer running order-value total in order-date order — the
    running-aggregate reporting shape (account balances, cumulative
    spend) the windows module's tumbling/sliding forms don't cover.
    Deterministic total order via (o_orderdate, o_orderkey). Plan: ONE
    shuffle on the customer key + an in-partition sort — the frame
    itself is streaming-evaluated inside the sort, no self-join."""
    from pyspark.sql import Window as W

    orders = load(spark, sf_dir, "orders")
    # ONE base spec: running_total and order_seq must always agree on
    # row order, so both windows derive from it
    base = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(
                base.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
            2,
        ).alias("running_total"),
        F.row_number().over(base).cast("long").alias("order_seq"),
    )


def order_value_deciles(spark, sf_dir):
    """NTILE decile report over order values — the distribution-summary
    reporting shape (spend tiers, SLA percentile bands). Deterministic
    bucketing via the (o_totalprice, o_orderkey) total order; one
    global sort (single-partition window — the decile assignment is
    inherently total-order; at 10^12 rows the same report would use
    approx quantile cuts + a broadcast range join, documented here as
    the scale sibling of the exact form)."""
    from pyspark.sql import Window as W

    orders = load(spark, sf_dir, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    d = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.ntile(10).over(w).cast("long").alias("decile"),
    )
    return d.groupBy("decile").agg(
        F.count("*").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_value"),
        F.round(F.max("o_totalprice"), 2).alias("max_value"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_value"),
    )


def cep_pattern_scan(spark, sf_dir):
    """MATCH_RECOGNIZE-lite: Kleene-star event-pattern detection over
    per-user ordered sequences — the quantified-pattern half of CEP
    that `cep_sequence`'s fixed A->B->C detector can't express (Flink
    MATCH_RECOGNIZE / Esper analog; Hydra analog: the per-request
    ingest-protocol state machine, IngestionSupervisor lifecycle).
    Each user's history is encoded as a character string (one char per
    event, ordered by ts with event_id tiebreak) and the pattern
    ``c v* p`` (click, any views, purchase) runs as a REGEX on that
    encoding — declarative, JVM-side, and expressible in both engines,
    so the row is fully oracle-checked (the pattern grammar is the
    Java∩RE2 subset, same discipline as pii_redact).

    Scale shape: one hash aggregation (collect_list per user — bounded
    by per-user history, the same state bound any CEP engine needs),
    sort + encode + regex inside whole-stage codegen. At 10^12 events
    the shuffle is the per-user grouping every sequence operator pays;
    no driver round-trips, no UDF."""
    ev = load(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", ch.alias("ch")))
            ),
            lambda x: x["ch"],
        ),
        "",
    )
    agg = ev.groupBy("user_id").agg(seq.alias("seq"))
    pat = "cv*p"
    return agg.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.col("seq").rlike(pat).alias("matched"),
        # first-match semantics are identical in Java and RE2 (leftmost,
        # greedy star); '' for non-matching users on both sides
        F.regexp_extract("seq", pat, 0).alias("first_match"),
    )


def bloom_filtered_join(spark, sf_dir):
    """Runtime bloom-filter join — the row-granular sibling of
    dpp_partitioned_scan's partition pruning: when a selective dim
    filter (one quarter of orders) feeds a SHUFFLE join, Catalyst
    builds a bloom filter over the dim's join keys and injects a
    might-contain probe on the fact side BELOW its exchange, so
    non-joining lineitem rows are discarded before they shuffle — at
    10^12 rows that turns a full-fact exchange into a ~3%-survivor
    exchange no static filter could express. The injection is asserted
    engine-side under forced-shuffle planning (broadcast disabled +
    fixture-scale thresholds, restored in a finally); the RETURNED
    answer is built under the session's normal planning — same result
    by construction, which is exactly what the oracle certifies."""
    def build():
        li = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        return (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_lines"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("revenue"),
            )
        )

    conf = spark.conf
    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {}
    for k, v in keys.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        import contextlib as _ctx
        import io as _io

        buf = _io.StringIO()
        with _ctx.redirect_stdout(buf):
            build().explain("formatted")
        if "bloom_filter_agg" not in buf.getvalue():
            raise RuntimeError(
                "runtime bloom-filter injection regressed: no "
                "bloom_filter_agg in the forced-shuffle plan"
            )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    return build()


def kleene_stream_scan(spark, sf_dir):
    """The streaming Kleene-star matcher, fully SQL-certified: the same
    'click view* purchase' quantified pattern `cep_pattern_scan` runs
    declaratively is matched INCREMENTALLY here by the O(1)-per-key
    applyInPandasWithState operator (operators/cep.py
    kleene_matches_stream) over a bounded replay of the events fixture,
    emitting (user, seq_start, seq_end, n_absorbed) per completed
    match. The oracle exploits strict contiguity: a purchase completes
    a match iff the user's LATEST PRECEDING NON-VIEW event is a click
    within the time budget (between them can only be views, and a
    second purchase's latest non-view is the first purchase — exactly
    the matcher's kill/reopen semantics), which is a pure window
    expression in SQL — so the driver hash-checks the streaming
    operator's complete output, not a projection. In-order contract:
    the replay writes ONE file consumed in ONE availableNow batch; the
    matcher sorts within the batch by (ts, event_id)."""
    import os as _os
    import shutil as _shutil

    tag = _os.path.basename(sf_dir.rstrip("/"))
    root = _os.path.join(ENTRY_DATA, f"kleene_{tag}")
    _shutil.rmtree(root, ignore_errors=True)
    src = _os.path.join(root, "src")
    ev = _kleene_events(spark, sf_dir)
    ev.coalesce(1).write.parquet(src)
    return _run_kleene_stream(spark, ev.schema, src, _os.path.join(root, "_cp"))


def _kleene_events(spark, sf_dir) -> DataFrame:
    """events projected to the Kleene rows' shared shape: string key,
    one pattern char per event, watermark-capable timestamp."""
    return load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id"),
        F.when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("x")
        .alias("ch"),
        # the fixture's NTZ timestamps can't carry a watermark
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
    )


def _run_kleene_stream(spark, schema, src: str, cp: str) -> DataFrame:
    """Run the streaming Kleene matcher ('c v* p' within a day) over a
    parquet replay dir and return its collected matches as a batch
    DataFrame (the shape both kleene rows' shared oracle checks)."""
    from hydra_spark.operators.cep import kleene_matches_stream

    stream = spark.readStream.schema(schema).parquet(src)
    matches = kleene_matches_stream(
        stream,
        "user_id",
        "ch",
        "ts",
        a="c",
        b="v",
        c="p",
        within_seconds=86400,
        watermark="0 seconds",
        tiebreak_col="event_id",
    )
    rows = []
    q = (
        matches.writeStream.foreachBatch(lambda bdf, bid: rows.extend(bdf.collect()))
        .option("checkpointLocation", cp)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.createDataFrame(
        rows, "user_id string, seq_start timestamp, seq_end timestamp, n_absorbed int"
    )


def kleene_unordered_scan(spark, sf_dir):
    """The Kleene pipeline with its in-order contract BROKEN upstream
    and restored by the event-time re-sequencer (operators/reorder.py):
    the events fixture is replayed as jittered time-sliced files, one
    file per micro-batch, so event time regresses across batches
    (asserted engine-side — a fixture that happened to arrive ordered
    would certify nothing); ``reorder_events`` (2-day bound, > the
    1-day slicing jitter) buffers and re-emits per-key in event-time
    order — order and completeness both asserted engine-side — and the
    matcher then runs on the re-sequenced replay. The oracle is shared
    verbatim with ``kleene_stream_scan``: same matches, because the
    re-sequencer restored exactly the contract the matcher assumes."""
    import os as _os
    import shutil as _shutil

    import pandas as _pd

    from hydra_spark.operators.reorder import reorder_events

    tag = _os.path.basename(sf_dir.rstrip("/"))
    root = _os.path.join(ENTRY_DATA, f"kleene_unord_{tag}")
    _shutil.rmtree(root, ignore_errors=True)
    src = _os.path.join(root, "src")
    _os.makedirs(src)
    ev = _kleene_events(spark, sf_dir)
    slice_s, jitter_s, delay_s = 7 * 86400, 86400, 2 * 86400
    # deterministic per-event jitter (no rand(): replay-stable)
    sliced = ev.withColumn(
        "_file",
        F.floor(
            (F.unix_timestamp("ts") + F.pmod(F.xxhash64("event_id"), F.lit(jitter_s)))
            / F.lit(slice_s)
        ),
    )
    pdf = sliced.toPandas().sort_values("_file", kind="mergesort")
    n_in = len(pdf)
    prev_max, disorder = None, False
    for i, (_f, part) in enumerate(pdf.groupby("_file", sort=True)):
        part = part.drop(columns="_file").copy()
        if prev_max is not None and part["ts"].min() < prev_max:
            disorder = True
        prev_max = part["ts"].max() if prev_max is None else max(prev_max, part["ts"].max())
        part["ts"] = part["ts"].astype("datetime64[us]")
        path = _os.path.join(src, f"file_{i:03d}.parquet")
        part.to_parquet(path, index=False)
        _os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    if not disorder:
        raise RuntimeError(
            "jittered slicing produced an in-order replay — the row would "
            "certify nothing; widen the jitter"
        )
    # two far-future sentinel files: round 1 advances the watermark past
    # every real event, round 2 runs the batch whose timeouts drain state
    last_i = i
    for r in (1, 2):
        s = _pd.DataFrame(
            {
                "user_id": ["zz-sentinel"],
                "ch": ["x"],
                "ts": [(prev_max + _pd.Timedelta(days=29 + r)).floor("us")],
                "event_id": [-r],
            }
        )
        s["ts"] = s["ts"].astype("datetime64[us]")
        path = _os.path.join(src, f"file_{last_i + r:03d}.parquet")
        s.to_parquet(path, index=False)
        _os.utime(path, (1_700_000_000 + last_i + r,) * 2)

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    ordered = reorder_events(stream, "user_id", "ts", watermark=f"{delay_s} seconds")
    got: list = []
    q = (
        ordered.writeStream.foreachBatch(lambda bdf, bid: got.extend(bdf.collect()))
        .option("checkpointLocation", _os.path.join(root, "_cp1"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    real = [r for r in got if r.user_id != "zz-sentinel"]
    if len(real) != n_in:
        raise RuntimeError(
            f"re-sequencer emitted {len(real)} of {n_in} rows — "
            "bounded-lateness reordering must be lossless here"
        )
    last_ts: dict = {}
    for r in real:  # collection order == per-key emission order
        if r.user_id in last_ts and r.ts < last_ts[r.user_id]:
            raise RuntimeError(f"re-sequencer order violated for {r.user_id}")
        last_ts[r.user_id] = r.ts
    ordered_src = _os.path.join(root, "ordered")
    spark.createDataFrame(real, ev.schema).coalesce(1).write.parquet(ordered_src)
    return _run_kleene_stream(spark, ev.schema, ordered_src, _os.path.join(root, "_cp2"))


def dpp_partitioned_scan(spark, sf_dir):
    """Dynamic partition pruning — the runtime half of partition
    elimination, and the feature a 100-TB star join lives on: the
    events fact is laid out PARTITIONED BY its category key (Hive-style
    directories, the Iceberg identity-partition analog), the dimension
    carries the selective filter (tier = 'hot'), and Catalyst injects a
    ``dynamicpruning`` subquery on the fact scan so only the dimension-
    surviving partitions' FILES are listed and read — the pruning value
    set is not known until runtime, so no static filter could do this.
    The row asserts the plan shape engine-side (a missing
    dynamicpruning subquery fails loudly: silently reading every
    partition is exactly the regression this row exists to catch) and
    the answer is oracle-checked against the equivalent static SQL.
    Both tables are built deterministically from the driver fixture and
    stamped by source mtime (same pattern as the clips fixtures)."""
    import os as _os

    tag = _os.path.basename(sf_dir.rstrip("/"))
    root = _os.path.join(ENTRY_DATA, f"dpp_{tag}")
    fact_dir = _os.path.join(root, "events_by_type")
    dim_dir = _os.path.join(root, "type_dim")
    src_mtime = str(
        int(_os.path.getmtime(_os.path.join(sf_dir, "events.parquet")))
    )
    stamp = _os.path.join(root, "_source_mtime")
    fresh = (
        _os.path.exists(_os.path.join(fact_dir, "_SUCCESS"))
        and _os.path.exists(_os.path.join(dim_dir, "_SUCCESS"))
        and _os.path.exists(stamp)
        and open(stamp).read() == src_mtime
    )
    if not fresh:
        ev = load(spark, sf_dir, "events")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(fact_dir)
        # the dim derives from the fact's own key domain: interaction
        # types are 'hot', the rest 'cold' — deterministic
        dim = (
            ev.select("event_type")
            .distinct()
            .withColumn(
                "tier",
                F.when(
                    F.col("event_type").isin("click", "view"), "hot"
                ).otherwise("cold"),
            )
        )
        dim.coalesce(1).write.mode("overwrite").parquet(dim_dir)
        with open(stamp, "w") as f:
            f.write(src_mtime)
    fact = spark.read.parquet(fact_dir)
    hot = spark.read.parquet(dim_dir).where(F.col("tier") == "hot")
    j = fact.join(F.broadcast(hot), "event_type")
    out = j.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    import contextlib as _ctx
    import io as _io

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        out.explain("formatted")
    if "dynamicpruning" not in buf.getvalue():
        raise RuntimeError(
            "dynamic partition pruning regressed: no dynamicpruning "
            "subquery on the partitioned fact scan"
        )
    return out


def lineitem_rollup(spark, sf_dir):
    """Hierarchical subtotal aggregation — GROUP BY ROLLUP over
    (returnflag, linestatus) with grouping_id disambiguating subtotal
    levels (the reporting shape the reference serves through its
    metadata rollup endpoints). Spark's rollup() compiles to ONE
    Expand + hash aggregate with map-side partial aggregation — the
    subtotal levels share a single shuffle, not one job per level; at
    100 TB the Expand multiplies rows 3x BEFORE partial agg collapses
    them per task, so the shuffle stays aggregate-sized."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            # grouping_id() must be computed WITH the aggregate (it is
            # an output of the Expand, not of the result projection)
            F.grouping_id().alias("gid"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
            F.count("*").alias("n_rows"),
        )
        .select("gid", "l_returnflag", "l_linestatus", "sum_qty", "sum_price", "n_rows")
    )


def events_cube(spark, sf_dir):
    """Full cross-dimension subtotals — GROUP BY CUBE over
    (event_type, user_bucket). Same single-Expand/single-shuffle shape
    as ROLLUP (4 grouping sets instead of 3); grouping_id labels the
    level. The Expand's 4x row multiplication collapses in the map-side
    partial aggregate, so the shuffle stays aggregate-sized at 100 TB."""
    ev = load(spark, sf_dir, "events").withColumn(
        "user_bucket", F.col("user_id") % 10
    )
    return (
        ev.cube("event_type", "user_bucket")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("gid", "event_type", "user_bucket", "n_events", "sum_value")
    )


def events_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS — the general form ROLLUP/CUBE are sugar
    for: here {(event_type), (user_bucket)} — two independent marginal
    breakdowns that are NOT a rollup (no grand total, no pair level), so
    neither sugar can express them. Still one Expand (2x) + one shuffle
    with map-side partials; computing the two marginals as separate
    queries would scan the 100-TB input twice."""
    ev = load(spark, sf_dir, "events").withColumn(
        "user_bucket", F.col("user_id") % 10
    )
    return (
        ev.groupingSets(
            [["event_type"], ["user_bucket"]], "event_type", "user_bucket"
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select("gid", "event_type", "user_bucket", "n_events", "sum_value")
    )


def events_pivot(spark, sf_dir):
    """Pivot the event stream into a wide per-user-bucket metrics table
    (one column per event type). The value list is EXPLICIT: Spark's
    pivot without values runs an extra distinct job over the full
    input to discover columns — at 100 TB that is a whole wasted scan,
    and a high-cardinality pivot column would explode the schema. With
    pinned values the pivot is one hash aggregate with map-side
    partials, same cost as a plain groupBy."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.round(F.sum("value"), 4))
    )


# ------------------------------------------- validation depth (T2/T5/T7/K6)

def uuid_validation(spark, sf_dir):
    """T5/F5 uuid logical-type validation (StringToGenericRecord.scala:63-64):
    non-null uuid strings must parse; nulls pass (nullable union)."""
    from hydra_spark import validation as V

    ev = load(spark, sf_dir, "events")
    h = F.md5(F.col("event_id").cast("string"))
    uuid_ok = F.concat_ws(
        "-",
        F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12),
    )
    uuid_col = (
        F.when(F.col("event_id") % 97 == 0, F.lit(None).cast("string"))
        .when(F.col("event_id") % 50 == 0, h)  # undashed -> invalid
        .otherwise(uuid_ok)
    )
    checked = V.admission_checks(
        ev.select("event_id", uuid_col.alias("uuid_str")),
        enforce_positive_ts=False, uuid_cols=["uuid_str"],
    )
    return checked.select("event_id", "uuid_str", "reject_reason")


def strict_extra_fields(spark, sf_dir):
    """T2 recursive strict validation over row-level JSON payloads
    (StringToGenericRecord.scala:28-51): every undeclared field path —
    including inside nested records — is reported; strict mode rejects."""
    from hydra_spark import validation as V

    ev = load(spark, sf_dir, "events")
    # a props row lacking $.k yields explicit JSON null, never a NULL
    # payload — keeps engine and oracle on the same branch even if a
    # fixture refresh adds missing-k rows (oracle guards identically)
    k = F.coalesce(F.get_json_object("props", "$.k"), F.lit("null"))
    payload = (
        F.when(
            F.col("event_id") % 10 == 0,
            F.concat(F.lit('{"k":'), k, F.lit(',"extra1":1,"nested":{"a":1,"zz":2}}')),
        )
        .otherwise(F.concat(F.lit('{"k":'), k, F.lit(',"nested":{"a":1}}')))
    )
    df = ev.select("event_id", payload.alias("payload"))
    extras = V.extra_json_field_paths("payload", {"": ["k", "nested"], "nested": ["a"]})
    return df.select(
        "event_id",
        F.when(F.size(extras) > 0, F.array_join(extras, ",")).alias("extra_fields"),
        F.when(
            F.size(extras) > 0, F.concat(F.lit("ExtraFields:"), F.array_join(extras, ","))
        ).alias("reject_reason"),
    )


def publish_error_codes(spark, sf_dir):
    """K6 typed publish-error taxonomy (KafkaClientAlgebra.scala:182-202):
    reject reasons carry stable numeric codes (408/413/... analogs)."""
    from hydra_spark import validation as V

    docs = load(spark, sf_dir, "documents")
    reason = (
        F.when(F.col("doc_id") % 50 == 0, F.lit("Timeout:simulated-broker-timeout"))
        .when(
            F.length("text") > 300,
            F.concat(F.lit("RecordTooLarge:"), F.length("text").cast("string"), F.lit(">300")),
        )
    )
    out = docs.select("doc_id", reason.alias("reject_reason")).where(
        F.col("reject_reason").isNotNull()
    )
    return out.withColumn("error_code", V.error_code(F.col("reject_reason")))


def kv_mismatch_report(spark, sf_dir):
    """T7 key/value consistency report (IngestionFlowV2.scala:120-141):
    fields present in both key and value payloads must agree; one report
    row per (record, mismatched field)."""
    from hydra_spark import validation as V

    ev = load(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.col("user_id").alias("key_user_id"),
        F.when(F.col("event_id") % 97 == 0, F.col("user_id") + 1)
        .otherwise(F.col("user_id"))
        .alias("value_user_id"),
        F.col("event_type").alias("key_event_type"),
        F.when(F.col("event_id") % 203 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("event_type"))
        .alias("value_event_type"),
    )
    return V.key_value_mismatch_report(
        df,
        ["event_id"],
        [
            ("user_id", "key_user_id", "value_user_id"),
            ("event_type", "key_event_type", "value_event_type"),
        ],
    )


def schema_evolution(spark, sf_dir):
    """D2 schema registration / evolution (SchemaRegistry.scala:39-119):
    snapshot 1 written under schema v1 (o_orderkey, o_custkey), schema
    evolved additively to v2 (+ o_totalprice, default 0.0), snapshot 2
    written under v2; the evolution-aware read fills old rows with the
    default. Also exercises idempotent re-register (same fields -> same
    version id)."""
    import os as _os
    import shutil as _shutil

    from hydra_spark.tables import TransactionalTable

    root = _os.path.join(ENTRY_DATA, f"schema_evo_{_os.path.basename(sf_dir.rstrip('/'))}")
    _shutil.rmtree(root, ignore_errors=True)
    t = TransactionalTable(root, ["o_orderkey"], n_buckets=8)
    v1 = t.register_schema(
        [{"name": "o_orderkey", "type": "bigint"}, {"name": "o_custkey", "type": "bigint"}]
    )
    assert t.register_schema(t.schema_version(v1)["fields"]) == v1  # idempotent
    orders = load(spark, sf_dir, "orders")
    snap1 = orders.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_custkey")
    t.merge_upsert(spark, snap1, "snap1")
    t.register_schema(
        [
            {"name": "o_orderkey", "type": "bigint"},
            {"name": "o_custkey", "type": "bigint"},
            {"name": "o_totalprice", "type": "double", "default": 0.0},
        ]
    )
    snap2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t.merge_upsert(spark, snap2, "snap2")
    return t.read(spark).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


def table_time_travel(spark, sf_dir):
    """Iceberg-style snapshot time travel + rollback on the
    transactional table (tables.py snapshots/read(version)/rollback —
    Iceberg VERSION AS OF / rollback_to_snapshot; Hydra analog: the
    compacted-topic history a consumer can re-read from any offset).

    Three oracle-checked snapshots of one keyed table:
      * v1    — all orders upserted (batch b1)
      * current — after batch b2: totalprice doubled where custkey%3=0,
        keys with orderkey%5=0 tombstone-deleted
      * rolled_back — read AFTER rollback(v1): must equal v1 exactly
    Every row is an aggregate over a table state, so the DuckDB oracle
    reproduces each snapshot from the raw orders table in SQL."""
    import os as _os
    import shutil as _shutil

    from hydra_spark.tables import TransactionalTable

    root = _os.path.join(
        ENTRY_DATA, f"time_travel_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    _shutil.rmtree(root, ignore_errors=True)
    t = TransactionalTable(root, ["o_orderkey"], n_buckets=8)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    t.merge_upsert(spark, orders, "b1")
    v1 = t.manifest()["version"]

    updates = (
        orders.where((F.col("o_custkey") % 3 == 0) & (F.col("o_orderkey") % 5 != 0))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("_delete", F.lit(False))
    )
    deletes = orders.where(F.col("o_orderkey") % 5 == 0).withColumn("_delete", F.lit(True))
    t.merge_upsert(spark, updates.unionByName(deletes), "b2")

    def agg(df, label):
        return df.agg(
            F.lit(label).alias("snap"),
            F.count("*").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )

    hist = t.read(spark, version=v1)  # time travel (file list pinned now)
    cur = t.read(spark)
    assert t.rollback(v1) == t.manifest()["version"]
    back = t.read(spark)  # post-rollback current == v1 state
    # replaying an already-committed batch after rollback stays a no-op
    assert t.merge_upsert(spark, deletes, "b2") is False
    return agg(hist, "v1").unionByName(agg(cur, "current")).unionByName(
        agg(back, "rolled_back")
    )


def _changes_fixture(spark, sf_dir, name):
    """Two-commit change scenario over orders, shared by the batch CDF
    read (table_changes) and the streaming CDF source
    (table_changes_stream). Commit b1 = all orders; commit b2 = doubled
    totalprice where custkey%3=0 (update), tombstones where orderkey%5=0
    (delete), fresh negative-key copies (-k-1) where orderkey%7=0
    (insert). Returns (table, v1, root)."""
    import os as _os
    import shutil as _shutil

    from hydra_spark.tables import TransactionalTable

    root = _os.path.join(
        ENTRY_DATA, f"{name}_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    _shutil.rmtree(root, ignore_errors=True)
    t = TransactionalTable(root, ["o_orderkey"], n_buckets=8)
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    t.merge_upsert(spark, orders, "b1")
    v1 = t.manifest()["version"]

    updates = (
        orders.where((F.col("o_custkey") % 3 == 0) & (F.col("o_orderkey") % 5 != 0))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("_delete", F.lit(False))
    )
    deletes = orders.where(F.col("o_orderkey") % 5 == 0).withColumn("_delete", F.lit(True))
    inserts = (
        orders.where(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderkey", -F.col("o_orderkey") - 1)
        .withColumn("_delete", F.lit(False))
    )
    t.merge_upsert(spark, updates.unionByName(deletes).unionByName(inserts), "b2")
    return t, v1, root


def table_skipping_scan(spark, sf_dir):
    """Iceberg-style file-skipping scan: manifest column bounds (per-file
    min/max lifted from parquet footers at COMMIT time — tables.py
    _file_column_stats / plan_files / read_where) prune whole files from
    a time-range query without opening them. The fixture appends events
    in four weekly generations, so each generation's files carry that
    week's event-time bounds; the week-3 range query must plan to read
    only generation files whose bounds intersect — asserted engine-side,
    so a stats regression fails the row loudly instead of silently
    reading everything. At 10^12 rows this is the difference between a
    one-day scan and a full-table scan (Hydra analog: S5 offset seek
    skipping whole log segments — consumer seek path,
    ingestors/kafka/src/main/scala/hydra/kafka/algebras/ConsumerGroupsAlgebra.scala
    replay-from-offset semantics). The answer is residual-filtered, so
    pruning can only remove work, never change the result — the oracle
    recomputes it from raw events in SQL."""
    import datetime as _dt
    import os as _os
    import shutil as _shutil

    from hydra_spark.tables import TransactionalTable

    root = _os.path.join(
        ENTRY_DATA, f"skip_scan_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    _shutil.rmtree(root, ignore_errors=True)
    t = TransactionalTable(root, ["event_id"], n_buckets=8)
    ev = load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    weeks = ["2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-02-01"]
    for i in range(4):
        gen = ev.where((F.col("ts") >= weeks[i]) & (F.col("ts") < weeks[i + 1]))
        t.append_dedup(spark, gen, f"week{i}")
    lo = _dt.datetime(2024, 1, 15)
    hi = _dt.datetime(2024, 1, 21, 23, 59, 59, 999999)
    kept, total = t.plan_files({"ts": (lo, hi)})
    if not kept or len(kept) >= total:
        raise RuntimeError(
            f"file skipping regressed: planned {len(kept)}/{total} files for a "
            "one-week range over four weekly generations"
        )
    return (
        t.read_where(spark, {"ts": (lo, hi)})
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def sketch_distinct_users(spark, sf_dir):
    """HLL++ sketch certification (approx_count_distinct, rsd=0.02):
    the sketch estimate is asserted engine-side within 5% of the exact
    per-group distinct count, and the row OUTPUTS the exact counts so
    the DuckDB oracle stays exact — cross-engine sketch equality is not
    a meaningful contract (Spark's HLL++ and DuckDB's sketch differ by
    design), bounded error against ground truth is. Scale posture: the
    sketch is THE 10^12-row path — fixed-size state, partial sketches
    merge map-side, no shuffle of raw user ids; the exact count exists
    here only as the certification baseline."""
    ev = load(spark, sf_dir, "events")
    checks = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
        )
        .collect()
    )
    for r in checks:
        if abs(r.n_approx - r.n_exact) > max(1.0, 0.05 * r.n_exact):
            raise RuntimeError(
                f"HLL++ error bound regressed: {r.event_type} approx "
                f"{r.n_approx} vs exact {r.n_exact}"
            )
    return spark.createDataFrame(
        [(r.event_type, r.n_exact) for r in checks],
        "event_type string, n_users bigint",
    )


def sketch_value_quantiles(spark, sf_dir):
    """Quantile sketch certification (percentile_approx, accuracy 1e4):
    per-event-type p50/p95 estimates asserted engine-side within 2% of
    the exact interpolated percentiles; the output is the EXACT
    percentiles (DuckDB quantile_cont uses the same interpolation, so
    the oracle is exact — the clips_percentiles row pinned that
    equivalence). Scale posture: percentile() buffers every value per
    group; percentile_approx's KLL-style sketch is the fixed-memory
    path at 10^12 rows, certified here against ground truth."""
    ev = load(spark, sf_dir, "events")
    checks = (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, array(0.5, 0.95))").alias("exact"),
            F.expr("percentile_approx(value, array(0.5, 0.95), 10000)").alias("approx"),
        )
        .collect()
    )
    for r in checks:
        for e, a, q in zip(r.exact, r.approx, ("p50", "p95")):
            if abs(a - e) > max(0.5, 0.02 * abs(e)):
                raise RuntimeError(
                    f"quantile sketch error bound regressed: {r.event_type} "
                    f"{q} approx {a} vs exact {e}"
                )
    return spark.createDataFrame(
        [(r.event_type, round(r.exact[0], 4), round(r.exact[1], 4)) for r in checks],
        "event_type string, p50 double, p95 double",
    )


def sketch_heavy_hitters(spark, sf_dir):
    """Frequent-items sketch certification (df.stat.freqItems — the
    Karp/Shenker/Papadimitriou one-pass algorithm): the sketch's
    guarantee is a SUPERSET — every item with frequency above the
    support threshold appears in the candidate set (false positives
    allowed, false negatives never). That containment is asserted
    engine-side against the exact heavy hitters; the row OUTPUTS the
    exact set+counts so the oracle stays exact SQL. Scale posture: the
    sketch holds <= 1/support counters per partition and merges —
    frequency profiling of a 10^12-row key column without a groupBy
    shuffle of every distinct key."""
    support = 1.0 / 150  # 'above average user' — non-empty at every SF
    ev = load(spark, sf_dir, "events")
    total = ev.count()
    candidates = set(
        ev.select("user_id").stat.freqItems(["user_id"], support=support).collect()[0][0]
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .where(F.col("n_events") > support * total)
    )
    missing = [r.user_id for r in exact.collect() if r.user_id not in candidates]
    if missing:
        raise RuntimeError(
            f"freqItems superset guarantee violated: true heavy hitters "
            f"{missing[:5]} absent from the candidate set"
        )
    return exact


def variant_json_scan(spark, sf_dir):
    """Semi-structured VARIANT path (Spark 4 parse_json/variant_get —
    the open-format answer to schema-on-read JSON columns): the events
    props JSON parses ONCE into the binary variant encoding, typed
    paths extract without re-parsing, and a missing path is NULL via
    try_variant_get instead of an error. At 10^12 rows variant's
    shredded binary beats per-query string re-parsing (every
    get_json_object call re-tokenizes the string); extraction stays
    whole-stage-codegen. The oracle extracts the same paths with
    DuckDB's JSON functions."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("v"),
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
        F.expr("try_variant_get(v, '$.missing', 'int')").alias("absent"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.count("absent").alias("n_absent_nonnull"),
    )


def table_zorder_scan(spark, sf_dir):
    """Z-order compaction (tables.compact zorder_by — the Delta OSS
    Z-ORDER analog): events rewrite onto a (value, user_id) Z-curve,
    after which range queries on EITHER axis prune files via manifest
    stats. A single-column sort gives perfect pruning on one axis and
    none on the other; the Z-curve's locality gives ~sqrt-fraction
    pruning on both — the right layout for a 10^12-row table queried
    independently by time AND by entity. Both probes' pruning is
    asserted engine-side (a layout regression fails the row loudly);
    answers are residual-filtered so pruning can only remove work —
    the oracle recomputes both probes from raw events in SQL."""
    import os as _os
    import shutil as _shutil

    from hydra_spark.tables import TransactionalTable

    root = _os.path.join(
        ENTRY_DATA, f"zorder_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    _shutil.rmtree(root, ignore_errors=True)
    t = TransactionalTable(root, ["event_id"], n_buckets=1)
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    n = ev.count()
    t.append_dedup(spark, ev, "g0")
    t.compact(
        spark,
        max_files_per_bucket=0,
        zorder_by=["value", "user_id"],
        target_file_rows=max(64, n // 16),
    )
    probes = {"by_value": {"value": (100.0, 160.0)}, "by_user": {"user_id": (30, 59)}}
    out = None
    for name, pred in probes.items():
        kept, total = t.plan_files(pred)
        if not kept or len(kept) >= total:
            raise RuntimeError(
                f"z-order pruning regressed: probe {name} planned "
                f"{len(kept)}/{total} files"
            )
        agg = (
            t.read_where(spark, pred)
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .select(F.lit(name).alias("probe"), "n_events", "sum_value", "n_users")
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def table_changes(spark, sf_dir):
    """Change-data-feed read between two snapshots (tables.py
    read_changes — Delta CDF / Iceberg incremental-scan analog; Hydra
    analog: consuming a compacted topic's delta instead of re-reading
    the full state). read_changes(v1) must emit exactly the three
    change sets of _changes_fixture — the oracle reproduces them from
    raw orders in SQL. Bucket pruning (manifest-diff) is
    pytest-asserted separately."""
    t, v1, _ = _changes_fixture(spark, sf_dir, "table_changes")
    return t.read_changes(spark, v1).select(
        "o_orderkey",
        F.col("_change_type").alias("change_type"),
        F.round("o_totalprice", 2).alias("price"),
    )


def table_changes_stream(spark, sf_dir):
    """The SAME change scenario consumed through the hydra_cdf
    STREAMING source (sources/cdf_stream.py: manifest-version offsets,
    one input partition per changed bucket, per-bucket local diff — no
    shuffle). The stream runs bounded here (processAllAvailable) and
    the collected micro-batch rows are returned as a DataFrame holding
    exactly what a continuous consumer would have received — the
    oracle is shared verbatim with the batch table_changes row, so the
    driver certifies batch/stream parity of the change feed."""
    import os as _os

    from hydra_spark.sources.cdf_stream import stream_changes

    t, v1, root = _changes_fixture(spark, sf_dir, "table_changes_stream")
    rows = []
    q = (
        stream_changes(spark, t.path, starting_version=v1)
        .writeStream.foreachBatch(lambda bdf, bid: rows.extend(bdf.collect()))
        .option("checkpointLocation", _os.path.join(root, "_cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_totalprice double, _change_type string"
    ).select(
        "o_orderkey",
        F.col("_change_type").alias("change_type"),
        F.round("o_totalprice", 2).alias("price"),
    )


def doc_hash_split(spark, sf_dir):
    """Deterministic key-stable train/val/test assignment
    (ops/sampling.py hash_split): md5(doc_id) thresholded at exact
    0.8/0.9 cumulative hex literals — a pure projection, no shuffle, no
    seed; a record can never migrate across splits when data is added
    or the job re-runs. Membership itself (not just the counts) is
    oracle-checked via sum(doc_id) per split."""
    from hydra_spark.ops.sampling import hash_split

    docs = load(spark, sf_dir, "documents")
    out = hash_split(docs, {"train": "0.8", "val": "0.1", "test": "0.1"}, "doc_id")
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_id")
    )


def doc_stratified_sample(spark, sf_dir):
    """Key-stable stratified sampling (ops/sampling.py
    stratified_sample): per-language keep fractions via salted
    md5-thresholding — the deterministic analog of sampleBy. en 50%,
    de/fr 25%, es 100% (the clamp path), zh absent -> dropped
    (default 0). Same projection-only scale shape as hash_split."""
    from hydra_spark.ops.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, {"en": "0.5", "de": "0.25", "fr": "0.25", "es": 1},
        group_col="lang", key_col="doc_id", salt="v1",
    )
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_id")
    )


def json_typed_convert(spark, sf_dir):
    """T3 payload->typed conversion with augmented error detail
    (Hydra JSON->Avro conversion, StringToGenericRecord.scala:74-85;
    error augmentation IngestionFlow.scala:79-89): malformed payloads
    become a typed NULL + error column — conversion never fails rows."""
    ev = load(spark, sf_dir, "events")
    payload = (
        F.when(F.col("event_id") % 25 == 0, F.concat(F.lit("x"), F.col("props")))
        # valid JSON that simply lacks "k": k_typed is NULL but there is
        # NO conversion error — malformation must be detected from the
        # PERMISSIVE corrupt-record column, never from field-nullness
        .when(F.col("event_id") % 30 == 7, F.lit('{"other":1}'))
        .otherwise(F.col("props"))
    )
    corrupt = "_corrupt_record"
    parsed = F.from_json(
        payload, f"k BIGINT, {corrupt} STRING", {"columnNameOfCorruptRecord": corrupt}
    )
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_typed"),
        F.when(
            parsed.getField(corrupt).isNotNull(),
            F.lit("JsonConversionError:malformed payload"),
        ).alias("conv_error"),
    )


def socket_ingest_report(spark, sf_dir):
    """S3 WebSocket framed-protocol flow (IngestionSocketActor.scala:
    57-148 + IngestionWebSocketEndpoint.scala:69-95): command frames
    (-c help / -c set / -c set K=V with hydra-ack validation), session
    metadata threaded to later frames per connection, per-frame ingest
    reports, and the frame limit -> 400."""
    from hydra_spark.socket_flow import interpret_frames

    ev = load(spark, sf_dir, "events")
    m = F.col("event_id") % 12
    frame = (
        F.when(m == 0, F.lit("-c set hydra-ack=replicated"))
        .when(m == 1, F.lit("-c set hydra-ack=bogus"))
        .when(m == 2, F.lit("-c set HYDRA-KAFKA-TOPIC=test.topic"))
        .when(m == 3, F.lit("-c help"))
        .when(m == 4, F.lit("-c frobnicate"))
        .when(m == 5, F.lit("-c set"))
        .when(m == 6, F.concat(F.lit("-i c"), F.col("event_id").cast("string"),
                               F.lit(" "), F.col("props")))
        .when(m == 7, F.concat(F.lit("x"), F.col("props")))
        .otherwise(F.col("props"))
    )
    frames = ev.select(
        (F.col("user_id") % 8).alias("conn_id"),
        F.col("event_id").alias("frame_idx"),
        frame.alias("frame"),
    )
    return interpret_frames(frames, "k BIGINT", key_path="$.k", max_frames=1000)


def ingest_report(spark, sf_dir):
    """S1/S2/R2: the request-table ingest-endpoint flow — per-request
    validate -> convert -> key-extract -> status report
    (IngestionFlowV2.scala:94-100, IngestionEndpoint.scala:89-96)."""
    from hydra_spark.ingest_flow import ingest_requests

    ev = load(spark, sf_dir, "events")
    # a props row lacking $.k yields explicit JSON null, never a NULL
    # payload — keeps engine and oracle on the same branch even if a
    # fixture refresh adds missing-k rows (oracle guards identically)
    k = F.coalesce(F.get_json_object("props", "$.k"), F.lit("null"))
    payload = (
        F.when(
            F.col("event_id") % 40 == 0,
            F.concat(F.lit('{"k":'), k, F.lit(',"pad":"'), F.repeat(F.lit("x"), 500), F.lit('"}')),
        )
        .when(F.col("event_id") % 25 == 0, F.concat(F.lit("x"), F.col("props")))
        .otherwise(F.col("props"))
    )
    reqs = ev.select(F.col("event_id"), payload.alias("payload"))
    out = ingest_requests(
        reqs, "k BIGINT, pad STRING", key_path="$.k", max_bytes=300, id_col="event_id"
    )
    return out.select(
        "event_id",
        "key",
        F.col("value").getField("k").alias("k_typed"),
        "status_code",
        "error",
    )


def subject_validation(spark, sf_dir):
    """Bulk Subject (topic-name) validation over a catalog of proposed
    names — the refined-regex gate every create-topic request passes in
    the reference (TopicMetadataV2Transport.scala:113-127 Subject /
    createValidated). Candidate names are derived deterministically from
    the nation fixture so the row exercises every grammar branch: valid
    orgs, an unknown org, the ``_org`` alnum-tail form, hyphenated
    segments, doubled hyphens, and an empty trailing segment. The
    classifier (tables.subject_valid_col) is one JVM regexp conjunct —
    a pure map, no shuffle, linear over any catalog size."""
    from hydra_spark.tables import subject_valid_col

    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    org = (
        F.when(k % 5 == 0, F.lit("tech"))
        .when(k % 5 == 1, F.lit("cloud"))
        .when(k % 5 == 2, F.lit("acme"))
        .when(k % 5 == 3, F.concat(F.lit("_t"), k.cast("string")))
        .otherwise(F.lit("fin"))
    )
    seg = (
        F.when(k % 4 == 0, F.lit("clips"))
        .when(k % 4 == 1, F.lit("clips-raw"))
        .when(k % 4 == 2, F.lit("clips--raw"))
        .otherwise(F.lit(""))
    )
    cand = n.select(
        k.alias("nationkey"),
        F.concat(org, F.lit("."), seg).alias("subject"),
    )
    return cand.select(
        "nationkey", "subject", subject_valid_col(F.col("subject")).alias("is_valid")
    )


def tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): six-table join with the
    same-nation constraint (customer and supplier in the same ASIA
    nation). Plan shape for 100 TB: region->nation is folded driver-side
    into the supplier dimension, and that filtered supplier dim (1/5 of
    suppliers, ~10^-4 of lineitem rows) is broadcast — so the fact
    table shuffles only for the orders/customer equi-joins, and the
    selective date filter on orders is pushed to the parquet scan
    before its shuffle."""
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nations = (
        load(spark, sf_dir, "nation")
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    sup = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load(spark, sf_dir, "lineitem")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            F.broadcast(sup),
            (li["l_suppkey"] == sup["s_suppkey"])
            & (cust["c_nationkey"] == sup["s_nationkey"]),
        )
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


def tpch_q4(spark, sf_dir):
    """TPC-H Q4 (order-priority checking), adapted to this fixture's
    columns: the reference predicate l_commitdate < l_receiptdate
    becomes "some lineitem shipped > 60 days after the order date" —
    the plan-shape point is identical: a quarter-filtered orders scan
    EXISTS-tested against the fact table. Plan shape for 100 TB: the
    date filter is pushed to the orders parquet scan before its
    shuffle, and the EXISTS compiles to a LEFT SEMI hash join on
    l_orderkey — each order emits at most once, no fact-side
    duplication, no distinct needed; the non-equi late-shipment
    conjunct rides the semi join as a join filter, and lineitem's
    projection is pruned to (l_orderkey, l_shipdate) at the scan."""
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > orders["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


def tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue), adapted to this
    fixture's columns (p_brand + p_size stand in for p_brand +
    p_container): average yearly revenue lost if small-quantity orders
    (< 20% of the part's mean order quantity) went unfilled. Plan
    shape for 100 TB: the brand/size filter leaves a tiny part
    dimension that is BROADCAST to lineitem FIRST — the correlated
    scalar subquery (per-part mean quantity) then aggregates only the
    ~10^-3 surviving fraction of the fact, and the mean joins back by
    broadcast; the fact table itself is never shuffled, only its
    filtered projection (partkey, quantity, price) flows through one
    small exchange."""
    part = (
        load(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    hits = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    means = hits.groupBy("p_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    small = hits.join(
        F.broadcast(means), "p_partkey"
    ).where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly")
    )


def tpch_q6(spark, sf_dir):
    """TPC-H Q6 (forecast revenue change): the pure scan-aggregate —
    every predicate (date range, discount band, quantity cap) must
    reach the parquet scan as PushedFilters and the single global
    aggregate collapses map-side; no shuffle of data rows at all, just
    partial-aggregate exchange. At 100 TB this is the
    row-group-pruning showcase: a sorted/partitioned lineitem layout
    serves it from a fraction of the files."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        )
    )


def tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): top revenue-losing
    customers for one quarter's returns. Plan shape for 100 TB: the
    date filter prunes orders at the scan, the returnflag filter
    prunes lineitem at the scan, the orders/lineitem equi-join
    shuffles only those survivors, and customer/nation join back with
    nation broadcast; the top-k is a single ordered limit after the
    aggregate (no full sort of the group set leaves the reducers)."""
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )
    # deterministic top-20: revenue desc, then custkey asc tiebreak
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


def tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): ratio of conditional aggregates —
    promo revenue share for one month. Plan shape for 100 TB: part is
    joined BROADCAST (dimension), lineitem's month filter is pushed to
    the scan, and both the promo and total sums come out of ONE
    aggregate pass (a conditional sum, not two scans)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


def tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): a grouped-HAVING subquery on
    the fact table joined back to orders and customer. Plan shape for
    100 TB: the only full-fact shuffle is the sum-quantity aggregate
    (map-side partials collapse ~4 lineitems/order before the
    exchange); the HAVING > 300 filter leaves a rare-event key set, so
    the joins back to orders and customer broadcast the filtered side
    instead of re-shuffling either dimension."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    hits = orders.join(F.broadcast(big), orders["o_orderkey"] == big["l_orderkey"])
    return (
        cust.join(F.broadcast(hits), hits["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


def tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by year. Plan shape for 100 TB: both dimension chains
    (supplier->nation, customer->nation) are filtered to the two
    nations BEFORE their joins — supplier broadcasts, and the customer
    join's shuffle carries only two nations' customers; the pair
    disjunction (s=A,c=B) or (s=B,c=A) is a residual on the joined rows
    (it references both sides, so it cannot push lower). lineitem's
    two-year ship-date filter reaches the scan."""
    n1, n2 = "NATION_3", "NATION_8"
    nation = load(spark, sf_dir, "nation").where(F.col("n_name").isin(n1, n2))
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): one nation's share of a
    region's ECONOMY-part import volume by year. Plan shape for 100 TB:
    the three dimension chains all broadcast (part filtered by type;
    supplier->nation for the numerator tag; customer->nation->region
    filtered to the region), so the fact shuffles only for the final
    year aggregate; numerator and denominator come out of ONE
    conditional-sum pass, not two scans."""
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_in_region = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_in_region), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution), adapted: the
    fixture has no o_comment, so the excluded-orders predicate is
    priority-based (urgent/high dropped) instead of the spec's comment
    LIKE. Plan shape for 100 TB: the per-customer count aggregates the
    ORDERS side first (map-side partials), the LEFT join preserves
    zero-order customers as NULL->0, and the second aggregate's key
    space (distinct counts) is tiny. Customer never joins the raw fact
    row-for-row at the reducers — only the pre-counted keys."""
    orders = load(spark, sf_dir, "orders").where(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    per_cust = orders.groupBy("o_custkey").agg(F.count("*").alias("n"))
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    c_counts = cust.join(
        per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left"
    ).select(F.coalesce(F.col("n"), F.lit(0)).alias("c_count"))
    return (
        c_counts.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): revenue view for one quarter, then the
    supplier(s) achieving the maximum. Plan shape for 100 TB: ONE scan
    of the filtered fact builds the per-supplier revenue set (a
    DataFrame reused as `rev.agg(max)` would recompute the whole
    subplan — Spark has no automatic CTE reuse across actions — so the
    global max is a WINDOW over the aggregated rows instead: the
    single-partition exchange it forces carries only one narrow row per
    supplier, millions at worst, never fact rows). Supplier is a
    broadcast dimension at the end. Ties (all suppliers at the max) are
    all returned, like the spec's view form."""
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = F.max("total_revenue").over(Window.partitionBy())
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.withColumn("mx", mx)
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.round("total_revenue", 4).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


def tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue), adapted to the fixture's columns
    (no container/shipmode): three brand/size/quantity disjuncts. Plan
    shape for 100 TB: part is broadcast; each disjunct references both
    fact (quantity) and dimension (brand, size) columns, so the OR is a
    post-join residual — but the quantity envelope (1..30, the union of
    the disjunct ranges) and the part-side brand envelope ARE separable
    and pushed below the join, so the join sees a pre-shrunk fact."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = load(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#14")
    )
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    d1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    d2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    d3 = (
        (F.col("p_brand") == "Brand#14")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.where(d1 | d2 | d3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


def tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: the
    fixture has no commit/receipt dates, so a line is LATE when it
    ships more than 60 days after its order's date (timestamp
    arithmetic, shared verbatim with the oracle). The textbook form
    correlates TWO subqueries against the order's other lines (EXISTS
    another supplier; NOT EXISTS another LATE supplier); the engine
    DECORRELATES both into a TWO-LEVEL aggregation — first per
    (order, supplier): any-late + late line count (partial aggregation
    collapses a supplier's lines map-side before the shuffle), then
    per order over the already-tiny per-supplier rows: supplier count,
    late-supplier count, the single late supplier — qualifying
    (n_supp > 1 AND n_late_supp == 1). Deliberately NOT countDistinct:
    two distincts in one aggregate trigger Catalyst's Expand/gid
    rewrite, which triples the fact rows before the shuffle; the
    two-level form shuffles the fact once at (order, supplier)
    granularity and never Expands (plan-guarded). numwait counts late
    LINES (the textbook per-l1-row semantics). The oracle runs the
    textbook EXISTS / NOT EXISTS SQL, so row equality certifies the
    decorrelation. Supplier names attach via a broadcast dim join
    AFTER aggregation (join input is one row per supplier)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    sup = load(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    l = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_supp = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.bool_or("late").alias("sup_late"),
        F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("sup_late_lines"),
    )
    g = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum(F.when(F.col("sup_late"), 1).otherwise(0)).alias("n_late"),
        F.max(F.when(F.col("sup_late"), F.col("l_suppkey"))).alias("late_supp"),
        F.sum(F.when(F.col("sup_late"), F.col("sup_late_lines"))).alias(
            "late_lines"
        ),
    )
    waiters = g.where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    counts = waiters.groupBy("late_supp").agg(
        F.sum("late_lines").cast("long").alias("numwait")
    )
    return (
        counts.join(F.broadcast(sup), counts["late_supp"] == sup["s_suppkey"])
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
    )


def tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity), adapted: the fixture has
    no c_phone, so the 'country code' is c_nationkey, and since every
    fixture customer has SOME order, 'no orders' becomes 'no orders
    since 1999' (dormant accounts). Plan shape for 100 TB: the
    positive-balance average is a 1-row broadcast (scalar subquery);
    the dormancy check is a LEFT ANTI join against orders pre-filtered
    to the recency window (the anti join's build side shrinks to
    recent-order keys); customer is scanned once for the average and
    once for the report — both scans prune to two columns."""
    codes = [3, 8, 13, 17, 22]
    cust = load(spark, sf_dir, "customer").where(F.col("c_nationkey").isin(codes))
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    rich = cust.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
    dormant = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        dormant.groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def table_delete_where(spark, sf_dir):
    """Predicate DELETE as a file-pruned copy-on-write rewrite
    (tables.delete_where): four weekly event generations, then DELETE a
    range inside week 3 — scan planning proves the other weeks' files
    cannot contain matches, so they are neither read nor rewritten and
    keep their exact paths across the commit (asserted engine-side; a
    stats regression fails the row loudly). At 10^12 rows this is a
    GDPR-style retention delete that costs one day's files, not a
    full-table rewrite (Hydra analog: tombstone-triggered deletion, D3
    deletion program semantics). The oracle recomputes the survivor
    aggregate from raw events in SQL."""
    import datetime as _dt
    import os as _os
    import shutil as _shutil

    from hydra_spark.tables import TransactionalTable

    root = _os.path.join(
        ENTRY_DATA, f"del_where_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    _shutil.rmtree(root, ignore_errors=True)
    t = TransactionalTable(root, ["event_id"], n_buckets=8)
    ev = load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    weeks = ["2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-02-01"]
    for i in range(4):
        gen = ev.where((F.col("ts") >= weeks[i]) & (F.col("ts") < weeks[i + 1]))
        t.append_dedup(spark, gen, f"week{i}")
    before = {b: sorted(fl) for b, fl in t.manifest()["files"].items()}
    lo = _dt.datetime(2024, 1, 16)
    hi = _dt.datetime(2024, 1, 18, 23, 59, 59, 999999)
    rep = t.delete_where(spark, {"ts": (lo, hi)})
    after = {b: sorted(fl) for b, fl in t.manifest()["files"].items()}
    untouched_kept = sum(
        1 for b in before for p in before[b] if p in set(after.get(b, []))
    )
    if rep["rows_deleted"] == 0 or rep["files_untouched"] == 0:
        raise RuntimeError(f"delete_where pruning regressed: {rep}")
    if untouched_kept == 0:
        raise RuntimeError("no pre-delete file survived by identity")
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def table_update_where(spark, sf_dir):
    """Predicate UPDATE as a file-pruned copy-on-write rewrite
    (tables.update_where) — the DML triad's third leg next to MERGE
    and DELETE: four weekly event generations, then UPDATE a range
    inside week 3 (SET value = value * 2 + 1, event_type =
    upper(event_type)) — scan planning proves the other weeks' files
    cannot contain matches, so they are neither read nor rewritten and
    keep their exact paths across the commit (asserted engine-side).
    At 10^12 rows this is a backfill-correction rewrite that costs one
    day's files, not a full-table rewrite (Hydra analog: rationalized
    re-publish of corrected records through the ingest flow). Both SET
    expressions read the PRE-update row (single-select semantics, see
    update_where docstring). The oracle recomputes the post-update
    aggregate from raw events with the same CASE logic in SQL."""
    import datetime as _dt
    import os as _os
    import shutil as _shutil

    from hydra_spark.tables import TransactionalTable

    root = _os.path.join(
        ENTRY_DATA, f"upd_where_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    _shutil.rmtree(root, ignore_errors=True)
    t = TransactionalTable(root, ["event_id"], n_buckets=8)
    ev = load(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    weeks = ["2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22", "2024-02-01"]
    for i in range(4):
        gen = ev.where((F.col("ts") >= weeks[i]) & (F.col("ts") < weeks[i + 1]))
        t.append_dedup(spark, gen, f"week{i}")
    before = {b: sorted(fl) for b, fl in t.manifest()["files"].items()}
    lo = _dt.datetime(2024, 1, 16)
    hi = _dt.datetime(2024, 1, 18, 23, 59, 59, 999999)
    rep = t.update_where(
        spark,
        {"ts": (lo, hi)},
        {
            "value": F.col("value") * 2 + 1,
            "event_type": F.upper(F.col("event_type")),
        },
    )
    after = {b: sorted(fl) for b, fl in t.manifest()["files"].items()}
    untouched_kept = sum(
        1 for b in before for p in before[b] if p in set(after.get(b, []))
    )
    if rep["rows_updated"] == 0 or rep["files_untouched"] == 0:
        raise RuntimeError(f"update_where pruning regressed: {rep}")
    if untouched_kept == 0:
        raise RuntimeError("no non-matching file survived by identity")
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def table_rebucket(spark, sf_dir):
    """Partition-spec evolution (tables.rebucket): the events table is
    committed under 4 key-hash buckets, then evolved to 8 — the Iceberg
    REPLACE PARTITION FIELD bucket(N, key) + rewrite analog, eager
    because keyed MERGE routing needs one consistent modulus (docstring
    on rebucket()). Engine-side asserts pin the layout change (manifest
    bucket count, every bucket directory rewritten) and replay
    idempotence across the evolution; the oracle recomputes the
    post-evolution aggregate from raw events — identical data, new
    layout."""
    import os as _os
    import shutil as _shutil

    from hydra_spark.tables import TransactionalTable

    root = _os.path.join(
        ENTRY_DATA, f"rebucket_{_os.path.basename(sf_dir.rstrip('/'))}"
    )
    _shutil.rmtree(root, ignore_errors=True)
    t = TransactionalTable(root, ["event_id"], n_buckets=4)
    ev = load(spark, sf_dir, "events")
    t.append_dedup(spark, ev.where(F.col("event_id") % 2 == 0), "even")
    t.append_dedup(spark, ev.where(F.col("event_id") % 2 == 1), "odd")
    rep = t.rebucket(spark, 8)
    if rep["n_buckets_after"] != 8 or t.manifest()["n_buckets"] != 8:
        raise RuntimeError(f"rebucket did not evolve the layout: {rep}")
    if t.append_dedup(spark, ev.where(F.col("event_id") % 2 == 0), "even"):
        raise RuntimeError("batch replay not idempotent across rebucket")
    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def tpch_q12(spark, sf_dir):
    """TPC-H Q12 (shipping modes and order priority), adapted: the
    fixture has no l_shipmode/l_commitdate/l_receiptdate, so the mode
    axis is l_linestatus and "late" reuses the Q21 convention (shipped
    more than 60 days after the order date). Plan shape for 100 TB:
    the year window prunes lineitem at the scan, the only fact shuffle
    is the lineitem/orders equi-join on orderkey, and both priority
    counters come out of ONE conditional-aggregate pass (no second
    scan, no pivot shuffle)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).where(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_linestatus").agg(
        F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
    )


def tpch_q9(spark, sf_dir):
    """TPC-H Q9 (product-type profit), adapted: the fixture has no
    partsupp, so supply cost is modeled from the part dimension
    (0.6 * p_retailprice per unit) — deterministic and
    fixture-complete; profit keeps the original shape
    rev - cost*qty, grouped by supplier nation and order year for
    parts named like '%red%'. Plan shape for 100 TB: part (filtered
    BEFORE the join), supplier, and nation all broadcast — the only
    fact-fact shuffle is lineitem/orders on orderkey, and the final
    group-by runs on (nation, year), a tiny key space with full
    map-side collapse."""
    part = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(F.round(F.sum(profit), 4).alias("sum_profit"))


def tpch_q16(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship), adapted: the fixture
    has no partsupp, so the part<->supplier association is the
    DISTINCT (l_partkey, l_suppkey) pairs observed in lineitem, and
    the "complaints" exclusion (no comment column) is suppliers with a
    negative account balance. Plan shape for 100 TB: the bridge
    distinct is the only fact shuffle and it carries two int columns
    (ids only — no payload rides the exchange); the excluded-supplier
    set is a broadcast LEFT ANTI; part joins broadcast; the final
    count-distinct groups a dimension-sized set."""
    bridge = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").startswith("MEDIUM"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    ok = bridge.join(
        F.broadcast(bad), bridge["l_suppkey"] == bad["s_suppkey"], "left_anti"
    )
    j = ok.join(F.broadcast(part), ok["l_partkey"] == part["p_partkey"])
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


def tpch_q20(spark, sf_dir):
    """TPC-H Q20 (potential part promotion), adapted: the fixture has
    no partsupp availability, so a supplier "has excess stock" of a
    part when its 1996 shipped quantity for that part exceeds the
    excess threshold (> 20 units at fixture scale, the analog of
    0.5 * avg availability); suppliers in one nation holding any such
    'blue%' part qualify. Plan shape for 100 TB: the year filter
    prunes lineitem at the scan, the per-(supp,part) sum is the only
    fact shuffle (ids + one numeric), qualifying pairs semi-join
    against the broadcast filtered part dim, and supplier resolves via
    broadcast semi join — the supplier table itself never shuffles."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    heavy = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 20.0)
    )
    blue = (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").like("blue%"))
        .select("p_partkey")
    )
    hits = heavy.join(
        F.broadcast(blue), heavy["l_partkey"] == blue["p_partkey"], "left_semi"
    ).select("l_suppkey").distinct()
    supp = load(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 7)
    return (
        supp.join(F.broadcast(hits), supp["s_suppkey"] == hits["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
    )
