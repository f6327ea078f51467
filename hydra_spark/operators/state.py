"""Latest-wins keyed state — Hydra's compacted-topic cache as a Spark op.

Hydra materializes compacted Kafka topics into latest-value-per-key
in-memory maps: add on Some(value), remove on tombstone
(reference: ingestors/kafka/src/main/scala/hydra/kafka/algebras/
ConsumerGroupsAlgebra.scala:254-303 consumeDVSConsumersTopicIntoCache;
same pattern MetadataAlgebra.scala:36-119, StreamsManagerActor.scala:78-89).

Spark-first mapping:
  * batch/refresh (``latest_wins_hash``, also the flagship sink's
    within-batch dedup): a ``max_by`` hash aggregate per key over the
    order columns — no sort, map-side partial aggregation; callers drop
    tombstones with a filter on the winning row.
  * streaming: applyInPandasWithState — per-key state holds the current
    (ts, value); emits a row whenever the winner changes; tombstone
    (null value) clears the state and emits a deletion marker so the
    sink can MERGE DELETE.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Custom-state layout version for the applyInPandasWithState operators
# (latest_wins_stream here, sequence_matches_stream in operators/cep.py).
# v2: state timestamps are MICROseconds. v1 stored milliseconds in the
# same physical type (long / array<long>), so a v1 checkpoint resumed by
# v2 code would silently misread every value 1000x — the marker below
# turns that silent corruption into a loud failure.
STATE_FORMAT_VERSION = 2


class StateFormatError(RuntimeError):
    """Checkpoint was written under an incompatible custom-state layout."""


def pin_state_format(checkpoint_dir: str, version: int = STATE_FORMAT_VERSION) -> None:
    """Record / verify the custom-state layout version of a checkpoint.

    Call before (re)starting any streaming query whose checkpoint holds
    applyInPandasWithState state (latest_wins_stream,
    sequence_matches_stream). First start writes a marker file; a
    resume under a different layout version raises StateFormatError
    instead of letting same-physical-type state (e.g. the v1 ms -> v2 us
    change) be silently reinterpreted. Spark validates state *schema*
    on resume, but not semantics — this marker covers the gap.
    """
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "_hydra_state_format.json")
    if os.path.exists(marker):
        with open(marker) as f:
            found = json.load(f).get("state_format_version")
        if found != version:
            raise StateFormatError(
                f"checkpoint {checkpoint_dir} has state format v{found}, engine expects "
                f"v{version}; resume would misinterpret state — start from a fresh checkpoint"
            )
        return
    # marker absent but the checkpoint already holds custom streaming
    # state: it predates version markers (= v1) — stamping it with the
    # CURRENT version here would be exactly the silent reinterpretation
    # this function exists to prevent
    if os.path.exists(os.path.join(checkpoint_dir, "offsets")):
        raise StateFormatError(
            f"checkpoint {checkpoint_dir} predates state-format markers (assumed v1), "
            f"engine expects v{version}; start from a fresh checkpoint"
        )
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"state_format_version": version}, f)
    os.rename(tmp, marker)


def latest_wins_hash(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Hash-aggregation latest-wins: ``max_by(struct(*), order)`` per key.

    The row ``row_number() over (partition by key order by order_cols
    desc) = 1`` picks, with NO sort — a hash agg with map-side partial
    aggregation, so it scales like a groupBy instead of an
    exchange+sort. NULL timestamps in order columns sort lowest
    (coalesced to epoch) so a tombstone never beats a real row with
    equal keys.
    """
    ordk = F.struct(
        *[F.coalesce(F.col(c).cast("timestamp"), F.timestamp_seconds(F.lit(0))).alias(f"o{i}")
          if dict(df.dtypes)[c].startswith("timestamp")
          else F.col(c).alias(f"o{i}")
          for i, c in enumerate(order_cols)]
    )
    packed = F.struct(*[F.col(c) for c in df.columns])
    out = df.groupBy(*key_cols).agg(F.max_by(packed, ordk).alias("_row"))
    return out.select("_row.*")


_STATE_SCHEMA = T.StructType(
    [T.StructField("ts_us", T.LongType()), T.StructField("value", T.StringType())]
)


def latest_wins_stream(
    df: DataFrame,
    key_col: str = "clip_id",
    ts_col: str = "event_time",
    value_col: str = "transcript",
    watermark: str = "60 seconds",
) -> DataFrame:
    """Streaming latest-wins: emits (key, ts, value, deleted) on change."""
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField(ts_col, T.TimestampType()),
            T.StructField(value_col, T.StringType()),
            T.StructField("deleted", T.BooleanType()),
        ]
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        cur_ts, cur_val = state.get if state.exists else (None, None)
        changed = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            # vectorized winner: stable sort by ts, take the last row —
            # identical to scanning rows with a >= update rule (ties go
            # to the latest-processed row). Microsecond precision = the
            # batch form's native timestamp comparison.
            row = pdf.sort_values(ts_col, kind="stable").iloc[-1]
            ts_us = int(row[ts_col].value // 1000)
            if cur_ts is None or ts_us >= cur_ts:
                cur_ts, cur_val = ts_us, row[value_col]
                changed = True
        if changed:
            state.update((cur_ts, cur_val))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    ts_col: [pd.Timestamp(cur_ts, unit="us")],
                    value_col: [cur_val],
                    "deleted": [cur_val is None],
                }
            )

    g = df.withWatermark(ts_col, watermark).groupBy(key_col) if df.isStreaming else df.groupBy(key_col)
    return g.applyInPandasWithState(
        fn, out_schema, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )
