"""Pluggable transform-stage registry — runtime-assembled pipelines.

Hydra resolves its ingest components BY NAME at runtime: ingestors and
transports are discovered and bound through a component loader, and each
request's record factory is looked up from the registered set rather
than hard-wired (reference: core/src/main/scala/hydra/core/ingest/
RecordFactory.scala:25-30; HydraComponentLoader's classpath scan bound
in IngestionActors). The Spark-first analog keeps the *assembly*
dynamic but the *execution* fully declarative: a stage is a named
``DataFrame -> DataFrame`` callable, a pipeline spec is an ordered list
of stage names (with optional params), and ``build_transform`` composes
the resolved stages into one function. Because every stage only ADDS
projections/filters to the logical plan, Catalyst still sees a single
plan — registry indirection costs nothing at execution time (no
per-stage materialization, no barriers), so a user-registered stage
slots into the flagship exactly like a built-in one.

``pipeline.pre_join_transform`` / ``pipeline.finish_batch`` assemble
the flagship from this registry (specs built there), and pytest
registers a custom stage end-to-end (tests/test_transforms.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F

# the flagship's tumbling-window size — single definition; pipeline.py
# imports it, and window_start_col/window_key default to it
WINDOW_SIZE = "10 seconds"

_REGISTRY: dict[str, Callable[..., DataFrame]] = {}

# spec item: "name" or ("name", {param: value})
Spec = list[str | tuple[str, dict]]


def register_stage(name: str, fn: Callable[..., DataFrame] | None = None, *, replace: bool = False):
    """Register a named transform stage (``fn(df, **params) -> df``).

    Usable as a decorator (``@register_stage("my_stage")``) or a plain
    call. Duplicate names fail fast unless ``replace=True`` — silently
    shadowing a built-in stage is how a pipeline quietly changes
    semantics (same reason the reference's component loader rejects
    ambiguous bindings)."""

    def _bind(f: Callable[..., DataFrame]):
        if not replace and name in _REGISTRY:
            raise ValueError(
                f"transform stage {name!r} is already registered; "
                f"pass replace=True to override"
            )
        _REGISTRY[name] = f
        return f

    return _bind if fn is None else _bind(fn)


def get_stage(name: str) -> Callable[..., DataFrame]:
    try:
        return _REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"unknown transform stage {name!r}; registered: {sorted(_REGISTRY)}"
        ) from None


def stage_names() -> list[str]:
    return sorted(_REGISTRY)


def build_transform(spec: Spec) -> Callable[[DataFrame], DataFrame]:
    """Resolve a spec against the registry and compose it into ONE
    ``DataFrame -> DataFrame`` function. Resolution happens at build
    time (a typo'd stage name fails before any job runs); execution is
    plain composition, so the whole chain stays one Catalyst plan."""
    resolved: list[tuple[Callable[..., DataFrame], dict]] = []
    for item in spec:
        name, params = item if isinstance(item, tuple) else (item, {})
        resolved.append((get_stage(name), dict(params)))

    def run(df: DataFrame) -> DataFrame:
        for fn, params in resolved:
            df = fn(df, **params)
        return df

    return run


# ---------------------------------------------------------------- built-ins
# The flagship's stateless stages, registered under stable names so a
# deployment can re-order / replace / extend them via spec.

def window_start_col(event_col: str = "event_time", size: str = WINDOW_SIZE):
    """Deterministic tumbling-window floor for the sink key."""
    secs = int(size.split()[0])
    return F.timestamp_seconds(
        (F.unix_timestamp(F.col(event_col)) / secs).cast("long") * secs
    )


@register_stage("admission")
def _admission(df: DataFrame, max_bytes: int | None = 4_000_000) -> DataFrame:
    from hydra_spark import validation

    return validation.admission_checks(df, max_bytes=max_bytes)


@register_stage("drop_rejected")
def _drop_rejected(df: DataFrame) -> DataFrame:
    return df.where(F.col("reject_reason").isNull())


@register_stage("salt_spread")
def _salt_spread(df: DataFrame, num_partitions: int = 32) -> DataFrame:
    from hydra_spark.operators.skew import salted_repartition

    return salted_repartition(df, num_partitions, "codec", "sr_hz")


@register_stage("decode")
def _decode(df: DataFrame) -> DataFrame:
    from hydra_spark.functions.decode import decode_features

    return decode_features(df)


@register_stage("tag_decode_rejects")
def _tag_decode_rejects(df: DataFrame) -> DataFrame:
    # first failure wins: an admission reason outranks the decode error
    return df.withColumn(
        "reject_reason",
        F.coalesce(
            F.col("reject_reason"),
            F.when(
                F.col("decode_error").isNotNull(),
                F.concat(F.lit("DecodeError:"), F.col("decode_error")),
            ),
        ),
    )


@register_stage("normalize_transcript")
def _normalize_transcript(df: DataFrame) -> DataFrame:
    from hydra_spark.functions.text import normalize_transcript

    return df.withColumn("transcript_norm", normalize_transcript(F.col("transcript")))


@register_stage("window_key")
def _window_key(df: DataFrame, size: str = WINDOW_SIZE) -> DataFrame:
    return df.withColumn("window_start", window_start_col(size=size))


# ---- batch audio stages: the functions/ kernels registered by name so
# user-assembled pipeline specs can call them like built-ins (lazy
# imports keep module load light; params pass through to each kernel)

@register_stage("resample")
def _resample(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.resample import resample_clips

    return resample_clips(df, **params)


@register_stage("segment")
def _segment(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.segment import segment_clips

    return segment_clips(df, **params)


@register_stage("gain")
def _gain(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.gain import gain_clips

    return gain_clips(df, **params)


@register_stage("rms_normalize")
def _rms_normalize(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.gain import rms_normalize_clips

    return rms_normalize_clips(df, **params)


@register_stage("transcode")
def _transcode(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.transcode import transcode_clips

    return transcode_clips(df, **params)


@register_stage("trim_silence")
def _trim_silence(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.trim import trim_silence

    return trim_silence(df, **params)


@register_stage("time_mask")
def _time_mask(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.mask import time_mask

    return time_mask(df, **params)


@register_stage("vad")
def _vad(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.vad import vad_clips

    return vad_clips(df, **params)


@register_stage("mel")
def _mel(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.mel import mel_clips

    return mel_clips(df, **params)


@register_stage("loudness")
def _loudness(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.loudness import loudness_clips

    return loudness_clips(df, **params)


@register_stage("speed_perturb")
def _speed_perturb(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.perturb import speed_perturb

    return speed_perturb(df, **params)


@register_stage("cmvn")
def _cmvn(df: DataFrame, **params) -> DataFrame:
    from hydra_spark.functions.cmvn import cmvn_normalize

    return cmvn_normalize(df, **params)
