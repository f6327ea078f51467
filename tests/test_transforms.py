"""Pluggable transform-stage registry (runtime pipeline assembly —
RecordFactory.scala:25-30 / component-loader analog)."""

import pytest
from pyspark.sql import functions as F

from hydra_spark import transforms
from hydra_spark.pipeline import pre_join_spec


def test_build_transform_composes_in_order(spark):
    df = spark.range(4).withColumnRenamed("id", "x")

    name_a = "test_add_one"
    name_b = "test_times"
    transforms.register_stage(name_a, lambda d: d.withColumn("x", F.col("x") + 1), replace=True)
    transforms.register_stage(
        name_b, lambda d, k=2: d.withColumn("x", F.col("x") * k), replace=True
    )
    out = transforms.build_transform([name_a, (name_b, {"k": 10})])(df)
    assert [r.x for r in out.orderBy("x").collect()] == [10, 20, 30, 40]
    # reversed order is a different pipeline — assembly order is honored
    out2 = transforms.build_transform([(name_b, {"k": 10}), name_a])(df)
    assert [r.x for r in out2.orderBy("x").collect()] == [1, 11, 21, 31]


def test_unknown_stage_fails_at_build_time():
    with pytest.raises(KeyError, match="unknown transform stage"):
        transforms.build_transform(["no_such_stage"])


def test_duplicate_registration_fails_fast():
    transforms.register_stage("test_dup_stage", lambda d: d, replace=True)
    with pytest.raises(ValueError, match="already registered"):
        transforms.register_stage("test_dup_stage", lambda d: d)


def test_custom_stage_spliced_into_flagship_chain(spark, clips):
    """A user-registered stage participates in the flagship's pre-join
    chain exactly like a built-in: splice a language-tagging stage after
    admission and run the full chain."""
    transforms.register_stage(
        "test_lang_tag",
        lambda d, lang="en": d.withColumn("lang", F.lit(lang)),
        replace=True,
    )
    spec = pre_join_spec()
    spec.insert(1, ("test_lang_tag", {"lang": "sv"}))
    out = transforms.build_transform(spec)(clips.limit(50))
    rows = out.collect()
    assert rows and all(r.lang == "sv" for r in rows)
    # the built-in tail still ran: decode features present, bytes dropped
    assert "rms_db" in out.columns and "bytes" not in out.columns


def test_flagship_specs_resolve():
    """Every stage name the flagship's default specs reference exists in
    the registry (build_transform resolves at build time), and so does
    the salted repartition a deployment splices in before decode."""
    transforms.build_transform(pre_join_spec())
    spec = pre_join_spec()
    spec.insert(spec.index("decode"), ("salt_spread", {"num_partitions": 4}))
    transforms.build_transform(spec)
    assert {"admission", "decode", "window_key"} <= set(transforms.stage_names())


def test_audio_kernels_registered_as_stages(spark):
    """Every batch audio kernel resolves by name, and a spec-built
    chain equals calling the kernel directly (same plan, same rows)."""
    import numpy as np

    from hydra_spark import audio
    from hydra_spark.functions.vad import vad_clips
    from hydra_spark.transforms import build_transform, get_stage

    for name in (
        "resample", "segment", "gain", "rms_normalize",
        "transcode", "trim_silence", "time_mask", "vad",
    ):
        assert callable(get_stage(name))
    x = np.concatenate([np.zeros(400), np.full(800, 0.4), np.zeros(400)])
    df = spark.createDataFrame(
        [("c0", bytearray(audio.encode(x, "pcm16")), 8000, "pcm16")],
        "clip_id string, bytes binary, sr_hz int, codec string",
    )
    via_spec = build_transform([("vad", {"frame_ms": 20})])(df).collect()
    direct = vad_clips(df, frame_ms=20).collect()
    assert via_spec == direct and via_spec[0].n_segments == 1
