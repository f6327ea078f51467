"""T2 nested strict validation, T5/F5 uuid rule, T7 mismatch report,
K6 typed error taxonomy — unit tier (SURVEY.md §5 mirror of
IngestionFlowV2Spec / StringToGenericRecordSpec edge cases)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from hydra_spark import validation as V


def _nested_df(spark):
    data = [(1, ("x", 2, ("deep", 3)))]
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField(
                "rec",
                T.StructType(
                    [
                        T.StructField("a", T.StringType()),
                        T.StructField("extra_mid", T.IntegerType()),
                        T.StructField(
                            "inner",
                            T.StructType(
                                [
                                    T.StructField("b", T.StringType()),
                                    T.StructField("extra_deep", T.IntegerType()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )
    return spark.createDataFrame(data, schema)


EXPECTED = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField(
            "rec",
            T.StructType(
                [
                    T.StructField("a", T.StringType()),
                    T.StructField(
                        "inner", T.StructType([T.StructField("b", T.StringType())])
                    ),
                ]
            ),
        ),
    ]
)


def test_nested_strict_raises_with_paths(spark):
    df = _nested_df(spark)
    with pytest.raises(V.ExtraFieldsError) as ei:
        V.conform_schema_nested(df, EXPECTED, strict=True)
    msg = str(ei.value)
    assert "rec.extra_mid" in msg and "rec.inner.extra_deep" in msg


def test_nested_relaxed_prunes_recursively(spark):
    df = _nested_df(spark)
    out = V.conform_schema_nested(df, EXPECTED, strict=False)
    # same names/types recursively (nullability of rebuilt structs differs)
    assert out.schema.simpleString() == EXPECTED.simpleString()
    row = out.collect()[0]
    assert row.rec.a == "x" and row.rec.inner.b == "deep"


def test_uuid_rule(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "u": [
                    "123e4567-e89b-12d3-a456-426614174000",  # valid
                    "123E4567-E89B-12D3-A456-426614174000",  # valid upper
                    "not-a-uuid",
                    "123e4567e89b12d3a456426614174000",  # undashed
                    None,  # nullable union passes
                ]
            }
        )
    )
    out = V.admission_checks(df, enforce_positive_ts=False, uuid_cols=["u"])
    got = [r.reject_reason for r in out.collect()]
    assert got[0] is None and got[1] is None and got[4] is None
    assert got[2].startswith("InvalidUuid:u:") and got[3].startswith("InvalidUuid:u:")


def test_extra_json_field_paths(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "p": [
                    '{"k":1,"nested":{"a":1}}',
                    '{"k":1,"z":2,"nested":{"a":1,"q":9}}',
                    '{"k":1}',  # missing nested object: no extras
                ]
            }
        )
    )
    extras = V.extra_json_field_paths("p", {"": ["k", "nested"], "nested": ["a"]})
    got = [r[0] for r in df.select(extras).collect()]
    assert got[0] == []
    assert got[1] == ["nested.q", "z"]
    assert got[2] == []


def test_kv_mismatch_report(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3],
                "k_u": [10, 20, 30],
                "v_u": [10, 21, 30],
                "k_t": ["a", "b", None],
                "v_t": ["a", "b", "c"],
            }
        )
    )
    rep = V.key_value_mismatch_report(
        df, ["id"], [("user", "k_u", "v_u"), ("type", "k_t", "v_t")]
    ).collect()
    got = {(r.id, r.field): (r.key_value, r.value_value) for r in rep}
    assert got == {(2, "user"): ("20", "21"), (3, "type"): (None, "c")}


def test_error_codes(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "r": [
                    "RecordTooLarge:9>1",
                    "InvalidLogicalType:timestamp-millis<=0",
                    "InvalidUuid:u:xx",
                    "DecodeError:ValueError: x",
                    "Timeout:t",
                    "SomethingElse",
                    None,
                    # the ingest flow's request rejects
                    "MissingPayload",
                    "JsonConversionError:malformed payload",
                    "MissingKey:$.k",
                ]
            }
        )
    )
    got = [r[0] for r in df.select(V.error_code(F.col("r"))).collect()]
    assert got == [413, 422, 422, 400, 408, 500, None, 400, 400, 400]


def test_nested_relaxed_preserves_null_struct(spark):
    """A NULL record must stay NULL after relaxed pruning — not become a
    struct of NULLs (review finding: bare F.struct() is never null)."""
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField(
                "rec",
                T.StructType(
                    [T.StructField("a", T.StringType()), T.StructField("extra", T.IntegerType())]
                ),
            ),
        ]
    )
    df = spark.createDataFrame([(1, None), (2, ("x", 9))], schema)
    expected = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("rec", T.StructType([T.StructField("a", T.StringType())])),
        ]
    )
    rows = {r.id: r.rec for r in V.conform_schema_nested(df, expected, strict=False).collect()}
    assert rows[1] is None
    assert rows[2].a == "x"


def test_uuid_first_listed_column_wins(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": ["bad-a"], "b": ["bad-b"]}))
    out = V.admission_checks(df, enforce_positive_ts=False, uuid_cols=["a", "b"])
    assert out.first().reject_reason == "InvalidUuid:a:bad-a"
