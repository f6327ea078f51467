"""Avro binary wire format — dependency-free encode/decode.

The reference validates and serializes Avro ``GenericRecord``s on every
path (avro/src/main/scala/hydra/avro/convert/StringToGenericRecord.scala:
74-85; Kafka publish uses the Confluent wire framing: magic 0x00 + 4-byte
big-endian schema-registry id before the Avro body). The engine maps the
Avro *semantics* (defaults, unions, logical types, strict diff) onto
Spark types in ``validation.py`` / ``functions/defaults.py``; this module
closes the remaining gap — the **bytes** — so `.avro`-framed payloads can
enter and leave the engine without a JVM spark-avro package:

- spec subset: ``null boolean int long float double string bytes``,
  nullable unions ``["null", T]`` / ``[T, "null"]``, ``array<T>``, and
  (nested) ``record``. Logical types ride their base type untouched
  (timestamp-micros = long, uuid = string) — exactly the pass-through
  the reference's converter does at the wire layer.
- ``encode_records`` / ``decode_records`` run per record inside Arrow
  batches (``mapInPandas``). Varints are variable-length, so this is a
  deliberate per-record wire-BOUNDARY stage — not a hot analytics path
  (the audio stages decode whole Arrow batches at once); at cluster
  scale the Confluent deserializer sits in the source connector and
  this module is the dependency-free fallback plus the executable spec.
  Decode is bounds-checked: a truncated or corrupt body becomes a
  ``decode_error`` row (skip-and-count, never a job kill).
- ``confluent_id``: when given, encode prepends the 5-byte framing and
  decode strictly verifies magic + id before the body (the reference's
  registry contract — a mismatched id is a quarantine row, not a
  silently misparsed record).

Wire-format compliance is pinned by golden-byte tests
(tests/test_avro_wire.py) against hand-derived spec examples; the
distributed round-trip + exact SQL-recomputed body length is certified
by the ``avro_wire_roundtrip`` oracle row.
"""

from __future__ import annotations

import json
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T

# ------------------------------------------------------------ schema

_PRIMS = {"null", "boolean", "int", "long", "float", "double", "string", "bytes"}

_SPARK_TYPES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}


def _norm(sch):
    """Normalize a parsed Avro schema node to a plain descriptor:
    ``("prim", name)`` / ``("union_null", inner)`` / ``("array", item)``
    / ``("record", [(field, desc), ...])``."""
    if isinstance(sch, str):
        if sch not in _PRIMS:
            raise ValueError(f"unsupported avro type: {sch}")
        return ("prim", sch)
    if isinstance(sch, list):
        if len(sch) != 2 or "null" not in sch:
            raise ValueError(f"only 2-branch nullable unions supported: {sch}")
        inner = sch[0] if sch[1] == "null" else sch[1]
        return ("union_null", _norm(inner), 0 if sch[0] == "null" else 1)
    if isinstance(sch, dict):
        t = sch["type"]
        if t == "array":
            return ("array", _norm(sch["items"]))
        if t == "record":
            return (
                "record",
                [(f["name"], _norm(f["type"])) for f in sch["fields"]],
            )
        # logical types ride their base primitive at the wire layer
        if t in _PRIMS:
            return ("prim", t)
        raise ValueError(f"unsupported avro type: {t}")
    raise ValueError(f"bad schema node: {sch!r}")


def parse_schema(schema_json: str):
    """Avro schema JSON (must be a record) -> compiled descriptor."""
    desc = _norm(json.loads(schema_json))
    if desc[0] != "record":
        raise ValueError("top-level schema must be a record")
    return desc


def spark_schema(desc) -> T.StructType:
    """Spark StructType for a compiled record descriptor."""

    def to_spark(d):
        kind = d[0]
        if kind == "prim":
            return _SPARK_TYPES[d[1]]
        if kind == "union_null":
            return to_spark(d[1])
        if kind == "array":
            return T.ArrayType(to_spark(d[1]))
        return T.StructType(
            [T.StructField(n, to_spark(fd), True) for n, fd in d[1]]
        )

    return to_spark(desc)


# ------------------------------------------------------------ encode

def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _w_varint(out: bytearray, n: int) -> None:
    n &= (1 << 64) - 1
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _encode_value(out: bytearray, d, v) -> None:
    kind = d[0]
    if kind == "union_null":
        # pandas/Arrow collapses SQL NULL in nullable numeric columns to
        # float NaN; treat NaN as the null branch so a NULL long never
        # crashes int() and a NULL double never round-trips as NaN
        if v is None or (isinstance(v, float) and v != v):
            _w_varint(out, _zigzag(d[2]))
            return
        _w_varint(out, _zigzag(1 - d[2]))
        _encode_value(out, d[1], v)
        return
    if v is None:
        if kind == "prim" and d[1] == "null":
            return
        raise ValueError("null value for non-nullable field")
    if kind == "prim":
        t = d[1]
        if t == "null":
            raise ValueError("non-null value for null type")
        elif t == "boolean":
            out.append(1 if v else 0)
        elif t in ("int", "long"):
            iv = int(v)
            lo_bits = 31 if t == "int" else 63
            if not -(1 << lo_bits) <= iv < (1 << lo_bits):
                raise ValueError(f"{t} field out of range: {iv}")
            _w_varint(out, _zigzag(iv))
        elif t == "float":
            out += struct.pack("<f", float(v))
        elif t == "double":
            out += struct.pack("<d", float(v))
        elif t == "string":
            b = str(v).encode("utf-8")
            _w_varint(out, _zigzag(len(b)))
            out += b
        elif t == "bytes":
            b = bytes(v)
            _w_varint(out, _zigzag(len(b)))
            out += b
    elif kind == "array":
        items = list(v)
        if items:
            _w_varint(out, _zigzag(len(items)))
            for it in items:
                _encode_value(out, d[1], it)
        _w_varint(out, 0)  # end-of-blocks
    else:  # record
        for name, fd in d[1]:
            _encode_value(out, fd, v[name] if isinstance(v, dict) else getattr(v, name))


def encode_record(desc, row: dict, confluent_id: int | None = None) -> bytes:
    out = bytearray()
    if confluent_id is not None:
        out += b"\x00" + struct.pack(">I", confluent_id)
    _encode_value(out, desc, row)
    return bytes(out)


# ------------------------------------------------------------ decode

class _Reader:
    __slots__ = ("b", "i", "n")

    def __init__(self, b: bytes):
        self.b, self.i, self.n = b, 0, len(b)

    def varint(self) -> int:
        shift = acc = 0
        while True:
            if self.i >= self.n:
                raise ValueError("truncated varint")
            byte = self.b[self.i]
            self.i += 1
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                # a 10-byte varint can accumulate up to ~2^70; anything
                # past 64 bits is forged and must quarantine, not reach
                # Arrow as an unrepresentable Python int (job kill)
                if acc >> 64:
                    raise ValueError("varint overflows 64 bits")
                return _unzigzag(acc)
            shift += 7
            if shift > 63:
                raise ValueError("varint too long")

    def take(self, k: int) -> bytes:
        if k < 0 or self.i + k > self.n:
            raise ValueError("truncated body")
        v = self.b[self.i : self.i + k]
        self.i += k
        return v


def _decode_value(r: _Reader, d):
    kind = d[0]
    if kind == "union_null":
        branch = r.varint()
        if branch not in (0, 1):
            raise ValueError(f"bad union branch {branch}")
        if branch == d[2]:
            return None
        return _decode_value(r, d[1])
    if kind == "prim":
        t = d[1]
        if t == "null":
            return None
        if t == "boolean":
            return r.take(1)[0] == 1
        if t in ("int", "long"):
            v = r.varint()
            if t == "int" and not -(1 << 31) <= v < (1 << 31):
                raise ValueError(f"int field out of int32 range: {v}")
            return v
        if t == "float":
            return struct.unpack("<f", r.take(4))[0]
        if t == "double":
            return struct.unpack("<d", r.take(8))[0]
        size = r.varint()
        raw = r.take(size)
        return raw.decode("utf-8") if t == "string" else bytes(raw)
    if kind == "array":
        out = []
        while True:
            count = r.varint()
            if count == 0:
                return out
            if count < 0:
                # negative block count: abs(count) items preceded by a
                # byte size (spec) — size is read and skipped
                r.varint()
                count = -count
            if count > r.n - r.i + 1:
                # every supported item type consumes >= 1 byte, so a
                # block count beyond the remaining bytes is corrupt —
                # reject BEFORE allocating/looping (a forged 2^50 count
                # must be a quarantine row, not an OOM or a hang)
                raise ValueError(f"array block count {count} exceeds remaining bytes")
            for _ in range(count):
                out.append(_decode_value(r, d[1]))
    # record
    return {name: _decode_value(r, fd) for name, fd in d[1]}


def decode_record(desc, payload: bytes, confluent_id: int | None = None) -> dict:
    r = _Reader(payload)
    if confluent_id is not None:
        head = r.take(5)
        if head[0] != 0:
            raise ValueError(f"bad confluent magic {head[0]}")
        got = struct.unpack(">I", head[1:])[0]
        if got != confluent_id:
            raise ValueError(f"schema id mismatch: {got} != {confluent_id}")
    out = _decode_value(r, desc)
    if r.i != r.n:
        raise ValueError(f"{r.n - r.i} trailing bytes after record")
    return out


# -------------------------------------------------------- spark stages

def encode_records(
    df: DataFrame,
    schema_json: str,
    cols: list[str],
    out_col: str = "avro",
    confluent_id: int | None = None,
) -> DataFrame:
    """cols -> one Avro-binary column per row (wire-boundary stage)."""
    desc = parse_schema(schema_json)
    out_schema = T.StructType(
        [df.schema[c] for c in cols]
        + [
            T.StructField(out_col, T.BinaryType(), True),
            T.StructField("encode_error", T.StringType(), True),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = pdf[cols].to_dict("records")
            out = pdf[cols].copy()
            payloads, errs = [], []
            for rec in recs:
                # skip-and-count, never a job kill: a row the schema
                # cannot represent becomes an encode_error row
                try:
                    payloads.append(encode_record(desc, rec, confluent_id))
                    errs.append(None)
                except ValueError as e:
                    payloads.append(None)
                    errs.append(str(e))
            out[out_col] = payloads
            out["encode_error"] = errs
            yield out

    return df.mapInPandas(fn, schema=out_schema)


def decode_records(
    df: DataFrame,
    schema_json: str,
    value_col: str = "avro",
    keep_cols: list[str] | None = None,
    confluent_id: int | None = None,
) -> DataFrame:
    """Avro-binary column -> typed columns + decode_error (skip-and-count:
    truncated/corrupt/mis-framed payloads become error rows)."""
    desc = parse_schema(schema_json)
    keep_cols = keep_cols or []
    rec_fields = spark_schema(desc).fields
    clash = set(keep_cols) & ({f.name for f in rec_fields} | {"decode_error"})
    if clash:
        # a keep_col sharing a decoded field's name would be silently
        # clobbered by the decoded values; force the caller to rename
        raise ValueError(f"keep_cols collide with decoded fields: {sorted(clash)}")
    out_schema = T.StructType(
        [df.schema[c] for c in keep_cols]
        + [T.StructField(f.name, f.dataType, True) for f in rec_fields]
        + [T.StructField("decode_error", T.StringType(), True)]
    )
    field_names = [f.name for f in rec_fields]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols_out: dict[str, list] = {c: pdf[c].tolist() for c in keep_cols}
            for name in field_names:
                cols_out[name] = []
            errs = []
            for payload in pdf[value_col]:
                rec, err = None, None
                if payload is None:
                    err = "null payload"
                else:
                    try:
                        rec = decode_record(desc, bytes(payload), confluent_id)
                    except ValueError as e:
                        err = str(e)
                for name in field_names:
                    cols_out[name].append(None if rec is None else rec[name])
                errs.append(err)
            cols_out["decode_error"] = errs
            yield pd.DataFrame(cols_out, columns=keep_cols + field_names + ["decode_error"])

    return df.mapInPandas(fn, schema=out_schema)
