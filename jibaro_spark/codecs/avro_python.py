"""Pure-Python Avro binary decode/encode for Confluent payloads ([ext]
— executes the reference's FLAGSHIP Avro staged hop
(``avro_handler.py:71-96``, the `make testavro` path) without the
spark-avro jar: Avro's binary encoding is fully specified publicly
(zigzag-varint ints, IEEE little-endian floats, length-prefixed
bytes/strings, schema-ordered records, block-encoded arrays/maps,
branch-indexed unions), so a reader/writer driven directly by the
Spark ``StructType`` is small and exactly verifiable against
hand-computed golden bytes.

Schema conventions MATCH :func:`jibaro_spark.codecs.schemas.
to_avro_schema` (what our publish path registers and what
Debezium/Confluent producers emit): a nullable Spark field is the
union ``["null", T]`` — branch 0 null, branch 1 value; nullable array
elements likewise.  The wire never carries field names — order and
nullability come from the schema, which is why the schema-id-
partitioned decode loop (R7) matters: each frame parses with exactly
its writer schema.

Like :mod:`jibaro_spark.codecs.proto_python`: slicing stays native,
and the payload parse is ONE Arrow-batched ``mapInPandas`` map-only
pass per schema pair that decodes key and value together and ships
back the decoded structs, not the payloads
(:func:`~jibaro_spark.codecs.confluent.map_payloads`).  The JVM
``from_avro`` dispatcher remains the production fast path where the
jar exists.

Supported Spark types: string, binary, boolean, int/short, long,
float, double, arrays, string-keyed maps, nested structs.
"""

from __future__ import annotations

import functools
import struct as _struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SUPPORTED_SCALARS = (
    T.StringType,
    T.BinaryType,
    T.BooleanType,
    T.IntegerType,
    T.ShortType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
)


def _check_supported(dt: T.DataType, path: str) -> None:
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            _check_supported(f.dataType, f"{path}.{f.name}")
    elif isinstance(dt, T.ArrayType):
        _check_supported(dt.elementType, f"{path}[]")
    elif isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise TypeError(f"avro_python: map keys must be string at {path}")
        _check_supported(dt.valueType, f"{path}{{}}")
    elif not isinstance(dt, _SUPPORTED_SCALARS):
        raise TypeError(f"avro_python: unsupported Spark type {dt} at {path}")


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf, self.pos = buf, 0

    def long(self) -> int:
        shift, acc = 0, 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def raw(self, n: int) -> bytes:
        # bounds-checked: a corrupt length varint (negative, or past
        # the end) must RAISE, not silently return a short slice —
        # python slicing would otherwise mask corruption as truncation
        if n < 0 or self.pos + n > len(self.buf):
            raise ValueError(
                f"avro frame truncated/corrupt: need {n} bytes at "
                f"offset {self.pos} of {len(self.buf)}"
            )
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


def _zigzag(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read(r: _Reader, dt: T.DataType, nullable: bool):
    if nullable:
        if r.long() == 0:  # union branch 0 = null
            return None
    if isinstance(dt, T.StructType):
        return {
            f.name: _read(r, f.dataType, f.nullable) for f in dt.fields
        }
    if isinstance(dt, T.ArrayType):
        out = []
        while True:
            count = r.long()
            if count == 0:
                return out
            if count < 0:  # block with byte-size prefix (spec-valid)
                r.long()
                count = -count
            for _ in range(count):
                out.append(_read(r, dt.elementType, dt.containsNull))
    if isinstance(dt, T.MapType):
        out = {}
        while True:
            count = r.long()
            if count == 0:
                return out
            if count < 0:
                r.long()
                count = -count
            for _ in range(count):
                k = r.raw(r.long()).decode("utf-8")
                out[k] = _read(r, dt.valueType, dt.valueContainsNull)
    if isinstance(dt, T.StringType):
        return r.raw(r.long()).decode("utf-8")
    if isinstance(dt, T.BinaryType):
        return bytes(r.raw(r.long()))
    if isinstance(dt, T.BooleanType):
        return r.raw(1) != b"\x00"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.LongType)):
        return r.long()
    if isinstance(dt, T.FloatType):
        return _struct.unpack("<f", r.raw(4))[0]
    if isinstance(dt, T.DoubleType):
        return _struct.unpack("<d", r.raw(8))[0]
    raise TypeError(f"avro_python: unsupported type {dt}")


def _write(out: bytearray, v, dt: T.DataType, nullable: bool) -> None:
    # Arrow→pandas converts integer child arrays holding any null to
    # float64, so a null integer arrives as NaN, not None.  An integer
    # field can never legitimately hold NaN — normalize it back to the
    # null it encodes (float/double NaN is real data and passes through).
    if (
        isinstance(v, float)
        and v != v
        and isinstance(dt, (T.IntegerType, T.ShortType, T.LongType))
    ):
        v = None
    if nullable:
        if v is None:
            out += _zigzag(0)
            return
        out += _zigzag(1)
    elif v is None:
        raise ValueError(f"null in non-nullable Avro field of type {dt}")
    if isinstance(dt, T.StructType):
        get = v.get if isinstance(v, dict) else v.asDict().get
        for f in dt.fields:
            _write(out, get(f.name), f.dataType, f.nullable)
    elif isinstance(dt, T.ArrayType):
        if len(v):
            out += _zigzag(len(v))
            for item in v:
                _write(out, item, dt.elementType, dt.containsNull)
        out += _zigzag(0)
    elif isinstance(dt, T.MapType):
        items = list(v.items())
        if items:
            out += _zigzag(len(items))
            for k, val in items:
                kb = k.encode("utf-8")
                out += _zigzag(len(kb)) + kb
                _write(out, val, dt.valueType, dt.valueContainsNull)
        out += _zigzag(0)
    elif isinstance(dt, T.StringType):
        b = v.encode("utf-8")
        out += _zigzag(len(b)) + b
    elif isinstance(dt, T.BinaryType):
        out += _zigzag(len(v)) + bytes(v)
    elif isinstance(dt, T.BooleanType):
        out += b"\x01" if v else b"\x00"
    elif isinstance(dt, (T.IntegerType, T.ShortType, T.LongType)):
        out += _zigzag(int(v))
    elif isinstance(dt, T.FloatType):
        out += _struct.pack("<f", float(v))
    elif isinstance(dt, T.DoubleType):
        out += _struct.pack("<d", float(v))
    else:
        raise TypeError(f"avro_python: unsupported type {dt}")


def _parser(schema: T.StructType, mode: str):
    """``bytes -> dict`` for one top-level record of ``schema`` (no
    outer union) under ``mode``."""

    def parse(b):
        if b is None:
            return None
        rdr = _Reader(bytes(b))
        if mode == "failfast":
            return _read(rdr, schema, nullable=False)
        try:
            val = _read(rdr, schema, nullable=False)
        except Exception:
            return None
        # spec frames decode exactly; trailing garbage = corrupt
        return val if rdr.pos == len(rdr.buf) else None

    return parse


def _spec(schema: T.StructType, mode: str = "failfast"):
    """``(out_type, make_parse)`` of one payload column for
    :func:`~jibaro_spark.codecs.confluent.map_payloads`."""
    _check_supported(schema, "$")
    return schema, functools.partial(_parser, schema, mode)


def decode_avro_python(
    df: DataFrame,
    payload_col: str,
    schema: T.StructType,
    out_col: str = "value",
    mode: str = "failfast",
) -> DataFrame:
    """Parse an Avro-binary payload column (writer schema = the Avro
    derivation of ``schema``, per ``to_avro_schema`` conventions) into
    a typed struct column appended to ``df`` — one Arrow pass,
    map-only.

    ``mode``: ``failfast`` (default — a corrupt frame aborts the batch,
    the reference's FAILFAST stance, ``avro_handler.py:25``) or
    ``permissive`` — corrupt/truncated frames yield a null ``out_col``
    so a ``{out_col} IS NULL AND {payload_col} IS NOT NULL`` filter
    routes them to quarantine instead of poisoning 100 TB of good rows
    (the ``parse_json_quarantine`` philosophy)."""
    from jibaro_spark.codecs.confluent import map_payloads

    if mode not in ("failfast", "permissive"):
        raise ValueError(f"decode_avro_python: unknown mode {mode!r}")
    return map_payloads(
        df, [(payload_col, out_col, *_spec(schema, mode))], df.columns
    )


def encode_avro_python(
    df: DataFrame,
    struct_col: str,
    schema: T.StructType,
    out_col: str = "payload",
) -> DataFrame:
    """Serialize a struct column to Avro binary — the reverse path
    (reference ``kafka.py:86-109`` uses ``to_avro``); compose with
    :func:`jibaro_spark.codecs.confluent.wire_encode`."""
    _check_supported(schema, "$")
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.BinaryType())]
    )

    def mapper(batches):
        def ser(v):
            if v is None:
                return None
            out = bytearray()
            _write(
                out,
                v if isinstance(v, dict) else v.asDict(recursive=True),
                schema,
                nullable=False,
            )
            return bytes(out)

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf[struct_col].map(ser)
            yield pdf

    return df.mapInPandas(mapper, out_schema)


def decode_confluent_batch_avro_python(
    batch: DataFrame,
    schema_resolver,
    on_tombstone: str = "drop",
    scratch_dir: "str | None" = None,
    spill_threshold: "int | None" = None,
    on_unknown_schema: str = "error",
) -> list:
    """Schema-partitioned Confluent Avro decode (R7) on the Python
    codec — same native slicing + pair loop as the jar path (shared
    :func:`~jibaro_spark.codecs.confluent.decode_pairs_python`, incl.
    the staged many-schema route and the unknown-schema policy); each
    pair's key and value payloads parse with exactly that pair's reader
    schemas (``schema_resolver(role, id) -> StructType``) in one Arrow
    pass."""
    from jibaro_spark.codecs.confluent import decode_pairs_python

    return decode_pairs_python(
        batch,
        "avro",
        schema_resolver,
        lambda _role, schema: _spec(schema),
        on_tombstone,
        scratch_dir,
        spill_threshold,
        on_unknown_schema,
    )


def encode_confluent_avro_python(
    df: DataFrame,
    key_cols: list[str],
    registry,
    topic: str,
) -> DataFrame:
    """Reverse path on the Python codec (reference ``kafka.py:22-119``
    with ``to_avro`` → stdlib writer): derive Avro schemas from the
    DataFrame, register them under ``{topic}-key``/``{topic}-value``,
    encode both sides, and assemble Confluent frames — the publisher
    whose output :func:`decode_confluent_batch_avro_python` (resolver
    = ``avro_schema_to_struct(registry.get_schema(id))``) consumes,
    closing the jar-free produce→consume loop end to end."""
    from pyspark.sql import functions as F

    from jibaro_spark.codecs.confluent import wire_encode
    from jibaro_spark.codecs.schemas import to_avro_schema

    value_cols = [c for c in df.columns if c not in key_cols]
    value_schema_t = df.select(*value_cols).schema
    value_schema = to_avro_schema(value_schema_t, "Envelope", namespace=topic)
    value_id = registry.register(f"{topic}-value", value_schema, "AVRO")

    staged = df.select(
        F.struct(*value_cols).alias("__v"),
        *([F.struct(*key_cols).alias("__k")] if key_cols else []),
    )
    staged = encode_avro_python(staged, "__v", value_schema_t, out_col="__vp")
    value_bin = wire_encode(F.col("__vp"), value_id, "avro")

    if key_cols:
        key_schema_t = df.select(*key_cols).schema
        key_schema = to_avro_schema(key_schema_t, "Key", namespace=topic)
        key_id = registry.register(f"{topic}-key", key_schema, "AVRO")
        staged = encode_avro_python(staged, "__k", key_schema_t, out_col="__kp")
        key_bin = wire_encode(F.col("__kp"), key_id, "avro")
    else:
        key_bin = F.lit(None).cast("binary")
    return staged.select(key_bin.alias("key"), value_bin.alias("value"))
