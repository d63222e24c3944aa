"""Seeded Debezium change-event generator for the ``cdc_pipeline`` workload.

Produces Kafka-shaped records (key/value binary plus topic, partition,
offset, timestamp, timestampType) whose key and value are Confluent-framed
Avro: magic byte 0, a 4-byte big-endian schema id, then the Avro binary
body.  The Avro bodies come from the small writer below, written for the
two fixed envelope schemas only and sharing no code with
``jibaro_spark.codecs``, so an encode/decode bug there cannot cancel out.

The series is one bulk load (a snapshot of every key as ``r`` events, then
``u``/``c``/``d`` changes) and a list of small incremental batches.  The
value schema gains a ``category`` field from incremental batch
``EVOLVE_AT`` on.  Alongside the events the generator computes, for every
prefix of the series, the curated table the pipeline must end with, as a
row-order-independent hash (see ``check.hash_rows``).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import struct

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from perfbench.check import hash_rows

TOPIC = "dbserver1.inventory.products"
KEY_SCHEMA_ID = 1
VALUE_SCHEMA_V1 = 2
VALUE_SCHEMA_V2 = 3
N_KEYS = 6_000
BULK_CHANGES = 6_000
BATCH_CHANGES = 300
N_BATCHES = 16
EVOLVE_AT = 1
PARTITIONS = 4
BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
WORDS = "steel oak brass glass cotton wool paper clay slate amber".split()
CATEGORIES = ["tools", "garden", "kitchen", "office", "toys"]

KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def _row_type(evolved: bool) -> T.StructType:
    fields = [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("weight", T.DoubleType(), True),
    ]
    if evolved:
        fields.append(T.StructField("category", T.StringType(), True))
    return T.StructType(fields)


def reader_schemas() -> dict[tuple[str, int], T.StructType]:
    """The registry: ``(role, schema id) -> StructType``."""

    def envelope(evolved: bool) -> T.StructType:
        row = _row_type(evolved)
        return T.StructType(
            [
                T.StructField("before", row, True),
                T.StructField("after", row, True),
                T.StructField("op", T.StringType(), False),
                T.StructField("ts_ms", T.LongType(), True),
            ]
        )

    return {
        ("key", KEY_SCHEMA_ID): T.StructType([T.StructField("id", T.LongType(), False)]),
        ("value", VALUE_SCHEMA_V1): envelope(False),
        ("value", VALUE_SCHEMA_V2): envelope(True),
    }


# -- Avro binary writer for the fixed schemas above ---------------------
# Nullable fields are the union ["null", T]: branch 0 is null, branch 1 the
# value (the convention of Confluent/Debezium Avro for optional fields).


def _long(out: bytearray, n: int) -> None:
    z = (n << 1) ^ (n >> 63)
    while z & ~0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def _string(out: bytearray, s: str) -> None:
    b = s.encode("utf-8")
    _long(out, len(b))
    out += b


def _opt(out: bytearray, v, write) -> None:
    if v is None:
        out.append(0)
    else:
        out.append(2)  # zigzag(1): union branch 1
        write(out, v)


def _row(out: bytearray, row: dict, evolved: bool) -> None:
    _long(out, row["id"])
    _opt(out, row["name"], _string)
    _opt(out, row["description"], _string)
    _opt(out, row["weight"], lambda o, v: o.extend(struct.pack("<d", v)))
    if evolved:
        _opt(out, row.get("category"), _string)


def encode_key(key_id: int) -> bytes:
    out = bytearray(b"\x00" + struct.pack(">I", KEY_SCHEMA_ID))
    _long(out, key_id)
    return bytes(out)


def encode_value(op: str, before, after, ts_ms: int, evolved: bool) -> bytes:
    schema_id = VALUE_SCHEMA_V2 if evolved else VALUE_SCHEMA_V1
    out = bytearray(b"\x00" + struct.pack(">I", schema_id))
    for img in (before, after):
        _opt(out, img, lambda o, r: _row(o, r, evolved))
    _string(out, op)
    _opt(out, ts_ms, _long)
    return bytes(out)


# -- the change series ---------------------------------------------------


class Series:
    """The change series of one seed: events per batch and the expected
    curated hash after each prefix.  Batch 0 is the bulk load."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.live: dict[int, dict] = {}
        self.free: list[int] = []
        self.next_id = N_KEYS
        self.offset = 0
        self.batches: list[list[tuple]] = []
        self.changes: list[list[tuple]] = []
        self.current: list[tuple] = []
        bulk = [self._emit("r", k, False) for k in range(N_KEYS)]
        bulk += self._changes(BULK_CHANGES, (0.8, 0.1, 0.1), False)
        self._close(bulk)
        for b in range(N_BATCHES):
            self._close(self._changes(BATCH_CHANGES, (0.7, 0.15, 0.15), b >= EVOLVE_AT))

    def _image(self, key: int, evolved: bool) -> dict:
        rng = self.rng
        return {
            "id": key,
            "name": f"p{key}-{self.offset}",
            "description": " ".join(rng.choices(WORDS, k=rng.randint(2, 6))),
            "weight": round(rng.uniform(0.0, 1000.0), 3),
            "category": rng.choice(CATEGORIES) if evolved else None,
        }

    def _emit(self, op: str, key: int, evolved: bool) -> tuple:
        before = self.live.get(key)
        after = None if op == "d" else self._image(key, evolved)
        if op == "d":
            del self.live[key]
            self.free.append(key)
        else:
            self.live[key] = {**after, "op": op}
        self.current.append((key, self.live.get(key)))
        ts = BASE_TS + dt.timedelta(milliseconds=self.offset)
        strip = (lambda r: None if r is None else {k: r[k] for k in r if k != "op"})
        rec = (
            encode_key(key),
            encode_value(op, strip(before), after, self.offset, evolved),
            TOPIC,
            key % PARTITIONS,
            self.offset,
            ts,
            0,
        )
        self.offset += 1
        return rec

    def _changes(self, n: int, mix: tuple[float, float, float], evolved: bool) -> list:
        out = []
        keys = list(self.live)
        for op in self.rng.choices(["u", "c", "d"], weights=mix, k=n):
            if op == "c":
                if self.free and self.rng.random() < 0.5:  # delete, then re-insert
                    key = self.free.pop(self.rng.randrange(len(self.free)))
                else:
                    key, self.next_id = self.next_id, self.next_id + 1
            else:
                if len(out) % 256 == 0:
                    keys = list(self.live)
                key = keys[self.rng.randrange(len(keys))]
                if key not in self.live:  # deleted since the key list was taken
                    op = "c"
                    self.free.remove(key)
            out.append(self._emit(op, key, evolved))
        return out

    def _close(self, records: list) -> None:
        self.batches.append(records)
        self.changes.append(self.current)
        self.current = []

    def expected(self, n_batches: int) -> dict:
        """Row count and hash of the curated table after the first
        ``n_batches`` batches (the bulk load counts as one)."""
        state: dict[int, dict] = {}
        for changes in self.changes[:n_batches]:
            for key, row in changes:
                if row is None:
                    state.pop(key, None)
                else:
                    state[key] = row
        cols = ["description", "id", "name", "op", "weight"]
        if n_batches - 1 > EVOLVE_AT:
            cols.append("category")
        rows = [tuple(r[c] for c in cols) for r in state.values()]
        return {"rows": len(rows), "hash": hash_rows(cols, rows)}


def write_batch(records: list, path: str) -> int:
    """Write one batch as a Kafka-record parquet file; returns its bytes."""
    cols = list(zip(*records))
    table = pa.table(
        {
            "key": pa.array(cols[0], pa.binary()),
            "value": pa.array(cols[1], pa.binary()),
            "topic": pa.array(cols[2], pa.string()),
            "partition": pa.array(cols[3], pa.int32()),
            "offset": pa.array(cols[4], pa.int64()),
            "timestamp": pa.array(cols[5], pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array(cols[6], pa.int32()),
        }
    )
    pq.write_table(table, path)
    return os.path.getsize(path)
