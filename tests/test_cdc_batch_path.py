"""Per-batch fixed costs of the CDC loop stay off Python workers.

* ``append_history_metrics`` builds its one-row frame from literals in
  the JVM: the appended schema is frozen (existing history directories
  keep being appended to), each append writes one file, and the plan
  is a one-partition ``Range``, not a Python-fed ``ExistingRDD`` scan.
* The pure-Python codecs decode a schema pair's key and value in ONE
  ``mapInPandas`` pass, with rows equal to decoding each column alone.
* ``createDataFrame(`` does not come back on the control or codec path.
"""

from __future__ import annotations

import functools
import glob
import io
import os
import tokenize

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from jibaro_spark import txlog
from jibaro_spark.catalog import Catalog, TableRef
from jibaro_spark.codecs import avro_python as A
from jibaro_spark.codecs import proto_python as P
from jibaro_spark.codecs.confluent import map_payloads, split_wire_format, wire_encode
from jibaro_spark.config import Settings
from jibaro_spark.maintenance import append_history_metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: What ``createDataFrame([row])`` wrote before the JVM-built row, read
#: back; ``extra={"batch": 1, "src": "t"}`` — stringified on a txlog
#: table, inferred (int → bigint) on bare parquet.
_HISTORY_SCHEMA = {
    "txlog": T.StructType(
        [
            T.StructField("batch", T.StringType()),
            T.StructField("numAdded", T.LongType()),
            T.StructField("numFiles", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("sizeBytes", T.LongType()),
            T.StructField("src", T.StringType()),
            T.StructField("version", T.LongType()),
            T.StructField("recordedAt", T.TimestampType()),
        ]
    ),
    "parquet": T.StructType(
        [
            T.StructField("batch", T.LongType()),
            T.StructField("numFiles", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("sizeBytes", T.LongType()),
            T.StructField("src", T.StringType()),
            T.StructField("recordedAt", T.TimestampType()),
        ]
    ),
}


@pytest.mark.parametrize("kind", ["txlog", "parquet"])
def test_history_append_is_one_jvm_task_one_file(spark, tmp_path, monkeypatch, kind):
    cat = Catalog(Settings(protocol="file", base_path=str(tmp_path)))
    ref = TableRef("curated", "proj", "db", f"hist_{kind}")
    path = cat.path(ref)
    data = spark.range(5).select(F.col("id").alias("v"))
    if kind == "txlog":
        txlog.write_versioned(data, path, mode="append")
    else:
        data.write.parquet(path)

    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, p, *a, **k):
        written.append(self._df)
        return parquet(self, p, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sc = spark.sparkContext
    hist_dir = cat.history_path(ref).replace("file:", "")
    for i in (1, 2):
        group = f"history-{kind}-{i}"
        sc.setJobGroup(group, group)
        try:
            append_history_metrics(
                spark, cat, ref, operation="MERGE", extra={"batch": 1, "src": "t"}
            )
        finally:
            sc._jsc.clearJobGroup()
        assert len(glob.glob(os.path.join(hist_dir, "part-*"))) == i
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = [
            st.getStageInfo(s).numTasks for j in jobs for s in st.getJobInfo(j).stageIds
        ]
        assert tasks == [1], tasks
        plan = written[-1]._jdf.queryExecution().executedPlan().toString()
        assert "Range" in plan
        assert "ExistingRDD" not in plan and "Python" not in plan, plan

    hist = spark.read.parquet(cat.history_path(ref))
    assert hist.schema == _HISTORY_SCHEMA[kind]
    assert hist.count() == 2


# ----------------------------------------------------------------- fused decode

KEY = T.StructType([T.StructField("id", T.LongType())])
V1 = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)
V2 = T.StructType(list(V1.fields) + [T.StructField("score", T.DoubleType())])


class _Avro:
    content_type = "avro"

    @staticmethod
    def encode(df, col, schema, out_col, role):
        return A.encode_avro_python(df, col, schema, out_col)

    @staticmethod
    def decode(df, payload_col, schema, out_col, role, mode="failfast"):
        return A.decode_avro_python(df, payload_col, schema, out_col, mode)

    @staticmethod
    def spec(schema, role, mode):
        return A._spec(schema, mode)

    decode_pairs = staticmethod(A.decode_confluent_batch_avro_python)


class _Proto:
    content_type = "protobuf"
    _names = {"key": ("Key", "jibarokey"), "value": ("Envelope", "jibaro")}

    @classmethod
    def encode(cls, df, col, schema, out_col, role):
        name, package = cls._names[role]
        return P.encode_protobuf_python(df, col, schema, name, out_col, package)

    @classmethod
    def decode(cls, df, payload_col, schema, out_col, role, mode="failfast"):
        name, package = cls._names[role]
        return P.decode_protobuf_python(
            df, payload_col, schema, name, out_col, package, mode
        )

    @classmethod
    def spec(cls, schema, role, mode):
        name, package = cls._names[role]
        return P._spec(schema, name, package, mode)

    decode_pairs = staticmethod(P.decode_confluent_batch_protobuf_python)


CODECS = [
    pytest.param(_Avro, id="avro"),
    pytest.param(
        _Proto,
        id="proto",
        marks=pytest.mark.skipif(
            not P.has_protobuf_runtime(), reason="no google.protobuf runtime found"
        ),
    ),
]


def _map_in_pandas_count(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("MapInPandas")


def _rows(df) -> list:
    return sorted(
        (repr(sorted(r.asDict(recursive=True).items())) for r in df.collect())
    )


def _framed(spark, codec, vschema, value_id, key_id, rows):
    df = spark.createDataFrame(
        [(r,) for r in rows], T.StructType([T.StructField("v", vschema)])
    ).withColumn("k", F.struct(F.col("v.id").alias("id")))
    df = codec.encode(df, "v", vschema, "vp", "value")
    if key_id is None:
        key = F.lit(None).cast("binary")
    else:
        df = codec.encode(df, "k", KEY, "kp", "key")
        key = wire_encode(F.col("kp"), key_id, codec.content_type)
    return df.select(
        key.alias("key"),
        wire_encode(F.col("vp"), value_id, codec.content_type).alias("value"),
        F.lit("t").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("v.id").alias("offset"),
    )


@pytest.mark.parametrize("codec", CODECS)
def test_fused_pair_decode_matches_per_column_decode(spark, codec):
    """A batch of two value schemas plus a key-less pair: every pair
    frame decodes key and value in one ``mapInPandas`` pass, with the
    rows of decoding each payload column on its own."""
    batch = functools.reduce(
        lambda a, b: a.unionByName(b),
        [
            _framed(
                spark, codec, V1, 10, 1, [{"id": 1, "name": "a"}, {"id": 2, "name": None}]
            ),
            _framed(spark, codec, V2, 11, 1, [{"id": 3, "name": "c", "score": 9.5}]),
            _framed(spark, codec, V1, 10, None, [{"id": 4, "name": "d"}]),
        ],
    ).localCheckpoint()  # the encode passes leave the decode plans
    schemas = {("key", 1): KEY, ("value", 10): V1, ("value", 11): V2}
    parts = codec.decode_pairs(batch, lambda role, sid: schemas[(role, sid)])
    assert [p for p, _ in parts] == [(1, 10), (1, 11), (None, 10)]

    sliced = split_wire_format(batch, codec.content_type)
    for (key_id, value_id), frame in parts:
        assert frame.columns == [
            "key", "value", "topic", "partition", "offset", "keySchemaId", "valueSchemaId",
        ]
        ref = sliced.filter(
            (F.col("valueSchemaId") == value_id)
            & (
                F.col("keySchemaId").isNull()
                if key_id is None
                else F.col("keySchemaId") == key_id
            )
        )
        vschema = schemas[("value", value_id)]
        ref = codec.decode(ref.drop("value"), "valuePayload", vschema, "value", "value")
        if key_id is None:
            ref = ref.withColumn("key", F.lit(None).cast("string"))
        else:
            ref = codec.decode(ref.drop("key"), "keyPayload", KEY, "key", "key")
        # the reference decodes one column per pass
        assert _map_in_pandas_count(ref) == 1 + (key_id is not None)
        assert _rows(frame) == _rows(ref.select(*frame.columns))
        assert _map_in_pandas_count(frame) == 1


@pytest.mark.parametrize("codec", CODECS)
def test_fused_decode_permissive_nulls_only_the_corrupt_payload(spark, codec):
    """Under ``permissive`` a corrupt value frame yields a null value
    while its key still decodes, exactly as the per-column decode."""
    enc = _framed(
        spark, codec, V1, 10, 1, [{"id": 1, "name": "alice"}, {"id": 2, "name": "bobby"}]
    )
    good = {
        r["offset"]: (r["keyPayload"], r["valuePayload"])
        for r in split_wire_format(enc, codec.content_type).collect()
    }
    raw = spark.createDataFrame(
        [
            (1, *good[1]),
            (2, good[2][0], good[2][1][:-1]),  # string field cut short
            (3, None, None),
        ],
        "i long, keyPayload binary, valuePayload binary",
    )
    fused = map_payloads(
        raw,
        [
            ("keyPayload", "key", *codec.spec(KEY, "key", "permissive")),
            ("valuePayload", "value", *codec.spec(V1, "value", "permissive")),
        ],
        ["i"],
    )
    assert fused.columns == ["i", "key", "value"]
    assert _map_in_pandas_count(fused) == 1
    per_column = codec.decode(
        codec.decode(raw, "keyPayload", KEY, "key", "key", "permissive"),
        "valuePayload", V1, "value", "value", "permissive",
    ).select("i", "key", "value")
    assert _rows(fused) == _rows(per_column)
    got = {r["i"]: r for r in fused.collect()}
    assert got[1]["value"]["name"] == "alice"
    assert got[2]["key"]["id"] == 2 and got[2]["value"] is None
    assert got[3]["key"] is None and got[3]["value"] is None


# ----------------------------------------------------------------------- guard

_GUARDED = [
    "jibaro_spark/maintenance.py",
    "jibaro_spark/txlog.py",
    "jibaro_spark/operators/graph.py",
] + [
    os.path.relpath(p, ROOT)
    for d in ("streaming", "codecs")
    for p in sorted(glob.glob(os.path.join(ROOT, "jibaro_spark", d, "*.py")))
]
_ALLOW = "# createDataFrame-ok"


def test_no_create_dataframe_on_control_or_codec_path():
    """``createDataFrame`` of a Python list ships rows through Python
    workers; a one-row control frame is built with literals instead.
    A call that must stay (a multi-row key list, or the graph driver
    route's one Arrow-fed result) carries ``# createDataFrame-ok`` on
    its line."""
    offenders = []
    for rel in _GUARDED:
        with open(os.path.join(ROOT, rel)) as fh:
            src = fh.read()
        lines = src.splitlines()
        toks = [
            t
            for t in tokenize.generate_tokens(io.StringIO(src).readline)
            if t.type in (tokenize.NAME, tokenize.OP)
        ]
        for tok, nxt in zip(toks, toks[1:]):
            if tok.string == "createDataFrame" and nxt.string == "(":
                line = lines[tok.start[0] - 1]
                if _ALLOW not in line:
                    offenders.append(f"{rel}:{tok.start[0]}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
