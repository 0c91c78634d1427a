import base64

from pyspark.sql import types as T

from dbimport_spark.functions.schema_normalize import (
    normalize_dataframe,
    normalize_type,
)
from dbimport_spark.session import local_frame


def test_normalize_type_rules():
    nested = T.StructType(
        [
            T.StructField("b", T.BinaryType()),
            T.StructField(
                "arr", T.ArrayType(T.StructType([T.StructField("x", T.BinaryType())]))
            ),
            T.StructField("m", T.MapType(T.StringType(), T.BinaryType())),
            T.StructField("n", T.NullType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("i", T.IntegerType()),
        ]
    )
    out = normalize_type(nested, dates_to_string=True)
    assert out["b"].dataType == T.StringType()
    assert out["arr"].dataType.elementType["x"].dataType == T.StringType()
    assert out["m"].dataType.valueType == T.StringType()
    assert out["n"].dataType == T.StringType()
    assert out["ts"].dataType == T.StringType()
    assert out["i"].dataType == T.IntegerType()


def test_normalize_dataframe(spark):
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("doc", T.StructType([T.StructField("blob", T.BinaryType())])),
            T.StructField("blobs", T.ArrayType(T.BinaryType())),
            T.StructField("ts", T.TimestampType()),
            T.StructField("i", T.IntegerType()),
        ]
    )
    df = local_frame(
        spark, [((b"\x01\x02",), [b"ab"], dt.datetime(2024, 1, 2, 3, 4, 5), 7)], schema
    )
    out = normalize_dataframe(df, dates_to_string=True)
    row = out.first()
    assert out.schema["doc"].dataType["blob"].dataType == T.StringType()
    assert row["doc"]["blob"] == base64.b64encode(b"\x01\x02").decode()
    assert row["blobs"] == [base64.b64encode(b"ab").decode()]
    assert row["ts"] == "2024-01-02 03:04:05"
    assert row["i"] == 7


def test_null_struct_stays_null(spark):
    from dbimport_spark.functions.schema_normalize import normalize_dataframe

    schema = T.StructType(
        [T.StructField("doc", T.StructType([T.StructField("blob", T.BinaryType())]))]
    )
    df = local_frame(spark, [((b"x",),), (None,)], schema)
    rows = normalize_dataframe(df).collect()
    vals = [r["doc"] for r in rows]
    assert sum(v is None for v in vals) == 1  # NULL subdocument preserved
    assert sum(v is not None for v in vals) == 1


def test_json_change_source_to_replay(spark, tmp_path):
    """S6 end-to-end: JSON-lines document changes (nested docs, binary-ish
    payload, deletes with bare _id) -> normalized flat change DataFrame ->
    full CDC replay converges to the folded document state."""
    import json
    import os

    from dbimport_spark.plans.engine import CDCEngine
    from dbimport_spark.sources.jsonlog import read_json_changes
    from pyspark.sql import types as T

    events = [
        {"lsn": 1, "op": "I", "doc": {"_id": "a", "name": "x",
                                      "meta": {"lang": "en", "score": 3},
                                      "tags": ["t1", "t2"]}},
        {"lsn": 2, "op": "I", "doc": {"_id": "b", "name": "y",
                                      "meta": {"lang": "de", "score": 1},
                                      "tags": []}},
        {"lsn": 3, "op": "U", "doc": {"_id": "a", "name": "x2",
                                      "meta": {"lang": "en", "score": 9},
                                      "tags": ["t3"]}},
        {"lsn": 4, "op": "D", "_id": "b"},
        {"lsn": 5, "op": "I", "doc": {"_id": "c", "name": None,
                                      "meta": {"lang": "fr", "score": 7},
                                      "tags": ["t4"]}},
    ]
    p = str(tmp_path / "jsonlog")
    os.makedirs(p)
    with open(os.path.join(p, "events.jsonl"), "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")

    changes = read_json_changes(spark, p)
    assert "meta__lang" in changes.columns and "meta__score" in changes.columns
    payload = T.StructType(
        [f for f in changes.schema.fields if f.name not in ("lsn", "op")]
    )
    table = CDCEngine.create_table(str(tmp_path / "jt"), payload_schema=payload,
                                   num_buckets=4)
    CDCEngine(spark, table).replay(changes, num_batches=2)
    got = {
        (r["doc_id"], r["name"], r["meta__lang"], r["meta__score"], tuple(r["tags"]))
        for r in table.read(spark).collect()
    }
    assert got == {
        ("a", "x2", "en", 9, ("t3",)),
        ("c", None, "fr", 7, ("t4",)),
    }
