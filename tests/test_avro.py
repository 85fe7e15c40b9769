"""`format: avro` resources + `.zst` text codec (r8 — VERDICT r7 item 4).

The pure OCF codec is oracled two independent ways:
- against the org.apache.avro jar that ships inside Spark (write with
  the JVM reference implementation, read with ours — and vice versa);
- against itself (roundtrip equality per codec, hypothesis-fuzzed
  corrupt blobs must raise the typed error).

The Spark surface (read_avro, validate_package on avro / csv.zst) runs
on the session fixture.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from hypothesis import example, given, settings, strategies as st

from goodtables_pandas_py_spark.extensions.avrocodec import (
    AvroDecodeError,
    avro_to_spark_type,
    decode_avro,
    encode_avro,
    read_ocf_header,
)

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "x", "type": ["null", "double"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "m", "type": {"type": "map", "values": "int"}},
        {"name": "e", "type": {"type": "enum", "name": "col",
                               "symbols": ["R", "G", "B"]}},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
        {"name": "b", "type": "bytes"},
        {"name": "fx", "type": {"type": "fixed", "name": "f4", "size": 4}},
    ],
}

RECORDS = [
    {"i": 7, "s": "héllo", "x": None, "tags": ["a", "b"], "m": {"k": 3},
     "e": "G", "d": 18000, "ts": 1_600_000_000_000_000,
     "b": b"\x00\xff", "fx": b"ABCD"},
    {"i": -42, "s": "", "x": 2.5, "tags": [], "m": {},
     "e": "B", "d": 0, "ts": 0, "b": b"", "fx": b"\x00" * 4},
    {"i": 2**40, "s": "x" * 300, "x": -0.0, "tags": ["z"] * 5,
     "m": {"a": -1, "b": 2}, "e": "R", "d": -365,
     "ts": -1_000_000, "b": bytes(range(20)), "fx": b"\xff" * 4},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_roundtrip_all_types(codec):
    blob = encode_avro(SCHEMA, RECORDS, codec=codec)
    schema, out = decode_avro(blob)
    assert schema == SCHEMA
    assert len(out) == 3
    assert out[0]["i"] == 7 and out[2]["i"] == 2**40
    assert out[0]["s"] == "héllo"
    assert out[0]["x"] is None and out[1]["x"] == 2.5
    assert out[0]["tags"] == ["a", "b"] and out[2]["tags"] == ["z"] * 5
    assert out[0]["m"] == {"k": 3} and out[2]["m"] == {"a": -1, "b": 2}
    assert out[0]["e"] == "G"
    assert out[0]["d"] == dt.date(1970, 1, 1) + dt.timedelta(days=18000)
    assert out[2]["d"] == dt.date(1969, 1, 1)
    assert out[0]["ts"] == dt.datetime(2020, 9, 13, 12, 26, 40)
    assert out[0]["b"] == b"\x00\xff" and out[0]["fx"] == b"ABCD"


def test_multi_block_and_max_records():
    recs = [{"i": i, "s": str(i), "x": None, "tags": [], "m": {},
             "e": "R", "d": i, "ts": i, "b": b"", "fx": b"...."}
            for i in range(25)]
    blob = encode_avro(SCHEMA, recs, block_records=7)
    _, out = decode_avro(blob)
    assert [r["i"] for r in out] == list(range(25))
    _, head = decode_avro(blob, max_records=5)
    assert [r["i"] for r in head] == list(range(5))


def test_header_parse():
    blob = encode_avro(SCHEMA, RECORDS, codec="deflate")
    schema, codec, sync, off = read_ocf_header(blob)
    assert schema == SCHEMA and codec == "deflate"
    assert len(sync) == 16 and off > 20


def test_typed_errors_on_corrupt():
    blob = encode_avro(SCHEMA, RECORDS)
    for bad in (b"", b"Obj\x02xxxx", blob[:40], blob[:-10]):
        with pytest.raises(AvroDecodeError):
            decode_avro(bad)
    # unsupported block codec is refused loudly, not garbled
    snappy = blob.replace(b"\x08null", b"\x0csnappy", 1)
    with pytest.raises(AvroDecodeError, match="codec"):
        decode_avro(snappy)


@settings(max_examples=80, deadline=None)
@given(
    flips=st.lists(
        st.tuples(st.integers(0, 4000), st.integers(0, 255)),
        min_size=1, max_size=6,
    ),
    codec=st.sampled_from(["null", "deflate"]),
)
@example(flips=[(4, 0)], codec="null")
def test_fuzz_avro_mutated_valid(flips, codec):
    blob = bytearray(encode_avro(SCHEMA, RECORDS, codec=codec))
    for off, val in flips:
        blob[off % len(blob)] = val
    try:
        decode_avro(bytes(blob), max_records=100)
    except AvroDecodeError:
        pass
    except MemoryError:
        # a flipped varint can ask for a petabyte allocation; byte
        # reads are bounded by buffer length, so only the allocation
        # itself can trip, as a python-level limit
        pytest.skip("allocation-bound mutation")


def test_avro_to_spark_type_mapping():
    t = avro_to_spark_type(SCHEMA)
    assert t.simpleString() == (
        "struct<i:bigint,s:string,x:double,tags:array<string>,"
        "m:map<string,int>,e:string,d:date,ts:timestamp,"
        "b:binary,fx:binary>"
    )


# ---------------------------------------------------------------- JVM oracle


def _jvm_write_avro(spark, path: str) -> None:
    """Write RECORDS through org.apache.avro (the reference Java
    implementation bundled inside Spark) — the independent oracle."""
    jvm = spark._jvm
    parser = jvm.org.apache.avro.Schema.Parser()
    jsch = parser.parse(json.dumps(SCHEMA))
    fields = jsch.getFields()
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(jsch)
    fw = jvm.org.apache.avro.file.DataFileWriter(writer)
    fw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    fw.create(jsch, jvm.java.io.File(path))
    GenericData = jvm.org.apache.avro.generic.GenericData
    for r in RECORDS:
        rec = GenericData.Record(jsch)
        rec.put("i", r["i"])
        rec.put("s", r["s"])
        rec.put("x", r["x"])
        arr = jvm.java.util.ArrayList()
        for tag in r["tags"]:
            arr.add(tag)
        rec.put("tags", arr)
        mp = jvm.java.util.HashMap()
        for k, v in r["m"].items():
            mp.put(k, v)
        rec.put("m", mp)
        rec.put("e", GenericData.EnumSymbol(jsch.getField("e").schema(), r["e"]))
        rec.put("d", r["d"])
        rec.put("ts", r["ts"])
        rec.put("b", jvm.java.nio.ByteBuffer.wrap(bytearray(r["b"])))
        rec.put("fx", GenericData.Fixed(jsch.getField("fx").schema(), bytearray(r["fx"])))
        fw.append(rec)
    fw.close()


def test_jvm_reference_writer_decodes_identically(spark, tmp_path):
    if not hasattr(spark, "_jvm") or spark._jvm is None:
        pytest.skip("no JVM gateway (Spark Connect)")
    path = str(tmp_path / "jvm.avro")
    _jvm_write_avro(spark, path)
    _, out = decode_avro(open(path, "rb").read())
    assert len(out) == 3
    for mine, ref in zip(RECORDS, out):
        assert ref["i"] == mine["i"]
        assert ref["s"] == mine["s"]
        assert ref["x"] == mine["x"]
        assert ref["tags"] == mine["tags"]
        assert ref["m"] == mine["m"]
        assert ref["e"] == mine["e"]
        assert ref["b"] == mine["b"] and ref["fx"] == mine["fx"]
    # logical types survive the reference writer too
    assert out[0]["d"] == dt.date(1970, 1, 1) + dt.timedelta(days=18000)


def test_jvm_reference_reader_accepts_our_blob(spark, tmp_path):
    if not hasattr(spark, "_jvm") or spark._jvm is None:
        pytest.skip("no JVM gateway (Spark Connect)")
    path = str(tmp_path / "ours.avro")
    open(path, "wb").write(encode_avro(SCHEMA, RECORDS, codec="deflate"))
    jvm = spark._jvm
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    fr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), reader
    )
    got = []
    while fr.hasNext():
        got.append(fr.next())
    fr.close()
    assert len(got) == 3
    assert got[0].get("i") == 7 and got[2].get("i") == 2**40
    assert str(got[0].get("s")) == "héllo"
    assert str(got[0].get("e")) == "G"


# ------------------------------------------------------------- Spark surface


def test_read_avro_multi_file(spark, tmp_path):
    from goodtables_pandas_py_spark.sources import read_avro

    d = tmp_path / "data"
    d.mkdir()
    for fi in range(3):
        recs = [
            {"i": fi * 10 + j, "s": f"s{j}", "x": float(j), "tags": [],
             "m": {}, "e": "R", "d": j, "ts": j * 1_000_000,
             "b": b"", "fx": b"xxxx"}
            for j in range(4)
        ]
        (d / f"part{fi}.avro").write_bytes(
            encode_avro(SCHEMA, recs, codec="deflate")
        )
    df = read_avro(spark, str(d))
    assert df.schema["i"].dataType.simpleString() == "bigint"
    assert df.schema["d"].dataType.simpleString() == "date"
    assert df.count() == 12
    total = df.groupBy().sum("i").collect()[0][0]
    assert total == sum(fi * 10 + j for fi in range(3) for j in range(4))


def test_read_avro_first_file_name_with_percent_escape(spark, tmp_path):
    """The schema comes from the first file, named literally
    'a%41.avro': its header is read from that name, not from a
    percent-decoded 'aA.avro'."""
    from goodtables_pandas_py_spark.sources import read_avro

    d = tmp_path / "data"
    d.mkdir()
    recs = [
        {"i": j, "s": f"s{j}", "x": float(j), "tags": [], "m": {},
         "e": "R", "d": j, "ts": j * 1_000_000, "b": b"", "fx": b"xxxx"}
        for j in range(4)
    ]
    (d / "a%41.avro").write_bytes(encode_avro(SCHEMA, recs, codec="null"))
    df = read_avro(spark, str(d))
    assert df.schema["i"].dataType.simpleString() == "bigint"
    assert df.count() == 4


def test_validate_package_avro(spark, tmp_path):
    import goodtables_pandas_py_spark as gt

    d = tmp_path
    sch = {"type": "record", "name": "t", "fields": [
        {"name": "k", "type": "long"},
        {"name": "status", "type": "string"},
    ]}
    recs = [{"k": i, "s": None, "status": "OF"[i % 2]} for i in range(6)]
    for r in recs:
        del r["s"]
    (d / "t.avro").write_bytes(encode_avro(sch, recs))
    pkg = {"resources": [{"name": "t", "path": "t.avro", "format": "avro",
        "schema": {"fields": [
            {"name": "k", "type": "integer"},
            {"name": "status", "type": "string",
             "constraints": {"enum": ["O", "F"]}},
        ], "primaryKey": ["k"]}}]}
    json.dump(pkg, open(d / "datapackage.json", "w"))
    rep = gt.validate(spark, str(d / "datapackage.json"))
    assert rep["valid"] is True, rep
    # and a dirty one: dup key + enum violation
    (d / "t.avro").write_bytes(encode_avro(
        sch, [{"k": 1, "status": "O"}, {"k": 1, "status": "Z"}]
    ))
    rep2 = gt.validate(spark, str(d / "datapackage.json"))
    codes = {e["code"] for t in rep2["tables"] for e in t.get("errors", [])}
    assert rep2["valid"] is False
    assert "primary-key-constraint" in codes
    assert "enumerable-constraint" in codes


# ---------------------------------------------------------------- zstd text


def _zstd_write(spark, path: str, text: str) -> None:
    jvm = spark._jvm
    fos = jvm.java.io.FileOutputStream(path)
    z = jvm.com.github.luben.zstd.ZstdOutputStream(fos)
    z.write(bytearray(text.encode("utf-8")))
    z.close()


def test_validate_package_zstd_csv(spark, tmp_path):
    import goodtables_pandas_py_spark as gt

    if not hasattr(spark, "_jvm") or spark._jvm is None:
        pytest.skip("no JVM gateway (Spark Connect)")
    _zstd_write(
        spark, str(tmp_path / "data.csv.zst"),
        "id,grade\n1,A\n2,B\n2,Z\n",
    )
    pkg = {"resources": [{"name": "t", "path": "data.csv.zst",
        # format intentionally OMITTED: inferred csv through .zst
        "schema": {"fields": [
            {"name": "id", "type": "integer"},
            {"name": "grade", "type": "string",
             "constraints": {"enum": ["A", "B"]}},
        ], "primaryKey": ["id"]}}]}
    json.dump(pkg, open(tmp_path / "datapackage.json", "w"))
    rep = gt.validate(spark, str(tmp_path / "datapackage.json"))
    assert rep["tables"][0]["row-count"] == 3
    codes = {e["code"] for t in rep["tables"] for e in t.get("errors", [])}
    assert codes == {"enumerable-constraint", "primary-key-constraint"}


def test_stage_zstd_multi_file_dir(spark, tmp_path):
    from goodtables_pandas_py_spark.sources import stage_zstd

    if not hasattr(spark, "_jvm") or spark._jvm is None:
        pytest.skip("no JVM gateway (Spark Connect)")
    d = tmp_path / "parts"
    d.mkdir()
    _zstd_write(spark, str(d / "a.ndjson.zst"), '{"v": 1}\n{"v": 2}\n')
    _zstd_write(spark, str(d / "b.ndjson.zst"), '{"v": 3}\n')
    staged = stage_zstd(spark, str(d / "*.zst"))
    assert os.path.isdir(staged)
    back = spark.read.json(staged)
    assert sorted(r["v"] for r in back.collect()) == [1, 2, 3]
    # cache: second call returns the same directory without re-work
    assert stage_zstd(spark, str(d / "*.zst")) == staged


def test_stage_zstd_clears_half_staged_dir(spark, tmp_path):
    """A staging dir left WITHOUT its done_flag (crashed prior run, or
    a pre-r10 run using un-prefixed names) must be cleared before
    re-staging — otherwise the stale files sit beside the fresh
    index-prefixed ones and the directory reader double-counts rows
    (ADVICE r10)."""
    from goodtables_pandas_py_spark.sources import stage_zstd

    if not hasattr(spark, "_jvm") or spark._jvm is None:
        pytest.skip("no JVM gateway (Spark Connect)")
    d = tmp_path / "parts2"
    d.mkdir()
    _zstd_write(spark, str(d / "a.ndjson.zst"), '{"v": 1}\n{"v": 2}\n')
    _zstd_write(spark, str(d / "b.ndjson.zst"), '{"v": 3}\n')
    staged = stage_zstd(spark, str(d / "*.zst"))
    # simulate the half-written dir: drop the done flag, plant a stale
    # old-convention (un-prefixed) file that a blind re-stage would keep
    os.remove(os.path.join(staged, "._gt_staged"))
    with open(os.path.join(staged, "a.ndjson"), "w") as fh:
        fh.write('{"v": 1}\n{"v": 2}\n')
    re_staged = stage_zstd(spark, str(d / "*.zst"))
    assert re_staged == staged
    back = spark.read.json(re_staged)
    assert sorted(r["v"] for r in back.collect()) == [1, 2, 3]
    assert not os.path.exists(os.path.join(staged, "a.ndjson"))


# ------------------------------------------ Spark bridge fixes (r8 review)


def test_read_avro_multibranch_union_and_time(spark, tmp_path):
    """Multi-branch unions reach Spark as JSON strings and logical
    times as ISO strings (review r8: both previously crashed the
    fallback at the Arrow boundary)."""
    schema = {
        "type": "record", "name": "u",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "v", "type": ["int", "string"]},
            {"name": "maybe", "type": ["null", "int", "string"]},
            {"name": "tm", "type": {"type": "int",
                                    "logicalType": "time-millis"}},
            {"name": "tus", "type": {"type": "long",
                                     "logicalType": "time-micros"}},
        ],
    }
    recs = [
        {"k": 1, "v": 5, "maybe": None, "tm": 45_296_789,
         "tus": 3_600_000_001},
        {"k": 2, "v": "five", "maybe": "x", "tm": 0, "tus": 0},
    ]
    p = str(tmp_path / "u.avro")
    open(p, "wb").write(encode_avro(schema, recs))
    from goodtables_pandas_py_spark.sources import read_avro

    df = read_avro(spark, p)
    assert df.schema.simpleString() == (
        "struct<k:bigint,v:string,maybe:string,tm:string,tus:string>"
    )
    rows = {r["k"]: r for r in df.collect()}
    assert rows[1]["v"] == "5" and rows[2]["v"] == '"five"'
    assert rows[1]["maybe"] is None and rows[2]["maybe"] == '"x"'
    assert rows[1]["tm"] == "12:34:56.789000"
    assert rows[1]["tus"] == "01:00:00.000001"
    assert rows[2]["tm"] == "00:00:00"


def test_read_avro_timestamp_instant_survives_session_tz(
    spark, tmp_path
):
    """The decoded timestamp is an INSTANT: with a non-UTC session
    timezone the epoch must not shift by the UTC offset (review r8:
    naive values were read as session-local wall time)."""
    schema = {
        "type": "record", "name": "t",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "ts", "type": {"type": "long",
                                    "logicalType": "timestamp-micros"}},
        ],
    }
    p = str(tmp_path / "t.avro")
    open(p, "wb").write(
        encode_avro(schema, [{"k": 1, "ts": 1_600_000_000_000_000}])
    )
    from goodtables_pandas_py_spark.sources import read_avro

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set(
            "spark.sql.session.timeZone", "America/New_York"
        )
        from pyspark.sql import functions as F

        df = read_avro(spark, p)
        epoch = df.select(
            F.col("ts").cast("long").alias("e")
        ).first()["e"]
        assert epoch == 1_600_000_000, epoch
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_timestamp_decode_is_exact_past_double_precision():
    """base/1e6 float math rounded far-range micros; integer timedelta
    arithmetic must be exact (review r8)."""
    schema = {
        "type": "record", "name": "x",
        "fields": [{"name": "ts", "type": {
            "type": "long", "logicalType": "timestamp-micros"}}],
    }
    # year ~2255: 9e15 micros — above double's exact-integer range
    micros = 9_007_199_254_740_993
    _, out = decode_avro(encode_avro(schema, [{"ts": micros}]))
    got = out[0]["ts"]
    want = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros)
    assert got == want
