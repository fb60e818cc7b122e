"""Differential oracle for the OCF codec: the Apache Avro Java library.

The codec tests elsewhere are self-referential (Python writes what
Python reads). Here an independent implementation — the
``avro-1.12.1.jar`` that pyspark ships, driven through py4j on the
test session's JVM — reads what the codec wrote and writes what the
codec must read back:

- round trip: Python ``write_ocf`` -> JVM ``DataFileReader`` ->
  JVM ``DataFileWriter`` -> ``read_ocf`` equals the input, for every
  schema shape and every codec both sides support;
- resolution: a JVM ``GenericDatumReader(readerSchema)`` read of a
  Python-written file, rewritten by the JVM under the reader schema,
  equals ``read_ocf_resolved`` of the same file.

Values are compared type-strictly (``3`` is not ``3.0``), so a
promotion that lands on the wrong Python type is a failure, not a pass.
"""

from __future__ import annotations

import json

import pytest

from s3_avro_repair_spark.avro_codec import (
    block_stats,
    read_ocf,
    read_ocf_resolved,
    write_ocf_bytes,
)

SHAPES = {
    "type": "record",
    "name": "Shapes",
    "fields": [
        {"name": "id", "type": "long"},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "Inner",
                "fields": [
                    {"name": "x", "type": "int"},
                    {"name": "flag", "type": "boolean"},
                    {
                        "name": "deep",
                        "type": {
                            "type": "record",
                            "name": "Deep",
                            "fields": [
                                {"name": "s", "type": "string"},
                                {"name": "f", "type": "float"},
                                {"name": "raw", "type": "bytes"},
                            ],
                        },
                    },
                ],
            },
        },
        {
            "name": "items",
            "type": {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "Item",
                    "fields": [
                        {"name": "k", "type": "string"},
                        {"name": "w", "type": "double"},
                    ],
                },
            },
        },
        {
            "name": "groups",
            "type": {"type": "map", "values": {"type": "array", "items": "long"}},
        },
        {
            "name": "color",
            "type": {"type": "enum", "name": "Color", "symbols": ["RED", "GREEN", "BLUE"]},
        },
        {"name": "digest", "type": {"type": "fixed", "name": "Digest", "size": 4}},
        {
            "name": "choice",
            "type": [
                "null",
                "long",
                "string",
                {
                    "type": "record",
                    "name": "Point",
                    "fields": [
                        {"name": "x", "type": "double"},
                        {"name": "y", "type": "double"},
                    ],
                },
            ],
        },
        {"name": "tagged", "type": {"type": "array", "items": ["null", "string", "bytes"]}},
        {"name": "scores", "type": {"type": "map", "values": ["null", "double", "boolean"]}},
    ],
}


def _shape_record(i: int) -> dict:
    choice = [None, -(i**5), f"pick-{i}-é", {"x": i / 4, "y": -i / 8}][i % 4]
    return {
        "id": (-1) ** i * (i << 40),
        "inner": {
            "x": -(2**31) + i if i % 5 == 0 else i * 7,
            "flag": i % 2 == 0,
            "deep": {"s": "δ" * (i % 3) + str(i), "f": i * 0.5, "raw": bytes(range(i % 7))},
        },
        "items": [{"k": f"k{j}", "w": j / 3} for j in range(i % 4)],
        "groups": {f"g{j}": list(range(j, j + i % 3)) for j in range(i % 3)},
        "color": ["RED", "GREEN", "BLUE"][i % 3],
        "digest": (i * 2654435761 % 2**32).to_bytes(4, "big"),
        "choice": choice,
        "tagged": [None, f"t{i}", b"\x00\xff"][: i % 4],
        "scores": {"a": None, "b": i * 1.5, "c": i % 2 == 1} if i % 3 else {},
    }


RECORDS = [_shape_record(i) for i in range(40)]


def _typed(v):
    """Type-strict comparable form: dicts (records and maps) as sorted
    item tuples, every leaf tagged with its Python type."""
    if isinstance(v, dict):
        return tuple(sorted((k, _typed(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_typed(x) for x in v)
    return (type(v).__name__, v)


def _jvm_rewrite(spark, src, dst, codec: str, reader_schema=None) -> None:
    """Read ``src`` with the JVM Avro library (under ``reader_schema``
    when given, else the file's own schema) and write every record to
    ``dst`` with ``codec`` and small blocks."""
    jvm = spark._jvm
    avro = jvm.org.apache.avro
    rschema = (
        avro.Schema.Parser().parse(json.dumps(reader_schema))
        if reader_schema is not None
        else None
    )
    datum_reader = (
        avro.generic.GenericDatumReader(rschema)
        if rschema is not None
        else avro.generic.GenericDatumReader()
    )
    reader = avro.file.DataFileReader(jvm.java.io.File(str(src)), datum_reader)
    try:
        schema = rschema if rschema is not None else reader.getSchema()
        writer = avro.file.DataFileWriter(avro.generic.GenericDatumWriter(schema))
        writer.setCodec(avro.file.CodecFactory.fromString(codec))
        writer.setSyncInterval(256)
        writer.create(schema, jvm.java.io.File(str(dst)))
        try:
            while reader.hasNext():
                writer.append(reader.next())
        finally:
            writer.close()
    finally:
        reader.close()


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "bzip2", "xz"])
def test_jvm_round_trip_every_shape(spark, tmp_path, codec):
    src, dst = tmp_path / "py.avro", tmp_path / "jvm.avro"
    src.write_bytes(write_ocf_bytes(SHAPES, RECORDS, codec=codec, block_records=3))
    _jvm_rewrite(spark, src, dst, codec)
    data = dst.read_bytes()
    _schema, back = read_ocf(data)
    assert _typed(back) == _typed(RECORDS)
    # the JVM chose its own block layout, and it has several blocks
    assert block_stats(data)[0] > 2


def _rec(name, *fields):
    return {
        "type": "record",
        "name": name,
        "fields": [dict(zip(("name", "type", "default"), f)) for f in fields],
    }


_SKIPPED = {
    "type": "array",
    "items": _rec("Skipped", ("s", "string"), ("m", {"type": "map", "values": "long"})),
}
_COLOR_W = {"type": "enum", "name": "Color", "symbols": ["RED", "GREEN", "BLUE", "GRAY"]}
_COLOR_R = {"type": "enum", "name": "Color", "symbols": ["GRAY", "RED", "BLUE"], "default": "RED"}

# (writer, reader, records)
RESOLUTION_CASES = {
    "field_skip_and_default": (
        _rec("R", ("a", "long"), ("skip", _SKIPPED), ("b", "string")),
        _rec(
            "R",
            ("b", "string"),
            ("a", "long"),
            ("added", "string", "dflt"),
            ("opt", ["null", "long"], None),
        ),
        [
            {"a": i, "skip": [{"s": "x" * j, "m": {"k": j}} for j in range(i % 3)], "b": f"b{i}"}
            for i in range(12)
        ],
    ),
    "array_item_promotion": (
        _rec("R", ("ints", {"type": "array", "items": "int"}),
             ("strs", {"type": "array", "items": "string"})),
        _rec("R", ("ints", {"type": "array", "items": "double"}),
             ("strs", {"type": "array", "items": "bytes"})),
        [{"ints": list(range(-i, i)), "strs": [f"s{j}é" for j in range(i)]} for i in range(8)],
    ),
    "map_value_promotion": (
        _rec("R", ("counts", {"type": "map", "values": "int"}),
             ("names", {"type": "map", "values": "string"})),
        _rec("R", ("counts", {"type": "map", "values": "double"}),
             ("names", {"type": "map", "values": "bytes"})),
        [
            {"counts": {f"c{j}": j - 3 for j in range(i % 5)},
             "names": {f"n{j}": "ü" * j for j in range(i % 3)}}
            for i in range(10)
        ],
    ),
    "writer_union_branch_promotion": (
        _rec("R", ("v", ["null", "int", "string"]), ("w", ["int", "null"])),
        _rec("R", ("v", ["null", "long", "string"]), ("w", ["null", "double"])),
        [
            {"v": [None, i, f"s{i}"][i % 3], "w": None if i % 4 == 0 else -i}
            for i in range(12)
        ],
    ),
    "enum_symbol_default": (
        _rec("R", ("c", _COLOR_W)),
        _rec("R", ("c", _COLOR_R)),
        [{"c": s} for s in ["RED", "GREEN", "BLUE", "GRAY", "GREEN"]],
    ),
}


@pytest.mark.parametrize("case", sorted(RESOLUTION_CASES))
def test_jvm_resolution_matches_read_ocf_resolved(spark, tmp_path, case):
    writer, reader, records = RESOLUTION_CASES[case]
    src, dst = tmp_path / "py.avro", tmp_path / "jvm.avro"
    src.write_bytes(write_ocf_bytes(writer, records, codec="deflate", block_records=4))
    _jvm_rewrite(spark, src, dst, "null", reader_schema=reader)
    _schema, jvm_read = read_ocf(dst.read_bytes())
    got = read_ocf_resolved(src.read_bytes(), reader)
    assert len(got) == len(records)
    assert _typed(got) == _typed(jvm_read)


@pytest.mark.xfail(
    strict=True,
    reason=(
        "Spec §Schema Resolution: 'if reader's is a union, but writer's is "
        "not: The first schema in the reader's union that matches the "
        "writer's schema is recursively resolved against it', where a "
        "promotable primitive counts as a match. The codec takes that "
        "first branch (long -> double); the Java library prefers a branch "
        "of the writer's exact type first (long -> long)."
    ),
)
def test_jvm_reader_union_prefers_exact_branch(spark, tmp_path):
    writer = _rec("R", ("v", "long"))
    reader = _rec("R", ("v", ["double", "long"]))
    src, dst = tmp_path / "py.avro", tmp_path / "jvm.avro"
    src.write_bytes(write_ocf_bytes(writer, [{"v": 3}]))
    _jvm_rewrite(spark, src, dst, "null", reader_schema=reader)
    _schema, jvm_read = read_ocf(dst.read_bytes())
    assert _typed(read_ocf_resolved(src.read_bytes(), reader)) == _typed(jvm_read)
