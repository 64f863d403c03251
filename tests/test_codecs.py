"""The shared byte codecs of ``intake_spark/compress.py``: one CRC-32C
and one unsigned LEB128 varint encoder/decoder pair, which the Kafka
wire client, TFRecord, protobuf/OSM, PMTiles, Avro, MQTT and snappy
paths all call."""

from __future__ import annotations

import ast
import pathlib

import pytest

from intake_spark import compress, mlds, wire
from intake_spark.compress import crc32c, read_uvarint, uvarint

ENGINE = pathlib.Path(compress.__file__).parent


def test_crc32c_is_one_function_and_chains():
    assert wire.crc32c is mlds.crc32c is compress.crc32c
    a, b = b"intake" * 5, bytes(range(19))
    assert crc32c(b, crc32c(a)) == crc32c(a + b)
    assert crc32c(b"123456789") == 0xE3069283


def test_read_uvarint_bounds():
    # a 64-bit value needs at most 10 bytes: an 11th is an error, not a
    # silently huge integer
    top = uvarint(2**64 - 1)
    assert len(top) == 10 and read_uvarint(b"\x07" + top, 1) == (2**64 - 1, 11)
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        read_uvarint(b"\x80" * 11 + b"\x01", 0)
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        read_uvarint(b"\x80" * 10 + b"\x01", 0)
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        list(mlds._fields(b"\x80" * 11 + b"\x01"))
    with pytest.raises(ValueError, match="truncated"):
        read_uvarint(b"\x81\x82", 0)
    with pytest.raises(ValueError, match="truncated"):
        read_uvarint(b"", 0)
    with pytest.raises(ValueError, match="negative"):
        uvarint(-1)


def _is_leb128_loop(fn: ast.FunctionDef) -> bool:
    """A hand-rolled LEB128 loop: a 7-bit mask (``& 0x7F`` / ``% 128``)
    beside a 7-bit step (``>>= 7``, ``//= 128``, ``shift += 7``)."""
    mask = step = False
    for node in ast.walk(fn):
        if (isinstance(node, ast.BinOp)
                and isinstance(node.right, ast.Constant)
                and (isinstance(node.op, ast.BitAnd) and node.right.value == 0x7F
                     or isinstance(node.op, ast.Mod) and node.right.value == 128)):
            mask = True
        if (isinstance(node, ast.AugAssign)
                and isinstance(node.value, ast.Constant)
                and (isinstance(node.op, (ast.RShift, ast.Add)) and node.value.value == 7
                     or isinstance(node.op, ast.FloorDiv) and node.value.value == 128)):
            step = True
    return mask and step


def test_one_crc32c_and_one_varint_pair():
    """No module under intake_spark/ defines its own CRC-32C or LEB128
    loop. The MQTT packet readers decode the remaining length from a
    socket one ``recv(1)`` at a time, not from a buffer, and stay."""
    stream_readers = {("wire.py", "_read_packet"), ("loopback.py", "_read_packet")}
    crcs, loops = [], []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = str(path.relative_to(ENGINE))
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if "crc32c" in node.name.lower() and rel != "compress.py":
                crcs.append(f"{rel}:{node.lineno} {node.name}")
            if (_is_leb128_loop(node) and (rel, node.name) not in stream_readers
                    and not (rel == "compress.py" and node.name in ("uvarint", "read_uvarint"))):
                loops.append(f"{rel}:{node.lineno} {node.name}")
    assert not crcs
    assert not loops
