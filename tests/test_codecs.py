"""The shared byte codecs of ``intake_spark/compress.py``: one CRC-32C
and one unsigned LEB128 varint encoder/decoder pair, which the Kafka
wire client, TFRecord, protobuf/OSM, PMTiles, Avro, MQTT and snappy
paths all call; and the one bit layer, ``intake_spark/bitio.py``, that
every pure-Python entropy coder reads and writes bits through."""

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
    loop. The one MQTT packet reader, shared by client and broker,
    decodes the remaining length from a stream one byte at a time, not
    from a buffer, and stays."""
    stream_readers = {("wire.py", "read_mqtt_packet")}
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


def _self_attr(e) -> bool:
    return (isinstance(e, ast.Attribute) and isinstance(e.value, ast.Name)
            and e.value.id == "self")


def _reads_state(e, local: set) -> bool:
    """Does ``e`` read ``self`` state (an attribute, not a method call)
    or a local computed from it?"""
    calls = {id(n.func) for n in ast.walk(e) if isinstance(n, ast.Call)}
    return any(_self_attr(x) and id(x) not in calls
               or isinstance(x, ast.Name) and x.id in local for x in ast.walk(e))


def _keeps_bit_buffer(cls: ast.ClassDef) -> bool:
    """A class that shifts by a bit offset held in ``self`` (or shifts a
    ``self`` register one bit), indexes or appends to bytes through
    ``self`` state, and rebinds a ``self`` attribute outside
    ``__init__``: a bit cursor kept over a byte string."""
    shift = byte_io = rebinds = False
    for fn in cls.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        local: set = set()
        for _ in range(3):  # locals computed from locals computed from self
            for n in ast.walk(fn):
                if isinstance(n, (ast.Assign, ast.AugAssign)) and _reads_state(n.value, local):
                    for t in (n.targets if isinstance(n, ast.Assign) else [n.target]):
                        local |= {x.id for x in ast.walk(t) if isinstance(x, ast.Name)}
        for n in ast.walk(fn):
            if isinstance(n, (ast.BinOp, ast.AugAssign)) and isinstance(
                    n.op, (ast.LShift, ast.RShift)):
                left, amt = (n.left, n.right) if isinstance(n, ast.BinOp) else (n.target, n.value)
                if _reads_state(amt, local) or (
                        _self_attr(left) and isinstance(amt, ast.Constant) and amt.value == 1):
                    shift = True
            if (isinstance(n, ast.Subscript) and not isinstance(n.slice, (ast.Constant, ast.Slice))
                    and _reads_state(n.value, local)):
                byte_io = True
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "append" and _reads_state(n.func.value, local)):
                byte_io = True
            if fn.name != "__init__" and isinstance(n, (ast.Assign, ast.AugAssign)):
                for t in (n.targets if isinstance(n, ast.Assign) else [n.target]):
                    if _self_attr(t) or isinstance(t, ast.Tuple) and any(map(_self_attr, t.elts)):
                        rebinds = True
    return shift and byte_io and rebinds


def bit_buffer_classes(sources) -> set:
    """(module, class) of every class that keeps a bit buffer over a byte
    string, every class of ``bitio.py``, and every subclass of one (bases
    resolved through ``from ... import X as Y``)."""
    hits, bases = set(), {}
    for rel, tree in sources:
        alias = {a.asname or a.name: a.name for n in ast.walk(tree)
                 if isinstance(n, ast.ImportFrom) for a in n.names}
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                bases[rel, node.name] = {alias.get(b, b) for b in (
                    ast.unparse(x).split(".")[-1] for x in node.bases)}
                if rel == "bitio.py" or _keeps_bit_buffer(node):
                    hits.add((rel, node.name))
    while True:
        names = {c for _, c in hits}
        new = {k for k, bs in bases.items() if bs & names} - hits
        if not new:
            return hits
        hits |= new


def _engine_sources():
    for path in sorted(ENGINE.rglob("*.py")):
        yield str(path.relative_to(ENGINE)), ast.parse(path.read_text())


def test_one_bit_io_module():
    """Only ``bitio.py`` keeps a bit buffer over a byte string, in at most
    four classes. The JPEG 2000 MQ arithmetic coder keeps a code register
    and a byte cursor, a separate job, and stays."""
    arithmetic = {("llm/jpeg2000.py", "MQEncoder"), ("llm/jpeg2000.py", "MQDecoder")}
    hits = bit_buffer_classes(_engine_sources())
    assert hits - arithmetic == {("bitio.py", c) for c in
                                 ("MSBReader", "MSBWriter", "LSBReader", "LSBWriter")}


def test_bit_buffer_guard_catches_a_hand_copied_reader():
    """The guard sees a per-bit reader and writer copied into another
    module, a subclass of the copy, and a subclass of a bitio class."""
    mutant = ast.parse('''
from intake_spark.bitio import LSBReader as _Bits
class CopiedReader:
    def __init__(self, data):
        self.data, self.pos, self.acc, self.n = data, 0, 0, 0
    def bit(self):
        if self.n == 0:
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1
class CopiedWriter:
    def __init__(self):
        self.out, self.cur, self.nbits = bytearray(), 0, 0
    def put_bit(self, b):
        self.cur = (self.cur << 1) | (b & 1)
        self.nbits += 1
        if self.nbits == 8:
            self.out.append(self.cur)
            self.cur = self.nbits = 0
class PaddedWriter(CopiedWriter):
    def flush(self):
        return bytes(self.out)
class TunedReader(_Bits):
    pass
''')
    hits = bit_buffer_classes(list(_engine_sources()) + [("mutant.py", mutant)])
    for name in ("CopiedReader", "CopiedWriter", "PaddedWriter", "TunedReader"):
        assert ("mutant.py", name) in hits, name
