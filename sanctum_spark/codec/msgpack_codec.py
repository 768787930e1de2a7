"""MessagePack codec with the reference's exact wire rules.

This is a from-scratch Python implementation of the *behavior* of the
reference's serialization boundary (reference: src/zlmp.zig), which defines
the engine's de-facto type system (SURVEY.md §1.2):

Writer rules:
- integers: smallest signed family member — positive/negative fixint,
  then int8/int16/int32/int64 (src/zlmp.zig:281-315); never uint tags.
- floats: float32 iff the narrowing is lossless, else float64
  (src/zlmp.zig:333-360); canBeFloat32WithoutLossOfPrecision
  (src/zlmp.zig:353-360) explicitly returns true for NaN/Inf/±0, so
  those all narrow to float32 on the wire.
- strings: fixstr(≤31) / str8 / str16 / str32 (src/zlmp.zig:369-385).
- tables: ALWAYS map32, even for sequences (src/zlmp.zig:207-215);
  Python lists are encoded as maps with integer keys 1..n to match the
  Lua-table-as-map wire shape.
- data-only: a key/value pair is silently dropped if either side is not
  serializable — callables and unknown objects (src/zlmp.zig:244-247).

Reader rules: only the subset the writer emits is decoded — fixint±,
fixstr, nil, bool, int8/16/32/64, str8/16/32, float32/64, map32; any other
tag raises ``UnrecognizedMessagePackTag`` (src/zlmp.zig:589-592).

The engine uses ``roundtrip`` as the between-casts boundary in the
simulate path; in the distributed path the Arrow JVM⇄Python boundary plays
the same role and this codec backs the ``--dump-events`` debug sink.

``roundtrip`` is one structural walk that builds ``unpack(pack(x))``
directly, without bytes: entries are dropped, lists re-keyed 1..n and
floats narrowed exactly as the wire path would.  When the walk raises,
``roundtrip`` runs ``unpack(pack(x))`` instead, so errors are the wire
path's own.  ``pack``/``unpack`` are its reference (tests/test_codec.py
checks the two against each other).  On the
simulate seed event the walk takes about a fifth of the wire path's time.
"""

from __future__ import annotations

import operator
import struct


class UnrecognizedMessagePackTag(Exception):
    pass


class NotSerializable(Exception):
    pass


def _serializable(v: object) -> bool:
    if v is None or isinstance(v, (bool, int, float, str, dict, list)):
        # callables are not data; bool before int check irrelevant here
        return not callable(v)
    return False


def _pack_int(v: int, out: bytearray) -> None:
    if 0 <= v <= 127:
        out.append(v)  # positive fixint
    elif -32 <= v < 0:
        out.append(v & 0xFF)  # negative fixint 0xe0..0xff
    elif -(1 << 7) <= v < (1 << 7):
        out.append(0xD0)
        out += struct.pack(">b", v)
    elif -(1 << 15) <= v < (1 << 15):
        out.append(0xD1)
        out += struct.pack(">h", v)
    elif -(1 << 31) <= v < (1 << 31):
        out.append(0xD2)
        out += struct.pack(">i", v)
    elif -(1 << 63) <= v < (1 << 63):
        out.append(0xD3)
        out += struct.pack(">q", v)
    else:
        raise NotSerializable(f"integer out of i64 range: {v}")


def _pack_float(v: float, out: bytearray) -> None:
    # float32 iff lossless; NaN must be special-cased because NaN != NaN
    # would otherwise fail the equality test, but the reference's
    # canBeFloat32WithoutLossOfPrecision (src/zlmp.zig:353-360) returns
    # true for NaN (and Inf/±0, which the equality path already passes).
    try:
        narrowed = struct.unpack(">f", struct.pack(">f", v))[0]
    except OverflowError:
        narrowed = None
    if narrowed == v or v != v:
        out.append(0xCA)
        out += struct.pack(">f", v)
    else:
        out.append(0xCB)
        out += struct.pack(">d", v)


def _pack_str(v: str, out: bytearray) -> None:
    b = v.encode("utf-8")
    n = len(b)
    if n <= 31:
        out.append(0xA0 | n)
    elif n <= 0xFF:
        out.append(0xD9)
        out.append(n)
    elif n <= 0xFFFF:
        out.append(0xDA)
        out += struct.pack(">H", n)
    else:
        out.append(0xDB)
        out += struct.pack(">I", n)
    out += b


def _pack_map(items, out: bytearray) -> None:
    # Single pass with length backpatching, like the reference
    # (placeholder count, patched after iteration — src/zlmp.zig:222-234).
    out.append(0xDF)
    count_pos = len(out)
    out += b"\xff\xff\xff\xff"
    count = 0
    for k, v in items:
        if not (_serializable(k) and _serializable(v)):
            continue  # data-only: drop the whole entry
        _pack_value(k, out)
        _pack_value(v, out)
        count += 1
    out[count_pos : count_pos + 4] = struct.pack(">I", count)


def _pack_value(v: object, out: bytearray) -> None:
    if v is None:
        out.append(0xC0)
    elif isinstance(v, bool):
        out.append(0xC3 if v else 0xC2)
    elif isinstance(v, int):
        _pack_int(v, out)
    elif isinstance(v, float):
        _pack_float(v, out)
    elif isinstance(v, str):
        _pack_str(v, out)
    elif isinstance(v, dict):
        _pack_map(v.items(), out)
    elif isinstance(v, list):
        # Lua sequence == map with keys 1..n on the wire.
        _pack_map(((i + 1, x) for i, x in enumerate(v)), out)
    else:
        raise NotSerializable(f"cannot serialize {type(v).__name__}")


def pack(value: object) -> bytes:
    if not _serializable(value):
        raise NotSerializable(f"cannot serialize {type(value).__name__}")
    out = bytearray()
    _pack_value(value, out)
    return bytes(out)


def _unpack_value(buf: bytes, pos: int):
    tag = buf[pos]
    pos += 1
    if tag <= 0x7F:  # positive fixint
        return tag, pos
    if tag >= 0xE0:  # negative fixint
        return tag - 256, pos
    if 0xA0 <= tag <= 0xBF:  # fixstr
        n = tag & 0x1F
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if tag == 0xC0:
        return None, pos
    if tag == 0xC2:
        return False, pos
    if tag == 0xC3:
        return True, pos
    if tag == 0xD0:
        return struct.unpack(">b", buf[pos : pos + 1])[0], pos + 1
    if tag == 0xD1:
        return struct.unpack(">h", buf[pos : pos + 2])[0], pos + 2
    if tag == 0xD2:
        return struct.unpack(">i", buf[pos : pos + 4])[0], pos + 4
    if tag == 0xD3:
        return struct.unpack(">q", buf[pos : pos + 8])[0], pos + 8
    if tag == 0xD9:
        n = buf[pos]
        pos += 1
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if tag == 0xDA:
        n = struct.unpack(">H", buf[pos : pos + 2])[0]
        pos += 2
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if tag == 0xDB:
        n = struct.unpack(">I", buf[pos : pos + 4])[0]
        pos += 4
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if tag == 0xCA:
        return struct.unpack(">f", buf[pos : pos + 4])[0], pos + 4
    if tag == 0xCB:
        return struct.unpack(">d", buf[pos : pos + 8])[0], pos + 8
    if tag == 0xDF:
        n = struct.unpack(">I", buf[pos : pos + 4])[0]
        pos += 4
        d = {}
        for _ in range(n):
            k, pos = _unpack_value(buf, pos)
            v, pos = _unpack_value(buf, pos)
            d[k] = v
        return d, pos
    raise UnrecognizedMessagePackTag(f"0x{tag:02x}")


def unpack(buf: bytes):
    value, pos = _unpack_value(buf, 0)
    if pos != len(buf):
        raise UnrecognizedMessagePackTag(f"trailing bytes at {pos}")
    return value


_F32 = struct.Struct(">f")
_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1
# exact types that are always serializable (none of them is callable)
_PLAIN = frozenset((type(None), bool, int, float, str, dict, list))


def _walk(v: object):
    """``unpack(pack(v))`` for a serializable ``v``, built directly."""
    t = type(v)
    if t is str:
        if not v.isascii():
            v.encode("utf-8")  # a lone surrogate raises here, as in pack
        return v
    if t is int:
        if _I64_MIN <= v <= _I64_MAX:
            return v
        raise NotSerializable(f"integer out of i64 range: {v}")
    if t is dict:
        return _walk_map(v.items())
    if t is float:
        # same narrowing test as _pack_float; the f32 value comes back
        try:
            narrowed = _F32.unpack(_F32.pack(v))[0]
        except OverflowError:
            return v
        return narrowed if narrowed == v or v != v else v
    if t is list:
        return _walk_map(enumerate(v, 1))
    if v is None or t is bool:
        return v
    # subclasses decode as their plain base type
    if isinstance(v, int):
        return _walk(operator.index(v))
    if isinstance(v, float):
        return _walk(float.__float__(v))
    if isinstance(v, str):
        return v.encode("utf-8").decode("utf-8")
    if isinstance(v, dict):
        return _walk_map(v.items())
    return _walk_map(enumerate(v, 1))  # list subclass


def _walk_map(items) -> dict:
    out = {}
    for k, v in items:
        if not (
            (type(k) in _PLAIN or _serializable(k))
            and (type(v) in _PLAIN or _serializable(v))
        ):
            continue  # data-only: drop the whole entry
        out[_walk(k)] = _walk(v)
    return out


def roundtrip(event: dict) -> dict:
    """The between-casts boundary: enforce "events are data-only".

    Equals ``unpack(pack(event))`` without building the bytes.  Errors are
    rare, so when the walk fails the wire path runs instead and raises
    its own exception.
    """
    if _serializable(event):
        try:
            return _walk(event)
        except Exception:  # noqa: BLE001 - the wire path states the error
            pass
    return unpack(pack(event))
