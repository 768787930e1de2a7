"""Codec property tests — the §1.2 wire rules (FIXTURES.md edge cases)."""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import example, given, settings, strategies as st

from sanctum_spark.codec import pack, unpack, roundtrip, UnrecognizedMessagePackTag


# --- integer family boundaries (reference: src/zlmp.zig:281-315) ---------

@pytest.mark.parametrize(
    "value,expected_tag",
    [
        (0, None),  # positive fixint: tag IS the value
        (127, None),
        (-32, None),  # negative fixint
        (-1, None),
        (-33, 0xD0),  # int8
        (-128, 0xD0),
        (128, 0xD1),  # int16 (129..32767 positives skip int8: reference
        (-129, 0xD1),  # packs the smallest SIGNED member that fits)
        (32767, 0xD1),
        (-(1 << 15), 0xD1),
        (1 << 15, 0xD2),
        (-(1 << 15) - 1, 0xD2),
        ((1 << 31) - 1, 0xD2),
        (1 << 31, 0xD3),
        ((1 << 63) - 1, 0xD3),
        (-(1 << 63), 0xD3),
    ],
)
def test_int_width(value, expected_tag):
    buf = pack(value)
    if expected_tag is None:
        assert len(buf) == 1
    else:
        assert buf[0] == expected_tag
    assert unpack(buf) == value
    assert isinstance(unpack(buf), int)


# --- float32-iff-lossless (reference: src/zlmp.zig:333-360) --------------

@pytest.mark.parametrize(
    "value,tag",
    [
        (0.5, 0xCA),
        (-0.0, 0xCA),
        (1.5, 0xCA),
        (float("inf"), 0xCA),
        (float("-inf"), 0xCA),
        (0.1, 0xCB),  # not representable in f32
        (10.5, 0xCA),
        (1e300, 0xCB),
        # canBeFloat32WithoutLossOfPrecision (src/zlmp.zig:353-360) is
        # explicitly true for NaN/Inf/±0 → all narrow to f32 on the wire.
        (float("nan"), 0xCA),
        (float("inf"), 0xCA),
        (float("-inf"), 0xCA),
        (-0.0, 0xCA),
    ],
)
def test_float_width(value, tag):
    buf = pack(value)
    assert buf[0] == tag
    out = unpack(buf)
    if math.isnan(value):
        assert math.isnan(out)
    else:
        assert out == value


def test_int_float_distinction_survives():
    ev = {"i": 10, "f": 10.5}
    out = roundtrip(ev)
    assert isinstance(out["i"], int) and isinstance(out["f"], float)


# --- string length families (reference: src/zlmp.zig:369-385) ------------

@pytest.mark.parametrize(
    "n,tag",
    [(0, None), (31, None), (32, 0xD9), (255, 0xD9), (256, 0xDA), (65535, 0xDA), (65536, 0xDB)],
)
def test_str_width(n, tag):
    s = "x" * n
    buf = pack(s)
    if tag is None:
        assert buf[0] == (0xA0 | n)
    else:
        assert buf[0] == tag
    assert unpack(buf) == s


# --- tables: always map32, non-string keys, data-only dropping -----------

def test_map_always_map32():
    buf = pack({"a": 1})
    assert buf[0] == 0xDF
    assert struct.unpack(">I", buf[1:5])[0] == 1


def test_sequence_is_map_with_int_keys():
    # Lua {1,2,3} → map {1:1, 2:2, 3:3} on the wire (src/zlmp.zig:214-215)
    assert unpack(pack([10, 20, 30])) == {1: 10, 2: 20, 3: 30}


def test_non_string_keys():
    ev = {1: "a", True: "b", 2.5: "c", "s": "d"}
    assert roundtrip(ev) == ev


def test_function_values_dropped_per_entry():
    # the decrement-counter seed shape (src/tests/test-suite/decrement-counter/seed.lua)
    ev = {
        1: 1, 2: 2, 3: 3,
        "counter": 10,
        "foo": lambda: None,
        "hello_world": "Hello, very beautiful world!",
        "is_abc": True,
        "table": {"xyz": True},
    }
    out = roundtrip(ev)
    assert "foo" not in out
    assert out["counter"] == 10
    assert out["table"] == {"xyz": True}
    assert out[1] == 1 and out[3] == 3


def test_unrecognized_tag_rejected():
    # array tags are never written and must be rejected (src/zlmp.zig:589-592)
    with pytest.raises(UnrecognizedMessagePackTag):
        unpack(bytes([0x90]))  # fixarray
    with pytest.raises(UnrecognizedMessagePackTag):
        unpack(bytes([0xC4, 0x00]))  # bin8


# --- property: any data-only event round trips losslessly ----------------

scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
    st.floats(allow_nan=False),
    st.text(max_size=64),
)
keys = st.one_of(st.integers(min_value=-1000, max_value=1000), st.text(max_size=16), st.booleans())
events = st.recursive(
    scalars, lambda inner: st.dictionaries(keys, inner, max_size=8), max_leaves=30
)


@given(events)
def test_roundtrip_property(value):
    assert unpack(pack(value)) == value


# --- roundtrip is the structural walk of unpack(pack(x)) -----------------

class _Str(str):
    pass


class _Int(int):
    pass


class _Float(float):
    pass


def _no_op():
    return None


_SURROGATES = st.sampled_from(["\ud800", "a\udfffb", "\udc80" * 3])
_bad_ints = st.sampled_from([1 << 63, -(1 << 63) - 1, 1 << 64, -(1 << 70)])
_odd_floats = st.sampled_from(
    [float("nan"), 0.0, -0.0, float("inf"), float("-inf"), 0.1, 1e300, 3.4028235e38]
)
_rt_text = st.one_of(st.text(max_size=8), _SURROGATES)
_rt_ints = st.one_of(st.integers(), _bad_ints)
_rt_floats = st.one_of(st.floats(), _odd_floats)
_rt_scalars = st.one_of(
    st.none(),
    st.booleans(),
    _rt_ints,
    _rt_floats,
    _rt_text,
    st.builds(_Str, _rt_text),
    st.builds(_Int, _rt_ints),
    st.builds(_Float, _rt_floats),
)
# hashable values the wire drops: the entry goes, whichever side it is on
_rt_dropped = st.sampled_from([(1, 2), frozenset({3}), _no_op, b"raw", 1j])
_rt_keys = st.one_of(_rt_scalars, _rt_dropped)
_rt_trees = st.recursive(
    st.one_of(_rt_scalars, _rt_dropped, st.just(object())),
    lambda inner: st.one_of(
        st.dictionaries(_rt_keys, inner, max_size=5),
        st.lists(inner, max_size=5),
    ),
    max_leaves=20,
)


def _same(a, b) -> bool:
    """Equal, with exact types, float bits and dict order."""
    if type(a) is not type(b):
        return False
    if type(a) is float:
        return struct.pack(">d", a) == struct.pack(">d", b)
    if type(a) is dict:
        return len(a) == len(b) and all(
            _same(ka, kb) and _same(va, vb)
            for (ka, va), (kb, vb) in zip(a.items(), b.items())
        )
    return a == b


@example({"\ud800": 1 << 64})  # the key's error wins over the value's
@example({"k": [1, "\ud800", 1 << 64]})
@example([float("nan"), -0.0, _Str("s"), _Int(5), _Float(0.1), _no_op])
@settings(max_examples=400, deadline=None)
@given(_rt_trees)
def test_roundtrip_is_pack_unpack(value):
    try:
        expected = unpack(pack(value))
    except Exception as e:  # noqa: BLE001 - the exception type is the spec
        with pytest.raises(type(e)):
            roundtrip(value)
        return
    assert _same(roundtrip(value), expected)


class _HashableDict(dict):
    def __hash__(self):
        return 7


def test_roundtrip_unhashable_key_after_pack_errors():
    # such a key decodes to a plain dict, which unpack cannot insert; but
    # unpack only runs once pack has seen the whole value
    with pytest.raises(TypeError):
        roundtrip({_HashableDict(a=1): 1})
    with pytest.raises(UnicodeEncodeError):
        roundtrip({_HashableDict(a=1): 1, "b": "\ud800"})
    with pytest.raises(TypeError):
        unpack(pack({_HashableDict(a=1): 1}))


def test_roundtrip_copies_containers():
    ev = {"t": {"x": [1]}, "n": 1}
    out = roundtrip(ev)
    out["t"]["x"][1] = 2
    assert ev == {"t": {"x": [1]}, "n": 1}
