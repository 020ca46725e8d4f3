import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pbf_spark.wire.varint import (
    decode_signed_varints,
    decode_varint,
    decode_varints,
    encode_signed_varints,
    encode_varint,
    encode_varints,
    zigzag_decode,
    zigzag_encode,
)


def test_known_varints():
    # spec examples from the public protobuf encoding docs
    assert encode_varint(0) == b"\x00"
    assert encode_varint(1) == b"\x01"
    assert encode_varint(127) == b"\x7f"
    assert encode_varint(128) == b"\x80\x01"
    assert encode_varint(300) == b"\xac\x02"
    assert decode_varint(b"\xac\x02", 0) == (300, 2)
    # -1 as int64 → 10-byte varint
    assert encode_varint(-1) == b"\xff" * 9 + b"\x01"


def test_zigzag_known():
    v = np.array([0, -1, 1, -2, 2147483647, -2147483648], dtype=np.int64)
    z = zigzag_encode(v)
    assert list(z[:4]) == [0, 1, 2, 3]
    assert (zigzag_decode(z) == v).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=200))
def test_varint_roundtrip_unsigned(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (decode_varints(encode_varints(arr)) == arr).all()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
def test_varint_roundtrip_signed(vals):
    arr = np.array(vals, dtype=np.int64)
    assert (decode_signed_varints(encode_signed_varints(arr)) == arr).all()


def test_truncated_run_rejected():
    with pytest.raises(ValueError):
        decode_varints(b"\x80")  # continuation bit set on final byte


def test_empty():
    assert decode_varints(b"").size == 0
    assert encode_varints(np.empty(0, np.uint64)) == b""


def test_mixed_width_run_and_overlong_varint():
    # mostly 1-3-byte values with a few 5-10-byte ones (a delta run whose
    # first value is a large absolute): must equal the scalar decoder
    rng = np.random.default_rng(5)
    vals = rng.integers(0, 1 << 21, size=2000, dtype=np.uint64)
    vals[[0, 700, 1999]] = [1 << 40, 2**64 - 1, 1 << 28]
    buf = encode_varints(vals)
    expected, pos = [], 0
    while pos < len(buf):
        v, pos = decode_varint(buf, pos)
        expected.append(v)
    assert (decode_varints(buf) == np.array(expected, dtype=np.uint64)).all()
    assert (decode_varints(buf) == vals).all()
    # an 11-byte varint inside a run is rejected, not wrapped
    with pytest.raises(ValueError, match="longer than 10 bytes"):
        decode_varints(b"\x05" + b"\xff" * 10 + b"\x01" + b"\x07")
