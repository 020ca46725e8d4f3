"""Vectorized protobuf varint / zigzag codecs (numpy).

Clean-room implementation of the public protobuf wire encoding
(developers.google.com/protocol-buffers/docs/encoding). The reference
engine decodes these scalar-per-value in Go (e.g. delta loops in
/root/reference/internal/decoder/primitive.go:89-101); here every packed
array is decoded as a single numpy pass — the signature vectorization of
this engine (SURVEY.md §2A A11-A16).
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_SEVEN = _U64(7)
_ONE = _U64(1)


def decode_varints(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a packed run of varints into a uint64 array.

    The entire buffer must consist of back-to-back varints (protobuf
    ``[packed=true]`` payload). Vectorized: one pass to find value
    boundaries (bytes with the continuation bit clear), one gather to
    assemble 7-bit groups, one segmented reduction.
    """
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    n = b.size
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    if not is_end[-1]:
        raise ValueError("truncated varint run")
    if is_end.all():
        # all-single-byte run (common for delta-coded ids/refs): the
        # boundary scan, gather, and segmented reduction all collapse
        return b.astype(np.uint64)
    ends_pos = np.flatnonzero(is_end)  # terminator byte of each value
    starts = np.empty_like(ends_pos)
    starts[0] = 0
    starts[1:] = ends_pos[:-1] + 1
    # group id for each byte = number of terminators strictly before it
    gid = np.empty(n, dtype=np.int64)
    gid[0] = 0
    np.cumsum(is_end[:-1], out=gid[1:])
    pos = (np.arange(n, dtype=np.int64) - starts[gid]).astype(np.uint64)
    if pos.max() > 9:
        raise ValueError("varint longer than 10 bytes")
    contrib = (b & 0x7F).astype(np.uint64) << (pos * _SEVEN)
    return np.add.reduceat(contrib, starts)


def encode_varints(vals: np.ndarray) -> bytes:
    """Encode a uint64 array as back-to-back varints (packed payload)."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    if v.size == 0:
        return b""
    # byte length of each varint: 1 + floor(bit_length-1 / 7)
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> _SEVEN
    while tmp.any():
        nbytes += tmp != 0
        tmp >>= _SEVEN
    offsets = np.cumsum(nbytes) - nbytes
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for k in range(10):
        mask = nbytes > k
        if not mask.any():
            break
        chunk = (v[mask] >> _U64(7 * k)) & _U64(0x7F)
        cont = np.where(nbytes[mask] > k + 1, 0x80, 0).astype(np.uint64)
        out[offsets[mask] + k] = (chunk | cont).astype(np.uint8)
    return out.tobytes()


def zigzag_decode(v: np.ndarray) -> np.ndarray:
    """sint{32,64} wire decode: uint64 → int64."""
    u = v.astype(np.uint64, copy=False)
    return ((u >> _ONE) ^ (~(u & _ONE) + _ONE)).view(np.int64)


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    """int64 → uint64 zigzag."""
    s = np.ascontiguousarray(v, dtype=np.int64)
    return ((s << 1) ^ (s >> 63)).view(np.uint64)


def decode_signed_varints(buf: bytes) -> np.ndarray:
    """Packed ``sint64`` run → int64 (varint + zigzag)."""
    return zigzag_decode(decode_varints(buf))


def encode_signed_varints(vals: np.ndarray) -> bytes:
    return encode_varints(zigzag_encode(vals))


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Scalar varint decode for message scanning → (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        byte = buf[pos]
        result |= (byte & 0x7F) << shift
        pos += 1
        if not byte & 0x80:
            return result & 0xFFFFFFFFFFFFFFFF, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint longer than 10 bytes")


def encode_varint(value: int) -> bytes:
    """Scalar varint encode (value taken mod 2^64)."""
    value &= 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        byte = value & 0x7F
        value >>= 7
        if value:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def zigzag_encode_int(v: int) -> int:
    return ((v << 1) ^ (v >> 63)) & 0xFFFFFFFFFFFFFFFF


def zigzag_decode_int(u: int) -> int:
    return (u >> 1) ^ -(u & 1)
