"""PBF file framing: BlobHeader + Blob pack/unpack.

Clean-room per the public fileformat spec. Framing mirrors the reference
(/root/reference/internal/decoder/blob.go:81-105): big-endian uint32
length prefix → BlobHeader proto ("OSMHeader" | "OSMData", datasize) →
datasize bytes of Blob proto. Blob payload codecs (raw/zlib/lzma/lz4/zstd)
mirror /root/reference/internal/decoder/unpacker.go:38-81; zlib is the
default write codec as in the reference encoder (encoder_options.go:14).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from typing import BinaryIO

from .proto import MessageBuilder, parse_message

try:  # stdlib, always present — kept import-gated for symmetry
    import lzma
except ImportError:  # pragma: no cover
    lzma = None

try:
    import lz4.frame as _lz4  # not in this container; optional seam
except ImportError:  # pragma: no cover
    _lz4 = None

try:
    import zstandard as _zstd  # optional seam
except ImportError:  # pragma: no cover
    _zstd = None

MAX_BLOB_HEADER_SIZE = 64 * 1024
MAX_BLOB_SIZE = 32 * 1024 * 1024

# Blob oneof field numbers (osm.proto:66-88)
_F_RAW, _F_RAW_SIZE, _F_ZLIB, _F_LZMA, _F_LZ4, _F_ZSTD = 1, 2, 3, 4, 6, 7
_CODEC_BY_FIELD = {_F_RAW: "raw", _F_ZLIB: "zlib", _F_LZMA: "lzma", _F_LZ4: "lz4", _F_ZSTD: "zstd"}


def read_blob_header(stream: BinaryIO, offset: int) -> tuple[str, int, int] | None:
    """Read the size prefix and BlobHeader of the frame at byte ``offset``
    → (blob_type, blob_offset, datasize), or None at a clean end of
    stream. The stream is left at ``blob_offset``, the Blob's first
    byte. A malformed or truncated header raises ValueError naming
    ``offset``."""
    size_bytes = stream.read(4)
    if len(size_bytes) == 0:
        return None
    if len(size_bytes) < 4:
        raise ValueError(f"truncated blob header size at byte {offset}")
    (header_size,) = struct.unpack(">I", size_bytes)
    if header_size > MAX_BLOB_HEADER_SIZE:
        raise ValueError(f"blob header too big: {header_size} at byte {offset}")
    raw = stream.read(header_size)
    if len(raw) < header_size:
        raise ValueError(f"truncated blob header at byte {offset}")
    try:
        fields = parse_message(raw)
    except ValueError as e:
        raise ValueError(f"malformed blob header at byte {offset}: {e}") from None
    blob_type, datasize = fields.get(1, [None])[0], fields.get(3, [None])[0]
    if not isinstance(blob_type, memoryview) or not isinstance(datasize, int):
        raise ValueError(f"blob header at byte {offset} lacks its type or datasize")
    if datasize > MAX_BLOB_SIZE:
        raise ValueError(f"blob too big: {datasize} at byte {offset}")
    return bytes(blob_type).decode("utf-8"), offset + 4 + header_size, datasize


def iter_blob_frames(stream: BinaryIO) -> Iterator[tuple[str, bytes]]:
    """Yield (blob_type, blob_bytes) from a framed PBF stream."""
    offset = 0
    while (frame := read_blob_header(stream, offset)) is not None:
        blob_type, blob_offset, datasize = frame
        blob = stream.read(datasize)
        if len(blob) < datasize:
            raise ValueError(f"truncated blob in the frame at byte {offset}")
        offset = blob_offset + datasize
        yield blob_type, blob


def split_blob(blob_bytes: bytes) -> tuple[str, int, bytes]:
    """Blob proto → (codec, raw_size, payload) without decompressing."""
    fields = parse_message(blob_bytes)
    raw_size = fields.get(_F_RAW_SIZE, [0])[0]
    for fnum, codec in _CODEC_BY_FIELD.items():
        if fnum in fields:
            payload = bytes(fields[fnum][0])
            if codec == "raw":
                raw_size = len(payload)
            return codec, raw_size, payload
    raise ValueError("blob carries no data field")


def decompress_payload(codec: str, payload: bytes, raw_size: int) -> bytes:
    """Inflate a blob payload — unpack (unpacker.go:38-81). Inflates at
    most ``raw_size`` bytes, or the spec's ``MAX_BLOB_SIZE`` when the
    blob declares none, and raises if the stream holds more."""
    if codec == "raw":
        return payload
    limit = raw_size or MAX_BLOB_SIZE
    if codec == "zstd":
        if _zstd is None:
            raise NotImplementedError("zstandard not installed in this environment")
        raw = _zstd.ZstdDecompressor().decompress(payload, max_output_size=limit)
    else:
        if codec == "zlib":
            d = zlib.decompressobj()
        elif codec == "lzma":
            if lzma is None:  # pragma: no cover
                raise NotImplementedError("lzma module unavailable")
            d = lzma.LZMADecompressor()
        elif codec == "lz4":
            if _lz4 is None:
                raise NotImplementedError("lz4 not installed in this environment")
            d = _lz4.LZ4FrameDecompressor()
        else:
            raise ValueError(f"unknown codec {codec}")
        raw = d.decompress(payload, limit)
        if not d.eof:
            raise ValueError(f"{codec} payload does not end within {limit} inflated bytes")
    if raw_size and len(raw) != raw_size:
        raise ValueError(f"raw_size mismatch: expected {raw_size}, got {len(raw)}")
    return raw


def unpack_blob(blob_bytes: bytes) -> bytes:
    codec, raw_size, payload = split_blob(blob_bytes)
    return decompress_payload(codec, payload, raw_size)


def compress_payload(raw: bytes, codec: str = "zlib") -> bytes:
    """Compress raw block bytes with the given codec."""
    if codec == "raw":
        return raw
    if codec == "zlib":
        return zlib.compress(raw)
    if codec == "lzma":
        return lzma.compress(raw)
    if codec == "lz4":
        if _lz4 is None:
            raise NotImplementedError("lz4 not installed in this environment")
        return _lz4.compress(raw)
    if codec == "zstd":
        if _zstd is None:
            raise NotImplementedError("zstandard not installed in this environment")
        return _zstd.ZstdCompressor().compress(raw)
    raise ValueError(f"unsupported write codec {codec}")


def build_blob(codec: str, raw_size: int, payload: bytes) -> bytes:
    """Assemble a Blob proto from an already-compressed payload."""
    b = MessageBuilder()
    if codec == "raw":
        b.bytes_field(_F_RAW, payload)
        return b.tobytes()
    b.varint(_F_RAW_SIZE, raw_size)
    field = {"zlib": _F_ZLIB, "lzma": _F_LZMA, "lz4": _F_LZ4, "zstd": _F_ZSTD}[codec]
    b.bytes_field(field, payload)
    return b.tobytes()


def pack_blob(raw: bytes, codec: str = "zlib") -> bytes:
    """Raw block bytes → Blob proto — Pack (encoder/packer.go:41-87)."""
    return build_blob(codec, len(raw), compress_payload(raw, codec))


def frame_blob(blob_type: str, blob_bytes: bytes) -> bytes:
    """BE-uint32 size + BlobHeader + Blob — SaveBlock (encoder/blob.go:29-58)."""
    header = MessageBuilder().string(1, blob_type).varint(3, len(blob_bytes)).tobytes()
    return struct.pack(">I", len(header)) + header + blob_bytes
