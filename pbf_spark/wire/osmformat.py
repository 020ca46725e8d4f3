"""OSM PBF PrimitiveBlock / HeaderBlock codec ⇄ numpy struct-of-arrays.

Clean-room implementation of the public OSM PBF format (wiki.openstreetmap.org
/wiki/PBF_Format; field numbers as in /root/reference/internal/pb/osm.proto).
Decode semantics mirror the reference decoder
(/root/reference/internal/decoder/primitive.go):

- per-block string table, index 0 reserved empty (osm.proto:121-124)
- DenseNodes id/lat/lon are delta coded → ``np.cumsum`` here
  (primitive.go:89-101 does the scalar equivalent)
- keys_vals interleaved k,v string-ids with 0 terminator per node
  (primitive.go:262-294)
- DenseInfo timestamp/changeset/uid/user_sid delta coded; ``visible``
  defaults true when absent (primitive.go:195-260)
- degrees = (offset + granularity * coord) / 1e9 (model/types.go:106-110)
- timestamps = value * date_granularity milliseconds (primitive.go:310-314)

Encode mirrors the reference encoder (/root/reference/internal/encoder/
primitive.go): granularity 100, offsets 0, date_granularity 1000, sorted
block-local string table with "" at index 0, sorted tag keys, ≤8000
entities per block (EntityLimit, primitive.go:38-41).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from .proto import WT_I32, WT_I64, WT_LEN, WT_VARINT, MessageBuilder, parse_message, scan_fields
from .varint import (
    decode_varint,
    decode_varints,
    encode_varints,
    zigzag_decode,
    zigzag_encode,
)

ENTITY_LIMIT = 8000  # osmosis-compatible block size (encoder/primitive.go:38-41)
DEFAULT_GRANULARITY = 100
DEFAULT_DATE_GRANULARITY = 1000

NODE, WAY, RELATION = 0, 1, 2
MEMBER_TYPE_NAMES = np.array(["node", "way", "relation"], dtype=object)

_EMPTY_I64 = np.empty(0, dtype=np.int64)


def _to_i64(u: np.ndarray) -> np.ndarray:
    return u.astype(np.int64, copy=False) if u.dtype != np.int64 else u


@dataclass
class InfoSoA:
    """Parallel metadata arrays; one slot per entity (has_info gates nulls)."""

    version: np.ndarray  # int32, -1 when absent
    ts_ms: np.ndarray  # int64 epoch millis (already × date_granularity)
    has_ts: np.ndarray  # bool
    changeset: np.ndarray  # int64
    has_changeset: np.ndarray
    uid: np.ndarray  # int32
    has_uid: np.ndarray
    user_sid: np.ndarray  # int64 string-table ids
    visible: np.ndarray  # bool (default True when absent on wire)
    has_info: np.ndarray  # bool

    @staticmethod
    def empty(n: int) -> "InfoSoA":
        return InfoSoA(
            version=np.full(n, -1, dtype=np.int32),
            ts_ms=np.zeros(n, dtype=np.int64),
            has_ts=np.zeros(n, dtype=bool),
            changeset=np.zeros(n, dtype=np.int64),
            has_changeset=np.zeros(n, dtype=bool),
            uid=np.zeros(n, dtype=np.int32),
            has_uid=np.zeros(n, dtype=bool),
            user_sid=np.zeros(n, dtype=np.int64),
            visible=np.ones(n, dtype=bool),
            has_info=np.zeros(n, dtype=bool),
        )


@dataclass
class EntitySoA:
    """One entity type's rows within a block, in file order."""

    id: np.ndarray = field(default_factory=lambda: _EMPTY_I64)
    # tags: ragged → offsets into flat string-id arrays
    tag_off: np.ndarray = field(default_factory=lambda: np.zeros(1, dtype=np.int64))
    tag_key: np.ndarray = field(default_factory=lambda: _EMPTY_I64)
    tag_val: np.ndarray = field(default_factory=lambda: _EMPTY_I64)
    info: InfoSoA | None = None
    # nodes: raw wire coordinates (granularity units); convert with nano_degrees()
    lat_coord: np.ndarray | None = None
    lon_coord: np.ndarray | None = None
    # ways
    ref_off: np.ndarray | None = None
    refs: np.ndarray | None = None
    # LocationsOnWays (osm.proto Way.lat/lon fields 9/10, optional):
    # delta-coded coords parallel to refs, sharing ref_off. The reference
    # decoder never reads these fields (its model.Way has no coordinates,
    # model/entities.go:77-83) — parity-plus: way geometries without a
    # node join are exactly what a spatial engine wants at scale.
    way_lat_coord: np.ndarray | None = None
    way_lon_coord: np.ndarray | None = None
    # relations
    mem_off: np.ndarray | None = None
    mem_ref: np.ndarray | None = None
    mem_type: np.ndarray | None = None  # int8 enum 0/1/2
    mem_role: np.ndarray | None = None  # string ids

    def __len__(self) -> int:
        return int(self.id.size)


@dataclass
class BlockSoA:
    # Arrow string array (offsets + one data buffer, no per-string Python
    # objects — the string table was the #2 parse cost as a decode loop)
    strings_arrow: "object"
    granularity: int
    lat_offset: int
    lon_offset: int
    date_granularity: int
    nodes: EntitySoA
    ways: EntitySoA
    relations: EntitySoA

    @property
    def strings(self) -> np.ndarray:
        """numpy object-array view (convenience for tests/tools; the hot
        decode path consumes ``strings_arrow`` directly)."""
        return self.strings_arrow.to_numpy(zero_copy_only=False)


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------


def _decode_string_table(buf: memoryview) -> "pa.Array":
    """String table → Arrow StringArray built from raw offsets + one
    data buffer: no per-string bytes().decode() round trip (that Python
    loop was ~25% of parse time). The entry chain is walked by a
    SPECIALIZED tight loop (~6 bytecode ops per string vs ~20 through
    the generic generator — entries here are the most numerous of any
    message: ~2000/block). validate(full=True) keeps the utf-8
    rejection behavior of str.decode at C speed."""
    data = bytes(buf)
    m = len(data)
    pos = 0
    starts: list[int] = []
    lens: list[int] = []
    ap_s, ap_l = starts.append, lens.append
    while pos < m:
        key = data[pos]
        pos += 1
        if key == 0x0A:  # field 1, LEN — the entire table in practice
            ln = data[pos]
            pos += 1
            if ln >= 0x80:
                ln &= 0x7F
                shift = 7
                while True:
                    c = data[pos]
                    pos += 1
                    ln |= (c & 0x7F) << shift
                    if c < 0x80:
                        break
                    shift += 7
            ap_s(pos)
            ap_l(ln)
            pos += ln
        else:  # forward-compat: any other field skips generically
            key_full = key
            if key >= 0x80:
                key_full, pos = decode_varint(data, pos - 1)
            f, wt = key_full >> 3, key_full & 7
            if wt == WT_VARINT:
                _, pos = decode_varint(data, pos)
            elif wt == WT_LEN:
                ln, pos = decode_varint(data, pos)
                if f == 1:
                    ap_s(pos)
                    ap_l(ln)
                pos += ln
            elif wt == WT_I64:
                pos += 8
            elif wt == WT_I32:
                pos += 4
            else:
                raise ValueError(f"unsupported wire type {wt}")
    if not starts:
        return pa.array([""], pa.string())
    seg = np.frombuffer(buf, dtype=np.uint8)
    s_arr = np.array(starts, dtype=np.int64)
    l_arr = np.array(lens, dtype=np.int64)
    offsets = np.zeros(s_arr.size + 1, dtype=np.int32)
    np.cumsum(l_arr, out=offsets[1:])
    total = int(offsets[-1])
    rel = np.cumsum(l_arr) - l_arr
    data_buf = seg[np.repeat(s_arr - rel, l_arr) + np.arange(total, dtype=np.int64)]
    arr = pa.StringArray.from_buffers(
        s_arr.size, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data_buf.tobytes())
    )
    arr.validate(full=True)
    return arr


def _decode_info(buf: memoryview, date_granularity: int, soa: InfoSoA, i: int) -> None:
    for f, _wt, v in scan_fields(buf):
        if f == 1:
            soa.version[i] = np.int32(np.uint32(v & 0xFFFFFFFF))
        elif f == 2:
            soa.ts_ms[i] = v * date_granularity
            soa.has_ts[i] = True
        elif f == 3:
            soa.changeset[i] = np.int64(np.uint64(v))
        elif f == 4:
            soa.uid[i] = np.int32(np.uint32(v & 0xFFFFFFFF))
            soa.has_uid[i] = True
        elif f == 5:
            soa.user_sid[i] = v
        elif f == 6:
            soa.visible[i] = bool(v)
    soa.has_info[i] = True
    soa.has_changeset[i] = True


def _kv_to_ragged(kv: np.ndarray, n_nodes: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Interleaved 0-terminated keys_vals → (offsets, keys, vals) string-ids."""
    if kv.size == 0:
        return np.zeros(n_nodes + 1, dtype=np.int64), _EMPTY_I64, _EMPTY_I64
    zero_pos = np.flatnonzero(kv == 0)
    if zero_pos.size != n_nodes:
        raise ValueError(f"keys_vals has {zero_pos.size} terminators for {n_nodes} nodes")
    seg_start = np.concatenate(([-1], zero_pos[:-1]))
    counts = (zero_pos - seg_start - 1) // 2
    off = np.zeros(n_nodes + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    pairs = kv[kv != 0]
    return off, _to_i64(pairs[0::2]), _to_i64(pairs[1::2])


def _decode_dense_nodes(buf: memoryview, date_granularity: int) -> EntitySoA:
    ids = lats = lons = _EMPTY_I64
    kv = _EMPTY_I64
    dense_info_buf: memoryview | None = None
    for f, _wt, v in scan_fields(buf):
        if f == 1:
            ids = zigzag_decode(decode_varints(v))
        elif f == 8:
            lats = zigzag_decode(decode_varints(v))
        elif f == 9:
            lons = zigzag_decode(decode_varints(v))
        elif f == 10:
            kv = _to_i64(decode_varints(v))
        elif f == 5:
            dense_info_buf = v
    n = ids.size
    soa = EntitySoA(
        id=np.cumsum(ids),
        lat_coord=np.cumsum(lats),
        lon_coord=np.cumsum(lons),
    )
    soa.tag_off, soa.tag_key, soa.tag_val = _kv_to_ragged(kv, n)
    if dense_info_buf is not None:
        info = InfoSoA.empty(n)
        for f, _wt, v in scan_fields(dense_info_buf):
            if f == 1:
                info.version = decode_varints(v).astype(np.int32)
            elif f == 2:
                info.ts_ms = np.cumsum(zigzag_decode(decode_varints(v))) * date_granularity
                info.has_ts[:] = True
            elif f == 3:
                info.changeset = np.cumsum(zigzag_decode(decode_varints(v)))
                info.has_changeset[:] = True
            elif f == 4:
                info.uid = np.cumsum(zigzag_decode(decode_varints(v))).astype(np.int32)
                info.has_uid[:] = True
            elif f == 5:
                info.user_sid = np.cumsum(zigzag_decode(decode_varints(v)))
            elif f == 6:
                vis = decode_varints(v)
                if vis.size == n:
                    info.visible = vis.astype(bool)
        info.has_info[:] = True
        soa.info = info
    return soa


def _decode_plain_nodes(bufs: list[memoryview], date_granularity: int) -> EntitySoA:
    n = len(bufs)
    ids = np.zeros(n, dtype=np.int64)
    lats = np.zeros(n, dtype=np.int64)
    lons = np.zeros(n, dtype=np.int64)
    keys: list[np.ndarray] = []
    vals: list[np.ndarray] = []
    counts = np.zeros(n, dtype=np.int64)
    info = InfoSoA.empty(n)
    any_info = False
    for i, buf in enumerate(bufs):
        for f, wt, v in scan_fields(buf):
            if f == 1:
                ids[i] = zigzag_decode(np.array([v], dtype=np.uint64))[0]
            elif f == 7:
                lats[i] = zigzag_decode(np.array([v], dtype=np.uint64))[0]
            elif f == 8:
                lons[i] = zigzag_decode(np.array([v], dtype=np.uint64))[0]
            elif f == 9:
                k = _to_i64(decode_varints(v)) if wt == WT_LEN else np.array([v], np.int64)
                keys.append(k)
                counts[i] += k.size
            elif f == 10:
                vals.append(_to_i64(decode_varints(v)) if wt == WT_LEN else np.array([v], np.int64))
            elif f == 11:
                _decode_info(v, date_granularity, info, i)
                any_info = True
    soa = EntitySoA(id=ids, lat_coord=lats, lon_coord=lons)
    soa.tag_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=soa.tag_off[1:])
    soa.tag_key = np.concatenate(keys) if keys else _EMPTY_I64
    soa.tag_val = np.concatenate(vals) if vals else _EMPTY_I64
    if any_info:
        soa.info = info
    return soa


def _decode_info_batch_spans(
    b: np.ndarray,
    owners: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    n: int,
    date_granularity: int,
) -> InfoSoA:
    """Vectorized Info decode over the submessage SPANS the wavefront
    scan collected: one more wavefront pass over all Info submessages of
    a group instead of per-entity field handling."""
    varints, present, _spans = _scan_spans_vec(
        b, starts, starts + lens, packed_fields=(), varint_fields=(1, 2, 3, 4, 5, 6), msg_fields=()
    )
    info = InfoSoA.empty(n)
    ver = varints[1].astype(np.int32)
    ver[~present[1]] = -1
    info.version[owners] = ver
    info.ts_ms[owners] = varints[2] * date_granularity
    info.has_ts[owners] = present[2]
    info.changeset[owners] = varints[3]
    info.has_changeset[owners] = True
    info.uid[owners] = varints[4].astype(np.int32)
    info.has_uid[owners] = present[4]
    info.user_sid[owners] = varints[5]
    vis = np.ones(owners.size, dtype=bool)
    vis[present[6]] = varints[6][present[6]] != 0
    info.visible[owners] = vis
    info.has_info[owners] = True
    return info


def _concat_bufs(bufs: list[memoryview]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Many small message views → (one uint8 array, starts, ends)."""
    lens = np.fromiter((len(m) for m in bufs), dtype=np.int64, count=len(bufs))
    ends = np.cumsum(lens)
    starts = ends - lens
    b = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    return b, starts, ends


def _gather_varints(b: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Decode one varint per (start, end-terminator) position pair —
    vectorized over all positions; ≤10 numpy passes (max varint width)."""
    lens = ends - starts + 1
    width = int(lens.max()) if lens.size else 0
    if width > 10:
        raise ValueError("varint longer than 10 bytes")
    vals = np.zeros(starts.size, dtype=np.uint64)
    for k in range(width):
        m = lens > k
        vals[m] |= (b[starts[m] + k] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * k)
    return vals


def _scan_spans_vec(
    b: np.ndarray,
    msg_starts: np.ndarray,
    msg_ends: np.ndarray,
    packed_fields: tuple[int, ...],
    varint_fields: tuple[int, ...],
    msg_fields: tuple[int, ...],
):
    """Vectorized structural scan over many small messages ("wavefront"):
    instead of a per-byte Python loop (the round-4 profile's dominant
    term at 8 s/3.2M entities), all messages advance one FIELD per
    iteration with numpy gathers — ~8 passes for a ways group instead of
    millions of interpreter steps.

    Key invariant making this sound: the global terminator index
    (bytes with the continuation bit clear) is only ever queried at
    TRUE varint start positions, where the varint's own continuation
    bits determine its end — bytes inside length-delimited payloads are
    never used as scan anchors, so their pseudo-terminators are inert.

    Returns (varint_vals, presence, spans) where spans[f] =
    (owners, starts, lens) arrays sorted by (owner, start) — payload
    bytes stay IN PLACE in ``b`` and are gathered once downstream
    (_packed_spans), never copied per message. Field keys are decoded
    as full varints, so spec-legal unknown high-numbered fields skip
    correctly (proto2 forward compat).
    """
    n = msg_starts.size
    varint_vals = {f: np.zeros(n, dtype=np.int64) for f in varint_fields}
    presence = {f: np.zeros(n, dtype=bool) for f in varint_fields}
    acc: dict[int, tuple[list, list, list]] = {
        f: ([], [], []) for f in (*packed_fields, *msg_fields)
    }
    empty = (np.empty(0, np.int64),) * 3
    if n == 0 or b.size == 0:
        return varint_vals, presence, {f: empty for f in acc}

    term_idx = np.flatnonzero((b & 0x80) == 0)  # candidate varint terminators

    def _varint_ends(p: np.ndarray, owner_end: np.ndarray) -> np.ndarray:
        loc = np.searchsorted(term_idx, p)
        if loc.size and loc.max() >= term_idx.size:
            raise ValueError("truncated varint run")
        ends = term_idx[loc]
        # the terminator index is buffer-global: a varint truncated at
        # its message boundary would otherwise resolve its terminator
        # inside the NEXT message's bytes and decode garbage silently —
        # every varint must end inside the message that owns it
        if loc.size and (ends >= owner_end).any():
            raise ValueError("varint crosses message boundary (truncated message)")
        return ends

    pos = msg_starts.astype(np.int64, copy=True)
    end = np.asarray(msg_ends, dtype=np.int64)
    active = np.flatnonzero(pos < end)
    while active.size:
        p = pos[active]
        # field key is itself a varint (multi-byte for field number > 15
        # — unknown high-numbered fields are spec-legal and must skip)
        oe = end[active]
        ke = _varint_ends(p, oe)
        key = _gather_varints(b, p, ke)
        f = (key >> np.uint64(3)).astype(np.int64)
        wt = (key & np.uint64(7)).astype(np.uint8)
        p1 = ke + 1
        new_pos = np.empty(active.size, dtype=np.int64)
        m0 = wt == WT_VARINT
        if m0.any():
            vp = p1[m0]
            ve = _varint_ends(vp, oe[m0])
            vals = _gather_varints(b, vp, ve).view(np.int64)
            fv = f[m0]
            rows0 = active[m0]
            for fld in varint_fields:
                mf = fv == fld
                if mf.any():
                    varint_vals[fld][rows0[mf]] = vals[mf]
                    presence[fld][rows0[mf]] = True
            new_pos[m0] = ve + 1
        m2 = wt == WT_LEN
        if m2.any():
            lp = p1[m2]
            le = _varint_ends(lp, oe[m2])
            lns = _gather_varints(b, lp, le).astype(np.int64)
            ps = le + 1
            fl = f[m2]
            rows2 = active[m2]
            for fld in acc:
                mf = fl == fld
                if mf.any():
                    o, s, ln = acc[fld]
                    o.append(rows2[mf])
                    s.append(ps[mf])
                    ln.append(lns[mf])
            new_pos[m2] = ps + lns
        m1 = wt == WT_I64
        if m1.any():
            new_pos[m1] = p1[m1] + 8
        m5 = wt == WT_I32
        if m5.any():
            new_pos[m5] = p1[m5] + 4
        bad = ~(m0 | m2 | m1 | m5)
        if bad.any():
            raise ValueError(f"unsupported wire type {int(wt[bad][0])}")
        pos[active] = new_pos
        active = active[new_pos < end[active]]

    spans = {}
    for fld, (o, s, ln) in acc.items():
        if o:
            O = np.concatenate(o)
            S = np.concatenate(s)
            L = np.concatenate(ln)
            # wavefront steps interleave messages: restore per-owner
            # field order (scan order within each message is monotone)
            order = np.lexsort((S, O))
            spans[fld] = (O[order], S[order], L[order])
        else:
            spans[fld] = empty
    return varint_vals, presence, spans


def _packed_spans(
    buf: np.ndarray,
    owners: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    n: int,
    signed: bool,
    delta: bool,
):
    """Decode packed varint payload SPANS → (offsets[n+1], flat values).

    The spans point into the wavefront scan's concatenated buffer; one
    vectorized gather assembles the flat packed bytes (repeat/arange
    index trick — no per-message copies), then one decode_varints pass
    over everything; per-message value counts are recovered by counting
    continuation-bit terminators per chunk; delta decoding is a global
    cumsum with per-segment base subtraction.
    """
    keep = lens > 0
    if not keep.all():
        owners, starts, lens = owners[keep], starts[keep], lens[keep]
    if owners.size == 0:
        return np.zeros(n + 1, dtype=np.int64), _EMPTY_I64
    total = int(lens.sum())
    rel = np.cumsum(lens) - lens
    idx = np.repeat(starts - rel, lens) + np.arange(total, dtype=np.int64)
    b = buf[idx]
    chunk_lens = lens
    if owners.size > 1 and (owners[1:] == owners[:-1]).any():
        # A packed field split across repeated occurrences (legal protobuf)
        # must decode as one run — merge adjacent same-owner chunks so
        # delta decoding doesn't reset mid-message. (Bytes are already
        # adjacent in the gathered buffer; only the bookkeeping merges.)
        seg_new = np.concatenate(([True], owners[1:] != owners[:-1]))
        sid = np.cumsum(seg_new) - 1
        merged = np.zeros(int(sid[-1]) + 1, dtype=np.int64)
        np.add.at(merged, sid, chunk_lens)
        owners = owners[seg_new]
        chunk_lens = merged
    is_end = (b & 0x80) == 0
    bounds = np.cumsum(chunk_lens)
    ends_cum = np.cumsum(is_end)
    per_chunk = np.diff(np.concatenate(([0], ends_cum[bounds - 1])))
    counts = np.zeros(n, dtype=np.int64)
    np.add.at(counts, np.asarray(owners, dtype=np.int64), per_chunk)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])

    vals = decode_varints(b)
    flat = zigzag_decode(vals) if signed else _to_i64(vals)
    if delta and flat.size:
        # Delta runs reset per owner-merged chunk (one chunk == one message).
        cs = np.cumsum(flat)
        # value[i] within segment s = cs[i] - cs[start(s)-1]
        starts_all = np.concatenate(([0], np.cumsum(per_chunk)))[:-1]
        base = np.zeros(flat.size, dtype=np.int64)
        nonzero_starts = starts_all[per_chunk > 0]
        seg_base = np.where(nonzero_starts > 0, cs[nonzero_starts - 1], 0)
        base_per_val = np.repeat(seg_base, per_chunk[per_chunk > 0])
        flat = cs - base_per_val
    return off, flat


def _decode_ways(bufs: list[memoryview], date_granularity: int) -> EntitySoA:
    return _decode_ways_arr(*_concat_bufs(bufs), date_granularity)


def _decode_ways_arr(
    b: np.ndarray, starts: np.ndarray, ends: np.ndarray, date_granularity: int
) -> EntitySoA:
    n = starts.size
    varints, _pres, spans = _scan_spans_vec(
        b, starts, ends, packed_fields=(2, 3, 8, 9, 10), varint_fields=(1,), msg_fields=(4,)
    )
    soa = EntitySoA(id=varints[1])
    soa.tag_off, soa.tag_key = _packed_spans(b, *spans[2], n, False, False)
    _voff, soa.tag_val = _packed_spans(b, *spans[3], n, False, False)
    soa.ref_off, soa.refs = _packed_spans(b, *spans[8], n, True, True)
    # LocationsOnWays: same packed sint64 delta decode as refs
    lat_off, lats = _packed_spans(b, *spans[9], n, True, True)
    lon_off, lons = _packed_spans(b, *spans[10], n, True, True)
    if lats.size or lons.size:
        if not (np.array_equal(lat_off, soa.ref_off) and np.array_equal(lon_off, soa.ref_off)):
            # spec: per way, the number of values in refs, lat and lon
            # MUST be the same (osm.proto:233-235)
            raise ValueError("LocationsOnWays lat/lon counts must match refs per way")
        soa.way_lat_coord = lats
        soa.way_lon_coord = lons
    if spans[4][0].size:
        soa.info = _decode_info_batch_spans(b, *spans[4], n=n, date_granularity=date_granularity)
    return soa


def _decode_relations_arr(
    b: np.ndarray, starts: np.ndarray, ends: np.ndarray, date_granularity: int
) -> EntitySoA:
    n = starts.size
    varints, _pres, spans = _scan_spans_vec(
        b, starts, ends, packed_fields=(2, 3, 8, 9, 10), varint_fields=(1,), msg_fields=(4,)
    )
    soa = EntitySoA(id=varints[1])
    soa.tag_off, soa.tag_key = _packed_spans(b, *spans[2], n, False, False)
    _voff, soa.tag_val = _packed_spans(b, *spans[3], n, False, False)
    _roff, soa.mem_role = _packed_spans(b, *spans[8], n, False, False)
    soa.mem_off, soa.mem_ref = _packed_spans(b, *spans[9], n, True, True)
    _toff, types = _packed_spans(b, *spans[10], n, False, False)
    if (types > 2).any() or (types < 0).any():
        raise ValueError("unknown relation member type")
    soa.mem_type = types.astype(np.int8)
    if soa.mem_type.size != soa.mem_ref.size or soa.mem_role.size != soa.mem_ref.size:
        raise ValueError("relation member parallel arrays disagree")
    if spans[4][0].size:
        soa.info = _decode_info_batch_spans(b, *spans[4], n=n, date_granularity=date_granularity)
    return soa


def _subset_ragged(
    off: np.ndarray, sel: np.ndarray, flats: list[np.ndarray | None]
) -> tuple[np.ndarray, list[np.ndarray | None]]:
    """Row-subset a ragged (offsets + flat arrays) layout: keep the
    segments of selected rows, rebuild offsets."""
    lens = np.diff(off)
    take = np.repeat(sel, lens)
    new_off = np.zeros(int(sel.sum()) + 1, dtype=off.dtype)
    np.cumsum(lens[sel], out=new_off[1:])
    return new_off, [None if a is None else a[take] for a in flats]


def subset_entities(soa: EntitySoA, sel: np.ndarray) -> EntitySoA:
    """Row-subset an EntitySoA by boolean mask (vectorized gather of
    every parallel array, ragged layouts re-sliced) — the decode-side
    predicate-pushdown primitive (operators/decode tag_filter)."""
    out = EntitySoA(id=soa.id[sel])
    out.tag_off, (out.tag_key, out.tag_val) = _subset_ragged(
        soa.tag_off, sel, [soa.tag_key, soa.tag_val]
    )
    for attr in ("lat_coord", "lon_coord"):
        v = getattr(soa, attr)
        if v is not None:
            setattr(out, attr, v[sel])
    if soa.ref_off is not None:
        out.ref_off, (out.refs, out.way_lat_coord, out.way_lon_coord) = _subset_ragged(
            soa.ref_off, sel, [soa.refs, soa.way_lat_coord, soa.way_lon_coord]
        )
    if soa.mem_off is not None:
        out.mem_off, (out.mem_ref, out.mem_type, out.mem_role) = _subset_ragged(
            soa.mem_off, sel, [soa.mem_ref, soa.mem_type, soa.mem_role]
        )
    if soa.info is not None:
        out.info = InfoSoA(
            **{
                f_: getattr(soa.info, f_)[sel]
                for f_ in InfoSoA.__dataclass_fields__
            }
        )
    return out


def _concat_entity(parts: list[EntitySoA]) -> EntitySoA:
    if len(parts) == 1:
        return parts[0]
    out = EntitySoA(id=np.concatenate([p.id for p in parts]))
    out.tag_key = np.concatenate([p.tag_key for p in parts])
    out.tag_val = np.concatenate([p.tag_val for p in parts])
    offs = [parts[0].tag_off]
    base = parts[0].tag_off[-1]
    for p in parts[1:]:
        offs.append(p.tag_off[1:] + base)
        base += p.tag_off[-1]
    out.tag_off = np.concatenate(offs)

    def _cat(attr):
        vals = [getattr(p, attr) for p in parts]
        if all(v is None for v in vals):
            return None
        if any(v is None for v in vals):
            raise ValueError(f"mixed presence of {attr} across groups in one block")
        return np.concatenate(vals)

    out.lat_coord = _cat("lat_coord")
    out.lon_coord = _cat("lon_coord")
    out.refs = _cat("refs")
    out.way_lat_coord = _cat("way_lat_coord")
    out.way_lon_coord = _cat("way_lon_coord")
    out.mem_ref = _cat("mem_ref")
    out.mem_type = _cat("mem_type")
    out.mem_role = _cat("mem_role")
    for off_attr in ("ref_off", "mem_off"):
        if getattr(parts[0], off_attr) is not None:
            offs = [getattr(parts[0], off_attr)]
            base = offs[0][-1]
            for p in parts[1:]:
                o = getattr(p, off_attr)
                offs.append(o[1:] + base)
                base += o[-1]
            setattr(out, off_attr, np.concatenate(offs))
    if any(p.info is not None for p in parts):
        infos = [p.info if p.info is not None else InfoSoA.empty(len(p)) for p in parts]
        out.info = InfoSoA(
            **{
                f_: np.concatenate([getattr(x, f_) for x in infos])
                for f_ in InfoSoA.__dataclass_fields__
            }
        )
    return out


def parse_primitive_block(raw: bytes) -> BlockSoA:
    """Decode an (already uncompressed) PrimitiveBlock into SoA form.

    Mirrors parsePrimitiveBlock (/root/reference/internal/decoder/
    primitive.go:27-44): all groups emitted in file order, grouped by type.
    """
    fields = parse_message(raw)
    strings = (
        _decode_string_table(fields[1][0]) if 1 in fields else pa.array([""], pa.string())
    )
    granularity = fields.get(17, [DEFAULT_GRANULARITY])[0]
    lat_offset = fields.get(19, [0])[0]
    lon_offset = fields.get(20, [0])[0]
    date_granularity = fields.get(18, [DEFAULT_DATE_GRANULARITY])[0]

    node_parts: list[EntitySoA] = []
    way_parts: list[EntitySoA] = []
    rel_parts: list[EntitySoA] = []
    for group_buf in fields.get(2, []):
        # specialized tight scan (no generator, no per-entry memoryview
        # slicing): a group is a serial run of LEN entries — up to 8000
        # way/relation views whose SPANS feed the vectorized batch
        # decoders in place. All group keys are single-byte (fields
        # 1-5); anything else takes the generic skip branch.
        data = bytes(group_buf)
        m = len(data)
        pos = 0
        plain_nodes: list[memoryview] = []
        w_starts: list[int] = []
        w_lens: list[int] = []
        r_starts: list[int] = []
        r_lens: list[int] = []
        while pos < m:
            key = data[pos]
            pos += 1
            wt = key & 7
            if wt == WT_LEN and key < 0x80:
                ln = data[pos]
                pos += 1
                if ln >= 0x80:
                    ln &= 0x7F
                    shift = 7
                    while True:
                        c = data[pos]
                        pos += 1
                        ln |= (c & 0x7F) << shift
                        if c < 0x80:
                            break
                        shift += 7
                f = key >> 3
                if f == 3:
                    w_starts.append(pos)
                    w_lens.append(ln)
                elif f == 1:
                    plain_nodes.append(group_buf[pos : pos + ln])
                elif f == 2:
                    node_parts.append(
                        _decode_dense_nodes(group_buf[pos : pos + ln], date_granularity)
                    )
                elif f == 4:
                    r_starts.append(pos)
                    r_lens.append(ln)
                pos += ln
            else:  # forward-compat: unknown/multi-byte-key fields skip
                key_full = key
                if key >= 0x80:
                    key_full, pos = decode_varint(data, pos - 1)
                wt = key_full & 7
                if wt == WT_VARINT:
                    _, pos = decode_varint(data, pos)
                elif wt == WT_LEN:
                    ln, pos = decode_varint(data, pos)
                    pos += ln
                elif wt == WT_I64:
                    pos += 8
                elif wt == WT_I32:
                    pos += 4
                else:
                    raise ValueError(f"unsupported wire type {wt}")
        if plain_nodes:
            node_parts.append(_decode_plain_nodes(plain_nodes, date_granularity))
        seg = np.frombuffer(group_buf, dtype=np.uint8)
        if w_starts:
            ws = np.array(w_starts, dtype=np.int64)
            way_parts.append(
                _decode_ways_arr(seg, ws, ws + np.array(w_lens, np.int64), date_granularity)
            )
        if r_starts:
            rs = np.array(r_starts, dtype=np.int64)
            rel_parts.append(
                _decode_relations_arr(seg, rs, rs + np.array(r_lens, np.int64), date_granularity)
            )

    def merge(parts: list[EntitySoA]) -> EntitySoA:
        return _concat_entity(parts) if parts else EntitySoA()

    return BlockSoA(
        strings_arrow=strings,
        granularity=int(granularity),
        lat_offset=int(lat_offset),
        lon_offset=int(lon_offset),
        date_granularity=int(date_granularity),
        nodes=merge(node_parts),
        ways=merge(way_parts),
        relations=merge(rel_parts),
    )


def nano_degrees(coord: np.ndarray, offset: int, granularity: int) -> np.ndarray:
    """Wire coordinate → full nano-degrees (int64, bit-exact tile math)."""
    return offset + granularity * coord


def to_degrees(nano: np.ndarray) -> np.ndarray:
    """Nano-degrees → decimal degrees (model/types.go:106-110)."""
    return nano.astype(np.float64) * 1e-9


# --------------------------------------------------------------------------
# encode (fixture generator / PBF sink)
# --------------------------------------------------------------------------


class StringTable:
    """Block-local sorted dictionary, "" reserved at index 0.

    Mirrors /root/reference/internal/encoder/table.go:20-84.
    """

    def __init__(self) -> None:
        self._seen: set[str] = set()

    def add(self, *values: str) -> None:
        self._seen.update(values)

    def add_array(self, values) -> None:
        self._seen.update(values)

    def build(self) -> tuple[list[str], dict[str, int]]:
        table = [""] + sorted(self._seen - {""})
        return table, {s: i for i, s in enumerate(table)}


def _delta(vals: np.ndarray) -> np.ndarray:
    """Delta encode (inverse of cumsum) — calcDeltas (encoder/primitive.go:267-280)."""
    v = np.ascontiguousarray(vals, dtype=np.int64)
    out = v.copy()
    out[1:] = v[1:] - v[:-1]
    return out


def _encode_info(
    b: MessageBuilder,
    field_no: int,
    version: int,
    ts_ms: int | None,
    changeset: int | None,
    uid: int | None,
    user_sid: int | None,
    visible: bool,
    date_granularity: int,
) -> None:
    info = MessageBuilder()
    info.varint(1, version & 0xFFFFFFFF if version >= 0 else (1 << 64) - 1)
    if ts_ms is not None:
        info.varint(2, ts_ms // date_granularity)
    if changeset is not None:
        info.varint(3, changeset)
    if uid is not None:
        info.varint(4, uid)
    if user_sid is not None:
        info.varint(5, user_sid)
    if not visible:
        info.varint(6, 0)
    b.message(field_no, info)


def build_dense_nodes_group(
    ids: np.ndarray,
    lat_nano: np.ndarray,
    lon_nano: np.ndarray,
    tags: list[list[tuple[str, str]]] | None,
    sid: dict[str, int],
    info: dict | None = None,
    granularity: int = DEFAULT_GRANULARITY,
    date_granularity: int = DEFAULT_DATE_GRANULARITY,
) -> MessageBuilder:
    """DenseNodes group — extractDenseNodes (encoder/primitive.go:126-187)."""
    dense = MessageBuilder()
    lat_coord = np.asarray(lat_nano, np.int64) // granularity
    lon_coord = np.asarray(lon_nano, np.int64) // granularity
    dense.bytes_field(1, encode_varints(zigzag_encode(_delta(ids))))
    if info is not None:
        di = MessageBuilder()
        di.bytes_field(1, encode_varints(np.asarray(info["version"], np.uint64)))
        di.bytes_field(
            2,
            encode_varints(
                zigzag_encode(_delta(np.asarray(info["ts_ms"], np.int64) // date_granularity))
            ),
        )
        di.bytes_field(3, encode_varints(zigzag_encode(_delta(info["changeset"]))))
        di.bytes_field(4, encode_varints(zigzag_encode(_delta(info["uid"]))))
        di.bytes_field(
            5,
            encode_varints(
                zigzag_encode(_delta(np.array([sid[u] for u in info["user"]], np.int64)))
            ),
        )
        if "visible" in info:
            di.bytes_field(6, encode_varints(np.asarray(info["visible"], np.uint64)))
        dense.message(5, di)
    dense.bytes_field(8, encode_varints(zigzag_encode(_delta(lat_coord))))
    dense.bytes_field(9, encode_varints(zigzag_encode(_delta(lon_coord))))
    if tags is not None:
        kv: list[int] = []
        for node_tags in tags:
            for k, v in sorted(node_tags):
                kv.append(sid[k])
                kv.append(sid[v])
            kv.append(0)
        dense.bytes_field(10, encode_varints(np.array(kv, dtype=np.uint64)))
    group = MessageBuilder()
    group.message(2, dense)
    return group


def _tag_fields(b: MessageBuilder, kf: int, vf: int, tags: list[tuple[str, str]], sid) -> None:
    if not tags:
        return
    st = sorted(tags)
    b.bytes_field(kf, encode_varints(np.array([sid[k] for k, _ in st], np.uint64)))
    b.bytes_field(vf, encode_varints(np.array([sid[v] for _, v in st], np.uint64)))


def build_ways_group(
    ways: list[dict],
    sid: dict[str, int],
    date_granularity: int = DEFAULT_DATE_GRANULARITY,
    granularity: int = DEFAULT_GRANULARITY,
) -> MessageBuilder:
    """Ways group — extractWays (encoder/primitive.go:189-215).

    Parity-plus: ways carrying ``lat_nanos``/``lon_nanos`` (parallel to
    refs) emit LocationsOnWays fields 9/10 (osm.proto:228-235, delta
    sint64 in granularity units). The writer of such a file MUST set the
    'LocationsOnWays' optional feature in the header (spec)."""
    group = MessageBuilder()
    for w in ways:
        wb = MessageBuilder()
        wb.varint(1, w["id"])
        _tag_fields(wb, 2, 3, w.get("tags", []), sid)
        if w.get("info"):
            i = w["info"]
            _encode_info(wb, 4, i.get("version", -1), i.get("ts_ms"), i.get("changeset"), i.get("uid"), sid.get(i.get("user", "")), i.get("visible", True), date_granularity)
        wb.bytes_field(8, encode_varints(zigzag_encode(_delta(np.asarray(w["refs"], np.int64)))))
        if w.get("lat_nanos") is not None:
            lat_coord = np.asarray(w["lat_nanos"], np.int64) // granularity
            lon_coord = np.asarray(w["lon_nanos"], np.int64) // granularity
            if lat_coord.size != len(w["refs"]) or lon_coord.size != len(w["refs"]):
                raise ValueError("LocationsOnWays lat/lon counts must match refs")
            wb.bytes_field(9, encode_varints(zigzag_encode(_delta(lat_coord))))
            wb.bytes_field(10, encode_varints(zigzag_encode(_delta(lon_coord))))
        group.message(3, wb)
    return group


def build_relations_group(rels: list[dict], sid: dict[str, int], date_granularity: int = DEFAULT_DATE_GRANULARITY) -> MessageBuilder:
    """Relations group — extractRelations (encoder/primitive.go:217-248)."""
    group = MessageBuilder()
    for r in rels:
        rb = MessageBuilder()
        rb.varint(1, r["id"])
        _tag_fields(rb, 2, 3, r.get("tags", []), sid)
        if r.get("info"):
            i = r["info"]
            _encode_info(rb, 4, i.get("version", -1), i.get("ts_ms"), i.get("changeset"), i.get("uid"), sid.get(i.get("user", "")), i.get("visible", True), date_granularity)
        members = r.get("members", [])
        if members:
            rb.bytes_field(8, encode_varints(np.array([sid[m["role"]] for m in members], np.uint64)))
            rb.bytes_field(
                9,
                encode_varints(
                    zigzag_encode(_delta(np.array([m["ref"] for m in members], np.int64)))
                ),
            )
            rb.bytes_field(
                10, encode_varints(np.array([m["type"] for m in members], np.uint64))
            )
        group.message(4, rb)
    return group


def build_primitive_block(
    groups: list[MessageBuilder],
    string_table: list[str],
    granularity: int = DEFAULT_GRANULARITY,
    date_granularity: int = DEFAULT_DATE_GRANULARITY,
) -> bytes:
    block = MessageBuilder()
    st = MessageBuilder()
    for s in string_table:
        st.string(1, s)
    block.message(1, st)
    for g in groups:
        block.message(2, g)
    if granularity != DEFAULT_GRANULARITY:
        block.varint(17, granularity)
    if date_granularity != DEFAULT_DATE_GRANULARITY:
        block.varint(18, date_granularity)
    return block.tobytes()


# --------------------------------------------------------------------------
# HeaderBlock
# --------------------------------------------------------------------------

SUPPORTED_FEATURES = frozenset({"OsmSchema-V0.6", "DenseNodes", "HistoricalInformation"})


@dataclass
class Header:
    bbox_nano: tuple[int, int, int, int] | None = None  # left, right, top, bottom
    required_features: tuple[str, ...] = ()
    optional_features: tuple[str, ...] = ()
    writing_program: str = ""
    source: str = ""
    replication_ts: int | None = None
    replication_seqno: int | None = None
    replication_url: str = ""

    @property
    def bbox_degrees(self) -> dict | None:
        if self.bbox_nano is None:
            return None
        l, r, t, b = self.bbox_nano
        # divide (not multiply by 1e-9): matches the reference ToDegrees
        # float64(nano)/1e9 exactly (model/types.go:114-117) — the product
        # form differs in the last ulp and would break DMS/ftoa goldens
        return {"left": l / 1e9, "right": r / 1e9, "top": t / 1e9, "bottom": b / 1e9}


def parse_header_block(raw: bytes) -> Header:
    """Decode HeaderBlock — LoadHeader (decoder/header.go:29-71)."""
    fields = parse_message(raw)
    h = Header()
    if 1 in fields:
        bb = parse_message(fields[1][0])
        zz = lambda u: (u >> 1) ^ -(u & 1)
        h.bbox_nano = (zz(bb[1][0]), zz(bb[2][0]), zz(bb[3][0]), zz(bb[4][0]))
    h.required_features = tuple(bytes(v).decode() for v in fields.get(4, []))
    h.optional_features = tuple(bytes(v).decode() for v in fields.get(5, []))
    if 16 in fields:
        h.writing_program = bytes(fields[16][0]).decode()
    if 17 in fields:
        h.source = bytes(fields[17][0]).decode()
    if 32 in fields:
        h.replication_ts = fields[32][0]
    if 33 in fields:
        h.replication_seqno = fields[33][0]
    if 34 in fields:
        h.replication_url = bytes(fields[34][0]).decode()
    unsupported = set(h.required_features) - SUPPORTED_FEATURES
    if unsupported:
        raise ValueError(f"unsupported required features: {sorted(unsupported)}")
    return h


def build_header_block(h: Header) -> bytes:
    b = MessageBuilder()
    if h.bbox_nano is not None:
        bb = MessageBuilder()
        l, r, t, bot = h.bbox_nano
        bb.svarint(1, l).svarint(2, r).svarint(3, t).svarint(4, bot)
        b.message(1, bb)
    for fnum, feats in ((4, h.required_features), (5, h.optional_features)):
        for feat in feats:
            b.string(fnum, feat)
    if h.writing_program:
        b.string(16, h.writing_program)
    if h.source:
        b.string(17, h.source)
    if h.replication_ts is not None:
        b.varint(32, h.replication_ts)
    if h.replication_seqno is not None:
        b.varint(33, h.replication_seqno)
    if h.replication_url:
        b.string(34, h.replication_url)
    return b.tobytes()
