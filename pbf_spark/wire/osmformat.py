"""OSM PBF PrimitiveBlock / HeaderBlock codec ⇄ Arrow entity tables.

Clean-room implementation of the public OSM PBF format (wiki.openstreetmap.org
/wiki/PBF_Format; field numbers as in /root/reference/internal/pb/osm.proto).
A block's entities of one kind are one ``pyarrow.Table`` with
``schema.BLOCK_SCHEMAS[kind]``: ``parse_primitive_block`` returns them (or
the columns a decode projects) and ``encode_block`` takes them. Decode
semantics mirror the reference decoder
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

from collections.abc import Collection, Mapping
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..model.schema import BLOCK_SCHEMAS
from .proto import WT_I32, WT_I64, WT_LEN, WT_VARINT, MessageBuilder, parse_message, scan_fields
from .varint import (
    decode_varint,
    decode_varints,
    encode_varints,
    varint_sizes,
    zigzag_decode,
    zigzag_encode,
)

ENTITY_LIMIT = 8000  # osmosis-compatible block size (encoder/primitive.go:38-41)
DEFAULT_GRANULARITY = 100
DEFAULT_DATE_GRANULARITY = 1000

MEMBER_TYPE_NAMES = np.array(["node", "way", "relation"], dtype=object)
_MEMBER_TYPES = pa.array(MEMBER_TYPE_NAMES.tolist())  # member type enum 0/1/2 ⇄ string

_EMPTY_I64 = np.empty(0, dtype=np.int64)
_TYPE = {f.name: f.type for s in BLOCK_SCHEMAS.values() for f in s}


def _to_i64(u: np.ndarray) -> np.ndarray:
    return u.astype(np.int64, copy=False) if u.dtype != np.int64 else u


# --------------------------------------------------------------------------
# decode
# --------------------------------------------------------------------------


class Block(NamedTuple):
    """One PrimitiveBlock's entities, one table per kind in file order,
    each with the columns of ``schema.BLOCK_SCHEMAS[kind]`` that the parse
    builds and one chunk per column (none when the block has no entity of
    the kind)."""

    nodes: pa.Table
    ways: pa.Table
    relations: pa.Table


class _Scale(NamedTuple):
    """What a block's entities decode against: its string table and its
    coordinate and timestamp units (PrimitiveBlock fields 1, 17-20)."""

    strings: pa.Array
    granularity: int
    lat_offset: int
    lon_offset: int
    date_granularity: int

    def nanos(self, lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Wire coordinates → full nano-degrees."""
        return (
            nano_degrees(lat, self.lat_offset, self.granularity),
            nano_degrees(lon, self.lon_offset, self.granularity),
        )

    def check_ids(self, *ids: np.ndarray) -> None:
        """Raise on a string id outside the table. Every string column's
        ids are checked whether or not the parse builds the column, so
        malformed input raises the same error whatever the decode builds."""
        for a in ids:
            if a.size and (a.min() < 0 or a.max() >= len(self.strings)):
                bad = a[(a < 0) | (a >= len(self.strings))][0]
                raise IndexError(f"string id {bad} outside the block's {len(self.strings)}-entry table")


def _table(schema: pa.Schema, n: int, cols: dict[str, pa.Array]) -> pa.Table:
    """The table of ``schema`` (a kind's block columns to build) over
    ``n`` entities; a column not in ``cols`` is null."""
    return pa.Table.from_arrays([cols.get(f.name, pa.nulls(n, f.type)) for f in schema], schema=schema)


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
    if pos > m:
        raise ValueError("string table entry runs past its message (truncated message)")
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


def _list(name: str, off: np.ndarray, values: pa.Array) -> pa.ListArray:
    """Ragged (offsets[n+1], flat values) → the list column ``name``."""
    return pa.ListArray.from_arrays(pa.array(off, pa.int32()), values, type=_TYPE[name])


def _tags(scale: _Scale, off: np.ndarray, keys: np.ndarray, vals: np.ndarray) -> pa.ListArray:
    pairs = [scale.strings.take(keys), scale.strings.take(vals)]
    return _list("tags", off, pa.StructArray.from_arrays(pairs, fields=list(_TYPE["tags"].value_type)))


def _info(
    scale: _Scale, n: int, owners: np.ndarray | None, fields: dict[int, tuple[np.ndarray, np.ndarray]]
) -> pa.StructArray:
    """Info (osm.proto:155-176) → the ``info`` column of ``n`` entities.

    ``fields`` maps an Info field (version 1, timestamp 2, changeset 3,
    uid 4, user_sid 5, visible 6) to (values, present) over the entities
    ``owners`` (an index into the n; None for all n). An entity without
    Info is null; an absent timestamp, changeset or uid is null; an
    absent version reads -1, user "" and visible true."""
    has_info = np.ones(n, dtype=bool)
    if owners is not None:
        has_info[:] = False
        has_info[owners] = True

    def get(f: int, default: int) -> tuple[np.ndarray, np.ndarray]:
        if f not in fields:
            return np.full(n, default, dtype=np.int64), np.zeros(n, dtype=bool)
        vals, present = fields[f]
        vals = np.where(present, _to_i64(vals), default)
        if owners is None:
            return vals, present
        v, p = np.full(n, default, dtype=np.int64), np.zeros(n, dtype=bool)
        v[owners], p[owners] = vals, present
        return v, p

    (version, _), (ts, has_ts), (changeset, has_cs), (uid, has_uid), (user, _), (visible, _) = (
        get(f, d) for f, d in ((1, -1), (2, 0), (3, 0), (4, 0), (5, 0), (6, 1))
    )
    ts_us = ts * (scale.date_granularity * 1000)
    return pa.StructArray.from_arrays(
        [
            pa.array(version.astype(np.int32)),
            pa.array(uid.astype(np.int32), mask=~has_uid),
            pa.array(ts_us, _TYPE["info"].field("ts").type, mask=~has_ts),
            pa.array(changeset, mask=~has_cs),
            scale.strings.take(user),
            pa.array(visible != 0),
        ],
        fields=list(_TYPE["info"]),
        mask=pa.array(~has_info),
    )


def _decode_dense_nodes(buf: memoryview, scale: _Scale, schema: pa.Schema) -> pa.Table:
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
    if lats.size != n or lons.size != n:
        raise ValueError(f"DenseNodes has {n} ids, {lats.size} lats and {lons.size} lons")
    build = schema.names
    cols = {"id": pa.array(np.cumsum(ids))}
    if "lat_nano" in build or "lon_nano" in build:
        lat_nano, lon_nano = scale.nanos(np.cumsum(lats), np.cumsum(lons))
        cols["lat_nano"], cols["lon_nano"] = pa.array(lat_nano), pa.array(lon_nano)
    off, keys, vals = _kv_to_ragged(kv, n)
    scale.check_ids(keys, vals)
    if "tags" in build:
        cols["tags"] = _tags(scale, off, keys, vals)
    if dense_info_buf is not None:
        runs = {}
        for f, _wt, v in scan_fields(dense_info_buf):
            run = decode_varints(v)
            if f in (2, 3, 4, 5):  # sint64 deltas
                runs[f] = np.cumsum(zigzag_decode(run))
            elif f == 1 or (f == 6 and run.size):  # an empty visible run means "all visible"
                runs[f] = run
        if any(run.size != n for run in runs.values()):
            raise ValueError(f"DenseInfo arrays disagree with the {n} DenseNodes ids")
        everyone = np.ones(n, dtype=bool)
        _info_column(cols, schema, scale, n, None, {f: (run, everyone) for f, run in runs.items()})
    return _table(schema, n, cols)


def _info_column(cols: dict, schema: pa.Schema, scale: _Scale, n: int, owners, fields) -> None:
    """Check the user string ids (Info field 5); ``cols["info"]`` from
    ``_info`` when the schema has the column."""
    if 5 in fields:
        scale.check_ids(fields[5][0])
    if "info" in schema.names:
        cols["info"] = _info(scale, n, owners, fields)


def _info_spans(b: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> dict:
    """Vectorized Info decode over the submessage SPANS the wavefront
    scan collected: one more wavefront pass over all Info submessages of
    a group instead of per-entity field handling → ``_info``'s fields."""
    varints, present, _spans = _scan_spans_vec(
        b, starts, starts + lens, packed_fields=(), varint_fields=(1, 2, 3, 4, 5, 6), msg_fields=()
    )
    return {f: (varints[f], present[f]) for f in varints}


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

    def _record(fields, f, rows, starts, lens) -> None:
        for fld in fields:
            mf = f == fld
            if mf.any():
                o, s, ln = acc[fld]
                o.append(rows[mf])
                s.append(starts[mf])
                ln.append(lens[mf])

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
            # a repeated scalar in unpacked form (legal proto2) is a
            # one-value chunk of its packed run: record the varint's bytes
            _record(packed_fields, fv, rows0, vp, ve - vp + 1)
            new_pos[m0] = ve + 1
        m2 = wt == WT_LEN
        if m2.any():
            lp = p1[m2]
            le = _varint_ends(lp, oe[m2])
            lns = _gather_varints(b, lp, le).astype(np.int64)
            ps = le + 1
            _record(acc, f[m2], active[m2], ps, lns)
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
        if (new_pos > oe).any():
            raise ValueError("field runs past its message (truncated message)")
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


_KINDS = {1: "node", 3: "way", 4: "relation"}  # PrimitiveGroup field → entity kind
# Packed repeated fields beyond keys 2 / vals 3 per PrimitiveGroup field
# → sint64 delta-coded (True) or plain uint (False), osm.proto Way/Relation
_PACKED = {
    1: {},
    3: {8: True, 9: True, 10: True},  # refs, LocationsOnWays lat, lon
    4: {8: False, 9: True, 10: False},  # roles_sid, memids, types
}


def _decode_entities_arr(
    group_field: int,
    b: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    scale: _Scale,
    schema: pa.Schema,
) -> pa.Table:
    """Node (group field 1), Way (3) or Relation (4) messages at
    ``b[starts:ends]`` → the kind's entity table with ``schema``'s
    columns, all through one wavefront scan.

    Every kind carries id 1, packed keys 2 / vals 3 and Info 4; a Node's
    id, lat 8 and lon 9 are zigzag varints (a Way's or Relation's id is a
    plain int64). Parallel per-entity arrays must agree in count."""
    n = starts.size
    node = group_field == 1
    coding = {2: False, 3: False, **_PACKED[group_field]}
    varints, _pres, spans = _scan_spans_vec(
        b, starts, ends, tuple(coding), varint_fields=(1, 8, 9) if node else (1,), msg_fields=(4,)
    )
    rag = {f: _packed_spans(b, *spans[f], n, sd, sd) for f, sd in coding.items()}

    def parallel(*fields: int) -> None:
        if not all(np.array_equal(rag[f][0], rag[fields[0]][0]) for f in fields[1:]):
            raise ValueError(
                f"group field {group_field}: fields {fields} disagree in count per entity"
            )

    parallel(2, 3)
    ids = zigzag_decode(varints[1]) if node else varints[1]
    build = schema.names
    cols = {"id": pa.array(ids)}
    scale.check_ids(rag[2][1], rag[3][1])
    if "tags" in build:
        cols["tags"] = _tags(scale, rag[2][0], rag[2][1], rag[3][1])
    if spans[4][0].size:
        _info_column(cols, schema, scale, n, spans[4][0], _info_spans(b, *spans[4][1:]))
    if node:
        if "lat_nano" in build or "lon_nano" in build:
            lat, lon = (zigzag_decode(varints[f]) for f in (8, 9))
            cols["lat_nano"], cols["lon_nano"] = map(pa.array, scale.nanos(lat, lon))
    elif group_field == 3:
        ref_off, refs = rag[8]
        if "refs" in build:
            cols["refs"] = _list("refs", ref_off, pa.array(refs))
        if rag[9][1].size or rag[10][1].size:
            # spec: per way, refs, lat and lon have equal counts (osm.proto:233-235)
            parallel(8, 9, 10)
            if "way_lats" in build or "way_lons" in build:
                for name, nano in zip(("way_lats", "way_lons"), scale.nanos(rag[9][1], rag[10][1])):
                    cols[name] = _list(name, ref_off, pa.array(to_degrees(nano)))
    else:
        parallel(9, 8, 10)
        mem_off, mem_ref = rag[9]
        types = rag[10][1]
        if (types > 2).any() or (types < 0).any():
            raise ValueError("unknown relation member type")
        scale.check_ids(rag[8][1])
        if "members" in build:
            members = [pa.array(mem_ref), _MEMBER_TYPES.take(types), scale.strings.take(rag[8][1])]
            member = pa.StructArray.from_arrays(members, fields=list(_TYPE["members"].value_type))
            cols["members"] = _list("members", mem_off, member)
    return _table(schema, n, cols)


def _int64(u: int) -> int:
    """A varint field read as proto ``int64`` (two's complement)."""
    return u - (1 << 64) if u >= 1 << 63 else u


def parse_primitive_block(raw: bytes, columns: Mapping[str, Collection[str]] | None = None) -> Block:
    """Decode an (already uncompressed) PrimitiveBlock into one entity
    table per kind.

    ``columns`` maps a kind to the ``BLOCK_SCHEMAS`` columns to build
    (``id`` always; a kind it leaves out builds only ``id``); None builds
    every column of every kind. Every entity is parsed and checked either
    way, so malformed input raises whatever the projection.

    Mirrors parsePrimitiveBlock (/root/reference/internal/decoder/
    primitive.go:27-44): all groups emitted in file order, grouped by type.
    """
    schemas = {
        kind: schema if columns is None
        else pa.schema([f for f in schema if f.name == "id" or f.name in columns.get(kind, ())])
        for kind, schema in BLOCK_SCHEMAS.items()
    }
    fields = parse_message(raw)
    scale = _Scale(
        strings=_decode_string_table(fields[1][0]) if 1 in fields else pa.array([""], pa.string()),
        granularity=fields.get(17, [DEFAULT_GRANULARITY])[0],
        lat_offset=_int64(fields.get(19, [0])[0]),
        lon_offset=_int64(fields.get(20, [0])[0]),
        date_granularity=fields.get(18, [DEFAULT_DATE_GRANULARITY])[0],
    )

    parts: dict[int, list[pa.Table]] = {1: [], 3: [], 4: []}  # by Node/Way/Relation field
    for group_buf in fields.get(2, []):
        # specialized tight scan (no generator, no per-entry memoryview
        # slicing): a group is a serial run of LEN entries — up to 8000
        # entity messages whose SPANS feed the vectorized batch decoder
        # in place. All group keys are single-byte (fields 1-5);
        # anything else takes the generic skip branch.
        data = bytes(group_buf)
        m = len(data)
        pos = 0
        ent_field: list[int] = []
        ent_start: list[int] = []
        ent_len: list[int] = []
        put_f, put_s, put_l = ent_field.append, ent_start.append, ent_len.append
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
                if f == 2:
                    parts[1].append(_decode_dense_nodes(group_buf[pos : pos + ln], scale, schemas["node"]))
                else:
                    put_f(f)
                    put_s(pos)
                    put_l(ln)
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
        if pos > m:
            raise ValueError("PrimitiveGroup entry runs past its group (truncated message)")
        if not ent_field:
            continue
        seg = np.frombuffer(group_buf, dtype=np.uint8)
        fa = np.array(ent_field, dtype=np.int64)
        starts = np.array(ent_start, dtype=np.int64)
        ends = starts + np.array(ent_len, dtype=np.int64)
        for f, kind_parts in parts.items():
            sel = fa == f
            if sel.any():
                kind = _KINDS[f]
                kind_parts.append(_decode_entities_arr(f, seg, starts[sel], ends[sel], scale, schemas[kind]))
    return Block(
        *(
            pa.Table.from_batches([], schemas[kind]) if not parts[f]
            else parts[f][0] if len(parts[f]) == 1
            else pa.concat_tables(parts[f]).combine_chunks()
            for f, kind in _KINDS.items()
        )
    )


def nano_degrees(coord: np.ndarray, offset: int, granularity: int) -> np.ndarray:
    """Wire coordinate → full nano-degrees (int64, bit-exact tile math)."""
    return offset + granularity * coord


def to_degrees(nano: np.ndarray) -> np.ndarray:
    """Nano-degrees → decimal degrees (model/types.go:106-110)."""
    return nano.astype(np.float64) * 1e-9


# --------------------------------------------------------------------------
# encode (PBF sink / fixture generator)
# --------------------------------------------------------------------------

def _ragged(col: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """List column → (offsets[n+1], flat values); a null list is empty."""
    off = np.zeros(len(col) + 1, dtype=np.int64)
    np.cumsum(pc.list_value_length(col).fill_null(0).to_numpy(), out=off[1:])
    return off, pc.list_flatten(col)


def _sints(vals, off: np.ndarray) -> np.ndarray:
    """Zigzag deltas restarting at each segment ``off[i]:off[i+1]`` —
    calcDeltas (encoder/primitive.go:267-280) per entity."""
    v = np.asarray(vals, dtype=np.int64)
    d = np.diff(v, prepend=np.int64(0))
    starts = off[:-1][np.diff(off) > 0]
    d[starts] = v[starts]
    return zigzag_encode(d)


def _runs(u: np.ndarray, off: np.ndarray) -> list[bytes]:
    """Packed varint payload of each segment ``u[off[i]:off[i+1]]``: one
    encode over all values, sliced at the segments' byte offsets."""
    buf = encode_varints(u)
    ends = np.zeros(u.size + 1, dtype=np.int64)
    np.cumsum(varint_sizes(u), out=ends[1:])
    at = ends[off].tolist()
    return [buf[s:e] for s, e in zip(at[:-1], at[1:])]


def _string_table(*cols: pa.Array) -> tuple[list[str], list[np.ndarray]]:
    """Sorted block string table with "" at index 0 over the string
    columns (nulls read as ""), and each column's string ids — the
    reference's table.go:20-84."""
    enc = pc.dictionary_encode(pa.concat_arrays([c.cast(pa.string()).fill_null("") for c in cols]))
    order = pc.sort_indices(enc.dictionary).to_numpy()
    table = enc.dictionary.take(order).to_pylist()
    rank = np.empty(order.size, dtype=np.int64)
    rank[order] = np.arange(order.size)
    if table[:1] != [""]:
        table.insert(0, "")
        rank += 1
    ids = rank[enc.indices.to_numpy()]
    return table, np.split(ids, np.cumsum([len(c) for c in cols[:-1]]))


def encode_block(kind: str, table: pa.Table) -> bytes:
    """≤ENTITY_LIMIT rows of one entity kind → PrimitiveBlock bytes
    (extractPrimitiveBlock, encoder/primitive.go:99-124).

    ``table`` has the columns of ``schema.BLOCK_SCHEMAS[kind]`` (the
    tables ``parse_primitive_block`` returns): ``id``, ``tags``, ``info``
    and the kind's own, ``lat_nano``/``lon_nano`` for nodes, ``refs`` for
    ways, ``members`` for relations; other columns are ignored. Ways whose
    ``way_lats``/``way_lons`` (degrees, parallel to refs; optional
    columns) are non-empty emit LocationsOnWays fields 9/10
    (osm.proto:228-235); the file's header must then declare the
    optional feature.

    An entity has Info when its ``info.version`` is non-null. A way's or
    relation's Info writes ts, changeset and uid only when non-null. The
    DenseInfo arrays of nodes cover every node of the block or none, so
    a node without Info, or with null fields, writes defaults there:
    version -1, ts, changeset and uid 0, user "", visible.
    """
    if kind not in ("node", "way", "relation"):
        raise ValueError(f"unknown entity kind {kind!r}")
    n = table.num_rows
    col = lambda name: table.column(name).combine_chunks()  # noqa: E731
    ids = col("id").to_numpy()
    tag_off, tags = _ragged(col("tags"))
    info_col = col("info")
    info = {f.name: pc.struct_field(info_col, f.name) for f in info_col.type}
    has_info = info["version"].is_valid()
    has = has_info.to_numpy(zero_copy_only=False)
    version = info["version"].fill_null(-1).to_numpy().astype(np.int64)
    ts_s = info["ts"].cast(pa.int64()).fill_null(0).to_numpy() // 1_000_000  # us → s
    changeset = info["changeset"].fill_null(0).to_numpy()
    uid = info["uid"].fill_null(0).to_numpy().astype(np.int64)
    visible = info["visible"].fill_null(True).to_numpy(zero_copy_only=False) | ~has
    strings = [pc.struct_field(tags, "key"), pc.struct_field(tags, "value")]
    strings.append(pc.if_else(has_info, info["user"], ""))
    if kind == "relation":
        mem_off, members = _ragged(col("members"))
        strings.append(pc.struct_field(members, "role"))
    string_table, (key_id, val_id, user_id, *role_id) = _string_table(*strings)
    # tags sorted per entity by (key, value): string ids sort like their strings
    owner = np.repeat(np.arange(n), np.diff(tag_off))
    order = np.lexsort((val_id, key_id, owner))
    key_id, val_id = key_id[order], val_id[order]

    if kind == "node":  # extractDenseNodes (encoder/primitive.go:126-187)
        whole = np.array([0, n])
        dense = MessageBuilder().bytes_field(1, encode_varints(_sints(ids, whole)))
        if has.any():
            di = MessageBuilder().bytes_field(1, encode_varints(version.view(np.uint64)))
            for f, v in enumerate((ts_s, changeset, uid, user_id), start=2):
                di.bytes_field(f, encode_varints(_sints(np.where(has, v, 0), whole)))
            dense.message(5, di.bytes_field(6, encode_varints(visible.astype(np.uint64))))
        for f, name in ((8, "lat_nano"), (9, "lon_nano")):
            coord = col(name).to_numpy() // DEFAULT_GRANULARITY
            dense.bytes_field(f, encode_varints(_sints(coord, whole)))
        kv = np.zeros(2 * key_id.size + n, dtype=np.uint64)  # k, v pairs, 0 after each node
        at = 2 * np.arange(key_id.size) + owner
        kv[at], kv[at + 1] = key_id, val_id
        dense.bytes_field(10, encode_varints(kv))
        return build_primitive_block([MessageBuilder().message(2, dense)], string_table)

    # Ways and relations: one message per entity over per-entity slices
    # (extractWays / extractRelations, encoder/primitive.go:189-248)
    keys, vals = _runs(key_id.view(np.uint64), tag_off), _runs(val_id.view(np.uint64), tag_off)
    present = lambda f: (has & info[f].is_valid().to_numpy(zero_copy_only=False)).tolist()  # noqa: E731
    has_ts, has_cs, has_uid = present("ts"), present("changeset"), present("uid")
    if kind == "way":
        ref_off, refs = _ragged(col("refs"))
        packed = [(8, _runs(_sints(refs.to_numpy(), ref_off), ref_off), [True] * n)]
        if "way_lats" in table.column_names:
            (lat_off, lats), (lon_off, lons) = _ragged(col("way_lats")), _ragged(col("way_lons"))
            n_refs = np.diff(ref_off)
            has_loc = np.diff(lat_off) > 0
            if (has_loc & ((np.diff(lat_off) != n_refs) | (np.diff(lon_off) != n_refs))).any():
                raise ValueError("LocationsOnWays lat/lon counts must match refs")
            # degrees → nano: the decode's nano * 1e-9 double is within half
            # an ulp of the exact value, so rint recovers the integer
            for f, off, deg in ((9, lat_off, lats), (10, lon_off, lons)):
                coord = np.rint(deg.to_numpy() * 1e9).astype(np.int64) // DEFAULT_GRANULARITY
                packed.append((f, _runs(_sints(coord, off), off), has_loc.tolist()))
    else:
        mem_type = pc.index_in(pc.struct_field(members, "type"), value_set=_MEMBER_TYPES)
        if mem_type.null_count:
            raise ValueError("unknown relation member type")
        mem_ref = pc.struct_field(members, "ref").to_numpy()
        has_mem = (np.diff(mem_off) > 0).tolist()
        packed = [
            (8, _runs(role_id[0].view(np.uint64), mem_off), has_mem),
            (9, _runs(_sints(mem_ref, mem_off), mem_off), has_mem),
            (10, _runs(mem_type.to_numpy().astype(np.uint64), mem_off), has_mem),
        ]
    has_tags = (np.diff(tag_off) > 0).tolist()
    ids, has, version, ts_s, changeset, uid, user_id, visible = (
        a.tolist() for a in (ids, has, version, ts_s, changeset, uid, user_id, visible)
    )
    group = MessageBuilder()
    for i in range(n):
        m = MessageBuilder().varint(1, ids[i])
        if has_tags[i]:
            m.bytes_field(2, keys[i]).bytes_field(3, vals[i])
        if has[i]:
            inf = MessageBuilder().varint(1, version[i])
            if has_ts[i]:
                inf.varint(2, ts_s[i])
            if has_cs[i]:
                inf.varint(3, changeset[i])
            if has_uid[i]:
                inf.varint(4, uid[i])
            inf.varint(5, user_id[i])
            if not visible[i]:
                inf.varint(6, 0)
            m.message(4, inf)
        for f, runs, emit in packed:
            if emit[i]:
                m.bytes_field(f, runs[i])
        group.message(3 if kind == "way" else 4, m)
    return build_primitive_block([group], string_table)


def build_primitive_block(groups: list[MessageBuilder], string_table: list[str]) -> bytes:
    """PrimitiveBlock: the string table, then the groups. Granularity,
    date granularity and offsets stay at the defaults (fields 17-20
    absent)."""
    block = MessageBuilder()
    st = MessageBuilder()
    for s in string_table:
        st.string(1, s)
    block.message(1, st)
    for g in groups:
        block.message(2, g)
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
