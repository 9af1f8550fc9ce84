"""Minimal stdlib OpenStreetMap PBF writer.

Follows the public format spec (https://wiki.openstreetmap.org/wiki/PBF_Format):
the file is a sequence of ``[int32-BE len][BlobHeader][Blob]``; the first
blob is an ``OSMHeader`` (HeaderBlock), the rest are ``OSMData`` blobs,
each a zlib-compressed PrimitiveBlock with its own string table and one
PrimitiveGroup of DenseNodes, Ways or Relations. Coordinates are written at
the default granularity (100 nanodegrees) with zero offsets, so a decimicro
integer ``dm`` round-trips to ``dm * 1e-7`` degrees exactly.

Varints are encoded with NumPy over whole columns (one pass for every id,
coordinate or ref of a block), so writing a few hundred thousand entities
costs well under a second. Output is a pure function of the input rows:
the same rows give byte-identical files.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

ENTITIES_PER_BLOCK = 8000  # spec recommendation for PrimitiveBlock size
_MEMBER_TYPE = {"node": 0, "way": 1, "relation": 2}


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _key(fnum: int, wtype: int) -> bytes:
    return _varint((fnum << 3) | wtype)


def _fbytes(fnum: int, payload: bytes) -> bytes:
    return _key(fnum, 2) + _varint(len(payload)) + payload


def _fvarint(fnum: int, v: int) -> bytes:
    return _key(fnum, 0) + _varint(v)


def _zigzag(a: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.int64)
    return ((a << np.int64(1)) ^ (a >> np.int64(63))).view(np.uint64)


def encode_varints(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varint-encode a uint64 column. Returns the concatenated bytes and the
    byte offset of every value plus the end (len(values) + 1 offsets), so
    callers can slice one packed field per entity out of one encode."""
    v = np.asarray(values, dtype=np.uint64)
    nb = np.ones(len(v), dtype=np.int64)
    t = v >> np.uint64(7)
    while t.any():
        nb += t > 0
        t >>= np.uint64(7)
    offs = np.zeros(len(v) + 1, dtype=np.int64)
    np.cumsum(nb, out=offs[1:])
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    for k in range(int(nb.max()) if len(v) else 0):
        sel = np.flatnonzero(nb > k)
        byte = (v[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)
        more = nb[sel] > k + 1
        out[offs[sel] + k] = (byte | (more.astype(np.uint64) << np.uint64(7))).astype(
            np.uint8
        )
    return out.tobytes(), offs


def _packed(values) -> bytes:
    return encode_varints(np.asarray(values, dtype=np.uint64))[0]


class _Strings:
    """Per-block string table; index 0 is the empty string, which DenseNodes
    keys_vals uses as the per-node terminator."""

    def __init__(self):
        self.index = {"": 0}

    def __call__(self, s: str) -> int:
        i = self.index.get(s)
        if i is None:
            i = self.index[s] = len(self.index)
        return i

    def table(self) -> bytes:
        return b"".join(_fbytes(1, s.encode("utf-8")) for s in self.index)


def _block(strings: _Strings, group: bytes) -> bytes:
    return (
        _fbytes(1, strings.table())
        + _fbytes(2, group)
        + _fvarint(17, 100)  # granularity
    )


def _dense_block(ids, lat_dm, lon_dm, tags) -> bytes:
    st = _Strings()
    kv: list[int] = []
    for t in tags:
        for k, v in t.items():
            kv.append(st(k))
            kv.append(st(v))
        kv.append(0)
    dense = (
        _fbytes(1, _packed(_zigzag(np.diff(ids, prepend=0))))
        + _fbytes(8, _packed(_zigzag(np.diff(lat_dm, prepend=0))))
        + _fbytes(9, _packed(_zigzag(np.diff(lon_dm, prepend=0))))
        + _fbytes(10, _packed(kv))
    )
    return _block(st, _fbytes(2, dense))


def _delta_slices(lists: list) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Delta + zigzag + varint every list of ints in one pass. Returns the
    byte buffer, the per-value byte offsets and the per-list value starts."""
    lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
    starts = np.zeros(len(lists) + 1, dtype=np.int64)
    np.cumsum(lens, out=starts[1:])
    flat = np.fromiter(
        (v for x in lists for v in x), dtype=np.int64, count=int(starts[-1])
    )
    d = np.diff(flat, prepend=0)
    first = starts[:-1][lens > 0]
    d[first] = flat[first]  # delta coding restarts at every entity
    buf, offs = encode_varints(_zigzag(d))
    return buf, offs, starts


def _way_block(ways) -> bytes:
    st = _Strings()
    buf, offs, starts = _delta_slices([refs for _, refs, _ in ways])
    group = bytearray()
    for i, (wid, _, tags) in enumerate(ways):
        keys = [st(k) for k in tags]
        vals = [st(v) for v in tags.values()]
        msg = _fvarint(1, wid)
        if keys:
            msg += _fbytes(2, _packed(keys)) + _fbytes(3, _packed(vals))
        msg += _fbytes(8, buf[offs[starts[i]] : offs[starts[i + 1]]])
        group += _fbytes(3, msg)
    return _block(st, bytes(group))


def _relation_block(relations) -> bytes:
    st = _Strings()
    buf, offs, starts = _delta_slices([[m[1] for m in mem] for _, mem, _ in relations])
    group = bytearray()
    for i, (rid, members, tags) in enumerate(relations):
        keys = [st(k) for k in tags]
        vals = [st(v) for v in tags.values()]
        msg = _fvarint(1, rid)
        if keys:
            msg += _fbytes(2, _packed(keys)) + _fbytes(3, _packed(vals))
        if members:
            msg += (
                _fbytes(8, _packed([st(m[2]) for m in members]))
                + _fbytes(9, buf[offs[starts[i]] : offs[starts[i + 1]]])
                + _fbytes(10, _packed([_MEMBER_TYPE[m[0]] for m in members]))
            )
        group += _fbytes(4, msg)
    return _block(st, bytes(group))


def _blob(btype: str, payload: bytes) -> bytes:
    blob = _fvarint(2, len(payload)) + _fbytes(3, zlib.compress(payload, 6))
    header = _fbytes(1, btype.encode()) + _fvarint(3, len(blob))
    return struct.pack(">i", len(header)) + header + blob


def _header_block() -> bytes:
    return (
        _fbytes(4, b"OsmSchema-V0.6")
        + _fbytes(4, b"DenseNodes")
        + _fbytes(16, b"perfbench")
    )


def write_pbf(path: str, nodes, ways, relations) -> int:
    """Write entity tables to ``path``; returns the file size in bytes.

    nodes:     (ids int64[], lat_dm int64[], lon_dm int64[], tags list[dict])
               with ids ascending; coordinates in decimicro degrees
    ways:      list of (id, refs list[int], tags dict)
    relations: list of (id, members list[(mtype, mid, role)], tags dict)
    """
    ids, lat_dm, lon_dm, tags = nodes
    ids = np.asarray(ids, dtype=np.int64)
    lat_dm = np.asarray(lat_dm, dtype=np.int64)
    lon_dm = np.asarray(lon_dm, dtype=np.int64)
    n = ENTITIES_PER_BLOCK
    size = 0
    with open(path, "wb") as f:
        size += f.write(_blob("OSMHeader", _header_block()))
        for s in range(0, len(ids), n):
            size += f.write(
                _blob(
                    "OSMData",
                    _dense_block(ids[s : s + n], lat_dm[s : s + n], lon_dm[s : s + n], tags[s : s + n]),
                )
            )
        for s in range(0, len(ways), n):
            size += f.write(_blob("OSMData", _way_block(ways[s : s + n])))
        for s in range(0, len(relations), n):
            size += f.write(_blob("OSMData", _relation_block(relations[s : s + n])))
    return size
