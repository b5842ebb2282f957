"""Gorilla-style compression codecs (Facebook Gorilla, VLDB'15).

The engine's analog of the reference's storage-side packing —
``scale_factor``/``add_offset`` int encoding + zlib-6 chunks
(ts2img.py:333-340, :413-419, stack.py:233-238) — applied to per-cell
token/timestamp/value streams as ``binary`` columns:

* **delta-of-delta** for integer/timestamp streams: zigzag(DoD) packed in
  128-value blocks at the block's max bit width,
* **XOR floats**: xor of consecutive float64 bit patterns, packed per
  block at the block's common (leading, meaningful-width) window.

``dod_encode``/``xor_encode`` are the per-row reference encoders.  The
Spark path encodes with :func:`pack_arrow_batches`, one ``mapInArrow``
kernel that runs every step over a whole Arrow batch on the list layout
(flat values + offsets) with no per-row Python, byte-identical to the
reference.  Decoding goes through Arrow-batched pandas UDFs.  Fixed
little-endian layout → byte-identical output across runs/partitions.

Layout (little-endian):
  magic 'RSG1' | codec u8 | n u64 | head values | nblocks u32 |
  per-block params | concatenated packed payloads
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

MAGIC = b"RSG1"
CODEC_DOD = 1
CODEC_XOR = 2
BLOCK = 128


# ---------------------------------------------------------------- bit pack
def _pack_block(vals: np.ndarray, width: int) -> bytes:
    """Pack uint64 values at fixed bit width (MSB-first within value)."""
    if width == 0:
        return b""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((vals[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_block(buf: bytes, n: int, width: int) -> np.ndarray:
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=n * width)
    weights = (np.uint64(1) << np.arange(width - 1, -1, -1, dtype=np.uint64))
    return (bits.reshape(n, width).astype(np.uint64) * weights).sum(
        axis=1, dtype=np.uint64
    )


def _zigzag(v: np.ndarray) -> np.ndarray:
    u = v.astype(np.int64)
    return ((u << 1) ^ (u >> 63)).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.view(np.uint64) if u.dtype != np.uint64 else u
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -(u & np.uint64(1)).astype(
        np.int64
    )


def _bit_width(vals: np.ndarray) -> int:
    m = int(vals.max()) if len(vals) else 0
    return m.bit_length()


# ---------------------------------------------------------- delta-of-delta
def dod_encode(arr: np.ndarray) -> bytes:
    """Encode an int64 stream: head (v0, d0) raw + zigzag(DoD) blocks."""
    a = np.asarray(arr, dtype=np.int64)
    n = len(a)
    out = [MAGIC, struct.pack("<BQ", CODEC_DOD, n)]
    if n == 0:
        return b"".join(out)
    out.append(struct.pack("<q", int(a[0])))
    if n == 1:
        return b"".join(out)
    deltas = np.diff(a)
    out.append(struct.pack("<q", int(deltas[0])))
    dod = np.diff(deltas)
    z = _zigzag(dod)
    nblocks = (len(z) + BLOCK - 1) // BLOCK
    out.append(struct.pack("<I", nblocks))
    widths, payloads = [], []
    for b in range(nblocks):
        blk = z[b * BLOCK : (b + 1) * BLOCK]
        w = _bit_width(blk)
        widths.append(w)
        payloads.append(_pack_block(blk, w))
    out.append(bytes(widths))
    out.extend(payloads)
    return b"".join(out)


def dod_decode(buf: bytes) -> np.ndarray:
    assert buf[:4] == MAGIC, "bad magic"
    codec, n = struct.unpack_from("<BQ", buf, 4)
    assert codec == CODEC_DOD, "not a DoD stream"
    off = 13
    if n == 0:
        return np.empty(0, dtype=np.int64)
    (v0,) = struct.unpack_from("<q", buf, off)
    off += 8
    if n == 1:
        return np.array([v0], dtype=np.int64)
    (d0,) = struct.unpack_from("<q", buf, off)
    off += 8
    (nblocks,) = struct.unpack_from("<I", buf, off)
    off += 4
    widths = list(buf[off : off + nblocks])
    off += nblocks
    m = n - 2  # number of DoD values
    zs = []
    for b in range(nblocks):
        cnt = min(BLOCK, m - b * BLOCK)
        nbytes = (cnt * widths[b] + 7) // 8
        zs.append(_unpack_block(buf[off : off + nbytes], cnt, widths[b]))
        off += nbytes
    dod = _unzigzag(np.concatenate(zs) if zs else np.empty(0, dtype=np.uint64))
    deltas = np.concatenate(([d0], d0 + np.cumsum(dod)))
    return np.concatenate(([v0], v0 + np.cumsum(deltas))).astype(np.int64)


# ----------------------------------------------------------------- XOR f64
def xor_encode(arr: np.ndarray) -> bytes:
    """Gorilla XOR for float64: block-adaptive (leading, width) window."""
    a = np.ascontiguousarray(np.asarray(arr, dtype=np.float64))
    n = len(a)
    out = [MAGIC, struct.pack("<BQ", CODEC_XOR, n)]
    if n == 0:
        return b"".join(out)
    bits = a.view(np.uint64)
    out.append(struct.pack("<Q", int(bits[0])))
    if n == 1:
        return b"".join(out)
    x = bits[1:] ^ bits[:-1]
    nblocks = (len(x) + BLOCK - 1) // BLOCK
    out.append(struct.pack("<I", nblocks))
    params, payloads = [], []
    for b in range(nblocks):
        blk = x[b * BLOCK : (b + 1) * BLOCK]
        nz = blk[blk != 0]
        if len(nz) == 0:
            lead, width = 64, 0
        else:
            # common window across the block: min leading zeros come from
            # the block max; min trailing zeros from the lowest set bit of
            # the OR-reduction (vectorized — no per-value python)
            lz = 64 - int(nz.max()).bit_length()
            ored = int(np.bitwise_or.reduce(nz))
            tz = (ored & -ored).bit_length() - 1
            lead, width = lz, 64 - lz - tz
        params.append(struct.pack("<BB", lead, width))
        if width:
            shifted = blk >> np.uint64(64 - lead - width)
            payloads.append(_pack_block(shifted, width))
    out.extend(params)
    out.extend(payloads)
    return b"".join(out)


def xor_decode(buf: bytes) -> np.ndarray:
    assert buf[:4] == MAGIC, "bad magic"
    codec, n = struct.unpack_from("<BQ", buf, 4)
    assert codec == CODEC_XOR, "not an XOR stream"
    off = 13
    if n == 0:
        return np.empty(0, dtype=np.float64)
    (b0,) = struct.unpack_from("<Q", buf, off)
    off += 8
    if n == 1:
        return np.array([b0], dtype=np.uint64).view(np.float64)
    (nblocks,) = struct.unpack_from("<I", buf, off)
    off += 4
    params = [struct.unpack_from("<BB", buf, off + 2 * i) for i in range(nblocks)]
    off += 2 * nblocks
    m = n - 1
    xs = []
    for b, (lead, width) in enumerate(params):
        cnt = min(BLOCK, m - b * BLOCK)
        nbytes = (cnt * width + 7) // 8
        vals = _unpack_block(buf[off : off + nbytes], cnt, width)
        off += nbytes
        xs.append(vals << np.uint64(64 - lead - width) if width else vals)
    x = np.concatenate(xs)
    bits = np.empty(n, dtype=np.uint64)
    bits[0] = b0
    np.bitwise_xor.accumulate(np.concatenate(([np.uint64(b0)], x)), out=bits)
    return bits.view(np.float64)


# ------------------------------------------------------ Arrow batch kernel
# The per-row encoders above, restated over a whole Arrow batch of list
# rows: every step (DoD/XOR, block widths, bit packing, headers) is one
# numpy pass over the batch's flat values, and the output is the
# concatenation, row by row, of a fixed-layout header prefix, the block
# parameters and the block payloads.
_DOD_HEAD = np.dtype(
    [("magic", "S4"), ("codec", "u1"), ("n", "<u8"), ("v0", "<i8"),
     ("d0", "<i8"), ("nblocks", "<u4")]
)
_XOR_HEAD = np.dtype(
    [("magic", "S4"), ("codec", "u1"), ("n", "<u8"), ("b0", "<u8"),
     ("nblocks", "<u4")]
)
# values per Arrow slice: keeps every binary column's int32 offsets
# (at most ~8 bytes per value plus a header per row) below 2 GiB
_MAX_SLICE_VALUES = 1 << 26


def _starts(lens: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: where each run of ``lens`` begins."""
    out = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=out[1:])
    return out


def _run_sums(x: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Sum of each consecutive run of ``lens`` elements of ``x``."""
    c = np.zeros(len(x) + 1, dtype=np.int64)
    np.cumsum(x, out=c[1:])
    first = _starts(lens)
    return c[first + lens] - c[first]


def _bit_lengths(u: np.ndarray) -> np.ndarray:
    """``int.bit_length`` of every uint64, by binary search on the bits."""
    u = u.astype(np.uint64)
    n = np.zeros(len(u), dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = u >> np.uint64(s) != 0
        n[big] += s
        u[big] >>= np.uint64(s)
    return n + (u != 0)


def _blocks(m: np.ndarray):
    """Block layout of per-row streams of ``m`` values: blocks per row,
    values per block and each block's first value in the stream."""
    nb = (m + BLOCK - 1) // BLOCK
    k = np.arange(nb.sum()) - np.repeat(_starts(nb), nb)
    cnt = np.minimum(BLOCK, np.repeat(m, nb) - k * BLOCK)
    return nb, cnt, _starts(cnt)


def _pack_blocks(vals: np.ndarray, cnt: np.ndarray, widths: np.ndarray):
    """``b"".join(_pack_block(blk, w) ...)`` over every block at once:
    each value goes MSB-first at its block's width into big-endian
    64-bit words, every block padded to a whole byte.  Returns the
    packed bytes and the bytes per block."""
    nbytes = (cnt * widths + 7) // 8
    total = int(nbytes.sum())
    w = np.repeat(widths, cnt)
    pos = np.repeat(_starts(nbytes) * 8, cnt) + (
        np.arange(len(vals)) - np.repeat(_starts(cnt), cnt)
    ) * w
    live = w > 0
    words = np.zeros(total // 8 + 2, dtype=np.uint64)
    if live.any():
        v, pos = vals[live], pos[live]
        word, end = pos >> 6, (pos & 63) + w[live]
        fits = end <= 64
        hi = np.where(
            fits,
            v << np.where(fits, 64 - end, 0).astype(np.uint64),
            v >> np.where(fits, 0, end - 64).astype(np.uint64),
        )
        # bit ranges never overlap, so OR-ing a word's parts is exact;
        # ``word`` is sorted, so each word's parts are one reduceat run
        first = np.flatnonzero(np.r_[True, word[1:] != word[:-1]])
        words[word[first]] = np.bitwise_or.reduceat(hi, first)
        # a value crossing a word boundary spills into the next word;
        # at most one value crosses each boundary
        sp = ~fits
        words[word[sp] + 1] |= v[sp] << (128 - end[sp]).astype(np.uint64)
    return words.astype(">u8").view(np.uint8)[:total], nbytes


def _dod_parts(vals: np.ndarray, lens: np.ndarray) -> list:
    v = vals.astype(np.int64, copy=False)
    first = _starts(lens)
    local = np.arange(len(v)) - np.repeat(first, lens)
    dod = np.zeros(len(v), dtype=np.int64)
    # int64 arithmetic wraps exactly like np.diff(np.diff(a))
    dod[:-2] = v[2:] - 2 * v[1:-1] + v[:-2]
    dod = dod[local + 2 < np.repeat(lens, lens)]
    z = ((dod << 1) ^ (dod >> 63)).view(np.uint64)
    nb, cnt, bstart = _blocks(np.maximum(lens - 2, 0))
    widths = (
        _bit_lengths(np.maximum.reduceat(z, bstart)) if len(cnt) else nb[:0]
    )
    payload, nbytes = _pack_blocks(z, cnt, widths)
    head = np.zeros(len(lens), dtype=_DOD_HEAD)
    head["magic"], head["codec"], head["n"] = MAGIC, CODEC_DOD, lens
    one, two = lens >= 1, lens >= 2
    head["v0"][one] = v[first[one]]
    head["d0"][two] = v[first[two] + 1] - v[first[two]]
    head["nblocks"] = nb
    hlen = 13 + 8 * one + 12 * two
    return [
        (head, hlen),
        (widths.astype(np.uint8), nb),
        (payload, _run_sums(nbytes, nb)),
    ]


def _xor_parts(vals: np.ndarray, lens: np.ndarray) -> list:
    bits = np.ascontiguousarray(vals, dtype=np.float64).view(np.uint64)
    first = _starts(lens)
    local = np.arange(len(bits)) - np.repeat(first, lens)
    x = np.zeros(len(bits), dtype=np.uint64)
    x[:-1] = bits[1:] ^ bits[:-1]
    x = x[local + 1 < np.repeat(lens, lens)]
    nb, cnt, bstart = _blocks(np.maximum(lens - 1, 0))
    if len(cnt):
        ored = np.bitwise_or.reduceat(x, bstart)
        lead = 64 - _bit_lengths(np.maximum.reduceat(x, bstart))
        tz = _bit_lengths(ored & (~ored + np.uint64(1))) - 1
        width = np.where(ored == 0, 0, 64 - lead - tz)
        shift = np.where(width > 0, tz, 0).astype(np.uint64)
        x = x >> np.repeat(shift, cnt)
    else:
        lead = width = nb[:0]
    payload, nbytes = _pack_blocks(x, cnt, width)
    head = np.zeros(len(lens), dtype=_XOR_HEAD)
    head["magic"], head["codec"], head["n"] = MAGIC, CODEC_XOR, lens
    one, two = lens >= 1, lens >= 2
    head["b0"][one] = bits[first[one]]
    head["nblocks"] = nb
    hlen = 13 + 8 * one + 4 * two
    params = np.stack([lead, width], axis=1).astype(np.uint8).ravel()
    return [
        (head, hlen),
        (params, 2 * nb),
        (payload, _run_sums(nbytes, nb)),
    ]


def _assemble(parts: list, rows: int):
    """Row r of the output is the concatenation of every part's r-th
    run: the first ``hlen[r]`` bytes of the header record, then the
    block parameters, then the payload.  Returns (bytes, int64 offsets)."""
    (head, hlen), *rest = parts
    rec = head.view(np.uint8).reshape(rows, head.dtype.itemsize)
    srcs = [(rec[np.arange(rec.shape[1]) < hlen[:, None]], hlen)] + rest
    row_len = sum(lens for _, lens in srcs)
    offs = np.zeros(rows + 1, dtype=np.int64)
    np.cumsum(row_len, out=offs[1:])
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    at = offs[:-1].copy()
    for src, lens in srcs:
        out[np.repeat(at - _starts(lens), lens) + np.arange(len(src))] = src
        at += lens
    return out, offs


def encode_list_array(arr, codec: int, name: str):
    """One Arrow list<int64> (``CODEC_DOD``) or list<double>
    (``CODEC_XOR``) array → the binary array whose row r is
    ``dod_encode``/``xor_encode`` of list r, byte for byte.

    The format has no validity bitmap, so a NULL list or a NULL element
    raises ``ValueError`` naming ``name`` instead of being rewritten
    (a NULL int would otherwise come back as INT64_MIN, a float as NaN).
    """
    import pyarrow as pa

    if arr.null_count:
        raise ValueError(f"cannot encode column {name!r}: NULL list")
    offs = np.asarray(arr.offsets, dtype=np.int64)
    flat = arr.values.slice(offs[0], offs[-1] - offs[0])
    if flat.null_count:
        raise ValueError(
            f"cannot encode column {name!r}: NULL element in a list "
            "(the packed format has no validity bitmap)"
        )
    lens = np.diff(offs)
    vals = flat.to_numpy(zero_copy_only=False)
    parts = (_dod_parts if codec == CODEC_DOD else _xor_parts)(vals, lens)
    data, out_offs = _assemble(parts, len(lens))
    return pa.Array.from_buffers(
        pa.binary(), len(lens),
        [None, pa.py_buffer(out_offs.astype(np.int32)), pa.py_buffer(data)],
    )


def pack_arrow_batches(batches, codecs: dict):
    """``mapInArrow`` kernel of ``encode_series``: every column named in
    ``codecs`` ({column: (codec, source name)}) holds lists and is
    replaced by its encoded binary; other columns pass through.  Batches
    are cut into row slices of at most ``_MAX_SLICE_VALUES`` values."""
    import pyarrow as pa

    for batch in batches:
        names = batch.schema.names
        lists = batch.column(names.index(next(iter(codecs))))
        offs = np.asarray(lists.offsets, dtype=np.int64)
        lo = 0
        while lo < batch.num_rows:
            hi = max(
                lo + 1,
                int(np.searchsorted(
                    offs, offs[lo] + _MAX_SLICE_VALUES, side="right"
                )) - 1,
            )
            part = batch.slice(lo, hi - lo)
            yield pa.RecordBatch.from_arrays(
                [
                    encode_list_array(col, *codecs[c])
                    if c in codecs else col
                    for c, col in zip(names, part.columns)
                ],
                names=names,
            )
            lo = hi


def dod_decode_fast(buf: bytes) -> np.ndarray:
    """dod_decode with a regular-stream fast path: when every block width
    is 0 (all DoD values zero — tier ticks, constant counts) the stream
    is v0 + d0·arange(n), reconstructed without any bit unpacking."""
    assert buf[:4] == MAGIC, "bad magic"
    codec, n = struct.unpack_from("<BQ", buf, 4)
    if codec != CODEC_DOD or n < 3:
        return dod_decode(buf)
    (v0,) = struct.unpack_from("<q", buf, 13)
    (d0,) = struct.unpack_from("<q", buf, 21)
    (nblocks,) = struct.unpack_from("<I", buf, 29)
    widths = buf[33 : 33 + nblocks]
    if any(widths):
        return dod_decode(buf)
    return v0 + d0 * np.arange(n, dtype=np.int64)


@F.pandas_udf(ArrayType(LongType()))
def decode_int_stream(s: pd.Series) -> pd.Series:
    return s.map(lambda b: dod_decode_fast(bytes(b)))


@F.pandas_udf(ArrayType(DoubleType()))
def decode_float_stream(s: pd.Series) -> pd.Series:
    return s.map(lambda b: xor_decode(bytes(b)))
