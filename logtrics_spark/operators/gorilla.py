"""N7 — Gorilla compression: delta-of-delta timestamps + XOR values.

Implements the chunk codec from the public Gorilla paper (Pelkonen et
al., "Gorilla: A Fast, Scalable, In-Memory Time Series Database",
VLDB 2015):

- timestamps: delta-of-delta with prefix-coded buckets
    dod == 0                -> '0'
    dod in [-63, 64]        -> '10'   + 7 bits
    dod in [-255, 256]      -> '110'  + 9 bits
    dod in [-2047, 2048]    -> '1110' + 12 bits
    else                    -> '1111' + 64 bits (full int64, so irregular
                                        series always round-trip)
  The first delta is encoded with the same scheme against an implicit
  previous delta of 0.
- values: XOR against the previous value
    xor == 0 -> '0'
    else '1' then:
      '0'  -> meaningful bits fit the previous (leading, length) window;
              emit length bits
      '1'  -> 5 bits leading-zero count (capped 31) + 6 bits
              (meaningful-length - 1) + that many bits
  The control bits let the encoder pick any window.  This one declares
  one window per chunk and column, covering the p10 leading / p90
  ending bit of its nonzero xors; a value outside it emits a one-off
  header, and the next fitting value re-declares the chunk window.
  Bit-identity is guaranteed for every float64 including NaN payloads,
  ±0.0 and denormals because everything runs on uint64 views — Python
  floats never touch the values (SURVEY.md §7.6 hard part #1).

Chunk layout (one chunk per (series, chunk_window), k value columns
sharing one timestamp stream):
    u32 n_points | u16 n_cols | i64 ts[0] | u64 col0[0] .. u64 colk[0]
    | ts bitstream | col0 bitstream | .. | colk bitstream
    | trailer: (u16 column, validity bitmap) per column with a null
  (each bitstream byte-aligned, prefixed by u32 byte length, so a read
  skips the streams of columns it does not return).  Each value column
  is its 64-bit pattern: int64 for integer columns, float64 for float
  columns, the µs offset from window_start for timestamps.  A chunk
  without nulls has no trailer.  The chunk table's ``value_cols``
  column names each chunk's columns and their Spark types
  ("cnt:bigint,sum:double,.."); parquet dictionary-encodes it.  That
  description is the chunk format: a chunk table or row without one
  raises ``ChunkFormatError``.

The encoder is one segmented numpy pass over every chunk of an Arrow
batch (``_encode_chunks``): no step loops over chunks in Python, and
``compress_chunk`` is its one-chunk call.  The Spark face is
``compress_tier`` (repartition + sort by chunk key -> one mapInArrow
pass per partition, one encoder call per Arrow batch) and
``decompress_chunks`` (one mapInArrow pass that decodes only the
requested columns; ``decompress_chunks_range`` first prunes whole
chunks on their min_ts/max_ts zone map).  Chunks are built from TIER
rows (already 3-6 orders of magnitude smaller than raw), so the Python
codec cost is bounded by tier cardinality, not raw row count; the chunk
key includes the chunk window, so hot sources split across chunks.
"""

from __future__ import annotations

import os
import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logtrics_spark.operators.rollup import KEY, tier_seconds, window_start

# ------------------------------------------------------------- encode
#
# Rows arrive sorted by chunk; ``starts`` marks each chunk's first row.
# An "element" is a row that is not its chunk's first: it carries one
# code per stream.  Every code is MSB-first, 1..64 bits, its value below
# 2**nbits.  Each stream starts on a byte, so per-stream bit counts fix
# the whole layout before a bit is packed; the codes are then ORed into
# one buffer and the fixed-width fields are written into the gaps.  The
# byte format is pinned by golden fixtures (tests/test_gorilla.py).

_U64 = np.uint64


def _pack(words: np.ndarray, off: np.ndarray, vals: np.ndarray, nbits: np.ndarray) -> None:
    """OR codes into big-endian uint64 ``words`` at bit offsets ``off``
    (strictly increasing).  A code lands in at most two adjacent words,
    and codes sharing a first word are adjacent, so one
    ``bitwise_or.reduceat`` merges them."""
    if not len(off):
        return
    w = off >> 6
    rem = 64 - (off & 63)  # bits left in the first word
    hi_bits = np.minimum(nbits, rem)
    lo_bits = (nbits - hi_bits).astype(_U64)
    hi = (vals >> lo_bits) << (rem - hi_bits).astype(_U64)
    first = np.flatnonzero(np.diff(w, prepend=-1))
    words[w[first]] |= np.bitwise_or.reduceat(hi, first)
    spill = np.flatnonzero(lo_bits)
    words[w[spill] + 1] |= vals[spill] << (_U64(64) - lo_bits[spill])


def _bit_length(x: np.ndarray) -> np.ndarray:
    """Bit length of nonzero uint64s: the float64 exponent, less one
    where rounding to 53 bits carried into the next power of two."""
    e = np.frexp(x.astype(np.float64))[1].astype(np.int64)
    return e - ((x >> (e - 1).astype(_U64)) == 0)


def _group_quantile(v: np.ndarray, g: np.ndarray, ngroups: int, q: float, width: int):
    """``np.quantile(v[g == s], q)`` for every group s, with numpy's
    linear interpolation op for op, so each float is the same; v holds
    ints in [0, width).  Ranks are read off per-group histograms, so no
    sort."""
    cum = np.bincount(g * width + v, minlength=ngroups * width).reshape(ngroups, width)
    cum = cum.cumsum(axis=1)
    m = cum[:, -1]
    pos = (m - 1) * q
    lo = np.floor(pos)[:, None]
    t = pos - lo[:, 0]  # q < 1: rank lo + 1 exists wherever t > 0
    a = (cum <= lo).sum(axis=1)
    b = (cum <= lo + 1).sum(axis=1)
    d = b - a
    return np.where(t >= 0.5, b - d * (1 - t), a + d * t)


def _ts_codes(ts: np.ndarray, starts: np.ndarray, elems: np.ndarray):
    """Delta-of-delta codes: (bits per element, [(element, bit shift,
    value, nbits) sources]).  '0' codes are all-zero, so only nonzero
    ones are packed."""
    dd = np.diff(ts, prepend=ts[:1])
    dd[starts] = 0  # a chunk's first delta follows an implicit 0
    dod = dd[elems] - dd[elems - 1]
    nbits = np.full(len(dod), 68)  # '1111' + the 64-bit dod
    vals = np.full(len(dod), 0b1111, _U64)
    for prefix, width in ((0b1110, 12), (0b110, 9), (0b10, 7)):  # widest first
        biased = (dod + ((1 << (width - 1)) - 1)).view(_U64)
        fits = biased < (1 << width)
        nbits[fits] = prefix.bit_length() + width
        vals[fits] = (_U64(prefix) << _U64(width)) | biased[fits]
    nbits[dod == 0] = 1
    nz = np.flatnonzero(dod)
    is_over = nbits[nz] == 68
    over = nz[is_over]
    return nbits, [
        (nz, 0, vals[nz], np.where(is_over, 4, nbits[nz])),
        (over, 4, dod[over].view(_U64), np.full(len(over), 64)),
    ]


def _xor_codes(bits: np.ndarray, elems: np.ndarray, egroup: np.ndarray, ngroups: int):
    """XOR codes of one value column, in ``_ts_codes``' shape.  Every
    decision is a numpy mask over all chunks at once."""
    xor = bits[elems] ^ bits[elems - 1]
    nbits = np.ones(len(xor), np.int64)  # '0': repeat the previous value
    nz = np.flatnonzero(xor)
    if not len(nz):
        return nbits, []
    x, g = xor[nz], egroup[nz]
    lz = np.minimum(64 - _bit_length(x), 31)
    tz = _bit_length(x & (~x + _U64(1))) - 1
    ends = 64 - tz
    lead = np.minimum(31, _group_quantile(lz, g, ngroups, 0.10, 32)).astype(np.int64)
    end = np.minimum(64, np.maximum(_group_quantile(ends, g, ngroups, 0.90, 65), lead + 1))
    lead, end = lead[g], end.astype(np.int64)[g]
    fit = (lz >= lead) & (ends <= end)
    # a chunk's first nonzero xor, and any fit after an outlier, (re)declare
    # the chunk window with a full header
    declare = np.ones(len(nz), bool)
    declare[1:] = ~fit[:-1] | (g[1:] != g[:-1])
    plain = fit & ~declare
    ml = 64 - lz - tz
    # '11' + 5 bits leading zeros + 6 bits (length - 1): the chunk window's
    # or, for an outlier, the value's own
    head = (0b11 << 11) | np.where(fit, (lead << 6) | (end - lead - 1), (lz << 6) | (ml - 1))
    ctl_bits = np.where(plain, 2, 13)
    ctl = np.where(plain, 0b10, head).astype(_U64)
    pay_bits = np.where(fit, end - lead, ml)
    pay = x >> np.where(fit, 64 - end, tz).astype(_U64)
    nbits[nz] = ctl_bits + pay_bits
    return nbits, [(nz, 0, ctl, ctl_bits), (nz, ctl_bits, pay, pay_bits)]


def _encode_chunks(
    ts: np.ndarray, cols: list[np.ndarray], valid: list, starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Encode every chunk of a batch in one pass.

    ``ts`` (int64) and ``cols`` (uint64 bit patterns) are rows sorted by
    chunk; chunk g is rows ``starts[g]`` up to the next start (never
    empty).  ``valid`` is a bool mask or None per column.  Returns
    (uint8 buffer, int64 offsets): chunk g is
    ``buffer[offsets[g]:offsets[g + 1]]``.
    """
    n, k, ng = len(ts), len(cols), len(starts)
    sizes = np.diff(starts, append=n)
    group = np.repeat(np.arange(ng), sizes)
    elems = np.flatnonzero(np.diff(group, prepend=-1) == 0)
    egroup = group[elems]
    ebound = np.append(starts - np.arange(ng), len(elems))  # each chunk's first element
    valid = [None if ok is None else np.asarray(ok, bool) for ok in valid]
    cols = [c if ok is None else np.where(ok, c, _U64(0)) for c, ok in zip(cols, valid)]

    streams = [_ts_codes(ts, starts, elems)]
    streams += [_xor_codes(c, elems, egroup, ng) for c in cols]
    cums = [np.concatenate(([0], np.cumsum(nbits))) for nbits, _ in streams]
    stream_len = np.stack([(c[ebound[1:]] - c[ebound[:-1]] + 7) >> 3 for c in cums], axis=1)
    nulls = np.zeros((ng, k), bool)
    for j, ok in enumerate(valid):
        if ok is not None:
            nulls[:, j] = np.bincount(group[~ok], minlength=ng) > 0
    trailer_len = nulls * (2 + ((sizes + 7) >> 3))[:, None]

    head = 14 + 8 * k
    body = head + 4 * (k + 1) + stream_len.sum(axis=1)
    offsets = np.concatenate(([0], np.cumsum(body + trailer_len.sum(axis=1))))
    # first byte of each stream (after its u32 length) and trailer entry
    stream_at = (
        offsets[:-1, None] + head + 4 * np.arange(1, k + 2) + stream_len.cumsum(axis=1) - stream_len
    )
    trailer_at = (offsets[:-1] + body)[:, None] + trailer_len.cumsum(axis=1) - trailer_len

    words = np.zeros((offsets[-1] >> 3) + 2, _U64)
    for s, ((_, sources), cum) in enumerate(zip(streams, cums)):
        base = stream_at[:, s] * 8 - cum[ebound[:-1]]
        for e, shift, vals, nbits in sources:
            _pack(words, base[egroup[e]] + cum[e] + shift, vals, nbits)
    for j, ok in enumerate(valid):
        if nulls[:, j].any():  # validity bitmap: a 1 code per valid row
            rows = np.flatnonzero(nulls[group, j] & ok)
            g = group[rows]
            off = (trailer_at[g, j] + 2) * 8 + rows - starts[g]
            _pack(words, off, np.ones(len(rows), _U64), np.ones(len(rows), np.int64))
    out = words.byteswap().view(np.uint8)[: offsets[-1]]

    fixed = np.empty(ng, [("n", "<u4"), ("k", "<u2"), ("ts", "<i8"), ("first", "<u8", (k,))])
    fixed["n"], fixed["k"], fixed["ts"] = sizes, k, ts[starts]
    if k:
        fixed["first"] = np.stack([c[starts] for c in cols], axis=1)
    out[offsets[:-1, None] + np.arange(head)] = fixed.view(np.uint8).reshape(ng, head)
    out[(stream_at - 4)[..., None] + np.arange(4)] = (
        stream_len.astype("<u4").view(np.uint8).reshape(ng, k + 1, 4)
    )
    g, j = np.nonzero(nulls)
    out[trailer_at[g, j]], out[trailer_at[g, j] + 1] = j & 0xFF, j >> 8
    return out, offsets


# ------------------------------------------------------------- decode


def _zero_run(buf: bytes, pos: int, max_bits: int) -> int:
    """Count consecutive 0 bits at ``pos`` (up to max_bits), byte-skipping.

    Decode fast path: a run of z zero bits is z 'repeat previous' codes
    for both the dod and the xor stream, and regular tiers are almost
    entirely such runs."""
    cnt = 0
    nbytes = len(buf)
    while cnt < max_bits:
        byte_i, bit_i = divmod(pos + cnt, 8)
        if byte_i >= nbytes:
            break
        rest = buf[byte_i] & ((1 << (8 - bit_i)) - 1)
        if rest == 0:
            cnt += 8 - bit_i
            byte_i += 1
            while cnt + 8 <= max_bits and byte_i < nbytes and buf[byte_i] == 0:
                cnt += 8
                byte_i += 1
        else:
            cnt += (8 - bit_i) - rest.bit_length()
            break
    return min(cnt, max_bits)


def _decode_ts(buf: bytes, n: int, first: int) -> np.ndarray:
    # hot path: inlined bit reads (byte-slice + from_bytes, no method
    # calls) and a vectorized fill for zero-bit runs (constant delta)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    pos = 0
    prev, prev_delta = first, 0
    i = 1
    while i < n:
        if not (buf[pos >> 3] >> (7 - (pos & 7))) & 1:
            run = _zero_run(buf, pos, n - i)
            out[i : i + run] = prev + prev_delta * np.arange(1, run + 1, dtype=np.int64)
            prev += prev_delta * run
            pos += run
            i += run
            continue
        pos += 1
        # prefix: count 1 bits (max 3 more) to pick the dod bucket
        k = 0
        while k < 3 and (buf[pos >> 3] >> (7 - (pos & 7))) & 1:
            k += 1
            pos += 1
        if k < 3:
            pos += 1  # the terminating 0 bit
            hi, nb = ((64, 7), (256, 9), (2048, 12))[k]
        else:
            hi, nb = None, 64
        byte_i = pos >> 3
        end = (pos + nb + 7) >> 3
        word = int.from_bytes(buf[byte_i:end], "big")
        raw = (word >> ((end - byte_i) * 8 - (pos & 7) - nb)) & ((1 << nb) - 1)
        pos += nb
        if hi is not None:
            dod = raw - hi + 1
        else:
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        prev_delta += dod
        prev += prev_delta
        out[i] = prev
        i += 1
    return out


def _decode_vals(buf: bytes, n: int, first: int) -> np.ndarray:
    # hot path mirrors _decode_ts: inlined reads, zero-run repeat fill
    out = np.empty(n, dtype=np.uint64)
    out[0] = first
    pos = 0
    prev = first
    lead, mlen = 0, 0
    i = 1
    while i < n:
        if not (buf[pos >> 3] >> (7 - (pos & 7))) & 1:
            run = _zero_run(buf, pos, n - i)  # repeat-previous fast path
            out[i : i + run] = prev
            pos += run
            i += run
            continue
        pos += 1
        if (buf[pos >> 3] >> (7 - (pos & 7))) & 1:
            pos += 1
            byte_i = pos >> 3  # 11-bit header: 5 lead + 6 (mlen-1)
            end = (pos + 18) >> 3
            word = int.from_bytes(buf[byte_i:end], "big")
            hdr = (word >> ((end - byte_i) * 8 - (pos & 7) - 11)) & 0x7FF
            pos += 11
            lead = hdr >> 6
            mlen = (hdr & 63) + 1
        else:
            pos += 1
        byte_i = pos >> 3
        end = (pos + mlen + 7) >> 3
        word = int.from_bytes(buf[byte_i:end], "big")
        bits = (word >> ((end - byte_i) * 8 - (pos & 7) - mlen)) & ((1 << mlen) - 1)
        pos += mlen
        prev ^= bits << (64 - lead - mlen)
        out[i] = prev
        i += 1
    return out


# ----------------------------------------------------------- chunk api


def compress_chunk(
    ts: np.ndarray, cols: list[np.ndarray], valid: list[np.ndarray | None] | None = None
) -> bytes:
    """(int64 ts[], k value columns) -> one Gorilla chunk (bytes): the
    one-chunk call of ``_encode_chunks``.

    A column is stored as its 64-bit pattern: float64, int64 and uint64
    arrays as they are, anything else converted to float64 first.
    ``valid`` (one bool mask or None per column) marks nulls: such a
    column stores 0 bits at its nulls plus a validity bitmap in the
    chunk's trailer, so NaN and null stay apart.
    """
    ts = np.asarray(ts, dtype=np.int64)
    if len(ts) == 0:
        return struct.pack("<IH", 0, len(cols))
    views = []
    for c in cols:
        c = np.asarray(c)
        if c.dtype not in (np.float64, np.int64, np.uint64):
            c = c.astype(np.float64)
        views.append(np.ascontiguousarray(c).view(np.uint64))
    buf, _ = _encode_chunks(ts, views, valid or [None] * len(cols), np.zeros(1, np.int64))
    return buf.tobytes()


def decompress_chunk(
    buf: bytes, picks: list[int] | None = None
) -> tuple[np.ndarray, list[np.ndarray], list[np.ndarray | None]]:
    """Inverse of compress_chunk: (int64 ts, the uint64 bit pattern of
    each picked column, its validity mask or None).  ``picks`` (column
    positions, default all) decodes only those streams; the others are
    skipped by their u32 length prefix."""
    n, k = struct.unpack_from("<IH", buf, 0)
    picks = list(range(k)) if picks is None else picks
    if n == 0:
        empty = [np.empty(0, dtype=np.uint64) for _ in picks]
        return np.empty(0, dtype=np.int64), empty, [None] * len(picks)
    (first_ts,) = struct.unpack_from("<q", buf, 6)
    firsts = struct.unpack_from(f"<{k}Q", buf, 14)
    off = 14 + 8 * k
    spans = []
    for _ in range(k + 1):
        (ln,) = struct.unpack_from("<I", buf, off)
        spans.append((off + 4, off + 4 + ln))
        off += 4 + ln
    nulls = {}
    nb = (n + 7) >> 3
    while off < len(buf):  # trailer: (u16 column, validity bitmap) per nullable column
        (i,) = struct.unpack_from("<H", buf, off)
        bitmap = np.frombuffer(buf, np.uint8, nb, off + 2)
        nulls[i] = np.unpackbits(bitmap, count=n).astype(bool)
        off += 2 + nb
    ts = _decode_ts(buf[slice(*spans[0])], n, first_ts)
    cols = [_decode_vals(buf[slice(*spans[i + 1])], n, firsts[i]) for i in picks]
    return ts, cols, [nulls.get(i) for i in picks]


# ---------------------------------------------------------- spark face

CHUNK_SPAN: dict[str, str] = {"1m": "1d", "5m": "1d", "1h": "1d", "1d": "1d"}
DEFAULT_VALUE_COLS = ["cnt", "sum", "min", "max", "avg", "last"]
# every stored tier column; rate and stddev re-derive from these on read
TIER_VALUE_COLS = [*DEFAULT_VALUE_COLS, "last_ts", "sum_sq"]
# value column types a chunk can carry, by Spark's simpleString
_TYPES = {
    t.simpleString(): t
    for t in (
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(), T.TimestampType(), T.TimestampNTZType(),
    )
}

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("metric", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("chunk_start", T.TimestampType()),
        T.StructField("n_points", T.IntegerType()),
        T.StructField("min_ts", T.TimestampType()),
        T.StructField("max_ts", T.TimestampType()),
        T.StructField("chunk", T.BinaryType()),
        # "name:type,..." of the chunk's value columns, in chunk order
        T.StructField("value_cols", T.StringType()),
    ]
)


def _group_starts(keys: list) -> np.ndarray:
    """Row offsets where a run of equal key tuples begins (row 0 always)."""
    n = len(keys[0])
    change = np.zeros(n, dtype=bool)
    change[:1] = True
    for col in keys:
        a = col.to_numpy(zero_copy_only=False)
        change[1:] |= a[1:] != a[:-1]
    return np.flatnonzero(change)


def _column_bits(arr, ws_us: np.ndarray):
    """One Arrow value column -> (uint64 bit patterns, validity or None).
    Integers travel as int64, floats as float64, timestamps as their µs
    offset from the row's window_start — all lossless."""
    import pyarrow as pa

    valid = np.asarray(arr.is_valid()) if arr.null_count else None
    if pa.types.is_timestamp(arr.type):
        v = np.asarray(arr.cast(pa.int64()).fill_null(0)) - ws_us
    elif pa.types.is_integer(arr.type):
        v = np.asarray(arr.cast(pa.int64()).fill_null(0))
    else:
        v = np.asarray(arr.cast(pa.float64()).fill_null(0.0))
    return np.ascontiguousarray(v).view(np.uint64), valid


def _chunk_batches(
    batches: Iterator, keys: list[str], vcols: list[str], desc: str, names: list[str]
) -> Iterator:
    """Sorted tier-row batches -> chunk-row batches (``names`` columns):
    one ``_encode_chunks`` call per batch covers its complete groups,
    and the still-open last group is carried into the next batch."""
    import pyarrow as pa

    def encode(batch: pa.RecordBatch, last: bool):
        starts = _group_starts([batch.column(k) for k in keys])
        done = len(starts) if last else len(starts) - 1
        if done == 0:
            return None, batch
        bounds = np.append(starts, batch.num_rows)
        first, stop = bounds[:done], bounds[1 : done + 1]
        head = batch.slice(0, int(stop[-1]))
        ws = head.column("window_start")
        us = np.asarray(ws.cast(pa.int64()))  # Spark ships timestamps in us
        bits = [_column_bits(head.column(c), us) for c in vcols]
        buf, offsets = _encode_chunks(
            us // 10**6, [v for v, _ in bits], [ok for _, ok in bits], first
        )
        chunks = pa.Array.from_buffers(
            pa.binary(), done, [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(buf)]
        )
        cols = [batch.column(k).take(first) for k in keys]
        cols += [
            pa.array(stop - first, pa.int32()),
            ws.take(first),
            ws.take(stop - 1),
            chunks,
            pa.array([desc] * done, pa.string()),
        ]
        rest = None if last else batch.slice(int(stop[-1]))
        return pa.RecordBatch.from_arrays(cols, names=names), rest

    carry = None  # the open group's rows, never empty
    for batch in batches:
        if carry is not None:
            batch = pa.Table.from_batches([carry, batch]).combine_chunks().to_batches()[0]
        if not batch.num_rows:
            continue
        out, carry = encode(batch, last=False)
        if out is not None:
            yield out
    if carry is not None:
        yield encode(carry, last=True)[0]


def compress_tier(
    tier_df: DataFrame,
    tier: str,
    chunk_span: str | None = None,
    value_cols: list[str] | None = None,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Tier rows -> one Gorilla chunk per (series, chunk window).

    repartition(chunk key) + sortWithinPartitions(chunk key,
    window_start) + ONE mapInArrow pass per partition: group boundaries
    come from a numpy compare over the sorted key columns, and ONE
    ``_encode_chunks`` call per Arrow batch encodes all of its complete
    groups into one binary buffer — no pandas frame and no Python call
    per group.  A group cut by an Arrow batch boundary is carried into
    the next batch.  Input is tier-sized; never point this at raw rows.
    The chunk key includes chunk_start, so a hot source fans out across
    chunk windows instead of one giant group.

    ``value_cols`` defaults to every stored tier column present
    (``TIER_VALUE_COLS``); each keeps its own type and nulls, and the
    ``value_cols`` output column describes them, so a read needs no
    column list from the caller.  ``extra_keys`` (string columns of
    ``tier_df``, e.g. ``["tier"]``) join the chunk key and pass through
    to the output — the pipeline compresses ALL tiers' rows in ONE pass
    over their union.
    """
    chunk_span = chunk_span or CHUNK_SPAN[tier]
    vcols = list(value_cols or [c for c in TIER_VALUE_COLS if c in tier_df.columns])
    types = [tier_df.schema[c].dataType.simpleString() for c in vcols]
    bad = [f"{c}:{t}" for c, t in zip(vcols, types) if t not in _TYPES]
    if bad:
        raise TypeError(f"Gorilla chunks cannot store {bad}; types: {sorted(_TYPES)}")
    desc = ",".join(f"{c}:{t}" for c, t in zip(vcols, types))
    ekeys = list(extra_keys or [])
    keys = [*ekeys, *KEY, "chunk_start"]
    # the description also rides as field metadata (parquet keeps it in
    # the footer schema), so a read learns the types without a job
    schema = T.StructType(
        [T.StructField(k, T.StringType()) for k in ekeys]
        + CHUNK_SCHEMA.fields[:-1]
        + [T.StructField("value_cols", T.StringType(), metadata={"value_cols": desc})]
    )
    names = schema.fieldNames()
    return (
        tier_df.withColumn("chunk_start", window_start(F.col("window_start"), chunk_span))
        .select(*keys, "window_start", *vcols)
        .repartition(*keys)
        .sortWithinPartitions(*keys, "window_start")
        .mapInArrow(lambda it: _chunk_batches(it, keys, vcols, desc, names), schema)
    )


class ChunkFormatError(ValueError):
    """Gorilla chunks without a ``value_cols`` description: the
    float64-by-position format of stores sealed before chunks described
    their columns, which no reader decodes."""

    def __init__(self, where: str) -> None:
        super().__init__(
            f"{where} holds Gorilla chunks without a value_cols description "
            "(sealed before chunks described their columns); re-seal it from raw"
        )


def _table_of(chunk_df: DataFrame) -> str:
    files = chunk_df.inputFiles()  # a plan walk: error messages only
    return f"chunk table {os.path.commonpath(files)}" if files else "chunk frame"


def _out_types(descs: list[str], names: list[str]) -> dict[str, T.DataType]:
    """Output type of each requested column over descriptions.  Integer
    and float columns that differ across descriptions widen to double,
    as a union would; a column no description carries reads as double."""
    seen: dict[str, set] = {c: set() for c in names}
    for d in descs:
        for c, t in (p.split(":") for p in d.split(",")):
            seen.get(c, set()).add(t)
    out = {}
    for c, ts in seen.items():
        if len(ts) > 1 and any(t.startswith("timestamp") for t in ts):
            raise ValueError(f"chunk column {c!r} is stored as {sorted(ts)}")
        out[c] = _TYPES[ts.pop()] if len(ts) == 1 else T.DoubleType()
    return out


def decompress_chunks(chunk_df: DataFrame, value_cols: list[str] | None = None) -> DataFrame:
    """Chunk table -> tier rows (inverse of compress_tier), with the
    ``value_cols`` columns (default ``DEFAULT_VALUE_COLS``).

    Each chunk row's ``value_cols`` description types its columns:
    each requested one comes back in its own type, nulls included, and
    only those streams decode; a name the chunk does not carry reads
    null.  Output types come from the description in the column's
    metadata or, where a store keeps no Spark field metadata (an
    Iceberg table, parquet written outside Spark), from one small job
    over the ``value_cols`` column.  A table without the column, or a
    row whose description is null, raises ``ChunkFormatError``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    names = list(value_cols or DEFAULT_VALUE_COLS)
    if "value_cols" not in chunk_df.columns:
        raise ChunkFormatError(_table_of(chunk_df))
    descs = [chunk_df.schema["value_cols"].metadata.get("value_cols")]
    if descs[0] is None:
        descs = [r[0] for r in chunk_df.select("value_cols").distinct().collect()]
        if None in descs:
            raise ChunkFormatError(_table_of(chunk_df))
    types = _out_types(descs, names)
    out_schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in KEY]
        + [T.StructField("window_start", T.TimestampType())]
        + [T.StructField(c, types[c]) for c in names]
    )
    arrow_schema = pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in out_schema])
    floats = [isinstance(types[c], (T.FloatType, T.DoubleType)) for c in names]
    layouts: dict = {}

    def layout(desc: str) -> list:
        """[(stream position, stored type) or None] per requested name."""
        if desc not in layouts:
            pos = {c: (i, t) for i, (c, t) in enumerate(p.split(":") for p in desc.split(","))}
            for c, f in zip(names, floats):
                t = pos.get(c, (0, None))[1]
                if t and _TYPES[t] != types[c] and not (f and not t.startswith("timestamp")):
                    raise ValueError(f"chunk column {c!r} is stored as {t}, read as {types[c]}")
            layouts[desc] = [pos.get(c) for c in names]
        return layouts[desc]

    def values(bits: np.ndarray, stored: str, ts: np.ndarray, as_float: bool) -> np.ndarray:
        if stored.startswith("timestamp"):
            return bits.view(np.int64) + ts * 10**6
        v = bits.view(np.float64 if stored in ("double", "float") else np.int64)
        return v.astype(np.float64) if as_float and v.dtype != np.float64 else v

    def explode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            bufs = batch.column("chunk").to_pylist()
            descs = batch.column("value_cols").to_pylist()
            counts, stamps = [], []
            vals: list[list] = [[] for _ in names]
            oks: list[list] = [[] for _ in names]  # validity per chunk, None: all valid
            for i, (buf, desc) in enumerate(zip(bufs, descs)):
                if desc is None:  # a row from an undescribed file of a mixed table
                    series = ".".join(str(batch.column(c)[i]) for c in KEY)
                    raise ChunkFormatError(f"the chunk table of series {series}")
                where = layout(desc)
                ts, bits, valid = decompress_chunk(buf, [w[0] for w in where if w])
                n = len(ts)
                counts.append(n)
                stamps.append(ts)
                got = iter(zip(bits, valid))
                for j, w in enumerate(where):
                    if w is None:  # a column this chunk does not carry
                        vals[j].append(np.zeros(n, np.float64 if floats[j] else np.int64))
                        oks[j].append(np.zeros(n, bool))
                    else:
                        b, ok = next(got)
                        vals[j].append(values(b, w[1], ts, floats[j]))
                        oks[j].append(ok)
            rows = pa.array(np.repeat(np.arange(len(bufs)), counts))
            cols = [batch.column(c).take(rows) for c in KEY]
            cols.append(pa.array(np.concatenate(stamps) * 10**6))
            for v, ok in zip(vals, oks):
                mask = None
                if any(m is not None for m in ok):
                    parts = [np.ones(len(x), bool) if m is None else m for x, m in zip(v, ok)]
                    mask = ~np.concatenate(parts)
                cols.append(pa.array(np.concatenate(v), mask=mask))
            cols = [c.cast(f.type) for c, f in zip(cols, arrow_schema)]
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return chunk_df.select(*KEY, "chunk", "value_cols").mapInArrow(explode, out_schema)


def in_range(df: DataFrame, ts_from=None, ts_to=None, first="window_start", last="window_start"):
    """Rows of ``df`` whose [``first``, ``last``] column span overlaps
    the inclusive [ts_from, ts_to]; a None bound is open.  Plain
    Catalyst predicates, so on a parquet scan they push down."""
    if ts_from is not None:
        df = df.where(F.col(last) >= F.lit(ts_from).cast("timestamp"))
    if ts_to is not None:
        df = df.where(F.col(first) <= F.lit(ts_to).cast("timestamp"))
    return df


def decompress_chunks_range(
    chunk_df: DataFrame,
    ts_from=None,
    ts_to=None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Time-range read over a chunk table with CHUNK-LEVEL pruning.

    Every chunk row carries ``min_ts``/``max_ts`` stat columns (written
    by ``compress_tier``); a [ts_from, ts_to] read filters on them
    FIRST — plain Catalyst predicates that push down to the chunk
    parquet scan — so only chunks overlapping the range reach the
    Python decompression stage, then the decompressed rows are trimmed
    to the exact bounds.  This is the zone-map pattern every columnar
    store uses: at a year of 1d-span 1m chunks, a one-day dashboard
    read decompresses ~1/365th of the bytes instead of everything.
    Results are row-identical to decompress-then-filter (pinned by
    tests/test_gorilla.py).  Bounds are inclusive; either may be None.
    """
    pruned = in_range(chunk_df, ts_from, ts_to, first="min_ts", last="max_ts")
    return in_range(decompress_chunks(pruned, value_cols), ts_from, ts_to)
