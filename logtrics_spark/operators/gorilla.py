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
  ("cnt:bigint,sum:double,.."); parquet dictionary-encodes it.  Chunk
  rows without it are the older float64-only layout, named by the
  reader.

The Spark face is ``compress_tier`` (repartition + sort by chunk key ->
one mapInArrow pass per partition) and ``decompress_chunks`` (one
mapInArrow pass that decodes only the requested columns).  Chunks are
built from TIER rows (already 3-6 orders of magnitude smaller than
raw), so the Python codec cost is bounded by tier cardinality, not raw
row count; the chunk key includes the chunk window, so hot sources
split across chunks.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logtrics_spark.operators.rollup import KEY, tier_seconds, window_start

# -------------------------------------------------------- bit packing
#
# The encoders below emit (value, nbits) code pairs; _pack_codes
# assembles the final bitstream with one vectorized numpy pass.  Bits
# are MSB-first and the final byte is zero-padded low; the byte format
# is pinned by golden fixtures (tests/test_gorilla.py).


def _pack_codes(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack MSB-first variable-length codes (<=64 bits each) into bytes.

    O(#codes), not O(#bits): each code lands in at most two adjacent
    64-bit words; the high/low contributions are scattered with
    np.add.at (codes never overlap, so add == bitwise-or).  MSB-first,
    trailing zero padding.
    """
    nb = nbits.astype(np.int64)
    keep = nb > 0
    if not keep.all():
        nb = nb[keep]
        vals = vals[keep]
    total = int(nb.sum())
    if total == 0:
        return b""
    v = vals.astype(np.uint64)
    off = np.cumsum(nb) - nb
    w = off >> 6
    b = off & 63
    rem = 64 - b  # bits available in the first word
    hi_bits = np.minimum(nb, rem)
    lo_bits = (nb - hi_bits).astype(np.uint64)

    hi_val = (v >> lo_bits) << (rem - hi_bits).astype(np.uint64)
    has_lo = lo_bits > 0
    shift_lo = np.where(has_lo, np.uint64(64) - lo_bits, np.uint64(0))
    lo_val = np.where(has_lo, v << shift_lo, np.uint64(0))

    nwords = (total + 63) >> 6
    words = np.zeros(nwords + 1, dtype=np.uint64)
    np.add.at(words, w, hi_val)
    if has_lo.any():
        np.add.at(words, w[has_lo] + 1, lo_val[has_lo])
    return words.byteswap().tobytes()[: (total + 7) >> 3]


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


# ------------------------------------------------------------ ts codec

def _encode_ts_codes(ts: np.ndarray) -> bytes:
    """Vectorized ts encoder: bucket selection and payloads via numpy,
    one _pack_codes pass."""
    d = np.diff(ts.astype(np.int64))
    if len(d) == 0:
        return b""
    dod = np.empty(len(d), dtype=np.int64)
    dod[0] = d[0]
    np.subtract(d[1:], d[:-1], out=dod[1:])

    m = len(dod)
    vals = np.full(m, 0b1111, dtype=np.uint64)
    nbits = np.full(m, 4, dtype=np.uint8)
    over_vals = np.zeros(m, dtype=np.uint64)
    over_nbits = np.zeros(m, dtype=np.uint8)

    c0 = dod == 0
    c1 = ~c0 & (dod > -64) & (dod <= 64)
    c2 = ~c0 & ~c1 & (dod > -256) & (dod <= 256)
    c3 = ~c0 & ~c1 & ~c2 & (dod > -2048) & (dod <= 2048)
    over = ~(c0 | c1 | c2 | c3)

    vals[c0] = 0
    nbits[c0] = 1
    vals[c1] = (0b10 << 7) | (dod[c1] + 63).astype(np.uint64)
    nbits[c1] = 9
    vals[c2] = (0b110 << 9) | (dod[c2] + 255).astype(np.uint64)
    nbits[c2] = 12
    vals[c3] = (0b1110 << 12) | (dod[c3] + 2047).astype(np.uint64)
    nbits[c3] = 16
    if over.any():
        over_vals[over] = dod[over].astype(np.uint64)  # two's complement
        over_nbits[over] = 64

    all_vals = np.column_stack([vals, over_vals]).ravel()
    all_nbits = np.column_stack([nbits, over_nbits]).ravel()
    return _pack_codes(all_vals, all_nbits)


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


# --------------------------------------------------------- value codec


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (exact, 6 halvings)."""
    x = x.copy()
    n = np.full(x.shape, 64, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = x >= (np.uint64(1) << np.uint64(s))
        n[big] -= s
        x[big] >>= np.uint64(s)
    return n - x.astype(np.int64)  # x is 0 or 1 here; nonzero -> one more


def _xor_stats(bits: np.ndarray):
    b = bits.astype(np.uint64)
    xor = b[1:] ^ b[:-1]
    nz = xor != np.uint64(0)
    lz = np.minimum(_clz64(xor), 31)
    low = xor & (~xor + np.uint64(1))  # lowest set bit
    tz = np.where(nz, 63 - _clz64(low), 0)
    ml = (64 - lz - tz).astype(np.int64)
    return xor, nz, lz, tz, ml


def _encode_vals_codes(bits: np.ndarray) -> bytes:
    """Value encoder.  The control-bit format lets the ENCODER pick any
    (leading, length) window — the decoder just follows headers.  This
    one declares one chunk-level window covering the p10 leading / p90
    ending bit of all xors; values outside it emit their own one-off
    header, and the next fitting value re-declares the chunk window.
    Every decision is a numpy mask — no Python per-element loop — at a
    small size cost over the paper's adaptive walk (~10% of values pay a
    13-bit header; payloads are window-width instead of per-value
    width).
    """
    if len(bits) <= 1:
        return b""
    xor, nz, lz, tz, ml = _xor_stats(bits)

    m = len(xor)
    # two code slots per element: control/header, then payload
    vals1 = np.zeros(m, dtype=np.uint64)
    nbits1 = np.ones(m, dtype=np.uint8)  # default: the single '0' bit
    vals2 = np.zeros(m, dtype=np.uint64)
    nbits2 = np.zeros(m, dtype=np.uint8)

    idx = np.flatnonzero(nz)
    if len(idx):
        lzs = lz[idx]
        ends = 64 - tz[idx]
        lead_w = int(min(31, np.quantile(lzs, 0.10)))
        end_w = int(min(64, max(np.quantile(ends, 0.90), lead_w + 1)))
        mlen_w = end_w - lead_w

        fit = (lzs >= lead_w) & (ends <= end_w)
        # first nonzero, and any fit following an outlier, must
        # (re)declare the chunk window via a full header
        prev_outlier = np.empty(len(idx), dtype=bool)
        prev_outlier[0] = True
        np.logical_not(fit[:-1], out=prev_outlier[1:])
        header_w = fit & prev_outlier
        plain = fit & ~prev_outlier
        outlier = ~fit

        w_header = np.uint64((0b11 << 11) | (lead_w << 6) | (mlen_w - 1))
        w_payload = (xor[idx] >> np.uint64(64 - lead_w - mlen_w))

        p = idx[plain]
        vals1[p] = np.uint64(0b10)
        nbits1[p] = 2
        vals2[p] = w_payload[plain]
        nbits2[p] = mlen_w

        h = idx[header_w]
        vals1[h] = w_header
        nbits1[h] = 13
        vals2[h] = w_payload[header_w]
        nbits2[h] = mlen_w

        o = idx[outlier]
        vals1[o] = (
            np.uint64(0b11 << 11)
            | (lz[o].astype(np.uint64) << np.uint64(6))
            | (ml[o] - 1).astype(np.uint64)
        )
        nbits1[o] = 13
        vals2[o] = xor[o] >> tz[o].astype(np.uint64)
        nbits2[o] = ml[o]

    all_vals = np.column_stack([vals1, vals2]).ravel()
    all_nbits = np.column_stack([nbits1, nbits2]).ravel()
    return _pack_codes(all_vals, all_nbits)


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
    """(int64 ts[], k value columns) -> one Gorilla chunk (bytes).

    A column is stored as its 64-bit pattern: float64, int64 and uint64
    arrays as they are, anything else converted to float64 first.
    ``valid`` (one bool mask or None per column) marks nulls: such a
    column stores 0 bits at its nulls plus a validity bitmap in the
    chunk's trailer, so NaN and null stay apart.
    """
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return struct.pack("<IH", 0, len(cols))
    views = []
    trailer = b""
    for i, (c, ok) in enumerate(zip(cols, valid or [None] * len(cols))):
        c = np.asarray(c)
        if c.dtype not in (np.float64, np.int64, np.uint64):
            c = c.astype(np.float64)
        v = np.ascontiguousarray(c).view(np.uint64)
        if ok is not None and not ok.all():
            v = np.where(ok, v, np.uint64(0))
            trailer += struct.pack("<H", i) + np.packbits(ok).tobytes()
        views.append(v)
    head = struct.pack("<IHq", n, len(views), int(ts[0]))
    head += b"".join(struct.pack("<Q", int(v[0])) for v in views)
    streams = [_encode_ts_codes(ts)]
    streams += [_encode_vals_codes(v) for v in views]
    return head + b"".join(struct.pack("<I", len(s)) + s for s in streams) + trailer


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
    come from a numpy compare over the sorted key columns and each group
    is a zero-copy array slice handed to ``compress_chunk`` — no pandas
    frame and no Python round trip per group.  A group cut by an Arrow
    batch boundary is carried into the next batch.  Input is tier-sized;
    never point this at raw rows.  The chunk key includes chunk_start,
    so a hot source fans out across chunk windows instead of one giant
    group.

    ``value_cols`` defaults to every stored tier column present
    (``TIER_VALUE_COLS``); each keeps its own type and nulls, and the
    ``value_cols`` output column describes them, so a read needs no
    column list from the caller.  ``extra_keys`` (string columns of
    ``tier_df``, e.g. ``["tier"]``) join the chunk key and pass through
    to the output — the pipeline compresses ALL tiers' rows in ONE pass
    over their union.
    """
    import pyarrow as pa

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
    out_names = schema.fieldNames()

    def encode(batch: pa.RecordBatch, last: bool):
        """Chunks for every complete group of ``batch`` (all of them when
        ``last``), plus the trailing rows still open."""
        starts = _group_starts([batch.column(k) for k in keys])
        done = len(starts) if last else len(starts) - 1
        if done == 0:
            return None, batch
        bounds = np.append(starts, batch.num_rows)
        first, stop = bounds[:done], bounds[1 : done + 1]
        ws = batch.column("window_start")
        us = np.asarray(ws.cast(pa.int64()))  # Spark ships timestamps in us
        ts = us // 10**6
        bits = [_column_bits(batch.column(c), us) for c in vcols]
        chunks = [
            compress_chunk(
                ts[a:b],
                [v[a:b] for v, _ in bits],
                [None if ok is None else ok[a:b] for _, ok in bits],
            )
            for a, b in zip(first, stop)
        ]
        cols = [batch.column(k).take(first) for k in keys]
        cols += [
            pa.array(stop - first, pa.int32()),
            ws.take(first),
            ws.take(stop - 1),
            pa.array(chunks, pa.binary()),
            pa.array([desc] * done, pa.string()),
        ]
        rest = batch.slice(int(bounds[done])) if not last else None
        return pa.RecordBatch.from_arrays(cols, names=out_names), rest

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
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

    return (
        tier_df.withColumn("chunk_start", window_start(F.col("window_start"), chunk_span))
        .select(*keys, "window_start", *vcols)
        .repartition(*keys)
        .sortWithinPartitions(*keys, "window_start")
        .mapInArrow(build, schema)
    )


def _out_types(descs: list, names: list[str]) -> dict[str, T.DataType]:
    """Output type of each requested column over descriptions (None: a
    legacy float64 row).  Integer and float columns that differ across
    descriptions widen to double, as a union would; a column no
    description carries reads as double."""
    seen: dict[str, set] = {c: set() for c in names}
    for d in descs:
        pairs = [p.split(":") for p in d.split(",")] if d else [(c, "double") for c in names]
        for c, t in pairs:
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

    A typed chunk row (its ``value_cols`` description is set, as
    compress_tier writes it) yields each named column in its own type,
    nulls included, and decodes only those streams; a name the chunk
    does not carry reads null.  Output types come from the description
    in the column's metadata, or, when a plan lost it, from one small
    job over the ``value_cols`` column.  A legacy chunk row (no
    description) stores float64 columns by position: ``value_cols``
    must then be the writer's list IN WRITER ORDER — a count mismatch
    raises instead of mislabeling streams.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    names = list(value_cols or DEFAULT_VALUE_COLS)
    typed = "value_cols" in chunk_df.columns
    descs = [None]
    if typed:
        descs = [chunk_df.schema["value_cols"].metadata.get("value_cols")]
        if descs[0] is None:  # a plan or table format that dropped the metadata
            descs = [r[0] for r in chunk_df.select("value_cols").distinct().collect()]
    types = _out_types(descs, names)
    out_schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in KEY]
        + [T.StructField("window_start", T.TimestampType())]
        + [T.StructField(c, types[c]) for c in names]
    )
    arrow_schema = pa.schema([pa.field(f.name, to_arrow_type(f.dataType)) for f in out_schema])
    floats = [isinstance(types[c], (T.FloatType, T.DoubleType)) for c in names]
    layouts: dict = {}

    def layout(desc, k: int) -> list:
        """[(stream position, stored type) or None] per requested name."""
        if desc is None:
            if k != len(names):
                raise ValueError(
                    f"chunk encodes {k} value columns but value_cols names "
                    f"{len(names)} ({names}); pass the writer's value columns "
                    "(in writer order)"
                )
            return [(i, "double") for i in range(k)]
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
            descs = batch.column("value_cols").to_pylist() if typed else [None] * len(bufs)
            counts, stamps = [], []
            vals: list[list] = [[] for _ in names]
            oks: list[list] = [[] for _ in names]  # validity per chunk, None: all valid
            for buf, desc in zip(bufs, descs):
                (k,) = struct.unpack_from("<H", buf, 4)
                where = layout(desc, k)
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

    src = [*KEY, "chunk", *(["value_cols"] if typed else [])]
    return chunk_df.select(*src).mapInArrow(explode, out_schema)


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
    pruned = chunk_df
    if ts_from is not None:
        ts_from = F.lit(ts_from).cast("timestamp")
        pruned = pruned.where(F.col("max_ts") >= ts_from)
    if ts_to is not None:
        ts_to = F.lit(ts_to).cast("timestamp")
        pruned = pruned.where(F.col("min_ts") <= ts_to)
    out = decompress_chunks(pruned, value_cols)
    if ts_from is not None:
        out = out.where(F.col("window_start") >= ts_from)
    if ts_to is not None:
        out = out.where(F.col("window_start") <= ts_to)
    return out
