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
  (each bitstream byte-aligned, prefixed by u32 byte length)

The Spark face is ``compress_tier`` (repartition + sort by chunk key ->
one mapInArrow pass per partition) and ``decompress_chunks``
(mapInPandas explode).  Chunks are built from TIER rows (already 3-6
orders of magnitude smaller than raw), so the Python codec cost is
bounded by tier cardinality, not raw row count; the chunk key includes
the chunk window, so hot sources split across chunks.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logtrics_spark.operators.rollup import KEY, tier_seconds, window_start

# ---------------------------------------------------------------- bit io


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def read(self, nbits: int) -> int:
        out = 0
        remaining = nbits
        while remaining > 0:
            byte_i, bit_i = divmod(self.pos, 8)
            avail = 8 - bit_i
            take = min(avail, remaining)
            chunk = (self.buf[byte_i] >> (avail - take)) & ((1 << take) - 1)
            out = (out << take) | chunk
            remaining -= take
            self.pos += take
        return out


# -------------------------------------------------------- bit packing
#
# The encoders below emit (value, nbits) code pairs instead of driving a
# per-call bit writer; _pack_codes assembles the final bitstream with one
# vectorized numpy pass (ragged bit expansion + packbits).  Byte layout
# is identical to the original _BitWriter (MSB-first, final byte
# zero-padded low), so chunks written by either implementation decode
# with either decoder.


def _pack_codes(vals: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack MSB-first variable-length codes (<=64 bits each) into bytes.

    O(#codes), not O(#bits): each code lands in at most two adjacent
    64-bit words; the high/low contributions are scattered with
    np.add.at (codes never overlap, so add == bitwise-or).  Matches the
    _BitWriter layout exactly (MSB-first, trailing zero padding).
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

_DOD_BUCKETS = [(64, "10", 7), (256, "110", 9), (2048, "1110", 12)]


def _encode_ts(w: _BitWriter, ts: np.ndarray) -> None:
    """Reference (per-write) encoder — kept as the format spec and the
    differential-test twin of the vectorized ``_encode_ts_codes``."""
    prev_delta = 0
    prev = int(ts[0])
    for i in range(1, len(ts)):
        cur = int(ts[i])
        delta = cur - prev
        dod = delta - prev_delta
        if dod == 0:
            w.write(0, 1)
        else:
            for hi, prefix, bits in _DOD_BUCKETS:
                if -hi < dod <= hi:
                    w.write(int(prefix, 2), len(prefix))
                    w.write(dod + hi - 1, bits)
                    break
            else:
                w.write(0b1111, 4)
                w.write(dod & ((1 << 64) - 1), 64)
        prev, prev_delta = cur, delta


def _encode_ts_codes(ts: np.ndarray) -> bytes:
    """Vectorized ts encoder: bucket selection and payloads via numpy,
    one _pack_codes pass; bit-identical to _encode_ts."""
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


def _decode_ts(r: _BitReader, n: int, first: int) -> np.ndarray:
    # hot path: inlined bit reads (byte-slice + from_bytes, no method
    # calls) and a vectorized fill for zero-bit runs (constant delta)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    buf, pos = r.buf, r.pos
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
    r.pos = pos
    return out


# --------------------------------------------------------- value codec


def _encode_vals(w: _BitWriter, bits: np.ndarray) -> None:
    """Reference (per-write) encoder — format spec / differential twin
    of ``_encode_vals_codes``."""
    prev = int(bits[0])
    lead, mlen = -1, -1  # previous window; -1 = none
    for i in range(1, len(bits)):
        cur = int(bits[i])
        xor = prev ^ cur
        if xor == 0:
            w.write(0, 1)
        else:
            w.write(1, 1)
            lz = 64 - xor.bit_length()  # leading zeros
            tz = (xor & -xor).bit_length() - 1  # trailing zeros
            if lz > 31:
                lz = 31
            ml = 64 - lz - tz
            if lead >= 0 and lz >= lead and lz + ml <= lead + mlen:
                # fits inside the previous (leading, length) window
                w.write(0, 1)
                w.write(xor >> (64 - lead - mlen), mlen)
            else:
                w.write(1, 1)
                w.write(lz, 5)
                w.write(ml - 1, 6)
                w.write(xor >> tz, ml)
                lead, mlen = lz, ml
        prev = cur


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


def _encode_vals_codes(bits: np.ndarray, policy: str = "fixed") -> bytes:
    """Value encoder.  The control-bit format lets the ENCODER pick any
    (leading, length) window policy — the decoder just follows headers:

    - policy='greedy': the paper's adaptive walk (reuse the previous
      window while values fit).  Sequential by construction; kept as
      the format spec and byte-pinned against _encode_vals by the
      differential test.
    - policy='fixed' (default): one chunk-level window covering the
      p10 leading / p90 ending bit of all xors; values outside it emit
      their own one-off header, and the next fitting value re-declares
      the chunk window.  Every decision is a numpy mask — no Python
      per-element loop — at a small size cost (~10% of values pay a
      13-bit header; payloads are window-width instead of per-value
      width).  Same decoder, bit-exact round-trip either way.
    """
    if len(bits) <= 1:
        return b""
    xor, nz, lz, tz, ml = _xor_stats(bits)
    if policy == "greedy":
        return _encode_vals_codes_greedy(xor, lz, tz, ml)

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


def _encode_vals_codes_greedy(xor, lz, tz, ml) -> bytes:
    xor_l = xor.tolist()
    lz_l = lz.tolist()
    tz_l = tz.tolist()
    ml_l = ml.tolist()

    vals: list[int] = []
    nbits: list[int] = []
    ap_v, ap_n = vals.append, nbits.append
    lead, mlen = -1, -1
    for i, x in enumerate(xor_l):
        if x == 0:
            ap_v(0)
            ap_n(1)
            continue
        l_, m_ = lz_l[i], ml_l[i]
        if lead >= 0 and l_ >= lead and l_ + m_ <= lead + mlen:
            ap_v(0b10)
            ap_n(2)
            ap_v(x >> (64 - lead - mlen))
            ap_n(mlen)
        else:
            ap_v((0b11 << 11) | (l_ << 6) | (m_ - 1))
            ap_n(13)
            ap_v(x >> tz_l[i])
            ap_n(m_)
            lead, mlen = l_, m_
    return _pack_codes(np.array(vals, dtype=np.uint64), np.array(nbits, dtype=np.uint8))


def _decode_vals(r: _BitReader, n: int, first: int) -> np.ndarray:
    # hot path mirrors _decode_ts: inlined reads, zero-run repeat fill
    out = np.empty(n, dtype=np.uint64)
    out[0] = first
    buf, pos = r.buf, r.pos
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
    r.pos = pos
    return out


# ----------------------------------------------------------- chunk api


def compress_chunk(ts: np.ndarray, cols: list[np.ndarray]) -> bytes:
    """(int64 ts[], k float64 columns) -> one Gorilla chunk (bytes)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return struct.pack("<IH", 0, len(cols))
    views = [np.ascontiguousarray(c, dtype=np.float64).view(np.uint64) for c in cols]
    head = struct.pack("<IHq", n, len(views), int(ts[0]))
    head += b"".join(struct.pack("<Q", int(v[0])) for v in views)
    streams = [_encode_ts_codes(ts)]
    streams += [_encode_vals_codes(v) for v in views]
    return head + b"".join(struct.pack("<I", len(s)) + s for s in streams)


def decompress_chunk(buf: bytes) -> tuple[np.ndarray, list[np.ndarray]]:
    """Inverse of compress_chunk; value arrays are float64 (bit-exact)."""
    n, k = struct.unpack_from("<IH", buf, 0)
    if n == 0:
        return np.empty(0, dtype=np.int64), [np.empty(0) for _ in range(k)]
    off = 6
    (first_ts,) = struct.unpack_from("<q", buf, off)
    off += 8
    first_vals = []
    for _ in range(k):
        (fv,) = struct.unpack_from("<Q", buf, off)
        first_vals.append(fv)
        off += 8
    streams = []
    for _ in range(k + 1):
        (ln,) = struct.unpack_from("<I", buf, off)
        off += 4
        streams.append(buf[off : off + ln])
        off += ln
    ts = _decode_ts(_BitReader(streams[0]), n, first_ts)
    cols = [
        _decode_vals(_BitReader(streams[i + 1]), n, first_vals[i]).view(np.float64)
        for i in range(k)
    ]
    return ts, cols


# ---------------------------------------------------------- spark face

CHUNK_SPAN: dict[str, str] = {"1m": "1d", "5m": "1d", "1h": "1d", "1d": "1d"}
DEFAULT_VALUE_COLS = ["cnt", "sum", "min", "max", "avg", "last"]

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

    ``extra_keys`` (string columns of ``tier_df``, e.g. ``["tier"]``)
    join the chunk key and pass through to the output — the pipeline
    compresses ALL tiers' rows in ONE pass over their union.
    """
    import pyarrow as pa

    chunk_span = chunk_span or CHUNK_SPAN[tier]
    vcols = list(value_cols or DEFAULT_VALUE_COLS)
    ekeys = list(extra_keys or [])
    keys = [*ekeys, *KEY, "chunk_start"]
    schema = T.StructType(
        [T.StructField(k, T.StringType()) for k in ekeys] + list(CHUNK_SCHEMA.fields)
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
        ts = np.asarray(ws.cast(pa.int64())) // 10**6  # Spark ships timestamps in us
        vals = [batch.column(c).to_numpy(zero_copy_only=False).astype(np.float64) for c in vcols]
        chunks = [
            compress_chunk(ts[a:b], [v[a:b] for v in vals]) for a, b in zip(first, stop)
        ]
        cols = [batch.column(k).take(first) for k in keys]
        cols += [
            pa.array(stop - first, pa.int32()),
            ws.take(first),
            ws.take(stop - 1),
            pa.array(chunks, pa.binary()),
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


def decompress_chunks(chunk_df: DataFrame, value_cols: list[str] | None = None) -> DataFrame:
    """Chunk table -> tier rows (inverse of compress_tier).

    ``value_cols`` must be the writer's list IN WRITER ORDER: the chunk
    header stores only the column COUNT (validated below — a mismatch
    raises instead of silently truncating/mislabeling), names travel in
    the caller's config exactly like a parquet-free columnar format.
    """
    value_cols = value_cols or DEFAULT_VALUE_COLS
    vcols = list(value_cols)
    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("metric", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("window_start", T.TimestampType()),
        ]
        + [T.StructField(c, T.DoubleType()) for c in vcols]
    )

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                ts, cols = decompress_chunk(bytes(row.chunk))
                if len(cols) != len(vcols):
                    raise ValueError(
                        f"chunk encodes {len(cols)} value columns but "
                        f"value_cols names {len(vcols)} ({vcols}); pass the "
                        "writer's chunk_value_cols (in writer order)"
                    )
                frame = {
                    "source": np.repeat(row.source, len(ts)),
                    "metric": np.repeat(row.metric, len(ts)),
                    "kind": np.repeat(row.kind, len(ts)),
                    "window_start": pd.to_datetime(ts, unit="s"),
                }
                for name, col in zip(vcols, cols):
                    frame[name] = col
                frames.append(pd.DataFrame(frame))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return chunk_df.select("source", "metric", "kind", "chunk").mapInPandas(explode, out_schema)


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
