"""Gorilla time-series compression (Facebook Gorilla, VLDB'15 §4.1).

Deterministic byte encoding of one (timestamps, values) series:

- timestamps: delta-of-delta with the paper's bucket code
  (0 | 10+7b | 110+9b | 1110+12b | 1111+64b full delta-of-delta)
- values: XOR with previous; '0' if identical, else '1' + ('0' reuse previous
  leading/meaningful window | '1' + 6b leading + 6b meaningful-length) + bits

decode(encode(ts, v)) == (ts, v) bit-exact — property-tested. Used as the
blob payload of the rollup sink (one blob per (id, tier, chunk_start)).
The reference has no compressed storage (SURVEY.md §2.1 S4); this implements
the north rule's storage format from the public paper.

One codec per role: the blob store encodes and decodes whole Arrow
batches through :func:`gorilla_encode_multi` / :func:`gorilla_decode_multi`;
:func:`gorilla_encode` / :func:`gorilla_decode` are the plain per-blob walks
(the tests' oracle, and the batch decoder's route for huge blobs). Both
encoders write the same bytes for the same series.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["gorilla_encode", "gorilla_encode_multi", "gorilla_decode",
           "gorilla_decode_multi"]

_MAGIC = b"GTS1"

# gorilla_decode_multi's lockstep walk iterates once per token of the
# longest blob in a batch; above this point count a blob decodes faster
# through the run-batched per-blob path. Daily blobs at the default
# 366-day chunk hold <= 366 points and stay lockstep; hourly blobs at that
# chunk (rollup_gorilla_pipeline(pages, "hourly")) hold up to 8,784, so a
# full one takes the per-blob route.
_MULTI_MAX_POINTS = 8192


class _BitWriter:
    """Accumulates bits MSB-first, flushing whole bytes to a bytearray.

    Keeping the accumulator bounded (< 8 bits after each write) makes the
    writer O(total_bits): a single growing big-int accumulator costs
    O(total_bits) PER WRITE (every shift copies the whole integer), which is
    quadratic and dominates encode time for multi-KB blobs.
    """
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int):
        acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        nbits = self.nbits + bits
        while nbits >= 8:
            nbits -= 8
            self.buf.append((acc >> nbits) & 0xFF)
        self.acc = acc & ((1 << nbits) - 1)
        self.nbits = nbits

    def getvalue(self) -> bytes:
        out = bytes(self.buf)
        if self.nbits:
            out += bytes([(self.acc << ((-self.nbits) % 8)) & 0xFF])
        return out


def _clz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _bitlen64(x: np.ndarray) -> np.ndarray:
    """Vectorized int.bit_length for uint64 arrays (0 → 0).

    Split into 32-bit halves so the float64 conversion is exact, then
    floor(log2): for 32-bit ints the gap between x and the next power of two
    (>= 1/(2^32 ln 2) in log2 units) dwarfs the ulp of the result, so the
    floor can't round across a boundary. Direct 64-bit log2 would NOT be
    safe (conversion itself rounds past 2^53)."""
    hi = (x >> np.uint64(32)).astype(np.float64)
    lo = (x & np.uint64(0xFFFFFFFF)).astype(np.float64)
    with np.errstate(divide="ignore"):
        blh = np.floor(np.log2(hi)) + 33.0   # -inf where hi == 0
        bll = np.floor(np.log2(lo)) + 1.0    # -inf where lo == 0
    return np.maximum(np.maximum(blh, bll), 0.0).astype(np.int64)


def gorilla_encode(ts: np.ndarray, values: np.ndarray) -> bytes:
    """Encode int64 timestamps (sorted) + float64 values into a Gorilla blob.

    A per-point walk through one bit writer. The value-window policy is
    blob-global: one '11' header with the tightest window covering every
    nonzero XOR, then '10' reuse — unlike the paper's shrink-fit rule it
    needs no sequential window state; any policy is valid Gorilla, the
    decoder follows the control bits (paper §4.1.2 explicitly leaves the
    reuse heuristic to the encoder). The blob writers encode through
    :func:`gorilla_encode_multi`, which writes the same bytes; this walk
    shares no code with it and is the tests' oracle for it.
    """
    ts = np.asarray(ts, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    n = len(ts)
    if len(values) != n:
        raise ValueError(
            f"ts/values length mismatch: {n} vs {len(values)}")
    header = _MAGIC + struct.pack(">I", n)
    if n == 0:
        return header
    header += struct.pack(">q", int(ts[0]))
    header += struct.pack(">Q", int(values[:1].view(np.uint64)[0]))
    if n == 1:
        return header

    w = _BitWriter()
    deltas = np.diff(ts)
    dods = np.diff(np.concatenate(([np.int64(0)], deltas)))
    for dod in dods.tolist():
        if dod == 0:
            w.write(0, 1)
        elif -63 <= dod <= 64:
            w.write(0b10, 2)
            w.write(dod + 63, 7)
        elif -255 <= dod <= 256:
            w.write(0b110, 3)
            w.write(dod + 255, 9)
        elif -2047 <= dod <= 2048:
            w.write(0b1110, 4)
            w.write(dod + 2047, 12)
        else:
            w.write(0b1111, 4)
            w.write(dod & ((1 << 64) - 1), 64)
    bits = values.view(np.uint64)
    xors = (bits[1:] ^ bits[:-1]).tolist()
    # blob-global window: one pre-pass finds the tightest window covering
    # every nonzero XOR, the stream is then one '11' + N×'10'
    lead_g, trail_g = 64, 64
    for x in xors:
        if x:
            lead = _clz64(x)
            lead_g = min(lead_g, 31 if lead > 31 else lead)  # 6b lead field cap
            trail_g = min(trail_g, (x & -x).bit_length() - 1)
    mean_g = 64 - lead_g - trail_g
    first = True
    for x in xors:
        if x == 0:
            w.write(0, 1)
            continue
        if first:
            w.write(0b11, 2)
            w.write(lead_g, 6)
            w.write(mean_g - 1, 6)  # 1..64 stored as 0..63
            first = False
        else:
            w.write(0b10, 2)
        w.write(x >> trail_g, mean_g)
    return header + w.getvalue()


# timestamp row token per dod class: prefix + biased payload; class 4's
# 64-bit dod follows as its own token
_TS_CODE = np.array([0b0, 0b10 << 7, 0b110 << 9, 0b1110 << 12, 0b1111],
                    dtype=np.uint64)
_TS_BIAS = np.array([0, 63, 255, 2047, 0], dtype=np.uint64)
_TS_MASK = np.array([0, 0x7F, 0x1FF, 0xFFF, 0], dtype=np.uint64)
_TS_WIDTH = np.array([1, 9, 12, 16, 4], dtype=np.int64)
_MAGIC_WORD = np.uint64(int.from_bytes(_MAGIC, "big") << 32)  # + count


def gorilla_encode_multi(ts: np.ndarray, values: np.ndarray,
                         starts: np.ndarray):
    """Encode MANY concatenated series in one vectorized pass.

    ``ts``/``values`` are all groups' points back to back; ``starts`` holds
    each group's first index (``starts[0] == 0``, strictly increasing, every
    group non-empty). Returns ``(data, offsets)``: blob ``g`` is
    ``data[offsets[g]:offsets[g+1]]`` (uint8 array / int64 offsets), each
    decodable by :func:`gorilla_decode`.

    Token policy is gorilla_encode's blob-global value window applied per
    group, so every blob is byte-identical to ``gorilla_encode(group)``, at
    any group size (property-tested). The point of this entry is the blob
    writers' hot path (``gorilla_sink.blob_batch``, which calls it with at
    most 65,536 points): dod classes and per-group XOR windows
    (``minimum.reduceat``) give every token, header fields included, its
    value and width (<= 64 bits); cumulative sums give its absolute bit
    offset, each group's base rounded up to a byte; :func:`_pack` writes
    them all into one word buffer. No per-group Python.
    """
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    values = np.ascontiguousarray(values, dtype=np.float64)
    starts = np.asarray(starts, dtype=np.int64)
    N = len(ts)
    G = len(starts)
    if len(values) != N:
        raise ValueError(f"ts/values length mismatch: {N} vs {len(values)}")
    if G == 0:
        return np.zeros(0, np.uint8), np.zeros(1, np.int64)
    ns = np.diff(starts, append=N)
    if np.any(ns <= 0):
        raise ValueError("empty group in starts")
    if int(ns.max()) >= 2 ** 32:
        raise ValueError("group size >= 2**32 does not fit the u32 header "
                         "count (matches gorilla_encode's struct.pack('>I'))")
    bits = values.view(np.uint64)

    # ---- token rows: one per point except each group's first
    ms = ns - 1
    row = np.ones(N, dtype=bool)
    row[starts] = False
    tokidx = np.flatnonzero(row)             # point index of each row
    T = len(tokidx)
    gid = np.repeat(np.arange(G), ms)        # group of each row
    tokend = np.cumsum(ms)
    tokstart = tokend - ms                   # first row of each group
    ne = ms > 0                              # groups owning rows

    # ---- timestamp rows: prefix+payload in one token (<= 16 bits); a
    #      class-4 row is a '1111' token then one 64-bit dod token
    deltas = ts[tokidx] - ts[tokidx - 1]
    dods = np.diff(deltas, prepend=np.int64(0))
    dods[tokstart[ne]] = deltas[tokstart[ne]]   # dod_1 := delta_1
    cls = np.select(
        [dods == 0,
         (dods >= -63) & (dods <= 64),
         (dods >= -255) & (dods <= 256),
         (dods >= -2047) & (dods <= 2048)],
        [0, 1, 2, 3], default=4)
    du = dods.view(np.uint64)
    tsv = _TS_CODE[cls] | ((du + _TS_BIAS[cls]) & _TS_MASK[cls])
    tsw = _TS_WIDTH[cls]
    big = cls == 4

    # ---- value rows: per-group blob-global window via segment reductions;
    #      a control token ('0' | '10' | '11'+lead+mean-1) then the payload
    xors = bits[tokidx] ^ bits[tokidx - 1]
    nz = xors != 0
    lead_cand = np.where(nz, np.minimum(64 - _bitlen64(xors), 31), 64)
    trail_cand = np.where(nz, _bitlen64(xors & (~xors + np.uint64(1))) - 1, 64)
    lead_g = np.full(G, 64, dtype=np.int64)
    trail_g = np.full(G, 64, dtype=np.int64)
    first_g = np.full(G, T, dtype=np.int64)
    if ne.any():
        seg = tokstart[ne]
        lead_g[ne] = np.minimum.reduceat(lead_cand, seg)
        trail_g[ne] = np.minimum.reduceat(trail_cand, seg)
        first_g[ne] = np.minimum.reduceat(np.where(nz, np.arange(T), T),
                                          seg)
    has_nz = first_g < T
    mean_g = 64 - lead_g - trail_g
    fg = first_g[has_nz]                     # row of each '11' token
    ctlv = np.where(nz, np.uint64(0b10), np.uint64(0))
    ctlv[fg] = (np.uint64(0b11 << 12)
                | (lead_g[has_nz].astype(np.uint64) << np.uint64(6))
                | (mean_g[has_nz] - 1).astype(np.uint64))
    ctlw = np.where(nz, 2, 1)
    ctlw[fg] = 14
    payw = mean_g[gid[nz]]
    payv = xors[nz] >> trail_g[gid[nz]].astype(np.uint64)
    vw = ctlw.copy()
    vw[nz] += payw

    # ---- bit offsets: [24B header | ts rows | value rows] per group, each
    #      group's base rounded up to a byte
    tscum = np.concatenate(([0], np.cumsum(tsw + 64 * big)))
    vcum = np.concatenate(([0], np.cumsum(vw)))
    ts_g = tscum[tokend] - tscum[tokstart]
    nbytes = (192 + ts_g + vcum[tokend] - vcum[tokstart] + 7) >> 3
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    base = offsets[:-1] << 3
    tsoff = (base + 192 - tscum[tokstart])[gid] + tscum[:-1]
    voff = (base + 192 + ts_g - vcum[tokstart])[gid] + vcum[:-1]

    head = np.stack([_MAGIC_WORD | ns.astype(np.uint64),
                     ts[starts].view(np.uint64), bits[starts]], axis=1)
    words = _pack(
        int(offsets[-1]),
        (base[:, None] + np.array([0, 64, 128]), head, 64),
        (tsoff, tsv, tsw),
        (tsoff[big] + 4, du[big], 64),
        (voff, ctlv, ctlw),
        (voff[nz] + ctlw[nz], payv, payw))
    return words.view(np.uint8)[:int(offsets[-1])], offsets


def _pack(nbytes: int, *tokens) -> np.ndarray:
    """Write ``(offset, value, width)`` token arrays MSB-first into a
    big-endian word buffer of ``nbytes`` bytes (rounded up to 8).

    A token holds 1..64 bits at absolute bit ``offset``; its value has no
    bits above ``width``. It covers one word, or the tail of one and the
    head of the next. Token bit ranges are disjoint, so ``np.add.at`` sums
    equal ORs. Every shift count stays in 0..63 (a uint64 shift by 64 is
    undefined in numpy).
    """
    off = np.concatenate([np.ravel(o) for o, _, _ in tokens])
    val = np.concatenate([np.ravel(v) for _, v, _ in tokens])
    w = np.concatenate([np.broadcast_to(w, np.shape(v)).ravel()
                        for _, v, w in tokens])
    over = (off & 63) + w - 64               # bits spilling into word + 1
    spill = over > 0
    words = np.zeros((nbytes + 7) >> 3, dtype=np.uint64)
    np.add.at(words, off >> 6,
              np.where(spill, val >> (over & 63).astype(np.uint64),
                       val << (-over & 63).astype(np.uint64)))
    np.add.at(words, (off[spill] >> 6) + 1,
              val[spill] << (64 - over[spill]).astype(np.uint64))
    return words.astype(">u8")


def _next_set_bit(arr: np.ndarray, b: int) -> int:
    """Position of the first set bit at or after byte ``b`` (galloping byte
    scan: O(gap/8) work, no whole-stream precompute)."""
    step = 32
    while b < len(arr):
        chunk = arr[b:b + step]
        if chunk.any():
            off = int(np.argmax(chunk != 0))
            return ((b + off) << 3) + (8 - int(arr[b + off]).bit_length())
        b += step
        step = min(step * 2, 1 << 20)
    return len(arr) << 3

def _decode_ts(data: bytes, pos: int, ts: np.ndarray) -> int:
    """Delta-of-delta walk filling ts[1:] from ts[0]; ``data`` is the token
    stream padded with >= 10 zero bytes, ``pos`` its start bit. Returns the
    bit position after the last timestamp token (the value stream's start).

    Runs of '0' dod tokens (stable cadence — the dominant layout after a
    tier rollup, including regular-with-gaps series between the gaps) are
    literal runs of 0 bits at token boundaries and are filled as one
    arithmetic batch; everything else is the scalar walk with inlined bit
    reads (peek the 4-bit class prefix once per point — the method-dispatch
    version ran ~2x slower on irregular series).
    """
    arr = np.frombuffer(data, dtype=np.uint8)
    from_bytes = int.from_bytes
    t = int(ts[0])
    delta = 0
    n = len(ts)
    i = 1
    while i < n:
        s = pos >> 3
        if data[s] & (0xFF >> (pos & 7)) == 0 and data[s + 1] == 0:
            # >= 9 consecutive '0' dods: batch-fill the cadence run
            run = min(_next_set_bit(arr, s + 1) - pos, n - i)
            ts[i:i + run] = t + delta * np.arange(1, run + 1, dtype=np.int64)
            t += delta * run
            pos += run
            i += run
            continue
        chunk = from_bytes(data[s:s + 2], "big")
        cls = (chunk >> (12 - (pos & 7))) & 0xF
        if cls < 8:            # '0'
            pos += 1
            dod = 0
        else:
            if cls < 12:       # '10' + 7
                pos += 2
                k, bias = 7, 63
            elif cls < 14:     # '110' + 9
                pos += 3
                k, bias = 9, 255
            elif cls == 14:    # '1110' + 12
                pos += 4
                k, bias = 12, 2047
            else:              # '1111' + 64
                pos += 4
                k, bias = 64, 0
            e = (pos + k + 7) >> 3
            chunk = from_bytes(data[pos >> 3:e], "big")
            dod = (chunk >> ((e << 3) - (pos + k))) & ((1 << k) - 1)
            pos += k
            if k == 64:
                if dod >= (1 << 63):
                    dod -= 1 << 64
            else:
                dod -= bias
        delta += dod
        t += delta
        ts[i] = t
        i += 1
    return pos


def gorilla_decode(blob: bytes):
    """Decode a blob → (ts int64 array, values float64 array).

    One timestamp walk, then one value walk; both follow the control bits,
    so any encoder window policy decodes. A header count that walks past
    the blob's bytes raises ValueError, as in :func:`gorilla_decode_multi`,
    the batch decoder; this per-blob path serves its huge-blob route and
    the tests.
    """
    if blob[:4] != _MAGIC:
        raise ValueError("bad gorilla magic")
    (n,) = struct.unpack(">I", blob[4:8])
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    (t0,) = struct.unpack(">q", blob[8:16])
    (v0_bits,) = struct.unpack(">Q", blob[16:24])
    ts = np.empty(n, dtype=np.int64)
    vals_bits = np.empty(n, dtype=np.uint64)
    ts[0] = t0
    vals_bits[0] = v0_bits
    if n == 1:
        return ts, vals_bits.view(np.float64)

    stream = bytes(blob[24:])
    data = stream + b"\x00" * 16  # pad: end-of-stream peeks read full width
    try:
        pos = _decode_ts(data, 0, ts)
        pos = _decode_values_vec(data, pos, vals_bits, n)
    except (IndexError, OverflowError, ValueError):
        # a walk ran past the pad, or read a '10' before any window
        pos = len(data) << 3
    if pos > len(stream) << 3:
        raise ValueError("gorilla stream overruns its blob "
                         "(corrupt header count)")
    return ts, vals_bits.view(np.float64)


def _decode_values_vec(data: bytes, pos: int, out: np.ndarray, n: int):
    """Value-stream walk filling out[1:n] from out[0]; ``data`` is padded
    with >= 16 zero bytes, ``pos`` is the stream's start bit. Returns the
    bit position after the last value token.

    Every token is decoded one at a time ('0' repeat, '10' window reuse,
    '11' new window) with inlined bit reads, except two kinds of run that
    the stream's structure makes cheap to batch. A run of >= 9 '0' tokens
    is literally a run of 0 bits at a token boundary: one galloping byte
    scan finds its end and one slice fill writes it. After a streak of 24
    '10' tokens under a stable window, the following '10' tokens are
    fixed-width (2+mean bits), so their control bits sit at an arithmetic
    progression: one strided compare finds the run length, one
    gather+shift extracts all payloads, and np.bitwise_xor.accumulate
    chains the values. Blobs written by this module's global-window
    encoders are one '11' then '10'/'0' tokens, so a long blob decodes in
    a few batches; a blob of 90 points or fewer never batches a '10' run.
    """
    arr = np.frombuffer(data, dtype=np.uint8)
    B = len(arr) << 3
    swv = np.lib.stride_tricks.sliding_window_view(arr, 8)
    sh8 = (np.arange(7, -1, -1) * 8).astype(np.uint64)

    def extract(p: np.ndarray, k: int) -> np.ndarray:
        """bits [p, p+k) of the stream as uint64 (k <= 64, p int64 array)."""
        b = p >> 3
        off = (p & 7).astype(np.uint64)
        a = (swv[b].astype(np.uint64) << sh8).sum(axis=1)
        nxtb = arr[b + 8].astype(np.uint64)
        hi = (a << off) | (nxtb >> (np.uint64(8) - off))
        return hi >> np.uint64(64 - k)

    def bit_at(p):
        return (arr[p >> 3] >> (7 - (p & 7))) & 1

    from_bytes = int.from_bytes
    i = 1
    prev = int(out[0])
    prev_lead, prev_mean = 65, 0
    streak = 0  # consecutive '10' tokens decoded scalar since last other token
    while i < n:
        s = pos >> 3
        chunk = from_bytes(data[s:s + 2], "big")
        if (chunk >> (15 - (pos & 7))) & 1 == 0:
            # ---- '0' token → repeat. A '0'-token run is literally a run of
            # 0 bits at a token boundary; if the rest of this byte AND the
            # next are zero (>= 9 tokens) batch the whole run with one byte
            # scan + slice fill, else stay scalar (bytes-level reads — numpy
            # scalar indexing here measured ~10x slower).
            if data[s] & (0xFF >> (pos & 7)) == 0 and data[s + 1] == 0:
                r0 = min(_next_set_bit(arr, s + 1) - pos, n - i)
                out[i:i + r0] = np.uint64(prev)
                i += r0
                pos += r0
            else:
                out[i] = prev
                i += 1
                pos += 1
            streak = 0
            continue
        if (chunk >> (14 - (pos & 7))) & 1 == 0:  # ctrl '10': window reuse
            streak += 1
            if streak >= 24 and n - i > 64 and prev_mean:
                # ---- long run of '10' under a stable window: fixed width
                # w, control bits on an arithmetic progression → one strided
                # compare finds the run length, one gather+shift extracts
                # all payloads, bitwise_xor.accumulate chains the values.
                # Gallop (doubling cap) keeps per-iteration numpy work
                # proportional to the ACTUAL run length; short runs never
                # reach here (the 24-token scalar streak gate), so numpy
                # fixed costs stay off run-structured streams.
                w = 2 + prev_mean
                shift = np.uint64(64 - prev_lead - prev_mean)
                cap = 512
                while i < n:
                    ps = pos + w * np.arange(min(cap, n - i), dtype=np.int64)
                    ps = ps[:np.searchsorted(ps, B - 1)]  # stay in-pad
                    good = (bit_at(ps) == 1) & (bit_at(ps + 1) == 0)
                    r = len(ps) if good.all() else int(np.argmin(good))
                    if r:
                        seq = np.bitwise_xor.accumulate(
                            extract(ps[:r] + 2, prev_mean) << shift)
                        out[i:i + r] = seq ^ np.uint64(prev)
                        prev = int(out[i + r - 1])
                        i += r
                        pos += r * w
                    if r == cap and i < n:
                        cap *= 2
                        continue
                    break
                streak = 0
                continue
            pos += 2
            k = prev_mean
            e = (pos + k + 7) >> 3
            chunk = from_bytes(data[pos >> 3:e], "big")
            mbits = (chunk >> ((e << 3) - (pos + k))) & ((1 << k) - 1)
            pos += k
            prev ^= mbits << (64 - prev_lead - prev_mean)
            out[i] = prev
            i += 1
        else:  # ctrl '11': new window — 6b lead + 6b (meaningful-1) + bits
            streak = 0
            pos += 2
            e = (pos + 12 + 7) >> 3
            chunk = from_bytes(data[pos >> 3:e], "big")
            hdr = (chunk >> ((e << 3) - (pos + 12))) & 0xFFF
            pos += 12
            prev_lead = hdr >> 6
            prev_mean = (hdr & 63) + 1
            e = (pos + prev_mean + 7) >> 3
            chunk = from_bytes(data[pos >> 3:e], "big")
            mbits = (chunk >> ((e << 3) - (pos + prev_mean))) \
                & ((1 << prev_mean) - 1)
            pos += prev_mean
            prev ^= mbits << (64 - prev_lead - prev_mean)
            out[i] = prev
            i += 1
    return pos


# ---------------------------------------------------------------------------
# Cross-blob vectorized decode. gorilla_decode pays a fixed Python/numpy
# setup per blob and walks a short blob token by token in Python — at
# tier-blob sizes of ~40-200 points that overhead IS the decode (~0.1 ms
# per 40-point blob). The multi decoder amortizes it across every blob of
# an Arrow batch: per-blob headers parse as strided vector ops, and the
# token streams advance in LOCKSTEP — each loop iteration decodes ONE
# token for EVERY still-active blob with ~40 vector ops, so Python
# dispatch count is O(max tokens per blob), not O(blobs x points), and
# element work is O(total points). Finished blobs are compressed out of
# the active set each step (their stream positions persist in a slot
# array so the value walk can resume where the timestamp walk stopped).
# ---------------------------------------------------------------------------


def _read64(swv8: np.ndarray, p: np.ndarray) -> np.ndarray:
    """The 64 bits starting at bit position ``p`` (top-aligned; only the
    first 64 - (p & 7) >= 57 bits are meaningful)."""
    u = swv8[p >> 3].copy().view(">u8").ravel()
    return u << (p & 7).astype(np.uint64)


def _read_bits(swv8: np.ndarray, p: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Bits [p, p+w) as uint64, per-element widths 1 <= w <= 64."""
    w1 = np.minimum(w, 32)
    w2 = w - w1
    v1 = _read64(swv8, p) >> (64 - w1).astype(np.uint64)
    out = v1
    hi = w2 > 0
    if hi.any():
        v2 = _read64(swv8, p + 32) \
            >> (64 - np.maximum(w2, 1)).astype(np.uint64)
        out = np.where(hi, (v1 << w2.astype(np.uint64)) | v2, v1)
    return out


def gorilla_decode_multi(data: np.ndarray, offsets: np.ndarray):
    """Decode MANY blobs in one vectorized pass.

    ``data`` is a uint8 buffer holding the blobs back to back; blob ``g``
    is ``data[offsets[g]:offsets[g+1]]`` (the natural layout of an Arrow
    binary column — pass its value buffer + offsets zero-copy). Returns
    ``(counts, ts, vals)``: per-blob point counts (int64) and the
    concatenated int64 timestamps / float64 values; blob ``g``'s points
    are ``ts[base[g]:base[g]+counts[g]]`` with ``base = cumsum(counts) -
    counts``. Policy-agnostic like gorilla_decode (follows the control
    bits), so it accepts blobs from any of this module's encoder paths.

    The lockstep walks run one Python iteration per token of the LONGEST
    blob, so a single huge blob in a batch of tiny ones would degenerate
    to per-token dispatch on a near-empty active set; blobs above
    ``_MULTI_MAX_POINTS`` are therefore routed to the run-batched
    per-blob ``gorilla_decode`` fast path and merged back in blob order
    (ADVICE r6). Stream bounds are verified per blob: a corrupt header
    count that would walk past its blob's bytes raises instead of
    silently decoding the neighbour's bits.
    """
    offsets = np.asarray(offsets, dtype=np.int64)
    G = len(offsets) - 1
    if G <= 0:
        return (np.zeros(0, np.int64), np.zeros(0, np.int64),
                np.zeros(0, np.float64))
    data = np.ascontiguousarray(data, dtype=np.uint8)
    if len(data) < int(offsets[-1]):
        raise ValueError("data shorter than offsets claim")
    hdr = offsets[:-1]
    magic = np.frombuffer(_MAGIC, dtype=np.uint8)
    if not ((data[hdr] == magic[0]) & (data[hdr + 1] == magic[1])
            & (data[hdr + 2] == magic[2]) & (data[hdr + 3] == magic[3])).all():
        raise ValueError("bad gorilla magic")
    # pad so 64-bit reads near stream ends stay in-bounds
    buf = np.concatenate([data, np.zeros(16, dtype=np.uint8)])
    swv8 = np.lib.stride_tricks.sliding_window_view(buf, 8)

    def be(start: int, nbytes: int) -> np.ndarray:
        v = np.zeros(G, dtype=np.uint64)
        for j in range(nbytes):
            v = (v << np.uint64(8)) | buf[hdr + start + j].astype(np.uint64)
        return v

    counts = be(4, 4).astype(np.int64)
    t0 = be(8, 8).view(np.int64)
    v0 = be(16, 8)
    N = int(counts.sum())
    ts = np.zeros(N, dtype=np.int64)
    vb = np.zeros(N, dtype=np.uint64)
    base = np.cumsum(counts) - counts
    one = counts >= 1
    ts[base[one]] = t0[one]
    vb[base[one]] = v0[one]

    # huge blobs: per-blob fast path (see docstring), merged in blob order
    for g in np.flatnonzero(counts > _MULTI_MAX_POINTS):
        tg, vg = gorilla_decode(data[offsets[g]:offsets[g + 1]].tobytes())
        ts[base[g]:base[g] + counts[g]] = tg
        vb[base[g]:base[g] + counts[g]] = vg.view(np.uint64)

    act0 = np.flatnonzero((counts >= 2)   # blobs with a token stream
                          & (counts <= _MULTI_MAX_POINTS))
    A = len(act0)
    endbit = offsets[act0 + 1] << 3       # exclusive bit bound per blob
    vstart = np.zeros(A, dtype=np.int64)  # value-stream start per act0 blob

    # ---- lockstep timestamp walk (delta-of-delta classes) ----
    slot = np.arange(A)                  # position of each active row in act0
    pos = (hdr[act0] + 24) << 3
    t = t0[act0].copy()
    delta = np.zeros(A, dtype=np.int64)
    outp = base[act0] + 1
    rem = counts[act0] - 1
    PLEN = np.array([1, 2, 3, 4, 4], dtype=np.int64)
    PW = np.array([0, 7, 9, 12, 64], dtype=np.int64)
    BIAS = np.array([0, 63, 255, 2047, 0], dtype=np.int64)
    # Corrupt-count containment (ADVICE r7) kept OFF the hot path:
    # each retirement checks pos <= endbit below (the walk is
    # finite — `rem` bounds emissions), which catches counts that
    # over-read into the next blob or the pad. A runaway count on
    # the LAST blob can additionally run the _read64 gather past
    # the 16-byte pad before retiring; translate that IndexError
    # into the same typed error. (A per-iteration pos>=endbit
    # pre-read check cost 14-22% on decode-heavy bench rows.)
    try:
        while len(pos):
            u = _read64(swv8, pos)
            pk4 = (u >> np.uint64(60)).astype(np.int64)
            cls = np.select([pk4 < 8, pk4 < 12, pk4 < 14, pk4 == 14],
                            [0, 1, 2, 3], 4)
            plen, pw = PLEN[cls], PW[cls]
            pay = np.zeros(len(pos), dtype=np.int64)
            small = (cls >= 1) & (cls <= 3)   # prefix+payload <= 16 bits: 1 read
            if small.any():
                wsm = np.where(small, pw, 1).astype(np.uint64)
                pay_s = ((u << plen.astype(np.uint64))
                         >> (np.uint64(64) - wsm)).astype(np.int64)
                pay = np.where(small, pay_s - BIAS[cls], pay)
            big = cls == 4                    # 64-bit raw dod: two 32-bit reads
            if big.any():
                bp = pos[big] + 4
                hi32 = _read64(swv8, bp) >> np.uint64(32)
                lo32 = _read64(swv8, bp + 32) >> np.uint64(32)
                pay[big] = ((hi32 << np.uint64(32)) | lo32).view(np.int64)
            delta += pay
            t += delta
            ts[outp] = t
            pos += plen + pw
            outp += 1
            rem -= 1
            done = rem == 0
            if done.any():
                if (pos[done] > endbit[slot[done]]).any():
                    raise ValueError("gorilla timestamp stream overruns its "
                                     "blob (corrupt header count)")
                vstart[slot[done]] = pos[done]
                keep = ~done
                slot, pos, t = slot[keep], pos[keep], t[keep]
                delta, outp, rem = delta[keep], outp[keep], rem[keep]

    except IndexError:
        raise ValueError("gorilla timestamp stream overruns its "
                         "blob (corrupt header count)") from None
    # ---- lockstep value walk ('0' repeat | '10' reuse | '11' window) ----
    slot = np.arange(A)
    pos = vstart.copy()
    prev = v0[act0].copy()
    lead = np.zeros(A, dtype=np.int64)
    mean = np.zeros(A, dtype=np.int64)    # 0 until the first '11' header
    outp = base[act0] + 1
    rem = counts[act0] - 1
    # Corrupt-count containment (ADVICE r7) kept OFF the hot path:
    # each retirement checks pos <= endbit below (the walk is
    # finite — `rem` bounds emissions), which catches counts that
    # over-read into the next blob or the pad. A runaway count on
    # the LAST blob can additionally run the _read64 gather past
    # the 16-byte pad before retiring; translate that IndexError
    # into the same typed error. (A per-iteration pos>=endbit
    # pre-read check cost 14-22% on decode-heavy bench rows.)
    try:
        while len(pos):
            u = _read64(swv8, pos)
            c0 = (u >> np.uint64(63)).astype(np.int64)       # 1st control bit
            c1 = ((u >> np.uint64(62)) & np.uint64(1)).astype(np.int64)
            is_new = (c0 == 1) & (c1 == 1)
            if is_new.any():
                hdr12 = ((u << np.uint64(2)) >> np.uint64(52)).astype(np.int64)
                lead = np.where(is_new, hdr12 >> 6, lead)
                mean = np.where(is_new, (hdr12 & 63) + 1, mean)
            is_rep = c0 == 0
            skip = np.where(is_rep, 1, np.where(is_new, 14, 2))
            has_pay = ~is_rep & (mean > 0)
            if has_pay.any():
                w = np.where(has_pay, mean, 1)
                pay = _read_bits(swv8, pos + skip, w)
                shift = np.clip(64 - lead - mean, 0, 63).astype(np.uint64)
                prev = np.where(has_pay, prev ^ (pay << shift), prev)
            vb[outp] = prev
            pos += np.where(is_rep, 1, skip + mean)
            outp += 1
            rem -= 1
            keep = rem > 0
            if not keep.all():
                fin = ~keep
                if (pos[fin] > endbit[slot[fin]]).any():
                    raise ValueError("gorilla value stream overruns its blob "
                                     "(corrupt header count)")
                slot, pos, prev = slot[keep], pos[keep], prev[keep]
                lead, mean = lead[keep], mean[keep]
                outp, rem = outp[keep], rem[keep]

    except IndexError:
        raise ValueError("gorilla value stream overruns its "
                         "blob (corrupt header count)") from None
    return counts, ts, vb.view(np.float64)