"""Vectorized integer codecs for posting lists: varint (LEB128) and PForDelta.

Pure-numpy, no Python-level per-value loops on the hot paths (SURVEY.md A5/A6;
north_star: "varint/PFOR-compressed"). These run INSIDE Arrow-vectorized UDFs
on executors; they never touch Spark APIs themselves.

Varint: classic LEB128 (Williams & Zobel 1999) — 7 value bits per byte, high
bit = continuation. Encoding is done column-wise over the whole array (<= 10
vector ops); decoding splits the byte stream on terminal bytes and sums
per-byte contributions with one ``np.add.reduceat`` over value starts.

PFOR: PForDelta-style (Zukowski et al., ICDE 2006) 128-int blocks. Each block
picks the smallest bit width ``b`` whose overflow ("exception") count is
<= PFOR_MAX_EXCEPTIONS; low ``b`` bits of every value are bit-packed, and the
exceptions' positions + high bits are appended varint-encoded.
"""

from __future__ import annotations

import numpy as np

PFOR_BLOCK = 128
PFOR_MAX_EXCEPTIONS = 16

CODEC_VARINT = 1
CODEC_PFOR = 2


# ---------------------------------------------------------------- varint ----

def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_lengths(values)[0]


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array -> (byte stream, per-value byte lengths).

    The lengths array lets callers compute byte offsets of arbitrary value
    positions (block boundaries) without re-scanning the stream."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    if v.max() < 128:  # dense-gap fast path: every value is one byte
        ones = np.broadcast_to(np.ones(1, dtype=np.int64), n)  # no 8B*n alloc
        return v.astype(np.uint8).tobytes(), ones
    # bytes needed per value: ceil(bit_length / 7), min 1 — threshold sums
    # (one vector compare per byte tier, no fancy-index writes)
    vmax = int(v.max())
    nbits = np.ones(n, dtype=np.int64)
    for shift in range(7, 64, 7):
        if vmax < (1 << shift):
            break
        nbits += v >= np.uint64(1 << shift)
    # (n x max_len) byte matrix, then one row-major boolean select — the
    # select emits value-by-value in order, i.e. exactly the varint stream
    # (no per-byte-position fancy scatter)
    max_len = int(nbits.max())
    sh = np.arange(max_len, dtype=np.uint64) * np.uint64(7)
    mat = ((v[:, None] >> sh) & np.uint64(0x7F)).astype(np.uint8)
    lanes = np.arange(max_len)
    mat |= (lanes[None, :] < (nbits[:, None] - 1)).astype(np.uint8) << 7
    out = mat[lanes[None, :] < nbits[:, None]]
    return out.tobytes(), nbits


def varint_decode(buf: bytes | memoryview | np.ndarray, offset: int = 0, count: int | None = None):
    """Decode LEB128 stream -> (uint64 array, bytes consumed).

    If ``count`` is given, stops after that many values; otherwise consumes the
    whole buffer from ``offset``.
    """
    raw = np.frombuffer(buf, dtype=np.uint8)
    raw = raw[offset:]
    if count is not None:
        # bound the scan: a value is at most 10 varint bytes, so per-block
        # decode stays O(block), not O(remaining blob) (the WAND hot path)
        raw = raw[: count * 10]
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64), 0
    if count is not None and raw.size >= count and not (raw[:count] & 0x80).any():
        # all-single-byte fast path (dense gaps / small tfs)
        return raw[:count].astype(np.uint64), count
    terminal = (raw & 0x80) == 0
    ends = np.flatnonzero(terminal)  # index of last byte of each value
    if count is not None:
        ends = ends[:count]
        if ends.size < (count or 0):
            raise ValueError("varint stream truncated")
        raw = raw[: ends[-1] + 1] if ends.size else raw[:0]
    n = ends.size
    if n == 0:
        return np.empty(0, dtype=np.uint64), 0
    consumed = int(ends[-1]) + 1
    terminal = terminal[:consumed]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # value id of each byte = values ended before it; its 7-bit group sits
    # at 7 * (byte index - value start). The groups of one value never
    # overlap, so summing them in uint64 equals OR-ing them, exactly.
    value_id = np.cumsum(terminal) - terminal
    shift = (np.arange(consumed) - starts[value_id]).astype(np.uint64)
    contrib = (raw[:consumed] & 0x7F).astype(np.uint64) << (np.uint64(7) * shift)
    return np.add.reduceat(contrib, starts), consumed


# ------------------------------------------------------------------ pfor ----

def _pack_bits(values: np.ndarray, width: int) -> bytes:
    """Bit-pack uint64 values (< 2**width) into bytes, MSB-first per value."""
    if width == 0 or values.size == 0:
        return b""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((values[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_bits(buf: np.ndarray, n: int, width: int) -> np.ndarray:
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    nbits = n * width
    bits = np.unpackbits(buf, count=nbits).reshape(n, width).astype(np.uint64)
    weights = (np.uint64(1) << np.arange(width - 1, -1, -1, dtype=np.uint64))
    return bits @ weights


def pfor_encode(values: np.ndarray) -> bytes:
    """PForDelta-encode a uint64 array (any length) into a byte stream.

    Layout (headers UP FRONT so decode finds every block offset from one
    cumsum instead of a sequential walk):

      varint(n_values) varint(n_blocks)
      n_blocks x 4-byte headers: [width:1][n_exc:1][payload_len:2 LE]
      concatenated per-block payloads:
        [packed low bits][exception positions varint][exception high varint]

    Both encode and decode batch all same-width full blocks into ONE
    bit-pack/unpack matrix operation; per-block Python touches only the
    (rare) exception streams and the final ragged block.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    head = varint_encode(np.array([n], dtype=np.uint64))
    if n == 0:
        return head + varint_encode(np.array([0], dtype=np.uint64))
    nb = -(-n // PFOR_BLOCK)
    starts = np.arange(0, n, PFOR_BLOCK, dtype=np.int64)
    blk_n = np.diff(np.append(starts, n))
    bl = _bit_lengths(v)
    blk_id = np.repeat(np.arange(nb, dtype=np.int64), blk_n)
    # per-block width = smallest w with <= PFOR_MAX_EXCEPTIONS values of
    # bit length > w; one bincount histogram, no per-block scan
    hist = np.bincount(blk_id * 65 + bl, minlength=nb * 65).reshape(nb, 65)
    exc_if_w = blk_n[:, None] - np.cumsum(hist, axis=1)
    widths = (exc_if_w <= PFOR_MAX_EXCEPTIONS).argmax(axis=1).astype(np.int64)

    exc_sel = bl > widths[blk_id]
    n_exc_per_blk = np.bincount(blk_id[exc_sel], minlength=nb)
    payloads: list[bytes | None] = [None] * nb
    for w in np.unique(widths):
        idx = np.flatnonzero((widths == w) & (blk_n == PFOR_BLOCK))
        if idx.size:
            if w == 0:
                packed_rows = [b""] * idx.size
            else:
                gather = starts[idx][:, None] + np.arange(PFOR_BLOCK)
                vals = v[gather]
                if w < 64:
                    vals = vals & ((np.uint64(1) << np.uint64(w)) - np.uint64(1))
                shifts = np.arange(int(w) - 1, -1, -1, dtype=np.uint64)
                bits = ((vals[:, :, None] >> shifts) & np.uint64(1)).astype(np.uint8)
                packed = np.packbits(bits.reshape(idx.size, -1), axis=1)
                packed_rows = [r.tobytes() for r in packed]
            for j, i in enumerate(idx):
                payloads[i] = packed_rows[j]
    # ragged final block (and any stragglers) individually
    for i in range(nb):
        if payloads[i] is None:
            blk = v[starts[i] : starts[i] + blk_n[i]]
            w = int(widths[i])
            if w == 0:
                payloads[i] = b""
            else:
                low = blk if w >= 64 else blk & (
                    (np.uint64(1) << np.uint64(w)) - np.uint64(1)
                )
                payloads[i] = _pack_bits(low, w)
    if exc_sel.any():
        for i in np.flatnonzero(n_exc_per_blk):
            s, e = starts[i], starts[i] + blk_n[i]
            mask = exc_sel[s:e]
            pos = np.flatnonzero(mask).astype(np.uint64)
            high = v[s:e][mask] >> np.uint64(widths[i])
            payloads[i] += varint_encode(pos) + varint_encode(high)
    plens = np.fromiter((len(p) for p in payloads), np.int64, nb)
    headers = np.empty((nb, 4), dtype=np.uint8)
    headers[:, 0] = widths
    headers[:, 1] = n_exc_per_blk
    headers[:, 2] = plens & 0xFF
    headers[:, 3] = plens >> 8
    return b"".join(
        [head, varint_encode(np.array([nb], dtype=np.uint64)),
         headers.tobytes(), *payloads]
    )


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    out = np.zeros(v.size, dtype=np.int64)
    tmp = v.copy()
    alive = tmp > 0
    while alive.any():
        out[alive] += 1
        tmp >>= np.uint64(1)
        alive = tmp > 0
    return out


def pfor_decode(buf: bytes | memoryview | np.ndarray, offset: int = 0):
    """Decode PFOR stream -> (uint64 array, bytes consumed from offset).

    Fully vectorized: the up-front header section gives every block's
    (width, payload offset) from one cumsum; all same-width full blocks
    unpack in ONE ``unpackbits`` + shift-accumulate matrix pass. Per-block
    Python touches only blocks that carry exceptions and the ragged tail.
    (The round-1 per-128-block walk decoded dense gaps 70x slower than
    varint; this layout decodes them at the same order of magnitude.)
    """
    raw = np.frombuffer(buf, dtype=np.uint8)[offset:]
    header, used = varint_decode(raw, 0, count=1)
    n = int(header[0])
    pos = used
    nbh, used = varint_decode(raw, pos, count=1)
    nb = int(nbh[0])
    pos += used
    out = np.empty(n, dtype=np.uint64)
    if nb == 0:
        return out[:0], pos
    H = raw[pos : pos + 4 * nb].reshape(nb, 4)
    pos += 4 * nb
    widths = H[:, 0].astype(np.int64)
    n_exc = H[:, 1].astype(np.int64)
    plen = H[:, 2].astype(np.int64) | (H[:, 3].astype(np.int64) << 8)
    poffs = pos + np.concatenate(([0], np.cumsum(plen)[:-1]))
    end = int(pos + plen.sum())
    starts = np.arange(nb, dtype=np.int64) * PFOR_BLOCK
    blk_n = np.full(nb, PFOR_BLOCK, dtype=np.int64)
    blk_n[-1] = n - starts[-1]
    full = blk_n == PFOR_BLOCK
    for w in np.unique(widths):
        idx = np.flatnonzero(full & (widths == w))
        if not idx.size:
            continue
        if w == 0:
            sc = starts[idx][:, None] + np.arange(PFOR_BLOCK)
            out[sc.ravel()] = 0
            continue
        packed_bytes = (PFOR_BLOCK * int(w) + 7) // 8
        gather = poffs[idx][:, None] + np.arange(packed_bytes, dtype=np.int64)
        bits = np.unpackbits(raw[gather], axis=1, count=PFOR_BLOCK * int(w))
        bits = bits.reshape(idx.size, PFOR_BLOCK, int(w))
        # accumulate in the NARROWEST dtype that holds width-w values (the
        # u64 loop measured ~2x slower than u8/u16 for small widths —
        # posting gaps/tfs are nearly always w <= 8), widen once at the end
        acc_dt = (
            np.uint8 if w <= 8 else
            np.uint16 if w <= 16 else
            np.uint32 if w <= 32 else np.uint64
        )
        vals = np.zeros((idx.size, PFOR_BLOCK), dtype=acc_dt)
        one = acc_dt(1)
        for j in range(int(w)):  # MSB-first shift-accumulate, <=64 passes
            vals <<= one
            vals |= bits[:, :, j]
        flat = vals.reshape(-1).astype(np.uint64, copy=False)
        if idx.size and np.all(np.diff(idx) == 1):
            # typical case (one width class, full blocks contiguous):
            # straight slice store instead of a 2M-element fancy scatter
            s0 = int(starts[idx[0]])
            out[s0 : s0 + flat.size] = flat
        else:
            sc = starts[idx][:, None] + np.arange(PFOR_BLOCK)
            out[sc.ravel()] = flat
    for i in np.flatnonzero(~full):  # ragged tail (at most one block)
        out[starts[i] : starts[i] + blk_n[i]] = _unpack_bits(
            raw[poffs[i] : poffs[i] + ((blk_n[i] * widths[i] + 7) // 8)],
            int(blk_n[i]),
            int(widths[i]),
        )
    sel = np.flatnonzero(n_exc)
    if sel.size:
        # ONE decode for every block's exception streams: each block's
        # exception bytes are the contiguous tail of its payload
        # [poffs+packed, poffs+plen), holding k positions then k highs as
        # varints — gathering the tails back-to-back yields one valid
        # varint stream of 2*sum(k) values. (The per-block loop here was
        # the decode bottleneck: gap-like data puts exceptions in nearly
        # every block, ~3 us of Python per block.)
        packed = (blk_n * widths + 7) // 8
        span = (plen - packed)[sel]
        total = int(span.sum())
        span_starts = np.concatenate(([0], np.cumsum(span)[:-1]))
        gidx = (
            np.repeat((poffs + packed)[sel] - span_starts, span)
            + np.arange(total, dtype=np.int64)
        )
        k = n_exc[sel]
        vals, _ = varint_decode(raw[gidx], 0, count=int(2 * k.sum()))
        kstarts = np.concatenate(([0], np.cumsum(k)[:-1]))
        within = np.arange(int(k.sum()), dtype=np.int64) - np.repeat(kstarts, k)
        vstarts = np.concatenate(([0], np.cumsum(2 * k)[:-1]))
        pos_idx = np.repeat(vstarts, k) + within
        high_idx = pos_idx + np.repeat(k, k)
        gpos = np.repeat(starts[sel], k) + vals[pos_idx].astype(np.int64)
        out[gpos] |= vals[high_idx] << np.repeat(widths[sel], k).astype(np.uint64)
    return out, end


def encode(values: np.ndarray, codec: int) -> bytes:
    if codec == CODEC_VARINT:
        return varint_encode(values)
    if codec == CODEC_PFOR:
        return pfor_encode(values)
    raise ValueError(f"unknown codec {codec}")


def decode(buf, codec: int, offset: int = 0, count: int | None = None):
    if codec == CODEC_VARINT:
        return varint_decode(buf, offset, count)
    if codec == CODEC_PFOR:
        return pfor_decode(buf, offset)
    raise ValueError(f"unknown codec {codec}")


# ---------------------------------------------------------- delta helpers ---

def delta_encode(sorted_ids: np.ndarray, base: int = 0) -> np.ndarray:
    """Ascending docIDs -> gaps (first gap relative to ``base``)."""
    ids = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if ids.size == 0:
        return ids
    gaps = np.empty_like(ids)
    gaps[0] = ids[0] - np.uint64(base)
    np.subtract(ids[1:], ids[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray, base: int = 0) -> np.ndarray:
    if gaps.size == 0:
        return np.asarray(gaps, dtype=np.uint64)
    out = np.cumsum(gaps.astype(np.uint64))
    if base:
        out += np.uint64(base)
    return out
