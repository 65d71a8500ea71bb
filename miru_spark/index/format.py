"""On-disk posting-list format: blocked, delta-encoded, varint/PFOR-compressed.

A final index row ("chunk") holds one contiguous slice of one term's posting
list (hot terms are split across several chunk rows by the salted merge —
bucket 0..S-1 — so no single row ever exceeds ~target_chunk postings; this is
what keeps the format viable when a hot term like 'import' matches billions of
docs at 10^12-file scale).

Chunk blob layout — a sequence of blocks of up to BLOCK_SIZE postings; each
block is three back-to-back compressed integer streams:

    [gaps][tfs][doc_lens]

* gaps: delta-encoded docIDs; block 0's first gap is the absolute docID,
  block k's first gap is the delta from block k-1's last docID, so a chunk is
  fully self-contained (distributable scoring) while blocks remain
  independently decodable given the previous block's last_docid from metadata.
* tfs: term frequencies; doc_lens: per-doc token counts (Lucene-norm-style —
  duplicated from the docmap so scoring never joins the docmap).
* codec: CODEC_VARINT (v1, self-delimiting given the block's n from metadata)
  or CODEC_PFOR (v2, self-describing blocks).

Per-block metadata (kept as an array<struct> DataFrame column next to the
blob — SURVEY.md A9): byte offsets, n postings, last docID, and IMPACTS —
the Pareto frontier of the block's (tf, doc_len) pairs (max-tf/min-dl
non-dominated set, the design Lucene calls per-block impacts). BM25's
per-posting score is increasing in tf and decreasing in dl for ANY
(idf, avgdl), so the frontier contains the block's argmax posting for any
corpus statistics: the query path computes the exact block-max upper bound
from <= IMPACT_CAP (tf, dl) pairs at query time with CURRENT stats.

Storing impacts instead of a baked max_score makes every chunk row
STATS-FREE: incremental index appends that change n_docs/avgdl/df leave
untouched chunks valid (and byte-identical on disk), which is what makes
the delta-merge finalize possible.

All functions are pure numpy; they run inside Arrow-vectorized UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from miru_spark.functions import bm25
from miru_spark.functions.codecs import (
    CODEC_PFOR,
    CODEC_VARINT,
    delta_decode,
    delta_encode,
    pfor_decode,
    pfor_encode,
    varint_decode,
    varint_encode,
    varint_encode_with_lengths,
)

BLOCK_SIZE = 128
IMPACT_CAP = 16  # max stored (tf, dl) frontier pairs per block


@dataclass
class BlockMeta:
    off_g: int  # absolute byte offset of this block's gaps in the blob
    off_t: int  # ... tfs
    off_d: int  # ... doc_lens
    n: int
    last_docid: int
    i_tf: list  # impact frontier: tf ascending ...
    i_dl: list  # ... with dl ascending (pairwise non-dominated)
    off_p: int = -1  # byte offset into the SEPARATE pos_blob (-1: no positions)

    def as_dict(self) -> dict:
        return {
            "off_g": self.off_g,
            "off_t": self.off_t,
            "off_d": self.off_d,
            "n": self.n,
            "last_docid": self.last_docid,
            "i_tf": self.i_tf,
            "i_dl": self.i_dl,
            "off_p": self.off_p,
        }


# ------------------------------------------------- position-stream helpers --
# Token positions (0-based, within-doc) enable exact phrase search straight
# from the index (Lucene-style positional postings). Per posting j (with
# tf_j occurrences) the stream holds tf_j gap-encoded ascending positions;
# runs are concatenated in posting order and ALWAYS varint-coded (positions
# are an auxiliary stream — independent of the main codec), in a separate
# column so non-phrase queries never read a byte of them.

def pos_gaps_encode(flat_abs: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Per-run delta: run's first value absolute, rest diffs."""
    flat = np.ascontiguousarray(flat_abs, dtype=np.uint64)
    if flat.size == 0:
        return flat
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1])).astype(np.int64)
    gaps = np.empty_like(flat)
    gaps[0] = flat[0]
    np.subtract(flat[1:], flat[:-1], out=gaps[1:])
    gaps[starts] = flat[starts]
    return gaps


def pos_gaps_decode(gaps: np.ndarray, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`pos_gaps_encode` — per-run cumsum, vectorized."""
    g = np.ascontiguousarray(gaps, dtype=np.uint64)
    if g.size == 0:
        return g
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    c = np.cumsum(g)
    base = c[starts] - g[starts]
    return c - np.repeat(base, tfs)


def impact_frontier(tfs: np.ndarray, dls: np.ndarray, cap: int = IMPACT_CAP):
    """Pareto frontier of (tf, dl) pairs: keep points with no other point of
    tf' >= tf and dl' <= dl. Returned sorted ascending in BOTH tf and dl.

    If the frontier exceeds ``cap``, consecutive runs are merged into the
    dominating synthetic point (max tf of run, min dl of run) — still a safe
    (>=) upper-bound set, just looser."""
    if np.asarray(tfs).size == 0:
        return [], []
    order = np.lexsort((-tfs.astype(np.int64), dls.astype(np.int64)))
    s_tf = np.asarray(tfs, dtype=np.int64)[order]
    keep = np.empty(s_tf.size, dtype=bool)
    cm = np.maximum.accumulate(s_tf)
    keep[0] = True
    keep[1:] = s_tf[1:] > cm[:-1]
    f_tf = s_tf[keep]
    f_dl = np.asarray(dls, dtype=np.int64)[order][keep]
    return _cap_frontier(f_tf, f_dl, cap)


def _cap_frontier(f_tf: np.ndarray, f_dl: np.ndarray, cap: int):
    if f_tf.size > cap:
        cuts = np.linspace(0, f_tf.size, cap + 1).astype(np.int64)
        # runs are ascending in tf and dl: run max-tf = last, min-dl = first
        f_tf = f_tf[cuts[1:] - 1]
        f_dl = f_dl[cuts[:-1]]
    return f_tf.tolist(), f_dl.tolist()


def _block_frontiers(
    tfs: np.ndarray,
    dls: np.ndarray,
    block_starts: np.ndarray,
    block_ends: np.ndarray,
    cap: int = IMPACT_CAP,
) -> list[tuple[list, list]]:
    """Per-block :func:`impact_frontier`, vectorized across ALL blocks: one
    global lexsort + one running-max pass (block-offset composite keys reset
    the cummax at block boundaries), instead of a numpy call per 128-posting
    block — this runs inside every merge reducer."""
    nb = block_starts.size
    blk = np.repeat(np.arange(nb, dtype=np.int64), block_ends - block_starts)
    tfmax = int(tfs.max()) if tfs.size else 0
    dlmax = int(dls.max()) if dls.size else 0
    if nb * (tfmax + 1) * (dlmax + 1) >= (1 << 62):  # key overflow: rare,
        return [  # fall back to per-block calls
            (impact_frontier(tfs[s:e], dls[s:e], cap))
            for s, e in zip(block_starts, block_ends)
        ]
    # single fused-key argsort for (blk asc, dl asc, tf desc) — one radix-ish
    # pass instead of lexsort's three
    composite = (blk * (dlmax + 1) + dls) * (tfmax + 1) + (tfmax - tfs)
    order = np.argsort(composite, kind="stable")
    s_tf, s_dl, s_blk = tfs[order], dls[order], blk[order]
    key = s_blk * (tfmax + 1) + s_tf
    cm = np.maximum.accumulate(key)
    keep = np.empty(key.size, dtype=bool)
    keep[0] = True
    keep[1:] = key[1:] > cm[:-1]
    f_tf, f_dl, f_blk = s_tf[keep], s_dl[keep], s_blk[keep]
    offs = np.concatenate(([0], np.cumsum(np.bincount(f_blk, minlength=nb))))
    return [
        _cap_frontier(f_tf[offs[i] : offs[i + 1]], f_dl[offs[i] : offs[i + 1]], cap)
        for i in range(nb)
    ]


def impact_bound(i_tf, i_dl, idf: float, avgdl: float) -> float:
    """Exact (or capped-safe) block-max BM25 upper bound from stored impacts
    under CURRENT corpus stats. Tiny lists — plain Python beats numpy here."""
    k1, b = bm25.K1, bm25.B
    best = 0.0
    for tf, dl in zip(i_tf, i_dl):
        s = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        if s > best:
            best = s
    return idf * best


def pack_chunk(
    docids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    codec: int = CODEC_VARINT,
    positions: np.ndarray | None = None,
) -> tuple[bytes, list[dict], tuple[list, list], bytes | None]:
    """Ascending absolute docIDs (+tf, +doc_len[, flat positions]) ->
    (blob, block metadata, chunk-level impact frontier, pos_blob|None).

    Blob = three whole-chunk streams [gaps][tfs][doc_lens]; per-block byte
    offsets into each stream are recorded in the metadata, so single blocks
    decode independently while the encode itself is ONE vectorized pass per
    stream (no per-block Python loop — this runs in the merge reducers over
    every posting of the corpus). A block's first gap is the delta from the
    previous block's last docID, which is just the plain np.diff value, so
    blocked and unblocked delta streams are bit-identical.

    Metadata carries per-block (tf, dl) impact frontiers instead of baked
    scores — see the module docstring — so NO corpus statistics enter the
    chunk representation.
    """
    assert docids.size == tfs.size == dls.size
    nvals = docids.size
    if nvals == 0:
        return b"", [], ([], []), (b"" if positions is not None else None)
    gaps = delta_encode(np.ascontiguousarray(docids, dtype=np.uint64))
    tfs_u = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls_u = np.ascontiguousarray(dls, dtype=np.uint64)
    block_starts = np.arange(0, nvals, BLOCK_SIZE, dtype=np.int64)
    block_ends = np.minimum(block_starts + BLOCK_SIZE, nvals)

    if codec == CODEC_VARINT:
        g_buf, g_len = varint_encode_with_lengths(gaps)
        t_buf, t_len = varint_encode_with_lengths(tfs_u)
        d_buf, d_len = varint_encode_with_lengths(dls_u)
        g_off = np.concatenate(([0], np.cumsum(g_len)))[block_starts]
        t_off = np.concatenate(([0], np.cumsum(t_len)))[block_starts]
        d_off = np.concatenate(([0], np.cumsum(d_len)))[block_starts]
    else:  # PFOR: self-describing per-block payloads appended per region
        g_parts, t_parts, d_parts = [], [], []
        g_off_l, t_off_l, d_off_l = [], [], []
        go = to = do = 0
        for s, e in zip(block_starts, block_ends):
            g_off_l.append(go); t_off_l.append(to); d_off_l.append(do)
            g = pfor_encode(gaps[s:e]); t = pfor_encode(tfs_u[s:e]); d = pfor_encode(dls_u[s:e])
            g_parts.append(g); t_parts.append(t); d_parts.append(d)
            go += len(g); to += len(t); do += len(d)
        g_buf = b"".join(g_parts); t_buf = b"".join(t_parts); d_buf = b"".join(d_parts)
        g_off, t_off, d_off = g_off_l, t_off_l, d_off_l

    pos_blob = None
    p_off = None
    if positions is not None:
        occ_ends = np.cumsum(tfs_u.astype(np.int64))
        assert positions.size == int(occ_ends[-1]) if occ_ends.size else positions.size == 0
        p_gaps = pos_gaps_encode(positions, tfs_u.astype(np.int64))
        pos_blob, p_len = varint_encode_with_lengths(p_gaps)
        p_cum = np.concatenate(([0], np.cumsum(p_len)))
        occ_at_block = np.concatenate(([0], occ_ends))[block_starts]
        p_off = p_cum[occ_at_block]

    base_t = len(g_buf)
    base_d = base_t + len(t_buf)
    last = np.ascontiguousarray(docids, dtype=np.int64)[block_ends - 1]
    tfs_i = tfs_u.astype(np.int64)
    dls_i = dls_u.astype(np.int64)
    frontiers = _block_frontiers(tfs_i, dls_i, block_starts, block_ends)
    metas = []
    for i in range(block_starts.size):
        i_tf, i_dl = frontiers[i]
        metas.append(
            BlockMeta(
                int(g_off[i]),
                base_t + int(t_off[i]),
                base_d + int(d_off[i]),
                int(block_ends[i] - block_starts[i]),
                int(last[i]),
                i_tf,
                i_dl,
                int(p_off[i]) if p_off is not None else -1,
            ).as_dict()
        )
    # chunk-level frontier = frontier of the union of block frontiers
    c_tf, c_dl = impact_frontier(
        np.array([t for m in metas for t in m["i_tf"]], dtype=np.int64),
        np.array([d for m in metas for d in m["i_dl"]], dtype=np.int64),
    )
    return g_buf + t_buf + d_buf, metas, (c_tf, c_dl), pos_blob


def unpack_positions(pos_blob, tfs: np.ndarray, offset: int = 0) -> np.ndarray:
    """Decode a chunk's (or block's) position stream -> flat ABSOLUTE
    positions; ``tfs`` are the covered postings' counts in order."""
    total = int(np.asarray(tfs, dtype=np.int64).sum())
    gaps, _ = varint_decode(pos_blob, offset, count=total)
    return pos_gaps_decode(gaps, np.asarray(tfs, dtype=np.int64))


def _dec(blob, offset: int, n: int, codec: int):
    if codec == CODEC_VARINT:
        return varint_decode(blob, offset, count=n)
    return pfor_decode(blob, offset)


def unpack_block(blob, meta: dict, prev_last_docid: int, codec: int):
    """Decode one block -> (docids, tfs, dls) as uint64 arrays."""
    n = int(meta["n"])
    gaps, _ = _dec(blob, int(meta["off_g"]), n, codec)
    tfs, _ = _dec(blob, int(meta["off_t"]), n, codec)
    dls, _ = _dec(blob, int(meta["off_d"]), n, codec)
    docids = delta_decode(gaps, base=prev_last_docid)
    return docids, tfs, dls


def best_block_scores(
    fr_off: np.ndarray, fr_tf: np.ndarray, fr_dl: np.ndarray, avgdl: float
) -> np.ndarray:
    """Per-block max UNSCALED BM25 score (idf excluded — multiply by the
    query term's idf for the exact block-max bound) from flattened impact
    frontiers: one vectorized pass over every (tf, dl) pair of every block
    + a segmented max. Replaces the per-block Python loop the driver paid
    once per block per query."""
    nb = fr_off.size - 1
    if nb <= 0:
        return np.empty(0, dtype=np.float64)
    k1, b = bm25.K1, bm25.B
    tf = fr_tf.astype(np.float64)
    dl = fr_dl.astype(np.float64)
    s = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    # frontiers are non-empty by construction; reduceat needs that
    return np.maximum.reduceat(s, fr_off[:-1].astype(np.int64))


def unpack_block_bm(blob, bm: dict, j: int, prev_last_docid: int, codec: int):
    """Decode block ``j`` of a chunk described by numpy block metadata."""
    n = int(bm["n"][j])
    gaps, _ = _dec(blob, int(bm["off_g"][j]), n, codec)
    tfs, _ = _dec(blob, int(bm["off_t"][j]), n, codec)
    dls, _ = _dec(blob, int(bm["off_d"][j]), n, codec)
    return delta_decode(gaps, base=prev_last_docid), tfs, dls


def unpack_chunk_bm(blob, bm: dict, codec: int):
    """Decode a whole chunk from numpy block metadata (driver fast path —
    no per-block dict materialization; varint is one decode per stream)."""
    return unpack_chunk_np(
        blob, bm["n"], bm["off_g"], bm["off_t"], bm["off_d"], bm["last"], codec
    )


def unpack_chunk_np(blob, ns, off_g, off_t, off_d, lasts, codec: int):
    """:func:`unpack_chunk` taking the block metadata as FLAT numpy arrays
    instead of a list of dicts — the zero-copy form the distributed scorer
    feeds straight from Arrow nested-column buffers (no ``to_pylist``
    materialization of the metadata structs; search.py ``score_chunks``)."""
    if ns.size == 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e.copy(), e.copy()
    total = int(ns.sum())
    if codec == CODEC_VARINT:
        gaps, _ = varint_decode(blob, int(off_g[0]), count=total)
        tfs, _ = varint_decode(blob, int(off_t[0]), count=total)
        dls, _ = varint_decode(blob, int(off_d[0]), count=total)
        return delta_decode(gaps), tfs, dls
    ids_l, tf_l, dl_l = [], [], []
    prev = 0
    for j in range(ns.size):
        n = int(ns[j])
        gaps, _ = _dec(blob, int(off_g[j]), n, codec)
        tfs, _ = _dec(blob, int(off_t[j]), n, codec)
        dls, _ = _dec(blob, int(off_d[j]), n, codec)
        ids_l.append(delta_decode(gaps, base=prev))
        tf_l.append(tfs)
        dl_l.append(dls)
        prev = int(lasts[j])
    return np.concatenate(ids_l), np.concatenate(tf_l), np.concatenate(dl_l)


def unpack_chunk(blob, metas: list[dict], codec: int):
    """Decode a whole chunk -> (docids, tfs, dls); for varint this is one
    vectorized decode per stream."""
    if not metas:
        e = np.empty(0, dtype=np.uint64)
        return e, e.copy(), e.copy()
    total = sum(int(m["n"]) for m in metas)
    if codec == CODEC_VARINT:
        gaps, _ = varint_decode(blob, int(metas[0]["off_g"]), count=total)
        tfs, _ = varint_decode(blob, int(metas[0]["off_t"]), count=total)
        dls, _ = varint_decode(blob, int(metas[0]["off_d"]), count=total)
        return delta_decode(gaps), tfs, dls
    ids_l, tf_l, dl_l = [], [], []
    prev = 0
    for m in metas:
        ids, tfs, dls = unpack_block(blob, m, prev, codec)
        ids_l.append(ids)
        tf_l.append(tfs)
        dl_l.append(dls)
        prev = int(m["last_docid"])
    return np.concatenate(ids_l), np.concatenate(tf_l), np.concatenate(dl_l)


# ------------------------------------------------- segment (pre-merge) form --

def seg_pack(docids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    """Per-partition segment payload: three plain varint streams (always
    varint — segments are transient; PFOR pays off only on the final index)."""
    gaps = delta_encode(np.ascontiguousarray(docids, dtype=np.uint64))
    return (
        varint_encode(gaps)
        + varint_encode(np.ascontiguousarray(tfs, dtype=np.uint64))
        + varint_encode(np.ascontiguousarray(dls, dtype=np.uint64))
    )


def seg_unpack(blob, n: int):
    gaps, used = varint_decode(blob, 0, count=n)
    tfs, used2 = varint_decode(blob, used, count=n)
    dls, _ = varint_decode(blob, used + used2, count=n)
    return delta_decode(gaps), tfs, dls


CODECS = {"varint": CODEC_VARINT, "pfor": CODEC_PFOR}
