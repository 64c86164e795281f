"""Posting-list codec: delta-gap + variable-byte compression + block-max
skip metadata. Pure numpy (vectorized — no per-row Python), used inside
``mapInArrow`` on the Spark side and directly by property tests.

Reference parity: the reference has no compression (its "index" is a JSON
tree, ``/root/reference/pageindex/utils.py:354-400``); this module is the
from-scratch replacement mandated by BASELINE.json ``north_star``:
"delta-gap + varbyte-compressed docID/tf lists with block-max skip metadata".

Encoding format (classic little-endian varbyte / LEB128-style):
* each uint64 is split into 7-bit groups, least-significant first;
* all bytes except the last of a value set the continuation bit (0x80);
* docID lists are first delta-gapped: [d0, d1-d0, d2-d1, ...] (strictly
  increasing input required); tf lists are encoded raw.

Block-max metadata (BMW — Ding & Suel, SIGIR 2011):
* fixed block size ``BLOCK_SIZE`` docs;
* per block: last docID (for skip targeting) and the max of the
  length-normalized tf quality ``tf / (tf + k1*(1 - b + b*dl/avgdl))``
  — multiplying by the per-term ``idf * (k1+1)`` (a constant at query time)
  gives an upper bound on any BM25 contribution inside the block.
"""

from __future__ import annotations

import numpy as np

from ..functions.tokenizer import BM25_B, BM25_K1

BLOCK_SIZE = 128
_MAX_VB_BYTES = 10  # 64 bits / 7


def vb_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b""
    # Exact byte count per value via threshold comparisons (no float log).
    nbytes = np.ones(arr.shape, dtype=np.int64)
    for j in range(1, _MAX_VB_BYTES):
        nbytes += (arr >= np.uint64(1) << np.uint64(7 * j)).astype(np.int64)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    for j in range(_MAX_VB_BYTES):
        mask = nbytes > j
        if not mask.any():
            break
        vals = (arr[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[starts[mask] + j] = vals.astype(np.uint8) | cont
    return out.tobytes()


def vb_decode(blob: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array. Each value is built
    Horner-style from its last byte back to its first, all values at once:
    one pass per byte of the longest value, over the values still that
    long (one pass for blobs of 1- and 2-byte values)."""
    b = np.frombuffer(blob, dtype=np.uint8)
    ends = np.flatnonzero(b < 128)
    if len(ends) == len(b):
        return b.astype(np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = b[ends].astype(np.uint64)
    at = ends - 1
    live = np.flatnonzero(at >= starts)
    while len(live):
        vals[live] = (vals[live] << np.uint64(7)) | (b[at[live]] & 0x7F)
        at[live] -= 1
        live = live[at[live] >= starts[live]]
    return vals


def delta_encode(doc_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing docIDs -> gap array (first element kept as-is)."""
    d = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    if d.size == 0:
        return d
    gaps = np.empty_like(d)
    gaps[0] = d[0]
    np.subtract(d[1:], d[:-1], out=gaps[1:])
    return gaps


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.ascontiguousarray(gaps, dtype=np.uint64), dtype=np.uint64)


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """(sorted docIDs, tfs) -> (docid_blob, tf_blob)."""
    return vb_encode(delta_encode(doc_ids)), vb_encode(tfs)


def decode_postings(doc_blob: bytes, tf_blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    return delta_decode(vb_decode(doc_blob)), vb_decode(tf_blob)


def tf_quality(tfs: np.ndarray, doc_lens: np.ndarray, avgdl: float) -> np.ndarray:
    """Length-normalized tf term of BM25 in float64:
    tf / (tf + k1*(1 - b + b*dl/avgdl)). Multiply by idf*(k1+1) for the score."""
    tf = tfs.astype(np.float64)
    dl = doc_lens.astype(np.float64)
    return tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))


def block_max(
    doc_ids: np.ndarray, tfs: np.ndarray, doc_lens: np.ndarray, avgdl: float,
    block_size: int = BLOCK_SIZE,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block (last_doc uint64, max tf-quality float64) skip metadata."""
    n = len(doc_ids)
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.float64)
    q = tf_quality(tfs, doc_lens, avgdl)
    nblocks = (n + block_size - 1) // block_size
    last = np.empty(nblocks, dtype=np.uint64)
    mx = np.empty(nblocks, dtype=np.float64)
    bounds = np.arange(1, nblocks + 1) * block_size
    bounds[-1] = n
    start = 0
    for i, end in enumerate(bounds):
        last[i] = doc_ids[end - 1]
        mx[i] = q[start:end].max()
        start = end
    return last, mx
