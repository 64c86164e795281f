"""Query engine: BM25 top-k per docID-grid cell, scored one term at a time.

Distribution model (north_star: "mapPartitions over co-partitioned posting
segments plus a global top-k heap merge"):

1. **Prune + slice (map, zero decode):** scan only the index buckets holding
   the query terms (directory/partition pruning), then slice each run into
   docID-grid *cells* by pure byte slicing — per-block metadata gives byte
   offsets, and every block lies entirely inside one build partition, so
   block-granular slicing at grid boundaries is exact.
2. **Per-cell scoring (no shuffle):** each scoring task owns a contiguous
   range of cells; it reads ALL query terms' runs that overlap the range
   plus the range's doc-length norms itself (pruned parquet reads), keeps
   the slices whose cell lies in its range, and scores each query per
   cell with a local top-k (``bmw_score_cell``; it decodes every block of
   the query's terms, see its docstring). The local path runs the same
   reader over every cell on the driver (``plans/query._score_cells``).
3. **Global merge:** per-query merge of per-cell top-k (tiny: cells x
   queries x k rows) with the deterministic tie-break (score desc, doc_id
   asc == url asc by docID construction).

Norms: BM25 needs each candidate's doc length. The build stage materializes
a ``norms`` table — one row per build partition, doc lengths varbyte-packed
for the partition's contiguous docID range — so a scoring task looks up
``dl = norms[doc - lo]`` locally; no per-doc join ever happens.

Scores are exact float64 BM25 (k1=1.2, b=0.75); per-doc accumulation happens
in sorted-unique-term order exactly like the oracle, so even tie-bit behavior
matches (pytest gate: rank-identical, |Δscore| < 1e-9).

Reference parity: replaces the LLM tree-search retrieval
(``/root/reference/README.md:168-208``; helpers
``/root/reference/pageindex/utils.py:174-219``) per the north rule.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from ..functions.tokenizer import BM25_B, BM25_K1, tokenize
from .codec import vb_decode
from .runfmt import Run, concat_runs, decode_run

# Block-decode instrumentation: every cell scorer adds the blocks it decodes
# (one integer add per decoded run, noise beside the decode). Read by
# perfbench/kernels.py as the share of the query's blocks BMW decodes.
DECODE_STATS = {"blocks": 0}


def idf_value(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


# ---------------------------------------------------------------------------
# Run slicing (zero decode)
# ---------------------------------------------------------------------------


def _first_doc_of_block(run: Run, i: int) -> int:
    """Decode only the first varbyte value of block i (absolute docID)."""
    off = int(run.bm_doc_off[i])
    val, shift = 0, 0
    while True:
        byte = run.doc_blob[off]
        val |= (byte & 0x7F) << shift
        if byte < 0x80:
            return val
        shift += 7
        off += 1


def slice_run_to_cells(run: Run, grid: np.ndarray) -> list[tuple[int, Run]]:
    """Split a run into (cell, sub-run) pieces by byte slicing whole blocks.

    ``grid`` is the ascending array of cell-start docIDs (grid[0] == 0).
    Cell of a block = cell of its last docID; exact because blocks never span
    build-partition (hence grid) boundaries.
    """
    cells = np.searchsorted(grid, run.bm_last, side="right") - 1
    out: list[tuple[int, Run]] = []
    start = 0
    n = run.n_blocks
    do, to = run.bm_doc_off, run.bm_tf_off
    while start < n:
        end = start
        c = cells[start]
        while end < n and cells[end] == c:
            end += 1
        nd = run.bm_ndocs[start:end]
        sub = Run(
            first_doc=0,  # patched below
            last_doc=int(run.bm_last[end - 1]),
            n_docs=int(nd.sum()),
            doc_blob=run.doc_blob[do[start] : do[end]],
            tf_blob=run.tf_blob[to[start] : to[end]],
            bm_last=run.bm_last[start:end].copy(),
            bm_maxq=run.bm_maxq[start:end].copy(),
            bm_doc_off=(do[start : end + 1] - do[start]).astype(np.int32),
            bm_tf_off=(to[start : end + 1] - to[start]).astype(np.int32),
            bm_ndocs=nd.copy(),
        )
        sub.first_doc = _first_doc_of_block(sub, 0)
        out.append((int(c), sub))
        start = end
    return out


# ---------------------------------------------------------------------------
# Cell scoring — norms lookup
# ---------------------------------------------------------------------------


class CellNorms:
    """Doc lengths for a contiguous docID range [lo, hi)."""

    def __init__(self, lo: int, doc_lens: np.ndarray):
        self.lo = lo
        self.dl = np.ascontiguousarray(doc_lens, dtype=np.float64)

    def lens(self, docs: np.ndarray) -> np.ndarray:
        return self.dl[docs.astype(np.int64) - self.lo]


def quality(
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> np.ndarray:
    """tf saturation term of BM25, in (0, 1]. ``k1``/``b`` default to the
    index-wide constants; query-time overrides (Lucene per-query similarity
    config) flow through every kernel — block-max bounds stay valid via the
    parameter inflation factor derived in plans/query.py
    (_param_bound_scale) plus the unconditional score <= weight cap below
    (quality can never exceed 1)."""
    tf = tfs.astype(np.float64)
    return tf / (tf + k1 * (1.0 - b + b * dls / avgdl))


# ---------------------------------------------------------------------------
# Exhaustive (vectorized) cell scorers — dense OR, AND, minimum_should_match
# ---------------------------------------------------------------------------


def _in_cell(ids: np.ndarray, lo: int, width: int) -> np.ndarray:
    """Cell-local positions of the sorted docIDs ``ids`` inside [lo, lo+width)."""
    return (ids - lo)[(ids >= lo) & (ids < lo + width)]


def _exhaustive(
    term_runs: dict[str, Run],
    norms: CellNorms,
    query_terms: list[tuple[str, float]],
    avgdl: float,
    deleted: np.ndarray | None,
    allowed: np.ndarray | None,
    k1: float,
    b: float,
    oracle_rounding: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Per cell position: the summed BM25 score over the query's terms,
    added from 0.0 in the given (sorted) term order, and how many terms
    matched. Each posting adds ``idf*(k1+1) * quality``, or with
    ``oracle_rounding`` the oracle's ``weight * tf / (tf + k1 * (1.0 - b +
    b * dl / avgdl))``, which rounds differently. Masked docs
    (``deleted``, or outside ``allowed``) get a match count of 0, so no
    kernel ranks them; survivors' scores are untouched."""
    width = len(norms.dl)
    acc = np.zeros(width, dtype=np.float64)
    cnt = np.zeros(width, dtype=np.int32)
    for term, idf in query_terms:
        run = term_runs.get(term)
        if run is None:
            continue
        docs, tfs = decode_run(run)
        DECODE_STATS["blocks"] += run.n_blocks
        local = docs.astype(np.int64) - norms.lo
        dl = norms.dl[local]
        if oracle_rounding:
            tf = tfs.astype(np.float64)
            acc[local] += idf * (k1 + 1.0) * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))
        else:
            acc[local] += idf * (k1 + 1.0) * quality(tfs, dl, avgdl, k1, b)
        cnt[local] += 1
    if deleted is not None and len(deleted):
        cnt[_in_cell(deleted, norms.lo, width)] = 0
    if allowed is not None:
        inc = np.zeros(width, dtype=bool)
        inc[_in_cell(allowed, norms.lo, width)] = True
        cnt[~inc] = 0
    return acc, cnt


def dense_score_cell(
    term_runs: dict[str, Run],
    norms: CellNorms,
    query_terms: list[tuple[str, float]],  # (term, idf) SORTED by term
    avgdl: float,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> tuple[np.ndarray, np.ndarray]:
    """Exhaustive vectorized scoring of every matching doc in the cell for
    one query. Returns (doc_ids int64, scores float64) for matched docs.
    Accumulates per-term contributions in sorted term order (oracle parity).
    ``deleted`` (sorted int64 docIDs) masks tombstoned docs BEFORE any
    ranking sees them — survivors' scores are untouched (BM25 stats stay
    at the committed index's values until an expunge re-tightens them;
    Lucene semantics). ``allowed`` (sorted int64 docIDs) is the INCLUSION
    mask of filtered search (Lucene filter context): when given, only
    docs in it may rank — same pre-heap contract, same stale-stats score
    identity for the docs that pass.
    """
    acc, cnt = _exhaustive(
        term_runs, norms, query_terms, avgdl, deleted, allowed, k1, b
    )
    idx = np.flatnonzero(cnt)
    return idx + norms.lo, acc[idx]


def conjunctive_score_cell(
    term_runs: dict[str, Run],
    norms: CellNorms,
    query_terms: list[tuple[str, float]],  # (term, idf) SORTED by term
    avgdl: float,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> tuple[np.ndarray, np.ndarray]:
    """Docs containing EVERY query term (postings intersection within the
    cell — exact, because cells partition docID space so a doc's postings
    for all terms live in the same cell), with their full BM25 scores.
    Any term absent from the cell -> empty, before anything decodes."""
    if not query_terms or any(t not in term_runs for t, _ in query_terms):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    acc, cnt = _exhaustive(
        term_runs, norms, query_terms, avgdl, deleted, allowed, k1, b
    )
    idx = np.flatnonzero(cnt == len(query_terms))
    return idx + norms.lo, acc[idx]


def msm_score_cell(
    term_runs: dict[str, Run],
    norms: CellNorms,
    query_terms: list[tuple[str, float]],  # (term, idf) SORTED by term
    avgdl: float,
    min_match: int,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> tuple[np.ndarray, np.ndarray]:
    """minimum_should_match retrieval: docs containing AT LEAST ``min_match``
    of the query's terms (the Lucene ``minimumShouldMatch`` semantics — the
    middle ground between OR and AND), with their full BM25 scores over the
    matched terms. Exact per cell because cells partition docID space, so a
    doc's postings for every term live in the same cell; a term with no
    postings in this cell simply contributes no matches here (unlike the
    conjunctive scorer, which may return empty for the whole cell).
    ``min_match=1`` degenerates to dense OR; ``min_match=len(query_terms)``
    to the AND intersection. Callers clamp min_match to the query's total
    term count BEFORE dropping index-absent terms (plans/query.py), matching
    the SQL twin's ``least(m, nt)``."""
    acc, cnt = _exhaustive(
        term_runs, norms, query_terms, avgdl, deleted, allowed, k1, b
    )
    idx = np.flatnonzero(cnt >= min_match)
    return idx + norms.lo, acc[idx]


# ---------------------------------------------------------------------------
# Top-k (the BMW entry point)
# ---------------------------------------------------------------------------


def _top_k(d: np.ndarray, s: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """The k best (doc, score) pairs by (score desc, doc asc), unordered."""
    if len(s) <= k:
        return d, s
    v = np.partition(s, len(s) - k)[len(s) - k]  # the k-th best score
    above = np.flatnonzero(s > v)
    tied = np.flatnonzero(s == v)
    tied = tied[np.argsort(d[tied], kind="stable")[: k - len(above)]]
    keep = np.concatenate((above, tied))
    return d[keep], s[keep]


def bmw_score_cell(
    term_runs: dict[str, Run],
    norms: CellNorms,
    query_terms: list[tuple[str, float]],  # (term, idf) SORTED by term
    avgdl: float,
    k: int,
    deleted: np.ndarray | None = None,
    bound_scale: float = 1.0,
    allowed: np.ndarray | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    after: tuple[int, int] | None = None,
) -> list[tuple[int, float]]:
    """Top-k for one query within one cell. Returns [(doc_id, score)] of at
    most k docs, best first by (score desc, doc_id asc).

    One vectorized pass: every query term's run decodes whole, and each
    doc's score is summed from 0.0, one term at a time in sorted term
    order, with the oracle's per-posting ``weight * tf / (tf + k1 * (1.0 -
    b + b * dl / avgdl))`` (``weight = idf * (k1 + 1)``), so scores are
    bit-identical to the oracle's. Nothing is skipped: on the indexes
    measured, a block-max skipping kernel cost more per posting than this
    pass. ``bound_scale`` is the factor (expunge avgdl drift, k1/b
    overrides; plans/query.py:_param_bound_scale) by which a skipping
    kernel must inflate the build-time block bounds, each capped at
    ``weight``; this pass bounds nothing, so it does not read it.

    Admission masks, applied before the top-k: ``deleted`` (tombstoned
    docIDs) and docs outside ``allowed`` (filtered search) are dropped;
    with ``after`` = (cursor_score6, cursor_doc_id), the search_after
    cursor, only docs STRICTLY past it in the global (floor(score*1e6)
    desc, doc_id asc) order are admitted.
    """
    if k <= 0:
        return []
    acc, cnt = _exhaustive(
        term_runs, norms, query_terms, avgdl, deleted, allowed, k1, b,
        oracle_rounding=True,
    )
    idx = np.flatnonzero(cnt)
    d, s = idx + norms.lo, acc[idx]
    if after is not None:
        s6 = np.floor(s * 1_000_000).astype(np.int64)
        keep = (s6 < after[0]) | ((s6 == after[0]) & (d > after[1]))
        d, s = d[keep], s[keep]
    return _ranked(*_top_k(d, s, k))


def _ranked(d: np.ndarray, s: np.ndarray) -> list[tuple[int, float]]:
    order = np.lexsort((d, -s))
    return list(zip(d[order].tolist(), s[order].tolist()))


def assemble_cell_runs(pdf: pd.DataFrame) -> dict[str, Run]:
    """Group sliced sub-runs by term and concat (zero decode) into one Run
    per term; sub-runs within a cell are docID-disjoint by construction."""
    from .compaction import run_from_row

    out: dict[str, Run] = {}
    for term, grp in pdf.groupby("term", sort=False):
        runs = sorted(
            (run_from_row(r) for _, r in grp.iterrows()), key=lambda r: r.first_doc
        )
        out[str(term)] = concat_runs(runs)
    return out


def decode_norms_row(row) -> CellNorms:
    """Rehydrate a norms table row (used by tests and ad-hoc tooling)."""
    return CellNorms(
        int(row["first_doc"]), vb_decode(bytes(row["dl_blob"])).astype(np.float64)
    )
