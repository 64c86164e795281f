"""Query engine: BM25 top-k via document-at-a-time Block-Max WAND.

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
   the slices whose cell lies in its range, and runs BMW per query per cell
   with a local top-k heap, decoding only blocks whose block-max upper
   bound can beat the heap threshold. The local path runs the same reader
   over every cell on the driver (``plans/query._score_cells``).
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

import heapq
import math

import numpy as np
import pandas as pd

from ..functions.tokenizer import BM25_B, BM25_K1, tokenize
from .codec import vb_decode
from .runfmt import Run, concat_runs, decode_block, decode_run

# Safety margin for float block-max pruning: never skip a block whose upper
# bound is within EPS of the heap threshold (keeps exact ties alive; the
# pytest tolerance is 1e-9, so 1e-10 of slack is free).
EPS = 1e-10

# Block-decode instrumentation: one integer add per lazy block decode (the
# decode itself is O(block) numpy work, so the counter is noise). Read by
# perfbench/kernels.py to measure BMW pruning effectiveness.
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
# Exhaustive (vectorized) cell scorer — verification + dense fallback
# ---------------------------------------------------------------------------


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
    width = len(norms.dl)
    acc = np.zeros(width, dtype=np.float64)
    touched = np.zeros(width, dtype=bool)
    for term, idf in query_terms:
        run = term_runs.get(term)
        if run is None:
            continue
        docs, tfs = decode_run(run)
        local = docs.astype(np.int64) - norms.lo
        contrib = idf * (k1 + 1.0) * quality(tfs, norms.dl[local], avgdl, k1, b)
        acc[local] += contrib
        touched[local] = True
    if deleted is not None and len(deleted):
        touched[(deleted - norms.lo)[(deleted >= norms.lo) & (deleted < norms.lo + width)]] = False
    if allowed is not None:
        inc = np.zeros(width, dtype=bool)
        inc[(allowed - norms.lo)[(allowed >= norms.lo) & (allowed < norms.lo + width)]] = True
        touched &= inc
    idx = np.flatnonzero(touched)
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
    Any term absent from the cell -> empty. Vectorized per-term decode +
    a match-count mask; for very long posting lists a galloping cursor
    intersection (rarest term drives) is the next optimization — same
    decode machinery, fewer touched blocks."""
    width = len(norms.dl)
    acc = np.zeros(width, dtype=np.float64)
    cnt = np.zeros(width, dtype=np.int32)
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if not query_terms:
        return empty
    for term, idf in query_terms:
        run = term_runs.get(term)
        if run is None:
            return empty
        docs, tfs = decode_run(run)
        local = docs.astype(np.int64) - norms.lo
        acc[local] += idf * (k1 + 1.0) * quality(tfs, norms.dl[local], avgdl, k1, b)
        cnt[local] += 1
    if deleted is not None and len(deleted):
        cnt[(deleted - norms.lo)[(deleted >= norms.lo) & (deleted < norms.lo + width)]] = 0
    if allowed is not None:
        inc = np.zeros(width, dtype=bool)
        inc[(allowed - norms.lo)[(allowed >= norms.lo) & (allowed < norms.lo + width)]] = True
        cnt[~inc] = 0
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
    width = len(norms.dl)
    acc = np.zeros(width, dtype=np.float64)
    cnt = np.zeros(width, dtype=np.int32)
    for term, idf in query_terms:
        run = term_runs.get(term)
        if run is None:
            continue
        docs, tfs = decode_run(run)
        local = docs.astype(np.int64) - norms.lo
        acc[local] += idf * (k1 + 1.0) * quality(tfs, norms.dl[local], avgdl, k1, b)
        cnt[local] += 1
    if deleted is not None and len(deleted):
        cnt[(deleted - norms.lo)[(deleted >= norms.lo) & (deleted < norms.lo + width)]] = 0
    if allowed is not None:
        inc = np.zeros(width, dtype=bool)
        inc[(allowed - norms.lo)[(allowed >= norms.lo) & (allowed < norms.lo + width)]] = True
        cnt[~inc] = 0
    idx = np.flatnonzero(cnt >= min_match)
    return idx + norms.lo, acc[idx]


# ---------------------------------------------------------------------------
# Block-Max WAND (doc-at-a-time)
# ---------------------------------------------------------------------------


class TermCursor:
    """Lazy block-decoding cursor over one term's postings within a cell."""

    __slots__ = (
        "term", "run", "idf", "weight", "ub_weight", "block", "pos", "docs",
        "tfs", "max_ub", "exhausted", "k1", "b",
    )

    def __init__(
        self,
        term: str,
        run: Run,
        idf: float,
        bound_scale: float = 1.0,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ):
        self.term = term
        self.run = run
        self.idf = idf
        self.k1 = k1
        self.b = b
        self.weight = idf * (k1 + 1.0)
        # Upper bounds use the recorded bm_maxq inflated by bound_scale:
        # (a) max(1, live_avgdl / bound_avgdl) — an expunge that GROWS avgdl
        # makes true qualities exceed the build-time bm_maxq by at most
        # that factor (plans/expunge.py docstring carries the proof) — and
        # (b) the query-time (k1, b) parameter factor from
        # plans/query.py:_param_bound_scale when the caller overrides the
        # index constants (may be math.inf for b=0; the cap below absorbs
        # it). Scoring itself always uses the uninflated weight.
        # Every bound is additionally capped at `weight`: quality <= 1
        # pointwise, so idf*(k1+1)*quality <= weight unconditionally — the
        # cap is always a valid upper bound and strictly TIGHTENS pruning
        # whenever bound_scale * bm_maxq exceeds 1.
        self.ub_weight = self.weight * bound_scale
        self.max_ub = min(self.ub_weight * float(run.bm_maxq.max()), self.weight)
        self.exhausted = False
        self.block = -1
        self.docs: np.ndarray | None = None
        self.tfs: np.ndarray | None = None
        self.pos = 0
        self._load(0)

    def _load(self, b: int) -> None:
        if b >= self.run.n_blocks:
            self.exhausted = True
            return
        self.block = b
        self.docs, self.tfs = decode_block(self.run, b)
        DECODE_STATS["blocks"] += 1
        self.pos = 0

    @property
    def cur_doc(self) -> int:
        return int(self.docs[self.pos])

    def block_last(self) -> int:
        return int(self.run.bm_last[self.block])

    def block_ub_at(self, target: int) -> float:
        """Upper bound of the block that would contain target (shallow —
        metadata only, no decode of that block)."""
        blk = self.block
        if int(self.run.bm_last[blk]) < target:
            blk = int(np.searchsorted(self.run.bm_last, target, side="left"))
            if blk >= self.run.n_blocks:
                return 0.0
        return min(self.ub_weight * float(self.run.bm_maxq[blk]), self.weight)

    def block_boundary_at(self, target: int) -> int:
        """last_doc of the block containing target (for skip targeting)."""
        b = self.block
        if int(self.run.bm_last[b]) < target:
            b = int(np.searchsorted(self.run.bm_last, target, side="left"))
            if b >= self.run.n_blocks:
                return 1 << 62
        return int(self.run.bm_last[b])

    def advance_to(self, target: int) -> None:
        """Move to first doc >= target, skipping whole blocks by metadata."""
        if self.exhausted:
            return
        if self.block_last() < target:
            nb = int(np.searchsorted(self.run.bm_last, target, side="left"))
            if nb >= self.run.n_blocks:
                self.exhausted = True
                return
            self._load(nb)
        p = int(np.searchsorted(self.docs, target, side="left"))
        if p >= len(self.docs):
            self._load(self.block + 1)
        else:
            self.pos = p

    def next(self) -> None:
        self.pos += 1
        if self.pos >= len(self.docs):
            self._load(self.block + 1)

    def score_at(self, norms: CellNorms, avgdl: float) -> float:
        tf = float(self.tfs[self.pos])
        dl = float(norms.dl[self.cur_doc - norms.lo])
        return self.weight * tf / (
            tf + self.k1 * (1.0 - self.b + self.b * dl / avgdl)
        )


class TopK:
    """Min-heap of (score, -doc_id): keeps k best by (score desc, doc asc)."""

    def __init__(self, k: int):
        self.k = k
        self.heap: list[tuple[float, int]] = []

    def threshold(self) -> float:
        return self.heap[0][0] if len(self.heap) >= self.k else -math.inf

    def offer(self, score: float, doc: int) -> None:
        item = (score, -doc)
        if len(self.heap) < self.k:
            heapq.heappush(self.heap, item)
        elif item > self.heap[0]:
            heapq.heapreplace(self.heap, item)

    def items(self) -> list[tuple[int, float]]:
        return [(-nd, s) for s, nd in self.heap]


def bmw_score_cell(
    term_runs: dict[str, Run],
    norms: CellNorms,
    query_terms: list[tuple[str, float]],  # (term, idf) sorted by term
    avgdl: float,
    k: int,
    prior_threshold: float = -math.inf,
    deleted: frozenset[int] | set[int] | None = None,
    bound_scale: float = 1.0,
    allowed: frozenset[int] | set[int] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    after: tuple[int, int] | None = None,
) -> list[tuple[int, float]]:
    """Block-Max WAND top-k for one query within one cell.

    ``prior_threshold`` lets the driver thread a global threshold through
    sequential cell batches (tightens pruning; correctness unaffected).
    Returns [(doc_id, score)] of at most k candidates.

    ``after`` = (cursor_score6, cursor_doc_id) is the search_after cursor
    (plans/query.py): only docs STRICTLY past the cursor in the global
    (floor(score*1e6) desc, doc_id asc) order may enter the heap — admit
    iff s6 < cursor_s6, or s6 == cursor_s6 and doc_id > cursor_doc_id.
    The admission test runs at evaluation time (a too-high-scoring doc is
    scored then discarded, never offered), so the heap threshold reflects
    admissible docs only and pruning stays exact: any admissible doc that
    belongs in the top-k has score > threshold, hence block UB > threshold,
    hence it is always evaluated. Block-max bounds can NOT prune "above
    the cursor" (they are upper bounds — a high-UB block may hold
    admissible docs), so the cursor never tightens pruning, it only
    filters admissions.

    ``deleted`` (tombstoned docIDs in this cell) masks docs PRE-HEAP: a
    deleted pivot is fully skipped (cursors advance past it, nothing is
    offered), so it can never displace a surviving doc from the top-k and
    the threshold only ever reflects survivors — exact masked retrieval.
    Block-max upper bounds still include deleted docs' quality; bounds
    stay valid (masking only removes candidates), merely loose until an
    expunge rewrites the affected runs.

    ``allowed`` (filtered search, Lucene filter context) is the INCLUSION
    mirror: a pivot NOT in it is skipped exactly like a deleted one, so
    only filter-passing docs enter the heap and their scores are identical
    to the unfiltered query's (stats untouched by the filter).
    """
    cursors = [
        TermCursor(t, term_runs[t], idf, bound_scale, k1, b)
        for t, idf in query_terms
        if t in term_runs
    ]
    cursors = [c for c in cursors if not c.exhausted]
    topk = TopK(k)
    while cursors:
        cursors.sort(key=lambda c: c.cur_doc)
        threshold = max(topk.threshold(), prior_threshold)
        # WAND pivot: smallest prefix whose run-level UBs can beat threshold.
        acc = 0.0
        pivot_idx = -1
        for i, c in enumerate(cursors):
            acc += c.max_ub
            if acc > threshold - EPS:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # no remaining doc can enter the top-k
        pivot_doc = cursors[pivot_idx].cur_doc
        if cursors[0].cur_doc == pivot_doc:
            # All cursors sitting exactly on the pivot (a contiguous prefix
            # of the sorted list, possibly extending past pivot_idx on ties).
            n_at = pivot_idx + 1
            while n_at < len(cursors) and cursors[n_at].cur_doc == pivot_doc:
                n_at += 1
            at_pivot = cursors[:n_at]
            # Block-max refinement: shallow block UBs of every term that can
            # actually contribute to pivot_doc's score.
            ub = 0.0
            for c in at_pivot:
                ub += c.block_ub_at(pivot_doc)
            if ub > threshold - EPS:
                if (deleted is not None and pivot_doc in deleted) or (
                    allowed is not None and pivot_doc not in allowed
                ):
                    for c in at_pivot:  # masked: skip, never offer
                        c.next()
                else:
                    # Fully evaluate pivot_doc, accumulating in SORTED TERM
                    # ORDER (oracle-identical float association).
                    score = 0.0
                    for c in sorted(at_pivot, key=lambda c: c.term):
                        score += c.score_at(norms, avgdl)
                    if after is None:
                        topk.offer(score, pivot_doc)
                    else:
                        s6 = math.floor(score * 1_000_000)
                        if s6 < after[0] or (
                            s6 == after[0] and pivot_doc > after[1]
                        ):
                            topk.offer(score, pivot_doc)
                    for c in at_pivot:
                        c.next()
            else:
                # Skip: jump past the earliest block boundary among the
                # pivot's cursors (every boundary >= pivot_doc, so the jump
                # strictly advances). BMW GetNewCandidate cap: never jump
                # past the next cursor's current doc — docs in between may
                # score with ITS term too.
                boundary = min(c.block_boundary_at(pivot_doc) for c in at_pivot)
                if n_at < len(cursors):
                    boundary = min(boundary, cursors[n_at].cur_doc - 1)
                target = max(boundary + 1, pivot_doc + 1)
                for c in at_pivot:
                    c.advance_to(target)
        else:
            # Align the earlier cursors onto the pivot.
            for c in cursors[:pivot_idx]:
                c.advance_to(pivot_doc)
        cursors = [c for c in cursors if not c.exhausted]
    return topk.items()


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
