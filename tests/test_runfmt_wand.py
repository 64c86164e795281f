"""Property tests: run format roundtrip, concat-merge, cell slicing, and
BMW top-k ≡ exhaustive top-k (SURVEY.md §5.2(3)) — all Spark-free."""

import math
from collections import Counter

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pageindex_spark.functions.tokenizer import BM25_B, BM25_K1
from pageindex_spark.operators.runfmt import (
    concat_runs,
    decode_block,
    decode_run,
    encode_run,
)
from pageindex_spark.operators.wand import (
    CellNorms,
    bmw_score_cell,
    dense_score_cell,
    idf_value,
    slice_run_to_cells,
)


def _random_postings(rng, n, max_doc):
    docs = np.sort(rng.choice(max_doc, size=n, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, 30, size=n).astype(np.uint64)
    dls = rng.integers(20, 800, size=n).astype(np.int64)
    return docs, tfs, dls


@given(st.integers(min_value=1, max_value=2000), st.integers(min_value=2, max_value=257))
@settings(max_examples=50, deadline=None)
def test_run_roundtrip(n, block_size):
    rng = np.random.default_rng(n * 1000 + block_size)
    docs, tfs, dls = _random_postings(rng, n, 10 * n + 10)
    run = encode_run(docs, tfs, dls, avgdl=400.0, block_size=block_size)
    d2, t2 = decode_run(run)
    assert np.array_equal(d2, docs) and np.array_equal(t2, tfs)
    # block decode agrees with full decode
    pos = 0
    for b in range(run.n_blocks):
        bd, bt = decode_block(run, b)
        k = len(bd)
        assert np.array_equal(bd, docs[pos : pos + k])
        assert np.array_equal(bt, tfs[pos : pos + k])
        pos += k
    assert pos == n


def test_concat_runs_equals_single_encode_blocks():
    rng = np.random.default_rng(7)
    docs, tfs, dls = _random_postings(rng, 700, 10_000)
    # split into 3 disjoint ordered runs
    cuts = [0, 200, 450, 700]
    runs = [
        encode_run(docs[a:b], tfs[a:b], dls[a:b], 400.0, block_size=64)
        for a, b in zip(cuts, cuts[1:])
    ]
    merged = concat_runs(runs)
    d2, t2 = decode_run(merged)
    assert np.array_equal(d2, docs) and np.array_equal(t2, tfs)
    assert merged.first_doc == int(docs[0]) and merged.last_doc == int(docs[-1])
    assert merged.n_docs == 700


@given(st.integers(min_value=2, max_value=1500), st.integers(min_value=64, max_value=4096))
@settings(max_examples=40, deadline=None)
def test_split_run_block_aligned_and_lossless(n, target):
    """SURVEY §2.1 #38 (large-node re-split): splitting an oversized run at
    block boundaries must be lossless (concat of pieces decodes to the
    original postings), keep every piece <= target unless it is a single
    block, and keep piece metadata (first/last/n_docs) consistent."""
    from pageindex_spark.operators.runfmt import split_run

    rng = np.random.default_rng(n * 31 + target)
    docs, tfs, dls = _random_postings(rng, n, 10 * n + 10)
    run = encode_run(docs, tfs, dls, avgdl=400.0, block_size=32)
    pieces = split_run(run, target)
    assert pieces
    for p in pieces:
        size = len(p.doc_blob) + len(p.tf_blob)
        assert size <= target or p.n_blocks == 1, (size, target, p.n_blocks)
        d, t = decode_run(p)
        assert p.first_doc == int(d[0]) and p.last_doc == int(d[-1])
        assert p.n_docs == len(d)
    for a, b in zip(pieces, pieces[1:]):
        assert a.last_doc < b.first_doc
    merged = concat_runs(pieces) if len(pieces) > 1 else pieces[0]
    d2, t2 = decode_run(merged)
    assert np.array_equal(d2, docs) and np.array_equal(t2, tfs)


def test_slice_to_cells_partition_and_reassembly():
    rng = np.random.default_rng(11)
    grid = np.array([0, 1000, 2500, 6000, 9000], dtype=np.int64)
    # build per-cell runs (blocks never span cells), concat to one run
    parts = []
    all_docs, all_tfs = [], []
    for lo, hi in zip(grid, list(grid[1:]) + [12_000]):
        n = rng.integers(5, 300)
        docs = np.sort(rng.choice(np.arange(lo, hi), size=min(n, hi - lo), replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 9, size=len(docs)).astype(np.uint64)
        dls = rng.integers(50, 500, size=len(docs))
        parts.append(encode_run(docs, tfs, dls, 300.0, block_size=32))
        all_docs.append(docs)
        all_tfs.append(tfs)
    run = concat_runs(parts)
    pieces = slice_run_to_cells(run, grid)
    assert sorted(c for c, _ in pieces) == sorted(set(c for c, _ in pieces))
    reassembled = concat_runs([r for _, r in sorted(pieces, key=lambda p: p[0])])
    d2, t2 = decode_run(reassembled)
    assert np.array_equal(d2, np.concatenate(all_docs))
    assert np.array_equal(t2, np.concatenate(all_tfs))
    # each piece stays within its cell's docID range
    bounds = list(grid[1:]) + [np.iinfo(np.int64).max]
    for c, piece in pieces:
        assert piece.first_doc >= int(grid[c])
        assert piece.last_doc < int(bounds[c])


def _mini_corpus(rng, n_docs=300, vocab=40):
    """Random corpus -> (term_runs, norms, postings_dict, doc_lens)."""
    doc_lens = rng.integers(5, 60, size=n_docs)
    docs_terms = [
        [f"t{int(x):02d}" for x in rng.integers(0, vocab, size=doc_lens[i])]
        for i in range(n_docs)
    ]
    doc_lens = np.array([len(t) for t in docs_terms], dtype=np.int64)
    avgdl = float(doc_lens.mean())
    postings: dict[str, dict[int, int]] = {}
    for did, terms in enumerate(docs_terms):
        for t, tf in Counter(terms).items():
            postings.setdefault(t, {})[did] = tf
    term_runs = {}
    for t, pl in postings.items():
        ds = np.array(sorted(pl), dtype=np.uint64)
        tf = np.array([pl[d] for d in sorted(pl)], dtype=np.uint64)
        dl = doc_lens[ds.astype(np.int64)]
        term_runs[t] = encode_run(ds, tf, dl, avgdl, block_size=16)
    norms = CellNorms(0, doc_lens)
    return term_runs, norms, postings, doc_lens, avgdl, n_docs


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_bmw_equals_dense_equals_bruteforce(seed):
    rng = np.random.default_rng(seed)
    term_runs, norms, postings, doc_lens, avgdl, n_docs = _mini_corpus(rng)
    queries = [
        ["t00"],
        ["t01", "t07"],
        ["t02", "t13", "t39"],
        ["t00", "t01", "t02", "t03"],
        ["t05", "zzz"],  # term absent from corpus
    ]
    for q in queries:
        qt = sorted(set(q))
        with_idf = [
            (t, idf_value(n_docs, len(postings.get(t, {})))) for t in qt
        ]
        with_idf = [(t, i) for t, i in with_idf if t in postings]
        k = 10
        got = sorted(
            bmw_score_cell(term_runs, norms, with_idf, avgdl, k),
            key=lambda x: (-x[1], x[0]),
        )
        docs_d, scores_d = dense_score_cell(term_runs, norms, with_idf, avgdl)
        want = sorted(zip(docs_d.tolist(), scores_d.tolist()), key=lambda x: (-x[1], x[0]))[:k]
        # brute force from raw postings
        brute: dict[int, float] = {}
        for t, idf in with_idf:
            for did, tf in postings[t].items():
                dl = float(doc_lens[did])
                brute[did] = brute.get(did, 0.0) + idf * tf * (BM25_K1 + 1) / (
                    tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
                )
        want2 = sorted(brute.items(), key=lambda x: (-x[1], x[0]))[:k]
        assert [d for d, _ in got] == [d for d, _ in want] == [d for d, _ in want2]
        for (d1, s1), (d2, s2) in zip(got, want2):
            assert abs(s1 - s2) < 1e-9


def test_salted_group_merge_equals_unsalted(seed=99):
    """Salted split-then-merge == single merge (SURVEY §5.2(3)): packing
    segments into salt groups and concatenating group results must equal
    concatenating all segments at once — blob-identical, not just decoded."""
    rng = np.random.default_rng(seed)
    docs, tfs, dls = _random_postings(rng, 960, 50_000)
    cuts = np.linspace(0, 960, 9, dtype=int)  # 8 "segments"
    segs = [
        encode_run(docs[a:b], tfs[a:b], dls[a:b], 400.0, block_size=32)
        for a, b in zip(cuts, cuts[1:])
    ]
    unsalted = concat_runs(segs)
    for group_size in (2, 4):
        groups = [
            concat_runs(segs[i : i + group_size])
            for i in range(0, len(segs), group_size)
        ]
        salted = concat_runs(groups)
        assert salted.doc_blob == unsalted.doc_blob
        assert salted.tf_blob == unsalted.tf_blob
        assert np.array_equal(salted.bm_last, unsalted.bm_last)
        assert np.array_equal(salted.bm_maxq, unsalted.bm_maxq)
        assert np.array_equal(salted.bm_doc_off, unsalted.bm_doc_off)
        assert np.array_equal(salted.bm_ndocs, unsalted.bm_ndocs)


def test_topk_tie_break_prefers_smaller_doc():
    """Three docs tie on score at k=2: the two smaller docIDs win (docID
    order == url order, the oracle's tie-break)."""
    docs = np.array([3, 4, 5], dtype=np.uint64)
    tfs = np.array([2, 2, 2], dtype=np.uint64)
    dls = np.array([10, 10, 10], dtype=np.int64)
    run = encode_run(docs, tfs, dls, avgdl=10.0, block_size=2)
    norms = CellNorms(0, np.full(6, 10.0))
    got = bmw_score_cell({"t": run}, norms, [("t", 1.5)], 10.0, 2)
    assert [d for d, _ in got] == [3, 4]
    assert got[0][1] == got[1][1]
