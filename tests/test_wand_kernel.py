"""Spark-free tests of the BMW top-k kernel: exact equality with
brute-force BM25 top-k under every admission mask and k1/b override, and
the kernel calls perfbench/kernels.py makes."""

from collections import Counter

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from pageindex_spark.functions.tokenizer import BM25_B, BM25_K1
from pageindex_spark.operators import wand
from pageindex_spark.operators.runfmt import encode_run
from pageindex_spark.operators.wand import CellNorms, idf_value
from pageindex_spark.plans.query import _param_bound_scale


def _corpus(rng, n_docs, vocab, lo, block_size):
    """Random cell [lo, lo + n_docs) -> (term_runs, postings, doc_lens, avgdl)."""
    lens = rng.integers(1, 40, size=n_docs)
    skew = rng.random(vocab) ** 2  # some terms common, some rare
    postings: dict[str, dict[int, int]] = {}
    for i in range(n_docs):
        words = rng.choice(vocab, size=int(lens[i]), p=skew / skew.sum())
        for w, tf in Counter(words.tolist()).items():
            postings.setdefault(f"t{w:02d}", {})[lo + i] = tf
    doc_lens = lens.astype(np.int64)
    avgdl = float(doc_lens.mean())
    runs = {}
    for t, pl in postings.items():
        ds = np.array(sorted(pl), dtype=np.uint64)
        tf = np.array([pl[d] for d in sorted(pl)], dtype=np.uint64)
        runs[t] = encode_run(ds, tf, doc_lens[ds.astype(np.int64) - lo], avgdl, block_size)
    return runs, postings, doc_lens, avgdl


def _brute(postings, doc_lens, lo, plan, avgdl, k1, b):
    """doc -> score, added from 0.0 in sorted term order with the
    per-posting expression the oracle uses."""
    scores: dict[int, float] = {}
    for t, idf in sorted(plan):
        weight = idf * (k1 + 1.0)
        for d, tf in postings.get(t, {}).items():
            dl = float(doc_lens[d - lo])
            tf = float(tf)
            scores[d] = scores.get(d, 0.0) + weight * tf / (
                tf + k1 * (1.0 - b + b * dl / avgdl)
            )
    return scores


@given(data=st.data())
@settings(max_examples=80, deadline=None)
def test_block_kernel_equals_bruteforce(data):
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1), label="seed"))
    n_docs = data.draw(st.integers(1, 300), label="n_docs")
    lo = data.draw(st.sampled_from([0, 1000]), label="lo")
    block = data.draw(st.integers(1, 32), label="block_size")
    runs, postings, doc_lens, build_avgdl = _corpus(rng, n_docs, 10, lo, block)
    terms = data.draw(
        st.lists(st.sampled_from([f"t{i:02d}" for i in range(11)]), min_size=1,
                 max_size=5, unique=True),
        label="terms",
    )
    plan = [(t, idf_value(n_docs, len(postings[t]))) for t in sorted(terms) if t in postings]
    # k1/b overrides, an expunge-style avgdl drift and extra slack: each
    # keeps the build-time block bounds valid once bound_scale covers it.
    k1 = data.draw(st.sampled_from([BM25_K1, 0.3, 2.5]), label="k1")
    b = data.draw(st.sampled_from([BM25_B, 0.0, 0.4, 1.0]), label="b")
    drift = data.draw(st.floats(0.7, 1.5), label="avgdl_drift")
    avgdl = build_avgdl * drift
    bound_scale = (
        max(1.0, drift) * _param_bound_scale(k1, b) * data.draw(st.floats(1.0, 2.0))
    )
    ids = np.arange(lo, lo + n_docs, dtype=np.int64)
    deleted = np.sort(rng.choice(ids, size=rng.integers(0, n_docs // 3 + 1), replace=False))
    allowed = None
    if data.draw(st.booleans(), label="filtered"):
        allowed = np.sort(rng.choice(ids, size=rng.integers(1, n_docs + 1), replace=False))
    k = data.draw(st.integers(1, 20), label="k")

    scores = _brute(postings, doc_lens, lo, plan, avgdl, k1, b)
    admitted = [
        (d, s) for d, s in scores.items()
        if d not in set(deleted.tolist()) and (allowed is None or d in set(allowed.tolist()))
    ]
    admitted.sort(key=lambda x: (-x[1], x[0]))
    after = None
    if admitted and data.draw(st.booleans(), label="paged"):
        cd, cs = admitted[data.draw(st.integers(0, len(admitted) - 1), label="cursor")]
        after = (int(np.floor(cs * 1_000_000)), cd)
        admitted = [
            (d, s) for d, s in admitted
            if (s6 := int(np.floor(s * 1_000_000))) < after[0]
            or (s6 == after[0] and d > after[1])
        ]
    got = wand.bmw_score_cell(
        runs, CellNorms(lo, doc_lens), plan, avgdl, k, deleted=deleted,
        bound_scale=bound_scale, allowed=allowed, k1=k1, b=b, after=after,
    )
    assert got == admitted[:k]  # same docs, same order, bit-equal scores


def test_kernel_calls_of_perfbench(monkeypatch):
    """The calls perfbench/kernels.py makes keep their shapes, and
    DECODE_STATS["blocks"] grows by exactly the blocks the kernel decodes."""
    rng = np.random.default_rng(5)
    runs, postings, doc_lens, avgdl = _corpus(rng, 400, 12, 0, 128)
    norms = CellNorms(0, doc_lens)
    plan = [(t, idf_value(400, len(postings[t]))) for t in ("t00", "t03", "t07")]
    decoded = []
    real = wand.decode_run
    monkeypatch.setattr(
        wand, "decode_run", lambda run: decoded.append(run.n_blocks) or real(run)
    )

    before = wand.DECODE_STATS["blocks"]
    top = wand.bmw_score_cell({t: runs[t] for t, _ in plan}, norms, plan, avgdl, 10)
    grown = wand.DECODE_STATS["blocks"] - before
    assert isinstance(top, list) and len(top) == 10
    assert all(isinstance(d, int) and isinstance(s, float) for d, s in top)
    assert grown == sum(decoded) == sum(runs[t].n_blocks for t, _ in plan)

    d, s = wand.dense_score_cell({t: runs[t] for t, _ in plan}, norms, plan, avgdl)
    assert d.dtype == np.int64 and s.dtype == np.float64 and len(d) == len(s)
    dense_top = sorted(zip(d.tolist(), s.tolist()), key=lambda x: (-x[1], x[0]))[:10]
    assert [doc for doc, _ in top] == [doc for doc, _ in dense_top]
