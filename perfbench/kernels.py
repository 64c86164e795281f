"""Spark-free timings of the scoring kernels (``operators.codec``,
``operators.runfmt``, ``operators.wand``) on the real posting runs of a
query set, read from the built index with pyarrow. The whole index is one
cell here, so the kernels see every posting of every query term."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.parquet as pq

MIN_SECONDS = 0.3


def _rate(fn, units: float) -> float:
    """units processed per second, repeating ``fn`` for MIN_SECONDS."""
    reps = 0
    t0 = time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_SECONDS:
            return units * reps / dt


def _load(index_dir: str, terms: list[str]):
    from pageindex_spark.operators.codec import vb_decode
    from pageindex_spark.operators.compaction import run_from_row
    from pageindex_spark.operators.runfmt import concat_runs
    from pageindex_spark.operators.wand import CellNorms

    t = pq.read_table(os.path.join(index_dir, "postings"), filters=[("term", "in", terms)])
    by_term: dict[str, list] = {}
    for row in t.to_pylist():
        by_term.setdefault(row["term"], []).append(run_from_row(row))
    runs = {
        term: concat_runs(sorted(rs, key=lambda r: r.first_doc)) for term, rs in by_term.items()
    }
    nt = pq.read_table(os.path.join(index_dir, "norms"), columns=["first_doc", "dl_blob"])
    parts = sorted(zip(nt.column("first_doc").to_pylist(), nt.column("dl_blob").to_pylist()))
    dl = np.concatenate([vb_decode(blob) for _first, blob in parts]).astype(np.float64)
    return runs, CellNorms(0, dl)


def measure(index_dir: str, queries: list[tuple[int, str]], oracle) -> dict[str, float]:
    from pageindex_spark.operators import wand
    from pageindex_spark.operators.codec import vb_decode, vb_encode
    from pageindex_spark.operators.runfmt import decode_run

    from oracle import tokenize

    qterms = [sorted(set(tokenize(text))) for _qid, text in queries]
    runs, norms = _load(index_dir, sorted({t for ts in qterms for t in ts}))
    with open(os.path.join(index_dir, "meta.json")) as fh:
        avgdl = float(json.load(fh)["avgdl"])
    plans = [[(t, oracle.idf(t)) for t in ts if t in runs] for ts in qterms]
    plans = [p for p in plans if p]
    blobs = [b for r in runs.values() for b in (r.doc_blob, r.tf_blob)]
    blob_mb = sum(len(b) for b in blobs) / 1e6
    values = [vb_decode(b) for b in blobs]
    postings = sum(r.n_docs for r in runs.values())
    q_postings = sum(runs[t].n_docs for p in plans for t, _ in p)
    q_blocks = sum(runs[t].n_blocks for p in plans for t, _ in p)

    def bmw():
        for p in plans:
            wand.bmw_score_cell({t: runs[t] for t, _ in p}, norms, p, avgdl, 10)

    def dense():
        for p in plans:
            wand.dense_score_cell({t: runs[t] for t, _ in p}, norms, p, avgdl)

    before = wand.DECODE_STATS["blocks"]
    bmw()
    decoded = wand.DECODE_STATS["blocks"] - before
    return {
        "codec.vb_decode_mb_per_s": _rate(lambda: [vb_decode(b) for b in blobs], blob_mb),
        "codec.vb_encode_mb_per_s": _rate(lambda: [vb_encode(v) for v in values], blob_mb),
        "runfmt.decode_run_mpostings_per_s": _rate(
            lambda: [decode_run(r) for r in runs.values()], postings / 1e6
        ),
        "wand.bmw_ns_per_posting": 1e9 / _rate(bmw, q_postings),
        "wand.dense_ns_per_posting": 1e9 / _rate(dense, q_postings),
        "wand.blocks_decoded_ratio": decoded / q_blocks,
    }
