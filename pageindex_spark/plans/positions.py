"""Positional sidecar: exact phrase search at any scale.

The core index is bag-of-words (postings carry docID+tf only), so
``search_phrase`` runs conjunctive-candidates + text re-verification —
exact up to ``cand_cap`` candidates, with a documented recall cap for
all-stopword phrases (``plans/query.py``). This module is the promised
scale-up: an OPTIONAL sidecar relation holding per-(term, doc) token
positions, built once from the committed extracts and queried with no
candidate cap and no text fetch.

Layout: ``<index>/positions/bucket=B/`` parquet rows
``(term, doc_id, doc_len, pos_blob)`` — ``pos_blob`` is the varbyte
delta-gap encoding of the term's 0-based token positions (same codec as
postings; tf = the decoded count, so no separate tf column). Build is
MAP-ONLY: each task tokenizes its own extract partitions with the same
Arrow kernel discipline as the SPIMI build (ASCII-strip before lowercase
— the lockstep rule), encodes ALL gap bytes in one vectorized pass, and
writes straight to bucket directories (no shuffle at any corpus size).
``meta['positions']`` is the commit point: a crashed build leaves the dir
invisible (readers check meta first).

Query plan (``phrase_search_positions``): one bucket- and term-pruned
scan of the sidecar restricted to the phrases' terms, an anti-join
against tombstones, ONE shuffle grouping by doc_id, then a vectorized
verify-and-score pass — a doc matches when some position p of term0 has
p+1 in term1's positions, etc. (numpy ``isin`` chain), scored with the
exact oracle BM25 accumulation (sorted unique terms, full tf). Global
rank + winners'-partitions-only url lookup reuse the engine tail
(``query._rank_and_lookup``). Exact for ANY phrase, including
all-stopword phrases whose conjunctive candidate set exceeds any cap.

Staleness: the sidecar snapshots the corpus. ``meta['positions']``
records ``n_docs`` at build time and every mutation that rewrites the
corpus (batch expunge, streamed refresh) drops the key and/or the dir —
readers fall back to the text-verify path and ``build_positions_sidecar``
rebuilds on demand. Query-time delete MASKING needs no rebuild (the
tombstone anti-join above).

Reference parity: the reference retrieves whole tree nodes via LLM
reasoning and has no phrase/position concept at all
(``/root/reference/pageindex/page_index.py``); this is part of the
from-scratch retrieval surface replacing it.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import BM25_B, BM25_K1, tokenize
from ..operators.codec import vb_decode, vb_encode
from ..operators.docids import attach_doc_ids
from ..sources.tables import read_meta, write_meta
from .build_index import IndexPaths

POSITIONS_DIRNAME = "positions"

_POS_PA = pa.schema(
    [
        pa.field("term", pa.string()),
        pa.field("doc_id", pa.int64()),
        pa.field("doc_len", pa.int64()),
        pa.field("pos_blob", pa.binary()),
    ]
)
_POS_DDL = "term string, doc_id long, doc_len long, pos_blob binary"


def positions_dir(index_dir: str) -> str:
    return os.path.join(index_dir, POSITIONS_DIRNAME)


def _vb_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length per uint64 value (mirrors codec.vb_encode)."""
    nbytes = np.ones(values.shape, dtype=np.int64)
    for j in range(1, 10):
        nbytes += (values >= np.uint64(1) << np.uint64(7 * j)).astype(np.int64)
    return nbytes


def _emit_positions(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """(doc_id, doc_len, text) -> (term, doc_id, doc_len, pos_blob) rows.
    One vectorized gap encode per batch; per-group blobs are byte slices."""
    from ..operators.spimi import _tokenize_arrow

    for batch in batches:
        doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
        codes, doc_idx, doc_lens, uniques = _tokenize_arrow(batch.column("text"))
        if len(codes) == 0:
            continue
        total = len(codes)
        starts_of_doc = np.concatenate(
            ([0], np.cumsum(doc_lens))
        ).astype(np.int64)
        pos = np.arange(total, dtype=np.int64) - starts_of_doc[doc_idx]
        # Stable sort by (term, doc): positions stay ascending per group.
        n_local = len(doc_lens)
        key = codes * n_local + doc_idx
        order = np.argsort(key, kind="stable")
        key, pos = key[order], pos[order]
        gstart = np.concatenate(([0], np.flatnonzero(np.diff(key)) + 1))
        gend = np.concatenate((gstart[1:], [total]))
        # Delta-gap with a reset (absolute) at each group start.
        gaps = pos.astype(np.uint64).copy()
        gaps[1:] -= pos[:-1].astype(np.uint64)
        gaps[gstart] = pos[gstart].astype(np.uint64)
        blob = vb_encode(gaps)
        byte_off = np.concatenate(
            ([0], np.cumsum(_vb_lengths(gaps)))
        ).astype(np.int64)
        g_code = key[gstart] // n_local
        g_doc = key[gstart] % n_local
        yield from pa.table(
            {
                "term": [uniques[int(c)] for c in g_code],
                "doc_id": doc_ids[g_doc],
                "doc_len": doc_lens[g_doc],
                "pos_blob": [
                    blob[byte_off[gstart[i]] : byte_off[gend[i]]]
                    for i in range(len(gstart))
                ],
            },
            schema=_POS_PA,
        ).to_batches()


def build_positions_sidecar(spark: SparkSession, index_dir: str) -> str:
    """Build (or rebuild) the positional sidecar for a committed index.
    Map-only over docs_extracted; the meta rewrite is the commit point
    (a crash leaves the dir invisible — readers resolve FROM meta)."""
    from ..operators.compaction import with_term_bucket
    from .expunge import recover_expunge

    recover_expunge(index_dir)
    meta = read_meta(index_dir)
    paths = IndexPaths(index_dir)
    out = positions_dir(index_dir)
    shutil.rmtree(out, ignore_errors=True)  # GC a crashed earlier build
    ext = attach_doc_ids(
        spark.read.parquet(paths.docs_extracted).select(
            F.col("part_id").cast("int").alias("part_id"),
            "local_pos",
            "text",
            "doc_len",
        ),
        [int(g) for g in meta["grid"]],
    ).select("doc_id", "doc_len", "text")
    rows = ext.mapInArrow(_emit_positions, schema=_POS_DDL)
    with_term_bucket(rows, int(meta["n_buckets"])).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(out)
    meta["positions"] = {"n_docs": int(meta["n_docs"])}
    write_meta(index_dir, meta)  # atomic commit point
    return out


def sidecar_ready(meta: dict, index_dir: str) -> bool:
    """True when a CURRENT sidecar is committed: meta key present and the
    snapshot still matches the live corpus (mutations drop/outdate it)."""
    p = meta.get("positions")
    return (
        isinstance(p, dict)
        and int(p.get("n_docs", -1)) == int(meta["n_docs"])
        and os.path.isdir(positions_dir(index_dir))
    )


def phrase_search_positions(
    se,  # Searcher (plans.query)
    phrases: list[tuple[int, str]],
    k: int = 10,
    fixed_point: bool = False,
    with_text: bool = False,
    slop: int = 0,
    in_order: bool = True,
) -> DataFrame:
    """Exact phrase top-k from the positional sidecar (no candidate cap,
    no text fetch). Scores/tie-breaks identical to the text-verify path
    and the pure-Python oracle. ``slop`` relaxes contiguity to ordered
    proximity (positions p_0 < ... < p_{n-1}, span p_{n-1} - p_0 <=
    slop + n - 1): verification runs a vectorized greedy chain — for
    every start position of term 0, each later term takes its smallest
    position past the previous one (``searchsorted``), which is pointwise
    minimal by induction, so a start matches iff its greedy span fits.
    slop=0 keeps the direct ``isin`` contiguity kernel.

    ``in_order=False`` (distinct terms — ``search_phrase`` enforces) is
    the unordered window: anchor every position of ANY query term (a real
    match's minimal window starts at one — exhaustive), then for each term
    its first position >= the anchor must land inside the ``slop + n``
    window (``searchsorted``, vectorized over all anchors at once);
    distinct terms occupy distinct slots automatically."""
    from ..functions.murmur3 import term_bucket
    from .query import _empty_hits, _ensure_idf, _rank_and_lookup

    spark = se.spark
    empty = _empty_hits(se, with_text)

    qterms = {qid: tokenize(text) for qid, text in phrases}
    allterms = sorted({t for ts in qterms.values() for t in ts})
    if not allterms:
        return empty
    _ensure_idf(se, allterms)
    idf = {t: v for t in allterms if (v := se._idf_cache[t]) is not None}
    # A phrase containing a corpus-absent term matches nothing (the text
    # path's conjunctive stage has the same payload gate).
    payload = [
        (qid, ts, sorted({(t, idf[t]) for t in ts}))
        for qid, ts in qterms.items()
        if ts and all(t in idf for t in ts)
    ]
    if not payload:
        return empty
    bc_payload = spark.sparkContext.broadcast(payload)
    avgdl = se.avgdl

    present = sorted({t for _, ts, _ in payload for t in ts})
    buckets = sorted({term_bucket(t, se.n_buckets) for t in present})
    pos = (
        spark.read.parquet(positions_dir(se.paths.index_dir))
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(present))
        .drop("bucket")
    )
    if se.deleted_ids is not None and len(se.deleted_ids):
        dead = spark.createDataFrame(
            [(int(d),) for d in se.deleted_ids], "doc_id long"
        )
        pos = pos.join(F.broadcast(dead), "doc_id", "left_anti")

    grouped = pos.groupBy("doc_id", "doc_len").agg(
        F.collect_list(F.struct("term", "pos_blob")).alias("plists")
    )

    def verify_score(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            qids: list[int] = []
            dids: list[int] = []
            scores: list[float] = []
            for _, row in pdf.iterrows():
                plist = {
                    e["term"]: np.cumsum(
                        vb_decode(bytes(e["pos_blob"])), dtype=np.uint64
                    )
                    for e in row["plists"]
                }
                dl = float(row["doc_len"])
                for qid, terms, uniq_idf in bc_payload.value:
                    if any(t not in plist for t in terms):
                        continue
                    if not in_order:
                        w = slop + len(terms)  # window length in tokens
                        anchors = np.unique(
                            np.concatenate([plist[t] for t in terms])
                        ).astype(np.int64)
                        ok = np.ones(len(anchors), dtype=bool)
                        for t in terms:
                            pos = plist[t].astype(np.int64)
                            idx = np.searchsorted(pos, anchors, side="left")
                            ok &= (idx < len(pos)) & (
                                pos[np.minimum(idx, len(pos) - 1)]
                                <= anchors + w - 1
                            )
                        if not np.any(ok):
                            continue
                    elif slop == 0:
                        cand = plist[terms[0]]
                        for j in range(1, len(terms)):
                            cand = cand[
                                np.isin(cand + np.uint64(j), plist[terms[j]])
                            ]
                            if not len(cand):
                                break
                        if not len(cand):
                            continue
                    else:
                        starts = plist[terms[0]].astype(np.int64)
                        cur = starts
                        ok = np.ones(len(starts), dtype=bool)
                        for j in range(1, len(terms)):
                            nxt = plist[terms[j]].astype(np.int64)
                            idx = np.searchsorted(nxt, cur, side="right")
                            ok &= idx < len(nxt)
                            cur = nxt[np.minimum(idx, len(nxt) - 1)]
                        fits = ok & (cur - starts <= slop + len(terms) - 1)
                        if not np.any(fits):
                            continue
                    # Oracle-identical BM25: sorted unique terms, full tf.
                    score = 0.0
                    for t, tidf in uniq_idf:
                        tf = float(len(plist[t]))
                        denom = tf + BM25_K1 * (
                            1.0 - BM25_B + BM25_B * dl / avgdl
                        )
                        score += tidf * tf * (BM25_K1 + 1.0) / denom
                    qids.append(qid)
                    dids.append(int(row["doc_id"]))
                    scores.append(score)
            yield pd.DataFrame(
                {
                    "query_id": np.array(qids, dtype=np.int32),
                    "doc_id": np.array(dids, dtype=np.int64),
                    "score": np.array(scores, dtype=np.float64),
                }
            )

    scored = grouped.mapInPandas(
        verify_score, schema="query_id int, doc_id long, score double"
    )
    return _rank_and_lookup(se, scored, k, fixed_point, with_text, empty)
