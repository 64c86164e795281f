"""Score explanation: per-term BM25 contributions for a query's winners.

Lucene ``IndexSearcher.explain`` parity — the debuggability surface every
relevance engineer reaches for ("why does THIS doc outrank THAT one?"). The
reference has nothing comparable (its retrieval is an LLM prompt); a
self-serve engine needs it.

Plan shape (everything here is metadata-sized — winners are <= queries x k):

1. the ordinary ``search`` produces the winners (same plan, same results);
2. ONE url-pushed extracts scan maps winner urls back to (part_id,
   local_pos) -> docID (inverse of the winner lookup);
3. run METADATA for the query terms is already collected by the pruned
   postings scan; only the few runs whose [first_doc, last_doc] span a
   winner fetch their blobs (run_id-pushed second read) and decode;
4. doc lengths come from the winners' norms partitions, df from the query
   head's pruned term_stats read, n_docs/avgdl from meta — contributions recompute
   exactly the scoring kernels' formula, in the driver, over <= q x k x
   |terms| rows.

The invariant pinned by the twin: per-term contributions SUM to the score
``search`` ranked by (floored at 1e-6 like everything else).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import BM25_B, BM25_K1
from ..operators.codec import vb_decode
from ..operators.runfmt import decode_run
from ..session import local_df
from .query import _query_head, _url_doc_ids, get_searcher


def explain_score(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 3,
    cell_parts: int = 4,
) -> DataFrame:
    """Per-term contributions for each query's top-k docs ->
    (query_id, url, term, tf, df, contrib). ``sum(contrib) group by
    (query_id, url)`` equals the score ``search`` ranked. Boosts ('term^w')
    fold into contrib exactly as in search; '-term' negations never appear
    (they don't score)."""
    se = get_searcher(spark, index_dir, cell_parts)
    top = se.search(queries, k=k, fixed_point=True)
    winners = top.select("query_id", "url").collect()
    ddl = "query_id int, url string, term string, tf long, df long, contrib double"
    empty = local_df(spark, [], ddl)
    if not winners:
        return empty
    urls = sorted({r["url"] for r in winners})

    # url -> docID (inverse winner lookup: one url-pushed, column-pruned scan)
    did_of_url = dict(_url_doc_ids(se, urls))

    # per-query positive terms, boosts and df (identical parsing to search)
    head = _query_head(se, queries)
    present = sorted({t for ts in head.terms.values() for t in ts if t in head.df})
    if not present:
        return empty

    # runs metadata (column-pruned) -> only runs spanning a winner fetch blobs
    runs_meta = se.postings_runs(present)
    meta_rows = runs_meta.select("term", "run_id", "first_doc", "last_doc").collect()
    dids = sorted(did_of_url.values())
    want_runs: dict[str, set[int]] = {}
    for r in meta_rows:
        lo, hi = int(r["first_doc"]), int(r["last_doc"])
        if any(lo <= d <= hi for d in dids):
            want_runs.setdefault(r["term"], set()).add(int(r["run_id"]))
    tf_of: dict[tuple[str, int], int] = {}
    if want_runs:
        rids = sorted({rid for s in want_runs.values() for rid in s})
        from ..operators.compaction import run_from_row

        blob_rows = runs_meta.filter(F.col("run_id").isin(rids)).collect()
        for row in blob_rows:
            docs, tfs = decode_run(run_from_row(row.asDict()))
            idx = np.searchsorted(docs, dids)
            for j, d in zip(idx, dids):
                if j < len(docs) and int(docs[j]) == d:
                    tf_of[(row["term"], d)] = int(tfs[j])

    # doc lengths from the winners' norms partitions
    grid = se.grid_parts
    parts = sorted(
        {int(np.searchsorted(grid, d, side="right") - 1) for d in dids}
    )
    dl_of: dict[int, int] = {}
    for r in (
        se.norms.filter(F.col("part_id").isin(parts))
        .select("part_id", "first_doc", "dl_blob")
        .collect()
    ):
        dls = vb_decode(bytes(r["dl_blob"]))
        lo = int(r["first_doc"])
        for d in dids:
            if lo <= d < lo + len(dls):
                dl_of[d] = int(dls[d - lo])

    avgdl = se.avgdl
    out = []
    for w in winners:
        qid, url = int(w["query_id"]), w["url"]
        did = did_of_url[url]
        boosts = head.boosts.get(qid, {})
        for t in head.terms[qid]:
            tf = tf_of.get((t, did))
            if tf is None:
                continue
            df = head.df[t]
            # the scoring kernels' exact idf (operators/wand.idf_value),
            # boost folded in the same place search folds it
            idf = head.idf[t] * boosts.get(t, 1.0)
            dl = dl_of[did]
            contrib = idf * (BM25_K1 + 1.0) * (
                tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
            )
            out.append((qid, url, t, tf, df, contrib))
    out.sort()
    return local_df(spark, out, ddl)
