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
4. doc lengths come from the winners' norms partitions, df from the pruned
   term_stats read, n_docs/avgdl from meta — contributions recompute
   exactly the scoring kernels' formula, in the driver, over <= q x k x
   |terms| rows.

The invariant pinned by the twin: per-term contributions SUM to the score
``search`` ranked by (floored at 1e-6 like everything else).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import BM25_B, BM25_K1, parse_boost_query, parse_query, tokenize
from ..operators.codec import vb_decode
from ..operators.runfmt import decode_run
from ..operators.wand import idf_value
from ..sources.tables import read_index_runs
from .query import _ensure_idf, get_searcher


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
    empty = spark.createDataFrame(
        [], "query_id int, url string, term string, tf long, df long, contrib double"
    )
    if not winners:
        return empty
    urls = sorted({r["url"] for r in winners})

    # url -> docID (inverse winner lookup: one url-pushed, column-pruned scan)
    ext = (
        spark.read.parquet(se.paths.docs_extracted)
        .filter(F.col("url").isin(urls))
        .select("part_id", "local_pos", "url")
        .collect()
    )
    grid = se.grid_parts
    did_of_url = {
        r["url"]: int(grid[int(r["part_id"])]) + int(r["local_pos"]) for r in ext
    }

    # per-query positive terms + boosts (identical parsing to search)
    qinfo: dict[int, tuple[list[str], dict[str, float]]] = {}
    for qid, text in queries:
        txt, boosts = parse_boost_query(text)
        pos, _negs = parse_query(txt)
        qinfo[qid] = (sorted(set(tokenize(pos))), boosts)
    terms = sorted({t for ts, _ in qinfo.values() for t in ts})
    _ensure_idf(se, terms)
    present = [t for t in terms if se._idf_cache[t] is not None]
    if not present:
        return empty

    # df per term (the idf cache stores idf; explain surfaces the raw df)
    from ..functions.murmur3 import term_bucket

    buckets = sorted({term_bucket(t, se.n_buckets) for t in present})
    ts = se.term_dictionary()
    df_of = {
        r["term"]: int(r["df"])
        for r in ts.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(present)
        )
        .select("term", "df")
        .collect()
    }

    # runs metadata (column-pruned) -> only runs spanning a winner fetch blobs
    runs_meta = read_index_runs(
        spark, se.paths.postings, se.n_buckets, se.iceberg_table
    ).filter(F.col("bucket").isin(buckets) & F.col("term").isin(present))
    if se.committed_deltas is not None:
        runs_meta = runs_meta.filter(F.col("delta").isin(se.committed_deltas))
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

    n_docs, avgdl = se.n_docs, se.avgdl
    out = []
    for w in winners:
        qid, url = int(w["query_id"]), w["url"]
        did = did_of_url[url]
        qts, boosts = qinfo[qid]
        for t in qts:
            tf = tf_of.get((t, did))
            if tf is None:
                continue
            df = df_of[t]
            # the scoring kernels' exact idf (operators/wand.idf_value),
            # boost folded in the same place search folds it
            idf = idf_value(n_docs, df) * boosts.get(t, 1.0)
            dl = dl_of[did]
            contrib = idf * (BM25_K1 + 1.0) * (
                tf / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
            )
            out.append((qid, url, t, tf, df, contrib))
    out.sort()
    return spark.createDataFrame(
        out, "query_id int, url string, term string, tf long, df long, contrib double"
    )
