"""Score explanation: per-term BM25 contributions for a query's winners.

Lucene ``IndexSearcher.explain`` parity — the debuggability surface every
relevance engineer reaches for ("why does THIS doc outrank THAT one?"). The
reference has nothing comparable (its retrieval is an LLM prompt); a
self-serve engine needs it.

Plan shape (everything here is metadata-sized — winners are <= queries x k):

1. the ordinary ``search`` produces the winners (same plan, same results);
2. ONE url-pushed extracts scan maps winner urls back to (part_id,
   local_pos) -> docID (inverse of the winner lookup);
3. the winners' tf per query term and doc length come from search's own
   cell reader (``query._run_cells``): a per-cell function decodes the
   cell's slices of the terms' runs and its norms rows and keeps the
   winners' entries — on the driver, like the search itself, when the
   pruned inputs are small;
4. df comes from the query head's pruned term_stats read, n_docs/avgdl
   from meta — contributions recompute exactly the scoring kernels'
   formula, in the driver, over <= q x k x |terms| rows.

The invariant pinned by the twin: per-term contributions SUM to the score
``search`` ranked by (floored at 1e-6 like everything else).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..functions.tokenizer import BM25_B, BM25_K1
from ..operators.codec import vb_decode
from ..operators.runfmt import decode_run
from ..operators.wand import assemble_cell_runs
from ..session import local_df
from .query import _query_head, _run_cells, _url_doc_ids, get_searcher

_TF_DL = pa.schema(
    [("term", pa.string()), ("doc_id", pa.int64()), ("tf", pa.int64()), ("dl", pa.int64())]
)


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
    empty = se._empty_df(ddl)
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

    dids = np.asarray(list(did_of_url.values()), dtype=np.int64)

    def tf_dl_cell(slices_pdf: pd.DataFrame, norms_pdf) -> pd.DataFrame:
        """(term, doc_id, tf, dl) of the winners in one cell."""
        out = {name: [] for name in _TF_DL.names}
        if slices_pdf.empty or norms_pdf.empty:
            return pd.DataFrame(out)
        nrows = norms_pdf.sort_values("first_doc")
        lo = int(nrows["first_doc"].iloc[0])
        dl = np.concatenate([vb_decode(bytes(b)) for b in nrows["dl_blob"]])
        for t, run in assemble_cell_runs(slices_pdf).items():
            docs, tfs = decode_run(run)
            hit = np.isin(docs.astype(np.int64), dids)
            out["term"] += [t] * int(hit.sum())
            out["doc_id"] += docs[hit].tolist()
            out["tf"] += tfs[hit].tolist()
            out["dl"] += dl[docs[hit].astype(np.int64) - lo].tolist()
        return pd.DataFrame(out)

    rows = _run_cells(se, present, tf_dl_cell, _TF_DL, local=True)
    if isinstance(rows, DataFrame):  # the distributed stage or Iceberg
        rows = rows.collect()
    tf_of = {(r["term"], int(r["doc_id"])): int(r["tf"]) for r in rows}
    dl_of = {int(r["doc_id"]): int(r["dl"]) for r in rows}

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
