"""Document deletes: versioned tombstones + query-time masking + expunge.

Lucene-model delete lifecycle over a committed index (batch-built OR
streamed) — the reference has no mutation story at all (its index is a
rebuilt-from-scratch JSON tree, ``/root/reference/pageindex/utils.py``), but
any 100 TB corpus serves recrawls and right-to-be-forgotten requests, so
deletes are a first-class index operation here:

1. ``delete_docs(spark, index_dir, urls)`` resolves stable URL keys to the
   index's docIDs (one column-pruned, predicate-pushed scan over
   ``docs_extracted`` — url/part_id/local_pos only, text never read) and
   commits the CUMULATIVE deleted set as a new ``tombstones/version=V``
   relation. The ``meta.json`` rewrite (atomic rename) is the commit point:
   a crash after the tombstone write but before the meta rewrite leaves the
   new version dir invisible (readers resolve the version FROM meta), and
   the next ``delete_docs`` GCs it. Re-deleting an already-deleted URL is a
   no-op that commits NO new version (idempotence).

2. Query-time masking is immediate and exact: the ``Searcher`` loads the
   committed tombstone docIDs and every scoring kernel
   (``bmw_score_cell`` / ``dense_score_cell`` / ``conjunctive_score_cell``)
   masks them PRE-HEAP, so a deleted doc can never displace a survivor from
   the top-k. Survivors' scores are byte-identical to before the delete:
   df/avgdl/n_docs stay at the committed values until an expunge — exactly
   Lucene's stale-stats-until-merge semantics, and the reason masking needs
   no index rewrite on the serving path.

3. Physical removal ("expunge") re-tightens everything: postings runs are
   rewritten WITHOUT the deleted docs by ``operators.compaction.
   mask_deleted_runs`` — a MAP-ONLY pass (no shuffle at any scale; untouched
   runs pass through as raw Arrow buffers) — term_stats/df recomputed from
   the masked postings, n_docs/avgdl recomputed over survivors, and the
   deleted docs' text rows dropped from ``docs_extracted``. DocIDs are NOT
   renumbered: the grid keeps its slots and surviving docIDs stay stable
   (norms dl arrays keep dead positions as padding — lengths only, no
   content), so committed postings bytes for unaffected runs are never
   rewritten. For streamed indexes this runs inside
   ``refresh_streamed_index(force_full=True)``; for batch indexes the
   re-tighten is a ``build_index`` over the filtered corpus (documented,
   same cost class as Lucene's forceMerge).

Scale: the tombstone relation is O(deleted docs) — percent-scale of the
corpus in practice. The Searcher materializes the committed version
driver-side and broadcasts it once per search (Lucene holds per-segment
delete bitsets in RAM the same way); if the deleted fraction ever grows
past broadcast size, the documented upgrade is a (cell -> deleted docIDs)
side relation cogrouped with the norms — same plan shape, no new shuffle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df
from ..sources.tables import read_meta, write_meta
from .build_index import IndexPaths

TOMBSTONES_DIRNAME = "tombstones"


def tombstones_dir(index_dir: str, version: int) -> str:
    return os.path.join(index_dir, TOMBSTONES_DIRNAME, f"version={int(version)}")


def read_tombstones(
    spark: SparkSession, index_dir: str, meta: dict | None = None
) -> DataFrame | None:
    """The COMMITTED tombstone set (url, doc_id), or None when the index
    has no deletes. Only the version recorded in meta is readable — a
    crashed delete's version dir is invisible by construction."""
    meta = meta if meta is not None else read_meta(index_dir)
    d = meta.get("deletes") or {}
    if "version" not in d:
        return None
    return spark.read.parquet(tombstones_dir(index_dir, int(d["version"])))


def gc_stale_tombstones(index_dir: str, keep: set[int]) -> None:
    """Drop tombstone version dirs not in ``keep`` (crashed deletes, or
    superseded versions after a commit/expunge)."""
    root = os.path.join(index_dir, TOMBSTONES_DIRNAME)
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        if name.startswith("version=") and int(name.split("=", 1)[1]) not in keep:
            shutil.rmtree(os.path.join(root, name))
    if not os.listdir(root):  # expunge clears every version: drop the root
        os.rmdir(root)


def delete_docs(
    spark: SparkSession, index_dir: str, urls: list[str] | DataFrame
) -> dict:
    """Mark documents deleted by URL (the stable key — docIDs are an index
    artifact). Returns the committed ``meta['deletes']`` dict:
    ``{"version": V, "n_deleted": total}``. URLs not present in the index
    are ignored (delete-by-key over a corpus that may have never crawled
    them). See module docstring for crash/idempotence semantics."""
    from .expunge import recover_expunge  # local: expunge imports this module

    recover_expunge(index_dir)
    meta = read_meta(index_dir)
    old = meta.get("deletes") or {}
    committed_version = int(old["version"]) if "version" in old else None
    # GC version dirs a crashed earlier delete left behind.
    gc_stale_tombstones(
        index_dir,
        {committed_version} if committed_version is not None else set(),
    )
    if isinstance(urls, DataFrame):
        urls_df = urls.select("url").distinct()
    else:
        urls_df = local_df(spark, [(u,) for u in urls], "url string").distinct()

    paths = IndexPaths(index_dir)
    # docID = grid[part_id] + local_pos — the same mapping the winner
    # lookup inverts. The offsets side is P rows (driver-known grid), the
    # urls side is the delete request: both broadcast; the corpus scan is
    # column-pruned to (url, part_id, local_pos).
    offsets = local_df(
        spark,
        [(p, int(g)) for p, g in enumerate(meta["grid"])],
        "part_id int, offset long",
    )
    resolved = (
        spark.read.parquet(paths.docs_extracted)
        .select(F.col("part_id").cast("int").alias("part_id"), "local_pos", "url")
        .join(F.broadcast(urls_df), "url")
        .join(F.broadcast(offsets), "part_id")
        .select(
            "url",
            (F.col("offset") + F.col("local_pos")).cast("long").alias("doc_id"),
        )
    )
    prior = read_tombstones(spark, index_dir, meta)
    merged = (
        resolved
        if prior is None
        else prior.select("url", "doc_id").unionByName(resolved).dropDuplicates(
            ["doc_id"]
        )
    )
    n_total = merged.count()
    n_prior = int(old.get("n_deleted", 0))
    if prior is not None and n_total == n_prior:
        return dict(old)  # nothing new — no version churn, idempotent
    new_version = (committed_version or 0) + 1
    merged.write.mode("overwrite").parquet(tombstones_dir(index_dir, new_version))
    meta["deletes"] = {"version": new_version, "n_deleted": int(n_total)}
    write_meta(index_dir, meta)  # atomic commit point
    gc_stale_tombstones(index_dir, {new_version})
    return dict(meta["deletes"])


def delete_matching(
    spark: SparkSession, index_dir: str, query_text: str
) -> dict:
    """Tombstone EVERY document containing all of ``query_text``'s terms
    (conjunctive delete-by-content — the right-to-be-forgotten shape;
    Lucene ``deleteByQuery`` parity). Cost is one map-only codegen scan of
    the extracts (tokenize + array_contains conjunction — no index decode,
    no shuffle, no top-k cap), then the ordinary ``delete_docs`` commit;
    all crash/idempotence semantics inherit from it. An empty or
    corpus-absent query deletes nothing."""
    from ..functions.sqlglue import spark_terms
    from ..functions.tokenizer import tokenize

    terms = sorted(set(tokenize(query_text)))
    meta = read_meta(index_dir)
    if not terms:
        return dict(meta.get("deletes") or {})
    paths = IndexPaths(index_dir)
    cond = F.lit(True)
    for t in terms:
        cond = cond & F.array_contains(F.col("_tk"), t)
    matching = (
        spark.read.parquet(paths.docs_extracted)
        .select("url", F.expr(spark_terms("text")).alias("_tk"))
        .filter(cond)
        .select("url")
    )
    return delete_docs(spark, index_dir, matching)
