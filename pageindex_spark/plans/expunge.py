"""Physical delete application for BATCH-built indexes (journaled swap).

Completes the delete lifecycle of ``plans/deletes.py`` for indexes built by
``plans/build_index.py``: streamed indexes expunge through
``refresh_streamed_index(force_full=True)`` (they re-fold from their own
committed segments); a batch index has no retained segments, so its expunge
rewrites the committed relations IN PLACE — postings masked run-by-run
(``operators.compaction.mask_deleted_runs``, map-only: untouched runs pass
through as raw Arrow buffers, no shuffle at any corpus size), term_stats/df
recomputed from the masked postings, deleted text rows dropped from
docs_extracted, and n_docs/avgdl recomputed over survivors. The reference
has no mutation story at all (its index is a rebuild-from-scratch JSON tree,
``/root/reference/pageindex/utils.py``); this is the Lucene
``forceMergeDeletes`` equivalent, at a fraction of a rebuild's cost because
only runs that intersect the deleted docID ranges are decoded.

DocIDs are NOT renumbered (grid and norms are byte-untouched — dead slots
keep their dl padding, harmless because their postings are gone), so
surviving docIDs stay stable across expunges; ``meta['n_slots']`` records
the positional space once it diverges from the live ``n_docs``.

Crash safety — the swap is journaled (write-ahead intent), because unlike
the streamed/batch BUILDS (whose commit point is a single meta.json rename)
an in-place expunge must replace THREE committed directories:

1. All replacement relations are fully written under ``expunge_tmp/`` first.
   A crash here leaves the old index byte-intact (tombstone masking keeps
   serving exact results); the orphan tmp dir is GC'd by the next expunge.
2. ``expunge_journal.json`` is committed by atomic rename. It carries the
   complete post-expunge meta and the relation list — everything redo needs.
   THIS is the point of no return: from here the expunge WILL happen.
3. Each relation is swapped (rmtree old, rename tmp). Then meta.json is
   rewritten (deletes cleared, survivor stats), tombstones GC'd, and the
   journal removed — in that order, each step idempotent.

``recover_expunge`` redoes phase 3 from the journal; it runs at the top of
every ``Searcher`` construction, ``delete_docs`` and ``expunge_index``, so
a half-swapped index is invisible to readers (a reader either finds no
journal — old index + tombstones — or finds one and completes the swap
before reading meta).

Block-max validity across the stats change: surviving blocks keep their
recorded ``bm_maxq``, computed against the BUILD-time avgdl. Expunge can
only GROW avgdl (when deletions skew short), and ``tf/(tf+K(dl,a))`` grows
with ``a`` — bounded by ``q(a') <= q(a) * a'/a`` (proof: ``K(a') >= (a/a')
K(a)`` termwise, so ``tf+K(a') >= (a/a')(tf+K(a))``). The query kernel
therefore inflates block bounds by ``bound_scale = max(1, avgdl /
meta['bound_avgdl'])`` — bounds stay upper bounds (exact results), merely
that factor looser, and untouched postings bytes never need rewriting.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.compaction import (
    mask_deleted_runs,
    term_stats_from_runs,
    with_term_bucket,
)
from ..session import local_df
from ..sources.tables import read_meta, write_meta
from .build_index import FORMAT_VERSION, IndexPaths
from .deletes import gc_stale_tombstones, read_tombstones

JOURNAL = "expunge_journal.json"
TMP_DIRNAME = "expunge_tmp"
_RELATIONS = ("postings", "term_stats", "docs_extracted")


def _apply_swap(index_dir: str, journal: dict) -> None:
    """Phase 3 (idempotent redo unit): swap each relation whose tmp dir
    still exists, commit the journaled meta, GC tombstones, drop the
    journal. Safe to re-run from any interruption point."""
    tmp_root = os.path.join(index_dir, TMP_DIRNAME)
    for rel in journal["relations"]:
        tmp = os.path.join(tmp_root, rel)
        if os.path.isdir(tmp):  # missing => this rel already swapped
            final = os.path.join(index_dir, rel)
            shutil.rmtree(final, ignore_errors=True)
            os.rename(tmp, final)
    write_meta(index_dir, journal["meta"])
    gc_stale_tombstones(index_dir, set())
    # stale positional sidecar (if any): journaled meta has no "positions"
    shutil.rmtree(os.path.join(index_dir, "positions"), ignore_errors=True)
    jpath = os.path.join(index_dir, JOURNAL)
    if os.path.exists(jpath):
        os.remove(jpath)
    shutil.rmtree(tmp_root, ignore_errors=True)


def recover_expunge(index_dir: str) -> bool:
    """Finish a crashed expunge swap (no-op without a committed journal).
    Returns True when a redo ran. Called by every index-opening path so
    half-swapped state is unreadable by construction."""
    jpath = os.path.join(index_dir, JOURNAL)
    if not os.path.exists(jpath):
        return False
    with open(jpath) as f:
        journal = json.load(f)
    _apply_swap(index_dir, journal)
    return True


def expunge_index(spark: SparkSession, index_dir: str) -> dict:
    """Physically remove all tombstoned docs from a batch-built index.
    No-op (returns current meta) when nothing is deleted. Returns the
    committed post-expunge meta. See module docstring for the protocol."""
    recover_expunge(index_dir)
    meta = read_meta(index_dir)
    deletes = meta.get("deletes") or {}
    if int(deletes.get("n_deleted", 0)) == 0:
        return meta
    if "streamed" in meta:
        raise ValueError(
            "streamed index: expunge via refresh_streamed_index("
            "force_full=True), which re-folds from the retained segments"
        )
    if meta.get("storage") == "iceberg":
        raise NotImplementedError(
            "iceberg-backed postings expunge through the table's own "
            "rewrite_data_files; not wired in this offline sandbox"
        )
    if int(meta.get("format_version", 0)) != FORMAT_VERSION:
        raise ValueError(
            f"index format_version={meta.get('format_version')} != "
            f"{FORMAT_VERSION}; rebuild instead of expunging across formats"
        )

    paths = IndexPaths(index_dir)
    tmp_root = os.path.join(index_dir, TMP_DIRNAME)
    shutil.rmtree(tmp_root, ignore_errors=True)  # GC a pre-journal crash
    tomb = read_tombstones(spark, index_dir, meta).select("url", "doc_id")
    pairs = tomb.collect()  # O(deleted) — same bound as the Searcher mask
    deleted_ids = sorted(int(r["doc_id"]) for r in pairs)
    dead_urls = local_df(spark, [(r["url"],) for r in pairs], "url string")
    n_buckets = int(meta["n_buckets"])

    # -- phase 1: write every replacement relation under expunge_tmp/ ------
    tmp = {rel: os.path.join(tmp_root, rel) for rel in _RELATIONS}
    runs = spark.read.parquet(paths.postings).drop("bucket")
    masked = with_term_bucket(mask_deleted_runs(runs, deleted_ids), n_buckets)
    masked.write.mode("overwrite").partitionBy("bucket").parquet(tmp["postings"])
    # stats derive from the WRITTEN masked runs (column-pruned metadata
    # read, never blobs) — recomputing from `masked` would re-execute the
    # whole masking pass (same rule as build_index's compact stage).
    ts = with_term_bucket(
        term_stats_from_runs(spark.read.parquet(tmp["postings"]).drop("bucket")),
        n_buckets,
    )
    ts.write.mode("overwrite").partitionBy("bucket").parquet(tmp["term_stats"])
    (
        spark.read.parquet(paths.docs_extracted)
        .join(F.broadcast(dead_urls), "url", "left_anti")
        .select("part_id", "local_pos", "url", "text", "doc_len")
        .write.mode("overwrite")
        .partitionBy("part_id")
        .parquet(tmp["docs_extracted"])
    )
    row = (
        spark.read.parquet(tmp["docs_extracted"])
        .agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"))
        .collect()[0]
    )

    # "positions" also drops: the sidecar snapshots the pre-expunge corpus
    # (plans/positions.py staleness rule); _apply_swap removes its dir.
    new_meta = {k: v for k, v in meta.items() if k not in ("deletes", "positions")}
    new_meta["n_docs"] = int(row["n"])
    new_meta["avgdl"] = float(row["avgdl"] or 0.0)
    # positional docID space (grid slots): diverges from n_docs now; the
    # committed bm_maxq bounds were computed against the ORIGINAL build
    # avgdl — record it so the query kernel can inflate bounds when the
    # live avgdl grows past it (module docstring).
    new_meta["n_slots"] = int(meta.get("n_slots", meta["n_docs"]))
    new_meta["bound_avgdl"] = float(meta.get("bound_avgdl", meta["avgdl"]))

    # -- phase 2: journal = the commit point ---------------------------------
    journal = {"relations": list(_RELATIONS), "meta": new_meta}
    jtmp = os.path.join(index_dir, JOURNAL + ".tmp")
    with open(jtmp, "w") as f:
        json.dump(journal, f, indent=2, sort_keys=True)
    os.replace(jtmp, os.path.join(index_dir, JOURNAL))

    # -- phase 3: swap + meta + GC (idempotent; redone on crash) ------------
    _apply_swap(index_dir, journal)
    return new_meta
