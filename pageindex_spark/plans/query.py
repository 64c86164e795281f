"""Query plan: BM25 top-k search over the built index.

Physical plan (north_star query path; SURVEY.md §3.3 target mapping):

1. **Pruned scan** — postings read ONLY the term-hash buckets of the query's
   terms (directory/partition pruning) and filter term IN (...) (row-group
   pruning via parquet min/max on the sorted term column).
2. **Slice (zero decode)** — each run splits into docID-grid cells by byte
   slicing whole blocks (`wand.slice_run_to_cells`).
3. **Per-cell scoring, one stage** — `_score_cells` reads a contiguous range
   of cells' runs and norms with pyarrow, slices them and runs Block-Max
   WAND (or the dense verifier) per query per cell; it emits per-cell top-k.
   The local path runs it on the driver over every cell; the distributed
   path runs it in one ``mapInArrow`` task per range of cells (no shuffle).
4. **Global top-k merge** — window rank over (score desc, doc_id asc), tiny
   input (cells x queries x k); then one join to doc_map for urls (runtime-
   filtered by the tiny candidate set).

Queries ship to executors inside the kernel closure as a list of
(query_id, [(term, idf)]); idf comes from the pruned term_stats read, so
executors never see global state beyond (n_docs, avgdl).
"""

from __future__ import annotations

import functools
import math
import os
import re
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.murmur3 import term_bucket
from ..functions.tokenizer import (
    BM25_B,
    BM25_K1,
    parse_boost_query,
    parse_query,
    tokenize,
)
from ..operators.compaction import run_from_row
from ..operators.runfmt import decode_run
from ..operators.wand import (
    CellNorms,
    assemble_cell_runs,
    bmw_score_cell,
    conjunctive_score_cell,
    dense_score_cell,
    idf_value,
    msm_score_cell,
    slice_run_to_cells,
)
from ..session import local_df
from ..sources.tables import read_index_runs, read_meta
from .build_index import IndexPaths

_SLICE_FIELDS = [
    ("cell", pa.int32()),
    ("term", pa.string()),
    ("first_doc", pa.int64()),
    ("last_doc", pa.int64()),
    ("n_docs", pa.int64()),
    ("doc_blob", pa.binary()),
    ("tf_blob", pa.binary()),
    ("bm_last", pa.list_(pa.int64())),
    ("bm_maxq", pa.list_(pa.float64())),
    ("bm_doc_off", pa.list_(pa.int32())),
    ("bm_tf_off", pa.list_(pa.int32())),
    ("bm_ndocs", pa.list_(pa.int32())),
]
_SLICE_PA = pa.schema([pa.field(n, t) for n, t in _SLICE_FIELDS])
_SLICE_DDL = (
    "cell int, term string, first_doc long, last_doc long, n_docs long, "
    "doc_blob binary, tf_blob binary, bm_last array<long>, bm_maxq array<double>, "
    "bm_doc_off array<int>, bm_tf_off array<int>, bm_ndocs array<int>"
)


# prune_norms auto threshold (Iceberg-stored postings only: their norms
# cogroup side is O(n_docs) bytes per batch, and from about this corpus size
# on the extra metadata job that prunes it pays). Results are identical
# either way (pinned by test_prune_norms_auto_identity).
PRUNE_NORMS_AUTO_MIN_DOCS = 5_000_000

# Extra per-cell candidates kept in fixed_point mode. PROBABILISTIC (ADVICE
# r2): per-cell heaps truncate by RAW score, so if more than tie_margin docs
# in one cell share the floored 1e-6 value exactly at the cut, a smaller
# doc_id tie winner can be dropped and ranks diverge from the oracle. 16 is
# far beyond any tie multiplicity observed in the fixtures; raise per-call
# via ``tie_margin=`` when a corpus has pathological score collisions.
FIXED_POINT_TIE_MARGIN = 16


class Searcher:
    """Warm handle over a built index: holds the meta (and, on first use,
    the norms relation), computes term buckets driver-side
    (Spark-compatible murmur3 in Python — no job), and prunes every read to
    the query's buckets."""

    def __init__(
        self, spark: SparkSession, index_dir: str, cell_parts: int = 4, cache: bool = True
    ):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        # Finish a crashed expunge swap before reading anything (the
        # journal is the commit point — plans/expunge.py): a reader either
        # sees the pre-journal index or the fully swapped one, never half.
        from .expunge import recover_expunge

        recover_expunge(index_dir)
        self.meta = read_meta(index_dir)
        self.n_docs = int(self.meta["n_docs"])
        self.avgdl = float(self.meta["avgdl"])
        # Block-max validity across expunge-driven avgdl growth: committed
        # bm_maxq bounds were computed at bound_avgdl; inflate by the ratio
        # when the live avgdl grew past it (plans/expunge.py docstring).
        _ba = float(self.meta.get("bound_avgdl", self.avgdl))
        self.bound_scale = max(1.0, self.avgdl / _ba) if _ba > 0 else 1.0
        self.n_buckets = int(self.meta["n_buckets"])
        # Read postings through the storage branch they were written with
        # (ADVICE r2): parquet shim by default, the Iceberg table when the
        # build recorded one.
        self.iceberg_table = (
            self.meta.get("iceberg_table")
            if self.meta.get("storage") == "iceberg"
            else None
        )
        self.grid_parts = np.asarray(self.meta["grid"], dtype=np.int64)
        self.cell_parts = cell_parts
        self.cell_grid = self.grid_parts[::cell_parts].copy()
        # Streamed indexes version postings/norms/term_stats under delta=G
        # dirs; only the deltas recorded in the committed meta are readable
        # (ADVICE r4 medium: a refresh that crashed between its delta write
        # and the meta commit must stay INVISIBLE — its runs hold docIDs
        # beyond the committed grid/norms, so scoring them would read out of
        # bounds). None on batch indexes (no delta partitioning).
        streamed = self.meta.get("streamed") or {}
        self.committed_deltas: list[int] | None = (
            sorted(int(d) for d in streamed["deltas"])
            if "deltas" in streamed
            else None
        )
        # Tombstoned docIDs (plans/deletes.py): materialized driver-side
        # from the COMMITTED version only and masked pre-heap in every
        # scoring kernel (_CellMask). O(deleted) memory — the Lucene
        # delete-bitset trade. Kernels capture the sorted array as a plain
        # closure value; PySpark ships any UDF command over its broadcast
        # threshold (1 MB) as a broadcast on its own.
        deletes = self.meta.get("deletes") or {}
        self.deleted_ids: np.ndarray | None = None
        if int(deletes.get("n_deleted", 0)) > 0:
            from .deletes import tombstones_dir

            rows = (
                spark.read.parquet(
                    tombstones_dir(index_dir, int(deletes["version"]))
                )
                .select("doc_id")
                .collect()
            )
            self.deleted_ids = np.sort(
                np.asarray([r["doc_id"] for r in rows], dtype=np.int64)
            )
        self._cache_norms = cache
        # df per term, filled lazily from pruned term_stats reads. Sound
        # because a Searcher is pinned to one immutable index version
        # (get_searcher keys on meta.json mtime). Repeat-term queries skip
        # the term_stats job entirely — one fewer sequential Spark job on
        # the latency path (real workloads repeat query terms heavily).
        # Entries are per-queried-term, so the cache stays O(distinct terms
        # asked), never O(vocabulary).
        self._df_cache: dict[str, int | None] = {}
        # Empty-result DataFrames, cached per Searcher and keyed by DDL.
        # Each is an Arrow LocalRelation (`local_df`), so collecting one
        # runs no Spark job; the cache saves the Arrow hand-over to the
        # JVM that building one costs per search() call.
        self._empty_cache: dict[str, DataFrame] = {}
        # local-path caches (a Searcher is pinned to one index version):
        # norms on-disk size and, once the local path runs, the norms rows.
        self._norms_disk_bytes: int | None = None
        self._norms_pdf = None

    @functools.cached_property
    def norms(self) -> DataFrame:
        """The committed norms as a Spark relation with each row's cell,
        built on first use: only explain and the Iceberg cogroup read it
        (parquet searches read norms rows with pyarrow). Cached unless the
        Searcher was opened with cache=False, since it is O(n_docs) bytes."""
        norms = self.spark.read.parquet(self.paths.norms)
        if self.committed_deltas is not None:
            norms = norms.filter(
                F.col("delta").isin(self.committed_deltas)
            ).drop("delta")
        norms = norms.withColumn(
            "cell", (F.col("part_id") / self.cell_parts).cast("int")
        )
        return norms.cache() if self._cache_norms else norms

    def _empty_df(self, schema: str) -> DataFrame:
        if schema not in self._empty_cache:
            self._empty_cache[schema] = local_df(self.spark, [], schema)
        return self._empty_cache[schema]

    def term_dictionary(self) -> DataFrame:
        """The committed term dictionary (term, df, bucket) as a Spark scan,
        for the Spark plans that consume it (``hits.index_stats``,
        ``term_vectors``, ``significant_terms``, ``index_vocab_hll``);
        reads whose result ends on the driver use ``_read_dictionary``.
        Streamed indexes version term_stats per refresh; the committed max
        delta holds the full recompute (a crashed refresh's delta would
        carry uncommitted docs' df)."""
        ts = self.spark.read.parquet(self.paths.term_stats)
        if self.committed_deltas is not None:
            ts = ts.filter(F.col("delta") == max(self.committed_deltas))
        return ts

    def postings_runs(self, terms: list[str]) -> DataFrame:
        """The committed postings runs of ``terms`` as a Spark scan, read
        only for Iceberg-stored postings (``_run_cells``, ``_touched_parts``)
        and by explain; parquet queries read runs with pyarrow. The scan
        reads only the terms' hash-bucket dirs (partition pruning), pushes
        the term list to parquet row groups, and on streamed indexes keeps
        only the committed deltas (a crashed refresh's runs hold docIDs
        beyond the committed grid and norms)."""
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        runs = read_index_runs(
            self.spark, self.paths.postings, self.n_buckets, self.iceberg_table
        ).filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        if self.committed_deltas is not None:
            runs = runs.filter(F.col("delta").isin(self.committed_deltas))
        return runs

    def search(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        mode: str = "bmw",
        fixed_point: bool = False,
        with_text: bool = False,
        tie_margin: int = FIXED_POINT_TIE_MARGIN,
        prune_norms: bool | None = None,
        min_match: int = 2,
        offset: int = 0,
        filter_urls: DataFrame | None = None,
        k1: float | None = None,
        b: float | None = None,
        search_after: dict[int, tuple[int, str]] | None = None,
    ) -> DataFrame:
        return _search_impl(
            self, queries, k, mode, fixed_point, with_text, tie_margin,
            prune_norms, min_match, offset, filter_urls, k1, b,
            search_after=search_after,
        )


_SEARCHERS: dict[tuple, Searcher] = {}


def get_searcher(spark: SparkSession, index_dir: str, cell_parts: int = 4) -> Searcher:
    import os as _os

    mtime = _os.path.getmtime(_os.path.join(index_dir, "meta.json"))
    key = (id(spark), index_dir, cell_parts, mtime)
    if key not in _SEARCHERS:
        _SEARCHERS[key] = Searcher(spark, index_dir, cell_parts)
    return _SEARCHERS[key]


def search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    mode: str = "bmw",
    cell_parts: int = 4,
    fixed_point: bool = False,
    with_text: bool = False,
    prune_norms: bool | None = None,
    min_match: int = 2,
    offset: int = 0,
    filter_urls: DataFrame | None = None,
    k1: float | None = None,
    b: float | None = None,
    search_after: dict[int, tuple[int, str]] | None = None,
) -> DataFrame:
    """Top-k BM25 over the index: -> (query_id, rank, url, score[, text]).

    ``search_after`` is CURSOR paging (Elasticsearch ``search_after`` — the
    scale-correct alternative to ``offset``): per query_id, the
    ``(score6, url)`` sort values of the last row already consumed (score6
    = ``floor(score * 1e6)``, exactly the fixed-point rank key), and the
    next ``k`` results STRICTLY past that cursor in the global
    (score6 desc, url asc) order return with page-relative ranks 1..k.
    Unlike ``offset`` — whose per-cell heaps must deepen to offset+k, so
    page 1000 costs 1000x page 1 — cursor paging keeps every heap at
    k + tie_margin no matter how deep the page: the cursor is an ADMISSION
    predicate evaluated pre-heap in every kernel (BMW scores a pivot, then
    discards it un-offered if it sorts at-or-before the cursor; the dense
    kernels mask scored candidates the same way), the fourth channel of
    the engine-wide pre-heap contract after tombstones, '-term' negations
    and ``filter_urls``. Exactness: admission only removes candidates that
    sort at-or-before the cursor, and every admissible doc still scores
    corpus-wide stats — so page N+1 is exactly what the offset-paged query
    would return at the same depth (pinned by test). Requires
    ``fixed_point=True`` (the cursor is defined over the floored key; a
    raw-float cursor would not survive the engine/oracle boundary) and is
    mutually exclusive with ``offset``. Cursor urls must exist in the
    index (they came from a previous page) — unknown urls raise. Queries
    absent from the dict page from the top (their first page).

    ``k1`` / ``b`` override the BM25 similarity parameters for THIS query
    batch only (Lucene per-field similarity config / Elasticsearch
    ``similarity`` settings; defaults k1=1.2, b=0.75 are the index-wide
    constants every committed byte was built with). Overrides touch no
    committed bytes: the exhaustive kernels simply evaluate the formula at
    (k1, b), and BMW stays exact because the build-time block-max bounds
    inflate by the provable parameter factor (_param_bound_scale — looser
    pruning, identical results). Requires k1 > 0 and 0 <= b <= 1 (the
    proof's domain); b=0 (length normalization off) is served via the
    score <= idf*(k1+1) cap instead of a finite factor.

    ``filter_urls`` (a DataFrame with a ``url`` column) runs the whole
    batch as a FILTERED search — Lucene filter-context / Elasticsearch
    ``filter`` clause semantics: only documents in the set may rank, but
    the filter never touches scoring (df/avgdl/n_docs stay corpus-wide, so
    a doc that passes scores identically to the unfiltered query — the
    filter is a predicate, not a signal). The set resolves to docIDs with
    ONE column-pruned broadcast-joined scan of the extracts and masks
    candidates PRE-HEAP through the same exclusion contract as tombstones
    and '-term' negations; cells containing no filtered doc are skipped
    before any postings decode. The resolved set is O(filter) driver
    memory — right for selective attribute filters (language, domain
    whitelists, date slices); a filter near corpus size should instead be
    expunged into its own index, or read per cell by the scoring tasks
    (same upgrade path as the tombstone note in plans/deletes.py).

    ``offset`` pages past the first results (ranks offset+1..offset+k,
    absolute ranks preserved): per-cell heaps deepen to offset+k so page N
    is exactly what an offset-0 search would place there — the classic
    deep-paging cost model (Elasticsearch from/size), so keep offsets
    shallow and prefer larger k for exports.

    ``mode`` picks the matching semantics: ``"bmw"`` (default, Block-Max
    WAND OR), ``"dense"`` (exhaustive OR verifier), ``"conjunctive"`` (AND),
    or ``"msm"`` — minimum_should_match: docs matching at least
    ``min_match`` of the query's terms rank (Lucene ``minimumShouldMatch``;
    clamped to the query's term count, so one-term queries behave like OR
    and ``min_match >= n_terms`` like AND).

    ``fixed_point`` ranks over ``floor(score * 1e6)`` with doc_id tie-break
    (the CLAUDE.md invariant for cross-engine determinism — the DuckDB
    oracle ranks over the floored value); cells are asked for a small tie
    margin beyond k so docs straddling a 1e-6 cell never flip the cut.
    ``with_text`` also fetches the winners' extracted text (reference
    retrieval parity: /root/reference/pageindex/utils.py:554-564 returns
    node text, not just ids) — same pruned partition read, one extra column.

    ``prune_norms`` changes no scoring read on parquet indexes: each
    scoring task reads only its own cells' norms rows (the flag costs one
    driver-side read of the runs' docID ranges). Iceberg-stored postings
    still score through a slices/norms cogroup; there the flag filters the
    norms side to the build partitions the pruned runs touch (one
    metadata-only job) before it shuffles. Results are identical either
    way (pinned by test).
    """
    return get_searcher(spark, index_dir, cell_parts).search(
        queries, k, mode, fixed_point, with_text, prune_norms=prune_norms,
        min_match=min_match, offset=offset, filter_urls=filter_urls,
        k1=k1, b=b, search_after=search_after,
    )


def _adjacency_expr(
    tokens_col: str, terms: list[str], slop: int = 0, in_order: bool = True
):
    """JVM predicate: ``terms`` appears as an ORDERED subsequence of the
    token array within a window of ``slop`` extra tokens (slop=0 ==
    contiguous; the SpanNearQuery(inOrder=true) shape — a match is
    positions p_0 < ... < p_{n-1} with p_{n-1} - p_0 <= slop + n - 1).
    Codegen'd ``exists`` over positions, nested one level per term for
    slop > 0 (each level scans at most slop+1 candidate slots, so cost is
    O(len * (slop+1)^(n-1)) worst case — fine for human-sized queries); no
    Python UDF either way. Spark ``sequence(lo, hi)`` is DESCENDING when
    lo > hi, so every level guards its range explicitly.

    ``in_order=False`` is the SpanNearQuery(inOrder=false) shape: every
    (DISTINCT — callers enforce) term inside SOME ``slop + n``-token
    window, any order. Anchoring windows at occurrences of any term is
    exhaustive (a real match's minimal window starts at one), and distinct
    terms occupy distinct slots automatically; one ``exists`` per term
    over the fixed window, all codegen, window hi >= lo always."""
    n = len(terms)
    sz0 = f"size({tokens_col})"
    if not in_order:
        w = slop + n  # window length in tokens
        anchor = " or ".join(f"{tokens_col}[i0] = '{t}'" for t in terms)
        has = " and ".join(
            f"exists(sequence(i0, least(i0 + {w - 1}, {sz0} - 1)), "
            f"j{j} -> {tokens_col}[j{j}] = '{t}')"
            for j, t in enumerate(terms)
        )
        return F.expr(
            f"case when {sz0} >= {n} then "
            f"exists(sequence(0, {sz0} - 1), i0 -> ({anchor}) and {has}) "
            f"else false end"
        )
    if slop == 0:
        conds = " and ".join(
            f"{tokens_col}[i + {j}] = '{t}'" for j, t in enumerate(terms)
        )
        return F.expr(
            f"case when size({tokens_col}) >= {n} then "
            f"exists(sequence(0, size({tokens_col}) - {n}), i -> {conds}) "
            f"else false end"
        )
    sz = f"size({tokens_col})"

    def level(j: int) -> str:
        if j == n:
            return "true"
        # i{j} in (i{j-1}, min(i0 + slop + j, last slot leaving room for
        # the n-1-j terms still to place)]
        lo = f"i{j - 1} + 1"
        hi = f"least(i0 + {slop + j}, {sz} - {n - j})"
        inner = f"{tokens_col}[i{j}] = '{terms[j]}' and {level(j + 1)}"
        return (
            f"(case when {lo} <= {hi} then "
            f"exists(sequence({lo}, {hi}), i{j} -> {inner}) else false end)"
        )

    body = f"{tokens_col}[i0] = '{terms[0]}' and {level(1)}"
    return F.expr(
        f"case when {sz} >= {n} then "
        f"exists(sequence(0, {sz} - {n}), i0 -> {body}) else false end"
    )


def search_phrase(
    spark: SparkSession,
    index_dir: str,
    phrases: list[tuple[int, str]],
    k: int = 10,
    cand_cap: int = 1000,
    cell_parts: int = 4,
    fixed_point: bool = False,
    with_text: bool = False,
    prune_norms: bool | None = None,
    use_positions: bool | None = None,
    slop: int = 0,
    in_order: bool = True,
) -> DataFrame:
    """Top-k phrase search: docs where the phrase's tokens appear
    CONTIGUOUSLY (``slop=0``) or as an ORDERED subsequence within ``slop``
    extra tokens (Lucene SpanNearQuery(inOrder=true) / sloppy-phrase
    shape: a match is positions p_0 < ... < p_{n-1} with
    p_{n-1} - p_0 <= slop + n - 1), ranked by BM25 over the phrase terms
    -> (query_id, rank, url, score[, text]). Both verification paths
    accept any slop: the text path widens its codegen'd window predicate,
    the sidecar path runs a vectorized greedy chain (for each start
    position the minimal increasing chain is pointwise minimal, so
    checking its span is exact).

    ``in_order=False`` relaxes to SpanNearQuery(inOrder=false): every
    term inside SOME ``slop + n``-token window, ANY order. Unordered
    queries require DISTINCT terms (raised otherwise — with duplicates
    the distinct-slot requirement stops being automatic and both
    verification paths would need multiset matching; Lucene's own
    unordered spans are subtle there for the same reason).

    The index stores no positions (bag-of-words postings), so phrase
    matching is the classic two-stage plan: (1) CONJUNCTIVE candidates
    from the committed index — same pruned postings read and cell scoring
    as BM25, but the cell scorer intersects the phrase terms' postings
    (``conjunctive_score_cell``; exact per cell since cells partition
    docID space) — then (2) adjacency VERIFICATION on the candidates'
    text, distributed and codegen'd (tokenize + ``exists`` over
    positions, no Python). A term the index has never seen drops out of
    stage 1, widening candidates to a superset; stage 2 is the exact
    final filter either way. Results are exact whenever a query's
    conjunctive candidate count <= ``cand_cap`` (always, for phrases
    with at least one non-stopword term); an all-stopword phrase may
    truncate recall at the cap — raise ``cand_cap`` for those, or build
    the POSITIONS SIDECAR (``plans/positions.py``): when a current
    sidecar is committed (``use_positions=None`` auto-detects; True
    forces, False opts out), phrases run exact at any scale with no
    candidate cap and no text fetch, identical results where both paths
    are exact.
    """
    from .positions import phrase_search_positions, sidecar_ready

    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    if not in_order:
        for qid, text in phrases:
            ts = tokenize(text)
            if len(set(ts)) != len(ts):
                raise ValueError(
                    f"in_order=False requires distinct terms; query {qid} "
                    f"repeats a term: {ts}"
                )
    se = get_searcher(spark, index_dir, cell_parts)
    if use_positions is None:
        use_positions = sidecar_ready(se.meta, index_dir)
    if use_positions:
        return phrase_search_positions(
            se, phrases, k=k, fixed_point=fixed_point, with_text=with_text,
            slop=slop, in_order=in_order,
        )

    qterms = {qid: tokenize(text) for qid, text in phrases}
    preds = {
        qid: _adjacency_expr("tk", terms, slop, in_order)
        for qid, terms in qterms.items()
        if terms
    }
    return _verified_topk(
        se, phrases, preds, k, cand_cap, fixed_point,
        with_text=with_text, prune_norms=prune_norms,
    )


def _verified_topk(
    se: Searcher,
    cand_queries: list[tuple[int, str]],
    preds: dict[int, Column],
    k: int,
    cand_cap: int,
    fixed_point: bool,
    with_text: bool = False,
    prune_norms: bool | None = None,
) -> DataFrame:
    """Shared plan of the text-verified positional variants (phrase,
    phrase prefix, span_first, span_not, intervals): conjunctive
    candidates through the standard pruned-postings search (``cand_cap``
    exactness bound, the ``search_phrase`` contract), each query's
    codegen'd verification predicate over the candidates' token array
    ``tk``, then a per-query (score desc, url asc) window rank."""
    from ..functions.sqlglue import spark_terms

    cand = se.search(
        cand_queries,
        k=cand_cap,
        mode="conjunctive",
        fixed_point=fixed_point,
        with_text=True,
        prune_norms=prune_norms,
    )
    cond = F.lit(False)
    for qid, pred in preds.items():
        cond = F.when(F.col("query_id") == qid, pred).otherwise(cond)
    matched = (
        cand.withColumn("tk", F.expr(spark_terms("text")))
        .filter(cond)
        .drop("tk", "rank")
    )
    order_key = (
        F.floor(F.col("score") * 1_000_000).cast("long")
        if fixed_point
        else F.col("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(order_key), F.asc("url"))
    out_cols = ["query_id", "rank", "url", "score"] + (
        ["text"] if with_text else []
    )
    return (
        matched.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )


def _hits_ddl(with_text: bool) -> str:
    """The (query_id, rank, url, score[, text]) result schema."""
    return "query_id int, rank int, url string, score double" + (
        ", text string" if with_text else ""
    )


def _empty_hits(se: Searcher, with_text: bool) -> DataFrame:
    """The empty search result frame."""
    return se._empty_df(_hits_ddl(with_text))


def _validate_qids(queries: list[tuple]) -> None:
    """Reject a batch that repeats a query_id: per-qid state is keyed by
    qid, so a repeat would silently replace the earlier query."""
    qids = [q[0] for q in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate query_id in batch")


def search_phrase_prefix(
    spark: SparkSession,
    index_dir: str,
    phrases: list[tuple[int, str, str]],
    k: int = 10,
    cand_cap: int = 1000,
    cell_parts: int = 4,
    fixed_point: bool = False,
) -> DataFrame:
    """Phrase-prefix search (Elasticsearch ``match_phrase_prefix`` — the
    search-as-you-type query): docs where the full terms appear
    CONTIGUOUSLY followed immediately by a token STARTING WITH the
    prefix -> (query_id, rank, url, score). ``phrases`` rows are
    (query_id, full_terms_text, prefix) — the user has finished typing
    ``full_terms_text`` and is mid-word on ``prefix``. Requires at least
    one full term (a bare prefix is ``search_prefix``'s job; raised).
    Ranked by BM25 over the FULL terms only — the half-typed word has no
    stable statistics, matching Lucene's practice of scoring the phrase
    terms and treating the expansion as a filter.

    Plan: conjunctive candidates on the full terms (stage 1 of
    ``search_phrase`` — same pruned postings read + cell scoring), then
    a codegen'd verification predicate over the candidates' text:
    ``exists`` over positions anchoring the full-term run with a
    ``substr`` prefix test on the next slot. NO expansion cap: ES
    truncates the prefix to ``max_expansions`` dictionary terms and can
    MISS matches; verifying against the candidate text is exact at any
    vocabulary size and never enumerates the dictionary. The trade is
    stage 1's conjunctive-candidates exactness bound (cand_cap, same as
    ``search_phrase``'s documented contract); the positions sidecar is
    the same scale-up. Exclusion contract applies pre-heap in stage 1."""
    _validate_qids(phrases)
    se = get_searcher(spark, index_dir, cell_parts)
    qinfo: dict[int, tuple[list[str], str]] = {}
    for qid, text, prefix in phrases:
        terms = tokenize(text)
        pfx = "".join(tokenize(prefix))
        if not terms:
            raise ValueError(
                f"query {qid}: match_phrase_prefix needs >= 1 full term "
                "(use search_prefix for a bare prefix)"
            )
        if not pfx:
            raise ValueError(f"query {qid}: empty prefix")
        qinfo[qid] = (terms, pfx)
    preds = {}
    for qid, (terms, pfx) in qinfo.items():
        n = len(terms) + 1
        run = " and ".join(
            f"tk[i + {j}] = '{t}'" for j, t in enumerate(terms)
        )
        preds[qid] = F.expr(
            f"case when size(tk) >= {n} then "
            f"exists(sequence(0, size(tk) - {n}), i -> {run} and "
            f"substr(tk[i + {n - 1}], 1, {len(pfx)}) = '{pfx}') "
            f"else false end"
        )
    return _verified_topk(
        se,
        [(qid, " ".join(ts)) for qid, (ts, _p) in qinfo.items()],
        preds, k, cand_cap, fixed_point,
    )


def search_span_first(
    spark: SparkSession,
    index_dir: str,
    spans: list[tuple[int, str, int]],
    k: int = 10,
    cand_cap: int = 1000,
    cell_parts: int = 4,
    fixed_point: bool = False,
) -> DataFrame:
    """Span-first search (Lucene ``SpanFirstQuery`` / ES ``span_first``):
    docs where the term occurs within the FIRST ``end`` token positions —
    "mentioned in the lede", the classic title/lead-paragraph proxy when
    the index is single-field -> (query_id, rank, url, score). ``spans``
    rows are (query_id, term_text, end) with ``end`` counted 1-based
    inclusive (a match at position p requires p <= end, Lucene's span end
    boundary); ``term_text`` must tokenize to exactly ONE term — wrapping
    multi-term spans composes through ``search_phrase``'s machinery and is
    out of scope here, matching the single-term SpanTermQuery that
    span_first wraps in practice. Ranked by BM25 over the term (position
    never changes tf — a filter, not a boost), so scores are comparable
    with the unconstrained query's.

    Plan: stage 1 pulls candidates containing the term through the standard
    pruned-postings search (``cand_cap`` exactness bound, the documented
    ``search_phrase`` contract), then a codegen'd verification over the
    candidates' text: ``array_contains`` on the head ``slice`` of the token
    array. The bag-of-words index stores no positions, so position tests
    verify against text — same trade as ``search_phrase_prefix``; the
    positions sidecar (plans/positions.py) is the committed-artifact
    scale-up when lede queries dominate a workload. Exclusion contract
    (tombstones, deletes) applies pre-heap in stage 1."""
    _validate_qids(spans)
    se = get_searcher(spark, index_dir, cell_parts)
    qinfo: dict[int, tuple[str, int]] = {}
    for qid, text, end in spans:
        terms = tokenize(text)
        if len(terms) != 1:
            raise ValueError(
                f"query {qid}: span_first wraps exactly one term, got "
                f"{terms!r} (compose multi-term spans via search_phrase)"
            )
        if end < 1:
            raise ValueError(f"query {qid}: end must be >= 1, got {end}")
        qinfo[qid] = (terms[0], end)
    preds = {
        qid: F.expr(f"array_contains(slice(tk, 1, {end}), '{term}')")
        for qid, (term, end) in qinfo.items()
    }
    return _verified_topk(
        se, [(qid, t) for qid, (t, _e) in qinfo.items()],
        preds, k, cand_cap, fixed_point,
    )


def search_span_not(
    spark: SparkSession,
    index_dir: str,
    spans: list[tuple[int, str, str, int]],
    k: int = 10,
    cand_cap: int = 1000,
    cell_parts: int = 4,
    fixed_point: bool = False,
) -> DataFrame:
    """Span-not search (Lucene ``SpanNotQuery`` / ES ``span_not``): docs
    where the INCLUDE term occurs at least once with NO occurrence of the
    EXCLUDE term within ``w`` token positions — "data, but not the 'data
    spark' collocation" -> (query_id, rank, url, score). ``spans`` rows
    are (query_id, include_text, exclude_text, w); both texts must
    tokenize to exactly ONE term each (multi-term spans compose through
    ``search_phrase``'s machinery, the ``search_span_first`` convention).
    Ranked by BM25 over the include term — the span test is a FILTER, not
    a boost (scores comparable with the unconstrained query; the same
    deliberate deviation from Lucene's surviving-span sloppy-freq that
    ``span_first`` documents).

    Plan: stage 1 pulls candidates containing the include term through the
    standard pruned-postings search (``cand_cap`` exactness bound, the
    ``search_phrase`` contract); stage 2 is a codegen'd positional verify
    over the candidates' text — EXISTS over include positions whose
    +-``w`` token window contains no exclude occurrence (nested
    higher-order ``exists``, no Python). The bag-of-words index stores no
    positions, so position tests verify against text — the positions
    sidecar (plans/positions.py) is the committed-artifact scale-up.
    Exclusion contract (tombstones, deletes, '-term') applies pre-heap in
    stage 1 as always."""
    _validate_qids(spans)
    se = get_searcher(spark, index_dir, cell_parts)
    qinfo: dict[int, tuple[str, str, int]] = {}
    for qid, inc_text, exc_text, w in spans:
        inc, exc = tokenize(inc_text), tokenize(exc_text)
        if len(inc) != 1 or len(exc) != 1:
            raise ValueError(
                f"query {qid}: span_not wraps exactly one include and one "
                f"exclude term, got {inc!r} / {exc!r}"
            )
        if w < 1:
            raise ValueError(f"query {qid}: w must be >= 1, got {w}")
        if inc[0] == exc[0]:
            raise ValueError(
                f"query {qid}: include and exclude terms must differ"
            )
        qinfo[qid] = (inc[0], exc[0], w)
    preds = {
        qid: F.expr(
            f"exists(sequence(0, size(tk) - 1), i -> tk[i] = '{a}' and not "
            f"exists(sequence(greatest(0, i - {w}), "
            f"least(i + {w}, size(tk) - 1)), j -> tk[j] = '{b}'))"
        )
        for qid, (a, b, w) in qinfo.items()
    }
    return _verified_topk(
        se, [(qid, a) for qid, (a, _b, _w) in qinfo.items()],
        preds, k, cand_cap, fixed_point,
    )


def search_intervals(
    spark: SparkSession,
    index_dir: str,
    chains: list[tuple[int, str, int]],
    k: int = 10,
    cand_cap: int = 1000,
    cell_parts: int = 4,
    fixed_point: bool = False,
) -> DataFrame:
    """Intervals search (ES ``intervals`` query, ``match`` rule with
    ``ordered: true`` and ``max_gaps``): docs where the query's terms
    appear as an ORDERED chain p_1 < ... < p_m spending at most ``g``
    TOTAL gap positions (p_m - p_1 - (m-1) <= g — the budget is shared
    across the chain, unlike ``search_phrase``'s per-window slop) ->
    (query_id, rank, url, score). ``chains`` rows are (query_id, text, g);
    ``text`` must tokenize to >= 2 DISTINCT terms (conjunctive stage-1
    scoring sums each term once; a repeated term would double-count).
    Ranked by BM25 over the chain's terms — a chain match contains all of
    them, so scores equal the conjunctive query's.

    Plan: stage 1 pulls conjunctive candidates from the committed index
    (same pruned postings scan as BM25; ``cand_cap`` exactness bound, the
    ``search_phrase`` contract), stage 2 verifies the chain with nested
    codegen'd ``exists`` over token positions — the window for term r is
    (p_{r-1}+1 .. p_1 + r + g): later gaps are >= 0, so every prefix must
    stay inside the budget, and the telescoped total-gap constraint needs
    no greedy/DP search, just existential nesting. The bag-of-words index
    stores no positions, so verification reads candidate text — the
    positions sidecar (plans/positions.py) is the committed-artifact
    scale-up. Exclusion contract applies pre-heap in stage 1 as always."""
    _validate_qids(chains)
    se = get_searcher(spark, index_dir, cell_parts)
    qinfo: dict[int, tuple[list[str], int]] = {}
    for qid, text, g in chains:
        terms = tokenize(text)
        if len(terms) < 2:
            raise ValueError(
                f"query {qid}: intervals needs >= 2 terms, got {terms!r}"
            )
        if len(set(terms)) != len(terms):
            raise ValueError(
                f"query {qid}: intervals terms must be distinct, got {terms!r}"
            )
        if g < 0:
            raise ValueError(f"query {qid}: max_gaps must be >= 0, got {g}")
        qinfo[qid] = (terms, g)

    def _nest(terms: list[str], g: int, r: int) -> str:
        # window for term r (0-based): lo = i{r-1}+1, hi = i0 + r + g
        hi = f"least(i0 + {r} + {g}, size(tk) - 1)"
        lo = f"i{r - 1} + 1"
        inner = (
            f" and {_nest(terms, g, r + 1)}" if r + 1 < len(terms) else ""
        )
        return (
            f"(case when {lo} <= {hi} then exists(sequence({lo}, {hi}), "
            f"i{r} -> tk[i{r}] = '{terms[r]}'{inner}) else false end)"
        )

    preds = {
        qid: F.expr(
            f"case when size(tk) >= {len(terms)} then "
            f"exists(sequence(0, size(tk) - 1), "
            f"i0 -> tk[i0] = '{terms[0]}' and {_nest(terms, g, 1)}) "
            "else false end"
        )
        for qid, (terms, g) in qinfo.items()
    }
    return _verified_topk(
        se, [(qid, " ".join(ts)) for qid, (ts, _g) in qinfo.items()],
        preds, k, cand_cap, fixed_point,
    )


def search_multi_field(
    spark: SparkSession,
    fields: list[tuple[str, float]],
    queries: list[tuple[int, str]],
    k: int = 10,
    tie_breaker: float = 0.0,
    cell_parts: int = 4,
) -> DataFrame:
    """Multi-field retrieval (Elasticsearch ``multi_match`` with
    ``best_fields``, the default type): the same query scored against
    SEVERAL per-field indexes — e.g. title^2 and body — combined per doc
    as ``best + tie_breaker * (sum - best)`` over the per-field boosted
    BM25 scores -> (query_id, rank, url, final6, best6). ``fields`` rows
    are (index_dir, boost); each field is its own committed index over
    the SAME url space (this engine's analogue of Lucene's per-field
    inverted lists — every field keeps its OWN df/avgdl statistics, which
    is exactly what makes best_fields beat naive field concatenation).
    A doc matching in only one field still ranks (per-field OR semantics
    survive the combination). tie_breaker=0 is pure dis_max across
    fields; 1 sums the fields.

    Plan: ONE exhaustive raw-score kernel per field (the standard pruned
    scan — fields run independently, so a 100-TB body index and a 100-GB
    title index each prune to their own touched cells), each field's
    (query, doc) scores joined to its OWN extracts for the url key
    (grids may differ across indexes — url is the cross-field identity,
    the engine's standing docID==url-order invariant), boosted, then one
    UNION + map-side-combined groupBy(query, url) for max/sum. Ranking
    is two-phase over a url-hash bucket (per-bucket top-k, global rank
    over survivors — never a global sort; the part grids differ across
    fields so the hash bucket replaces part_id as the skew shield).
    Pick boosts and tie_breaker exactly representable (0.25, 0.5, 2.0):
    the combination is then two IEEE ops both engines round identically
    (per-doc per-field addends are commutative at 2 fields; beyond ~3
    fields sub-1e-6 sum-order wobble can flip floor ties).
    Exclusion contract applies pre-heap inside each field's kernel."""
    if not fields:
        raise ValueError("multi_match needs >= 1 field")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    for idx, boost in fields:
        if boost <= 0:
            raise ValueError(f"field {idx}: boost must be > 0, got {boost}")
    per_field: list[DataFrame] = []
    for index_dir, boost in fields:
        se = get_searcher(spark, index_dir, cell_parts)
        scored, parts = _search_impl(
            se, queries, k, "dense", fixed_point=True, raw_scored=True
        )
        per_field.append(
            _with_urls(se, scored, parts).select(
                "query_id",
                "url",
                (F.col("score") * F.lit(float(boost))).alias("s"),
            )
        )
    unioned = per_field[0]
    for df in per_field[1:]:
        unioned = unioned.unionByName(df)
    agg = (
        unioned.groupBy("query_id", "url")
        .agg(F.max("s").alias("mx"), F.sum("s").alias("sm"))
        .withColumn(
            "final6",
            F.floor(
                (
                    F.col("mx")
                    + F.lit(float(tie_breaker)) * (F.col("sm") - F.col("mx"))
                )
                * 1_000_000
            ).cast("long"),
        )
        .withColumn("best6", F.floor(F.col("mx") * 1_000_000).cast("long"))
    )
    return _two_phase_rank(
        agg, (F.desc("final6"), F.asc("url")), k,
        ["query_id", "rank", "url", "final6", "best6"],
        F.pmod(F.crc32(F.col("url")), F.lit(32)),
    )


# The committed extracts' columns, the same in every layout.
_EXTRACTS_DDL = "part_id int, local_pos long, url string, text string, doc_len long"


def _extracts(se: Searcher) -> DataFrame:
    """The committed extracts as a Spark scan. Reading with their fixed
    schema plans the scan without Spark's schema-inference job."""
    return se.spark.read.schema(_EXTRACTS_DDL).parquet(se.paths.docs_extracted)


def _with_urls(
    se: Searcher, df: DataFrame, parts: list[int] | None, col: str = "url"
) -> DataFrame:
    """(part_id, local_pos) rows (``raw_scored``'s, the match kernels')
    joined to the extracts' ``col``, read only from the build partitions in
    ``parts`` (``_touched_parts``) when those are under half of them."""
    ext = _extracts(se).select("part_id", "local_pos", col)
    if parts is not None and 2 * len(parts) < len(se.grid_parts):
        ext = ext.filter(F.col("part_id").isin(sorted(parts)))
    return df.join(ext, ["part_id", "local_pos"])


def _two_phase_rank(
    df: DataFrame, order: tuple, k: int, cols: list[str], part="part_id"
) -> DataFrame:
    """Top-``k`` per query under ``order`` without a global sort: a top-k
    per (query, ``part``) first, then a global rank over the survivors."""
    w_part = Window.partitionBy("query_id", part).orderBy(*order)
    w_all = Window.partitionBy("query_id").orderBy(*order)
    return (
        df.withColumn("pr", F.row_number().over(w_part))
        .filter(F.col("pr") <= k)
        .withColumn("rank", F.row_number().over(w_all))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )


def _expand_terms(
    se: Searcher,
    patterns: list[str],
    matcher: Callable[[str], Callable[[str], object]],
    kind: str,
    max_expansions: int,
    stems: list[str] | None = None,
) -> dict[str, list[str]]:
    """ONE driver-side dictionary read expanding every pattern of a batch
    to its sorted index terms -> {pattern: terms}. ``matcher(pattern)``
    returns the exact test a term must pass; every test is built before
    the read, so a malformed pattern raises first. With ``stems`` the read
    keeps only the terms in some stem's ``[stem, stem⁺)`` range (row groups
    outside every range never load); without, it reads the whole ``term``
    column. Raises when a pattern matches more than ``max_expansions``
    terms: silent truncation would make results depend on read order."""
    if not patterns:
        return {}
    tests = {p: matcher(p) for p in patterns}
    filters = None if stems is None else [_stem_range(s) for s in stems]
    vocab = sorted(set(_read_dictionary(se, ["term"], filters)["term"].to_pylist()))
    out: dict[str, list[str]] = {}
    for p, test in tests.items():
        terms = [t for t in vocab if test(t)]
        if len(terms) > max_expansions:
            label = f"prefix '{p}*'" if kind == "prefix" else f"{kind} {p!r}"
            raise ValueError(
                f"{label} expands to {len(terms)} terms "
                f"(> max_expansions={max_expansions})"
            )
        out[p] = terms
    return out


def _expand_prefixes(
    se: Searcher, stems: list[str], max_expansions: int
) -> dict[str, list[str]]:
    """Prefix expansion: one read kept to the stems' ranges (buckets hash
    whole terms, so it cannot bucket-prune)."""
    return _expand_terms(
        se, stems, lambda s: lambda t: t.startswith(s), "prefix",
        max_expansions, stems=stems,
    )


def _search_words(
    se: Searcher, words: dict[int, list[str]], with_text: bool, **search_kw
) -> DataFrame:
    """Tail of every expansion variant: each query with words left runs as
    one OR query through ``se.search``; a batch with none returns the
    empty hits frame."""
    expanded = [(qid, " ".join(ws)) for qid, ws in words.items() if ws]
    if not expanded:
        return _empty_hits(se, with_text)
    return se.search(expanded, with_text=with_text, **search_kw)


def _expansion_search(
    se: Searcher,
    queries: list[tuple[int, str]],
    parse: Callable[[str], tuple[list[str], list[str]]],
    expand: Callable[[list[str]], dict[str, list[str]]],
    with_text: bool,
    **search_kw,
) -> DataFrame:
    """Front-end of the prefix, fuzzy and wildcard variants: ``parse``
    splits each query into (literal words, patterns), ``expand`` maps the
    batch's patterns to their terms with one dictionary read, and each
    query runs as its literals plus its patterns' expansions."""
    _validate_qids(queries)
    parsed = {qid: parse(text) for qid, text in queries}
    exp = expand(sorted({p for _lits, ps in parsed.values() for p in ps}))
    words = {
        qid: lits + [t for p in ps for t in exp[p]]
        for qid, (lits, ps) in parsed.items()
    }
    return _search_words(se, words, with_text, **search_kw)


def search_prefix(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    mode: str = "bmw",
    cell_parts: int = 4,
    fixed_point: bool = False,
    with_text: bool = False,
    prune_norms: bool | None = None,
    max_expansions: int = 1000,
) -> DataFrame:
    """Top-k BM25 with 'term*' PREFIX wildcards: each trailing-'*' word
    expands against the term dictionary to every index term with that
    prefix, then the query runs as ordinary OR retrieval over the union of
    literal + expansion terms (Lucene's scoring-BooleanQuery rewrite: BM25
    is a per-distinct-term sum, so driver-side expansion is EXACTLY
    equivalent — each expansion scores with its own idf). Everything
    downstream reuses the standard plan: expansions are concrete terms, so
    bucket pruning, BMW, '-term' negation, deletes and fixed_point all work
    unchanged. The expansion is one driver-side read of the ``term``
    column kept to the stems' ``[stem, stem⁺)`` ranges
    (``_expand_prefixes``), so only overlapping row groups load and no
    Spark job runs. A stem matching nothing contributes no terms (a query
    left with no terms at all returns no rows)."""
    from ..functions.tokenizer import parse_prefix_query

    se = get_searcher(spark, index_dir, cell_parts)
    return _expansion_search(
        se, queries, parse_prefix_query,
        lambda stems: _expand_prefixes(se, stems, max_expansions),
        with_text, k=k, mode=mode, fixed_point=fixed_point,
        prune_norms=prune_norms,
    )


def suggest_terms(
    spark: SparkSession,
    index_dir: str,
    prefixes: list[tuple[int, str]],
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """Autocomplete / term suggestion (the Lucene ``TermsEnum``-prefix /
    Elasticsearch ``completion``-lite surface): for each ``(query_id,
    prefix)``, the top-``k`` index terms starting with the prefix, ranked
    by document frequency desc with term-asc tie-break ->
    (query_id, rank, term, df). A query_id with several prefixes ranks
    the union of their matches, a term matching two of them counting
    twice. A prefix matching nothing yields no rows for its query_id.

    Plan shape: ONE driver-side dictionary read (``_read_dictionary``) of
    (term, df), kept to the prefixes' ``[stem, stem⁺)`` ranges (bucket
    dirs can't prune, buckets hash whole terms), then a rank per query_id
    on the driver, handed back with ``local_df``: no Spark job runs."""
    se = get_searcher(spark, index_dir, cell_parts)
    ddl = "query_id int, rank int, term string, df long"
    stems = sorted({p for _, p in prefixes})
    if not stems:
        return se._empty_df(ddl)
    d = _read_dictionary(se, ["term", "df"], [_stem_range(s) for s in stems])
    vocab = list(zip(d["term"].to_pylist(), d["df"].to_pylist()))
    by_qid: dict[int, list[tuple[int, str]]] = {}
    for qid, p in prefixes:
        by_qid.setdefault(qid, []).extend((-df, t) for t, df in vocab if t.startswith(p))
    rows = [
        (qid, i, t, -neg_df)
        for qid, cands in sorted(by_qid.items())
        for i, (neg_df, t) in enumerate(sorted(cands)[: max(k, 0)], 1)
    ]
    return local_df(spark, rows, ddl)


def _within_edits(a: str, b: str, max_edits: int) -> int | None:
    """Levenshtein(a, b) when it is at most ``max_edits``, else None: the
    classic DP, given up once a whole row exceeds the budget (a row's
    minimum never falls further down). Before it, a pigeonhole filter: cut
    ``b`` into ``max_edits + 1`` pieces; each edit breaks at most one, so
    some piece must occur in ``a`` verbatim."""
    n = max_edits + 1
    if abs(len(a) - len(b)) > max_edits or (
        len(b) >= n
        and not any(b[i * len(b) // n : (i + 1) * len(b) // n] in a for i in range(n))
    ):
        return None
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        if min(cur) > max_edits:
            return None
        prev = cur
    return prev[-1] if prev[-1] <= max_edits else None


def search_fuzzy(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_edits: int = 1,
    mode: str = "bmw",
    cell_parts: int = 4,
    fixed_point: bool = False,
    with_text: bool = False,
    max_expansions: int = 1000,
) -> DataFrame:
    """Top-k BM25 with FUZZY terms (Lucene FuzzyQuery shape): every query
    token expands to the index terms within ``max_edits`` Levenshtein edits
    (itself included when present), then the query runs as ordinary OR/BMW
    retrieval over the expansion union — the same scoring-rewrite as
    ``search_prefix``, each expansion scoring with its own idf. (Lucene
    additionally down-weights by similarity; this engine keeps pure BM25 so
    the DuckDB twin is exact — it ships the same ``levenshtein``.)

    The expansion is a driver-side read of the whole ``term`` column (edit
    distance can't prune parquet min/max) matched by ``_within_edits``; no
    Spark job runs before the search. At trillion-term vocabularies, swap
    in a deletion-neighborhood or trigram sidecar keyed like the positions
    sidecar; the plan downstream is unchanged either way. A token
    expanding to more than ``max_expansions`` terms raises (never silent
    truncation)."""
    se = get_searcher(spark, index_dir, cell_parts)

    def parse(text: str) -> tuple[list[str], list[str]]:
        # '-term' negations pass through UNexpanded (Lucene doesn't fuzz
        # exclusions either; silently dropping the '-' would flip an
        # exclusion into a positive fuzzy match). Only positive tokens
        # expand.
        pos, negs = parse_query(text)
        return [f"-{n}" for n in negs], tokenize(pos)

    return _expansion_search(
        se, queries, parse,
        lambda toks: _expand_terms(
            se,
            toks,
            lambda t: lambda v: _within_edits(v, t, max_edits) is not None,
            "fuzzy term",
            max_expansions,
        ),
        with_text, k=k, mode=mode, fixed_point=fixed_point,
    )


def suggest_spelling(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    s: int = 3,
    max_edits: int = 1,
    cell_parts: int = 4,
) -> DataFrame:
    """Did-you-mean / spelling correction (Elasticsearch ``term`` suggester
    with ``suggest_mode=missing``; Lucene ``DirectSpellChecker``): for each
    query, every positive token ABSENT from the index vocabulary gets its
    top-``s`` candidate corrections — vocabulary terms within ``max_edits``
    Levenshtein edits — ranked by (edit distance asc, df desc, term asc),
    Lucene's comparator exactly -> (query_id, token, rank, suggestion,
    dist, df). Tokens the index knows are never "corrected" (the
    ``missing`` mode contract — autocomplete is ``suggest_terms``, fixing
    what matched is not this surface's job); '-term' negations are skipped
    like ``search_fuzzy`` skips them. A token with no candidate inside the
    edit budget yields no rows.

    Plan shape: the exact-membership probe rides the Searcher's
    bucket-pruned df cache (``_ensure_idf``); the candidate pass reads
    (term, df) of the whole dictionary on the driver
    (``_read_dictionary``) and measures each term against each missing
    token with ``_within_edits``, ``search_fuzzy``'s matcher. The ranking
    runs on the driver over O(tokens x candidates) rows and is handed
    back with ``local_df``: no Spark job runs."""
    from collections import Counter

    se = get_searcher(spark, index_dir, cell_parts)
    tok_rows = [
        (qid, t)
        for qid, text in queries
        for t in sorted(set(tokenize(parse_query(text)[0])))
    ]
    _ensure_idf(se, sorted({t for _qid, t in tok_rows}))
    # a (query, token) listed twice ranks each candidate twice
    missing = Counter((qid, t) for qid, t in tok_rows if se._df_cache[t] is None)
    ddl = (
        "query_id int, token string, rank int, suggestion string, "
        "dist int, df long"
    )
    if not missing:
        return se._empty_df(ddl)
    cands: dict[str, list[tuple[int, int, str]]] = {t: [] for _qid, t in missing}
    d = _read_dictionary(se, ["term", "df"])
    for term, df in zip(d["term"].to_pylist(), d["df"].to_pylist()):
        for t, out in cands.items():
            if (dist := _within_edits(term, t, max_edits)) is not None:
                out.append((dist, -df, term))
    rows = [
        (qid, t, i, term, dist, -neg_df)
        for (qid, t), n in sorted(missing.items())
        for i, (dist, neg_df, term) in enumerate(sorted(cands[t] * n)[: max(s, 0)], 1)
    ]
    return local_df(spark, rows, ddl)


def search_wildcard(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    mode: str = "bmw",
    cell_parts: int = 4,
    fixed_point: bool = False,
    with_text: bool = False,
    max_expansions: int = 1000,
) -> DataFrame:
    """Top-k BM25 with GENERAL wildcards (Lucene ``WildcardQuery`` shape):
    words containing '*' (any run) or '?' (exactly one char) ANYWHERE —
    'w*w', 's?a*', '?uery' — expand against the term dictionary, then the
    query runs as ordinary OR/BMW retrieval over the literal+expansion
    union (the same scoring-BooleanQuery rewrite as ``search_prefix`` /
    ``search_fuzzy``: BM25 is a per-distinct-term sum, so driver-side
    expansion is exactly equivalent, each expansion scoring with its own
    idf; bucket pruning / negation / deletes / fixed_point all compose
    unchanged on the concrete terms).

    Expansion plan: ONE driver-side read of the ``term`` column, each term
    matched against every pattern's regex (``wildcard_regex`` — shared
    with the SQL twin, so both engines match the identical term set).
    When every pattern has a literal head (``wildcard_prefix``) the read
    keeps only the heads' ``[head, head⁺)`` ranges, so 'cust*er' reads
    like a prefix query and only leading-wildcard patterns read the whole
    column. A pattern matching more than ``max_expansions`` terms raises
    (silent truncation would make results read-order-dependent); a
    pattern matching nothing contributes no terms."""
    from ..functions.tokenizer import (
        parse_wildcard_query,
        wildcard_prefix,
        wildcard_regex,
    )

    se = get_searcher(spark, index_dir, cell_parts)

    def expand(pats: list[str]) -> dict[str, list[str]]:
        heads = [wildcard_prefix(p) for p in pats]
        return _expand_terms(
            se, pats, lambda p: re.compile(wildcard_regex(p)).match, "wildcard",
            max_expansions, stems=heads if all(heads) else None,
        )

    return _expansion_search(
        se, queries, parse_wildcard_query, expand,
        with_text, k=k, mode=mode, fixed_point=fixed_point,
    )


def _regexp_matcher(pattern: str) -> Callable[[str], object]:
    """The full-match test of one ``search_regexp`` pattern; a pattern
    that does not compile raises ValueError naming it."""
    try:
        return re.compile(f"(?:{pattern})").fullmatch
    except re.error as e:
        raise ValueError(f"invalid regexp {pattern!r}: {e}") from None


def search_regexp(
    spark: SparkSession,
    index_dir: str,
    patterns: list[tuple[int, str]],
    k: int = 10,
    mode: str = "bmw",
    cell_parts: int = 4,
    fixed_point: bool = False,
    with_text: bool = False,
    max_expansions: int = 1000,
) -> DataFrame:
    """Top-k BM25 for REGEXP term queries (Elasticsearch ``regexp`` query /
    Lucene ``RegexpQuery``): each (query_id, pattern) matches the ENTIRE
    term (implicit anchoring, the ES contract — 'cust.*' matches customer,
    never locust), the matching vocabulary expands into an OR query, and
    retrieval runs as the standard scoring-BooleanQuery rewrite (the
    ``search_prefix``/``search_wildcard``/``search_fuzzy`` shape: BM25 is
    a per-distinct-term sum, so driver-side expansion is exactly
    equivalent, each expansion scoring with its own idf; pruning /
    deletes / fixed_point compose unchanged on the concrete terms).

    Expansion plan: ONE driver-side read of the whole ``term`` column,
    each term tested with Python ``re.fullmatch``. A pattern that does not
    compile raises ValueError before any read. Patterns use Python regex
    here and each SQL engine's own in the twins — the engine-portable
    subset (literals, char classes, '.', '*', '+', '?', '{m,n}',
    alternation, grouping) is the documented domain, the same subset the
    ES regexp query guarantees; backrefs/lookarounds are out of contract. A pattern expanding past
    ``max_expansions`` raises (silent truncation would be
    read-order-dependent); one matching nothing contributes no terms, and
    a query with no surviving terms returns no rows. At trillion-term
    vocabularies the dictionary pass swaps to an n-gram sidecar that
    prefilters candidate terms by the pattern's literal n-grams (Lucene's
    own RegexpQuery acceleration), plan downstream unchanged."""
    se = get_searcher(spark, index_dir, cell_parts)
    exp = _expand_terms(
        se,
        sorted({p for _qid, p in patterns}),
        _regexp_matcher,
        "regexp",
        max_expansions,
    )
    # Multiple patterns under one query_id OR together (ES bool-should of
    # regexp queries) — expansions union per qid, deduped, so a repeated
    # qid never produces duplicate result rows.
    by_qid: dict[int, set[str]] = {}
    for qid, p in patterns:
        by_qid.setdefault(qid, set()).update(exp[p])
    return _search_words(
        se, {qid: sorted(ws) for qid, ws in sorted(by_qid.items())},
        with_text, k=k, mode=mode, fixed_point=fixed_point,
    )


def search_synonyms(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    synonyms: dict[str, list[str]],
    k: int = 10,
    mode: str = "bmw",
    cell_parts: int = 4,
    fixed_point: bool = False,
    with_text: bool = False,
) -> DataFrame:
    """Top-k BM25 with QUERY-TIME synonym expansion (Lucene
    SynonymGraphFilter on the search analyzer / Elasticsearch query-time
    ``synonym`` filter): each positive token expands to itself plus its
    mapped synonyms via the shared lockstep ``expand_synonyms`` (one hop,
    no transitivity; '-term' negations stay literal; non-token mapping
    entries raise), then the query runs as ordinary OR/BMW retrieval over
    the union — the same scoring-BooleanQuery rewrite as
    prefix/fuzzy/wildcard: each expansion scores with its OWN idf
    (Lucene's ``expand=true``; SynonymQuery's blended-df mode is the
    documented alternative — deliberately not chosen so the rewrite stays
    a plain OR the oracle can mirror), so bucket pruning / negation /
    deletes / fixed_point compose unchanged on the concrete terms.

    Query-time expansion (vs index-time) is the web-scale default: the
    mapping can change without touching a committed byte, and the cost is
    a few extra terms through the same pruned-scan plan. The mapping is
    driver-side data (broadcast-class at any realistic thesaurus size);
    an index-time variant would be one extra tokenize stage in the build.
    Reference parity: the reference has no query language at all
    (/root/reference/README.md:179-188)."""
    from ..functions.tokenizer import expand_synonyms

    expanded = [(qid, expand_synonyms(text, synonyms)) for qid, text in queries]
    return get_searcher(spark, index_dir, cell_parts).search(
        expanded, k=k, mode=mode, fixed_point=fixed_point, with_text=with_text
    )


def rescore_phrase(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    window: int = 30,
    bonus: float = 0.5,
    slop: int = 0,
    cell_parts: int = 4,
) -> DataFrame:
    """Rescore window (Elasticsearch ``rescore`` with a query rescorer /
    the classic two-stage retrieve-then-rerank): the top-``window`` BM25
    results per query re-rank by ``score + bonus`` for docs where the
    query's tokens appear as a contiguous phrase (``slop`` widens to the
    ordered near-window) -> (query_id, rank, url, rescore6, score).
    Fixed-point throughout: rescore6 = floor(score*1e6) +
    (phrase ? floor(bonus*1e6) : 0), ranked (rescore6 desc, url asc == the
    docID tie-break) — exact and oracle-mirrorable.

    ES semantics exactly: rescoring never RECALLS — a doc outside the
    base top-``window`` cannot enter the final top-k even if it contains
    the phrase (the trade that makes rescore cheap; raise ``window`` to
    push the recall boundary). Plan shape: the base search is the
    ordinary BMW plan at k=window (full exclusion contract), the phrase
    test runs on the <= queries x window winner texts the lookup already
    fetched — the codegen'd ``_adjacency_expr`` predicate, zero extra
    jobs, zero norms re-reads — and the re-rank is a window over
    <= queries x window rows. ``window < k`` raises."""
    from ..functions.sqlglue import spark_terms

    if window < k:
        raise ValueError(f"window ({window}) must be >= k ({k})")
    se = get_searcher(spark, index_dir, cell_parts)
    base = se.search(queries, k=window, fixed_point=True, with_text=True)
    qterms = {qid: tokenize(text) for qid, text in queries}
    toks = F.expr(spark_terms("text"))
    cond = F.lit(False)
    for qid, terms in qterms.items():
        if terms:
            cond = F.when(
                F.col("query_id") == qid,
                _adjacency_expr("tk", terms, slop, True),
            ).otherwise(cond)
    bonus6 = int(math.floor(bonus * 1_000_000))
    s6 = F.floor(F.col("score") * 1_000_000).cast("long")
    resc = (
        base.withColumn("tk", toks)
        .withColumn(
            "rescore6",
            s6 + F.when(cond, F.lit(bonus6)).otherwise(F.lit(0)).cast("long"),
        )
        .drop("tk", "text", "rank")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rescore6"), F.asc("url")
    )
    return (
        resc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "url", "rescore6", "score")
    )


def search_collapse(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    collapse_keys: DataFrame,
    k: int = 10,
    cell_parts: int = 4,
    fixed_point: bool = False,
) -> DataFrame:
    """Field collapsing (Elasticsearch ``collapse`` / Lucene result
    grouping): the top-``k`` matching docs per query where at most ONE doc
    per collapse key ranks — each key is represented by its best doc under
    the engine ranking order -> (query_id, rank, url, ckey, score). The
    classic web-search "one result per site" dedup. ``collapse_keys`` is a
    (url, ckey) dimension DataFrame; docs absent from it drop (same
    missing-value convention as ``search_sorted_by`` — callers wanting
    ES's keep-missing behavior supply a defaulted dimension, e.g. ckey =
    url).

    Exactness needs the best doc of EVERY key that matched, which only the
    full scored match set contains (a per-cell top-k could hide a key's
    global best behind same-cell docs of other keys), so matching runs the
    exhaustive dense kernel with no per-cell truncate — O(matches) scored
    rows, the inherent ES-collapse cost class, same as facets /
    sort-by-field (BMW's top-k contract cannot serve collapse). The full
    exclusion contract applies pre-heap as always (tombstones, '-term',
    ``filter_urls`` via ``search``'s machinery). Plan shape after the
    kernel, all JVM-side:

    1. url join: ONE extracts scan column-pruned to (part_id, local_pos,
       url) and filtered to the partitions the pruned runs can touch (the
       prune list ``raw_scored`` computes driver-side), joined on the
       kernel-emitted coordinates; then the ckey dimension joins on url.
    2. collapse: ``groupBy(query_id, ckey).agg(max(struct(...)))`` — an
       argmax by (score6 desc, docID asc) encoded as a lexicographic
       struct max, so Spark runs it as ONE shuffle with map-side partial
       aggregation (a window would shuffle the same rows without the
       combine).
    3. rank: never global-sorts — per-(query, hash-of-ckey mod 64) top-k
       first, then a global rank over <= queries x 64 x k survivors (the
       ``search_sorted_by`` two-phase shape).

    ``fixed_point`` collapses and ranks over floor(score*1e6) with docID
    tie-break (the oracle-exact order); raw doubles otherwise. Ties break
    url-asc == docID order, the engine-wide tie-break."""
    se = get_searcher(spark, index_dir, cell_parts)
    scored, parts = _search_impl(
        se, queries, k, "dense", fixed_point, raw_scored=True
    )
    skey = (
        F.floor(F.col("score") * 1_000_000).cast("long")
        if fixed_point
        else F.col("score")
    )
    keyed = (
        _with_urls(se, scored, parts)
        .join(collapse_keys.select("url", "ckey"), "url")
        .withColumn("skey", skey)
    )
    best = (
        keyed.groupBy("query_id", "ckey")
        .agg(
            F.max(
                F.struct(
                    F.col("skey"),
                    (-F.col("doc_id")).alias("ndoc"),
                    F.col("doc_id"),
                    F.col("url"),
                    F.col("score"),
                )
            ).alias("b")
        )
        .select(
            "query_id",
            "ckey",
            F.col("b.skey").alias("skey"),
            F.col("b.doc_id").alias("doc_id"),
            F.col("b.url").alias("url"),
            F.col("b.score").alias("score"),
        )
    )
    return _two_phase_rank(
        best, (F.desc("skey"), F.asc("doc_id")), k,
        ["query_id", "rank", "url", "ckey", "score"], F.pmod(F.hash("ckey"), F.lit(64)),
    )


def search_collapse_inner(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    collapse_keys: DataFrame,
    k: int = 5,
    inner_k: int = 3,
    cell_parts: int = 4,
    fixed_point: bool = False,
) -> DataFrame:
    """Field collapsing WITH inner hits (Elasticsearch
    ``collapse.inner_hits``): the top-``k`` collapse GROUPS per query —
    groups ranked by their best doc under the engine order — each
    returning its own top-``inner_k`` member docs -> (query_id, rank,
    ckey, inner_rank, url, score). The "one result per site, expandable"
    SERP shape: rank is the group's position, inner_rank 1..inner_k the
    docs within it (inner_rank 1 IS the doc plain ``search_collapse``
    would return).

    Same exactness argument as ``search_collapse`` (a per-cell top-k could
    hide a group's global best), so matching runs the exhaustive dense
    kernel — O(matches) scored rows. Plan shape:

    1. url + ckey join as in ``search_collapse`` (pruned extracts scan).
    2. group ranking: the argmax-per-key struct max (ONE map-side-combined
       shuffle), then the two-phase rank (per-(query, hash(ckey) mod 64)
       top-k, global rank over <= queries x 64 x k survivors) — never a
       global sort.
    3. inner hits: row_number per (query_id, ckey) keeps each group's top
       ``inner_k``; the surviving groups (<= queries x k rows after the
       rank filter) BROADCAST-join onto them, so the only wide exchange
       on the O(matches) side is the window's own (query, ckey) shuffle.

    The group-rank lineage and the inner-hits window both read the kernel
    output (the ``significant_terms`` re-run-over-persist convention).
    ``fixed_point`` ranks groups AND members over floor(score*1e6) with
    docID tie-break — the oracle-exact order."""
    if k < 1 or inner_k < 1:
        raise ValueError(f"k and inner_k must be >= 1, got k={k}, inner_k={inner_k}")
    se = get_searcher(spark, index_dir, cell_parts)
    scored, parts = _search_impl(
        se, queries, k, "dense", fixed_point, raw_scored=True
    )
    skey = (
        F.floor(F.col("score") * 1_000_000).cast("long")
        if fixed_point
        else F.col("score")
    )
    keyed = (
        _with_urls(se, scored, parts)
        .join(collapse_keys.select("url", "ckey"), "url")
        .withColumn("skey", skey)
    )
    order = (F.desc("skey"), F.asc("doc_id"))
    best = (
        keyed.groupBy("query_id", "ckey")
        .agg(
            F.max(
                F.struct(F.col("skey"), (-F.col("doc_id")).alias("ndoc"))
            ).alias("b")
        )
        .select(
            "query_id",
            "ckey",
            F.col("b.skey").alias("skey"),
            (-F.col("b.ndoc")).cast("long").alias("doc_id"),
        )
    )
    groups = _two_phase_rank(
        best, order, k, ["query_id", "ckey", "rank"], F.pmod(F.hash("ckey"), F.lit(64))
    )
    w_inner = Window.partitionBy("query_id", "ckey").orderBy(*order)
    inner = keyed.withColumn("inner_rank", F.row_number().over(w_inner)).filter(
        F.col("inner_rank") <= inner_k
    )
    return inner.join(F.broadcast(groups), ["query_id", "ckey"]).select(
        "query_id", "rank", "ckey", "inner_rank", "url", "score"
    )


def search_function_score(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    factors: DataFrame,
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """Function scoring (Elasticsearch ``function_score`` with
    ``field_value_factor``, boost_mode=multiply): top-k matching docs per
    query ranked by ``BM25 x factor``, where ``factors`` is a (url,
    factor) dimension — the standard popularity / recency / PageRank-style
    boost of web ranking -> (query_id, rank, url, factor, final6, score).
    ``final6 = floor(score * factor * 1e6)`` — one IEEE double product
    both engines round identically, so the fixed-point order is
    oracle-exact; ties break url-asc (docID order). Docs absent from the
    dimension drop (the ``search_sorted_by`` missing-value convention;
    supply a defaulted dimension for ES's ``missing:`` behavior).

    A multiplicative factor REORDERS globally (a low-BM25 doc with a huge
    factor may beat everything), so a top-k heap under BM25 order cannot
    serve it exactly — matching runs the exhaustive dense kernel via
    ``raw_scored`` (O(matches) scored rows, the same inherent cost class
    as collapse; ES pays it too unless users settle for the
    rescore-window approximation, which this engine also offers). The
    upgrade path when the factor is BOUNDED is documented: with
    max(factor) known, BMW block bounds scale by it and the heap stays
    exact — a one-line bound_scale change, not taken here because the
    generic dimension is unbounded. After the kernel: pruned extracts
    url-join, broadcast-class dimension join, two-phase rank
    (per-(query, part) top-k, then global — never a global sort)."""
    se = get_searcher(spark, index_dir, cell_parts)
    scored, parts = _search_impl(
        se, queries, k, "dense", fixed_point=True, raw_scored=True
    )
    keyed = (
        _with_urls(se, scored, parts)
        .join(factors.select("url", "factor"), "url")
        .withColumn(
            "final6",
            F.floor(F.col("score") * F.col("factor") * 1_000_000).cast("long"),
        )
    )
    return _two_phase_rank(
        keyed, (F.desc("final6"), F.asc("doc_id")), k,
        ["query_id", "rank", "url", "factor", "final6", "score"],
    )


def search_rank_feature(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    features: DataFrame,
    pivot: float,
    weight: float,
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """The ES ``rank_feature`` query (default saturation function) as a
    bool SHOULD clause: top-k matching docs per query ranked by
    ``BM25 + weight * f / (f + pivot)`` -> (query_id, rank, url, final6,
    score6). ``features`` is a (url, f) dimension; docs MISSING the
    feature still rank, contributing 0 (LEFT join + coalesce — the ES
    contract, unlike ``search_function_score``'s multiplicative drop).
    The saturation is bounded in [0, 1), so the additive boost is bounded
    by ``weight`` — the documented exact-BMW upgrade (inflate bounds by
    ``+weight``) applies when this query dominates a workload; here the
    exhaustive dense kernel keeps the generic case exact (an additive
    bounded boost can still promote a doc from below any per-cell top-k).
    Float ops in pinned order (one division, one multiply, one add, one
    floor) — identical to the ``rank_feature`` SQL twin."""
    se = get_searcher(spark, index_dir, cell_parts)
    scored, parts = _search_impl(
        se, queries, k, "dense", fixed_point=True, raw_scored=True
    )
    fd = F.col("f").cast("double")
    sat = F.coalesce(fd / (fd + F.lit(pivot)), F.lit(0.0))
    keyed = (
        _with_urls(se, scored, parts)
        .join(features.select("url", "f"), "url", "left")
        .withColumn(
            "final6",
            F.floor(
                (F.col("score") + F.lit(weight) * sat) * 1_000_000
            ).cast("long"),
        )
        .withColumn(
            "score6", F.floor(F.col("score") * 1_000_000).cast("long")
        )
    )
    return _two_phase_rank(
        keyed, (F.desc("final6"), F.asc("url")), k,
        ["query_id", "rank", "url", "final6", "score6"],
    )


_DIS_MAX_WIDTH = 64  # max distinct terms per dis_max query (id encoding)


def search_dis_max(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    tie_breaker: float = 0.5,
    cell_parts: int = 4,
) -> DataFrame:
    """Disjunction-max retrieval (Elasticsearch / Lucene ``dis_max`` over
    per-term queries, the ``best_fields`` combination): top-k matching
    docs per query ranked by ``best + tie_breaker * (sum - best)`` where
    ``best``/``sum`` are the max and total of the doc's single-term BM25
    scores -> (query_id, rank, url, final6, best6). At tie_breaker=0 a
    doc scores only its best term (pure dis_max); at 1 it degrades to the
    ordinary OR sum. The classic use: queries whose terms are synonyms-ish
    (one strong term match should beat scattered weak ones). ``queries``
    are plain OR term lists — operator syntax has no meaning when each
    term is its own subquery.

    Plan: each query decomposes into single-term subqueries encoded as
    ``qid * 64 + i`` through ONE ``raw_scored`` exhaustive kernel call —
    the pruned postings scan dedups terms across subqueries, and since
    the subqueries are disjoint singletons the total decode work equals
    the plain OR query's. The per-doc max/sum then ride one map-side-
    combined groupBy, the factor math is two JVM ops, and ranking is the
    ``search_function_score`` two-phase shape (per-(query, part) top-k,
    then a global rank over the survivors — never a global sort). The
    max is order-free; the sum is the same partial-sum class as every
    scored twin. Exclusion contract (tombstones, filter) applies pre-heap
    inside the kernel per subquery, identical to ``search``.

    Pick ``tie_breaker`` exactly representable (0, 0.25, 0.5, 1) and the
    combination is a fused multiply-add both engines round identically.
    Reference parity: /root/reference has no ranked retrieval at all (LLM
    prompt selection); this is the Lucene DisjunctionMaxQuery analogue on
    this engine's kernel."""
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    se = get_searcher(spark, index_dir, cell_parts)
    sub: list[tuple[int, str]] = []
    for qid, text in queries:
        terms = sorted(set(tokenize(text)))
        if len(terms) > _DIS_MAX_WIDTH:
            raise ValueError(
                f"query {qid} has {len(terms)} terms > {_DIS_MAX_WIDTH}"
            )
        sub.extend((qid * _DIS_MAX_WIDTH + i, t) for i, t in enumerate(terms))
    empty = local_df(
        spark, [], "query_id int, rank int, url string, final6 long, best6 long"
    )
    if not sub:
        return empty
    scored, parts = _search_impl(
        se, sub, k, "dense", fixed_point=True, raw_scored=True
    )
    agg = (
        scored.withColumn(
            "query_id",
            F.expr(f"query_id div {_DIS_MAX_WIDTH}").cast("int"),
        )
        .groupBy("query_id", "doc_id", "part_id", "local_pos")
        .agg(F.max("score").alias("mx"), F.sum("score").alias("sm"))
        .withColumn(
            "final6",
            F.floor(
                (
                    F.col("mx")
                    + F.lit(float(tie_breaker))
                    * (F.col("sm") - F.col("mx"))
                )
                * 1_000_000
            ).cast("long"),
        )
        .withColumn(
            "best6", F.floor(F.col("mx") * 1_000_000).cast("long")
        )
    )
    keyed = _with_urls(se, agg, parts)
    return _two_phase_rank(
        keyed, (F.desc("final6"), F.asc("doc_id")), k,
        ["query_id", "rank", "url", "final6", "best6"],
    )


def search_boosting(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, str]],
    k: int = 10,
    negative_boost: float = 0.5,
    cell_parts: int = 4,
) -> DataFrame:
    """Boosting query (Elasticsearch ``boosting``): top-k docs per query
    ranked by the POSITIVE query's BM25 score, demoted — not excluded —
    by ``negative_boost`` when the doc ALSO matches the negative query ->
    (query_id, rank, url, final6, demoted). The soft cousin of '-term'
    exclusion: "prefer docs not about X" instead of "never show X".
    ``queries`` rows are (query_id, positive_text, negative_text); the
    negative side is a plain OR match (membership, never scored into the
    result). final6 = floor(score * factor * 1e6) with url-asc (docID)
    ties; pick ``negative_boost`` exactly representable (0.25, 0.5) and
    the product rounds identically across engines.

    Plan: positive and negative ride ONE ``raw_scored`` exhaustive kernel
    call as even/odd-encoded subqueries (``qid*2`` positive, ``qid*2+1``
    negative) — one pruned postings read, one scoring stage. The negative
    rows collapse to a distinct (query, doc) membership set and LEFT-join
    the positive scored set (membership is per-partition-local — both
    sides carry the kernel's (part_id, local_pos) coordinates, so AQE
    sees co-partitioned children); demotion is a ``when`` in JVM codegen,
    then the ``search_function_score`` two-phase rank. A demoting factor
    reorders globally, hence the exhaustive kernel (same inherent cost
    class as function_score; a BMW heap cannot serve it exactly). The
    negative kernel wastes its score arithmetic on a membership question
    — a doc-only match kernel would shave it; noted, not material until
    negative queries dominate a workload (the scan + decode dominate
    either way). Exclusion contract (tombstones, '-term' inside either
    text) applies pre-heap inside the kernel per subquery, as always."""
    if not 0.0 <= negative_boost <= 1.0:
        raise ValueError(
            f"negative_boost must be in [0, 1], got {negative_boost}"
        )
    se = get_searcher(spark, index_dir, cell_parts)
    sub: list[tuple[int, str]] = []
    for qid, pos_text, neg_text in queries:
        sub.append((qid * 2, pos_text))
        if neg_text and tokenize(neg_text):
            sub.append((qid * 2 + 1, neg_text))
    empty = local_df(
        spark, [], "query_id int, rank int, url string, final6 long, demoted int"
    )
    if not sub:
        return empty
    scored, parts = _search_impl(
        se, sub, k, "dense", fixed_point=True, raw_scored=True
    )
    half = F.expr("query_id div 2").cast("int")
    pos = scored.filter(F.pmod("query_id", F.lit(2)) == 0).withColumn(
        "query_id", half
    )
    neg = (
        scored.filter(F.pmod("query_id", F.lit(2)) == 1)
        .select(half.alias("query_id"), "doc_id")
        .distinct()
        .withColumn("neg", F.lit(1))
    )
    boosted = (
        pos.join(neg, ["query_id", "doc_id"], "left")
        .withColumn(
            "factor",
            F.when(F.col("neg").isNotNull(), F.lit(float(negative_boost)))
            .otherwise(F.lit(1.0)),
        )
        .withColumn(
            "final6",
            F.floor(F.col("score") * F.col("factor") * 1_000_000).cast(
                "long"
            ),
        )
        .withColumn(
            "demoted", F.col("neg").isNotNull().cast("int")
        )
    )
    keyed = _with_urls(se, boosted, parts)
    return _two_phase_rank(
        keyed, (F.desc("final6"), F.asc("doc_id")), k,
        ["query_id", "rank", "url", "final6", "demoted"],
    )


def search_terms_set(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    required: DataFrame,
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """Terms-set query (Elasticsearch ``terms_set`` with
    ``minimum_should_match_field``): top-k docs per query where the
    number of DISTINCT query terms the doc contains meets a PER-DOC
    threshold from the ``required`` (url, required) dimension ->
    (query_id, rank, url, score6, n_matched, req). The dynamic cousin of
    static ``minimum_should_match``: strict docs (high required) demand
    full coverage, lenient docs admit partial matches. Docs absent from
    the dimension drop (the engine-wide missing-value convention; supply
    a defaulted dimension for keep-missing). Ranked by the full OR BM25
    sum over floored score6 with url-asc (docID) ties.

    Plan: the ``search_dis_max`` decomposition — single-term subqueries
    encoded ``qid*64+i`` through ONE ``raw_scored`` exhaustive kernel
    call (one pruned postings scan; disjoint singleton subqueries keep
    total decode work equal to the plain OR query's). Per-doc matched
    count and score sum ride one map-side-combined groupBy; the required
    join happens AFTER the url lookup (both dimension joins are
    broadcast-class); the threshold filter is one codegen'd comparison;
    then the standard two-phase rank. The static-msm kernel can't serve
    this (its threshold is per-query, applied pre-heap); the per-doc
    threshold needs the count materialized, which only the exhaustive
    path produces. Exclusion contract applies pre-heap per subquery."""
    se = get_searcher(spark, index_dir, cell_parts)
    sub: list[tuple[int, str]] = []
    for qid, text in queries:
        terms = sorted(set(tokenize(text)))
        if len(terms) > _DIS_MAX_WIDTH:
            raise ValueError(
                f"query {qid} has {len(terms)} terms > {_DIS_MAX_WIDTH}"
            )
        sub.extend((qid * _DIS_MAX_WIDTH + i, t) for i, t in enumerate(terms))
    empty = local_df(
        spark,
        [],
        "query_id int, rank int, url string, score6 long, "
        "n_matched long, req long",
    )
    if not sub:
        return empty
    scored, parts = _search_impl(
        se, sub, k, "dense", fixed_point=True, raw_scored=True
    )
    agg = (
        scored.withColumn(
            "query_id",
            F.expr(f"query_id div {_DIS_MAX_WIDTH}").cast("int"),
        )
        .groupBy("query_id", "doc_id", "part_id", "local_pos")
        .agg(
            F.count("*").alias("n_matched"),
            F.floor(F.sum("score") * 1_000_000).cast("long").alias("score6"),
        )
    )
    keyed = (
        _with_urls(se, agg, parts)
        .join(
            required.select(
                "url", F.col("required").cast("long").alias("req")
            ),
            "url",
        )
        .filter(F.col("n_matched") >= F.col("req"))
    )
    return _two_phase_rank(
        keyed, (F.desc("score6"), F.asc("doc_id")), k,
        ["query_id", "rank", "url", "score6", "n_matched", "req"],
    )


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    seeds: list[tuple[int, str]],
    k: int = 10,
    max_terms: int = 10,
    mode: str = "bmw",
    cell_parts: int = 4,
    fixed_point: bool = False,
) -> DataFrame:
    """Similar-document retrieval (Lucene ``MoreLikeThis`` shape): for each
    ``(query_id, seed_url)``, rank the docs most similar to the seed ->
    (query_id, rank, url, score). The seed's ``max_terms`` most
    characteristic terms — by ``floor(tf * idf * 1e6)`` desc with term-asc
    tie-break, the classic tf·idf interestingness key, floored so the
    DuckDB twin selects the identical set — form an unweighted OR query
    that runs through the ordinary BM25 plan; the seed itself never
    appears in its own results.

    Plan shape: one url-pushed, column-pruned extracts scan fetches the
    seeds' text (O(seeds) rows); term stats come from the Searcher's idf
    cache (pruned term_stats reads); then ONE standard search at k+1
    whose winners drop the seed and re-rank — exact, because removing at
    most one row from an exact top-(k+1) leaves an exact top-k, and docID
    order == url order makes the url tie-break identical to the kernel's
    doc_id tie-break. The drop and the re-rank run on the driver over the
    search's O(queries x (k+1)) rows, handed back with ``local_df``. A
    seed url the index never ingested (or whose terms all left the index)
    contributes no result rows."""
    from collections import Counter

    se = get_searcher(spark, index_dir, cell_parts)
    urls = sorted({u for _, u in seeds})
    rows = (
        _extracts(se).filter(F.col("url").isin(urls)).select("url", "text").collect()
    )
    text_by_url = {r["url"]: r["text"] for r in rows}
    queries: list[tuple[int, str]] = []
    for qid, url in seeds:
        txt = text_by_url.get(url)
        if txt is None:
            continue
        tf = Counter(tokenize(txt))
        _ensure_idf(se, sorted(tf))
        keyed = sorted(
            (-math.floor(n * idf_value(se.n_docs, df) * 1_000_000), t)
            for t, n in tf.items()
            if (df := se._df_cache.get(t)) is not None
        )
        sel = [t for _, t in keyed[:max_terms]]
        if sel:
            queries.append((qid, " ".join(sel)))
    if not queries:
        return _empty_hits(se, False)
    res = se.search(queries, k=k + 1, mode=mode, fixed_point=fixed_point).collect()
    # drop each query's seed, then rank by the score (floored under
    # fixed_point) desc with url asc, on the driver
    seed_set = set(seeds)
    by_qid: dict[int, list[tuple]] = {}
    for qid, _rank, url, score in res:
        if (qid, url) not in seed_set:
            key = math.floor(score * 1_000_000) if fixed_point else score
            by_qid.setdefault(qid, []).append((-key, url, score))
    out = [
        (qid, i, url, score)
        for qid, hits in sorted(by_qid.items())
        for i, (_key, url, score) in enumerate(sorted(hits)[: max(k, 0)], 1)
    ]
    return local_df(spark, out, _hits_ddl(False))


def search_snippets(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    window: int = 3,
    mode: str = "bmw",
    cell_parts: int = 4,
    fixed_point: bool = False,
    prune_norms: bool | None = None,
) -> DataFrame:
    """Top-k BM25 with a per-winner SNIPPET: the ``window``-token context
    around the first occurrence of any (positive) query term ->
    (query_id, rank, url, score, snippet). The search-UI surface the
    reference approximates by returning whole node text
    (/root/reference/README.md:179-188) — at web scale whole documents are
    the wrong payload, so winners carry a bounded excerpt instead.

    Plan shape: identical to ``search(with_text=True)`` (pruned postings
    read, cell scoring, winners'-partitions-only text fetch); the snippet
    is a JVM codegen projection over the <= queries x k winner rows
    (``functions.sqlglue`` expressions — the DuckDB twin computes the
    SAME first-hit index and window, so snippets hash-match across
    engines). Every winner contains >= 1 positive query term by
    construction, so the first-hit index always exists."""
    from ..functions.sqlglue import (
        SPARK_FIRST_HIT,
        SPARK_SNIP,
        spark_terms,
    )

    res = search(
        spark, index_dir, queries, k=k, mode=mode, cell_parts=cell_parts,
        fixed_point=fixed_point, with_text=True, prune_norms=prune_norms,
    )
    df = res.withColumn("tk", F.expr(spark_terms("text")))
    hit = F.lit(None).cast("int")
    for qid, text in queries:
        pos, _ = parse_query(text)
        terms = sorted(set(tokenize(pos)))
        if not terms:
            continue
        lits = ", ".join(f"'{t}'" for t in terms)  # tokens are [a-z0-9]+
        hit = F.when(
            F.col("query_id") == qid,
            F.expr(SPARK_FIRST_HIT.format(tk="tk", terms=lits)),
        ).otherwise(hit)
    df = df.withColumn("hit", hit)
    s = f"greatest(1, hit - {int(window)})"
    e = f"least(size(tk), hit + {int(window)})"
    return df.withColumn(
        "snippet", F.expr(SPARK_SNIP.format(tk="tk", s=s, e=e))
    ).select("query_id", "rank", "url", "score", "snippet")


def _slice_mapper(grid: np.ndarray):
    """Run -> docID-grid-cell slicer over Arrow batches: the per-cell reader
    ``_score_cells`` calls it on every path, and ``_cell_slices`` runs it as
    a ``mapInArrow`` over Iceberg-stored postings. ``grid`` is the cell
    grid."""

    def slice_runs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # Columnar rehydration: one to_pylist per column per batch (the
            # run count for a heavy term grows with build partitions at
            # scale — per-row pandas iterrows() was the round-1 hot spot).
            # The Python loop below is bounded by runs-per-query-term per
            # batch (blob work stays zero-decode byte slicing); if per-term
            # run counts ever grow past ~10^4 (e.g. an unfolded index at
            # extreme P), move the slicing to a numpy pass over the offsets.
            cols = {name: batch.column(name).to_pylist() for name in batch.schema.names}
            terms_col = cols["term"]
            out = {n: [] for n, _ in _SLICE_FIELDS}
            for ridx in range(batch.num_rows):
                row = {name: vals[ridx] for name, vals in cols.items()}
                run = run_from_row(row)
                for cell, sub in slice_run_to_cells(run, grid):
                    out["cell"].append(cell)
                    out["term"].append(terms_col[ridx])
                    out["first_doc"].append(sub.first_doc)
                    out["last_doc"].append(sub.last_doc)
                    out["n_docs"].append(sub.n_docs)
                    out["doc_blob"].append(sub.doc_blob)
                    out["tf_blob"].append(sub.tf_blob)
                    out["bm_last"].append(sub.bm_last.tolist())
                    out["bm_maxq"].append(sub.bm_maxq.tolist())
                    out["bm_doc_off"].append(sub.bm_doc_off.tolist())
                    out["bm_tf_off"].append(sub.bm_tf_off.tolist())
                    out["bm_ndocs"].append(sub.bm_ndocs.tolist())
            if out["cell"]:
                yield from pa.table(out, schema=_SLICE_PA).to_batches()

    return slice_runs


def _cell_slices(se: Searcher, runs: DataFrame) -> DataFrame:
    """A Spark postings runs scan -> per-cell slices (``_SLICE_DDL``): the
    Iceberg branch of ``_run_cells``. "delta" exists only on streamed
    indexes and drop() is lenient, so batch indexes pass through unchanged;
    runs across deltas stay docID-disjoint per term."""
    return runs.drop("bucket", "run_id", "n_bytes", "delta").mapInArrow(
        _slice_mapper(se.cell_grid), schema=_SLICE_DDL
    )


def _id_range(ids: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """The slice of the sorted docID array ``ids`` inside ``[lo, hi)``."""
    return ids[np.searchsorted(ids, lo) : np.searchsorted(ids, hi)]


class _CellMask:
    """The engine's one exclusion contract for one cell ``[lo, hi)``: a
    query may match no tombstoned doc and no doc in the cell postings of
    its '-term' negations that are present in the index. Each negated term
    decodes once per cell (``decoded`` reuses docID arrays the caller
    already has). Every kernel applies the mask before its heap or
    aggregation, so an excluded doc never displaces a survivor."""

    def __init__(self, term_runs, lo, hi, deleted, negs, decoded=None):
        dead = None if deleted is None else _id_range(deleted, lo, hi)
        self.deleted = dead if dead is not None and len(dead) else None
        self._negs = negs
        decoded = decoded or {}
        self._neg_docs = {
            t: decoded[t]
            if t in decoded
            else decode_run(term_runs[t])[0].astype(np.int64)
            for t in {t for ns in negs.values() for t in ns}
            if t in term_runs
        }

    def __call__(self, qid: int) -> np.ndarray | None:
        """Sorted docIDs query ``qid`` must not match here (None: none)."""
        arrs = [
            self._neg_docs[t] for t in self._negs.get(qid, ()) if t in self._neg_docs
        ]
        if not arrs:
            return self.deleted
        if self.deleted is not None:
            arrs.append(self.deleted)
        return arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))


# Local scoring fast path (r6): when a query's PRUNED inputs — the term
# buckets' postings files plus the norms relation — total under this many
# bytes on disk, ``_score_cells`` runs on the driver over every cell instead
# of in a Spark stage (~0.3-0.5 s of fixed cost on a 4-core host). Both run
# the same reader and score_cell closure over the same captured values. The
# decision is a per-query metadata check (os.stat over <= |buckets| dirs),
# a missing committed dir raises, and any index over the bound — every
# real-scale index — takes the distributed stage. Nothing is cached but the
# norms rows: every call re-reads the committed postings.
LOCAL_QUERY_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_LOCAL_QUERY_MAX_BYTES", str(64 * 1024 * 1024))
)

_RUN_COLS = [
    "term", "first_doc", "last_doc", "n_docs", "doc_blob", "tf_blob",
    "bm_last", "bm_maxq", "bm_doc_off", "bm_tf_off", "bm_ndocs",
]


def _dir_parquet_bytes(path: str) -> int:
    total = 0
    for f in os.listdir(path):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            total += os.stat(os.path.join(path, f)).st_size
    return total


def _postings_bucket_dirs(se: Searcher, buckets: list[int]) -> list[str]:
    prefixes = (
        [""]
        if se.committed_deltas is None
        else [f"delta={g}/" for g in se.committed_deltas]
    )
    return [f"{p}bucket={b}" for p in prefixes for b in buckets]


def _norms_files(se: Searcher) -> list[str]:
    roots = (
        [se.paths.norms]
        if se.committed_deltas is None
        else [
            os.path.join(se.paths.norms, f"delta={g}")
            for g in se.committed_deltas
        ]
    )
    files: list[str] = []
    for r in roots:
        if not os.path.isdir(r):
            raise FileNotFoundError(r)
        files.extend(
            os.path.join(r, f)
            for f in sorted(os.listdir(r))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return files


def _local_query_bytes(se: Searcher, buckets: list[int]) -> int:
    """On-disk bytes of the query's pruned inputs. A missing committed
    norms dir raises FileNotFoundError (a broken index, not a reason to
    score in Spark without it)."""
    if se._norms_disk_bytes is None:
        se._norms_disk_bytes = sum(os.stat(f).st_size for f in _norms_files(se))
    total = se._norms_disk_bytes
    for d in _postings_bucket_dirs(se, buckets):
        sub = os.path.join(se.paths.postings, d)
        if os.path.isdir(sub):
            total += _dir_parquet_bytes(sub)
    return total


class _CellSource(NamedTuple):
    """What ``_score_cells`` reads, as plain picklable values (no Searcher,
    no SparkSession): the postings root and the query's pruned bucket dirs
    (``_postings_bucket_dirs``), its present terms, the cell grid, build
    partitions per cell and the committed norms files (none for kernels
    that only match: then no norms are read)."""

    postings: str
    bucket_dirs: list[str]
    present: list[str]
    cell_grid: np.ndarray
    cell_parts: int
    norms_files: list[str]


def _read_norms(files: list[str], cell_parts: int, parts=None) -> pd.DataFrame:
    """The norms rows of build partitions ``parts`` (a ``[p0, p1)`` pair;
    None: all) with their cell id."""
    import pyarrow.parquet as pq

    filters = None if parts is None else [
        ("part_id", ">=", parts[0]), ("part_id", "<", parts[1])
    ]
    pdf = pa.concat_tables(
        pq.read_table(
            f, columns=["part_id", "first_doc", "n_docs", "dl_blob"],
            filters=filters,
        )
        for f in files
    ).to_pandas()
    pdf["cell"] = (pdf["part_id"] // cell_parts).astype("int32")
    return pdf


def _score_cells(
    src: _CellSource, c0: int, c1: int, score_cell, norms_pdf=None
) -> pd.DataFrame | None:
    """The one per-cell reader of both scoring paths: score cells
    ``c0..c1`` (inclusive) with ``score_cell``. Reads the present terms'
    runs with pyarrow, slices them with ``_slice_mapper`` and keeps the
    pieces whose slicer cell id lies in the range; the runs' docID-range
    filter only prunes the read (it drops runs with no block in these
    cells). ``norms_pdf`` (every cell's rows, the local path's cache)
    saves the norms read; without norms files ``score_cell`` gets None for
    them. Returns the scored rows, or None."""
    grid = src.cell_grid
    filters = [("term", "in", src.present)]
    if c0 > 0:
        filters.append(("last_doc", ">=", int(grid[c0])))
    if c1 + 1 < len(grid):  # the last cell is open-ended
        filters.append(("first_doc", "<", int(grid[c1 + 1])))
    runs = _pruned_parquet_tables(src.postings, src.bucket_dirs, _RUN_COLS, filters)
    slices = list(_slice_mapper(grid)(b for t in runs for b in t.to_batches()))
    if not slices:
        return None
    slices_pdf = pa.Table.from_batches(slices).to_pandas()
    if norms_pdf is None and src.norms_files:
        norms_pdf = _read_norms(
            src.norms_files, src.cell_parts,
            (c0 * src.cell_parts, (c1 + 1) * src.cell_parts),
        )
    out = []
    for cell, s_pdf in slices_pdf.groupby("cell"):
        if not c0 <= cell <= c1:  # a straddling run's pieces in other cells
            continue
        cell_norms = None if norms_pdf is None else norms_pdf[norms_pdf["cell"] == cell]
        res = score_cell(s_pdf, cell_norms)
        if len(res):
            out.append(res)
    return pd.concat(out, ignore_index=True) if out else None


def _score_local(se: Searcher, src: _CellSource, score_cell) -> list[dict]:
    """The local path: ``_score_cells`` over every cell on the driver, with
    every cell's norms rows read once per Searcher. Returns the scored
    candidate rows as plain dicts."""
    if se._norms_pdf is None:
        se._norms_pdf = _read_norms(src.norms_files, src.cell_parts)
    scored = _score_cells(src, 0, len(src.cell_grid) - 1, score_cell, se._norms_pdf)
    return [] if scored is None else scored.to_dict("records")


def _score_fused(
    spark: SparkSession, src: _CellSource, score_cell, schema: pa.Schema
) -> DataFrame:
    """The distributed path: one Python stage with no shuffle. A ``range``
    of cell ids splits into contiguous per-task ranges, and each task runs
    ``_score_cells`` over its own range."""

    def score_range(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # numSlices <= n_cells, so every range split holds at least one cell
        cells = [c for batch in batches for c in batch.column(0).to_pylist()]
        scored = _score_cells(src, min(cells), max(cells), score_cell)
        if scored is not None:
            yield from pa.Table.from_pandas(
                scored, schema=schema, preserve_index=False
            ).to_batches()

    n_cells = len(src.cell_grid)
    n_tasks = min(n_cells, spark.sparkContext.defaultParallelism)
    return spark.range(0, n_cells, 1, n_tasks).mapInArrow(
        score_range, from_arrow_schema(schema)
    )


def _parts_for_runs(
    ranges: list[tuple[int, int]],
    cell_grid,
    cell_parts: int,
    total_parts: int,
) -> list[int] | None:
    """Build partitions whose docID span can intersect any of the given run
    ``[first_doc, last_doc]`` ranges — driver-side, metadata only. Returns
    None when pruning is useless (runs cover most cells, or the part list
    would be huge); the caller then reads the full relation. Superset-safe:
    a part with no matching postings merely adds an empty side. Pass the
    build-partition grid with ``cell_parts=1`` for part granularity."""
    n_cells = len(cell_grid)
    cells: set[int] = set()
    for first, last in ranges:
        c0 = int(np.searchsorted(cell_grid, first, side="right")) - 1
        c1 = int(np.searchsorted(cell_grid, last, side="right")) - 1
        cells.update(range(max(c0, 0), min(c1, n_cells - 1) + 1))
    if 2 * len(cells) >= n_cells:
        return None
    parts = [
        p
        for c in sorted(cells)
        for p in range(c * cell_parts, min((c + 1) * cell_parts, total_parts))
    ]
    return parts if len(parts) <= 8192 else None


def _touched_parts(
    se: Searcher, present: list[str], cell_parts: int = 1
) -> list[int] | None:
    """The build partitions the committed runs of ``present`` can touch
    (``_parts_for_runs`` at the granularity of ``cell_parts`` partitions),
    from the runs' ``(first_doc, last_doc)`` alone: a driver-side pyarrow
    read of those two columns on parquet indexes, one column-pruned Spark
    collect for Iceberg-stored postings. The blobs never load."""
    if se.iceberg_table is not None:
        rows = se.postings_runs(present).select("first_doc", "last_doc").collect()
    else:
        buckets = sorted({term_bucket(t, se.n_buckets) for t in present})
        rows = _pruned_parquet_rows(
            se.paths.postings, _postings_bucket_dirs(se, buckets),
            ["first_doc", "last_doc"], filters=[("term", "in", present)],
        )
    return _parts_for_runs(
        [(int(r["first_doc"]), int(r["last_doc"])) for r in rows],
        se.grid_parts[::cell_parts], cell_parts, len(se.grid_parts),
    )


def _run_cells(
    se: Searcher,
    present: list[str],
    cell_fn,
    schema: pa.Schema,
    norms: bool = True,
    norm_parts: list[int] | None = None,
    local: bool = False,
) -> DataFrame | list[dict]:
    """The one way a query's postings reach a per-cell function:
    ``cell_fn(slices_pdf, norms_pdf)`` runs once per docID cell holding
    runs of the ``present`` terms and returns rows of ``schema``.
    ``norms=False`` reads no norms (``cell_fn`` gets None for them).

    Parquet indexes run the per-cell reader ``_score_cells``: on the driver
    when ``local`` and the pruned inputs fit ``LOCAL_QUERY_MAX_BYTES``
    (the rows come back as plain dicts), else in one ``mapInArrow`` stage
    over a range of cell ids (``_score_fused``). Iceberg-stored postings
    have no local files: the Spark runs scan, ``_cell_slices`` and a pandas
    stage grouped by cell, cogrouped with the norms (pruned to
    ``norm_parts`` when given) when ``norms`` is set."""
    if se.iceberg_table is not None:
        slices = _cell_slices(se, se.postings_runs(present))
        spark_schema = from_arrow_schema(schema)
        if not norms:
            return slices.groupBy("cell").applyInPandas(
                lambda pdf: cell_fn(pdf, None), schema=spark_schema
            )
        nrm = se.norms
        if norm_parts is not None:
            nrm = nrm.filter(F.col("part_id").isin(norm_parts))
        return (
            slices.groupBy("cell")
            .cogroup(nrm.groupBy("cell"))
            .applyInPandas(cell_fn, schema=spark_schema)
        )
    buckets = sorted({term_bucket(t, se.n_buckets) for t in present})
    src = _CellSource(
        se.paths.postings, _postings_bucket_dirs(se, buckets), present,
        se.cell_grid, se.cell_parts, _norms_files(se) if norms else [],
    )
    if local and _local_query_bytes(se, buckets) <= LOCAL_QUERY_MAX_BYTES:
        return _score_local(se, src, cell_fn)
    return _score_fused(se.spark, src, cell_fn, schema)


def _param_bound_scale(k1: float, b: float) -> float:
    """Inflation factor that keeps build-time block-max bounds valid under
    query-time (k1, b) overrides. Returns 1.0 at the index constants.

    Proof. bm_maxq records max block quality at the INDEX constants
    (K1, B) = (BM25_K1, BM25_B). With x = dl/avgdl > 0 and tf >= 1, the
    per-posting quality ratio is

        q(k1, b) / q(K1, B) = (tf + K1*(1-B+B*x)) / (tf + k1*(1-b+b*x)).

    For fixed x this is (tf+A)/(tf+C), monotone in tf, so its sup over
    tf >= 1 is max(1, (1+A)/(1+C)). (1+A)/(1+C) is a Möbius function of x
    (both A and C are affine in x), hence monotone in x, so its sup over
    x in (0, inf) is attained at an endpoint:

        x -> 0:   (1 + K1*(1-B)) / (1 + k1*(1-b))
        x -> inf: (K1*B) / (k1*b)            (infinite when b = 0).

    max(1, those two) therefore bounds q(k1,b)/q(K1,B) everywhere, so
    ub_weight = idf*(k1+1) * factor * bm_maxq stays an upper bound of the
    true contribution idf*(k1+1)*q(k1,b). The b=0 infinity is absorbed by
    bmw_score_cell's unconditional cap ub <= idf*(k1+1) (quality <= 1
    pointwise). The factor bounds a ratio at FIXED avgdl, and the expunge
    factor (plans/expunge.py) bounds the avgdl-drift ratio at FIXED
    parameters, so their product bounds the joint ratio — _search_impl
    multiplies them."""
    if not (k1 > 0.0) or not (0.0 <= b <= 1.0):
        raise ValueError(
            f"BM25 overrides need k1 > 0 and 0 <= b <= 1, got k1={k1} b={b}"
        )
    if k1 == BM25_K1 and b == BM25_B:
        return 1.0
    at_zero = (1.0 + BM25_K1 * (1.0 - BM25_B)) / (1.0 + k1 * (1.0 - b))
    at_inf = (BM25_K1 * BM25_B) / (k1 * b) if b > 0.0 else math.inf
    return max(1.0, at_zero, at_inf)


def _url_doc_ids(se: Searcher, urls: DataFrame | list[str]) -> list[tuple[str, int]]:
    """(url, docID) for every index doc whose url is wanted: ONE scan of
    the extracts column-pruned to (url, part_id, local_pos) — the wanted
    urls broadcast-joined when they come as a DataFrame, pushed to parquet
    as an IN-list when they come as a list — and docID = grid[part_id] +
    local_pos computed on the driver (the same resolution plans/deletes.py
    uses for tombstones). URLs the index never ingested resolve to
    nothing; callers that need every url check."""
    ext = _extracts(se).select("url", "part_id", "local_pos")
    if isinstance(urls, DataFrame):
        ext = ext.join(F.broadcast(urls.select("url").distinct()), "url")
    else:
        ext = ext.filter(F.col("url").isin(sorted(set(urls))))
    grid = se.grid_parts
    return [
        (r["url"], int(grid[int(r["part_id"])]) + int(r["local_pos"]))
        for r in ext.collect()
    ]


def _pruned_parquet_tables(
    root: str,
    part_dirs: list[str],
    columns: list[str],
    filters=None,
) -> list[pa.Table]:
    """Driver- or task-side pruned parquet read of
    ``root/<part_dir>/*.parquet``: the named columns only, with optional
    pyarrow ``filters`` applied to the rows. A missing ``root`` raises
    FileNotFoundError; a missing part dir under an existing root is an
    empty partition and yields no table."""
    import pyarrow.parquet as pq

    if not os.path.isdir(root):
        raise FileNotFoundError(f"index relation missing: {root}")
    out: list[pa.Table] = []
    for d in part_dirs:
        sub = os.path.join(root, d)
        if not os.path.isdir(sub):
            continue
        for f in sorted(os.listdir(sub)):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(
                    pq.read_table(
                        os.path.join(sub, f), columns=columns, filters=filters
                    )
                )
    return out


def _pruned_parquet_rows(
    root: str,
    part_dirs: list[str],
    columns: list[str],
    filters=None,
) -> list[dict]:
    """``_pruned_parquet_tables`` as plain rows."""
    return [
        r
        for t in _pruned_parquet_tables(root, part_dirs, columns, filters)
        for r in t.to_pylist()
    ]


def _read_dictionary(
    se: Searcher, columns: list[str], filters=None, buckets=None
) -> pa.Table:
    """The one driver-side read of the committed term dictionary: the
    ``columns`` of term_stats, pyarrow ``filters`` pushed to its row
    groups, from the hash-bucket dirs in ``buckets`` (every bucket when
    None). Streamed indexes version term_stats per refresh; the read pins
    the committed max delta (a crashed refresh's recompute includes
    uncommitted docs' df — idf drift on the committed index). term_stats
    is parquet in every layout (Iceberg builds move only the postings to
    the table), and a missing relation raises rather than reading as an
    empty vocabulary."""
    root = se.paths.term_stats
    if se.committed_deltas is not None:
        root = os.path.join(root, f"delta={max(se.committed_deltas)}")
    if buckets is None:
        buckets = range(se.n_buckets)
    tables = _pruned_parquet_tables(
        root, [f"bucket={b}" for b in buckets], columns, filters
    )
    return pa.concat_tables(tables) if tables else pa.table({c: [] for c in columns})


def _stem_range(stem: str) -> list[tuple]:
    """The pyarrow filter keeping the terms in ``[stem, stem⁺)``, stem⁺
    being ``stem`` with its last character incremented, so only row groups
    whose min/max overlap that range load. Open-ended when the stem is
    empty or ends in a character without a plain successor: the range only
    prunes, the caller's matcher decides."""
    rng = [("term", ">=", stem)]
    if stem and ord(stem[-1]) < 0xD7FF:
        rng.append(("term", "<", stem[:-1] + chr(ord(stem[-1]) + 1)))
    return rng


def _ensure_idf(se: Searcher, terms: list[str]) -> None:
    """Fill the Searcher's df cache for ``terms`` with ONE bucket- and
    term-pruned term_stats read covering the misses (None caches an absent
    term); a term's idf is ``idf_value(n_docs, df)``. Shared by the BM25
    paths (through ``_query_head``) and the positional phrase path.

    The read is ``_read_dictionary`` pruned to the misses' buckets with
    the term predicate pushed to parquet row groups, not a Spark job: the
    pruned slice is O(queried buckets' vocabulary) and was always
    collected to the driver to build the query payload anyway."""
    misses = [t for t in terms if t not in se._df_cache]
    if not misses:
        return
    d = _read_dictionary(
        se,
        ["term", "df"],
        [("term", "in", misses)],
        sorted({term_bucket(t, se.n_buckets) for t in misses}),
    )
    found = dict(zip(d["term"].to_pylist(), d["df"].to_pylist()))
    for t in misses:
        se._df_cache[t] = found.get(t)


class QueryHead(NamedTuple):
    """A parsed query batch (``_query_head``)."""

    terms: dict[int, list[str]]  # per query: distinct positive terms, sorted
    boosts: dict[int, dict[str, float]]  # per query with 'term^w' weights
    negs: dict[int, list[str]]  # per query: its '-term' negations in the index
    df: dict[str, int]  # every term in the index, positive or negated
    idf: dict[str, float]  # idf_value(n_docs, df) of the same terms


def _query_head(se: Searcher, queries: list[tuple[int, str]]) -> QueryHead:
    """The one parse of a query batch, shared by search, the full-match
    plans (plans/hits.py) and explain: 'term^w' boosts
    (functions/tokenizer.parse_boost_query), '-term' boolean NOT
    (parse_query), tokenization, and one pruned term_stats read for the
    terms the df cache has not seen (``_ensure_idf``)."""
    terms: dict[int, list[str]] = {}
    boosts: dict[int, dict[str, float]] = {}
    negs: dict[int, list[str]] = {}
    for qid, text in queries:
        txt, w = parse_boost_query(text)
        pos, ng = parse_query(txt)
        terms[qid] = sorted(set(tokenize(pos)))
        if w:
            boosts[qid] = w
        if ng:
            negs[qid] = ng
    every = sorted(
        {t for ts in terms.values() for t in ts}
        | {t for ns in negs.values() for t in ns}
    )
    _ensure_idf(se, every)
    df = {t: d for t in every if (d := se._df_cache[t]) is not None}
    # an absent negated term excludes nothing
    negs = {qid: p for qid, ns in negs.items() if (p := [t for t in ns if t in df])}
    idf = {t: idf_value(se.n_docs, d) for t, d in df.items()}
    return QueryHead(terms, boosts, negs, df, idf)


def _search_impl(
    se: Searcher,
    queries: list[tuple[int, str]],
    k: int,
    mode: str,
    fixed_point: bool = False,
    with_text: bool = False,
    tie_margin: int = FIXED_POINT_TIE_MARGIN,
    prune_norms: bool | None = None,
    min_match: int = 2,
    offset: int = 0,
    filter_urls: DataFrame | None = None,
    k1: float | None = None,
    b: float | None = None,
    search_after: dict[int, tuple[int, str]] | None = None,
    raw_scored: bool = False,
) -> DataFrame:
    if prune_norms is None:  # auto: prune once the norms relation is big
        prune_norms = se.n_docs >= PRUNE_NORMS_AUTO_MIN_DOCS
    if search_after:
        if not fixed_point:
            raise ValueError(
                "search_after requires fixed_point=True (the cursor is "
                "defined over the floored score6 rank key)"
            )
        if offset:
            raise ValueError("search_after and offset are mutually exclusive")
    # raw_scored (internal; search_collapse): return the FULL scored match
    # set as (query_id, doc_id, part_id, local_pos, score) rows — no per-cell
    # truncate, no global rank, no url lookup — plus the driver-side build-
    # partition prune list. Exhaustive modes only (BMW's contract is top-k).
    if raw_scored:
        if mode not in ("dense", "conjunctive", "msm"):
            raise ValueError(
                f"raw_scored requires an exhaustive mode, got {mode!r}"
            )
        if search_after or offset:
            raise ValueError(
                "raw_scored returns the full match set; paging does not apply"
            )

    avgdl = se.avgdl
    # Query-time BM25 parameter overrides (Lucene per-query similarity
    # config): the exhaustive kernels just evaluate at (q_k1, q_b); BMW's
    # build-time block-max bounds inflate by the provable parameter factor
    # (_param_bound_scale), composed multiplicatively with the expunge
    # avgdl factor — each bounds a ratio at a fixed value of the other's
    # variable, so the product bounds the joint drift.
    q_k1 = BM25_K1 if k1 is None else float(k1)
    q_b = BM25_B if b is None else float(b)
    bound_scale = se.bound_scale * _param_bound_scale(q_k1, q_b)
    # Tie margin: per-cell heaps order by RAW score; two docs < 1e-6 apart
    # share a floored cell but may sit in opposite raw order. Keeping a few
    # extra candidates per cell makes the floored global cut exact unless
    # > margin docs land in one 1e-6 cell right at the boundary.
    # Paging: ranks (offset, offset+k] of the GLOBAL order — every per-cell
    # heap must hold offset+k candidates for the page to be exact.
    cell_k = k + offset + (tie_margin if fixed_point else 0)
    _RAW_DDL = "query_id int, doc_id long, part_id int, local_pos long, score double"
    if raw_scored:
        empty = (se._empty_df(_RAW_DDL), None)
    else:
        empty = _empty_hits(se, with_text)

    # Filtered search (Lucene filter context): the allowed docID set masks
    # candidates pre-heap as an INCLUSION — the mirror of the tombstone /
    # '-term' exclusion contract. Resolved once per call.
    allowed_ids = None
    if filter_urls is not None:
        allowed_ids = np.sort(
            np.asarray([d for _u, d in _url_doc_ids(se, filter_urls)], dtype=np.int64)
        )
        if allowed_ids.size == 0:
            return empty  # filter admits nothing — no doc can rank

    # search_after cursors (docstring on ``search``): per-query
    # (score6, doc_id) admission tuples. Applied PRE-HEAP in every kernel,
    # so page depth never deepens a heap (the offset path's cost model).
    after = None
    if search_after:
        want = [u for _s6, u in search_after.values()]
        url_ids = dict(_url_doc_ids(se, want))
        # cursors come from a previous page's rows: a silent drop would
        # turn the tie-break into 'all ties admitted', duplicating rows
        # across pages
        missing = sorted({u for u in want if u not in url_ids})
        if missing:
            raise ValueError(
                f"search_after cursor urls not in the index: {missing}"
            )
        after = {qid: (int(s6), url_ids[u]) for qid, (s6, u) in search_after.items()}

    # 'term^2.5' boosts fold into the per-(query, term) idf BEFORE it ships
    # in the payload — every scoring kernel (dense/conjunctive/msm and BMW's
    # block-max bounds, which scale linearly in idf) stays exact with zero
    # kernel changes. '-term' negations never score: their postings feed
    # the per-cell exclusion mask (_CellMask) next to the tombstones.
    head = _query_head(se, queries)
    idf, negs = head.idf, head.negs
    payload = [
        (
            qid,
            [
                (t, idf[t] * head.boosts.get(qid, {}).get(t, 1.0))
                for t in qts
                if t in idf
            ],
        )
        for qid, qts in head.terms.items()
    ]
    payload = [(qid, tl) for qid, tl in payload if tl]
    if mode == "conjunctive":
        # AND semantics: a query term the index has never seen means NO doc
        # can match — drop the query here rather than intersecting the
        # remaining terms (which would silently widen the semantics).
        payload = [
            (qid, tl) for qid, tl in payload if len(tl) == len(head.terms[qid])
        ]
    msm_by_qid: dict[int, int] = {}
    if mode == "msm":
        # minimum_should_match: the requirement clamps to the query's TOTAL
        # term count (index-absent terms included — they can never match, so
        # they only reduce what's achievable, exactly like the SQL twin's
        # least(m, nt) over all query terms). Queries with fewer PRESENT
        # terms than their requirement can never be satisfied — drop them
        # driver-side rather than scoring cells for a provably-empty result.
        msm_by_qid = {
            qid: min(min_match, len(qts)) for qid, qts in head.terms.items()
        }
        payload = [
            (qid, tl) for qid, tl in payload if len(tl) >= msm_by_qid[qid]
        ]
    if not payload:
        return empty
    # The read covers the PRESENT terms, negated ones included (absent
    # terms would widen the bucket IN-list for dirs that can't contribute).
    present = sorted(idf)
    # raw_scored callers prune their url-join extracts scan to the build
    # partitions the runs touch; prune_norms (Iceberg-stored postings) ships
    # only those partitions' norms to the cogroup.
    raw_parts = (
        _touched_parts(se, present, se.cell_parts)
        if raw_scored or prune_norms
        else None
    )
    use_dense = mode in ("dense", "conjunctive", "msm")
    conjunctive = mode == "conjunctive"
    # Everything the kernel reads is a plain value captured by the closure
    # (the local path calls it directly; Spark pickles it with the UDF and
    # broadcasts the command by itself past 1 MB).
    deleted = se.deleted_ids
    grid_parts = se.grid_parts

    def _empty_cell() -> pd.DataFrame:
        cols = {"query_id": "int32", "doc_id": "int64", "score": "float64"}
        if raw_scored:
            cols.update({"part_id": "int32", "local_pos": "int64"})
        return pd.DataFrame({c: [] for c in cols}).astype(cols)

    def score_cell(slices_pdf: pd.DataFrame, norms_pdf: pd.DataFrame) -> pd.DataFrame:
        if slices_pdf.empty or norms_pdf.empty:
            return _empty_cell()
        from ..operators.codec import vb_decode

        term_runs = assemble_cell_runs(slices_pdf)
        nrows = norms_pdf.sort_values("first_doc")
        lo = int(nrows["first_doc"].iloc[0])
        dl = np.concatenate(
            [vb_decode(bytes(b)) for b in nrows["dl_blob"]]
        ).astype(np.float64)
        # contiguity: each part's range must abut the next
        expect = lo
        for _, r in nrows.iterrows():
            if int(r["first_doc"]) != expect:  # survives python -O
                raise ValueError("norms ranges not contiguous")
            expect += int(r["n_docs"])
        norms_obj = CellNorms(lo, dl)
        hi = lo + len(dl)
        cell_allowed = None
        if allowed_ids is not None:
            cell_allowed = _id_range(allowed_ids, lo, hi)
            if not len(cell_allowed):
                # no filter-passing doc lives in this cell: skip it before
                # decoding a single posting block.
                return _empty_cell()
        mask = _CellMask(term_runs, lo, hi, deleted, negs)
        qids, dids, scores = [], [], []
        for qid, term_idf in payload:
            if not any(t in term_runs for t, _ in term_idf):
                continue
            q_excl = mask(qid)
            if use_dense:
                if msm_by_qid:
                    d, s = msm_score_cell(
                        term_runs, norms_obj, term_idf, avgdl,
                        msm_by_qid[qid], deleted=q_excl,
                        allowed=cell_allowed, k1=q_k1, b=q_b,
                    )
                else:
                    scorer = (
                        conjunctive_score_cell if conjunctive else dense_score_cell
                    )
                    d, s = scorer(
                        term_runs, norms_obj, term_idf, avgdl, deleted=q_excl,
                        allowed=cell_allowed, k1=q_k1, b=q_b,
                    )
                if after is not None and qid in after:
                    # cursor admission BEFORE the truncate: docs at-or-
                    # before the cursor must not occupy candidate slots.
                    cs6, cdid = after[qid]
                    s6 = np.floor(s * 1_000_000).astype(np.int64)
                    keep = (s6 < cs6) | ((s6 == cs6) & (d > cdid))
                    d, s = d[keep], s[keep]
                if len(d) > cell_k and not raw_scored:
                    # local truncate to cell_k best (score desc, doc asc)
                    order = np.lexsort((d, -s))[:cell_k]
                    d, s = d[order], s[order]
                pairs = list(zip(d.tolist(), s.tolist()))
            else:
                pairs = bmw_score_cell(
                    term_runs, norms_obj, term_idf, avgdl, cell_k,
                    deleted=q_excl, bound_scale=bound_scale,
                    allowed=cell_allowed, k1=q_k1, b=q_b,
                    after=after.get(qid) if after is not None else None,
                )
            for did, sc in pairs:
                qids.append(qid)
                dids.append(did)
                scores.append(sc)
        out = {
            "query_id": np.array(qids, dtype=np.int32),
            "doc_id": np.array(dids, dtype=np.int64),
            "score": np.array(scores, dtype=np.float64),
        }
        if raw_scored:
            # (part_id, local_pos) per row, vectorized off the full grid —
            # raw consumers join the extracts on these coordinates with the
            # same partition-pruned scan as _rank_and_lookup's url lookup.
            pid = np.searchsorted(grid_parts, out["doc_id"], side="right") - 1
            out["part_id"] = pid.astype(np.int32)
            out["local_pos"] = out["doc_id"] - grid_parts[pid]
        return pd.DataFrame(out)

    cell_schema = pa.schema(
        [("query_id", pa.int32()), ("doc_id", pa.int64()), ("score", pa.float64())]
        + ([("part_id", pa.int32()), ("local_pos", pa.int64())] if raw_scored else [])
    )
    # The local path (zero Spark jobs) runs the same per-cell reader and
    # score_cell closure as the fused stage, on the driver — identity pinned
    # by tests/test_r06_optimizations.py::test_local_fast_path_equals_cogroup.
    # raw_scored consumers expect a DataFrame, so they always run in Spark.
    scored = _run_cells(
        se, present, score_cell, cell_schema,
        norm_parts=raw_parts if prune_norms else None, local=not raw_scored,
    )

    if raw_scored:
        return scored, raw_parts
    return _rank_and_lookup(
        se, scored, k, fixed_point, with_text, empty, offset=offset,
        max_candidate_rows=len(se.cell_grid) * cell_k * len(payload),
    )


# Candidate-row bound under which the global rank runs DRIVER-SIDE over the
# collected per-cell candidates instead of through a Spark window (one fewer
# exchange + stage per query, ~0.3-0.4 s of fixed overhead here). The bound
# is cells x per-cell-k x queries — known BEFORE execution, so the choice is
# plan-time and scale-adaptive: a 10^12-doc index (millions of cells) always
# takes the window path. Ordering semantics are identical by construction
# (same (key desc, doc_id asc) total order, same floor fixed-point key).
DRIVER_RANK_MAX_ROWS = 131_072


def _rank_and_lookup(
    se: "Searcher",
    scored: DataFrame,
    k: int,
    fixed_point: bool,
    with_text: bool,
    empty: DataFrame,
    offset: int = 0,
    max_candidate_rows: int | None = None,
) -> DataFrame:
    """Shared tail of every retrieval path ((query_id, doc_id, score) ->
    ranked winners with urls): global rank over the candidate rows, then a
    url lookup that reads ONLY the winners' partitions."""
    spark, paths = se.spark, se.paths
    if isinstance(scored, list) or (
        max_candidate_rows is not None
        and max_candidate_rows <= DRIVER_RANK_MAX_ROWS
    ):
        # driver-side rank over the (provably small) candidate set: same
        # row_number() over (order_key desc, doc_id asc) per query_id.
        # `scored` arrives as plain rows from the local fast path, or is
        # collected from the scoring stage when the bound is small.
        import math as _math

        cand = scored if isinstance(scored, list) else scored.collect()
        by_q: dict[int, list] = {}
        for r in cand:
            by_q.setdefault(int(r["query_id"]), []).append(r)
        top_rows = []
        for qid in by_q:
            if fixed_point:
                keyf = lambda r: (  # noqa: E731
                    -_math.floor(r["score"] * 1_000_000),
                    int(r["doc_id"]),
                )
            else:
                keyf = lambda r: (-r["score"], int(r["doc_id"]))  # noqa: E731
            ranked = sorted(by_q[qid], key=keyf)
            for rank0, r in enumerate(ranked[offset : offset + k]):
                top_rows.append(
                    {
                        "query_id": qid,
                        "doc_id": int(r["doc_id"]),
                        "score": r["score"],
                        "rank": offset + rank0 + 1,
                    }
                )
    else:
        if fixed_point:
            # Rank over the FLOORED score (CLAUDE.md invariant: the DuckDB
            # oracle ranks floor(score*1e6) with doc_id tie-break).
            order_key = F.floor(F.col("score") * 1_000_000).cast("long")
        else:
            order_key = F.col("score")
        w = Window.partitionBy("query_id").orderBy(
            F.desc(order_key), F.asc("doc_id")
        )
        top_rows = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > offset) & (F.col("rank") <= offset + k))
            .collect()
        )
    if not top_rows:
        return empty

    # URL lookup for the (<= queries x k) winners only: derive each docID's
    # (part_id, local_pos) from the grid, then read JUST those partitions
    # with both predicates pushed to parquet — at 10^12 docs this touches a
    # handful of files instead of scanning the corpus.
    grid = se.grid_parts
    want: dict[int, tuple[int, int]] = {}
    for r in top_rows:
        did = int(r["doc_id"])
        pid = int(np.searchsorted(grid, did, side="right") - 1)
        want[did] = (pid, did - int(grid[pid]))
    parts = sorted({p for p, _ in want.values()})
    poss = sorted({lp for _, lp in want.values()})
    # The winners' url/text fetch is a DRIVER-SIDE pyarrow read of just the
    # winners' part_id partition dirs with the local_pos predicate pushed to
    # parquet row groups — the rows were always collected to the driver to
    # assemble the result, and the read touches <= queries x k partitions at
    # any corpus size (docs_extracted is parquet in every layout).
    lookup_cols = ["local_pos", "url"] + (["text"] if with_text else [])
    winners: dict[tuple[int, int], dict] = {}
    for p in parts:
        for r in _pruned_parquet_rows(
            paths.docs_extracted,
            [f"part_id={p}"],
            lookup_cols,
            filters=[("local_pos", "in", poss)],
        ):
            winners[(p, int(r["local_pos"]))] = r
    lost = sorted(set(want.values()) - set(winners))
    if lost:
        raise ValueError(
            f"docs_extracted has no row for winning (part_id, local_pos) {lost}"
        )
    out = []
    for r in top_rows:
        wrow = winners[want[int(r["doc_id"])]]
        rec = (int(r["query_id"]), int(r["rank"]), wrow["url"], float(r["score"]))
        out.append(rec + (wrow["text"],) if with_text else rec)
    out.sort(key=lambda x: (x[0], x[1]))
    return local_df(spark, out, _hits_ddl(with_text))


def search_query_string(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    cell_parts: int = 4,
    fixed_point: bool = False,
    with_text: bool = False,
    max_expansions: int = 64,
) -> DataFrame:
    """Lucene ``query_string`` mini-language over the committed index —
    the one-call composition of the surfaces that exist individually:
    SHOULD terms (OR, BM25-scored), ``term^w`` boosts, ``+term`` musts,
    ``-term`` boolean NOT, ``"quoted"`` required phrases (contiguous,
    in-order; terms promoted to scored musts — ``search_phrase``'s
    BM25-over-terms scoring, NOT Lucene phrase-frequency), ``-"quoted"``
    negated phrases, and ``term*`` prefix expansion. Grammar and clause
    semantics live in the shared lockstep parser
    (``functions/tokenizer.parse_query_string``) so the engine, the pytest
    oracle and the SQL twin (``driverq._query_string_sql``) parse queries
    identically. -> (query_id, rank, url, score[, text]).

    Admission is the engine-wide PRE-RANK exclusion contract: a doc ranks
    iff it matches >= 1 scored clause (inherent), contains every must term,
    matches every required phrase, and matches no negated term or phrase —
    all applied before the global rank, so survivor scores equal the plain
    OR query's scores and ranks compact. score = sum over matched scored
    terms of BM25 * weight (weights fold into idf pre-payload, the standing
    boost contract).

    Plan (three kernel calls + the shared rank/lookup tail, each exact):

    1. ONE exhaustive dense kernel over every query's scored terms
       (boosts + '-term' negations ride the existing per-kernel channels)
       via ``raw_scored`` — O(matches) scored rows, the inherent cost of
       composite admission (same class as ``search_collapse``/dis_max; a
       pure term query should use ``search`` and keep BMW pruning).
    2. ONE conjunctive kernel over the must terms of queries that have
       them -> semi-join on (query_id, doc_id). A must term the index has
       never seen admits nothing — correct, the index covers the corpus.
    3. ONE conjunctive kernel with every phrase (required AND negated) as
       its own ``qid*64+i`` sub-query -> candidates = docs containing all
       the phrase's terms (a superset of its matches, and the ONLY docs
       that can match it) -> adjacency verification on their text,
       distributed and codegen'd (``_adjacency_expr``, the
       ``search_phrase`` verify stage) with the extracts scan pruned to
       the candidates' build partitions -> required phrases semi-join
       (docs matching ALL of the query's phrases), negated phrases
       anti-join. No candidate cap and no truncation: candidates flow
       distributed through joins (AQE broadcasts small sides), never
       through the driver — exact at any corpus size, at the
       O(docs containing all phrase terms) cost search_phrase's positions
       path also pays.

    Reference parity: the reference has no query language at all (its
    retrieval is an LLM prompt over the PDF tree,
    /root/reference/pageindex/page_index.py); this surface is the Lucene/
    Elasticsearch ``query_string`` shape the north rule's engine class
    requires, lowered onto the committed-index kernels.
    """
    from ..functions.sqlglue import spark_terms
    from ..functions.tokenizer import parse_query_string

    _validate_qids(queries)
    se = get_searcher(spark, index_dir, cell_parts)
    parsed = {qid: parse_query_string(text) for qid, text in queries}

    # prefix expansion: one term-dictionary read for every stem in the batch
    stems = sorted({s for p in parsed.values() for s in p["prefixes"]})
    exp = _expand_prefixes(se, stems, max_expansions)
    full_w: dict[int, dict[str, float]] = {}
    for qid, p in parsed.items():
        w = dict(p["weights"])
        for s in p["prefixes"]:
            for t in exp.get(s, []):
                w.setdefault(t, 1.0)  # explicit clause keeps its weight
        full_w[qid] = w

    empty = _empty_hits(se, with_text)

    def _boost_word(t: str, w: float) -> str:
        if w == 1.0:
            return t
        s = repr(w)
        if not _QS_WEIGHT_RE.match(s):
            raise ValueError(f"weight {w!r} not representable as 'term^w'")
        return f"{t}^{s}"

    main_q = [
        (
            qid,
            " ".join(
                [_boost_word(t, w) for t, w in sorted(full_w[qid].items())]
                + [f"-{t}" for t in parsed[qid]["neg"]]
            ),
        )
        for qid in sorted(parsed)
        if full_w[qid]  # a query whose prefixes all expanded to nothing
    ]
    if not main_q:
        return empty
    scored, _parts = _search_impl(
        se, main_q, k, "dense", fixed_point=fixed_point, raw_scored=True
    )

    # must admission (step 2)
    must_q = [
        (qid, " ".join(parsed[qid]["must"]))
        for qid, _t in main_q
        if parsed[qid]["must"]
    ]
    if must_q:
        conj, _ = _search_impl(
            se, must_q, k, "conjunctive", fixed_point=fixed_point,
            raw_scored=True,
        )
        # single-lineage admission (no filter/union fork re-executing the
        # kernel subtree): conjunctive rows are unique per (query, doc) —
        # cells partition docID space — so a left join never duplicates.
        mq = [qid for qid, _t in must_q]
        scored = (
            scored.join(
                conj.select("query_id", "doc_id").withColumn(
                    "__m", F.lit(1)
                ),
                ["query_id", "doc_id"],
                "left",
            )
            .filter(
                F.col("__m").isNotNull() | ~F.col("query_id").isin(mq)
            )
            .drop("__m")
        )

    # phrase admission (step 3)
    phr_sub: list[tuple[int, str]] = []
    sub_meta: list[tuple[int, int, bool, list[str]]] = []  # sub, qid, is_req
    req_counts: dict[int, int] = {}
    for qid, _t in main_q:
        p = parsed[qid]
        ph, nph = p["phrases"], p["neg_phrases"]
        if len(ph) + len(nph) > 63:
            raise ValueError(f"query {qid}: more than 63 phrase clauses")
        for i, terms in enumerate(ph + nph):
            phr_sub.append((qid * 64 + i, " ".join(terms)))
            sub_meta.append((qid * 64 + i, qid, i < len(ph), terms))
        if ph:
            req_counts[qid] = len(ph)
    if phr_sub:
        cand, cparts = _search_impl(
            se, phr_sub, k, "conjunctive", fixed_point=fixed_point,
            raw_scored=True,
        )
        cond = F.lit(False)
        for sub, _qid, _is_req, terms in sub_meta:
            cond = F.when(
                F.col("query_id") == sub,
                _adjacency_expr("tk", terms, 0, True),
            ).otherwise(cond)
        meta = local_df(
            spark,
            [(s, q, r) for s, q, r, _t in sub_meta],
            "sub int, qid int, is_req boolean",
        )
        # ONE aggregation over the verify output (single lineage — the
        # conjunctive kernel + text verify run once, not once per clause
        # kind): per (query, doc), how many distinct required phrases
        # matched and whether any negated phrase did. verified rows are
        # unique per (sub, doc) — cand is (cells partition docID space)
        # and (part_id, local_pos) is the extract's primary key.
        ver_agg = (
            _with_urls(se, cand, cparts, "text")
            .withColumn("tk", F.expr(spark_terms("text")))
            .filter(cond)
            .join(F.broadcast(meta), F.col("query_id") == F.col("sub"))
            .groupBy(F.col("qid").alias("query_id"), "doc_id")
            .agg(
                F.sum(F.when(F.col("is_req"), 1).otherwise(0)).alias(
                    "__n_ok"
                ),
                F.max(F.when(~F.col("is_req"), 1).otherwise(0)).alias(
                    "__n_neg"
                ),
            )
        )
        need = local_df(
            spark,
            list(req_counts.items()) or [(-1, 0)],
            "query_id int, __n_req int",
        )
        scored = (
            scored.join(ver_agg, ["query_id", "doc_id"], "left")
            .join(F.broadcast(need), "query_id", "left")
            .filter(
                (
                    F.col("__n_req").isNull()
                    | (
                        F.coalesce(F.col("__n_ok"), F.lit(0))
                        == F.col("__n_req")
                    )
                )
                & (F.coalesce(F.col("__n_neg"), F.lit(0)) == 0)
            )
            .drop("__n_ok", "__n_neg", "__n_req")
        )

    return _rank_and_lookup(
        se,
        scored.select("query_id", "doc_id", "score"),
        k,
        fixed_point,
        with_text,
        empty,
    )


_QS_WEIGHT_RE = re.compile(r"^\d+(?:\.\d+)?$")
