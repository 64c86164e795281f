"""Full-match aggregation surfaces: total hit counts and facet counts.

The reference's retrieval returns a handful of tree nodes
(/root/reference/README.md:179-188); a web-scale engine also needs the
aggregations a search UI shows NEXT to the top-k — the total hit count
("about 1,234,000 results") and per-facet match counts (Elasticsearch terms
aggregations / Lucene faceting). These aggregate the ENTIRE match set, so
they get their own plan instead of riding the top-k heap:

1. **Query head + search's cell reader** — the same parse as the search
   plan (`query._query_head`), and the same way postings reach a per-cell
   function (`query._run_cells`): on parquet indexes one ``mapInArrow``
   stage over a range of cell ids, each task reading and slicing its own
   cells' runs with pyarrow. The match kernels read no norms.
2. **Per-cell match kernel** — decode each query term's cell postings once,
   union (OR semantics), subtract the cell's exclusion mask
   (`query._CellMask`: tombstones and '-term' negations, the same pre-heap
   contract as search). Kernels capture the payload, negations and
   tombstones as plain closure values, like search's. Counting emits
   per-cell PARTIAL counts — O(cells) rows, never O(matches); faceting
   must materialize matched doc coordinates, so it emits (query_id,
   part_id, local_pos) rows — inherently O(matches), the price of the
   statistic.
3. **Tiny agg / dimension join** — counts: one sum per query. Facets
   (``_matched_agg``): join the extracts for urls with the scan FILTERED to
   the build partitions the runs touch (`query._touched_parts`, a
   driver-side read of the runs' docID ranges), then join the caller's
   (url, facet) dimension and count per (query, facet value).

Doc lengths don't matter to matching, and the kernels share the search
plan's exclusion semantics, so ``search_count(q)`` == number of docs
``search(q, k=inf)`` would rank.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.runfmt import decode_run
from ..operators.wand import assemble_cell_runs
from ..session import local_df
from .query import (
    QueryHead,
    _CellMask,
    _dim_type,
    _extracts,
    _fixed6,
    _query_head,
    _read_dictionary,
    _run_cells,
    _scored_agg,
    _touched_parts,
    _two_phase_rank,
    _with_urls,
    get_searcher,
)


class _MatchState(NamedTuple):
    """A parsed batch (``_match_state``)."""

    head: QueryHead
    payload: list[tuple[int, list[str]]]  # per query: its terms in the index
    present: list[str]  # the payload's terms and the present negations


def _match_state(se, queries: list[tuple[int, str]]) -> _MatchState:
    """Shared head for the full-match plans: the shared query head
    (``_query_head``: 'term^w' boosts tolerated and ignored — weights don't
    change the match set; '-term' negations honored) and the terms whose
    runs the kernels read. An empty payload: no query can match anything."""
    head = _query_head(se, queries)
    payload = [
        (qid, ts) for qid, qts in head.terms.items()
        if (ts := [t for t in qts if t in head.df])
    ]
    present = sorted(
        {t for _, ts in payload for t in ts}
        | {t for ns in head.negs.values() for t in ns}
    )
    return _MatchState(head, payload, present)


def _cell_matches(pdf: pd.DataFrame, payload, negs, deleted, counts=False):
    """(query_id -> matched docIDs) within one cell: decode each term's cell
    postings once, union per query, subtract the cell's exclusion mask
    (``_CellMask``: tombstones + negations). With ``counts`` each value is
    (docIDs, how many of the query's terms contain each doc). Exact per
    cell because cells partition docID space."""
    term_runs = assemble_cell_runs(pdf)
    docs_by_term = {
        t: decode_run(r)[0].astype(np.int64) for t, r in term_runs.items()
    }
    lo, hi = int(pdf["first_doc"].min()), int(pdf["last_doc"].max()) + 1
    mask = _CellMask(term_runs, lo, hi, deleted, negs, docs_by_term)
    out: dict[int, np.ndarray] = {}
    for qid, terms in payload:
        arrs = [docs_by_term[t] for t in terms if t in docs_by_term]
        if not arrs:
            continue
        if counts:
            u, n = np.unique(np.concatenate(arrs), return_counts=True)
        else:
            u = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
        e = mask(qid)
        if e is not None:
            keep = ~np.isin(u, e)
            u = u[keep]
            if counts:
                n = n[keep]
        if len(u):
            out[qid] = (u, n) if counts else u
    return out


def search_count(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    cell_parts: int = 4,
) -> DataFrame:
    """Total hit count per query -> (query_id, n_hits): the number of docs
    an unbounded ``search(q)`` would rank (OR semantics; tombstones and
    '-term' exclusions applied identically). Per-cell partial counts are
    the only kernel rows — O(cells), never O(matches) — then one tiny
    sum. Queries with zero hits emit no row (matching the SQL twin's
    GROUP BY over matches)."""
    se = get_searcher(spark, index_dir, cell_parts)
    state = _match_state(se, queries)
    if not state.payload:
        return se._empty_df("query_id int, n_hits long")
    return _count_matches(se, state).withColumnRenamed("n", "n_hits")


_COUNT_SCHEMA = pa.schema([("query_id", pa.int32()), ("n", pa.int64())])


def _count_matches(se, state: _MatchState) -> DataFrame:
    """Per-query match counts — the cheap count kernel: per-cell partial
    counts (no coordinates, no url join) are the only kernel rows —
    O(cells), never O(matches) — then one tiny sum. Shared by
    ``search_count`` and the surfaces that need the match-set SIZE next to
    the match set itself (``significant_terms``): re-running this count
    shape beats duplicating the URL-joined kernel lineage, and a persist()
    would trade that for cache ownership a lazy API can't release. Output
    (query_id, n)."""
    payload, negs, deleted = state.payload, state.head.negs, se.deleted_ids

    def count_cell(pdf: pd.DataFrame, _norms) -> pd.DataFrame:
        matches = _cell_matches(pdf, payload, negs, deleted)
        return pd.DataFrame(
            {
                "query_id": np.array(list(matches), dtype=np.int32),
                "n": np.array([len(v) for v in matches.values()], dtype=np.int64),
            }
        )

    partial = _run_cells(se, state.present, count_cell, _COUNT_SCHEMA, norms=False)
    return partial.groupBy("query_id").agg(F.sum("n").alias("n"))


def _match_coords(se, state: _MatchState, rated: bool = False) -> DataFrame:
    """The match kernel's docIDs as (query_id, part_id, local_pos) rows,
    converted to coordinates IN the kernel (vectorized searchsorted over
    the grid). ``rated`` adds each doc's term-coverage grade for
    ``rank_eval``: rating = number of DISTINCT query terms whose postings
    contain the doc — within a cell each term's decoded docID list is
    already distinct, so the multiplicity of a docID across the query's
    term lists IS the grade, and cells partition docID space, so no
    cross-cell merge is needed. O(matches) rows."""
    payload, negs, deleted = state.payload, state.head.negs, se.deleted_ids
    grid = se.grid_parts
    schema = pa.schema(
        [("query_id", pa.int32()), ("part_id", pa.int32()), ("local_pos", pa.int64())]
        + ([("rating", pa.int32())] if rated else [])
    )

    def coord_cell(pdf: pd.DataFrame, _norms) -> pd.DataFrame:
        matches = _cell_matches(pdf, payload, negs, deleted, counts=rated)
        if not matches:
            return schema.empty_table().to_pandas()
        out = {c: [] for c in schema.names}
        for qid, m in matches.items():
            u = m[0] if rated else m
            pid = np.searchsorted(grid, u, side="right") - 1
            out["query_id"].append(np.full(len(u), qid, dtype=np.int32))
            out["part_id"].append(pid.astype(np.int32))
            out["local_pos"].append(u - grid[pid])
            if rated:
                out["rating"].append(m[1].astype(np.int32))
        return pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})

    return _run_cells(se, state.present, coord_cell, schema, norms=False)


def _matched_urls(se, state: _MatchState) -> DataFrame:
    """The match kernel's docIDs as (query_id, part_id, url) rows. The
    extracts scan is filtered to the build partitions the runs touch
    before the url join (partition-dir pruning — selective queries touch
    a handful of files)."""
    return _with_urls(
        se, _match_coords(se, state), _touched_parts(se, state.present)
    ).select("query_id", "part_id", "url")


def _matched_agg(
    spark: SparkSession,
    index_dir: str,
    cell_parts: int,
    queries: list[tuple[int, str]],
    ddl: str,
    build: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The full-match surfaces' one front-end: ``build`` turns the matched
    (query_id, part_id, url) rows (``_matched_urls``) into the surface's
    aggregation. When no query can match, the result is the Searcher's
    cached empty frame of ``ddl``."""
    se = get_searcher(spark, index_dir, cell_parts)
    state = _match_state(se, queries)
    if not state.payload:
        return se._empty_df(ddl)
    return build(_matched_urls(se, state))


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    facets: DataFrame,
    cell_parts: int = 4,
    top_n: int | None = None,
    other_label: str = "__other__",
) -> DataFrame:
    """Facet counts over the FULL match set -> (query_id, facet, n_docs):
    for every query, how many matching docs carry each facet value
    (Elasticsearch terms aggregation). ``facets`` is a (url, facet)
    dimension DataFrame; matched urls come from the shared
    ``_matched_urls`` tail (kernel match -> pruned url join).

    ``top_n`` is the ES terms-agg ``size`` + ``sum_other_doc_count``
    contract — the bucket-explosion control a high-cardinality facet
    (urls, hosts) needs at scale: per query only the ``top_n`` buckets by
    (n_docs desc, facet asc) return under their own names; every other
    bucket collapses into ONE ``other_label`` row carrying the remainder
    (emitted only when non-zero, like ES's non-zero sum_other_doc_count).
    The sentinel is IN-BAND: callers must pick an ``other_label`` outside
    the facet domain (ES sidesteps this by returning
    sum_other_doc_count out-of-band; a real bucket named like the label
    would silently merge with the tail).
    Single lineage: the per-(query, facet) counts get a rank window (the
    counts relation is facet-cardinality-sized, not match-sized), the
    bucket key rewrites to ``other_label`` past the rank, and ONE more
    map-side-combined groupBy folds the tail — never a fork that would
    re-run the match kernel, and never a global sort."""
    from pyspark.sql import Window

    if top_n is not None and top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")

    def build(matched: DataFrame) -> DataFrame:
        counts = (
            matched.join(facets, "url")
            .groupBy("query_id", "facet")
            .agg(F.count("*").alias("n_docs"))
        )
        if top_n is None:
            return counts
        w = Window.partitionBy("query_id").orderBy(
            F.desc("n_docs"), F.asc("facet")
        )
        return (
            counts.withColumn("rk", F.row_number().over(w))
            .withColumn(
                "facet",
                F.when(F.col("rk") <= top_n, F.col("facet")).otherwise(
                    F.lit(other_label)
                ),
            )
            .groupBy("query_id", "facet")
            .agg(F.sum("n_docs").alias("n_docs"))
        )

    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, facet string, n_docs long", build,
    )


def range_facets(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    boundaries: list[float],
    cell_parts: int = 4,
) -> DataFrame:
    """Range aggregation over the FULL match set (Elasticsearch ``range`` /
    ``histogram`` aggregation) -> (query_id, bucket, n_docs): for every
    query, how many matching docs fall in each half-open interval
    [boundaries[i], boundaries[i+1]) of a numeric attribute — bucket ``i``
    is 0-indexed, values outside [boundaries[0], boundaries[-1]) drop (ES's
    bounded-ranges form; callers wanting unbounded ends add +/-inf
    boundaries). ``values`` is a (url, val) dimension DataFrame; matched
    urls come from the shared ``_matched_urls`` tail (kernel match set ->
    pruned url join, full pre-aggregation exclusion contract).

    The bucket index is computed as a SUM OF COMPARISONS —
    ``sum_i(val >= boundaries[i])`` over the interior boundaries — instead
    of a dialect function (``width_bucket`` exists in Spark but not every
    oracle engine; the comparison form is portable and whole-stage
    codegen). Aggregation is one groupBy — map-side partial counts, a few
    rows per (query, bucket) shuffle."""
    bl = [float(x) for x in boundaries]
    if len(bl) < 2 or any(a >= b for a, b in zip(bl, bl[1:])):
        raise ValueError(
            f"boundaries must be >= 2 strictly ascending values, got {boundaries}"
        )
    val = F.col("val").cast("double")
    bucket = None
    for b in bl[1:-1]:
        term = F.when(val >= F.lit(b), 1).otherwise(0)
        bucket = term if bucket is None else bucket + term
    if bucket is None:
        bucket = F.lit(0)
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, bucket int, n_docs long",
        lambda matched: matched.join(values.select("url", "val"), "url")
        .filter((val >= F.lit(bl[0])) & (val < F.lit(bl[-1])))
        .withColumn("bucket", bucket.cast("int"))
        .groupBy("query_id", "bucket")
        .agg(F.count("*").alias("n_docs")),
    )


def match_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Metric aggregations over the FULL match set (Elasticsearch ``stats``
    + ``cardinality`` in one pass) -> (query_id, n_docs, n_vals, sum6,
    min6, max6, avg6): per query, the count of matching docs carrying a
    value, the count of DISTINCT values, and sum/min/max/avg of the value
    — floats leave as floor(x*1e6) bigints (the engine-wide fixed-point
    convention). ``values`` is a (url, val) dimension; docs absent from it
    drop. One groupBy over the ``_matched_urls`` tail (map-side partial
    aggregation; ``countDistinct`` is exact — at trillion-distinct scale
    swap in ``approx_count_distinct``, the same HLL trade Elasticsearch's
    cardinality agg makes by default, documented not taken). avg divides
    the raw double sum by the count BEFORE flooring — the same one-rounding
    rule as every other fixed-point column."""
    val = F.col("val").cast("double")
    f6 = lambda c: F.floor(c * 1_000_000).cast("long")  # noqa: E731
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, n_vals long, sum6 long, min6 long, "
        "max6 long, avg6 long",
        lambda matched: matched.join(values.select("url", "val"), "url")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(val).alias("n_vals"),
            f6(F.sum(val)).alias("sum6"),
            f6(F.min(val)).alias("min6"),
            f6(F.max(val)).alias("max6"),
            f6(F.sum(val) / F.count("*")).alias("avg6"),
        ),
    )


def match_extended_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Extended stats (Elasticsearch ``extended_stats``) over the FULL
    match set -> (query_id, n_docs, sum6, avg6, sumsq, var6, std6, lo6,
    hi6): per query the count, sum and mean of the value plus the
    second-moment family — sum of squares, POPULATION variance
    ``sum_sq/n - mean**2`` (the ES formula), standard deviation, and the
    ES ``std_deviation_bounds`` ``mean -/+ 2*sigma``. Floats leave as
    floor(x*1e6) bigints except ``sumsq``, which stays a raw bigint: the
    inputs are integral, so the sum of squares is exact as an int64 while
    the *1e6 fixed-point blowup would overflow first (~1e13 of raw
    headroom at web scale vs ~1e7 after scaling).

    Oracle determinism: with integer-valued dims every partial sum
    (``sum(val)``, ``sum(val*val)``) is EXACT in a double regardless of
    partition order (< 2^53), so the only roundings are the divisions /
    multiply / subtract / sqrt written in the SAME expression order as
    the SQL twin — each a single correctly-rounded IEEE op, hence
    bit-identical across engines. Variance clamps at 0 (``greatest``)
    before the sqrt: the exact-arithmetic cancellation of a constant
    column can land an ulp below zero and NaN the stddev in BOTH engines
    otherwise. One map-side-combined groupBy over the ``_matched_urls``
    tail — same cost class as ``match_stats``."""
    val = F.col("val").cast("double")
    mean = F.col("s") / F.col("n")
    var = F.greatest(F.col("ss") / F.col("n") - mean * mean, F.lit(0.0))
    std = F.sqrt(var)
    f6 = lambda c: F.floor(c * 1_000_000).cast("long")  # noqa: E731
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, sum6 long, avg6 long, sumsq long, "
        "var6 long, std6 long, lo6 long, hi6 long",
        lambda matched: matched.join(values.select("url", "val"), "url")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(val).alias("s"),
            F.sum(val * val).alias("ss"),
        )
        .select(
            "query_id",
            F.col("n").alias("n_docs"),
            f6(F.col("s")).alias("sum6"),
            f6(mean).alias("avg6"),
            F.col("ss").cast("long").alias("sumsq"),
            f6(var).alias("var6"),
            f6(std).alias("std6"),
            f6(mean - F.lit(2.0) * std).alias("lo6"),
            f6(mean + F.lit(2.0) * std).alias("hi6"),
        ),
    )


def match_weighted_avg(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Weighted average (Elasticsearch ``weighted_avg``) over the FULL
    match set -> (query_id, n_docs, wsum6, wtot6, wavg6): per query
    ``sum(val*w) / sum(w)`` plus both raw sums, floats as floor(x*1e6)
    bigints. ``values`` is a (url, val, w) dimension — val the metric, w
    the per-doc weight (relevance, sample weight, dwell time). Docs
    absent from the dimension drop (supply a defaulted dim for ES's
    ``missing:``). Determinism matches ``match_extended_stats``: with
    integer vals and dyadic-rational weights every partial sum is exact,
    leaving one division + one flooring multiply, identical across
    engines. One map-side-combined groupBy over the ``_matched_urls``
    tail."""
    v = F.col("val").cast("double")
    w = F.col("w").cast("double")
    f6 = lambda c: F.floor(c * 1_000_000).cast("long")  # noqa: E731
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, wsum6 long, wtot6 long, wavg6 long",
        lambda matched: matched.join(values.select("url", "val", "w"), "url")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_docs"),
            f6(F.sum(v * w)).alias("wsum6"),
            f6(F.sum(w)).alias("wtot6"),
            f6(F.sum(v * w) / F.sum(w)).alias("wavg6"),
        ),
    )


def match_missing(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Missing-value aggregation (Elasticsearch ``missing``) -> (query_id,
    n_docs, n_present, n_missing): per query, how many matching docs
    carry a value in the (url, val) dimension and how many do NOT — the
    coverage check a UI shows next to any metric agg ("avg price (120 of
    340 products have one)"). Every other full-match surface drops
    dimension-absent docs via its inner join; this is the one place the
    absent docs ARE the statistic, so the join flips to a left join and
    the split rides two conditional counts in ONE map-side-combined
    groupBy — never an anti-join fork that would re-run the match
    kernel."""
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, n_present long, n_missing long",
        lambda matched: matched.join(values.select("url", "val"), "url", "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("val").alias("n_present"),
            (F.count("*") - F.count("val")).alias("n_missing"),
        ),
    )


# Calendar bucket formats for date_histogram. No 'week': engines disagree
# on week-start/ISO-week conventions more than any UI benefits here.
_DATE_HISTO_FMT = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "year": "yyyy"}


def date_histogram(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    interval: str = "month",
    cell_parts: int = 4,
) -> DataFrame:
    """Calendar date histogram (Elasticsearch ``date_histogram`` with
    ``calendar_interval``) -> (query_id, bucket, n_docs): matched docs
    joined to a (url, d) DATE dimension, bucketed by truncating to the
    calendar ``interval`` (day / month / year). Buckets leave as STRINGS
    ('2024-03' for month) — a date-typed key would hash differently
    across engines and time zones; the lexicographic order of the fixed
    formats equals chronological order, so callers sort the strings.
    Sparse buckets only (ES min_doc_count=1 default; compose with the
    ``range_facets_dense`` domain-join trick for explicit zeros). The
    bucket key derives in JVM codegen (``date_format``); one
    map-side-combined groupBy over the ``_matched_urls`` tail — the same
    single-shuffle plan as ``facet_counts`` with a derived key, which is
    exactly what ES's date_histogram is."""
    fmt = _DATE_HISTO_FMT.get(interval)
    if fmt is None:
        raise ValueError(
            f"interval must be one of {sorted(_DATE_HISTO_FMT)}, got "
            f"{interval!r}"
        )
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, bucket string, n_docs long",
        lambda matched: matched.join(dates.select("url", "d"), "url")
        .withColumn("bucket", F.date_format("d", fmt))
        .groupBy("query_id", "bucket")
        .agg(F.count("*").alias("n_docs")),
    )


def auto_date_histogram(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    target_buckets: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """Auto-interval calendar histogram (Elasticsearch
    ``auto_date_histogram``) -> (query_id, interval, bucket, n_docs): each
    query's matched dates bucketed at the COARSEST-NECESSARY calendar
    interval, chosen PER QUERY from the {day, month, year} ladder by the
    matched date span: 'day' when span_days <= target_buckets, 'month'
    when <= target_buckets * 31, else 'year'. The rule is deliberately a
    deterministic function of (min, max) — ES's own algorithm is
    estimate-based and documented as approximate, which an oracle-gated
    engine cannot reproduce; this ladder keeps the contract exact and the
    chosen interval rides along in the output (as ES returns it).

    Plan: TWO actions over one kernel lineage — a per-query min/max agg
    (O(queries) rows collect) to pick intervals driver-side, then one
    histogram groupBy per DISTINCT chosen interval (almost always one),
    filtered to that interval's queries, unioned. The match kernel
    re-executes once per action — the same documented trade as
    ``_count_matches`` (re-running the kernel beats a persist() a lazy
    API can't release); span-only queries touch no norms and ship no
    scores. Query sets here are human-sized; the per-interval fan-out is
    bounded by the ladder (3)."""
    if target_buckets < 1:
        raise ValueError(f"target_buckets must be >= 1, got {target_buckets}")
    ddl = "query_id int, interval string, bucket string, n_docs long"

    def build(matched: DataFrame) -> DataFrame:
        dated = matched.join(dates.select("url", "d"), "url")
        spans = {
            r["query_id"]: (r["lo"], r["hi"])
            for r in dated.groupBy("query_id")
            .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
            .collect()
        }
        by_iv: dict[str, list[int]] = {}
        for qid, (lo, hi) in spans.items():
            span = (hi - lo).days + 1
            iv = (
                "day"
                if span <= target_buckets
                else "month" if span <= target_buckets * 31 else "year"
            )
            by_iv.setdefault(iv, []).append(qid)
        out = None
        for iv, qids in sorted(by_iv.items()):
            part = (
                dated.filter(F.col("query_id").isin(qids))
                .withColumn("interval", F.lit(iv))
                .withColumn("bucket", F.date_format("d", _DATE_HISTO_FMT[iv]))
                .groupBy("query_id", "interval", "bucket")
                .agg(F.count("*").alias("n_docs"))
            )
            out = part if out is None else out.unionByName(part)
        return out if out is not None else local_df(spark, [], ddl)

    return _matched_agg(spark, index_dir, cell_parts, queries, ddl, build)


def date_histogram_pipeline(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    interval: str = "month",
    window: int = 3,
    cell_parts: int = 4,
) -> DataFrame:
    """Pipeline aggregations over the calendar histogram (Elasticsearch
    ``cumulative_sum`` / ``derivative`` / ``moving_fn`` parent-pipeline
    aggs) -> (query_id, bucket, n_docs, cum_docs, deriv, mavg6): each
    ``date_histogram`` bucket annotated with the running total of match
    counts, the bucket-over-bucket delta (NULL on each query's first
    bucket, exactly ES's skipped first derivative), and the trailing
    unweighted moving average over the last ``window`` buckets INCLUDING
    the current one (``MovingFunctions.unweightedAvg`` with
    shift=window-1; partial leading windows average what exists, as ES
    does). ``mavg6`` leaves as floor(x*1e6): counts are ints so every
    window sum is exact and the single division rounds identically across
    engines.

    Buckets ride the sparse ``date_histogram`` output — a pipeline agg
    over gappy buckets differences ADJACENT OBSERVED buckets
    (gap_policy=skip); compose with a dense calendar domain when true
    zeros matter. Plan shape: the single-shuffle histogram, then ONE
    window pass partitioned by query_id ordered by the bucket string
    (whose lexicographic order equals chronological order by
    construction). Bucket counts per query are bounded by the calendar
    (tens to thousands), so the per-query window never skews a task —
    this is the cheap kind of window, O(buckets) not O(matches)."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from pyspark.sql import Window

    base = date_histogram(
        spark, index_dir, queries, dates, interval, cell_parts
    )
    w_ord = Window.partitionBy("query_id").orderBy("bucket")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_mov = w_ord.rowsBetween(-(window - 1), Window.currentRow)
    return base.select(
        "query_id",
        "bucket",
        "n_docs",
        F.sum("n_docs").over(w_cum).alias("cum_docs"),
        (F.col("n_docs") - F.lag("n_docs").over(w_ord)).alias("deriv"),
        F.floor(
            F.avg(F.col("n_docs").cast("double")).over(w_mov) * 1_000_000
        )
        .cast("long")
        .alias("mavg6"),
    )


def diversified_sampler_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dims: DataFrame,
    max_per_key: int = 2,
    shard_size: int = 25,
    cell_parts: int = 4,
) -> DataFrame:
    """Diversified sampler (Elasticsearch ``diversified_sampler``) ->
    (query_id, n_sample, n_keys, avg_chars6): matched docs enter a sample
    in deterministic md5(url) order, at most ``max_per_key`` per ``key``
    value (the de-bias step), capped at ``shard_size``; the child stats
    (count, distinct keys, avg of ``val``) run on the diversified sample.
    ``dims`` is (url, key, val). ES seeds this with a random hash — an
    oracle-gated engine uses md5(url), the same deterministic-sample trick
    as ``significant_terms(sampled=True)``. Plan: the match kernel's url
    rows join the dimension, then two O(sample-candidates) window passes
    partitioned by query — the windows run over matched rows, not the
    corpus, and the per-key cap means the second window's input is
    <= keys x max_per_key rows per query."""
    from pyspark.sql import Window

    w_key = Window.partitionBy("query_id", "key").orderBy(
        F.asc("h"), F.asc("url")
    )
    w_all = Window.partitionBy("query_id").orderBy(F.asc("h"), F.asc("url"))
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_sample long, n_keys long, avg_chars6 long",
        lambda matched: matched.join(dims.select("url", "key", "val"), "url")
        .withColumn("h", F.md5(F.col("url")))
        .withColumn("kpos", F.row_number().over(w_key))
        .filter(F.col("kpos") <= max_per_key)
        .withColumn("spos", F.row_number().over(w_all))
        .filter(F.col("spos") <= shard_size)
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_sample"),
            F.countDistinct("key").alias("n_keys"),
            F.floor(F.avg(F.col("val").cast("double")) * 1000000)
            .cast("long")
            .alias("avg_chars6"),
        ),
    )


def frequent_term_pairs(
    spark: SparkSession,
    index_dir: str,
    df_lo: int,
    df_hi: int,
    min_support: int,
    cell_parts: int = 4,
) -> DataFrame:
    """Frequent item sets at size=2 over TERM items (Elasticsearch
    ``frequent_item_sets``) -> (item_a, item_b, support): unordered
    mid-frequency term pairs contained together in at least
    ``min_support`` docs, mined ENTIRELY from the committed index.

    Plan — the pair analogue of the match kernels, and the reason this
    scales: items come from one driver-side read of term_stats' ``term``
    column (``_read_dictionary``, no Spark job) with the df-window
    predicate pushed to its row groups (the apriori prefilter — it bounds
    the item set before any postings load); their postings reach the
    pair kernel through search's bucket-pruned cell reader; and because
    CELLS PARTITION
    DOCID SPACE, per-cell pair intersections sum to the exact corpus-wide
    support — the only shuffled rows are per-cell (item_a, item_b,
    partial) triples, O(items² x cells) worst case and typically far
    sparser, never O(docs). Tombstones mask pre-count in the kernel (the
    engine-wide pre-aggregation contract). Per-cell work is
    C(items, 2) sorted-array intersections, vectorized; the df window is
    what keeps C small — widening it is an explicit cost decision, the
    same dial ES documents for frequent_item_sets."""
    se = get_searcher(spark, index_dir, cell_parts)
    d = _read_dictionary(se, ["term"], [("df", ">=", df_lo), ("df", "<=", df_hi)])
    cand = sorted(set(d["term"].to_pylist()))
    if len(cand) < 2:
        return se._empty_df("item_a string, item_b string, support long")
    deleted = se.deleted_ids

    def pair_cell(pdf: pd.DataFrame, _norms) -> pd.DataFrame:
        term_runs = assemble_cell_runs(pdf)
        lo, hi = int(pdf["first_doc"].min()), int(pdf["last_doc"].max()) + 1
        dead = _CellMask(term_runs, lo, hi, deleted, {}).deleted
        docs_by_term = {}
        for t, r in term_runs.items():
            docs = decode_run(r)[0].astype(np.int64)
            if dead is not None:
                docs = docs[~np.isin(docs, dead)]
            if len(docs):
                docs_by_term[t] = docs
        terms = sorted(docs_by_term)
        a_out, b_out, n_out = [], [], []
        for i in range(len(terms)):
            for j in range(i + 1, len(terms)):
                n = len(
                    np.intersect1d(
                        docs_by_term[terms[i]],
                        docs_by_term[terms[j]],
                        assume_unique=True,
                    )
                )
                if n:
                    a_out.append(terms[i])
                    b_out.append(terms[j])
                    n_out.append(n)
        return pd.DataFrame(
            {
                "item_a": a_out,
                "item_b": b_out,
                "n": np.array(n_out, dtype=np.int64),
            }
        )

    schema = pa.schema(
        [("item_a", pa.string()), ("item_b", pa.string()), ("n", pa.int64())]
    )
    partial = _run_cells(se, cand, pair_cell, schema, norms=False)
    return (
        partial.groupBy("item_a", "item_b")
        .agg(F.sum("n").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def date_histogram_pipeline2(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    interval: str = "month",
    lag: int = 2,
    cell_parts: int = 4,
) -> DataFrame:
    """The remaining ES parent-pipeline trio over the calendar histogram
    -> (query_id, bucket, n_docs, sdiff, mmed6, rate30_6):

    * ``serial_diff`` (period ``lag``): n_docs minus the count ``lag``
      observed buckets back, NULL until that bucket exists — ES's
      seasonality-removal pipeline.
    * ``moving_percentiles`` p50 over the trailing 3-bucket window: the
      exact small-window median — sum-max-min for 3 ints, one double
      halving for 2, the value itself for 1 — every branch
      bit-deterministic across engines (the frame is fixed at 3 buckets
      because those identities are what make the median exact).
    * ``rate`` normalized to 30-day units: count * 30 / days-in-month —
      exact int product, ONE double division.

    Same plan shape as ``date_histogram_pipeline``: the single-shuffle
    histogram then ONE O(buckets) window pass; the per-query bucket count
    is calendar-bounded so the window never skews a task."""
    from pyspark.sql import Window

    base = date_histogram(
        spark, index_dir, queries, dates, interval, cell_parts
    )
    w_ord = Window.partitionBy("query_id").orderBy("bucket")
    w_mov = w_ord.rowsBetween(-2, Window.currentRow)
    wn = F.count("*").over(w_mov)
    ws = F.sum("n_docs").over(w_mov)
    wmax = F.max("n_docs").over(w_mov)
    wmin = F.min("n_docs").over(w_mov)
    dim = F.dayofmonth(
        F.last_day(F.to_date(F.concat(F.col("bucket"), F.lit("-01"))))
    ).cast("long")
    return base.select(
        "query_id",
        "bucket",
        "n_docs",
        (F.col("n_docs") - F.lag("n_docs", lag).over(w_ord))
        .cast("long")
        .alias("sdiff"),
        F.when(wn == 3, (ws - wmax - wmin) * 1000000)
        .when(
            wn == 2,
            F.floor(ws.cast("double") / 2.0 * 1000000).cast("long"),
        )
        .otherwise(ws * 1000000)
        .cast("long")
        .alias("mmed6"),
        F.floor(F.col("n_docs").cast("double") * 30.0 / dim * 1000000)
        .cast("long")
        .alias("rate30_6"),
    )


def date_histogram_change_point(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    interval: str = "month",
    cell_parts: int = 4,
) -> DataFrame:
    """Change-point detection (the ES ``change_point`` sibling-pipeline
    agg, deterministic variant) -> (query_id, change_bucket, left_mean6,
    right_mean6, delta6): over each query's calendar histogram, the bucket
    boundary maximizing |mean(counts up to it) - mean(counts after it)| —
    the strongest step edge in the match-count series. ES's detector is
    stats-test-based and approximate; an oracle-gated engine needs the
    exact argmax rule instead (documented, like ``auto_date_histogram``'s
    ladder). Every candidate mean is an exact int64 prefix sum plus one
    double division, scores leave floored at 1e6, ties break to the
    earliest bucket. Plan: the single-shuffle histogram then two
    O(buckets) window passes — the series is calendar-bounded, so this
    never becomes the expensive part at any corpus size."""
    from pyspark.sql import Window

    base = date_histogram(
        spark, index_dir, queries, dates, interval, cell_parts
    )
    w_q = Window.partitionBy("query_id")
    w_ord = w_q.orderBy("bucket")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord_df = base.select(
        "query_id",
        "bucket",
        F.row_number().over(w_ord).alias("pos"),
        F.count("*").over(w_q).alias("n"),
        F.sum("n_docs").over(w_q).alias("total"),
        F.sum("n_docs").over(w_cum).alias("lsum"),
    ).filter(F.col("pos") < F.col("n"))
    lmean = F.col("lsum").cast("double") / F.col("pos")
    rmean = (F.col("total") - F.col("lsum")).cast("double") / (
        F.col("n") - F.col("pos")
    )
    scored = ord_df.select(
        "query_id",
        "bucket",
        F.floor(lmean * 1000000).cast("long").alias("left_mean6"),
        F.floor(rmean * 1000000).cast("long").alias("right_mean6"),
        F.floor(F.abs(lmean - rmean) * 1000000).cast("long").alias("delta6"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("delta6"), F.asc("bucket")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") == 1)
        .select(
            "query_id",
            F.col("bucket").alias("change_bucket"),
            "left_mean6",
            "right_mean6",
            "delta6",
        )
    )


def rare_terms(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    max_doc_count: int = 3,
    cell_parts: int = 4,
) -> DataFrame:
    """Rare-terms aggregation (Elasticsearch ``rare_terms``) -> (query_id,
    facet, n_docs): the LONG-TAIL buckets of a field over the match set —
    every facet value carried by at most ``max_doc_count`` matching docs.
    The inverse of the terms agg's size-N head: "which values almost
    never co-occur with this query" (anomaly triage, typo discovery).
    ``values`` is the usual (url, facet) dimension.

    ES implements this with CuckooFilter passes and documents it as
    approximate (false positives drop buckets); this engine's plan is the
    same single-shuffle groupBy as ``facet_counts`` plus a HAVING — the
    count <= K filter — and is EXACT. The head buckets the filter drops
    were materialized anyway by the count; no second pass, no sketch
    error. Bucket explosion is bounded by the match set size itself
    (each surviving bucket holds >= 1 of the matched docs, so output
    rows <= matches — same inherent class as the facet count it rides).
    Degenerate ``max_doc_count`` raises."""
    if max_doc_count < 1:
        raise ValueError(
            f"max_doc_count must be >= 1, got {max_doc_count}"
        )
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, facet string, n_docs long",
        lambda matched: matched.join(values.select("url", "facet"), "url")
        .groupBy("query_id", "facet")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") <= max_doc_count),
    )


def multi_terms(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    keys: tuple[str, ...] = ("facet_a", "facet_b"),
    top_n: int | None = None,
    other_label: str = "__other__",
    cell_parts: int = 4,
) -> DataFrame:
    """Multi-terms aggregation (Elasticsearch ``multi_terms``) ->
    (query_id, *keys, n_docs): bucket the match set by a COMPOUND key —
    every combination of the ``keys`` columns carried by matching docs,
    with its doc count. The compound-key sibling of ``facet_counts``
    (ES: terms agg over one field, multi_terms over several), answering
    "which (host, language) pairs dominate this query's matches" in one
    pass instead of a nested-agg tree. ``values`` is a (url, *keys)
    dimension DataFrame.

    Plan: the shared ``_matched_urls`` kernel tail, one dimension join,
    one map-side-combined groupBy over (query_id, *keys) — compound keys
    cost nothing extra in Spark (the shuffle key is just wider), unlike
    ES where multi_terms materializes cross-product ordinals. ``top_n``
    mirrors the ES ``size`` + ``sum_other_doc_count`` contract exactly as
    ``facet_counts`` does: per query the top buckets by (n_docs desc, keys
    asc) keep their names, the tail collapses into ONE row with every key
    column rewritten to ``other_label`` (in-band sentinel — same caller
    contract as facet_counts) — single lineage, rank window over the
    bucket-sized counts relation, never a re-run of the match kernel."""
    from pyspark.sql import Window

    if not keys:
        raise ValueError("multi_terms needs >= 1 key column")
    if top_n is not None and top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")

    def build(matched: DataFrame) -> DataFrame:
        counts = (
            matched.join(values.select("url", *keys), "url")
            .groupBy("query_id", *keys)
            .agg(F.count("*").alias("n_docs"))
        )
        if top_n is None:
            return counts
        w = Window.partitionBy("query_id").orderBy(
            F.desc("n_docs"), *[F.asc(c) for c in keys]
        )
        ranked = counts.withColumn("rk", F.row_number().over(w))
        for c in keys:
            ranked = ranked.withColumn(
                c,
                F.when(F.col("rk") <= top_n, F.col(c)).otherwise(
                    F.lit(other_label)
                ),
            )
        return ranked.groupBy("query_id", *keys).agg(
            F.sum("n_docs").alias("n_docs")
        )

    key_ddl = ", ".join(f"{c} string" for c in keys)
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        f"query_id int, {key_ddl}, n_docs long", build,
    )


def top_metrics(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    size: int = 1,
    descending: bool = True,
    cell_parts: int = 4,
) -> DataFrame:
    """Top-metrics aggregation (Elasticsearch ``top_metrics``) ->
    (query_id, rank, url, sort_key, metric): the metric values carried by
    the ``size`` matching docs with the largest (or smallest) ``sort_key``
    — "the rating of the newest matching page" without shipping whole
    documents the way ``top_hits`` does. ``values`` is a (url, sort_key,
    metric) dimension; ties break url-asc (the engine's standing docID ==
    url-order tie-break).

    Plan: the shared ``_matched_urls`` kernel tail, dimension join, ONE
    rank window partitioned by query_id. The window input is the matched
    dimension rows — O(matches) like every full-match surface — and the
    filter to ``rank <= size`` runs inside the same stage, so only
    queries x size rows survive the window's shuffle read. ES caps this
    agg at size=10 by default for the same reason; callers wanting
    thousands of rows per query should use ``search_sorted_by``."""
    from pyspark.sql import Window

    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    key = F.desc("sort_key") if descending else F.asc("sort_key")
    w = Window.partitionBy("query_id").orderBy(key, F.asc("url"))
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, rank int, url string, sort_key long, metric long",
        lambda matched: matched.join(
            values.select("url", "sort_key", "metric"), "url"
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= size)
        .select("query_id", "rank", "url", "sort_key", "metric"),
    )


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Committed-index statistics report (Elasticsearch ``_stats`` /
    ``_segments`` class) -> ONE row (n_docs, n_terms, total_tokens,
    avgdl6, n_deleted): doc count, distinct vocabulary size, exact total
    token count, floor(avgdl * 1e6) and live tombstone count — all from
    the COMMITTED artifacts, never by re-tokenizing the corpus. That is
    the point of the surface: run it against a corpus recount (the SQL
    twin does exactly that) and any drift means the index no longer
    represents its source.

    Plan: three column-pruned parquet aggregations — count+sum(doc_len)
    over docs_extracted (the committed extract is the doc-grid source of
    truth), count over term_stats (filtered to the LATEST committed delta
    for streamed indexes — each delta holds a full recompute), tombstones
    from the Searcher's already-loaded delete set. All map-side-combined
    single-number aggs; nothing O(index) ever reaches the driver. Counts
    are over the committed grid (expunge never renumbers; tombstoned docs
    stay counted in n_docs and subtracted via n_deleted — matching how
    the scorer sees the index: avgdl stays the BUILD-time value until
    expunge)."""
    se = get_searcher(spark, index_dir, cell_parts=4)
    docs = _extracts(se).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_len").alias("total_tokens"),
    )
    ts = se.term_dictionary()
    terms = ts.agg(F.count("*").alias("n_terms"))
    n_del = int(len(se.deleted_ids)) if se.deleted_ids is not None else 0
    return (
        docs.crossJoin(terms)
        .withColumn(
            "avgdl6",
            F.floor(
                F.col("total_tokens").cast("double")
                / F.col("n_docs").cast("double")
                * 1_000_000
            ).cast("long"),
        )
        .withColumn("n_deleted", F.lit(n_del).cast("long"))
        .select("n_docs", "n_terms", "total_tokens", "avgdl6", "n_deleted")
    )


def term_vectors(
    spark: SparkSession,
    index_dir: str,
    urls: list[str],
) -> DataFrame:
    """Term vectors (Elasticsearch ``_termvectors`` with
    ``term_statistics=true``) -> (url, term, tf, df): for each requested
    LIVE doc, every term it contains with its in-doc frequency and the
    corpus-wide document frequency — the per-document introspection
    surface (relevance debugging, "why does this doc score like that",
    feature extraction for rerankers). Tombstoned docs return no rows
    (ES 404s deleted docs; same exclusion contract as every reader).

    Plan: the extracts scan is filtered to the requested urls (pushed In
    predicate — a handful of row groups at any corpus size), tf is one
    codegen tokenize + explode + map-side-combined groupBy over ONLY
    those docs, and df comes from the COMMITTED term_stats relation
    (latest delta for streamed indexes) via a broadcast of the tiny tf
    side — the vocabulary-sized side never shuffles. Every committed
    term has a term_stats row (the builder derives both from the same
    postings), so the inner join keeps exactly the doc's terms."""
    if not urls:
        raise ValueError("term_vectors needs >= 1 url")
    from ..functions.sqlglue import spark_terms

    se = get_searcher(spark, index_dir, cell_parts=4)
    docs = _extracts(se).filter(
        F.col("url").isin(list(urls))
    )
    if se.deleted_ids is not None and len(se.deleted_ids):
        grid = se.grid_parts
        starts = {int(p): int(s) for p, s in enumerate(grid)}
        start_col = F.element_at(
            F.create_map(*[F.lit(x) for kv in starts.items() for x in kv]),
            F.col("part_id").cast("int"),
        )
        dead = local_df(spark, [(int(x),) for x in se.deleted_ids], "docid long")
        docs = (
            docs.withColumn("docid", start_col + F.col("local_pos"))
            .join(F.broadcast(dead), "docid", "left_anti")
            .drop("docid")
        )
    tf = (
        docs.select(
            "url", F.explode(F.expr(spark_terms("text"))).alias("term")
        )
        .groupBy("url", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    ts = se.term_dictionary()
    return (
        ts.select("term", F.col("df").cast("long").alias("df"))
        .join(F.broadcast(tf), "term")
        .select("url", "term", "tf", "df")
    )


def geo_distance_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    geo: DataFrame,
    origin: tuple[float, float],
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """Geo-distance sort (Elasticsearch ``geo_distance`` sort / the
    "nearest matching docs" query) -> (query_id, rank, url, dist6): the
    ``k`` matching docs closest to ``origin`` by haversine great-circle
    distance, url-asc ties, dist6 = floor(km * 1e6). ``geo`` is a (url,
    lat, lon) dimension DataFrame.

    Plan: the shared match kernel, dimension join, distance as ONE shared
    expression string (``sqlglue.HAVERSINE_KM`` — the SQL twin inlines the
    identical text, so both engines build the same operation tree and
    round identically), then the standard rank window. Distance sorts are
    a filter+sort, never a score: BM25 and geo never mix here (compose
    ``search_function_score`` with a decay factor for distance-weighted
    relevance). O(matches) dimension rows — the inherent cost of sorting
    the match set by an attribute, same class as ``search_sorted_by``."""
    from ..functions.sqlglue import HAVERSINE_KM

    if not -90.0 <= origin[0] <= 90.0 or not -180.0 <= origin[1] <= 180.0:
        raise ValueError(f"origin out of range: {origin}")
    dist = HAVERSINE_KM.format(
        lat1=repr(float(origin[0])),
        lon1=repr(float(origin[1])),
        lat2="lat",
        lon2="lon",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("dist6"), F.asc("url"))
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, rank int, url string, dist6 long",
        lambda matched: matched.join(geo.select("url", "lat", "lon"), "url")
        .withColumn(
            "dist6",
            F.floor(F.expr(dist) * 1_000_000).cast("long"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "url", "dist6"),
    )


def geo_bounding_box_count(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    geo: DataFrame,
    box: tuple[float, float, float, float],
    cell_parts: int = 4,
) -> DataFrame:
    """Geo-bounding-box filter (Elasticsearch ``geo_bounding_box``) ->
    (query_id, n_in_box): how many matching docs fall inside the
    (min_lat, min_lon, max_lat, max_lon) rectangle — inclusive bounds,
    no antimeridian wrapping (min <= max enforced; split a crossing box
    into two calls, which is also what Lucene does internally). The box
    test is pure comparisons (no trig), so the filter composes into the
    dimension join's codegen; only surviving (query, url) rows reach the
    count's map-side combine."""
    min_lat, min_lon, max_lat, max_lon = box
    if min_lat > max_lat or min_lon > max_lon:
        raise ValueError(f"box min > max: {box}")
    inside = (
        F.col("lat").between(float(min_lat), float(max_lat))
        & F.col("lon").between(float(min_lon), float(max_lon))
    )
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_in_box long",
        lambda matched: matched.join(geo.select("url", "lat", "lon"), "url")
        .filter(inside)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_in_box")),
    )


def geotile_grid(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    geo: DataFrame,
    zoom: int = 4,
    cell_parts: int = 4,
) -> DataFrame:
    """Geotile-grid aggregation (Elasticsearch ``geotile_grid``) ->
    (query_id, tile, n_docs): matching docs bucketed into slippy-map
    (OSM z/x/y) tiles at ``zoom`` — the map-heatmap aggregation. Tile
    math is the shared ``sqlglue.GEOTILE_X/Y`` expression text (identical
    in the SQL twin); latitudes must stay inside the slippy valid zone
    (|lat| <= 85.0511 — the mercator y is singular at the poles; ES
    clamps, this engine documents the domain instead). Same
    single-shuffle groupBy class as ``facet_counts`` — the tile key is
    just a computed facet."""
    from ..functions.sqlglue import GEOTILE_X, GEOTILE_Y

    if not 0 <= zoom <= 29:
        raise ValueError(f"zoom must be in [0, 29], got {zoom}")
    n = 1 << zoom
    tx = GEOTILE_X.format(lon="lon", n=n)
    ty = GEOTILE_Y.format(lat="lat", n=n)
    tile = f"concat('{zoom}/', cast(({tx}) as string), '/', cast(({ty}) as string))"
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, tile string, n_docs long",
        lambda matched: matched.join(geo.select("url", "lat", "lon"), "url")
        .withColumn("tile", F.expr(tile))
        .groupBy("query_id", "tile")
        .agg(F.count("*").alias("n_docs")),
    )


def geohash_grid(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    geo: DataFrame,
    precision: int = 5,
    cell_parts: int = 4,
) -> DataFrame:
    """Geohash-grid aggregation (Elasticsearch ``geohash_grid``) ->
    (query_id, geohash, n_docs): matching docs bucketed into classic
    base32 geohash cells at ``precision`` chars — ``geotile_grid``'s
    sibling with the interleaved-bit cell id. The cell math is the shared
    ``sqlglue.geohash_cell_exprs`` generated arithmetic (floor-div/mod
    only — no shift operators, so ONE expression string evaluates
    identically in Spark SQL and DuckDB; verified against the bisection
    reference implementation in tests). Same single-shuffle facet-groupBy
    class as ``facet_counts``. Domain: lon in [-180, 180), lat in
    [-90, 90)."""
    from ..functions.sqlglue import geohash_cell_exprs, geohash_char_expr

    if not 1 <= precision <= 10:
        raise ValueError(f"precision must be in [1, 10], got {precision}")
    lon_i, lat_i, code = geohash_cell_exprs("lon", "lat", precision)
    gh = "concat(" + ", ".join(
        geohash_char_expr(i, precision) for i in range(precision)
    ) + ")"
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, geohash string, n_docs long",
        lambda matched: matched.join(geo.select("url", "lat", "lon"), "url")
        .withColumn("lon_i", F.expr(lon_i))
        .withColumn("lat_i", F.expr(lat_i))
        .withColumn("code", F.expr(code).cast("long"))
        .withColumn("geohash", F.expr(gh))
        .groupBy("query_id", "geohash")
        .agg(F.count("*").alias("n_docs")),
    )


def geo_centroid(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    geo: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Geo-centroid aggregation (Elasticsearch ``geo_centroid``) ->
    (query_id, n_docs, lat6c, lon6c): the arithmetic-mean coordinate of
    each query's match set, the map-pin summary next to the tile grids.
    Determinism contract (shared with the SQL twin): per-doc coordinates
    integerize FIRST (floor(x*1e6) int64), the mean is then an exact int64
    sum plus one double division of two exactly-representable integers —
    no float-accumulation order dependence, so the engine and both SQL
    twins agree bit-for-bit. Same single-shuffle class as
    ``facet_counts``: the only O(matches) rows are the kernel's
    coordinates, the agg is one partial-aggregated groupBy."""
    n = F.count("*")
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, lat6c long, lon6c long",
        lambda matched: _geo_points(matched, geo).groupBy("query_id").agg(
            n.alias("n_docs"),
            F.floor(F.sum("lat6").cast("double") / n.cast("double"))
            .cast("long")
            .alias("lat6c"),
            F.floor(F.sum("lon6").cast("double") / n.cast("double"))
            .cast("long")
            .alias("lon6c"),
        ),
    )


def _geo_points(matched: DataFrame, geo: DataFrame) -> DataFrame:
    """Matched rows joined to a (url, lat, lon) dimension as (query_id,
    lat6, lon6): coordinates integerized to floor(x*1e6) int64."""
    return matched.join(geo.select("url", "lat", "lon"), "url").select(
        "query_id",
        F.floor(F.col("lat") * 1000000).cast("long").alias("lat6"),
        F.floor(F.col("lon") * 1000000).cast("long").alias("lon6"),
    )


def geo_bounds(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    geo: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Geo-bounds aggregation (Elasticsearch ``geo_bounds``) ->
    (query_id, n_docs, top6, bottom6, left6, right6): the tightest
    bounding box around each query's match set — top-left (max lat, min
    lon), bottom-right (min lat, max lon) — the map-viewport summary.
    Coordinates integerize FIRST (floor(x*1e6) int64) so min/max are pure
    int64, bit-identical to the SQL twin by construction. Same
    single-shuffle class as ``geo_centroid``: the only O(matches) rows are
    the kernel's coordinates, the agg is one partial-aggregated groupBy."""
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, top6 long, bottom6 long, "
        "left6 long, right6 long",
        lambda matched: _geo_points(matched, geo).groupBy("query_id").agg(
            F.count("*").alias("n_docs"),
            F.max("lat6").alias("top6"),
            F.min("lat6").alias("bottom6"),
            F.min("lon6").alias("left6"),
            F.max("lon6").alias("right6"),
        ),
    )


def search_pinned(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    pinned_ids: list[int],
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """Pinned query (Elasticsearch ``pinned``) -> (query_id, rank, doc_id,
    pinned): curated doc ids promoted to ranks 1..P in list order for
    EVERY query regardless of relevance; organic BM25 follows at ranks
    P+1..P+k with the pinned ids excluded. Organic exactness: delegate to
    the BMW ``search`` at depth k+P (fixed-point ranking — the same
    (floor(score*1e6) desc, url asc) order as the twin), then drop pinned
    urls — dropping rows preserves relative order, and the extra P of heap
    depth guarantees >= k survivors whenever the corpus has them. The
    pre-heap exclusion contract rides along untouched (tombstones mask
    inside ``search``); pinned ids that are tombstoned are dropped here
    too — a pinned doc must still exist. Everything outside the delegated
    search is O(P + k) driver-size."""
    from pyspark.sql import Window

    from .query import search

    P = len(pinned_ids)
    if not P:
        raise ValueError("pinned_ids must be non-empty; use search() instead")
    alive = pinned_ids
    se = get_searcher(spark, index_dir, cell_parts)
    if se.deleted_ids is not None and len(se.deleted_ids):
        dead = set(int(x) for x in se.deleted_ids)
        alive = [i for i in pinned_ids if i not in dead]
    pin_urls = [str(i).zfill(10) for i in alive]
    top = search(
        spark, index_dir, queries, k=k + P, mode="bmw",
        cell_parts=cell_parts, fixed_point=True,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    organic = (
        top.filter(~F.col("url").isin(pin_urls))
        .withColumn("orank", F.row_number().over(w))
        .filter(F.col("orank") <= k)
        .select(
            "query_id",
            (F.lit(len(alive)) + F.col("orank")).cast("long").alias("rank"),
            F.col("url").cast("long").alias("doc_id"),
            F.lit(0).cast("long").alias("pinned"),
        )
    )
    pin_rows = local_df(
        spark,
        [(qid, r + 1, doc, 1) for qid, _ in queries
         for r, doc in enumerate(alive)],
        "query_id int, rank long, doc_id long, pinned long",
    )
    return pin_rows.unionByName(organic)


def match_matrix_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Matrix stats (Elasticsearch ``matrix_stats``) -> (query_id, n,
    mean_x6, mean_y6, cov6, corr6): per query the joint statistics of two
    INTEGER-VALUED fields over the match set — population covariance and
    Pearson correlation, the "do long docs score high ratings" agg.
    ``values`` is a (url, x, y) dimension with integral x/y (the integer
    domain is the exactness contract, see below).

    Exactness at any scale: the five sufficient statistics (Σx, Σy, Σx²,
    Σy², Σxy) are INT64 sums — associative, so Spark's partial aggregation
    order cannot change them — and every float enters only in the final
    per-query finishing expressions (single divisions / sqrts of exact
    integers), which are the same expression text in the SQL twin: both
    engines round identically. ES computes running float moments per shard
    and documents merge error; this plan has none. One map-side-combined
    groupBy over the match kernel tail — the ``match_stats`` cost class.
    Degenerate inputs: n=1 or a constant field yields a zero variance —
    corr6 is NULL there (0/0), matching SQL semantics in both engines."""
    xy = values.select(
        "url",
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n long, mean_x6 long, mean_y6 long, cov6 long, corr6 long",
        lambda matched: matched.join(xy, "url")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        # finishing floats: identical expression text in the SQL twin.
        .selectExpr(
            "query_id",
            "n",
            "cast(floor(cast(sx as double) / n * 1000000) as bigint) as mean_x6",
            "cast(floor(cast(sy as double) / n * 1000000) as bigint) as mean_y6",
            "cast(floor(cast(n * sxy - sx * sy as double) / (cast(n as double) * n) * 1000000) as bigint) as cov6",
            # nullif: a zero variance must yield NULL, not ANSI divide-by-zero
            "cast(floor(cast(n * sxy - sx * sy as double) / nullif(sqrt(cast(n * sxx - sx * sx as double)) * sqrt(cast(n * syy - sy * sy as double)), 0.0) * 1000000) as bigint) as corr6",
        ),
    )


def date_histogram_bucket_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    interval: str = "month",
    selector_min_docs: int | None = None,
    cell_parts: int = 4,
) -> DataFrame:
    """Sibling pipeline aggregations over the calendar histogram
    (Elasticsearch ``avg_bucket`` / ``min_bucket`` / ``max_bucket`` /
    ``sum_bucket`` / ``bucket_selector`` in ONE pass) -> (query_id,
    n_buckets, min_docs, max_docs, sum_docs, avg_docs6, n_selected):
    per query the bucket-level summary of its ``date_histogram`` — plus,
    when ``selector_min_docs`` is given, how many buckets a
    bucket_selector keeping ``n_docs >= selector_min_docs`` would retain
    (NULL column otherwise). Counts are ints, so min/max/sum are exact
    and avg_docs6 is one division both engines round identically.

    Plan: the single-shuffle histogram, then one map-side-combined
    groupBy over its O(buckets)-sized output — sibling pipelines never
    touch the match set again (exactly the ES execution model: pipeline
    aggs run on the parent agg's output)."""
    base = date_histogram(spark, index_dir, queries, dates, interval, cell_parts)
    sel = (
        F.sum(
            F.when(F.col("n_docs") >= selector_min_docs, 1).otherwise(0)
        ).cast("long")
        if selector_min_docs is not None
        else F.lit(None).cast("long")
    )
    return base.groupBy("query_id").agg(
        F.count("*").alias("n_buckets"),
        F.min("n_docs").alias("min_docs"),
        F.max("n_docs").alias("max_docs"),
        F.sum("n_docs").alias("sum_docs"),
        F.floor(
            F.sum("n_docs").cast("double") / F.count("*") * 1_000_000
        )
        .cast("long")
        .alias("avg_docs6"),
        sel.alias("n_selected"),
    )


def match_string_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """String stats (Elasticsearch ``string_stats`` with
    ``show_distribution``'s entropy) -> (query_id, n, min_len, max_len,
    avg_len6, entropy6): per query over the matched docs' string field —
    value count, min/max/avg length, and the Shannon entropy (bits) of
    the CHARACTER distribution across all matched values. ``values`` is
    a (url, s) dimension.

    Exactness discipline: lengths are ints (min/max/sum exact, one
    division for avg). Entropy is the float case — a naive
    -Σ p·log2(p) sums doubles in whatever order the aggregation visits
    characters, which two engines (or two Spark runs) need not share.
    This plan makes the ORDER part of the algorithm: per (query, char)
    counts (exact ints) collect into a CHAR-SORTED array (distinct chars
    per field are alphabet-sized — tiny), and H = log2(T) - (Σ n_c ·
    log2(n_c)) / T evaluates as a SEQUENTIAL fold over that sorted array
    — the same expression tree in the SQL twin, so both engines perform
    the identical float additions in the identical order. Two
    map-side-combined groupBys ((query, char) then query), both over
    alphabet-bounded rows after the first combine."""

    def build(matched: DataFrame) -> DataFrame:
        keyed = matched.join(values.select("url", "s"), "url")
        lens = keyed.groupBy("query_id").agg(
            F.count("*").alias("n"),
            F.min(F.length("s")).cast("long").alias("min_len"),
            F.max(F.length("s")).cast("long").alias("max_len"),
            F.floor(
                F.sum(F.length("s")).cast("double") / F.count("*") * 1_000_000
            )
            .cast("long")
            .alias("avg_len6"),
        )
        chars = (
            keyed.select(
                "query_id", F.explode(F.split(F.col("s"), "")).alias("c")
            )
            .filter(F.col("c") != "")
            .groupBy("query_id", "c")
            .agg(F.count("*").alias("nc"))
        )
        ent = (
            chars.groupBy("query_id")
            .agg(
                F.sum("nc").alias("t"),
                F.array_sort(F.collect_list(F.struct("c", "nc"))).alias("arr"),
            )
            .selectExpr(
                "query_id",
                # sequential fold in char order — identical text in the twin
                "cast(floor((log2(cast(t as double)) - aggregate(arr, "
                "cast(0.0 as double), (acc, e) -> acc + cast(e.nc as double) "
                "* log2(cast(e.nc as double))) / cast(t as double)) * 1000000) "
                "as bigint) as entropy6",
            )
        )
        return lens.join(ent, "query_id").select(
            "query_id", "n", "min_len", "max_len", "avg_len6", "entropy6"
        )

    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n long, min_len long, max_len long, "
        "avg_len6 long, entropy6 long",
        build,
    )


def _value_histogram(matched: DataFrame, values: DataFrame) -> DataFrame:
    """Shared head for the selection-by-rank aggs (percentiles / boxplot /
    MAD): the match set joined to a (url, val) dimension and collapsed to
    a per-query VALUE HISTOGRAM (query_id, v, c) with a cumulative count
    and the per-query total attached by two windows over ONE per-query
    exchange. All rank selection downstream runs over #distinct-values
    rows, never #matches — the ``match_percentiles`` cost argument."""
    from pyspark.sql import Window

    val = F.col("val").cast("double")
    hist = (
        matched.join(values.select("url", "val"), "url")
        .groupBy("query_id", val.alias("v"))
        .agg(F.count("*").alias("c"))
    )
    wcum = (
        Window.partitionBy("query_id")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("query_id")
    return hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall)
    )


def _disc_over(col_v: str, pct: int):
    """percentile_disc as a whole-partition window expression over a
    cumulated value histogram: the smallest ``col_v`` whose cumulative
    count reaches ceil(pct * n / 100). The rank target is PURE INT64
    arithmetic (``(pct*n + 99) div 100``) — no float division anywhere an
    engine could round differently (the ``match_percentiles`` contract)."""
    from pyspark.sql import Window

    tgt = F.expr(f"(cast({pct} as bigint) * n + 99) div 100")
    return F.min(F.when(F.col("cum") >= tgt, F.col(col_v))).over(
        Window.partitionBy("query_id")
    )


def match_boxplot(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Boxplot aggregation (Elasticsearch ``boxplot``, but EXACT where ES
    runs t-digest) -> (query_id, n_docs, min6, max6, q16, q26, q36, lo6,
    hi6): per query over the matched docs' value — count, min/max, the
    three quartiles as percentile_disc, and the Tukey whiskers ES returns
    as lower/upper: the smallest value >= q1 - 1.5*IQR and the largest
    value <= q3 + 1.5*IQR.

    Single lineage: the value histogram cumulates once, the quartiles
    attach as whole-partition window expressions over the SAME per-query
    exchange (a branched quartile subquery would re-run the match kernel
    — the lineage-fork trap), and one final map-side-combined groupBy
    reads min/max/whiskers off histogram rows with the quartile columns
    in scope. Exactness: integer-valued dims make every histogram value
    and quartile exact in a double; 1.5*IQR is dyadic, so the whisker
    comparisons and the floor(x*1e6) departures round identically across
    engines."""
    iqr = F.col("q3") - F.col("q1")
    lo_b = F.col("q1") - F.lit(1.5) * iqr
    hi_b = F.col("q3") + F.lit(1.5) * iqr
    f6 = lambda c: F.floor(c * 1_000_000).cast("long")  # noqa: E731
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, min6 long, max6 long, q16 long, "
        "q26 long, q36 long, lo6 long, hi6 long",
        lambda matched: _value_histogram(matched, values)
        .withColumn("q1", _disc_over("v", 25))
        .withColumn("q2", _disc_over("v", 50))
        .withColumn("q3", _disc_over("v", 75))
        .groupBy("query_id")
        .agg(
            F.max("n").alias("n_docs"),
            f6(F.min("v")).alias("min6"),
            f6(F.max("v")).alias("max6"),
            f6(F.max("q1")).alias("q16"),
            f6(F.max("q2")).alias("q26"),
            f6(F.max("q3")).alias("q36"),
            f6(F.min(F.when(F.col("v") >= lo_b, F.col("v")))).alias("lo6"),
            f6(F.max(F.when(F.col("v") <= hi_b, F.col("v")))).alias("hi6"),
        ),
    )


def match_mad(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Median absolute deviation (Elasticsearch
    ``median_absolute_deviation``, but EXACT where ES runs t-digest) ->
    (query_id, n_docs, med6, mad6): per query the percentile_disc median
    of the matched values and the disc-median of |val - median|.

    Two selection passes, ONE match-kernel lineage: the median attaches
    to the value histogram as a window expression, the deviations
    re-group THAT histogram (summing counts — still #distinct-values
    rows, never #matches), and the second disc selection cumulates the
    deviation histogram. With integer-valued dims the median is an exact
    integer, |v - med| is exact, and both selections are pure int64 rank
    arithmetic — bit-identical to the SQL twin."""
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("query_id")
        .orderBy("dv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tgt = F.expr("(cast(50 as bigint) * n + 99) div 100")
    f6 = lambda c: F.floor(c * 1_000_000).cast("long")  # noqa: E731
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, med6 long, mad6 long",
        lambda matched: _value_histogram(matched, values)
        .withColumn("med", _disc_over("v", 50))
        .groupBy("query_id", F.abs(F.col("v") - F.col("med")).alias("dv"))
        .agg(F.sum("c").alias("c"), F.max("n").alias("n"), F.max("med").alias("med"))
        .withColumn("cum", F.sum("c").over(wcum))
        .filter(F.col("cum") >= tgt)
        .groupBy("query_id")
        .agg(
            F.max("n").alias("n_docs"),
            f6(F.max("med")).alias("med6"),
            f6(F.min("dv")).alias("mad6"),
        ),
    )


def match_t_test(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Welch's t-test (Elasticsearch ``t_test`` with ``type:
    heteroscedastic``) -> (query_id, n_a, n_b, mean_a6, mean_b6, t6,
    df6): per query the two-sample unequal-variance t statistic and the
    Welch–Satterthwaite degrees of freedom between the matched docs'
    ``grp = 0`` and ``grp = 1`` populations. ``values`` is a (url, val,
    grp) dimension.

    One map-side-combined groupBy computes six conditional sufficient
    statistics (n/sum/sum-of-squares per group — exact int64 partial
    sums, so Spark's partial-agg order cannot change them); the float
    finishing chain (sample variance via the extended_stats clamped
    population form scaled by n/(n-1), the pooled standard error, t, and
    the df ratio) is single-rounded IEEE ops in pinned expression order,
    shared verbatim with the twin. Degenerate groups (n <= 1, zero
    pooled variance) yield NULL t/df via nullif — ANSI-safe in Spark 4,
    same semantics in DuckDB."""
    v = F.col("val").cast("double")
    in_a = F.col("grp") == 0
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_a long, n_b long, mean_a6 long, mean_b6 long, "
        "t6 long, df6 long",
        lambda matched: _welch(
            matched.join(values.select("url", "val", "grp"), "url")
            .groupBy("query_id")
            .agg(
                F.sum(F.when(in_a, 1).otherwise(0)).cast("long").alias("na"),
                F.sum(F.when(~in_a, 1).otherwise(0)).cast("long").alias("nb"),
                F.sum(F.when(in_a, v).otherwise(0.0)).alias("sa"),
                F.sum(F.when(~in_a, v).otherwise(0.0)).alias("sb"),
                F.sum(F.when(in_a, v * v).otherwise(0.0)).alias("ssa"),
                F.sum(F.when(~in_a, v * v).otherwise(0.0)).alias("ssb"),
            )
        ),
    )


def _welch(agg: DataFrame) -> DataFrame:
    """``match_t_test``'s finishing chain over the per-query sufficient
    statistics — identical expression layering in the twin (one CTE per
    select here), one rounding per op."""
    fin = agg.selectExpr(
        "query_id",
        "na",
        "nb",
        "cast(na as double) as dna",
        "cast(nb as double) as dnb",
        "case when na > 0 then sa / cast(na as double) end as ma",
        "case when nb > 0 then sb / cast(nb as double) end as mb",
        "case when na > 1 then greatest(ssa / cast(na as double) "
        "- (sa / cast(na as double)) * (sa / cast(na as double)), 0.0) "
        "* cast(na as double) / (cast(na as double) - 1.0) end as va",
        "case when nb > 1 then greatest(ssb / cast(nb as double) "
        "- (sb / cast(nb as double)) * (sb / cast(nb as double)), 0.0) "
        "* cast(nb as double) / (cast(nb as double) - 1.0) end as vb",
    )
    fin = fin.selectExpr(
        "query_id", "na", "nb", "ma", "mb", "dna", "dnb",
        "va / dna as sea", "vb / dnb as seb",
    ).selectExpr(
        "query_id", "na", "nb", "ma", "mb", "sea", "seb", "dna", "dnb",
        "sea + seb as se2",
    )
    f6 = "cast(floor({x} * 1000000) as bigint)"
    return fin.selectExpr(
        "query_id",
        "na as n_a",
        "nb as n_b",
        f6.format(x="ma") + " as mean_a6",
        f6.format(x="mb") + " as mean_b6",
        f6.format(x="(ma - mb) / nullif(sqrt(se2), 0.0)") + " as t6",
        f6.format(
            x="se2 * se2 / nullif(sea * sea / (dna - 1.0) "
            "+ seb * seb / (dnb - 1.0), 0.0)"
        )
        + " as df6",
    )


def significant_terms(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    m: int = 5,
    min_fg: int = 2,
    cell_parts: int = 4,
    sample_hex: str | None = None,
) -> DataFrame:
    """Significant-terms aggregation (Elasticsearch ``significant_terms``):
    per query, the ``m`` index terms most OVER-REPRESENTED in the match
    set vs the corpus -> (query_id, term, fg, bg, lift6) — fg = matching
    docs containing the term, bg = the term's corpus df (from the
    committed term_stats — the same stats retrieval scores with), ranked
    by the lift ``(fg / n_matched) / (bg / n_docs)`` as
    ``lift6 = floor(1e6 * (fg * n_docs) / (n_matched * bg))`` (one double
    division both engines round identically; ES's JLH/chi2 modes are
    drop-in numerator swaps, documented not taken). The query's OWN terms
    are EXCLUDED — they trivially top any lift ranking and ES users read
    significant_terms precisely for what they did NOT search for.
    ``min_fg`` suppresses one-doc noise (ES ``min_doc_count``, default 2
    there too).

    Cost class: the matched docs' DISTINCT tokens must be enumerated —
    O(matched tokens), the heaviest full-match surface (ES runs this agg
    on a sampled shard subset for the same reason). Plan: the
    ``_matched_urls`` tail joins the extracts TEXT (pruned partitions),
    tokens explode distinct-per-doc (JVM codegen tokenizer,
    ``array_distinct``), one groupBy counts fg, the committed term_stats
    joins bg (broadcast-class: only terms the match set contains),
    per-query window takes the top-m.

    ``sample_hex`` is the ES ``sampler`` aggregation: a DETERMINISTIC doc
    sample — keep matched docs whose ``md5(url)`` starts with one of the
    given hex digits ('012' = a 3/16 sample; ``rand()`` would not
    reproduce across engines, the ``sampled_verification`` rule) —
    applied BEFORE the text join, so the O(matched tokens) explode (the
    part that dominates) shrinks by the sample fraction while bg and
    n_docs stay corpus-wide (ES sampler semantics: sub-agg over the
    sample, background unchanged). fg and n_matched both measure the
    SAMPLE; the sampled count rides a count over the sampled coordinates
    (a second kernel execution of the forked lineage — under sampling
    the token explode, not the match kernel, is the cost being bought
    down, the same trade ES's shard sampler makes)."""
    from ..functions.sqlglue import spark_terms
    from pyspark.sql import Window

    se = get_searcher(spark, index_dir, cell_parts)
    state = _match_state(se, queries)
    if not state.payload:
        return se._empty_df("query_id int, term string, fg long, bg long, lift6 long")
    # (query, own-term) exclusion relation — tiny, broadcast. A term the
    # index lacks never reaches fg, so the head's present negations suffice.
    head = state.head
    own_rows = [
        (qid, t)
        for qid, ts in head.terms.items()
        for t in set(ts) | set(head.negs.get(qid, ()))
    ]
    own = local_df(spark, own_rows or [(-1, "")], "query_id int, term string")

    matched = _matched_urls(se, state)
    if sample_hex is not None:
        digits = sorted(set(sample_hex.lower()))
        if not digits or not set(digits) <= set("0123456789abcdef"):
            raise ValueError(
                f"sample_hex must be non-empty hex digits, got {sample_hex!r}"
            )
        matched = matched.filter(
            F.substring(F.md5(F.col("url")), 1, 1).isin(digits)
        )
    # Text scan pruned to the partitions the matches can live in (the
    # _matched_urls trick), joined on (part_id, url) BEFORE tokenizing —
    # the tokenizer projection sits ABOVE the join, so it evaluates on
    # O(matched docs), not the whole corpus (a select-below-join would
    # tokenize every scanned row: Catalyst does not hoist expensive
    # projections). Sampling composes: the md5 filter already shrank
    # `matched`, so the explode shrinks with it.
    ext = _extracts(se).select(
        F.col("part_id").cast("int").alias("part_id"), "url", "text"
    )
    parts = _touched_parts(se, state.present)
    if parts is not None:
        ext = ext.filter(F.col("part_id").isin(parts))
    doc_terms = matched.join(ext, ["part_id", "url"]).select(
        "query_id",
        "url",
        F.explode(
            F.array_distinct(F.expr(spark_terms("text")))
        ).alias("term"),
    )
    fg = (
        doc_terms.groupBy("query_id", "term")
        .agg(F.count("*").alias("fg"))
        .filter(F.col("fg") >= min_fg)
        .join(own, ["query_id", "term"], "left_anti")
    )
    if sample_hex is None:
        # Match-set SIZE via the cheap count kernel (_count_matches), NOT
        # a count over `matched`: the latter would duplicate the
        # URL-joined kernel lineage (Spark recomputes a branched DAG),
        # doubling the dominant cost at scale. O(cells) kernel rows.
        n_matched = _count_matches(se, state).withColumnRenamed("n", "n_matched")
    else:
        # Sampled size must count the SAMPLE — the url-hash filter only
        # exists post-join, so this forks the kernel lineage (docstring:
        # sampling buys down the token explode, not the match kernel).
        n_matched = matched.groupBy("query_id").agg(
            F.count("*").alias("n_matched")
        )
    ts = se.term_dictionary()
    bg = ts.select("term", F.col("df").cast("long").alias("bg"))
    lift6 = F.floor(
        F.lit(1_000_000.0)
        * (F.col("fg").cast("double") * F.lit(float(se.n_docs)))
        / (F.col("n_matched").cast("double") * F.col("bg").cast("double"))
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy(F.desc("lift6"), F.asc("term"))
    return (
        fg.join(bg, "term")
        .join(F.broadcast(n_matched), "query_id")
        .withColumn("lift6", lift6)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= m)
        .select("query_id", "term", "fg", "bg", "lift6")
    )


def search_sorted_by(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    sort_keys: DataFrame,
    k: int = 10,
    descending: bool = True,
    cell_parts: int = 4,
    search_after: dict[int, tuple] | None = None,
) -> DataFrame:
    """Sort-by-field retrieval (Elasticsearch ``sort`` on an attribute):
    the top-``k`` MATCHING docs per query ordered by an external sort key
    instead of relevance -> (query_id, rank, url, sort_key). Matching is
    the search plan's OR semantics with the full exclusion contract
    (tombstones and '-term' negations mask before anything ranks — shared
    ``_match_state`` kernels); scores are never computed and norms never
    load, exactly like ES skips scoring for field sorts. ``sort_keys`` is
    a (url, sort_key) dimension DataFrame; docs absent from it drop
    (ES's missing-value exclusion under ``unmapped_type`` strictness —
    callers wanting ES's "missing: _last" supply a defaulted dimension).

    Exactness + scale shape: the match set is inherently O(matches) rows
    (the price of a field sort over everything that matched), but the
    RANKING never sorts it globally — phase 1 takes the per-(query,
    extract-partition) top-k with a well-distributed window (the global
    top-k per query is contained in the union of per-part top-ks), phase
    2 ranks the <= queries x parts x k survivors — the same global-rank
    shape as the BM25 plan's ``_rank_and_lookup``. Ties break url-asc
    (== docID order, the engine-wide tie-break).

    ``search_after`` cursors page this surface the ES way (``search_after``
    composes with any sort, not just relevance): per query, the
    (sort_key, url) sort values of the last consumed row; only rows
    STRICTLY past the cursor in (sort_key desc/asc, url asc) order rank,
    with page-relative ranks 1..k. The cursor is an ADMISSION predicate
    on the matched rows BEFORE the two-phase rank — the fourth pre-heap
    channel of the engine-wide exclusion contract, applied to the
    field-sort surface: per-part top-ks stay at k at ANY page depth
    (offset paging here would deepen them to offset+k). A query id
    without a cursor entry pages from the top (ES semantics for a
    missing search_after)."""
    kt = sort_keys.schema["sort_key"].dataType.simpleString()
    order = (
        F.col("sort_key").desc() if descending else F.col("sort_key").asc(),
        F.col("url").asc(),
    )

    def build(matched: DataFrame) -> DataFrame:
        keyed = matched.join(sort_keys.select("url", "sort_key"), "url")
        if search_after:
            cur = local_df(
                spark,
                [(int(q), sk, u) for q, (sk, u) in sorted(search_after.items())],
                f"query_id int, cur_key {kt}, cur_url string",
            )
            keyed = keyed.join(F.broadcast(cur), "query_id", "left")
            past = (
                (F.col("sort_key") < F.col("cur_key"))
                if descending
                else (F.col("sort_key") > F.col("cur_key"))
            ) | (
                (F.col("sort_key") == F.col("cur_key"))
                & (F.col("url") > F.col("cur_url"))
            )
            keyed = keyed.filter(F.col("cur_key").isNull() | past).drop(
                "cur_key", "cur_url"
            )
        return _two_phase_rank(
            keyed, order, k, ["query_id", "rank", "url", "sort_key"]
        )

    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        f"query_id int, rank int, url string, sort_key {kt}", build,
    )


def facet_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    facets: DataFrame,
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """Bucketed metric sub-aggregation (Elasticsearch ``terms`` agg with a
    ``stats`` + ``cardinality`` sub-agg) -> (query_id, facet, n_docs,
    n_vals, sum6, min6, max6, avg6): ``match_stats`` grouped one level
    deeper, per (query, facet-bucket) — the "avg price per brand for this
    search" shape. ``facets`` is a (url, facet) dimension, ``values`` a
    (url, val) one; docs absent from either drop (supply defaulted
    dimensions for ES ``missing:``). Still ONE groupBy over the
    ``_matched_urls`` tail (map-side partial aggregation; the key just
    gains the facet column — a few rows per (query, facet) shuffle);
    ``countDistinct`` exact, with the ``approx_count_distinct`` HLL swap
    documented for trillion-distinct scale. avg divides the raw double sum
    by the count BEFORE flooring — the engine-wide one-rounding rule; sums
    over integer-valued attributes are order-independent (exact doubles
    below 2^53), which is what makes the fixed-point hash portable."""
    val = F.col("val").cast("double")
    f6 = lambda c: F.floor(c * 1_000_000).cast("long")  # noqa: E731
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, facet string, n_docs long, n_vals long, sum6 long, "
        "min6 long, max6 long, avg6 long",
        lambda matched: matched.join(facets.select("url", "facet"), "url")
        .join(values.select("url", "val"), "url")
        .groupBy("query_id", "facet")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(val).alias("n_vals"),
            f6(F.sum(val)).alias("sum6"),
            f6(F.min(val)).alias("min6"),
            f6(F.max(val)).alias("max6"),
            f6(F.sum(val) / F.count("*")).alias("avg6"),
        ),
    )


def match_percentiles(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    percents: list[int] = (25, 50, 75, 90, 99),
    cell_parts: int = 4,
) -> DataFrame:
    """Exact percentiles over the FULL match set (Elasticsearch
    ``percentiles`` agg, but EXACT where ES defaults to t-digest) ->
    (query_id, pct, n_docs, pct6): per (query, requested percent), the
    percentile_disc value — the smallest val whose cumulative match count
    reaches ceil(pct * n / 100) — as floor(val*1e6).

    Selection-by-index is computed on the VALUE HISTOGRAM, not the row
    set: matched rows aggregate to (query, val, count) first (map-side
    combine — the relation shrinks to distinct values per query), a
    cumulative-sum window runs over that small relation, and the answer is
    min(val) where cum >= target. The per-query window therefore sorts
    #distinct-values rows, not #matches — the difference between sorting
    a 5-row histogram and 10^9 scored docs per query at 100 TB. The rank
    target is PURE INT64 arithmetic (``(pct*n + 99) div 100``) — no float
    division anywhere an engine could round differently. ES's t-digest
    trade (constant memory, approximate) maps to ``approx_percentile`` —
    documented, not taken: the histogram form is already shuffle-light and
    exactness keeps the oracle byte-comparable. Percents outside (0, 100]
    raise; docs absent from ``values`` drop. The value histogram is
    ``_value_histogram``'s: n_docs is a whole-partition window over it, not
    a second groupBy (a branched DAG would re-run the match kernel)."""
    ps = sorted({int(p) for p in percents})
    if not ps or ps[0] <= 0 or ps[-1] > 100:
        raise ValueError(f"percents must be ints in (0, 100], got {percents}")
    pdf = local_df(spark, [(p,) for p in ps], "pct int")
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, pct int, n_docs long, pct6 long",
        lambda matched: _value_histogram(matched, values)
        .withColumnRenamed("n", "n_docs")
        .crossJoin(F.broadcast(pdf))
        .withColumn(
            "tgt", F.expr("(cast(pct as bigint) * n_docs + 99) div 100")
        )
        .filter(F.col("cum") >= F.col("tgt"))
        .groupBy("query_id", "pct")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.floor(F.min("v") * 1_000_000).cast("long").alias("pct6"),
        )
        .select("query_id", "pct", "n_docs", "pct6"),
    )


def top_hits(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    facets: DataFrame,
    n: int = 3,
    cell_parts: int = 4,
) -> DataFrame:
    """Bucketed top hits (Elasticsearch ``terms`` agg + ``top_hits``
    sub-agg) -> (query_id, facet, rank, url, score6): for every (query,
    facet-bucket), the bucket's top-n matching docs by BM25 — "best 3
    results per language" — with per-bucket ranks 1..n under (score6 desc,
    docID asc), score6 = floor(score*1e6) (the engine-wide fixed-point
    order). Docs absent from the dimension drop.

    Exactness needs every bucket's GLOBAL best docs, which only the full
    scored match set contains (a per-cell top-k could hide a sparse
    bucket's best behind same-cell docs of other buckets — the field-
    collapsing argument exactly), so the plan is ``query._scored_agg``'s
    full scored match set (the inherent ES cost class: ES evaluates
    top_hits on every matching doc per shard too), then all JVM: a
    broadcast-class facet join and ONE row_number window partitioned by
    (query, facet) — the bucket key IS the partition key, so ranking
    shuffles each bucket to one task and never global-sorts; no second
    phase needed (vs search_collapse's 64-way pre-top-k) because the
    per-bucket result is already k-bounded by the window filter."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id", "facet").orderBy(
        F.desc("score6"), F.asc("doc_id")
    )
    return _scored_agg(
        spark, index_dir, cell_parts, queries,
        f"query_id int, facet {_dim_type(facets, 'facet')}, rank int, "
        "url string, score6 long",
        lambda keyed: keyed.join(facets.select("url", "facet"), "url")
        .withColumn("score6", _fixed6("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("query_id", "facet", "rank", "url", "score6"),
    )


def match_percentile_ranks(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    at_values: list[int] = (100, 500, 1500),
    cell_parts: int = 4,
) -> DataFrame:
    """Inverse percentiles over the FULL match set (Elasticsearch
    ``percentile_ranks`` agg — "what fraction of this search's docs are
    under 500 chars?") -> (query_id, at, n_docs, rank6): per (query,
    threshold), the percent of matching docs whose value is <= the
    threshold, as ``rank6 = (cnt_le * 100 * 1e6) div n`` — a percent in
    fixed-point 1e6, PURE INT64 like ``match_percentiles``' target
    arithmetic (no float division an engine could round differently;
    int64 headroom holds to 9e10 matched docs). A threshold below every
    value still emits its row with rank6 = 0 (the ES contract — the
    conditional sum keeps every (query, at) pair; a filter+count would
    silently drop empty buckets).

    Same scale shape as ``match_percentiles``: matched rows aggregate to
    the per-query value histogram first (map-side combine), the tiny
    histogram cross-joins the broadcast threshold list, and ONE
    conditional-sum groupBy finishes — no window, no global sort, one
    kernel lineage. ``at_values`` are integers (thresholds over
    integer-valued attributes — the fixture domain); empty raises."""
    ats = sorted({int(a) for a in at_values})
    if not ats:
        raise ValueError("at_values must be a non-empty list of ints")
    val = F.col("val").cast("double")
    adf = local_df(spark, [(a,) for a in ats], "at int")
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, at int, n_docs long, rank6 long",
        lambda matched: matched.join(values.select("url", "val"), "url")
        .groupBy("query_id", val.alias("v"))
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(adf))
        .groupBy("query_id", "at")
        .agg(
            F.sum(
                F.when(F.col("v") <= F.col("at").cast("double"), F.col("c"))
                .otherwise(F.lit(0))
            ).alias("cnt"),
            F.sum("c").alias("n_docs"),
        )
        .withColumn("rank6", F.expr("(cnt * 100000000) div n_docs"))
        .select("query_id", "at", "n_docs", "rank6"),
    )


def composite_buckets(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    facets: DataFrame,
    size: int = 2,
    after: dict[int, str] | None = None,
    cell_parts: int = 4,
) -> DataFrame:
    """Composite aggregation (Elasticsearch ``composite`` agg with a terms
    source) -> (query_id, facet, n_docs): match-set buckets ordered by
    KEY (facet asc), paginated ``size`` at a time by an after-key cursor —
    THE scalable bucket pagination: the plain terms agg must materialize
    and rank EVERY bucket to find the top ones, while composite streams
    buckets in key order behind a cursor, so unbounded bucket cardinality
    (per-host, per-url facets) pages through in size-bounded chunks (ES's
    own recommendation past ~10k buckets; its after-key is this cursor).
    ``after`` maps query_id -> the last facet key already consumed; a
    query id without an entry pages from the first bucket (the
    missing-after first-page semantics). The caller reads the next cursor
    off the page's own max facet — exactly ES's ``after_key``.

    Plan: the per-(query, facet) counts relation (facet-cardinality-sized,
    map-side combined), broadcast cursor join, then ONE row_number window
    by (facet asc) per query cut at ``size`` — single lineage, no kernel
    re-run, and the window ranks only buckets PAST the cursor; size < 1
    raises."""
    from pyspark.sql import Window

    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    w = Window.partitionBy("query_id").orderBy(F.asc("facet"))

    def build(matched: DataFrame) -> DataFrame:
        counts = (
            matched.join(facets, "url")
            .groupBy("query_id", "facet")
            .agg(F.count("*").alias("n_docs"))
        )
        if after:
            cur = local_df(
                spark,
                [(int(q), f) for q, f in sorted(after.items())],
                "query_id int, cur_facet string",
            )
            counts = (
                counts.join(F.broadcast(cur), "query_id", "left")
                .filter(
                    F.col("cur_facet").isNull()
                    | (F.col("facet") > F.col("cur_facet"))
                )
                .drop("cur_facet")
            )
        return (
            counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= size)
            .select("query_id", "facet", "n_docs")
        )

    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, facet string, n_docs long", build,
    )


def adjacency_counts(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    cell_parts: int = 4,
) -> DataFrame:
    """Adjacency-matrix aggregation (Elasticsearch ``adjacency_matrix``)
    -> (qa, qb, n_docs): for every query pair qa <= qb, how many docs
    match BOTH (the diagonal qa == qb is each query's own hit count —
    ES returns singles + intersections the same way). The co-occurrence
    matrix behind "users searching X also match Y" analytics.

    Single lineage, no self-join: a self-join of the matched relation on
    url would fork the kernel lineage (Spark re-executes both sides) and
    shuffle O(matches^2 / docs) rows; instead matched coordinates group
    ONCE per doc (``collect_set(query_id)`` — bounded by the query-batch
    size per doc), and the qa <= qb pairs expand JVM-side with
    whole-stage-codegen higher-order functions (``transform`` +
    ``flatten`` + ``explode`` over the sorted set), then one map-side
    combined groupBy counts — O(matches) shuffled rows in, O(pairs)
    out. The pre-aggregation exclusion contract applies per query inside
    the kernel as always (a doc tombstoned or negated for qa simply
    lacks qa in its set)."""
    pairs = F.explode(
        F.expr(
            "flatten(transform(qs, (x, i) -> "
            "transform(slice(qs, i + 1, size(qs) - i), "
            "y -> struct(x as qa, y as qb))))"
        )
    ).alias("p")
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "qa int, qb int, n_docs long",
        lambda matched: matched.groupBy("part_id", "url")
        .agg(F.sort_array(F.collect_set("query_id")).alias("qs"))
        .select(pairs)
        .select(F.col("p.qa").alias("qa"), F.col("p.qb").alias("qb"))
        .groupBy("qa", "qb")
        .agg(F.count("*").alias("n_docs")),
    )


def range_facets_dense(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    boundaries: list[float],
    cell_parts: int = 4,
) -> DataFrame:
    """Dense-histogram variant of ``range_facets`` (Elasticsearch
    ``histogram`` with ``min_doc_count: 0``) -> (query_id, bucket,
    n_docs): EVERY interior bucket emits for every query that matched at
    least one doc — empty buckets as explicit zeros, the contract a
    time-series / distribution UI needs (gaps must render as gaps, not
    vanish). Queries with no matches at all still emit nothing (the
    engine-wide GROUP-BY convention).

    Single lineage: the sparse bucket counts LEFT-join a DRIVER-SIDE
    (query x bucket) domain literal (both factors are known before any
    job: the query batch and the boundary list — no distinct-scan of the
    counts relation, which would fork the kernel lineage), zeros
    coalesce in, and one whole-partition window sum keeps only queries
    whose total is positive. O(queries x buckets) extra rows — metadata-
    sized at any corpus scale."""
    from pyspark.sql import Window

    sparse = range_facets(
        spark, index_dir, queries, values, boundaries, cell_parts
    )
    n_buckets = len(boundaries) - 1
    domain = local_df(
        spark,
        [(int(qid), b) for qid, _t in queries for b in range(n_buckets)],
        "query_id int, bucket int",
    )
    wq = Window.partitionBy("query_id")
    return (
        domain.join(sparse, ["query_id", "bucket"], "left")
        .withColumn("n_docs", F.coalesce(F.col("n_docs"), F.lit(0).cast("long")))
        .withColumn("tot", F.sum("n_docs").over(wq))
        .filter(F.col("tot") > 0)
        .select("query_id", "bucket", "n_docs")
    )

def match_cardinality_hll(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    cell_parts: int = 4,
) -> DataFrame:
    """The ES ``cardinality`` agg as the REAL sketch (HyperLogLog), not a
    countDistinct -> (query_id, n_docs, n_exact, zeros, s53, est6): per
    query the matched-value row count, the exact distinct count (kept for
    audit; at 10^12-distinct scale drop this column and ship only the
    sketch), the HLL register state as exact int64s, and the fixed-point
    estimate. Lockstep spec: functions/sketches.py — the identical md5
    hash, register math, and single-division estimate run in the SQL
    twins (driverq ``_match_hll_sql``) and the pure-Python pytest oracle.

    Scale shape: the register reduction is a (query, bucket) groupBy with
    map-side combine — the shuffle carries at most queries x m = O(256 q)
    rows no matter how many docs matched, which is the entire point of the
    sketch: per-shard registers merge by max, never by re-scanning. The
    exact column is the only O(distinct) shuffle; production at trillion
    scale keeps the sketch and drops the audit column. ``values`` is a
    (url, v) dimension with v ALREADY RENDERED to string — hashing bytes,
    not floats, keeps every engine's input identical."""

    def build(matched: DataFrame) -> DataFrame:
        vals = matched.join(values.select("url", "v"), "url")
        counts = vals.groupBy("query_id").agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("v").alias("n_exact"),
        )
        return counts.join(_hll_agg(vals, ["query_id"]), "query_id").select(
            "query_id", "n_docs", "n_exact", "zeros", "s53", "est6"
        )

    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, n_docs long, n_exact long, zeros long, s53 long, "
        "est6 long",
        build,
    )


def _hll_agg(vals: DataFrame, keys: list[str]) -> DataFrame:
    """Shared HLL reduction: (keys..., v string) rows -> (keys..., zeros,
    s53, est6) per the lockstep spec (functions/sketches.py). Two map-side-
    combined groupBys; the second shuffles <= groups x m rows."""
    from ..functions.sketches import (
        HLL_ALPHA_M2,
        HLL_LC_BAR,
        HLL_M,
        HLL_RHO_MAX,
        HLL_W_BITS,
        HLL_W_MASK,
    )

    h = F.expr("cast(conv(substr(md5(v), 1, 15), 16, 10) as bigint)")
    w = F.expr(f"cast(conv(substr(md5(v), 1, 15), 16, 10) as bigint) & {HLL_W_MASK}")
    regs = (
        vals.select(
            *keys,
            F.shiftright(h, HLL_W_BITS).alias("bucket"),
            F.when(w == 0, F.lit(HLL_RHO_MAX))
            .otherwise(F.lit(HLL_RHO_MAX) - F.length(F.bin(w)))
            .alias("rho"),
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    sk = regs.groupBy(*keys).agg(
        (F.lit(HLL_M) - F.count("*")).cast("long").alias("zeros"),
        (
            F.sum(F.expr("shiftleft(cast(1 as bigint), 53 - reg)"))
            + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << 53)
        ).cast("long").alias("s53"),
    )
    # Identical float-op order to the twins: one division for raw, then the
    # linear-counting CASE, then ONE multiply + floor.
    raw = F.lit(HLL_ALPHA_M2) / F.col("s53").cast("double")
    lc = F.lit(float(HLL_M)) * F.log(
        F.lit(float(HLL_M)) / F.col("zeros").cast("double")
    )
    est6 = (
        F.floor(
            F.lit(1000000.0)
            * F.when((raw <= F.lit(HLL_LC_BAR)) & (F.col("zeros") > 0), lc)
            .otherwise(raw)
        )
    ).cast("long")
    return sk.select(*keys, "zeros", "s53", est6.alias("est6"))


def index_vocab_hll(spark: SparkSession, index_dir: str) -> DataFrame:
    """Vocabulary-cardinality sketch from the COMMITTED index -> ONE row
    (n_exact, zeros, s53, est6): the HLL registers built over the
    term_stats relation's term column (latest committed delta for streamed
    indexes — each delta holds a full recompute), never by re-tokenizing
    the corpus. The twin (driverq ``_vocab_hll_sql``) sketches the corpus
    tokens directly, so a hash-match certifies index<->source vocabulary
    consistency THROUGH the sketch — same audit idea as ``index_stats``,
    demonstrating the register math is source-agnostic: any relation with
    a string column sketches identically. Column-pruned term scan; the
    register reduction shuffles <= m rows."""
    se = get_searcher(spark, index_dir, cell_parts=4)
    ts = se.term_dictionary()
    vals = ts.select(F.col("term").alias("v")).withColumn("g", F.lit(1))
    counts = vals.groupBy("g").agg(F.count("*").alias("n_exact"))
    fin = _hll_agg(vals, ["g"])
    return counts.join(fin, "g").select("n_exact", "zeros", "s53", "est6")


def match_random_score(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    seed: str,
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """ES ``function_score`` / ``random_score`` -> (query_id, rank, url,
    r6): the match set ranked by a SEEDED reproducible uniform score —
    r6 = hash60(seed | url) mod 1e6, pure integers end to end. Built as a
    field sort over a hash dimension: the score depends only on (seed,
    url), so it IS a sort key, and ``search_sorted_by`` contributes the
    two-phase per-partition top-k + the full exclusion contract for free.
    The dimension derives from the index's OWN extracts (url column only,
    column-pruned scan) — no external table needed."""
    se = get_searcher(spark, index_dir, cell_parts)
    urls = _extracts(se).select("url")
    dim = urls.select(
        "url",
        F.expr(
            "cast(conv(substr(md5(concat('"
            + seed
            + "|', url)), 1, 15), 16, 10) as bigint) % 1000000"
        ).alias("sort_key"),
    )
    top = search_sorted_by(spark, index_dir, queries, dim, k=k,
                           cell_parts=cell_parts)
    return top.withColumnRenamed("sort_key", "r6")

def suggest_next_word(
    spark: SparkSession,
    index_dir: str,
    seeds: list[str],
    k: int = 3,
    cell_parts: int = 4,
) -> DataFrame:
    """Search-as-you-type completion from COMMITTED artifacts ->
    (seed, rank, next_term, cnt): the top-``k`` tokens that follow each
    seed in the indexed corpus by bigram frequency (count desc, term asc)
    — served from the committed extracts with the LOCKED tokenizer
    expression (sqlglue.SPARK_TERMS, whole-stage codegen), never from the
    original corpus path. Tombstoned docs are excluded (the engine-wide
    exclusion contract: a deleted doc must stop feeding suggestions) via
    a broadcast anti-join on reconstructed docIDs — grid-start + local_pos,
    the committed coordinate convention.

    Scale shape: one codegen tokenize + explode over the extracts (the
    same scan class the percolate batch plan pays), a broadcast seed
    filter BEFORE the count groupBy (non-seed bigrams never shuffle), one
    map-side-combined count, and the rank window runs over distinct
    (seed, next_term) pairs — vocabulary-class, not corpus-class. The
    documented index-time upgrade precomputes the full bigram table as a
    sidecar during the build's tokenize pass (one extra groupBy) when
    completion queries dominate."""
    from ..functions.sqlglue import SPARK_TERMS

    se = get_searcher(spark, index_dir, cell_parts)
    ext = _extracts(se).select(
        F.col("part_id").cast("int").alias("part_id"), "local_pos", "text"
    )
    if se.deleted_ids is not None and len(se.deleted_ids):
        starts = local_df(
            spark,
            [(int(p), int(s)) for p, s in enumerate(se.grid_parts)],
            "part_id int, start long",
        )
        dels = local_df(spark, [(int(x),) for x in se.deleted_ids], "doc_id long")
        ext = (
            ext.join(F.broadcast(starts), "part_id")
            .withColumn("doc_id", F.col("start") + F.col("local_pos"))
            .join(F.broadcast(dels), "doc_id", "left_anti")
        )
    toks = ext.select(
        F.expr(SPARK_TERMS.format(col="text")).alias("a")
    ).filter(F.size("a") >= 2)
    bg = toks.select(
        F.expr("explode(sequence(0, size(a) - 2))").alias("i"), "a"
    ).select(
        F.expr("a[i]").alias("w1"), F.expr("a[i + 1]").alias("w2")
    )
    seed_df = local_df(spark, [(s,) for s in seeds], "seed string")
    cnt = (
        bg.join(F.broadcast(seed_df), bg.w1 == F.col("seed"))
        .groupBy("seed", F.col("w2").alias("next_term"))
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("seed").orderBy(
        F.desc("cnt"), F.asc("next_term")
    )
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("seed", "rank", "next_term", "cnt")
    )

def date_histogram_normalize(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    interval: str = "month",
    cell_parts: int = 4,
) -> DataFrame:
    """The ES ``normalize`` pipeline agg (method percent_of_sum, plus the
    cumulative share) over the calendar histogram -> (query_id, bucket,
    n_docs, pct6, cum_pct6): each bucket's share of its query's total
    matches, floored at 1e6. Pipeline execution model: rides the
    single-shuffle ``date_histogram`` output with ONE window pass over
    O(buckets) rows — the match set is never touched again. Counts are
    ints, so each share is a single identically-rounded division."""
    from pyspark.sql import Window

    hist = date_histogram(
        spark, index_dir, queries, dates, interval, cell_parts
    )
    wq = Window.partitionBy("query_id")
    wrun = (
        Window.partitionBy("query_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f6 = lambda c: F.floor(c * 1_000_000).cast("long")  # noqa: E731
    total = F.sum("n_docs").over(wq)
    running = F.sum("n_docs").over(wrun)
    return hist.select(
        "query_id",
        "bucket",
        "n_docs",
        f6(F.col("n_docs").cast("double") / total).alias("pct6"),
        f6(running.cast("double") / total).alias("cum_pct6"),
    )


def date_histogram_bucket_sort(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    interval: str = "month",
    frm: int = 1,
    size: int = 3,
    cell_parts: int = 4,
) -> DataFrame:
    """The ES ``bucket_sort`` pipeline agg -> (query_id, rank, bucket,
    n_docs): parent histogram buckets reordered by doc count (desc,
    bucket asc tie-break) with from/size paging applied AFTER the sort —
    skip ``frm`` buckets, keep ``size`` (the ES from/size rule). Pipeline
    execution model: one window pass over ``date_histogram``'s O(buckets)
    rows; the match set is never touched again. Rank rides along so a
    page is self-describing."""
    from pyspark.sql import Window

    if frm < 0 or size < 1:
        raise ValueError(f"need frm >= 0 and size >= 1, got {frm}/{size}")
    hist = date_histogram(spark, index_dir, queries, dates, interval, cell_parts)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_docs"), F.asc("bucket")
    )
    return (
        hist.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") > frm) & (F.col("rank") <= frm + size))
        .select("query_id", "rank", "bucket", "n_docs")
    )


def date_histogram_bucket_script(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    dates: DataFrame,
    values: DataFrame,
    interval: str = "month",
    cell_parts: int = 4,
) -> DataFrame:
    """The ES ``bucket_script`` pipeline agg -> (query_id, bucket, n_docs,
    sum_chars, chars_per_doc6): a per-bucket arithmetic over TWO sibling
    metrics (params.chars = sum of the matched docs' ``values`` dimension,
    params.docs = the bucket count; script = chars / docs, floored at
    1e6). ``values`` is a (url, v bigint) dimension joined alongside the
    date dimension — both sibling metrics come out of ONE map-side-
    combined groupBy over the ``_matched_urls`` tail (never a second pass
    over the match set), and the script is one identically-rounded double
    division over O(buckets) rows."""
    fmt = _DATE_HISTO_FMT.get(interval)
    if fmt is None:
        raise ValueError(
            f"interval must be one of {sorted(_DATE_HISTO_FMT)}, got "
            f"{interval!r}"
        )
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, bucket string, n_docs long, sum_chars long, "
        "chars_per_doc6 long",
        lambda matched: matched.join(dates.select("url", "d"), "url")
        .join(values.select("url", "v"), "url")
        .withColumn("bucket", F.date_format("d", fmt))
        .groupBy("query_id", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("v").cast("long").alias("sum_chars"),
        )
        .withColumn(
            "chars_per_doc6",
            F.floor(
                F.col("sum_chars").cast("double")
                / F.col("n_docs")
                * 1_000_000
            ).cast("long"),
        ),
    )


def constant_score(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    boost: float = 1.5,
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """The ES ``constant_score`` query -> (query_id, rank, url, score6):
    filter-context retrieval — every doc matching the wrapped filter (the
    engine's OR match set, full exclusion contract) scores exactly
    ``boost``; with all scores equal, docID(url) asc IS the ranking (the
    deterministic tie-break). The point of the surface is what it SKIPS:
    the plan rides the count/facet match kernel — no norms read, no
    block-max payloads, no BM25 arithmetic — which is exactly why ES
    users wrap filters in constant_score (filter context: no scoring
    cost, cacheable). Two-phase top-k like every ranked surface: per-
    (query, partition) window first, global rank over the <= queries x
    parts x k survivors — never a global sort of the match set."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    score6 = int(math.floor(boost * 1_000_000))
    wpart = Window.partitionBy("query_id", "part_id").orderBy(F.asc("url"))
    wq = Window.partitionBy("query_id").orderBy(F.asc("url"))
    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, rank int, url string, score6 long",
        lambda matched: matched.withColumn("_pr", F.row_number().over(wpart))
        .filter(F.col("_pr") <= k)
        .withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "url",
            F.lit(score6).cast("long").alias("score6"),
        ),
    )


def rank_eval(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    disc6: tuple[int, ...],
    k: int = 10,
    cell_parts: int = 4,
) -> DataFrame:
    """Ranking Evaluation API (Elasticsearch ``_rank_eval``) ->
    (query_id, n_rel, p10_6, recall10_6, mrr6, dcg6, ndcg10_6): score the
    engine's own BM25 top-k against DETERMINISTIC term-coverage judgments
    — rating(q, d) = distinct query terms present in d (from the committed
    postings, via ``_match_coords``), relevant iff the doc covers ALL the
    query's distinct tokens. ``disc6`` is the fixed-point NDCG discount
    table (driverq.NDCG_DISC6): integer gains (2^rating - 1) times integer
    discounts make DCG/IDCG exact int64 sums, so the engine and the SQL
    twin agree bit-for-bit; the only floats are four final divisions of
    exactly-representable int64 pairs. IDCG comes from the exact per-grade
    match histogram (a ``groupBy(rating).count()`` — O(queries * n_terms)
    rows), never a global sort: grades fill ideal positions highest-first,
    ties within a grade share the gain so doc order is irrelevant.

    Plan shape: the O(matches) rating rows stay distributed; the driver
    collects only the grade histogram and the k-row-per-query top-hit
    ratings (both O(queries * k)-ish). The rating kernel lineage runs once
    per collect (twice total) — the ``significant_terms`` precedent: re-running
    the kernel beats persist()-owning a cache a lazy API can't release.
    Queries that retrieve nothing emit no row (every top-k surface's
    convention). Must reproduce the rank_eval SQL twin exactly."""
    import math as _math

    from .query import search

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if len(disc6) < k:
        raise ValueError(f"disc6 has {len(disc6)} entries; k={k} needs that many")
    out_ddl = (
        "query_id int, n_rel long, p10_6 long, recall10_6 long, "
        "mrr6 long, dcg6 long, ndcg10_6 long"
    )
    se = get_searcher(spark, index_dir, cell_parts)
    state = _match_state(se, queries)
    if not state.payload:
        return se._empty_df(out_ddl)
    ratings = _match_coords(se, state, rated=True)
    grade_rows = ratings.groupBy("query_id", "rating").count().collect()
    top = search(
        spark, index_dir, queries, k=k, cell_parts=cell_parts, fixed_point=True
    )
    top_rows = top.select("query_id", "rank", "url").collect()
    top_urls = sorted({r["url"] for r in top_rows})
    if not top_urls:
        return se._empty_df(out_ddl)
    ext = (
        _extracts(se)
        .select("part_id", "local_pos", "url")
        .filter(F.col("url").isin(top_urls))
    )
    rated_top = (
        ratings.join(F.broadcast(ext), ["part_id", "local_pos"])
        .select("query_id", "url", "rating")
        .collect()
    )

    grades: dict[int, dict[int, int]] = {}
    for r in grade_rows:
        grades.setdefault(int(r["query_id"]), {})[int(r["rating"])] = int(r["count"])
    top_rating = {
        (int(r["query_id"]), r["url"]): int(r["rating"]) for r in rated_top
    }
    by_q: dict[int, list[tuple[int, str]]] = {}
    for r in top_rows:
        by_q.setdefault(int(r["query_id"]), []).append((int(r["rank"]), r["url"]))
    rows = []
    for qid, hits in sorted(by_q.items()):
        nq = len(state.head.terms[qid])
        g = grades.get(qid, {})
        n_rel = g.get(nq, 0)
        n_ret = len(hits)
        rel_ret, first_rel, dcg6 = 0, None, 0
        for rank, url in sorted(hits):
            rating = top_rating.get((qid, url), 0)
            dcg6 += ((1 << rating) - 1) * disc6[rank - 1]
            if rating == nq:
                rel_ret += 1
                if first_rel is None:
                    first_rel = rank
        idcg6, pos = 0, 0
        for rating in sorted(g, reverse=True):
            m = g[rating]
            take = min(m, k - pos)
            idcg6 += ((1 << rating) - 1) * sum(disc6[pos : pos + take])
            pos += take
            if pos >= k:
                break
        p10_6 = _math.floor(1000000.0 * rel_ret / n_ret)
        recall6 = _math.floor(1000000.0 * rel_ret / n_rel) if n_rel else 0
        mrr6 = _math.floor(1000000.0 / first_rel) if first_rel else 0
        ndcg6 = _math.floor(1000000.0 * dcg6 / idcg6) if idcg6 else 0
        rows.append((qid, n_rel, p10_6, recall6, mrr6, dcg6, ndcg6))
    return local_df(spark, rows, out_ddl)


def suggest_phrase(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 3,
    max_edits: int = 1,
    cell_parts: int = 4,
) -> DataFrame:
    """Phrase suggester (Elasticsearch ``phrase`` suggester — whole-phrase
    "did you mean") -> (query_id, rank, suggestion, dist, score6): for a
    two-term input phrase, candidate corrections per position are the live
    vocabulary terms within ``max_edits`` Levenshtein edits (the input
    token itself included at distance 0 when it exists), and candidate
    PHRASES rank by a Laplace-smoothed bigram language model over the
    indexed corpus:

        score6 = floor(1e6 * (bigram(c1, c2) + 1) / (unigram(c1) + V))

    — the conditional P(c2 | c1) in fixed point (one division of two
    exactly-representable int64s; deterministic across engines), ties by
    (total edit distance asc, c1 asc, c2 asc). A position with no
    candidate inside the edit budget yields no rows for that query (the
    suggester cannot rescue an unfixable token).

    Everything derives from COMMITTED artifacts with the LOCKED tokenizer
    expression, tombstone-masked like ``suggest_next_word`` (a deleted doc
    must stop feeding both the vocabulary and the counts): unigram counts,
    vocabulary size V, and bigram counts all come from one extracts
    tokenize pass. Scale shape: the candidate pass is a vocabulary-class
    ``levenshtein`` scan joined BROADCAST to the tiny query relation (the
    ``suggest_spelling`` plan); bigrams are semi-join-filtered to
    candidate first-terms BEFORE the count groupBy, so non-candidate
    bigrams never shuffle."""
    from ..functions.sqlglue import SPARK_TERMS
    from ..functions.tokenizer import tokenize

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rows = []
    for qid, text in queries:
        ts = tokenize(text)
        if len(ts) != 2:
            raise ValueError(
                f"phrase suggester takes two-term phrases; query {qid} "
                f"tokenized to {ts!r}"
            )
        rows.append((qid, ts[0], ts[1]))
    se = get_searcher(spark, index_dir, cell_parts)
    qdf = local_df(spark, rows, "query_id int, t1 string, t2 string")
    ext = _extracts(se).select(
        F.col("part_id").cast("int").alias("part_id"), "local_pos", "text"
    )
    if se.deleted_ids is not None and len(se.deleted_ids):
        starts = local_df(
            spark,
            [(int(p), int(s)) for p, s in enumerate(se.grid_parts)],
            "part_id int, start long",
        )
        dels = local_df(spark, [(int(x),) for x in se.deleted_ids], "doc_id long")
        ext = (
            ext.join(F.broadcast(starts), "part_id")
            .withColumn("doc_id", F.col("start") + F.col("local_pos"))
            .join(F.broadcast(dels), "doc_id", "left_anti")
        )
    toks = ext.select(F.expr(SPARK_TERMS.format(col="text")).alias("a"))
    ug = (
        toks.select(F.explode("a").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    vsz = ug.agg(F.count("*").alias("v"))
    cand1 = ug.join(
        F.broadcast(qdf.select("query_id", "t1")),
        F.levenshtein(F.col("w"), F.col("t1")) <= max_edits,
    ).select(
        "query_id",
        F.col("w").alias("c1"),
        F.levenshtein(F.col("w"), F.col("t1")).alias("d1"),
        F.col("cnt").alias("ug1"),
    )
    cand2 = ug.join(
        F.broadcast(qdf.select("query_id", "t2")),
        F.levenshtein(F.col("w"), F.col("t2")) <= max_edits,
    ).select(
        "query_id",
        F.col("w").alias("c2"),
        F.levenshtein(F.col("w"), F.col("t2")).alias("d2"),
    )
    pairs = cand1.join(cand2, "query_id")
    bg = (
        toks.filter(F.size("a") >= 2)
        .select(F.expr("explode(sequence(0, size(a) - 2))").alias("i"), "a")
        .select(F.expr("a[i]").alias("w1"), F.expr("a[i + 1]").alias("w2"))
    )
    bgc = (
        bg.join(
            F.broadcast(pairs.select(F.col("c1").alias("w1")).distinct()),
            "w1",
            "leftsemi",
        )
        .join(
            F.broadcast(pairs.select(F.col("c2").alias("w2")).distinct()),
            "w2",
            "leftsemi",
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("bcnt"))
    )
    scored = (
        pairs.join(
            bgc,
            (pairs.c1 == bgc.w1) & (pairs.c2 == bgc.w2),
            "left",
        )
        .crossJoin(F.broadcast(vsz))
        .select(
            "query_id",
            "c1",
            "c2",
            (F.col("d1") + F.col("d2")).cast("long").alias("dist"),
            F.floor(
                F.lit(1000000.0)
                * (F.coalesce(F.col("bcnt"), F.lit(0)) + F.lit(1))
                / (F.col("ug1") + F.col("v"))
            )
            .cast("long")
            .alias("score6"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score6"), F.asc("dist"), F.asc("c1"), F.asc("c2")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.concat_ws(" ", "c1", "c2").alias("suggestion"),
            "dist",
            "score6",
        )
    )


def variable_width_histogram(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    values: DataFrame,
    n_buckets: int = 4,
    cell_parts: int = 4,
) -> DataFrame:
    """Variable-width histogram (Elasticsearch ``variable_width_histogram``,
    but DETERMINISTIC where ES runs an order-dependent streaming
    clusterer) -> (query_id, cluster, n_docs, vmin, vmax, mean6): cluster
    the matched docs' value into at most ``n_buckets`` buckets by
    LARGEST-GAP natural breaks — sort the distinct values, split at the
    ``n_buckets - 1`` widest gaps (ties: wider gap first, then lower
    boundary value), clusters are the contiguous runs between splits.
    Exact and order-independent, so the engine and the SQL twin agree
    bit-for-bit; fewer distinct values than buckets simply yield fewer
    clusters on both sides.

    Scale shape: the O(matches) value rows reduce through ONE map-side-
    combined groupBy; every window (gap lag, gap ranking, boundary
    cumsum) runs on the DISTINCT-value relation — facet-cardinality
    class, never match class. mean6 floors (sum*1e6)/count, one double
    division of the exact decimal(38) product (the SQL twin's HUGEINT)."""
    from pyspark.sql import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    w_ord = Window.partitionBy("query_id").orderBy(F.asc("val"))
    w_gap = Window.partitionBy("query_id").orderBy(
        F.desc("gap"), F.asc("val")
    )
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n = F.count("*")

    def build(matched: DataFrame) -> DataFrame:
        vals = matched.join(values.select("url", "val"), "url").select(
            "query_id", F.col("val").cast("long").alias("val")
        )
        dv = vals.distinct()
        bset = (
            dv.withColumn("gap", F.col("val") - F.lag("val").over(w_ord))
            .filter(F.col("gap").isNotNull())
            .withColumn("grank", F.row_number().over(w_gap))
            .filter(F.col("grank") <= n_buckets - 1)
            .select("query_id", "val", F.lit(1).alias("is_b"))
        )
        cids = (
            dv.join(bset, ["query_id", "val"], "left")
            .withColumn("b", F.coalesce(F.col("is_b"), F.lit(0)))
            .withColumn("cluster", (F.sum("b").over(w_run) + 1).cast("long"))
            .select("query_id", "val", "cluster")
        )
        return (
            vals.join(cids, ["query_id", "val"])
            .groupBy("query_id", "cluster")
            .agg(
                n.alias("n_docs"),
                F.min("val").alias("vmin"),
                F.max("val").alias("vmax"),
                # a decimal(38) sum: sum * 1e6 overflows a long once the
                # sum passes ~9.2e12, and is exact as the twin's HUGEINT
                F.floor(
                    (
                        F.sum(F.col("val").cast("decimal(38,0)"))
                        * F.lit(1000000)
                    ).cast("double")
                    / n.cast("double")
                )
                .cast("long")
                .alias("mean6"),
            )
        )

    return _matched_agg(
        spark, index_dir, cell_parts, queries,
        "query_id int, cluster long, n_docs long, vmin long, vmax long, "
        "mean6 long",
        build,
    )
