"""Focused tests for the round-6 optimization internals (OPTIMIZATION_r06.md):

* the scan fan-out guard in ``driverq.register_views`` (scale-adaptive:
  fans out under-split layouts, leaves multi-file layouts alone, env
  override respected) and its result-identity, and its excludedRules
  merge;
* committed-extract footer counts == the grouped partition counts;
* the driver-local scoring path returns exactly what the fused
  distributed stage returns, under every pre-heap channel, and a
  distributed batch is one job of one stage;
* the driver-side rank fast path in ``_rank_and_lookup`` returns exactly
  what the Spark-window path returns (same rows, same ranks);
* the driver-side lookups raise on a broken index layout;
* driver-built frames are Arrow LocalRelations (``session.local_df``):
  their contract, the zero-job hand-back of a warm local-path query, and
  a source scan that keeps list-built ``createDataFrame`` calls out.
"""

import ast
import math
import os
import pathlib
import shutil

import pytest

from pageindex_spark.driverq import _scan_fanout, register_views
from pageindex_spark.plans.query import _hits_ddl


@pytest.fixture(scope="module")
def r06_index(spark, sf_unit_dir):
    from pageindex_spark import build_index

    out = "/root/repo/data/index-r06-opt"
    shutil.rmtree(out, ignore_errors=True)
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    build_index(
        spark,
        docs.select("url", "text"),
        out,
        num_partitions=8,
        n_buckets=8,
        n_seg_chunks=1,
        n_bucket_chunks=1,
    )
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_scan_fanout_guard(spark, sf_unit_dir, monkeypatch, tmp_path):
    single = os.path.join(sf_unit_dir, "documents.parquet")
    # single-file layout: fan out to 2x cores
    monkeypatch.delenv("SPARK_GRAFT_VIEW_FANOUT", raising=False)
    assert _scan_fanout(spark, single) == 2 * spark.sparkContext.defaultParallelism
    # many-file layout (>= cores): leave the scan alone
    many = tmp_path / "many"
    many.mkdir()
    for i in range(spark.sparkContext.defaultParallelism):
        (many / f"part-{i}.parquet").write_bytes(b"")
    assert _scan_fanout(spark, str(many)) == 0
    # env override wins
    monkeypatch.setenv("SPARK_GRAFT_VIEW_FANOUT", "7")
    assert _scan_fanout(spark, single) == 7
    monkeypatch.setenv("SPARK_GRAFT_VIEW_FANOUT", "0")
    assert _scan_fanout(spark, single) == 0


def test_fanout_identical_results(spark, monkeypatch):
    """The fan-out repartition must not change any query's rows — spot-check
    a float-sum-bearing query (bm25) and an aggregation both ways."""
    from pageindex_spark.driverq import paired_sql

    sf = "/root/testdata/sf0.001"
    p = paired_sql()
    rows = {}
    for fan in ("0", "16"):
        monkeypatch.setenv("SPARK_GRAFT_VIEW_FANOUT", fan)
        register_views(spark, sf)
        for name in ("bm25_topk", "dedup_exact"):
            got = sorted(tuple(r) for r in spark.sql(p[name][0]).collect())
            rows.setdefault(name, []).append(got)
    for name, (a, b) in rows.items():
        assert a == b, f"{name} rows differ between fan-out settings"


def test_register_views_merges_excluded_rules(spark, tmp_path):
    """register_views adds InferFiltersFromGenerate to the session's
    excludedRules without dropping a rule the caller excluded, and
    get_spark's merge keeps an extra_conf exclusion the same way."""
    from pageindex_spark.session import (
        EXCLUDED_RULES,
        INFER_FILTERS_FROM_GENERATE,
        with_excluded_rule,
    )

    other = "org.apache.spark.sql.catalyst.optimizer.CombineUnions"
    old = spark.conf.get(EXCLUDED_RULES, None)
    try:
        spark.conf.set(EXCLUDED_RULES, other)
        register_views(spark, str(tmp_path))  # empty dir: no tables
        rules = spark.conf.get(EXCLUDED_RULES).split(",")
        assert other in rules and INFER_FILTERS_FROM_GENERATE in rules
        register_views(spark, str(tmp_path))  # idempotent
        assert spark.conf.get(EXCLUDED_RULES).split(",") == rules
    finally:
        if old is None:
            spark.conf.unset(EXCLUDED_RULES)
        else:
            spark.conf.set(EXCLUDED_RULES, old)
    assert with_excluded_rule(None, "a") == "a"
    assert with_excluded_rule("b, a", "a") == "b,a"
    assert with_excluded_rule("b", "a") == "b,a"


def test_extract_footer_counts_match_grouped(spark, r06_index):
    from pageindex_spark.operators.docids import partition_counts
    from pageindex_spark.plans.build_index import IndexPaths, _extract_part_counts

    paths = IndexPaths(r06_index)
    ext = spark.read.parquet(paths.docs_extracted)
    assert _extract_part_counts(paths.docs_extracted) == partition_counts(ext)


def test_local_fast_path_equals_cogroup(spark, r06_index, monkeypatch):
    """The byte-guarded local scoring path must be row-identical to the
    fused distributed stage (one ``mapInArrow`` over a range of cell ids)
    across modes and under every pre-heap channel ('-term' negations,
    filter_urls, search_after cursors) and a k1/b override (both paths run
    the same per-cell reader and cell kernel closure; this pins the
    plumbing around it). A spy on ``_score_local`` proves which path ran.
    The multi-cell arm repeats the channels with ``cell_parts=1`` (8 cells,
    so every light-term run straddles 8 cells and each fused task scores
    several) and requires bit-equal scores, plus one ``raw_scored``
    consumer: ``search_collapse`` keyed by url is the dense fixed-point
    top-k, so its fused rows must equal the local path's."""
    from pyspark.sql import functions as F

    import pageindex_spark.plans.query as Q
    from pageindex_spark.sources.corpus import make_queries

    queries = make_queries()
    se = Q.get_searcher(spark, r06_index)
    half = (
        spark.read.parquet(se.paths.docs_extracted)
        .select("url")
        .filter(F.substring(F.md5("url"), 1, 1).isin(list("01234567")))
    )
    page1 = Q.search(spark, r06_index, queries, k=5, fixed_point=True).collect()
    cursors = {
        r["query_id"]: (math.floor(r["score"] * 1_000_000), r["url"])
        for r in page1
        if r["rank"] == 5
    }
    assert cursors
    neg = [(qid, f"{text} -ha") for qid, text in queries]
    cases = [
        (queries, dict(mode="bmw")),
        (queries, dict(mode="bmw", fixed_point=True)),
        (queries, dict(mode="dense")),
        (queries, dict(mode="conjunctive")),
        (queries, dict(mode="msm", min_match=2)),
        (queries, dict(mode="bmw", with_text=True)),
        (neg, dict(mode="bmw")),
        (neg, dict(mode="dense")),
        (queries, dict(mode="bmw", filter_urls=half)),
        (queries, dict(mode="dense", filter_urls=half)),
        (queries, dict(mode="bmw", fixed_point=True, search_after=cursors)),
        (queries, dict(mode="dense", fixed_point=True, search_after=cursors)),
        (queries, dict(mode="bmw", k1=0.9, b=0.4)),
        (queries, dict(mode="dense", k1=2.0, b=0.0)),
    ]
    real = Q._score_local
    local_calls = []

    def spy(*a, **kw):
        local_calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(Q, "_score_local", spy)
    multi_cell = [
        (queries, dict(mode="bmw")),
        (queries, dict(mode="dense")),
        (queries, dict(mode="conjunctive")),
        (queries, dict(mode="msm", min_match=2)),
        (neg, dict(mode="bmw")),
        (queries, dict(mode="dense", filter_urls=half)),
        (queries, dict(mode="bmw", fixed_point=True, search_after=cursors)),
        (queries, dict(mode="bmw", k1=0.9, b=0.4)),
    ]
    assert len(Q.get_searcher(spark, r06_index, cell_parts=1).cell_grid) == 8
    cases += [(qs, dict(kw, cell_parts=1)) for qs, kw in multi_cell]

    def bits(rows):  # (query_id, rank, url, score) with the score's bits
        return sorted(tuple(r)[:3] + (float(r[3]).hex(),) for r in rows)

    for qs, kw in cases:
        local_calls.clear()
        fast_df = Q.search(spark, r06_index, qs, k=10, **kw)
        fast = sorted(tuple(r) for r in fast_df.collect())
        assert local_calls, f"local path did not run for {kw}"
        local_calls.clear()
        with monkeypatch.context() as m:
            m.setattr(Q, "LOCAL_QUERY_MAX_BYTES", -1)  # fused distributed stage
            slow_df = Q.search(spark, r06_index, qs, k=10, **kw)
            slow = sorted(tuple(r) for r in slow_df.collect())
        assert not local_calls, f"distributed path not forced for {kw}"
        assert fast and fast == slow, f"fast path diverged for {kw}"
        assert fast_df.schema == slow_df.schema, f"schemas differ for {kw}"
        if "cell_parts" in kw:
            assert bits(fast) == bits(slow), kw

    # raw_scored consumers always run fused: collapsing by url keeps every
    # doc, so the rows are the local path's dense fixed-point top-k
    from pageindex_spark import search_collapse

    keys = spark.read.parquet(se.paths.docs_extracted).select(
        "url", F.col("url").alias("ckey")
    )
    local_calls.clear()
    dense = Q.search(
        spark, r06_index, queries, k=10, mode="dense", fixed_point=True,
        cell_parts=1,
    ).collect()
    assert local_calls
    local_calls.clear()
    collapsed = search_collapse(
        spark, r06_index, queries, keys, k=10, cell_parts=1, fixed_point=True
    ).select("query_id", "rank", "url", "score").collect()
    assert not local_calls
    assert dense and bits(dense) == bits(collapsed)


def test_fused_batch_is_one_stage(spark, r06_index, monkeypatch):
    """A distributed search batch is one Spark job of one stage: one task
    per contiguous range of cells, min(n_cells, defaultParallelism) of them,
    and no shuffle (each task reads and scores its own cells)."""
    import pageindex_spark.plans.query as Q
    from pageindex_spark.sources.corpus import make_queries

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    monkeypatch.setattr(Q, "LOCAL_QUERY_MAX_BYTES", -1)
    for cell_parts in (4, 1):
        n_cells = len(Q.get_searcher(spark, r06_index, cell_parts).cell_grid)
        group = f"fused-{cell_parts}"
        sc.setJobGroup(group, group)
        try:
            rows = Q.search(
                spark, r06_index, make_queries(), k=10, cell_parts=cell_parts
            ).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows
        # the status store is fed by the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) == 1, (cell_parts, jobs)
        stages = tracker.getJobInfo(jobs[0]).stageIds
        assert len(stages) == 1, (cell_parts, stages)
        assert tracker.getStageInfo(stages[0]).numTasks == min(
            n_cells, sc.defaultParallelism
        )


def test_hits_multi_cell_identity(spark, r06_index):
    """The full-match kernels return the same rows whatever the cell grid:
    ``cell_parts=1`` (8 cells, so light-term runs straddle cells and a task
    reads the pieces of runs that belong to other tasks' cells) against
    ``cell_parts=8`` (one cell). Counting a straddling piece outside its
    own cell would count its docs twice."""
    from pyspark.sql import functions as F

    from pageindex_spark.driverq import NDCG_DISC6
    from pageindex_spark.plans import hits as H
    from pageindex_spark.plans.query import get_searcher
    from pageindex_spark.sources.corpus import make_queries

    queries = make_queries()
    ext = spark.read.parquet(os.path.join(r06_index, "docs_extracted"))
    facets = ext.select("url", F.substring(F.md5("url"), 1, 1).alias("facet"))
    assert len(get_searcher(spark, r06_index, 1).cell_grid) == 8
    assert len(get_searcher(spark, r06_index, 8).cell_grid) == 1

    def rows(cell_parts):
        kw = dict(cell_parts=cell_parts)
        out = {
            "count": H.search_count(spark, r06_index, queries, **kw),
            "facets": H.facet_counts(spark, r06_index, queries, facets, **kw),
            "pairs": H.frequent_term_pairs(spark, r06_index, 50, 60, 5, **kw),
            "rank_eval": H.rank_eval(
                spark, r06_index, queries, NDCG_DISC6, k=10, **kw
            ),
        }
        return {name: sorted(tuple(r) for r in df.collect()) for name, df in out.items()}

    one_cell, eight_cells = rows(8), rows(1)
    for name, got in eight_cells.items():
        assert got and got == one_cell[name], name


def test_driver_rank_equals_window_rank(spark, r06_index, monkeypatch):
    """Force the Spark-window rank and compare to the default driver-side
    rank — byte-identical result rows. The slow arms also force the
    fused distributed stage (LOCAL_QUERY_MAX_BYTES=-1): the local fast path
    hands ``_rank_and_lookup`` plain rows, which always rank on the driver
    whatever DRIVER_RANK_MAX_ROWS says."""
    import pageindex_spark.plans.query as Q
    from pageindex_spark.sources.corpus import make_queries

    queries = make_queries()
    real = Q._rank_and_lookup
    window_calls = []

    def spy(se, scored, k, fixed_point, with_text, empty, **kw):
        bound = kw.get("max_candidate_rows")
        window_calls.append(
            not isinstance(scored, list)
            and (bound is None or bound > Q.DRIVER_RANK_MAX_ROWS)
        )
        return real(se, scored, k, fixed_point, with_text, empty, **kw)

    monkeypatch.setattr(Q, "_rank_and_lookup", spy)
    for fixed_point in (False, True):  # True: the floored rank key branch
        window_calls.clear()
        fast = sorted(
            tuple(r)
            for r in Q.search(
                spark, r06_index, queries, k=10, mode="bmw",
                fixed_point=fixed_point,
            ).collect()
        )
        assert window_calls == [False]
        with monkeypatch.context() as m:
            m.setattr(Q, "LOCAL_QUERY_MAX_BYTES", -1)  # fused distributed stage
            m.setattr(Q, "DRIVER_RANK_MAX_ROWS", 0)  # window rank
            window_calls.clear()
            slow = sorted(
                tuple(r)
                for r in Q.search(
                    spark, r06_index, queries, k=10, mode="bmw",
                    fixed_point=fixed_point,
                ).collect()
            )
            assert window_calls == [True]
        assert fast and fast == slow


def test_driver_lookups_raise_on_broken_layout(spark, r06_index, tmp_path):
    """The driver-side idf and url lookups have no silent second path: an
    index copy without term_stats/ raises instead of caching every term as
    absent and returning no rows, a winner whose docs_extracted
    partition is gone raises naming its (part_id, local_pos), and a
    streamed index missing a committed norms delta raises instead of
    scoring in Spark over the remaining deltas."""
    import pageindex_spark.plans.query as Q
    from pageindex_spark.sources.corpus import make_queries

    queries = make_queries()
    no_stats = str(tmp_path / "no_term_stats")
    shutil.copytree(r06_index, no_stats)
    shutil.rmtree(os.path.join(no_stats, "term_stats"))
    with pytest.raises(FileNotFoundError, match="term_stats"):
        Q.search(spark, no_stats, queries, k=10).collect()

    rows = Q.search(spark, r06_index, queries, k=10).collect()
    assert rows
    first = Q.get_searcher(spark, r06_index)
    no_part = str(tmp_path / "no_extract_part")
    shutil.copytree(r06_index, no_part)
    # drop the build partition holding the top winner of the first query
    url_part = {
        r["url"]: r["part_id"]
        for r in spark.read.parquet(first.paths.docs_extracted)
        .select("url", "part_id")
        .collect()
    }
    part = url_part[rows[0]["url"]]
    shutil.rmtree(os.path.join(no_part, "docs_extracted", f"part_id={part}"))
    with pytest.raises(ValueError, match=r"\(part_id, local_pos\)"):
        Q.search(spark, no_part, queries, k=10).collect()

    from pageindex_spark.sources.corpus import make_documents
    from pageindex_spark.sources.tables import read_meta
    from pageindex_spark.streaming.ingest import (
        refresh_streamed_index,
        segment_batch,
    )

    corpus = make_documents(150, seed=13)
    docs = list(zip(corpus.url, corpus.text))
    segs, state = str(tmp_path / "segs"), str(tmp_path / "state")
    streamed = str(tmp_path / "streamed")
    for g, (lo, hi) in enumerate([(0, 50), (50, 100), (100, 150)]):
        batch = spark.createDataFrame(docs[lo:hi], "url string, text string")
        segment_batch(batch, g, segs, state, num_partitions=4)
        if g != 0:  # full refresh of batches 0-1, then an incremental one
            refresh_streamed_index(spark, segs, state, streamed, n_buckets=8)
    deltas = read_meta(streamed)["streamed"]["deltas"]
    assert len(deltas) == 2
    assert Q.search(spark, streamed, queries, k=10).collect()
    shutil.rmtree(os.path.join(streamed, "norms", f"delta={deltas[-1]}"))
    os.utime(os.path.join(streamed, "meta.json"))  # a fresh Searcher
    with pytest.raises(FileNotFoundError, match=f"delta={deltas[-1]}"):
        Q.search(spark, streamed, queries, k=10).collect()


@pytest.mark.parametrize(
    "ddl, rows",
    [
        (
            _hits_ddl(False),
            [
                (1, 1, "https://ex.org/straße/日本", 3.25),
                (1, 2, None, None),
                (-(2**31), 2**31 - 1, "", -1e-300),
            ],
        ),
        (
            _hits_ddl(True),
            [(2, 1, "https://ex.org/çà", 0.5, "tëxt ☃"), (2, 2, "u", 0.0, None)],
        ),
        (_hits_ddl(False), []),
        (_hits_ddl(True), []),
        (
            "doc_id long, live boolean, payload binary",
            [
                (2**63 - 1, True, b"\x00\xff"),
                (-(2**63), False, b""),
                (None, None, None),
            ],
        ),
    ],
)
def test_local_df_contract(spark, ddl, rows):
    """``local_df`` keeps the DDL schema (names, types, nullability) and
    hands every row back exactly and in order."""
    from pyspark.sql.types import StructType

    from pageindex_spark.session import local_df

    df = local_df(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows


def test_local_df_naive_timestamps_are_local_time(spark, monkeypatch):
    """A naive datetime means the process's local time, as on the list
    path and in ``collect()``; Arrow alone would read it as UTC."""
    import datetime as dt
    import time

    from pageindex_spark.session import local_df

    naive = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [(1, naive), (2, naive.astimezone(dt.timezone.utc)), (3, None)]
        got = local_df(spark, rows, "q int, ts timestamp").collect()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert [tuple(r) for r in got] == [(1, naive), (2, naive), (3, None)]


def test_local_df_rejects_values_outside_their_type(spark):
    """A value its column cannot hold raises, as the list path's
    ``verifySchema`` verifier does, instead of being converted by Arrow."""
    from pageindex_spark.session import local_df

    with pytest.raises(ValueError):  # int32 overflow
        local_df(spark, [(2**31, 1, "u", 1.0)], _hits_ddl(False))
    with pytest.raises(TypeError):  # a float in a long column
        local_df(spark, [(1.5,)], "doc_id long")


def test_local_path_handback_runs_no_job(spark, r06_index):
    """A warm local-path query scores on the driver and hands its rows back
    as an Arrow LocalRelation, so search() + collect() launch no Spark job;
    neither does a query whose terms are all absent (the cached empty
    frame). A list-built frame would cost one job at collect."""
    import pageindex_spark.plans.query as Q
    from pageindex_spark.sources.corpus import make_queries

    sc = spark.sparkContext
    queries = make_queries()[:1]
    assert Q.search(spark, r06_index, queries, k=10).collect()  # warm
    jobs = {}
    for group, qs, hit in (
        ("handback", queries, True),
        ("handback-absent", [(7, "zzqxjvw qqzxvjk")], False),
    ):
        sc.setJobGroup(group, "local-path search + collect")
        try:
            rows = Q.search(spark, r06_index, qs, k=10).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert bool(rows) == hit
        jobs[group] = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs == {"handback": [], "handback-absent": []}


def test_driver_frames_built_only_by_local_df():
    """Every driver-built frame under pageindex_spark/ goes through
    ``session.local_df``: ``createDataFrame(list)`` is a parallelize RDD
    whose collect, or broadcast, is a Spark job. Only ``local_df`` itself
    and the ``synth_media`` test-fixture builder may call it."""
    root = pathlib.Path(__file__).resolve().parents[1] / "pageindex_spark"
    allowed = {
        ("session.py", "local_df"),
        ("operators/multimodal.py", "synth_media"),
    }

    class Calls(ast.NodeVisitor):
        def __init__(self):
            self.scope: list[str] = []
            self.found: list[tuple[str, int]] = []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "createDataFrame":
                top = self.scope[0] if self.scope else "<module>"
                self.found.append((top, node.lineno))
            self.generic_visit(node)

    stray = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        calls = Calls()
        calls.visit(ast.parse(path.read_text(), filename=str(path)))
        stray += [
            f"{rel}:{line} in {fn}"
            for fn, line in calls.found
            if (rel, fn) not in allowed
        ]
    assert not stray, f"build driver frames with session.local_df: {stray}"
