"""Focused tests for the round-6 optimization internals (OPTIMIZATION_r06.md):

* the scan fan-out guard in ``driverq.register_views`` (scale-adaptive:
  fans out under-split layouts, leaves multi-file layouts alone, env
  override respected) and its result-identity;
* committed-extract footer counts == the grouped partition counts;
* the driver-side rank fast path in ``_rank_and_lookup`` returns exactly
  what the Spark-window path returns (same rows, same ranks).
"""

import os
import shutil

import pytest

from pageindex_spark.driverq import _scan_fanout, register_views


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


def test_extract_footer_counts_match_grouped(spark, r06_index):
    from pageindex_spark.operators.docids import partition_counts
    from pageindex_spark.plans.build_index import IndexPaths, _extract_part_counts

    paths = IndexPaths(r06_index)
    ext = spark.read.parquet(paths.docs_extracted)
    assert _extract_part_counts(paths.docs_extracted) == partition_counts(ext)


def test_local_fast_path_equals_cogroup(spark, r06_index):
    """The byte-guarded local scoring path must be row-identical to the
    distributed cogroup across modes (it shares the mapper and the cell
    kernel closures; this pins the plumbing around them)."""
    import pageindex_spark.plans.query as Q
    from pageindex_spark.sources.corpus import make_queries

    queries = make_queries()
    cases = [
        dict(mode="bmw"),
        dict(mode="bmw", fixed_point=True),
        dict(mode="dense"),
        dict(mode="conjunctive"),
        dict(mode="msm", min_match=2),
        dict(mode="bmw", with_text=True),
    ]
    orig = Q.LOCAL_QUERY_MAX_BYTES
    for kw in cases:
        Q.LOCAL_QUERY_MAX_BYTES = orig  # local path (index is tiny)
        fast = sorted(
            tuple(r)
            for r in Q.search(spark, r06_index, queries, k=10, **kw).collect()
        )
        try:
            Q.LOCAL_QUERY_MAX_BYTES = -1  # force the distributed cogroup
            slow = sorted(
                tuple(r)
                for r in Q.search(
                    spark, r06_index, queries, k=10, **kw
                ).collect()
            )
        finally:
            Q.LOCAL_QUERY_MAX_BYTES = orig
        assert fast == slow, f"fast path diverged for {kw}"


def test_driver_rank_equals_window_rank(spark, r06_index, monkeypatch):
    """Force the Spark-window rank and compare to the default driver-side
    rank — byte-identical result rows. The slow arms also force the
    distributed cogroup (LOCAL_QUERY_MAX_BYTES=-1): the local fast path
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
            m.setattr(Q, "LOCAL_QUERY_MAX_BYTES", -1)  # distributed cogroup
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
    absent and returning no rows, and a winner whose docs_extracted
    partition is gone raises naming its (part_id, local_pos)."""
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
