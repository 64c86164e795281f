"""Physical-plan property tests: partition pruning, predicate pushdown,
column pruning and broadcast joins must actually appear in the plans
(SURVEY.md §4.2 'free from Catalyst' items are asserted, not assumed)."""

import contextlib
import io
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def index_dir(spark, sf_unit_dir):
    from pageindex_spark import build_index

    idx = "/root/repo/data/index-plans-test"
    if not os.path.exists(os.path.join(idx, "meta.json")):
        docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
        build_index(
            spark, docs.select("url", "text"), idx,
            num_partitions=4, n_buckets=8, n_seg_chunks=1, n_bucket_chunks=1,
        )
    return idx


def test_bucket_partition_pruning(spark, index_dir):
    """Postings scan for a term filter must prune to the bucket directory
    (PartitionFilters on bucket) and push the term predicate to parquet."""
    runs = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
        (F.col("bucket") == 3) & (F.col("term") == "ba")
    )
    plan = _explain(runs)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[1].split("\n")[0]


def test_column_pruning_html_never_read(spark, sf_unit_dir):
    """A text-only projection must not deserialize the html binary column."""
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    q = docs.select("url", "text").filter(F.length("text") > 10)
    plan = _explain(q)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "html" not in read_schema
    assert "url" in read_schema and "text" in read_schema


def test_parts_for_runs_math():
    """Driver-side run-range -> build-partition mapping for the norms
    cogroup prune (the 100-TB switch in plans.query.search)."""
    import numpy as np

    from pageindex_spark.plans.query import _parts_for_runs

    grid = np.array([0, 100, 200, 300, 400, 500, 600, 700])  # 8 cells
    assert _parts_for_runs([(250, 280)], grid, 4, 32) == [8, 9, 10, 11]
    assert _parts_for_runs([(50, 150)], grid, 4, 32) == list(range(8))
    # runs covering most cells -> None (pruning useless, ship full norms)
    assert _parts_for_runs([(0, 699)], grid, 4, 32) is None
    # no runs -> empty part list (norms side empty; no slices either)
    assert _parts_for_runs([], grid, 4, 32) == []
    # last cell clamps to total_parts
    assert _parts_for_runs([(705, 710)], grid, 4, 30) == [28, 29]

    # build-partition granularity (cell_parts=1 over the partition grid):
    # the extracts prune of the full-match plans
    parts = np.array([0, 10, 20, 30, 40, 50, 60, 70])  # 8 partitions
    # a range crossing a partition boundary touches both partitions
    assert _parts_for_runs([(15, 25)], parts, 1, 8) == [1, 2]
    assert _parts_for_runs([(9, 10), (70, 70)], parts, 1, 8) == [0, 1, 7]
    # the last partition is open-ended
    assert _parts_for_runs([(75, 10_000)], parts, 1, 8) == [7]
    # no runs -> nothing to read
    assert _parts_for_runs([], parts, 1, 8) == []
    # half the partitions or more -> None (read them all)
    assert _parts_for_runs([(0, 35)], parts, 1, 8) is None


def test_multimodal_probe_never_reads_payload(spark, tmp_path):
    """VERDICT r3 next #6: probe_metadata must be a true metadata-only
    read — byte size comes from the meta struct, so the (potentially
    multi-MB per row) payload binary is absent from ReadSchema."""
    from pageindex_spark.operators.multimodal import probe_metadata, synth_media

    p = str(tmp_path / "media")
    synth_media(spark, 16).write.parquet(p)
    q = probe_metadata(spark.read.parquet(p))
    plan = _explain(q)
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "payload" not in read_schema
    assert "meta" in read_schema and "kind" in read_schema
    rows = {r["media_id"]: r["payload_bytes"] for r in q.collect()}
    assert rows and all(v == 128 for v in rows.values())  # sha256*4 payloads


def test_bm25_query_join_broadcasts_small_sides(spark, sf_unit_dir):
    """The relational BM25 plan must broadcast query terms + term stats
    (never shuffle postings by the query side)."""
    from pageindex_spark.operators.bm25 import bm25_topk_relational

    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    qdf = spark.createDataFrame([(1, "ba ce")], "query_id int, query_text string")
    plan = _explain(
        bm25_topk_relational(docs.select("url", "text"), qdf, k=10), mode="simple"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_whole_stage_codegen_on_tokenize(spark, sf_unit_dir):
    """Tokenization path stays inside whole-stage codegen (JVM, no Python)."""
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    from pageindex_spark.operators.postings import doc_stats

    plan = _explain(doc_stats(docs), mode="simple")
    # '*(n)' prefixes mark whole-stage-codegen'd operators in simple mode.
    assert "*(1)" in plan or "WholeStageCodegen" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fold_routing_broadcasts_heavy_set(spark):
    """VERDICT r2 #2: both fold branches must route via a BROADCAST of the
    small heavy-term set — never a SortMergeJoin keyed on bare term over
    blob-carrying rows (that re-melts the heavy-hitter skew the salted
    level-1 merge defused). Auto-broadcast is disabled so only the explicit
    broadcast() hint can produce the BroadcastHashJoins."""
    from pageindex_spark.operators.compaction import fold_light_runs

    rows = [
        ("ta", 0, 0, 1, 2, 4, b"\x01\x02", b"\x01\x01", [1], [1.0], [0, 2], [0, 2], [2]),
        ("ta", 1 << 16, 2, 3, 2, 4, b"\x02\x01", b"\x01\x01", [3], [1.0], [0, 2], [0, 2], [2]),
        ("zu", 0, 0, 0, 1, 2, b"\x00", b"\x01", [0], [1.0], [0, 1], [0, 1], [1]),
    ]
    schema = (
        "term string, run_id long, first_doc long, last_doc long, n_docs long, "
        "n_bytes long, doc_blob binary, tf_blob binary, bm_last array<long>, "
        "bm_maxq array<double>, bm_doc_off array<int>, bm_tf_off array<int>, "
        "bm_ndocs array<int>"
    )
    runs = spark.createDataFrame(rows, schema)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _explain(fold_light_runs(runs, target_run_bytes=4), mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_norms_and_postings_sizes_bounded(spark, index_dir):
    """Every compacted run stays under the target byte budget + slack
    (the invariant that bounds scoring-task memory at any corpus size)."""
    from pageindex_spark.operators.compaction import TARGET_RUN_BYTES

    runs = spark.read.parquet(os.path.join(index_dir, "postings"))
    over = runs.filter(
        F.length("doc_blob") + F.length("tf_blob") > 2 * TARGET_RUN_BYTES
    ).count()
    assert over == 0


def test_positions_scan_pruned_and_pushed(spark, index_dir):
    """The positional-sidecar phrase scan must prune to the query terms'
    bucket directories (PartitionFilters) and push the term predicate to
    parquet — same discipline as the postings scan; the blob column never
    loads for non-matching terms."""
    from pageindex_spark.plans.positions import (
        build_positions_sidecar,
        positions_dir,
    )
    from pageindex_spark.sources.tables import read_meta

    if "positions" not in read_meta(index_dir):
        build_positions_sidecar(spark, index_dir)
    pos = spark.read.parquet(positions_dir(index_dir)).filter(
        (F.col("bucket").isin([2, 5])) & (F.col("term").isin(["ba", "di"]))
    )
    plan = _explain(pos)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[1].split("\n")[0]


def _spy_dictionary_reads(monkeypatch) -> list[tuple[str, list, list]]:
    """Record every pyarrow read of the term dictionary from now on, as
    (file, columns, filters)."""
    import pyarrow.parquet as pq

    real, seen = pq.read_table, []

    def spy(path, *a, columns=None, filters=None, **kw):
        if f"{os.sep}term_stats{os.sep}" in str(path):
            seen.append((str(path), columns, filters))
        return real(path, *a, columns=columns, filters=filters, **kw)

    monkeypatch.setattr(pq, "read_table", spy)
    return seen


def _assert_range_read(index_dir, reads, ranges, tmp_path):
    """The expansion read every term_stats file for ``term`` only, under
    one filter keeping the terms in ``ranges`` ([lo, hi) pairs). Applied
    to a file of the same terms cut into many row groups, that filter
    loads exactly the row groups whose min/max overlap some range."""
    import glob

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    want = [[("term", ">=", lo), ("term", "<", hi)] for lo, hi in ranges]
    expansion = [r for r in reads if r[1] == ["term"]]
    files = sorted(glob.glob(os.path.join(index_dir, "term_stats", "*", "*.parquet")))
    assert sorted(f for f, _c, _f in expansion) == files
    assert all(f == want for _p, _c, f in expansion)
    # every other term_stats read is the idf lookup of the expanded terms
    assert all(c == ["term", "df"] and f[0][1] == "in" for _p, c, f in reads if c != ["term"])

    terms = pq.read_table(files[0], columns=["term"]).sort_by("term")
    many = str(tmp_path / "terms.parquet")
    pq.write_table(terms, many, row_group_size=64)
    meta = pq.ParquetFile(many).metadata
    overlap = [
        i
        for i in range(meta.num_row_groups)
        if any(
            meta.row_group(i).column(0).statistics.min < hi
            and meta.row_group(i).column(0).statistics.max >= lo
            for lo, hi in ranges
        )
    ]
    assert 0 < len(overlap) < meta.num_row_groups
    (frag,) = ds.dataset(many, format="parquet").get_fragments()
    kept = frag.split_by_row_group(pq.filters_to_expression(want))
    assert [g.id for f in kept for g in f.row_groups] == overlap


def test_prefix_expansion_scan_pushed_and_pruned(
    spark, index_dir, monkeypatch, tmp_path
):
    """The term-dictionary read behind 'term*' expansion is a driver-side
    pyarrow read of the ``term`` column only (df never loads; no postings
    blobs anywhere near) under each stem's [stem, stem⁺) range, so only
    the row groups overlapping a stem load."""
    from pageindex_spark import search_prefix

    reads = _spy_dictionary_reads(monkeypatch)
    search_prefix(spark, index_dir, [(1, "ba* qu*")], max_expansions=100_000)
    _assert_range_read(index_dir, reads, [("ba", "bb"), ("qu", "qv")], tmp_path)


def test_parse_prefix_query_contract():
    """'term*' parsing: stems split from literals, '-term' negations pass
    through as literals, multi-token stems are rejected loudly."""
    import pytest as _pytest

    from pageindex_spark.functions.tokenizer import parse_prefix_query

    assert parse_prefix_query("qu* dup -row ta*") == (["dup", "-row"], ["qu", "ta"])
    assert parse_prefix_query("plain words") == (["plain", "words"], [])
    assert parse_prefix_query("dup* dup*") == ([], ["dup"])
    with _pytest.raises(ValueError):
        parse_prefix_query("two-token*")


def test_parse_wildcard_query_contract():
    """'*'/'?'-anywhere parsing: patterns split from literals (lowercased),
    '-term' negations pass through as literals (never expanded),
    all-wildcard words drop as noise, non-token pattern chars are rejected
    loudly, and the regex/prefix helpers agree on the pattern language."""
    import pytest as _pytest

    from pageindex_spark.functions.tokenizer import (
        parse_wildcard_query,
        wildcard_prefix,
        wildcard_regex,
    )

    assert parse_wildcard_query("w*w dup -row S?A*") == (
        ["dup", "-row"],
        ["s?a*", "w*w"],
    )
    assert parse_wildcard_query("plain words") == (["plain", "words"], [])
    assert parse_wildcard_query("* ?? a*") == ([], ["a*"])
    with _pytest.raises(ValueError):
        parse_wildcard_query("bad-pat*")
    assert wildcard_regex("w*w") == "^w[a-z0-9]*w$"
    assert wildcard_regex("s?a*") == "^s[a-z0-9]a[a-z0-9]*$"
    assert wildcard_prefix("cust*er") == "cust"
    assert wildcard_prefix("?uery") == ""


def test_wildcard_literal_head_scan_pushed(spark, index_dir, monkeypatch, tmp_path):
    """When every wildcard pattern has a literal head, the expansion read
    (plans/query.py search_wildcard) is range-pruned on that head just
    like the prefix path — the regex merely verifies (leading-wildcard
    patterns are the only ones that read the whole ``term`` column)."""
    from pageindex_spark import search_wildcard

    reads = _spy_dictionary_reads(monkeypatch)
    search_wildcard(spark, index_dir, [(1, "ba*a")], max_expansions=100_000)
    _assert_range_read(index_dir, reads, [("ba", "bb")], tmp_path)


def test_invalid_regexp_raises_before_any_read(spark, index_dir, monkeypatch):
    """A regexp that does not compile raises ValueError naming the
    pattern, before the term dictionary is read."""
    from pageindex_spark import search_regexp

    reads = _spy_dictionary_reads(monkeypatch)
    with pytest.raises(ValueError, match=r"'ab\('"):
        search_regexp(spark, index_dir, [(1, "ba.*"), (2, "ab(")])
    assert reads == []


def _jobs_of(spark, group: str, call) -> list[int]:
    """Spark jobs launched while ``call`` runs under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_dictionary_surfaces_run_no_job(spark, index_dir):
    """The expansions and the term suggesters read the term dictionary on
    the driver and, on the local path, score and hand back without Spark:
    call + collect launch zero jobs."""
    import pageindex_spark.plans.query as Q

    calls = {
        "prefix": lambda: Q.search_prefix(spark, index_dir, [(1, "bab* di")]),
        "wildcard": lambda: Q.search_wildcard(spark, index_dir, [(1, "b?b*a")]),
        "fuzzy": lambda: Q.search_fuzzy(spark, index_dir, [(1, "babacefo")]),
        "regexp": lambda: Q.search_regexp(spark, index_dir, [(1, "bab[a-c].*")]),
        "suggest_terms": lambda: Q.suggest_terms(spark, index_dir, [(1, "ba")]),
        "suggest_spelling": lambda: Q.suggest_spelling(
            spark, index_dir, [(1, "babacefx")]
        ),
    }
    jobs = {}
    for name, call in calls.items():
        assert call().collect(), name  # warm, and not vacuous
        jobs[name] = _jobs_of(spark, f"dict-{name}", lambda: call().collect())
    assert jobs == {name: [] for name in calls}


def test_filter_urls_plans_extracts_without_inference(spark, index_dir):
    """``filter_urls`` resolves its urls through the extracts read with a
    fixed schema: a local-path search with a url filter runs the url
    lookup's one job and no parquet schema-inference job."""
    import pageindex_spark.plans.query as Q
    from pageindex_spark.session import local_df

    url = (
        spark.read.parquet(os.path.join(index_dir, "docs_extracted"))
        .select("url").first()["url"]
    )

    def call():
        allowed = local_df(spark, [(url,)], "url string")
        return Q.search(spark, index_dir, [(1, "ba di")], filter_urls=allowed).collect()

    call()
    # the url lookup's own jobs; a schema-inference job on the extracts
    # scan would make it three
    assert len(_jobs_of(spark, "filter-urls", call)) == 2


def test_hits_count_plan_reads_no_norms(spark, index_dir, monkeypatch):
    """The full-match count plan (plans/hits.py) must never read the norms
    (doc lengths don't matter to matching) and must keep the postings read
    bucket-pruned: the count's per-cell reader source holds only the
    query's bucket dirs and no norms files, and running its kernel on the
    driver never reads norms. Planning a facet count launches no Spark
    job: the match kernel, its prune list and the url join are planned
    from driver-side reads."""
    import pageindex_spark.plans.query as Q
    from pageindex_spark.functions.murmur3 import term_bucket
    from pageindex_spark.plans.hits import facet_counts, search_count

    real_fused = Q._score_fused
    fused = []

    def spy(spark_, src, cell_fn, schema):
        fused.append((src, cell_fn))
        return real_fused(spark_, src, cell_fn, schema)

    monkeypatch.setattr(Q, "_score_fused", spy)
    df = search_count(spark, index_dir, [(1, "ba di")])
    assert "norms" not in _explain(df)
    (n_hits,) = [r["n_hits"] for r in df.collect()]
    ((src, count_cell),) = fused
    n_buckets = Q.get_searcher(spark, index_dir).n_buckets
    buckets = sorted({term_bucket(t, n_buckets) for t in ("ba", "di")})
    assert src.bucket_dirs == [f"bucket={b}" for b in buckets]
    assert src.present == ["ba", "di"] and src.norms_files == []

    def no_norms(*a, **kw):
        raise AssertionError("the count kernel read norms")

    monkeypatch.setattr(Q, "_read_norms", no_norms)
    rows = Q._score_cells(src, 0, len(src.cell_grid) - 1, count_cell)
    assert int(rows["n"].sum()) == n_hits > 0

    ext = spark.read.parquet(os.path.join(index_dir, "docs_extracted"))
    facets = ext.select("url", F.substring(F.md5("url"), 1, 1).alias("facet"))
    sc = spark.sparkContext
    sc.setJobGroup("facet-plan", "facet-plan")
    try:
        facet_counts(spark, index_dir, [(1, "ba di"), (2, "ce")], facets)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert list(sc.statusTracker().getJobIdsForGroup("facet-plan")) == []


def test_fuzzy_negation_passes_through(spark, index_dir):
    """'-term' inside a fuzzy query stays an EXCLUSION (unexpanded): results
    must never contain the negated term — the naive tokenize would have
    silently flipped it into a positive fuzzy match."""
    from pageindex_spark import search_fuzzy
    from pageindex_spark.functions.tokenizer import tokenize

    out = search_fuzzy(
        spark, index_dir, [(1, "ba -ce")], k=20, with_text=True
    ).collect()
    assert out  # fuzzy 'ba' matches something
    for r in out:
        assert "ce" not in tokenize(r["text"])


@settings(max_examples=300, deadline=None)
@given(
    st.text("abc", max_size=7), st.text("abc", max_size=7), st.integers(-1, 3)
)
def test_within_edits_is_levenshtein(a, b, max_edits):
    """The fuzzy/spelling matcher (with its pigeonhole pre-filter and its
    early exit) returns the plain Levenshtein DP's distance when it is
    within ``max_edits``, and None otherwise."""
    from pageindex_spark.plans.query import _within_edits

    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    want = prev[-1] if prev[-1] <= max_edits else None
    assert _within_edits(a, b, max_edits) == want


def test_single_lineage_plans_no_duplicate_kernels(spark, index_dir):
    """Branched-DAG regression guards (the fork-recompute trap): the
    physical plans must contain EXACTLY the intended number of Python
    match-kernel executions — match_percentiles ONE (the n_docs total is
    a window over the value histogram, not a second kernel),
    significant_terms TWO with exactly one URL-joined (the second is the
    cheap O(cells) count shape: no extracts join on that branch), and
    hybrid_search_linear's min-max normalization must not re-execute the
    retrievers (one LocalTableScan for the BM25 side, one corpus scan for
    the cosine side). A match kernel is one MapInArrow stage (the per-cell
    reader over a range of cell ids)."""
    from pyspark.sql import Window

    from pageindex_spark.plans.hits import match_percentiles, significant_terms
    from pageindex_spark.plans.hybrid import hybrid_search_linear

    def tree(df) -> str:
        # operator tree only — the formatted detail section repeats every
        # node name, which would double-count instances
        return _explain(df).split("\n\n(1)")[0]

    qs = [(1, "ba di"), (2, "ce")]
    ext = spark.read.parquet(os.path.join(index_dir, "docs_extracted"))
    dim = ext.select("url", F.length("text").cast("double").alias("val"))

    plan = tree(match_percentiles(spark, index_dir, qs, dim))
    assert plan.count("MapInArrow") == 1

    # the sibling rank-selection aggs share the value-histogram head and
    # must stay single-kernel too: quartiles/median attach as WINDOW
    # expressions (boxplot), the MAD's second selection re-groups the
    # histogram (never the match set), and the t-test is one groupBy of
    # conditional sufficient statistics plus a driver-free select chain
    from pageindex_spark.plans.hits import match_boxplot, match_mad, match_t_test

    plan = tree(match_boxplot(spark, index_dir, qs, dim))
    assert plan.count("MapInArrow") == 1
    plan = tree(match_mad(spark, index_dir, qs, dim))
    assert plan.count("MapInArrow") == 1
    dim3 = ext.select(
        "url",
        F.length("text").cast("double").alias("val"),
        (F.length("text") % 2).cast("int").alias("grp"),
    )
    plan = tree(match_t_test(spark, index_dir, qs, dim3))
    assert plan.count("MapInArrow") == 1

    full = _explain(significant_terms(spark, index_dir, qs))
    assert full.split("\n\n(1)")[0].count("MapInArrow") == 2
    # exactly ONE scan reads the extracts TEXT (the count branch ships no
    # text — that's what makes the second kernel pass the cheap shape)
    text_scans = [
        ln for ln in full.splitlines()
        if "ReadSchema" in ln and "text:string" in ln
    ]
    assert len(text_scans) == 1, text_scans

    embs = ext.select(
        "url",
        F.array(
            F.length("text").cast("double") + F.lit(1.0),
            F.lit(2.0),
            (F.length("text") % 7).cast("double") + F.lit(1.0),
        ).alias("embedding"),
    )
    qv = embs.limit(2).select(
        F.row_number().over(Window.orderBy("url")).alias("query_id"),
        "embedding",
    )
    plan = tree(
        hybrid_search_linear(spark, index_dir, qs, qv, embs, k=5, depth=5)
    )
    # each retriever list must appear ONCE: the sparse list lands as a
    # single LocalTableScan (the driver-built hand-back), the dense cosine
    # pass as a single broadcast nested-loop join — the groupBy-rejoin
    # normalization this guards against duplicated both subtrees
    assert plan.count("LocalTableScan") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_filtered_ann_pushes_label_to_scan(spark):
    """The filtered-kNN composition must reach the parquet scan: the label
    predicate shows in PushedFilters (candidates restricted BEFORE any dot
    product — the ES knn `filter` semantics at scan level), and the
    broadcast of the small query side still plans."""
    from pageindex_spark.operators.similarity import cosine_topk_batch

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_batch(vecs.filter(F.col("label") == 3), queries, k=10)
    plan = _explain(out)
    pushed = [
        ln for ln in plan.split("\n") if "PushedFilters" in ln and "label" in ln
    ]
    assert pushed, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_random_score_dim_scan_column_pruned(spark, index_dir):
    """match_random_score derives its hash dimension from the committed
    extracts — the scan must read ONLY the url column (the score is a hash
    of the url; dragging text/doc_len through the join would ship the
    corpus)."""
    from pageindex_spark.plans.hits import match_random_score

    df = match_random_score(spark, index_dir, [(1, "ba")], "seed", k=5)
    plan = _explain(df)
    ext_schemas = [
        part.split("\n")[0]
        for part in plan.split("ReadSchema:")[1:]
        if "url" in part.split("\n")[0]
    ]
    assert ext_schemas, plan
    assert any(
        "text" not in rs and "doc_len" not in rs for rs in ext_schemas
    ), ext_schemas


def test_hll_register_reduction_partial_aggregated(spark, index_dir):
    """The HLL register groupBys must run with map-side partial aggregation
    (two-phase HashAggregate) — the property that makes the shuffle
    <= groups x m rows regardless of match-set size."""
    from pageindex_spark.plans.hits import index_vocab_hll

    df = index_vocab_hll(spark, index_dir)
    plan = _explain(df, mode="simple")
    # partial_max(rho) for the register max, partial count/sum for the
    # state fold: both phases of both aggs must appear.
    assert "partial_max" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan
