"""Physical-plan property tests: partition pruning, predicate pushdown,
column pruning and broadcast joins must actually appear in the plans
(SURVEY.md §4.2 'free from Catalyst' items are asserted, not assumed)."""

import contextlib
import io
import os

import pytest
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


def _engine_expansion_scan(monkeypatch, call):
    """Run ``call`` and return the term-dictionary scan DataFrame the
    engine's expansion front-end built for it (plans/query.py
    ``_expansion_scan``, the scan ``_expand_terms`` collects)."""
    import pageindex_spark.plans.query as Q

    real, seen = Q._expansion_scan, []

    def spy(*a, **kw):
        seen.append(real(*a, **kw))
        return seen[-1]

    monkeypatch.setattr(Q, "_expansion_scan", spy)
    call()
    assert len(seen) == 1
    return seen[0]


def test_prefix_expansion_scan_pushed_and_pruned(spark, index_dir, monkeypatch):
    """The term-dictionary scan behind 'term*' expansion must push
    StartsWith to parquet and column-prune to the term column (df never
    loads; no postings blobs anywhere near)."""
    from pageindex_spark import search_prefix

    ts = _engine_expansion_scan(
        monkeypatch,
        lambda: search_prefix(
            spark, index_dir, [(1, "ba* qu*")], max_expansions=100_000
        ),
    )
    plan = _explain(ts)
    assert "PushedFilters" in plan
    assert "StartsWith" in plan.split("PushedFilters")[1].split("\n")[0]
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "term" in read_schema and "df" not in read_schema


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


def test_wildcard_literal_head_scan_pushed(spark, index_dir, monkeypatch):
    """When every wildcard pattern has a literal head, the expansion scan
    (plans/query.py search_wildcard) must push StartsWith to parquet just
    like the prefix path — the rlike merely verifies (leading-wildcard
    patterns are the only ones that pay a full dictionary pass)."""
    from pageindex_spark import search_wildcard

    ts = _engine_expansion_scan(
        monkeypatch,
        lambda: search_wildcard(
            spark, index_dir, [(1, "ba*a")], max_expansions=100_000
        ),
    )
    plan = _explain(ts)
    assert "PushedFilters" in plan
    assert "StartsWith" in plan.split("PushedFilters")[1].split("\n")[0]
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "term" in read_schema and "df" not in read_schema


def test_hits_count_plan_reads_no_norms(spark, index_dir):
    """The full-match count plan (plans/hits.py) must never scan the norms
    relation (doc lengths don't matter to matching) and must keep the
    postings scan bucket-pruned — O(cells) shuffled rows is the contract."""
    from pageindex_spark.plans.hits import search_count

    df = search_count(spark, index_dir, [(1, "ba di")])
    plan = _explain(df)
    assert "norms" not in plan
    assert "PartitionFilters" in plan and "bucket" in plan


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


def test_single_lineage_plans_no_duplicate_kernels(spark, index_dir):
    """Branched-DAG regression guards (the fork-recompute trap): the
    physical plans must contain EXACTLY the intended number of Python
    match-kernel executions — match_percentiles ONE (the n_docs total is
    a window over the value histogram, not a second kernel),
    significant_terms TWO with exactly one URL-joined (the second is the
    cheap O(cells) count shape: no extracts join on that branch), and
    hybrid_search_linear's min-max normalization must not re-execute the
    retrievers (one FlatMapGroupsInPandas for the BM25 side, one corpus
    scan for the cosine side)."""
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
    assert plan.count("FlatMapGroupsInPandas") == 1

    # the sibling rank-selection aggs share the value-histogram head and
    # must stay single-kernel too: quartiles/median attach as WINDOW
    # expressions (boxplot), the MAD's second selection re-groups the
    # histogram (never the match set), and the t-test is one groupBy of
    # conditional sufficient statistics plus a driver-free select chain
    from pageindex_spark.plans.hits import match_boxplot, match_mad, match_t_test

    plan = tree(match_boxplot(spark, index_dir, qs, dim))
    assert plan.count("FlatMapGroupsInPandas") == 1
    plan = tree(match_mad(spark, index_dir, qs, dim))
    assert plan.count("FlatMapGroupsInPandas") == 1
    dim3 = ext.select(
        "url",
        F.length("text").cast("double").alias("val"),
        (F.length("text") % 2).cast("int").alias("grp"),
    )
    plan = tree(match_t_test(spark, index_dir, qs, dim3))
    assert plan.count("FlatMapGroupsInPandas") == 1

    full = _explain(significant_terms(spark, index_dir, qs))
    assert full.split("\n\n(1)")[0].count("FlatMapGroupsInPandas") == 2
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
    # single ExistingRDD scan, the dense cosine pass as a single
    # broadcast nested-loop join — the groupBy-rejoin normalization this
    # guards against duplicated both subtrees
    assert plan.count("Scan ExistingRDD") == 1
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
