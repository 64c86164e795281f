"""Full-engine end-to-end: build SPIMI index at sf-unit, query with BMW and
dense modes, assert rank identity + score parity vs the pure-Python oracle
(SURVEY.md §5.2(1)); resume test (§5.2(4))."""

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pageindex_spark import build_index, search
from pageindex_spark.oracle import bm25_topk
from pageindex_spark.plans.build_index import SimulatedKill
from pageindex_spark.plans.lineage import stage_metrics
from pageindex_spark.sources.corpus import make_queries

INDEX_DIR = "/root/repo/data/index-sf-unit"


@pytest.fixture(scope="module")
def built_index(spark, sf_unit_dir):
    shutil.rmtree(INDEX_DIR, ignore_errors=True)
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    build_index(
        spark,
        docs.select("url", "text"),
        INDEX_DIR,
        num_partitions=8,
        n_buckets=8,
        n_seg_chunks=2,
        n_bucket_chunks=2,
    )
    return INDEX_DIR


@pytest.fixture(scope="module")
def golden(sf_unit_dir):
    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    return bm25_topk(rows, make_queries(), k=10)


def _assert_matches_golden(got_rows, golden):
    assert len(got_rows) == len(golden)
    for g, (qid, rank, url, score) in zip(got_rows, golden):
        assert (g["query_id"], g["rank"], g["url"]) == (qid, rank, url), (
            g,
            (qid, rank, url, score),
        )
        assert abs(g["score"] - score) < 1e-9


def test_bmw_rank_identity(spark, built_index, golden):
    got = search(spark, built_index, make_queries(), k=10, mode="bmw").collect()
    _assert_matches_golden(got, golden)


def test_dense_rank_identity(spark, built_index, golden):
    got = search(spark, built_index, make_queries(), k=10, mode="dense").collect()
    _assert_matches_golden(got, golden)


def _fresh_searches(spark, index_dir, monkeypatch, **kw):
    """The fixture queries on a new Searcher, first scored locally, then in
    the fused Spark stage: yields (rows, searcher) for each path."""
    from pageindex_spark.plans import query as qmod

    default = qmod.LOCAL_QUERY_MAX_BYTES
    for local_max in (default, -1):
        monkeypatch.setattr(qmod, "LOCAL_QUERY_MAX_BYTES", local_max)
        se = qmod.Searcher(spark, index_dir)
        yield se.search(make_queries(), k=10, mode="bmw", **kw).collect(), se
    monkeypatch.setattr(qmod, "LOCAL_QUERY_MAX_BYTES", default)


def test_prune_norms_identity(spark, built_index, golden, monkeypatch):
    """prune_norms=True must be invisible in the results: full rank + score
    identity vs the oracle golden. On this parquet index the flag is a
    no-op: each scoring task reads only its own cells' norms rows with
    pyarrow, so neither the local nor the fused path builds the Spark
    norms relation. On Iceberg-stored postings it filters the norms
    cogroup side."""
    got = search(
        spark, built_index, make_queries(), k=10, mode="bmw", prune_norms=True
    ).collect()
    _assert_matches_golden(got, golden)
    for got, se in _fresh_searches(spark, built_index, monkeypatch, prune_norms=True):
        _assert_matches_golden(got, golden)
        assert "norms" not in vars(se)


def test_prune_norms_auto_identity(spark, built_index, golden, monkeypatch):
    """prune_norms=None (auto, the default) must be answer-identical on BOTH
    sides of the PRUNE_NORMS_AUTO_MIN_DOCS threshold — the heuristic picks a
    plan, never an answer (VERDICT r4 next #5) — and a parquet search on
    either path never builds the Spark norms relation."""
    from pageindex_spark.plans import query as qmod

    monkeypatch.setattr(qmod, "PRUNE_NORMS_AUTO_MIN_DOCS", 0)  # auto -> prune
    got = search(spark, built_index, make_queries(), k=10, mode="bmw").collect()
    _assert_matches_golden(got, golden)
    for got, se in _fresh_searches(spark, built_index, monkeypatch):
        _assert_matches_golden(got, golden)
        assert "norms" not in vars(se)
    monkeypatch.setattr(qmod, "PRUNE_NORMS_AUTO_MIN_DOCS", 1 << 60)  # auto -> full
    got = search(spark, built_index, make_queries(), k=10, mode="bmw").collect()
    _assert_matches_golden(got, golden)
    for got, se in _fresh_searches(spark, built_index, monkeypatch):
        _assert_matches_golden(got, golden)
        assert "norms" not in vars(se)


def test_search_after_cursor_paging(spark, built_index):
    """Cursor paging (search(search_after=)): page 2 via the page-1 rank-10
    row's (score6, url) cursor must equal the offset=10 page row-for-row
    (ranks page-relative) for BOTH kernels — the admission predicate is
    exact — and the contract errors raise (fixed_point required, offset
    mutually exclusive, unknown cursor url)."""
    import math

    qs = make_queries()
    page1 = search(
        spark, built_index, qs, k=10, mode="bmw", fixed_point=True
    ).collect()
    cursors = {
        int(r["query_id"]): (int(math.floor(r["score"] * 1_000_000)), r["url"])
        for r in page1
        if r["rank"] == 10
    }
    assert cursors, "fixture queries must fill a first page"
    qs2 = [(qid, t) for qid, t in qs if qid in cursors]
    want = search(
        spark, built_index, qs2, k=10, mode="bmw", fixed_point=True, offset=10
    ).collect()
    for mode in ("bmw", "dense"):
        got = search(
            spark, built_index, qs2, k=10, mode=mode, fixed_point=True,
            search_after=cursors,
        ).collect()
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert (g["query_id"], g["rank"] + 10, g["url"]) == (
                w["query_id"], w["rank"], w["url"],
            )
            assert abs(g["score"] - w["score"]) < 1e-9
    with pytest.raises(ValueError, match="fixed_point"):
        search(spark, built_index, qs2, k=10, search_after=cursors)
    with pytest.raises(ValueError, match="mutually exclusive"):
        search(
            spark, built_index, qs2, k=10, fixed_point=True, offset=5,
            search_after=cursors,
        )
    qid0 = qs2[0][0]
    bad = {qid0: (cursors[qid0][0], "url-that-never-existed")}
    with pytest.raises(ValueError, match="not in the index"):
        search(
            spark, built_index, qs2[:1], k=10, fixed_point=True,
            search_after=bad,
        )


def test_collapse_matches_python(spark, built_index, sf_unit_dir):
    """Field collapsing (search_collapse): the engine must equal a pure-
    Python collapse of the oracle's FULL score set — best doc per key by
    (floor(score*1e6) desc, docID asc), survivors re-ranked — with a key
    coarse enough (2 digits of the site number) that collapsing genuinely
    drops same-key docs; plus distinct-keys-per-query and the
    missing-from-dim drop rule."""
    import math

    from pageindex_spark import search_collapse
    from pageindex_spark.oracle.bm25 import OracleIndex

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)

    def ckey_of(url: str) -> str:
        return url.split("/")[2][4:6]  # 2 digits of siteNNNN -> ~collisions

    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url",
        F.substring(F.split(F.col("url"), "/").getItem(2), 5, 2).alias("ckey"),
    )
    want = []
    for qid, text in make_queries():
        best: dict[str, tuple] = {}
        for did, sc in oi.score_all(text).items():
            key = (math.floor(sc * 1_000_000), -did)
            ck = ckey_of(oi.urls[did])
            if ck not in best or key > best[ck][0]:
                best[ck] = (key, did, sc)
        ranked = sorted(best.values(), key=lambda t: (-t[0][0], t[1]))[:10]
        for rank, (_key, did, sc) in enumerate(ranked, 1):
            want.append((qid, rank, oi.urls[did], ckey_of(oi.urls[did]), sc))
    got = search_collapse(
        spark, built_index, make_queries(), dim, k=10, fixed_point=True
    ).collect()
    got_t = sorted(
        ((r["query_id"], r["rank"], r["url"], r["ckey"], r["score"]) for r in got),
        key=lambda t: (t[0], t[1]),
    )
    assert len(got_t) == len(want) > 0
    for g, w in zip(got_t, want):
        assert g[:4] == w[:4], (g, w)
        assert abs(g[4] - w[4]) < 1e-9
    per_q: dict[int, list[str]] = {}
    for g in got_t:
        per_q.setdefault(g[0], []).append(g[3])
    for cks in per_q.values():
        assert len(cks) == len(set(cks))  # at most one doc per key
    # the collapse must BITE: some query's plain top-10 repeats a key
    plain = search(
        spark, built_index, make_queries(), k=10, fixed_point=True
    ).collect()
    repeats = 0
    by_q: dict[int, list[str]] = {}
    for r in plain:
        by_q.setdefault(r["query_id"], []).append(ckey_of(r["url"]))
    repeats = sum(1 for cks in by_q.values() if len(set(cks)) < len(cks))
    assert repeats > 0, "fixture key too fine — collapse never fired"
    # docs absent from the dimension drop: a one-key dim yields <= 1 row
    one_key = got_t[0][3]
    got2 = search_collapse(
        spark, built_index, make_queries()[:1],
        dim.filter(F.col("ckey") == one_key), k=10, fixed_point=True,
    ).collect()
    assert len(got2) <= 1 and all(r["ckey"] == one_key for r in got2)


def test_synonyms_expansion_lockstep(spark, built_index):
    """Query-time synonyms: the engine must equal plain search on the
    SHARED expander's output (the lockstep contract), the expansion must
    genuinely change winners, '-term' negations stay literal, and
    non-token mapping entries raise."""
    from pageindex_spark import search_synonyms
    from pageindex_spark.functions.tokenizer import expand_synonyms

    base = make_queries()
    first_term = base[0][1].split()[0]
    syns = {first_term: ["rareterm0001"]}
    got = search_synonyms(
        spark, built_index, base, syns, k=10, fixed_point=True
    ).collect()
    expanded = [(qid, expand_synonyms(t, syns)) for qid, t in base]
    want = search(spark, built_index, expanded, k=10, fixed_point=True).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    plain = search(spark, built_index, base, k=10, fixed_point=True).collect()
    assert [tuple(r) for r in got] != [tuple(r) for r in plain], (
        "expansion never changed a winner — pick a synonym that bites"
    )
    # '-term' negations pass through UNexpanded: mapping the negated term
    # must not alter results (the exclusion stays literal).
    qneg = [(1, f"{base[0][1]} -rareterm0002")]
    a = search_synonyms(
        spark, built_index, qneg, {"rareterm0002": ["rareterm0003"]},
        k=10, fixed_point=True,
    ).collect()
    b = search(spark, built_index, qneg, k=10, fixed_point=True).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    with pytest.raises(ValueError, match="not a single token"):
        expand_synonyms("x", {"Bad Term": ["y"]})
    with pytest.raises(ValueError, match="not a single token"):
        expand_synonyms("x", {"good": ["two words"]})


def test_range_facets_matches_python(spark, built_index, sf_unit_dir):
    """Range aggregation: bucket counts must equal a brute-force Python
    bucketing of the oracle's match set, every interior bucket populated,
    out-of-range values dropped, bad boundaries raise."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import range_facets

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: float(len(t)) for u, t in rows}
    bounds = [0.0, 500.0, 1500.0, 1e9]
    want: dict[tuple[int, int], int] = {}
    for qid, text in make_queries():
        for did in oi.score_all(text):
            v = vals[oi.urls[did]]
            if not (bounds[0] <= v < bounds[-1]):
                continue
            b = sum(1 for x in bounds[1:-1] if v >= x)
            want[(qid, b)] = want.get((qid, b), 0) + 1
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select("url", F.length("text").cast("double").alias("val"))
    got = {
        (r["query_id"], r["bucket"]): r["n_docs"]
        for r in range_facets(
            spark, built_index, make_queries(), dim, bounds
        ).collect()
    }
    assert got == want and len({b for _q, b in got}) >= 2
    with pytest.raises(ValueError, match="ascending"):
        range_facets(spark, built_index, make_queries(), dim, [1.0, 1.0])


def test_rescore_phrase_matches_python(spark, built_index, sf_unit_dir):
    """Rescore window: the engine must equal a Python re-rank of the
    oracle's top-window (bonus for contiguous-phrase docs, floored order),
    the bonus must genuinely reorder someone, docs outside the window must
    never enter, and window < k raises."""
    import math

    from pageindex_spark import rescore_phrase
    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    toks = {u: tokenize(t) for u, t in rows}
    window, k, bonus6 = 25, 10, 500_000

    def has_phrase(u: str, terms: list[str]) -> bool:
        tk = toks[u]
        n = len(terms)
        return any(tk[i : i + n] == terms for i in range(len(tk) - n + 1))

    def python_rescore(text: str):
        terms = tokenize(text)
        scored = sorted(
            ((math.floor(sc * 1e6), did) for did, sc in oi.score_all(text).items()),
            key=lambda t: (-t[0], t[1]),
        )[:window]
        resc = sorted(
            (
                (s6 + (bonus6 if has_phrase(oi.urls[did], terms) else 0), s6, did)
                for s6, did in scored
            ),
            key=lambda t: (-t[0], t[2]),
        )[:k]
        reorders = [d for _r, _s, d in resc] != [d for _s, d in scored[:k]]
        return resc, reorders

    # Mine REAL corpus bigrams (deterministic: position 5 of each doc in
    # url order) until 3 provably reorder their own top-window — the test
    # then can't pass vacuously.
    queries: list[tuple[int, str]] = []
    for u, _t in sorted(rows):
        tk = toks[u]
        if len(tk) < 7:
            continue
        text = f"{tk[5]} {tk[6]}"
        if tk[5] == tk[6]:
            continue
        _resc, reorders = python_rescore(text)
        if reorders:
            queries.append((len(queries) + 1, text))
            if len(queries) == 3:
                break
    assert len(queries) == 3, "corpus yields no reordering bigrams"
    want = []
    for qid, text in queries:
        resc, _ = python_rescore(text)
        for rank, (r6, _s6, did) in enumerate(resc, 1):
            want.append((qid, rank, oi.urls[did], r6))
    got = rescore_phrase(
        spark, built_index, queries, k=k, window=window, bonus=0.5
    ).collect()
    got_t = sorted(
        ((r["query_id"], r["rank"], r["url"], r["rescore6"]) for r in got),
        key=lambda t: (t[0], t[1]),
    )
    assert got_t == want
    with pytest.raises(ValueError, match="window"):
        rescore_phrase(spark, built_index, queries, k=10, window=5)


def test_phrase_rank_identity(spark, built_index, sf_unit_dir):
    """Phrase search (round 5): conjunctive candidates + adjacency verify
    must reproduce the pure-Python phrase oracle rank- and score-exactly,
    including phrases that never occur (empty result, clean)."""
    from pageindex_spark.oracle import phrase_topk
    from pageindex_spark.plans.query import search_phrase

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    # phrases drawn from real data: the first two and middle two tokens of
    # doc 0 (guaranteed >= 1 match), plus a vocab bigram that may or may
    # not occur and a nonsense phrase (must be empty).
    t0 = rows[0][1].split()
    phrases = [
        (1, f"{t0[0]} {t0[1]}"),
        (2, f"{t0[len(t0) // 2]} {t0[len(t0) // 2 + 1]}"),
        (3, f"{t0[2]} {t0[0]}"),
        (4, "zzzabsent zzzmissing"),
    ]
    want = phrase_topk(rows, phrases, k=10)
    got = search_phrase(spark, built_index, phrases, k=10).collect()
    assert len(got) == len(want)
    for g, (qid, rank, url, score) in zip(
        sorted(got, key=lambda r: (r["query_id"], r["rank"])), want
    ):
        assert (g["query_id"], g["rank"], g["url"]) == (qid, rank, url)
        assert abs(g["score"] - score) < 1e-9
    assert not [r for r in got if r["query_id"] == 4]


def test_not_exclusion_rank_identity(spark, built_index, sf_unit_dir):
    """'-term' boolean NOT (round 5): engine bmw AND dense must reproduce
    the oracle with docs containing the negated term dropped post-scoring —
    excluded docs absent, survivor scores byte-identical to the plain
    query, deeper docs backfilling the freed ranks. Includes the 'x -x'
    self-negation edge (empty result set) because query 2's positive term
    IS the negated head-vocab term."""
    from pageindex_spark.functions.tokenizer import parse_query
    from pageindex_spark.sources.corpus import build_vocab

    # in-word hyphens are NOT negation; bare '-' is noise
    assert parse_query("well-known term") == ("well-known term", [])
    assert parse_query("data - -spark") == ("data", ["spark"])

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    neg = build_vocab()[1]  # head term: present in many docs
    base = make_queries()[:10]
    queries = [(qid, f"{text} -{neg}") for qid, text in base]
    golden = bm25_topk(rows, queries, k=10)
    plain = bm25_topk(rows, base, k=10)
    assert golden != plain  # the exclusion visibly changed rankings
    got = search(spark, built_index, queries, k=10, mode="bmw").collect()
    _assert_matches_golden(got, golden)
    got_d = search(spark, built_index, queries, k=10, mode="dense").collect()
    _assert_matches_golden(got_d, golden)
    # survivor scores equal the un-negated run's scores (exclusion never
    # rescales — stale-stats analogue of the delete mask)
    plain_scores = {(q, u): s for q, _, u, s in plain}
    for qid, _, url, score in golden:
        if (qid, url) in plain_scores:
            assert plain_scores[(qid, url)] == score


def test_filtered_search_rank_identity(spark, built_index, sf_unit_dir):
    """filter_urls (round 5): Lucene filter-context semantics — only docs
    in the allowed set may rank, their scores byte-identical to the
    unfiltered query's (the filter is a predicate, not a signal), deeper
    allowed docs backfilling the freed ranks. BMW and dense must both
    reproduce the post-filtered pure-Python oracle; the filter must
    compose with '-term' exclusions; an index-absent filter set yields
    zero rows."""
    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    allowed = {url for i, (url, _) in enumerate(rows) if i % 3 != 0}
    queries = make_queries()[:10]

    def post_filter(full, keep, k=10):
        out = []
        for qid in sorted({q for q, *_ in full}):
            hits = [
                (url, score)
                for q, _, url, score in full
                if q == qid and url in keep
            ]
            out.extend(
                (qid, r, url, score)
                for r, (url, score) in enumerate(hits[:k], start=1)
            )
        return out

    full = bm25_topk(rows, queries, k=len(rows))
    golden = post_filter(full, allowed)
    plain = bm25_topk(rows, queries, k=10)
    assert golden != plain  # the filter visibly changed rankings

    allowed_df = spark.createDataFrame(
        [(u,) for u in sorted(allowed)], "url string"
    )
    got = search(
        spark, built_index, queries, k=10, mode="bmw", filter_urls=allowed_df
    ).collect()
    _assert_matches_golden(got, golden)
    got_d = search(
        spark, built_index, queries, k=10, mode="dense", filter_urls=allowed_df
    ).collect()
    _assert_matches_golden(got_d, golden)

    # composes with '-term' boolean NOT: both masks apply pre-heap
    from pageindex_spark.sources.corpus import build_vocab

    neg = build_vocab()[1]
    queries_not = [(qid, f"{text} -{neg}") for qid, text in queries]
    golden_not = post_filter(bm25_topk(rows, queries_not, k=len(rows)), allowed)
    got_n = search(
        spark, built_index, queries_not, k=10, mode="bmw",
        filter_urls=allowed_df,
    ).collect()
    _assert_matches_golden(got_n, golden_not)

    # a filter whose urls the index never ingested admits nothing
    ghost = spark.createDataFrame([("no://such",)], "url string")
    assert (
        search(spark, built_index, queries, k=10, filter_urls=ghost).count()
        == 0
    )


def test_param_override_rank_identity(spark, built_index, sf_unit_dir, golden):
    """Query-time k1/b overrides (round 5): the SAME committed index (built
    at k1=1.2, b=0.75) must serve any (k1, b) in the proof domain exactly —
    BMW's build-time block-max bounds inflate by _param_bound_scale, so BMW
    and dense both reproduce the pure-Python oracle evaluated at the
    override; b=0 (infinite factor, absorbed by the ub <= weight cap) is
    exact too; the overrides visibly change rankings; out-of-domain
    parameters raise."""
    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    queries = make_queries()

    for k1, b in [(0.9, 0.4), (2.0, 1.0), (0.5, 0.0)]:
        want = bm25_topk(rows, queries, k=10, k1=k1, b=b)
        got = search(
            spark, built_index, queries, k=10, mode="bmw", k1=k1, b=b
        ).collect()
        _assert_matches_golden(got, want)
        got_d = search(
            spark, built_index, queries, k=10, mode="dense", k1=k1, b=b
        ).collect()
        _assert_matches_golden(got_d, want)

    # scores at a real override differ from the defaults (not a no-op)
    tuned = bm25_topk(rows, queries, k=10, k1=0.9, b=0.4)
    assert [s for *_, s in tuned] != [s for *_, s in golden]

    from pageindex_spark.plans.query import _param_bound_scale

    for bad_k1, bad_b in [(0.0, 0.75), (-1.0, 0.75), (1.2, -0.1), (1.2, 1.5)]:
        with pytest.raises(ValueError):
            _param_bound_scale(bad_k1, bad_b)
    # the factor is 1 at the index constants and >= 1 everywhere
    assert _param_bound_scale(1.2, 0.75) == 1.0
    assert _param_bound_scale(0.9, 0.4) >= 1.0


def test_suggest_terms_matches_python(spark, built_index, sf_unit_dir):
    """Autocomplete (round 5): per-prefix top terms by df desc / term asc
    from the term dictionary must equal a pure-Python recount over the
    corpus; an unmatched prefix yields zero rows."""
    from collections import Counter

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.plans.query import suggest_terms

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["text"]
    )
    df = Counter()
    for text in tbl["text"].to_pylist():
        df.update(set(tokenize(text)))
    prefixes = [(1, "s"), (2, "rareterm00"), (3, "zzznothing")]
    want = []
    for qid, p in prefixes:
        hits = sorted(
            ((t, n) for t, n in df.items() if t.startswith(p)),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        want.extend((qid, r, t, n) for r, (t, n) in enumerate(hits, start=1))
    got = sorted(
        (r["query_id"], r["rank"], r["term"], r["df"])
        for r in suggest_terms(spark, built_index, prefixes, k=10).collect()
    )
    assert got == sorted(want)
    assert not [r for r in got if r[0] == 3]


def test_wildcard_matches_python(spark, built_index, sf_unit_dir):
    """General wildcards (round 5): '*'/'?'-anywhere patterns expanded
    against the corpus vocabulary with the SAME anchored regex the engine
    ships must rank identically to a plain OR search over the expansion —
    Lucene WildcardQuery's scoring rewrite is exactly equivalent. Covers a
    leading-wildcard pattern (the full-dictionary-scan path), a mixed
    literal+pattern query, and a no-match pattern."""
    import re

    from pageindex_spark.functions.tokenizer import (
        tokenize,
        wildcard_regex,
    )
    from pageindex_spark.plans.query import search_wildcard

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    vocab = sorted({t for _, txt in rows for t in tokenize(txt)})
    seed = sorted(t for t in vocab if len(t) >= 5)[0]
    probes = [
        (1, f"{seed[:3]}*{seed[-1]}"),  # inner star, literal head
        (2, f"?{seed[1:]}"),  # leading wildcard -> full dictionary scan
        (3, f"{seed} zzz*q"),  # literal + no-match pattern
        (4, "zzz*q"),  # nothing at all
    ]
    want_queries = []
    for qid, text in probes:
        words = []
        for w in text.split():
            if "*" in w or "?" in w:
                rx = re.compile(wildcard_regex(w))
                words.extend(t for t in vocab if rx.match(t))
            else:
                words.append(w)
        if words:
            want_queries.append((qid, " ".join(words)))
    want = bm25_topk(rows, want_queries, k=10)
    got = search_wildcard(
        spark, built_index, probes, k=10, max_expansions=100_000
    ).collect()
    _assert_matches_golden(got, want)
    assert {r["query_id"] for r in got} >= {1, 2, 3}
    assert not [r for r in got if r["query_id"] == 4]
    from collections import Counter

    c = Counter("".join(vocab)).most_common(1)[0][0]  # letter in >= 2 terms
    with pytest.raises(ValueError):
        search_wildcard(spark, built_index, [(1, f"*{c}*")], max_expansions=1)


def test_hybrid_rrf_matches_python(spark, built_index, sf_unit_dir):
    """Hybrid RRF (round 5, plans/hybrid.py): the fused ranking must equal
    a pure-Python fusion of the engine's OWN two lists (independent check
    of the integer RRF math, the full-outer missing-doc rule, and the
    url-asc tie-break); a query with no vector keeps its sparse list, one
    with no text hits keeps its dense list; depth < k raises."""
    import numpy as np

    from pageindex_spark.operators.similarity import cosine_topk_batch
    from pageindex_spark.plans.hybrid import hybrid_search_rrf

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url"]
    )
    urls = sorted(tbl["url"].to_pylist())
    rng = np.random.default_rng(7)
    emb_rows = [(u, rng.standard_normal(16).astype(float).tolist()) for u in urls]
    embs = spark.createDataFrame(emb_rows, "url string, embedding array<double>")
    queries = make_queries()[:3] + [(9, "zzzabsentterm")]
    qv_rows = [
        (qid, rng.standard_normal(16).astype(float).tolist())
        for qid, _ in queries[:2]  # queries 3 and 9 get NO vector
    ] + [(9, rng.standard_normal(16).astype(float).tolist())]
    qvecs = spark.createDataFrame(qv_rows, "query_id int, embedding array<double>")

    depth, k_rrf, k = 15, 60, 10
    got = sorted(
        (r["query_id"], r["rank"], r["url"], r["rrf6"])
        for r in hybrid_search_rrf(
            spark, built_index, queries, qvecs, embs, k=k, depth=depth
        ).collect()
    )
    sparse = {
        (r["query_id"], r["url"]): r["rank"]
        for r in search(
            spark, built_index, queries, k=depth, fixed_point=True
        ).collect()
    }
    dense = {
        (r["query_id"], r["vec_id"]): r["rank"]
        for r in cosine_topk_batch(
            embs, qvecs, k=depth, key="url", exclude_self=False
        ).collect()
    }
    fused: dict[tuple[int, str], int] = {}
    for (qid, u), r in sparse.items():
        fused[(qid, u)] = fused.get((qid, u), 0) + 1_000_000 // (k_rrf + r)
    for (qid, u), r in dense.items():
        fused[(qid, u)] = fused.get((qid, u), 0) + 1_000_000 // (k_rrf + r)
    want = []
    for qid in sorted({q for q, _ in fused}):
        hits = sorted(
            ((u, s) for (q, u), s in fused.items() if q == qid),
            key=lambda x: (-x[1], x[0]),
        )[:k]
        want.extend((qid, r, u, s) for r, (u, s) in enumerate(hits, start=1))
    assert got == sorted(want)
    qids = {g[0] for g in got}
    assert 3 in qids  # sparse-only query still ranks
    assert 9 in qids  # dense-only query still ranks
    with pytest.raises(ValueError):
        hybrid_search_rrf(spark, built_index, queries, qvecs, embs, k=10, depth=5)


def test_more_like_this_matches_python(spark, built_index, sf_unit_dir):
    """More-like-this (round 5): the engine's seed-term selection
    (floor(tf*idf*1e6) desc, term asc) + OR search must equal a pure-Python
    re-derivation — seed excluded from its own ranking, survivor scores
    identical to a plain search over the same selected terms; an
    index-absent seed url contributes nothing."""
    import math
    from collections import Counter

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle import bm25_topk
    from pageindex_spark.plans.query import more_like_this

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    n_docs = len(rows)
    df = Counter()
    toks_by_url = {}
    for url, text in rows:
        toks = tokenize(text)
        toks_by_url[url] = toks
        df.update(set(toks))
    seeds = [(1, rows[7][0]), (2, rows[313][0]), (3, "no://such")]
    want = []
    for qid, seed in seeds:
        if seed not in toks_by_url:
            continue
        tf = Counter(toks_by_url[seed])
        keyed = sorted(
            (
                -math.floor(
                    n
                    * math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                    * 1_000_000
                ),
                t,
            )
            for t, n in tf.items()
        )
        sel = [t for _, t in keyed[:10]]
        full = bm25_topk(rows, [(qid, " ".join(sel))], k=n_docs)
        hits = [(u, s) for _, _, u, s in full if u != seed][:10]
        want.extend((qid, r, u, s) for r, (u, s) in enumerate(hits, start=1))
    got = more_like_this(
        spark, built_index, seeds, k=10, max_terms=10
    ).collect()
    got.sort(key=lambda r: (r["query_id"], r["rank"]))
    assert len(got) == len(want)
    for g, (qid, rank, url, score) in zip(got, want):
        assert (g["query_id"], g["rank"], g["url"]) == (qid, rank, url)
        assert abs(g["score"] - score) < 1e-9
    assert not [r for r in got if r["query_id"] == 3]


def test_snippets_match_python_reference(spark, built_index, sf_unit_dir):
    """Winner snippets (round 5): the 3-token context around the first
    query-term hit, computed JVM-side over the winners, must equal a
    straightforward Python re-derivation from the raw text — and ranks/
    scores must be the plain search's (snippet is a pure projection)."""
    from pageindex_spark import search_snippets
    from pageindex_spark.functions.tokenizer import tokenize

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    text_by_url = dict(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    queries = make_queries()[:6]
    got = search_snippets(spark, built_index, queries, k=5).collect()
    plain = search(spark, built_index, queries, k=5).collect()
    assert [(r["query_id"], r["rank"], r["url"], r["score"]) for r in got] == [
        (r["query_id"], r["rank"], r["url"], r["score"]) for r in plain
    ]
    qmap = dict(queries)
    for r in got:
        toks = tokenize(text_by_url[r["url"]])
        qts = set(tokenize(qmap[r["query_id"]]))
        i = next(j for j, t in enumerate(toks) if t in qts)  # 0-based hit
        want = " ".join(toks[max(0, i - 3) : min(len(toks), i + 4)])
        assert r["snippet"] == want, (r["query_id"], r["url"])


def test_phrase_adjacency_planted(spark, tmp_path):
    """Word ORDER matters: 'alpha beta' must match only docs where beta
    immediately follows alpha, not any doc containing both terms."""
    from pageindex_spark.plans.query import search_phrase

    docs = spark.createDataFrame(
        [
            ("d/1", "alpha beta gamma"),
            ("d/2", "beta alpha gamma"),
            ("d/3", "alpha gamma beta alpha beta"),
        ],
        "url string, text string",
    )
    idx = str(tmp_path / "phrase_idx")
    build_index(spark, docs, idx, num_partitions=2, n_buckets=2)
    got = search_phrase(spark, idx, [(1, "alpha beta")], k=10).collect()
    assert {r["url"] for r in got} == {"d/1", "d/3"}
    got2 = search_phrase(spark, idx, [(1, "gamma beta")], k=10).collect()
    assert {r["url"] for r in got2} == {"d/3"}


def test_conjunctive_and_semantics(spark, tmp_path):
    """mode='conjunctive' ranks only docs matching EVERY query term; a
    query containing a corpus-absent term matches nothing (AND semantics,
    not best-effort over the present terms)."""
    docs = spark.createDataFrame(
        [
            ("d/1", "alpha beta gamma"),
            ("d/2", "beta alpha gamma"),
            ("d/3", "alpha gamma"),
        ],
        "url string, text string",
    )
    idx = str(tmp_path / "conj_idx")
    build_index(spark, docs, idx, num_partitions=2, n_buckets=2)
    got = search(spark, idx, [(1, "alpha beta")], k=10, mode="conjunctive").collect()
    assert {r["url"] for r in got} == {"d/1", "d/2"}
    got2 = search(
        spark, idx, [(1, "alpha zzzabsent")], k=10, mode="conjunctive"
    ).collect()
    assert got2 == []


def test_compression_and_metrics(spark, built_index, golden):
    m = stage_metrics(spark, built_index)
    assert set(m) >= {"extract", "segments", "compact"}
    assert m["extract"]["docs"] >= 1000  # includes -1 completion marker row
    # compressed postings much smaller than 16B/posting raw
    runs = spark.read.parquet(os.path.join(built_index, "postings"))
    row = runs.agg(
        F.sum(F.length("doc_blob") + F.length("tf_blob")).alias("bytes"),
        F.sum("n_docs").alias("postings"),
    ).collect()[0]
    assert row["bytes"] < 6 * row["postings"], "compression ratio regressed"


def test_resume_after_kill(spark, sf_micro_dir):
    """Kill after segments chunk 0; resume must finish WITHOUT recomputing
    the committed extract/segments work, and produce an identical index.
    Runs at sf-micro (300 docs) — resume semantics are scale-free."""
    kill_dir = "/root/repo/data/index-resume-test"
    shutil.rmtree(kill_dir, ignore_errors=True)
    docs = spark.read.parquet(os.path.join(sf_micro_dir, "documents.parquet"))
    with pytest.raises(SimulatedKill):
        build_index(
            spark,
            docs.select("url", "text"),
            kill_dir,
            num_partitions=4,
            n_buckets=4,
            n_seg_chunks=2,
            n_bucket_chunks=2,
            stop_after=("segments", 0),
        )
    m1 = stage_metrics(spark, kill_dir)
    assert "compact" not in m1 and m1["segments"]["partitions"] == 1
    # resume: finishes the remaining chunks only
    build_index(
        spark,
        docs.select("url", "text"),
        kill_dir,
        num_partitions=4,
        n_buckets=4,
        n_seg_chunks=2,
        n_bucket_chunks=2,
    )
    m2 = stage_metrics(spark, kill_dir)
    # extract ran exactly once (same partition count as first attempt)
    assert m2["extract"]["partitions"] == m1["extract"]["partitions"]
    assert m2["segments"]["partitions"] == 2
    # identical results to the oracle on the micro corpus
    tbl = pq.read_table(
        os.path.join(sf_micro_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    golden_micro = bm25_topk(rows, make_queries(), k=10)
    got = search(spark, kill_dir, make_queries(), k=10, mode="bmw").collect()
    _assert_matches_golden(got, golden_micro)
    shutil.rmtree(kill_dir, ignore_errors=True)


def test_resume_after_kill_in_fold_stage(spark, sf_micro_dir):
    """Kill between the two fold chunks; resume must finish the remaining
    fold chunk only (compact untouched) and the folded index must still be
    oracle rank-identical."""
    kill_dir = "/root/repo/data/index-fold-resume-test"
    shutil.rmtree(kill_dir, ignore_errors=True)
    docs = spark.read.parquet(os.path.join(sf_micro_dir, "documents.parquet"))
    kwargs = dict(num_partitions=4, n_buckets=4, n_seg_chunks=2, n_bucket_chunks=2)
    with pytest.raises(SimulatedKill):
        build_index(
            spark, docs.select("url", "text"), kill_dir,
            stop_after=("fold", 0), **kwargs,
        )
    m1 = stage_metrics(spark, kill_dir)
    assert m1["compact"]["partitions"] == 2 and m1["fold"]["partitions"] == 1
    build_index(spark, docs.select("url", "text"), kill_dir, **kwargs)
    m2 = stage_metrics(spark, kill_dir)
    assert m2["compact"]["partitions"] == 2  # compact did NOT re-run
    assert m2["fold"]["partitions"] == 2
    tbl = pq.read_table(
        os.path.join(sf_micro_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    golden_micro = bm25_topk(rows, make_queries(), k=10)
    got = search(spark, kill_dir, make_queries(), k=10, mode="bmw").collect()
    _assert_matches_golden(got, golden_micro)
    shutil.rmtree(kill_dir, ignore_errors=True)


def test_extraction_byte_identity_through_build(spark, sf_micro_dir):
    """Build from the html column only (no text): the extract stage's output
    must be byte-identical to the ground-truth text for every url."""
    idx_dir = "/root/repo/data/index-extract-test"
    shutil.rmtree(idx_dir, ignore_errors=True)
    docs = spark.read.parquet(os.path.join(sf_micro_dir, "documents.parquet"))
    build_index(
        spark,
        docs.select("url", "html"),  # no text column -> extractor runs
        idx_dir,
        num_partitions=4,
        n_buckets=4,
        n_seg_chunks=1,
        n_bucket_chunks=1,
    )
    ext = spark.read.parquet(os.path.join(idx_dir, "docs_extracted"))
    truth = docs.select("url", F.col("text").alias("truth"))
    bad = ext.join(truth, "url").filter(F.col("text") != F.col("truth")).count()
    assert bad == 0
    shutil.rmtree(idx_dir, ignore_errors=True)


def test_match_stats_matches_python(spark, built_index, sf_unit_dir):
    """Metric aggregation: count / distinct-count / sum6 / min6 / max6 /
    avg6 over the oracle's match set must equal a brute-force Python pass
    (vals are integer-valued doubles, so every Spark sum is exact and the
    one floor-after-divide rounding is reproducible bit-for-bit)."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import match_stats

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: float(len(t)) for u, t in rows}
    want = {}
    for qid, text in make_queries():
        vs = [vals[oi.urls[did]] for did in oi.score_all(text)]
        if not vs:
            continue
        s = sum(vs)
        want[qid] = (
            len(vs),
            len(set(vs)),
            math.floor(s * 1_000_000),
            math.floor(min(vs) * 1_000_000),
            math.floor(max(vs) * 1_000_000),
            math.floor(s / len(vs) * 1_000_000),
        )
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select("url", F.length("text").cast("double").alias("val"))
    got = {
        r["query_id"]: (
            r["n_docs"], r["n_vals"], r["sum6"], r["min6"], r["max6"], r["avg6"]
        )
        for r in match_stats(spark, built_index, make_queries(), dim).collect()
    }
    assert got == want and len(want) >= 10


def test_significant_terms_matches_python(spark, built_index, sf_unit_dir):
    """Significant terms: per query the top-m corpus terms by lift over the
    oracle's match set — fg from distinct-per-doc tokens, bg from corpus
    df, own query terms excluded, min_fg floor, floored-double lift with
    term-asc ties. Engine must reproduce the Python ranking exactly and
    must never emit a query's own term."""
    import math

    from pageindex_spark.functions.tokenizer import parse_query, tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import significant_terms

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    doc_tokens = {u: set(tokenize(t)) for u, t in rows}
    m, min_fg = 5, 2
    want = []
    for qid, text in make_queries():
        pos, negs = parse_query(text)
        own = set(tokenize(pos)) | set(negs)
        matched = [oi.urls[did] for did in oi.score_all(text)]
        n_matched = len(matched)
        if not n_matched:
            continue
        fg = {}
        for u in matched:
            for t in doc_tokens[u]:
                fg[t] = fg.get(t, 0) + 1
        cand = []
        for t, f in fg.items():
            if t in own or f < min_fg:
                continue
            bg = len(oi.postings[t])
            lift6 = math.floor(
                1_000_000.0 * (float(f) * float(oi.n_docs))
                / (float(n_matched) * float(bg))
            )
            cand.append((-lift6, t, f, bg))
        for nl, t, f, bg in sorted(cand)[:m]:
            want.append((qid, t, f, bg, -nl))
    got = sorted(
        (r["query_id"], r["term"], r["fg"], r["bg"], r["lift6"])
        for r in significant_terms(
            spark, built_index, make_queries(), m=m, min_fg=min_fg
        ).collect()
    )
    assert got == sorted(want) and len(got) > 0
    own_all = {
        (qid, t)
        for qid, text in make_queries()
        for t in tokenize(parse_query(text)[0])
    }
    assert not own_all & {(q, t) for q, t, _f, _b, _l in got}


def test_function_score_matches_python(spark, built_index, sf_unit_dir):
    """Function score: BM25 x per-doc factor re-ranked exhaustively must
    equal the Python oracle's boosted order (quarter-step factors are
    exactly representable, so score*factor rounds identically), the boost
    must genuinely reorder someone, and docs missing from the dimension
    must drop (search_sorted_by's missing-value convention)."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_function_score

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    k = 10
    # sf-unit urls aren't numeric — key the quarter-step factor on the
    # url's position in sorted order (== docID order) instead.
    fmap = {u: 0.5 + (i % 8) * 0.25 for i, u in enumerate(oi.urls)}

    def factor(u: str) -> float:
        return fmap[u]

    want, reordered = [], False
    for qid, text in make_queries():
        scored = [
            (
                math.floor(sc * factor(oi.urls[did]) * 1_000_000),
                did,
                factor(oi.urls[did]),
                sc,
            )
            for did, sc in oi.score_all(text).items()
        ]
        boosted = sorted(scored, key=lambda t: (-t[0], t[1]))[:k]
        base = sorted(
            ((math.floor(sc * 1e6), did) for did, sc in oi.score_all(text).items()),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        if [d for _f, d, _fa, _s in boosted] != [d for _s, d in base]:
            reordered = True
        for rank, (f6, did, fa, _sc) in enumerate(boosted, 1):
            want.append((qid, rank, oi.urls[did], fa, f6))
    assert reordered, "factor never reordered a top-k — pick a wider spread"
    urls = [u for u, _t in rows]
    factors = spark.createDataFrame(
        [(u, factor(u)) for u in urls], "url string, factor double"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["url"], r["factor"], r["final6"])
        for r in search_function_score(
            spark, built_index, make_queries(), factors, k=k
        ).collect()
    )
    assert got == sorted(want)
    # Missing-doc drop: restrict the dimension to half the corpus — no
    # excluded url may appear, and survivors re-rank densely from 1.
    half = {u for i, u in enumerate(oi.urls) if i % 2 == 0}
    factors2 = spark.createDataFrame(
        [(u, factor(u)) for u in sorted(half)], "url string, factor double"
    )
    got2 = search_function_score(
        spark, built_index, make_queries(), factors2, k=k
    ).collect()
    assert got2 and all(r["url"] in half for r in got2)
    ranks = {}
    for r in got2:
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


def test_facet_stats_matches_python(spark, built_index, sf_unit_dir):
    """Bucketed stats: per (query, site-facet) count / distinct / sum6 /
    min6 / max6 / avg6 must equal a brute-force Python pass over the
    oracle's match set (integer-valued doubles keep every Spark sum
    exact); every query with matches must span >= 2 facet buckets so the
    grouping can't pass vacuously."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import facet_stats

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    site = {u: u.split("/")[2] for u, _t in rows}
    vals = {u: float(len(t)) for u, t in rows}
    want = {}
    for qid, text in make_queries():
        per: dict[str, list[float]] = {}
        for did in oi.score_all(text):
            u = oi.urls[did]
            per.setdefault(site[u], []).append(vals[u])
        for fac, vs in per.items():
            s = sum(vs)
            want[(qid, fac)] = (
                len(vs),
                len(set(vs)),
                math.floor(s * 1_000_000),
                math.floor(min(vs) * 1_000_000),
                math.floor(max(vs) * 1_000_000),
                math.floor(s / len(vs) * 1_000_000),
            )
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    fac = docs.select(
        "url", F.split(F.col("url"), "/").getItem(2).alias("facet")
    )
    dim = docs.select("url", F.length("text").cast("double").alias("val"))
    got = {
        (r["query_id"], r["facet"]): (
            r["n_docs"], r["n_vals"], r["sum6"], r["min6"], r["max6"], r["avg6"]
        )
        for r in facet_stats(
            spark, built_index, make_queries(), fac, dim
        ).collect()
    }
    assert got == want
    buckets: dict[int, int] = {}
    for qid, _fac in got:
        buckets[qid] = buckets.get(qid, 0) + 1
    assert buckets and max(buckets.values()) >= 2


def test_variable_width_histogram_large_values(spark, built_index, sf_unit_dir):
    """Values near 1e11: a cluster of 100 of them sums past 9.2e12, so
    sum(val) * 1e6 leaves the long range (ARITHMETIC_OVERFLOW under ANSI)
    while mean6 itself still fits its bigint column. mean6 comes from an
    exact decimal sum (the SQL twin's HUGEINT), and every cluster equals a
    Python pass over the oracle's match set (largest-gap breaks, gap desc
    then boundary value asc)."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import variable_width_histogram

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: 10**11 + 7919 * (i % 97) + len(t) for i, (u, t) in enumerate(rows)}
    n_buckets = 4
    want, top_sum = {}, 0
    for qid, text in make_queries():
        vs = [vals[oi.urls[did]] for did in oi.score_all(text)]
        dv = sorted(set(vs))
        gaps = sorted(
            ((b - a, b) for a, b in zip(dv, dv[1:])), key=lambda g: (-g[0], g[1])
        )
        breaks = {v for _gap, v in gaps[: n_buckets - 1]}
        per: dict[int, list[int]] = {}
        for v in vs:
            per.setdefault(1 + sum(b <= v for b in breaks), []).append(v)
        for cluster, xs in per.items():
            mean6 = math.floor(float(sum(xs) * 1_000_000) / float(len(xs)))
            want[(qid, cluster)] = (len(xs), min(xs), max(xs), mean6)
            top_sum = max(top_sum, sum(xs))
    assert top_sum * 1_000_000 > 2**63 - 1  # the parent's long product overflows
    values = spark.createDataFrame(list(vals.items()), "url string, val long")
    got = {
        (r["query_id"], r["cluster"]): (r["n_docs"], r["vmin"], r["vmax"], r["mean6"])
        for r in variable_width_histogram(
            spark, built_index, make_queries(), values, n_buckets=n_buckets
        ).collect()
    }
    assert got == want


def test_match_percentiles_matches_python(spark, built_index, sf_unit_dir):
    """Exact percentiles: pct6 must equal Python percentile_disc (sorted
    multiset, 1-based index ceil(pct*n/100)) over the oracle's match set
    for every requested percent, p100-less domain enforced, and bad
    percents raise."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import match_percentiles

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: float(len(t)) for u, t in rows}
    percents = [10, 50, 90, 100]
    want = {}
    for qid, text in make_queries():
        vs = sorted(vals[oi.urls[did]] for did in oi.score_all(text))
        if not vs:
            continue
        n = len(vs)
        for p in percents:
            idx = max(1, -(-p * n // 100))  # ceil without floats
            want[(qid, p)] = (n, math.floor(vs[idx - 1] * 1_000_000))
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select("url", F.length("text").cast("double").alias("val"))
    got = {
        (r["query_id"], r["pct"]): (r["n_docs"], r["pct6"])
        for r in match_percentiles(
            spark, built_index, make_queries(), dim, percents=percents
        ).collect()
    }
    assert got == want and len(want) >= 4 * 10
    # p100 must be the max, p10 <= p50 <= p90 <= p100 monotone.
    for qid in {q for q, _p in got}:
        seq = [got[(qid, p)][1] for p in percents]
        assert seq == sorted(seq)
    with pytest.raises(ValueError, match="percents"):
        match_percentiles(spark, built_index, make_queries(), dim, percents=[0])
    with pytest.raises(ValueError, match="percents"):
        match_percentiles(
            spark, built_index, make_queries(), dim, percents=[101]
        )


def test_boxplot_mad_ttest_match_python(spark, built_index, sf_unit_dir):
    """The three sibling metric aggs vs an independent pure-Python oracle
    (sorted-multiset disc selection / direct Welch arithmetic) — guards
    against a formula error shared by the engine and its SQL twins.
    Boxplot: quartiles + Tukey whiskers as the extreme in-fence values.
    MAD: disc-median of |v - median|. t-test: Welch t + df between the
    text-length-parity populations, degenerate groups -> NULL."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import match_boxplot, match_mad, match_t_test

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: float(len(t)) for u, t in rows}
    f6 = lambda x: None if x is None else math.floor(x * 1_000_000)  # noqa: E731

    def disc(vs, pct):
        return vs[max(1, -(-pct * len(vs) // 100)) - 1]

    want_box, want_mad, want_t = {}, {}, {}
    for qid, text in make_queries():
        vs = sorted(vals[oi.urls[did]] for did in oi.score_all(text))
        if not vs:
            continue
        n = len(vs)
        q1, q2, q3 = disc(vs, 25), disc(vs, 50), disc(vs, 75)
        lo_f, hi_f = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        want_box[qid] = (
            n, f6(vs[0]), f6(vs[-1]), f6(q1), f6(q2), f6(q3),
            f6(min(v for v in vs if v >= lo_f)),
            f6(max(v for v in vs if v <= hi_f)),
        )
        med = disc(vs, 50)
        want_mad[qid] = (n, f6(med), f6(disc(sorted(abs(v - med) for v in vs), 50)))
        a = [v for v in vs if v % 2 == 0.0]
        b = [v for v in vs if v % 2 != 0.0]
        na, nb = len(a), len(b)
        ma = sum(a) / na if na else None
        mb = sum(b) / nb if nb else None
        t6 = df6 = None
        if na > 1 and nb > 1:
            va = max(sum(v * v for v in a) / na - (sum(a) / na) * (sum(a) / na), 0.0) * na / (na - 1.0)
            vb = max(sum(v * v for v in b) / nb - (sum(b) / nb) * (sum(b) / nb), 0.0) * nb / (nb - 1.0)
            sea, seb = va / na, vb / nb
            se2 = sea + seb
            if math.sqrt(se2) != 0.0:
                t6 = f6((ma - mb) / math.sqrt(se2))
                df6 = f6(se2 * se2 / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)))
        want_t[qid] = (na, nb, f6(ma), f6(mb), t6, df6)

    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select("url", F.length("text").cast("double").alias("val"))
    got = {
        r["query_id"]: (
            r["n_docs"], r["min6"], r["max6"], r["q16"], r["q26"], r["q36"],
            r["lo6"], r["hi6"],
        )
        for r in match_boxplot(spark, built_index, make_queries(), dim).collect()
    }
    assert got == want_box and len(want_box) >= 10
    got = {
        r["query_id"]: (r["n_docs"], r["med6"], r["mad6"])
        for r in match_mad(spark, built_index, make_queries(), dim).collect()
    }
    assert got == want_mad
    dim3 = docs.select(
        "url",
        F.length("text").cast("double").alias("val"),
        (F.length("text") % 2).cast("int").alias("grp"),
    )
    got = {
        r["query_id"]: (
            r["n_a"], r["n_b"], r["mean_a6"], r["mean_b6"], r["t6"], r["df6"]
        )
        for r in match_t_test(spark, built_index, make_queries(), dim3).collect()
    }
    assert got == want_t
    # the fixture must actually exercise the non-degenerate branch
    assert any(t is not None for *_rest, t, _df in want_t.values())


def test_top_hits_matches_python(spark, built_index, sf_unit_dir):
    """Bucketed top hits: per (query, site-facet) the top-n docs by
    floored BM25 with docID-asc ties must equal a Python re-rank of the
    oracle's full score set; at least one bucket winner must be absent
    from the plain global top-n (the exhaustive-kernel justification —
    a truncated top-k provably could not serve it)."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import top_hits

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    site = {u: u.split("/")[2] for u, _t in rows}
    n = 3
    want, beyond_global = [], False
    for qid, text in make_queries():
        scored = sorted(
            ((math.floor(sc * 1e6), did) for did, sc in oi.score_all(text).items()),
            key=lambda t: (-t[0], t[1]),
        )
        global_top = {did for _s, did in scored[:n]}
        per: dict[str, list[tuple[int, int]]] = {}
        for s6, did in scored:
            per.setdefault(site[oi.urls[did]], []).append((s6, did))
        for fac, lst in per.items():
            for rank, (s6, did) in enumerate(lst[:n], 1):
                want.append((qid, fac, rank, oi.urls[did], s6))
                if did not in global_top:
                    beyond_global = True
    assert beyond_global, "every bucket winner sits in the global top-n"
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    fac = docs.select(
        "url", F.split(F.col("url"), "/").getItem(2).alias("facet")
    )
    got = sorted(
        (r["query_id"], r["facet"], r["rank"], r["url"], r["score6"])
        for r in top_hits(spark, built_index, make_queries(), fac, n=n).collect()
    )
    assert got == sorted(want)


def test_suggest_spelling_matches_python(spark, built_index, sf_unit_dir):
    """Did-you-mean: corpus-mined misspellings (one char mutated so the
    token leaves the vocabulary) must get exactly the Python-ranked
    one-edit corrections ((dist, df desc, term asc) — and the original
    term must appear among them); tokens the index KNOWS and hopeless
    garbage must both yield zero rows."""
    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import suggest_spelling

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vocab_df = {t: len(p) for t, p in oi.postings.items()}

    def ed1(a: str, b: str) -> bool:
        if abs(len(a) - len(b)) > 1:
            return False
        if len(a) > len(b):
            a, b = b, a
        if len(a) == len(b):
            return sum(x != y for x, y in zip(a, b)) <= 1
        for i in range(len(b)):
            if b[:i] + b[i + 1:] == a:
                return True
        return False

    # Mine misspellings deterministically: mutate char 1 of frequent
    # corpus terms to 'q' until 3 leave the vocabulary.
    base = sorted(vocab_df, key=lambda t: (-vocab_df[t], t))
    typos = []
    for t in base:
        if len(t) < 4:
            continue
        bad = t[0] + "q" + t[2:]
        if bad != t and bad not in vocab_df and tokenize(bad) == [bad]:
            typos.append((bad, t))
            if len(typos) == 3:
                break
    assert len(typos) == 3
    queries = [(i + 1, bad) for i, (bad, _t) in enumerate(typos)]
    want = []
    for qid, (bad, _t) in zip((1, 2, 3), typos):
        cand = sorted(
            (
                (1, -vocab_df[v], v)
                for v in vocab_df
                if ed1(bad, v)
            )
        )[:3]
        for rank, (dist, ndf, v) in enumerate(cand, 1):
            want.append((qid, bad, rank, v, dist, -ndf))
    got = sorted(
        (r["query_id"], r["token"], r["rank"], r["suggestion"], r["dist"], r["df"])
        for r in suggest_spelling(
            spark, built_index, queries, s=3, max_edits=1
        ).collect()
    )
    assert got == sorted(want) and len(got) > 0
    # Every mined typo's ORIGINAL term must be among its suggestions.
    sugg = {(q, t): set() for q, t, *_ in got}
    for q, t, _r, v, _d, _f in got:
        sugg[(q, t)].add(v)
    for qid, (bad, orig) in zip((1, 2, 3), typos):
        assert orig in sugg[(qid, bad)]
    # suggest_mode=missing: a known token and garbage both yield nothing.
    assert (
        suggest_spelling(
            spark, built_index, [(1, base[0]), (2, "zzzzqqqqzz")], s=3
        ).count()
        == 0
    )


def test_hybrid_linear_matches_python(spark, built_index, sf_unit_dir):
    """Linear fusion: engine ranks must equal a pure-Python min-max fusion
    (int64 normalization and combination after the two floored retriever
    scores) over deterministic synthetic embeddings; the k=depth=1 call
    exercises the single-value-list mx==mn -> 1e6 pin on both sides; bad
    depth/weight raise."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hybrid import hybrid_search_linear

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    dim = 4

    def vec(i: int) -> list[float]:
        return [float((i * p) % m + 1) for p, m in ((3, 7), (5, 11), (7, 13), (11, 17))][:dim]

    embs = [(u, vec(i)) for i, u in enumerate(oi.urls)]
    qs = make_queries()[:5]
    qvec = {qid: vec(1000 + qid * 37) for qid, _t in qs}

    def cos6(a: list[float], b: list[float]) -> int:
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return math.floor(dot / (na * nb) * 1_000_000)

    def fuse(k: int, depth: int, pct: int):
        out = []
        emap = dict(embs)
        for qid, text in qs:
            sp = sorted(
                (
                    (math.floor(sc * 1e6), oi.urls[did])
                    for did, sc in oi.score_all(text).items()
                ),
                key=lambda t: (-t[0], t[1]),
            )[:depth]
            dn = sorted(
                ((cos6(qvec[qid], v), u) for u, v in emap.items()),
                key=lambda t: (-t[0], t[1]),
            )[:depth]

            def norm(lst):
                if not lst:
                    return {}
                vals = [s for s, _u in lst]
                mn, mx = min(vals), max(vals)
                if mx == mn:
                    return {u: 1_000_000 for _s, u in lst}
                return {u: ((s - mn) * 1_000_000) // (mx - mn) for s, u in lst}

            sn, dnn = norm(sp), norm(dn)
            fusedd = {
                u: (pct * sn.get(u, 0) + (100 - pct) * dnn.get(u, 0)) // 100
                for u in set(sn) | set(dnn)
            }
            ranked = sorted(fusedd.items(), key=lambda t: (-t[1], t[0]))[:k]
            for rank, (u, l6) in enumerate(ranked, 1):
                out.append((qid, rank, u, l6))
        return out

    edf = spark.createDataFrame(embs, "url string, embedding array<double>")
    qdf = spark.createDataFrame(
        [(qid, qvec[qid]) for qid, _t in qs],
        "query_id int, embedding array<double>",
    )
    for k, depth, pct in ((10, 30, 70), (1, 1, 40)):
        got = sorted(
            (r["query_id"], r["rank"], r["url"], r["lin6"])
            for r in hybrid_search_linear(
                spark, built_index, qs, qdf, edf, k=k, depth=depth,
                weight_pct=pct,
            ).collect()
        )
        assert got == sorted(fuse(k, depth, pct)) and len(got) > 0
    with pytest.raises(ValueError, match="depth"):
        hybrid_search_linear(spark, built_index, qs, qdf, edf, k=10, depth=5)
    with pytest.raises(ValueError, match="weight_pct"):
        hybrid_search_linear(
            spark, built_index, qs, qdf, edf, k=1, depth=1, weight_pct=101
        )


def test_search_regexp_matches_python(spark, built_index, sf_unit_dir):
    """Regexp queries: the engine must equal plain search on the Python
    re.fullmatch expansion of each pattern over the corpus vocabulary
    (the lockstep contract — same anchored-full-match semantics), with a
    class pattern proven to match MULTIPLE terms, a no-match pattern
    yielding zero rows, and the expansion-cap raise."""
    import re

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_regexp

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vocab = sorted(oi.postings)
    # Deterministic multi-term pattern: the 4-char prefix shared by the
    # most vocabulary terms, as prefix[a-z]* — plus alternation and a
    # no-match class.
    from collections import Counter

    pref, _n = Counter(t[:4] for t in vocab if len(t) >= 5).most_common(1)[0]
    pats = [(1, f"{pref}[a-z]*"), (2, "zzzq[0-9]+x")]
    exp = {p: sorted(t for t in vocab if re.fullmatch(f"(?:{p})", t)) for _q, p in pats}
    assert len(exp[pats[0][1]]) >= 2, "prefix-class pattern must multi-match"
    assert not exp[pats[1][1]]
    got = search_regexp(
        spark, built_index, pats, k=10, fixed_point=True
    ).collect()
    want = search(
        spark,
        built_index,
        [(1, " ".join(exp[pats[0][1]]))],
        k=10,
        fixed_point=True,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert not [r for r in got if r["query_id"] == 2]
    with pytest.raises(ValueError, match="max_expansions"):
        search_regexp(
            spark, built_index, [(1, "[a-z]+")], k=10, max_expansions=5
        )


def test_percentile_ranks_matches_python(spark, built_index, sf_unit_dir):
    """Inverse percentiles: rank6 must equal the pure-int Python
    (cnt_le * 1e8) // n over the oracle's match set at every threshold,
    including a below-floor threshold that still emits rank6 = 0 and an
    above-ceiling one pinned at exactly 1e8; empty thresholds raise."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import match_percentile_ranks

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: float(len(t)) for u, t in rows}
    lo = int(min(vals.values())) - 1
    hi = int(max(vals.values())) + 1
    ats = [lo, 500, hi]
    want = {}
    for qid, text in make_queries():
        vs = [vals[oi.urls[did]] for did in oi.score_all(text)]
        if not vs:
            continue
        n = len(vs)
        for a in ats:
            cnt = sum(1 for v in vs if v <= a)
            want[(qid, a)] = (n, (cnt * 100_000_000) // n)
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select("url", F.length("text").cast("double").alias("val"))
    got = {
        (r["query_id"], r["at"]): (r["n_docs"], r["rank6"])
        for r in match_percentile_ranks(
            spark, built_index, make_queries(), dim, at_values=ats
        ).collect()
    }
    assert got == want and len(want) >= 3 * 10
    for qid in {q for q, _a in got}:
        assert got[(qid, lo)][1] == 0
        assert got[(qid, hi)][1] == 100_000_000
    with pytest.raises(ValueError, match="at_values"):
        match_percentile_ranks(
            spark, built_index, make_queries(), dim, at_values=[]
        )


def test_significant_terms_sampler_matches_python(spark, built_index, sf_unit_dir):
    """Sampler aggregation: significant_terms over the deterministic
    md5-prefix doc sample must equal the Python oracle with the same
    hashlib filter — fg/n_matched in-sample, bg/n_docs corpus-wide — the
    sample must genuinely shrink the match set AND change at least one
    lift, and bad hex raises."""
    import hashlib
    import math

    from pageindex_spark.functions.tokenizer import parse_query, tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import significant_terms

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    doc_tokens = {u: set(tokenize(t)) for u, t in rows}
    hexd = "01234567"  # 8/16 sample

    def in_sample(u: str) -> bool:
        return hashlib.md5(u.encode()).hexdigest()[0] in hexd

    m, min_fg = 5, 2

    def python_sig(sampled: bool):
        out = []
        for qid, text in make_queries():
            pos, negs = parse_query(text)
            own = set(tokenize(pos)) | set(negs)
            matched = [oi.urls[d] for d in oi.score_all(text)]
            if sampled:
                matched = [u for u in matched if in_sample(u)]
            if not matched:
                continue
            fg: dict[str, int] = {}
            for u in matched:
                for t in doc_tokens[u]:
                    fg[t] = fg.get(t, 0) + 1
            cand = []
            for t, f in fg.items():
                if t in own or f < min_fg:
                    continue
                bg = len(oi.postings[t])
                lift6 = math.floor(
                    1_000_000.0 * (float(f) * float(oi.n_docs))
                    / (float(len(matched)) * float(bg))
                )
                cand.append((-lift6, t, f, bg))
            for nl, t, f, bg in sorted(cand)[:m]:
                out.append((qid, t, f, bg, -nl))
        return sorted(out)

    want = python_sig(sampled=True)
    got = sorted(
        (r["query_id"], r["term"], r["fg"], r["bg"], r["lift6"])
        for r in significant_terms(
            spark, built_index, make_queries(), m=m, min_fg=min_fg,
            sample_hex=hexd,
        ).collect()
    )
    assert got == want and len(got) > 0
    full = python_sig(sampled=False)
    assert got != full, "the sample never changed a lift — widen the corpus"
    with pytest.raises(ValueError, match="sample_hex"):
        significant_terms(
            spark, built_index, make_queries(), sample_hex="xyz"
        )


def test_search_sorted_after_pages_exactly(spark, built_index, sf_unit_dir):
    """Cursor paging on a field sort: page 2 via the page-1 rank-10
    (sort_key, url) cursor must equal rows 11..20 of the full Python
    sorted order with page-relative ranks; a query id WITHOUT a cursor
    entry pages from the top (ES missing-search_after semantics)."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import search_sorted_by

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: len(t) for u, t in rows}
    qs = make_queries()[:5]
    order = {}
    for qid, text in qs:
        order[qid] = sorted(
            ((vals[oi.urls[d]], oi.urls[d]) for d in oi.score_all(text)),
            key=lambda t: (-t[0], t[1]),
        )
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url", F.length("text").cast("bigint").alias("sort_key")
    )
    cursors = {
        qid: (order[qid][9][0], order[qid][9][1])
        for qid, _t in qs
        if len(order[qid]) >= 10
    }
    assert cursors
    # Drop one query's cursor — it must page from the top.
    free_qid = sorted(cursors)[0]
    del cursors[free_qid]
    got = search_sorted_by(
        spark, built_index, qs, dim, k=10, search_after=cursors
    ).collect()
    want = []
    for qid, _t in qs:
        base = 0 if qid not in cursors else 10
        for rank, (sk, u) in enumerate(order[qid][base : base + 10], 1):
            want.append((qid, rank, u, sk))
    got_t = sorted(
        (r["query_id"], r["rank"], r["url"], r["sort_key"]) for r in got
    )
    assert got_t == sorted(want) and len(got_t) > 0


def test_facet_top_other_matches_python(spark, built_index, sf_unit_dir):
    """Terms-agg size: the top-n site buckets keep their names, the tail
    folds into ONE '__other__' row whose count equals the exact remainder
    (totals conserved vs the unbounded aggregation); top_n < 1 raises."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import facet_counts

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    site = {u: u.split("/")[2] for u, _t in rows}
    top_n = 3
    want = {}
    for qid, text in make_queries():
        per: dict[str, int] = {}
        for d in oi.score_all(text):
            fac = site[oi.urls[d]]
            per[fac] = per.get(fac, 0) + 1
        ranked = sorted(per.items(), key=lambda t: (-t[1], t[0]))
        for fac, n in ranked[:top_n]:
            want[(qid, fac)] = n
        other = sum(n for _f, n in ranked[top_n:])
        if other:
            want[(qid, "__other__")] = other
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url", F.split(F.col("url"), "/").getItem(2).alias("facet")
    )
    got = {
        (r["query_id"], r["facet"]): r["n_docs"]
        for r in facet_counts(
            spark, built_index, make_queries(), dim, top_n=top_n
        ).collect()
    }
    assert got == want
    assert any(f == "__other__" for _q, f in got), "tail never folded"
    # totals conserved vs the unbounded aggregation
    full = facet_counts(spark, built_index, make_queries(), dim).collect()
    tot_full: dict[int, int] = {}
    for r in full:
        tot_full[r["query_id"]] = tot_full.get(r["query_id"], 0) + r["n_docs"]
    tot_top: dict[int, int] = {}
    for (qid, _f), n in got.items():
        tot_top[qid] = tot_top.get(qid, 0) + n
    assert tot_top == tot_full
    with pytest.raises(ValueError, match="top_n"):
        facet_counts(spark, built_index, make_queries(), dim, top_n=0)


def test_composite_buckets_paginate_exactly(spark, built_index, sf_unit_dir):
    """Composite aggregation: key-ordered site buckets must paginate in
    exact size-bounded chunks behind per-query after-key cursors — page 2
    equals the Python buckets[size:2*size] slice, a query WITHOUT a
    cursor pages from the first bucket, and size < 1 raises. The site
    facet is high-cardinality, the case composite exists for."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import composite_buckets

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    site = {u: u.split("/")[2] for u, _t in rows}
    size = 3
    qs = make_queries()[:5]
    buckets = {}
    for qid, text in qs:
        per: dict[str, int] = {}
        for d in oi.score_all(text):
            fac = site[oi.urls[d]]
            per[fac] = per.get(fac, 0) + 1
        buckets[qid] = sorted(per.items())
    assert all(len(b) > 2 * size for b in buckets.values()), (
        "site facet must out-cardinality two pages"
    )
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url", F.split(F.col("url"), "/").getItem(2).alias("facet")
    )
    cursors = {qid: buckets[qid][size - 1][0] for qid, _t in qs}
    free_qid = sorted(cursors)[0]
    del cursors[free_qid]
    got = sorted(
        (r["query_id"], r["facet"], r["n_docs"])
        for r in composite_buckets(
            spark, built_index, qs, dim, size=size, after=cursors
        ).collect()
    )
    want = []
    for qid, _t in qs:
        base = 0 if qid not in cursors else size
        for fac, n in buckets[qid][base : base + size]:
            want.append((qid, fac, n))
    assert got == sorted(want) and len(got) == size * len(qs)
    with pytest.raises(ValueError, match="size"):
        composite_buckets(spark, built_index, qs, dim, size=0)


def test_adjacency_counts_matches_python(spark, built_index, sf_unit_dir):
    """Adjacency matrix: pairwise match-set intersection counts (qa <= qb,
    diagonal = each query's own hit count) must equal brute-force Python
    set intersections, with at least one NON-EMPTY off-diagonal pair so
    the pair expansion can't pass vacuously."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import adjacency_counts

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    qs = make_queries()[:8]
    sets = {qid: set(oi.score_all(text)) for qid, text in qs}
    want = {}
    ids = sorted(sets)
    for i, qa in enumerate(ids):
        for qb in ids[i:]:
            n = len(sets[qa] & sets[qb])
            if n:
                want[(qa, qb)] = n
    assert any(qa != qb for qa, qb in want), "no overlapping match sets"
    got = {
        (r["qa"], r["qb"]): r["n_docs"]
        for r in adjacency_counts(spark, built_index, qs).collect()
    }
    assert got == want
    for qid in ids:
        assert got.get((qid, qid), 0) == len(sets[qid])


def test_range_facets_dense_matches_python(spark, built_index, sf_unit_dir):
    """Dense histogram (min_doc_count=0): every interior bucket emits for
    every matched query — empty buckets as explicit zeros — matching a
    brute-force Python pass; at least one zero bucket must exist (the
    contract can't pass vacuously) and the bucket domain is exactly
    n_buckets rows per matched query."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import range_facets_dense

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: float(len(t)) for u, t in rows}
    lo = min(vals.values())
    # a narrow 1-unit bucket right above the corpus floor is empty for
    # most queries; the wide outer buckets are not
    bounds = [0.0, lo + 1.0, lo + 2.0, 1500.0, 1e9]
    nb = len(bounds) - 1
    want = {}
    for qid, text in make_queries():
        matched = list(oi.score_all(text))
        if not matched:
            continue
        per = {b: 0 for b in range(nb)}
        for did in matched:
            v = vals[oi.urls[did]]
            if not (bounds[0] <= v < bounds[-1]):
                continue
            per[sum(1 for x in bounds[1:-1] if v >= x)] += 1
        for b, n in per.items():
            want[(qid, b)] = n
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select("url", F.length("text").cast("double").alias("val"))
    got = {
        (r["query_id"], r["bucket"]): r["n_docs"]
        for r in range_facets_dense(
            spark, built_index, make_queries(), dim, bounds
        ).collect()
    }
    assert got == want
    assert any(n == 0 for n in got.values()), "no empty bucket — widen"
    per_q: dict[int, int] = {}
    for qid, _b in got:
        per_q[qid] = per_q.get(qid, 0) + 1
    assert all(v == nb for v in per_q.values())


def test_extended_and_weighted_stats_match_python(spark, built_index, sf_unit_dir):
    """match_extended_stats + match_weighted_avg vs brute force: the
    integer-valued dims make every partial sum exact, so the floored
    double expressions must agree bit-for-bit with the same ops in
    Python (division / multiply / subtract / sqrt, one rounding each)."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import (
        match_extended_stats,
        match_weighted_avg,
    )

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    vals = {u: float(len(t)) for u, t in rows}
    wts = {u: 0.5 + (len(t) % 8) * 0.25 for u, t in rows}
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731
    want_ext, want_w = {}, {}
    for qid, text in make_queries():
        matched = list(oi.score_all(text))
        if not matched:
            continue
        vs = [vals[oi.urls[d]] for d in matched]
        ws = [wts[oi.urls[d]] for d in matched]
        n, s, ss = len(vs), sum(vs), sum(v * v for v in vs)
        mean = s / n
        var = max(ss / n - mean * mean, 0.0)
        std = math.sqrt(var)
        want_ext[qid] = (
            n, f6(s), f6(mean), int(ss), f6(var), f6(std),
            f6(mean - 2.0 * std), f6(mean + 2.0 * std),
        )
        vw = sum(v * w for v, w in zip(vs, ws))
        sw = sum(ws)
        want_w[qid] = (n, f6(vw), f6(sw), f6(vw / sw))
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url",
        F.length("text").cast("double").alias("val"),
        (
            F.lit(0.5) + (F.length("text") % 8).cast("double") * F.lit(0.25)
        ).alias("w"),
    )
    got_ext = {
        r["query_id"]: (
            r["n_docs"], r["sum6"], r["avg6"], r["sumsq"], r["var6"],
            r["std6"], r["lo6"], r["hi6"],
        )
        for r in match_extended_stats(
            spark, built_index, make_queries(), dim
        ).collect()
    }
    assert got_ext == want_ext
    got_w = {
        r["query_id"]: (r["n_docs"], r["wsum6"], r["wtot6"], r["wavg6"])
        for r in match_weighted_avg(
            spark, built_index, make_queries(), dim
        ).collect()
    }
    assert got_w == want_w


def test_match_missing_matches_python(spark, built_index, sf_unit_dir):
    """match_missing vs brute force over a deliberately-partial dim
    (len(text) % 3 == 0 carries no value); both splits must be non-empty
    so the contract can't pass vacuously."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import match_missing

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    has_val = {u: (len(t) % 3 != 0) for u, t in rows}
    want = {}
    for qid, text in make_queries():
        matched = list(oi.score_all(text))
        if not matched:
            continue
        pres = sum(1 for d in matched if has_val[oi.urls[d]])
        want[qid] = (len(matched), pres, len(matched) - pres)
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.filter(F.length("text") % 3 != 0).select(
        "url", F.length("text").cast("double").alias("val")
    )
    got = {
        r["query_id"]: (r["n_docs"], r["n_present"], r["n_missing"])
        for r in match_missing(
            spark, built_index, make_queries(), dim
        ).collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in got.values())
    assert any(v[2] > 0 for v in got.values())


def test_date_histogram_matches_python(spark, built_index, sf_unit_dir):
    """date_histogram (calendar month) vs brute force: the deterministic
    per-doc date (2024-01-01 + len%400 days) must bucket into identical
    'yyyy-MM' strings; the bad-interval guard raises."""
    import datetime

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import date_histogram

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    epoch = datetime.date(2024, 1, 1)
    month = {
        u: (epoch + datetime.timedelta(days=len(t) % 400)).strftime("%Y-%m")
        for u, t in rows
    }
    want: dict[tuple[int, str], int] = {}
    for qid, text in make_queries():
        for d in oi.score_all(text):
            key = (qid, month[oi.urls[d]])
            want[key] = want.get(key, 0) + 1
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url",
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.length("text") % 400).cast("int")
        ).alias("d"),
    )
    got = {
        (r["query_id"], r["bucket"]): r["n_docs"]
        for r in date_histogram(
            spark, built_index, make_queries(), dim, "month"
        ).collect()
    }
    assert got == want
    assert len({b for _q, b in got}) > 1, "all dates in one bucket — widen"
    with pytest.raises(ValueError):
        date_histogram(spark, built_index, make_queries(), dim, "fortnight")


def test_date_histogram_pipeline_matches_python(spark, built_index, sf_unit_dir):
    """date_histogram_pipeline vs brute force: cumulative sum, derivative
    (NULL first bucket) and the trailing 3-bucket moving average over the
    chronologically-ordered month buckets; the bad-window guard raises."""
    import datetime
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import date_histogram_pipeline

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    epoch = datetime.date(2024, 1, 1)
    month = {
        u: (epoch + datetime.timedelta(days=len(t) % 400)).strftime("%Y-%m")
        for u, t in rows
    }
    counts: dict[int, dict[str, int]] = {}
    for qid, text in make_queries():
        for d in oi.score_all(text):
            b = month[oi.urls[d]]
            counts.setdefault(qid, {})[b] = counts.get(qid, {}).get(b, 0) + 1
    want = {}
    for qid, per in counts.items():
        buckets = sorted(per)
        cum = 0
        for i, b in enumerate(buckets):
            n = per[b]
            cum += n
            deriv = None if i == 0 else n - per[buckets[i - 1]]
            win = [per[x] for x in buckets[max(0, i - 2) : i + 1]]
            mavg6 = math.floor(sum(win) / len(win) * 1_000_000)
            want[(qid, b)] = (n, cum, deriv, mavg6)
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url",
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.length("text") % 400).cast("int")
        ).alias("d"),
    )
    got = {
        (r["query_id"], r["bucket"]): (
            r["n_docs"], r["cum_docs"], r["deriv"], r["mavg6"]
        )
        for r in date_histogram_pipeline(
            spark, built_index, make_queries(), dim, "month", window=3
        ).collect()
    }
    assert got == want
    assert any(v[2] is not None and v[2] < 0 for v in got.values()) or any(
        v[2] is not None and v[2] > 0 for v in got.values()
    ), "derivative never moved — dim degenerate"
    with pytest.raises(ValueError):
        date_histogram_pipeline(
            spark, built_index, make_queries(), dim, "month", window=0
        )


def test_dis_max_matches_python(spark, built_index, sf_unit_dir):
    """search_dis_max vs brute force: per doc, max and sum of the
    single-term BM25 scores combine as best + 0.5 * (sum - best); ranks
    over the floored value with url-asc ties. Non-vacuity: some doc must
    match >= 2 terms so dis_max actually diverges from the OR sum, and
    the tie_breaker domain guard raises."""
    import math

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_dis_max

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731
    want = {}
    diverged = False
    for qid, text in make_queries():
        per = [oi.score_all(t) for t in sorted(set(tokenize(text)))]
        docs_all = sorted(set().union(*[set(p) for p in per])) if per else []
        scored = []
        for d in docs_all:
            vals = [p[d] for p in per if d in p]
            mx, sm = max(vals), sum(vals)
            if len(vals) >= 2:
                diverged = True
            scored.append((f6(mx + 0.5 * (sm - mx)), oi.urls[d], f6(mx)))
        scored.sort(key=lambda t: (-t[0], t[1]))
        want[qid] = [
            (r + 1, u, fin, bst)
            for r, (fin, u, bst) in enumerate(scored[:10])
        ]
    got: dict[int, list] = {}
    res = search_dis_max(
        spark, built_index, make_queries(), k=10, tie_breaker=0.5
    ).collect()
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], r["final6"], r["best6"])
        )
    assert got == {q: w for q, w in want.items() if w}
    assert diverged, "no doc matched 2+ terms — dis_max test is vacuous"
    with pytest.raises(ValueError):
        search_dis_max(
            spark, built_index, make_queries(), tie_breaker=1.5
        )


def test_boosting_matches_python(spark, built_index, sf_unit_dir):
    """search_boosting vs brute force: positive BM25 scores halved for
    docs that also match the negative term, ranked over the floored
    product with url-asc ties. Non-vacuity: at least one top-10 row must
    be demoted and at least one not; the negative_boost guard raises."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_boosting

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731

    def brute(neg: str):
        neg_docs = set(oi.postings.get(neg, {}))
        want, flags = {}, set()
        for qid, text in make_queries():
            scored = []
            for d, s in oi.score_all(text).items():
                dem = 1 if d in neg_docs else 0
                scored.append((f6(s * (0.5 if dem else 1.0)), oi.urls[d], dem))
            scored.sort(key=lambda t: (-t[0], t[1]))
            want[qid] = [
                (r + 1, u, fin, dem)
                for r, (fin, u, dem) in enumerate(scored[:10])
            ]
            flags |= {dem for _r, _u, _f, dem in want[qid]}
        return want, flags

    # Data-driven negative: the head terms demote EVERYTHING (~80% df) and
    # the planted rares demote nothing visible — walk the single-term
    # queries until demotion splits the top-10s, so the test can't go
    # vacuous when the synthetic Zipf shape shifts.
    singles = [t for _q, t in make_queries() if len(t.split()) == 1]
    neg = next(n for n in singles if brute(n)[1] == {0, 1})
    want, _ = brute(neg)
    triples = [(qid, text, neg) for qid, text in make_queries()]
    got: dict[int, list] = {}
    res = search_boosting(
        spark, built_index, triples, k=10, negative_boost=0.5
    ).collect()
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], r["final6"], r["demoted"])
        )
    assert got == {q: w for q, w in want.items() if w}
    flags = {dem for per in got.values() for _r, _u, _f, dem in per}
    assert flags == {0, 1}, f"demotion vacuous: flags seen {flags}"
    with pytest.raises(ValueError):
        search_boosting(spark, built_index, triples, negative_boost=2.0)


def test_phrase_prefix_matches_python(spark, built_index, sf_unit_dir):
    """search_phrase_prefix vs brute force: full term immediately followed
    by a token starting with the prefix, ranked by BM25 over the full term
    only. Short prefixes must match MORE docs than the full bigram (the
    weaker-test non-vacuity), a never-following prefix returns empty, and
    the bare-prefix / empty-prefix guards raise."""
    import math

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_phrase_prefix

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    toks0 = tokenize(rows[0][1])
    mid = len(toks0) // 2
    triples = [
        (1, toks0[0], toks0[1][:2]),
        (2, toks0[mid], toks0[mid + 1][:1]),
        (3, toks0[0], "zzq"),
    ]
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731
    # oracle docIDs follow url order, not row order — key tokens by url
    doc_toks = {u: tokenize(t) for u, t in rows}
    want: dict[int, list] = {}
    for qid, t1, p in triples:
        scores = oi.score_all(t1)
        scored = []
        for d, s in scores.items():
            tk = doc_toks[oi.urls[d]]
            if any(
                tk[i] == t1 and tk[i + 1].startswith(p)
                for i in range(len(tk) - 1)
            ):
                scored.append((f6(s), oi.urls[d]))
        scored.sort(key=lambda t: (-t[0], t[1]))
        want[qid] = [
            (r + 1, u, s6) for r, (s6, u) in enumerate(scored[:10])
        ]
    got: dict[int, list] = {}
    res = search_phrase_prefix(
        spark, built_index, triples, k=10, fixed_point=True
    ).collect()
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], f6(r["score"]))
        )
    assert got == {q: w for q, w in want.items() if w}
    assert want[1], "anchored real bigram prefix found nothing"
    assert not want[3], "nonsense prefix matched"
    with pytest.raises(ValueError):
        search_phrase_prefix(spark, built_index, [(1, "", "pre")])
    with pytest.raises(ValueError):
        search_phrase_prefix(spark, built_index, [(1, toks0[0], "")])


def test_rare_terms_matches_python(spark, built_index, sf_unit_dir):
    """rare_terms vs brute force: exact-length facets carried by <= 3
    matching docs. Both a dropped head bucket and a surviving tail bucket
    must exist (the HAVING is non-vacuous both ways); the max_doc_count
    guard raises."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import rare_terms

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    facet = {u: str(len(t)) for u, t in rows}
    want, dropped = {}, False
    for qid, text in make_queries():
        per: dict[str, int] = {}
        for d in oi.score_all(text):
            f = facet[oi.urls[d]]
            per[f] = per.get(f, 0) + 1
        for f, n in per.items():
            if n <= 3:
                want[(qid, f)] = n
            else:
                dropped = True
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select("url", F.length("text").cast("string").alias("facet"))
    got = {
        (r["query_id"], r["facet"]): r["n_docs"]
        for r in rare_terms(
            spark, built_index, make_queries(), dim, max_doc_count=3
        ).collect()
    }
    assert got == want
    assert want, "no rare buckets survived — facet too coarse"
    assert dropped, "no head bucket dropped — facet too fine"
    with pytest.raises(ValueError):
        rare_terms(spark, built_index, make_queries(), dim, max_doc_count=0)


def test_span_first_matches_python(spark, built_index, sf_unit_dir):
    """search_span_first vs brute force: the term within the first `end`
    token positions, BM25-ranked. end=1 must be stricter than end=25
    (non-vacuity of the boundary), and the multi-term / end guards raise."""
    import math

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_span_first

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    toks0 = tokenize(rows[0][1])
    mid = len(toks0) // 2
    spans = [
        (1, toks0[0], 25),
        (2, toks0[mid], 25),
        (3, toks0[mid], 1),
    ]
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731
    doc_toks = {u: tokenize(t) for u, t in rows}
    want: dict[int, list] = {}
    matched_n: dict[int, int] = {}
    for qid, term, end in spans:
        scored = []
        for d, s in oi.score_all(term).items():
            u = oi.urls[d]
            if term in doc_toks[u][:end]:
                scored.append((f6(s), u))
        scored.sort(key=lambda t: (-t[0], t[1]))
        matched_n[qid] = len(scored)
        want[qid] = [(r + 1, u, s6) for r, (s6, u) in enumerate(scored[:10])]
    got: dict[int, list] = {}
    res = search_span_first(
        spark, built_index, spans, k=10, fixed_point=True
    ).collect()
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], f6(r["score"]))
        )
    assert got == {q: w for q, w in want.items() if w}
    assert matched_n[2] > 0, "common-term lede query found nothing"
    assert matched_n[3] < matched_n[2], "end=1 not stricter than end=25"
    with pytest.raises(ValueError):
        search_span_first(spark, built_index, [(1, "two words", 5)])
    with pytest.raises(ValueError):
        search_span_first(spark, built_index, [(1, toks0[0], 0)])


def test_span_not_matches_python(spark, built_index, sf_unit_dir):
    """search_span_not vs brute force: docs with an include-term occurrence
    carrying no exclude occurrence inside the +-w window, BM25-ranked over
    the include term. The exclusion must be non-vacuous (fewer matches than
    the unconstrained query) and non-total (some docs survive), and the
    multi-term / w / same-term guards raise."""
    import math

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_span_not

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    doc_toks = {u: tokenize(t) for u, t in rows}
    toks0 = tokenize(rows[0][1])
    w = 2
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731

    def brute(inc: str, exc: str, win: int) -> list:
        scored = []
        for d, s in oi.score_all(inc).items():
            u = oi.urls[d]
            tk = doc_toks[u]
            ok = any(
                tk[i] == inc
                and all(
                    tk[j] != exc
                    for j in range(max(0, i - win), min(i + win, len(tk) - 1) + 1)
                )
                for i in range(len(tk))
            )
            if ok:
                scored.append((f6(s), u))
        scored.sort(key=lambda t: (-t[0], t[1]))
        return scored

    # Pick (a, b) so the window test is BOTH non-vacuous (some doc fully
    # excluded) and non-total (some doc survives). A doc is excluded by b
    # iff EVERY `a` position has b inside its +-w window; b works iff it
    # excludes some-but-not-all docs containing `a`. Hand-picked neighbors
    # fail both ways: planted collocations exclude everything, rare terms
    # (df=1) can only be all-or-nothing.
    def _excluders(tk: list, inc: str, win: int) -> set:
        exc = None
        for i, t in enumerate(tk):
            if t == inc:
                wnd = set(tk[max(0, i - win) : i + win + 1]) - {inc}
                exc = wnd if exc is None else exc & wnd
        return exc or set()

    a = b = None
    for cand_a in dict.fromkeys(toks0):
        docs_a = [tk for tk in doc_toks.values() if cand_a in tk]
        if len(docs_a) < 2:
            continue
        per_doc = [_excluders(tk, cand_a, w) for tk in docs_a]
        partial = set().union(*per_doc) - set.intersection(*per_doc)
        if partial:
            a, b = cand_a, sorted(partial)[0]
            break
    assert a is not None, "no (a, b) pair yields a partial exclusion"
    spans = [(1, a, b, w), (2, b, a, w)]

    want: dict[int, list] = {}
    n_all: dict[int, int] = {}
    n_kept: dict[int, int] = {}
    for qid, inc, exc, win in spans:
        scored = brute(inc, exc, win)
        n_all[qid] = len(oi.score_all(inc))
        n_kept[qid] = len(scored)
        want[qid] = [(r + 1, u, s6) for r, (s6, u) in enumerate(scored[:10])]
    got: dict[int, list] = {}
    res = search_span_not(
        spark, built_index, spans, k=10, fixed_point=True
    ).collect()
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], f6(r["score"]))
        )
    assert got == {q: ww for q, ww in want.items() if ww}
    assert n_kept[1] < n_all[1], "exclusion vacuous — adjacent pair not planted"
    assert n_kept[1] > 0, "exclusion total — nothing survives"
    with pytest.raises(ValueError):
        search_span_not(spark, built_index, [(1, "two words", b, w)])
    with pytest.raises(ValueError):
        search_span_not(spark, built_index, [(1, a, b, 0)])
    with pytest.raises(ValueError):
        search_span_not(spark, built_index, [(1, a, a, w)])


def test_intervals_matches_python(spark, built_index, sf_unit_dir):
    """search_intervals vs brute force: 3-term ordered chain with a SHARED
    max_gaps budget (p3 - p1 - 2 <= g), BM25-summed over the chain terms.
    The chain must be non-vacuous (fewer matches than the all-three
    conjunction) and non-total; the <2-terms / repeated-term / negative-g
    guards raise."""
    import math

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_intervals

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    doc_toks = {u: tokenize(t) for u, t in rows}
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731

    def chain_ok(tk: list, a: str, b: str, c: str, g: int) -> bool:
        return any(
            tk[i] == a and tk[j] == b and tk[l] == c
            for i in range(len(tk))
            for j in range(i + 1, min(i + 2 + g, len(tk)))
            for l in range(j + 1, min(i + 3 + g, len(tk)))
        )

    # Discover a (a, b, c, g) whose chain test is non-vacuous and
    # non-total: walk doc0 for an in-order distinct triple within the
    # budget (guaranteeing >= 1 match), then check some all-three doc
    # fails the chain.
    g = 3
    found = None
    tk0 = next(iter(doc_toks.values()))
    for i in range(len(tk0)):
        if found:
            break
        for j in range(i + 1, min(i + 2 + g, len(tk0))):
            if found:
                break
            for l in range(j + 1, min(i + 3 + g, len(tk0))):
                a, b, c = tk0[i], tk0[j], tk0[l]
                if len({a, b, c}) != 3:
                    continue
                have3 = [
                    tk for tk in doc_toks.values()
                    if a in tk and b in tk and c in tk
                ]
                n_chain = sum(chain_ok(tk, a, b, c, g) for tk in have3)
                if 0 < n_chain < len(have3):
                    found = (a, b, c)
                    break
    assert found, "no discriminating chain found in doc0"
    a, b, c = found

    def brute(t1: str, t2: str, t3: str, gg: int) -> list:
        scored = []
        for d, s in oi.score_all(f"{t1} {t2} {t3}").items():
            u = oi.urls[d]
            if chain_ok(doc_toks[u], t1, t2, t3, gg):
                scored.append((f6(s), u))
        scored.sort(key=lambda t: (-t[0], t[1]))
        return scored

    chains = [(1, f"{a} {b} {c}", g), (2, f"{c} {b} {a}", g)]
    want: dict[int, list] = {}
    for qid, text, gg in chains:
        t1, t2, t3 = text.split()
        want[qid] = [
            (r + 1, u, s6) for r, (s6, u) in enumerate(brute(t1, t2, t3, gg)[:10])
        ]
    got: dict[int, list] = {}
    res = search_intervals(
        spark, built_index, chains, k=10, fixed_point=True
    ).collect()
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], f6(r["score"]))
        )
    assert got == {q: ww for q, ww in want.items() if ww}
    assert want[1], "chain vacuous — discovery failed"
    with pytest.raises(ValueError):
        search_intervals(spark, built_index, [(1, a, g)])
    with pytest.raises(ValueError):
        search_intervals(spark, built_index, [(1, f"{a} {a}", g)])
    with pytest.raises(ValueError):
        search_intervals(spark, built_index, [(1, f"{a} {b}", -1)])


@pytest.mark.parametrize(
    "fn, rows",
    [
        ("search_prefix", [(1, "ba*"), (1, "qu*")]),
        ("search_fuzzy", [(1, "ba"), (1, "qu")]),
        ("search_wildcard", [(1, "b?"), (1, "q*")]),
        ("search_phrase_prefix", [(1, "ba", "q"), (1, "qu", "b")]),
        ("search_span_first", [(1, "ba", 5), (1, "qu", 5)]),
        ("search_span_not", [(1, "ba", "qu", 2), (1, "qu", "ba", 2)]),
        ("search_intervals", [(1, "ba qu", 2), (1, "qu ba", 2)]),
    ],
)
def test_duplicate_query_ids_rejected(spark, built_index, fn, rows):
    """A batch repeating a query_id raises (like search_query_string) —
    per-qid state is a dict, so the earlier query would silently vanish.
    search_regexp is the documented exception: its rows OR per qid."""
    import pageindex_spark.plans.query as Q

    with pytest.raises(ValueError, match="duplicate query_id"):
        getattr(Q, fn)(spark, built_index, rows).collect()


def test_multi_terms_matches_python(spark, built_index, sf_unit_dir):
    """multi_terms vs brute force: compound (len%3, len%2) buckets over the
    OR match set, plus the top_n collapse (tail rewritten to the sentinel
    on BOTH key columns, remainder summed)."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import multi_terms

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    fa = {u: str(len(t) % 3) for u, t in rows}
    fb = {u: str(len(t) % 2) for u, t in rows}
    want: dict[tuple, int] = {}
    for qid, text in make_queries():
        for d in oi.score_all(text):
            u = oi.urls[d]
            k = (qid, fa[u], fb[u])
            want[k] = want.get(k, 0) + 1
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url",
        (F.length("text") % 3).cast("string").alias("facet_a"),
        (F.length("text") % 2).cast("string").alias("facet_b"),
    )
    out = multi_terms(spark, built_index, make_queries(), dim)
    got = {
        (r["query_id"], r["facet_a"], r["facet_b"]): r["n_docs"]
        for r in out.collect()
    }
    assert got == want
    # top_n collapse: top 2 buckets keep their keys, tail sums into one
    # (__other__, __other__) row per query.
    want_top: dict[tuple, int] = {}
    byq: dict[int, list] = {}
    for (qid, a, b), n in want.items():
        byq.setdefault(qid, []).append((n, a, b))
    for qid, buckets in byq.items():
        buckets.sort(key=lambda t: (-t[0], t[1], t[2]))
        for n, a, b in buckets[:2]:
            want_top[(qid, a, b)] = n
        rest = sum(n for n, _a, _b in buckets[2:])
        if rest:
            want_top[(qid, "__other__", "__other__")] = rest
    got_top = {
        (r["query_id"], r["facet_a"], r["facet_b"]): r["n_docs"]
        for r in multi_terms(
            spark, built_index, make_queries(), dim, top_n=2
        ).collect()
    }
    assert got_top == want_top
    with pytest.raises(ValueError):
        multi_terms(spark, built_index, make_queries(), dim, top_n=0)
    with pytest.raises(ValueError):
        multi_terms(spark, built_index, make_queries(), dim, keys=())


def test_top_metrics_matches_python(spark, built_index, sf_unit_dir):
    """top_metrics vs brute force: the metric rows of the size=3 matching
    docs with the largest (and, flipped, smallest) sort_key, url-asc ties."""
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import top_metrics

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    sk = {u: len(t) for u, t in rows}
    mt = {u: (len(t) * 7) % 101 for u, t in rows}
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url",
        F.length("text").cast("long").alias("sort_key"),
        ((F.length("text") * 7) % 101).cast("long").alias("metric"),
    )
    for desc in (True, False):
        want: dict[int, list] = {}
        for qid, text in make_queries():
            urls = [oi.urls[d] for d in oi.score_all(text)]
            urls.sort(key=lambda u: (-sk[u] if desc else sk[u], u))
            want[qid] = [
                (r + 1, u, sk[u], mt[u]) for r, u in enumerate(urls[:3])
            ]
        out = top_metrics(
            spark, built_index, make_queries(), dim, size=3, descending=desc
        )
        got: dict[int, list] = {}
        for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["url"], r["sort_key"], r["metric"])
            )
        assert got == {q: w for q, w in want.items() if w}, f"desc={desc}"
    with pytest.raises(ValueError):
        top_metrics(spark, built_index, make_queries(), dim, size=0)


def test_multi_field_matches_python(spark, built_index, sf_unit_dir):
    """search_multi_field vs brute force: body^1 + first-8-token title^2,
    each field with its OWN BM25 statistics, combined best + tb*(sum-best).
    The title boost must actually change some query's top-10 vs body-only
    (non-vacuity), and the guards raise."""
    import math

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_multi_field

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    title_rows = [(u, " ".join(tokenize(t)[:8])) for u, t in rows]
    oi_body = OracleIndex(rows)
    oi_title = OracleIndex(title_rows)
    tb, boost = 0.25, 2.0
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731
    want: dict[int, list] = {}
    changed = False
    for qid, text in make_queries():
        per: dict[str, list[float]] = {}
        for oi, b in ((oi_body, 1.0), (oi_title, boost)):
            for d, s in oi.score_all(text).items():
                per.setdefault(oi.urls[d], []).append(s * b)
        scored = []
        for u, ss in per.items():
            mx = max(ss)
            scored.append((f6(mx + tb * (sum(ss) - mx)), f6(mx), u))
        scored.sort(key=lambda t: (-t[0], t[2]))
        want[qid] = [
            (r + 1, u, fi, bs) for r, (fi, bs, u) in enumerate(scored[:10])
        ]
        body_only = sorted(
            ((f6(s), oi_body.urls[d]) for d, s in oi_body.score_all(text).items()),
            key=lambda t: (-t[0], t[1]),
        )[:10]
        if [u for _r, u, _f, _b in want[qid]] != [u for _s, u in body_only]:
            changed = True
    title_dir = "/root/repo/data/index-sf-unit-title"
    shutil.rmtree(title_dir, ignore_errors=True)
    from pageindex_spark.functions.sqlglue import spark_terms

    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    title = docs.select(
        "url",
        F.concat_ws(
            " ", F.slice(F.expr(spark_terms("text")), 1, 8)
        ).alias("text"),
    )
    build_index(
        spark, title, title_dir,
        num_partitions=8, n_buckets=8, n_seg_chunks=1, n_bucket_chunks=1,
    )
    out = search_multi_field(
        spark,
        [(built_index, 1.0), (title_dir, boost)],
        make_queries(),
        k=10,
        tie_breaker=tb,
    )
    got: dict[int, list] = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], r["final6"], r["best6"])
        )
    assert got == {q: w for q, w in want.items() if w}
    assert changed, "title field never changed a top-10 — boost vacuous"
    with pytest.raises(ValueError):
        search_multi_field(spark, [], make_queries())
    with pytest.raises(ValueError):
        search_multi_field(spark, [(built_index, 0.0)], make_queries())
    with pytest.raises(ValueError):
        search_multi_field(
            spark, [(built_index, 1.0)], make_queries(), tie_breaker=1.5
        )
    shutil.rmtree(title_dir, ignore_errors=True)


def test_index_stats_matches_recount(spark, built_index, sf_unit_dir):
    """index_stats (committed artifacts) vs a direct corpus recount: doc
    count, vocabulary size, exact token total, floor(avgdl*1e6), zero
    tombstones on a fresh build."""
    import math

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.plans.hits import index_stats

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    toks = [tokenize(t) for t in tbl["text"].to_pylist()]
    n_docs = len(toks)
    total = sum(len(t) for t in toks)
    vocab = len({x for t in toks for x in t})
    row = index_stats(spark, built_index).collect()
    assert len(row) == 1
    r = row[0]
    assert (
        r["n_docs"], r["n_terms"], r["total_tokens"], r["avgdl6"], r["n_deleted"]
    ) == (n_docs, vocab, total, math.floor(total / n_docs * 1_000_000), 0)


def test_reindex_equals_direct_build(spark, built_index, sf_unit_dir):
    """reindex (fresh build from the COMMITTED extracts) == a direct build
    over the same filtered corpus: identical top-10 ranks and fixed-point
    scores for every query. With tombstones in the source, reindex drops
    the deleted docs (fresh clean grid) and matches a direct build over
    corpus-minus-deleted."""
    import math

    from pageindex_spark import search
    from pageindex_spark.plans.build_index import reindex
    from pageindex_spark.plans.deletes import delete_docs
    from pageindex_spark.plans.hits import index_stats

    base = "/root/repo/data/reindex-test"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    pred = F.substring(F.col("url"), -1, 1).isin(["0", "2", "4", "6", "8"])
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731

    def top(idx):
        return [
            (r["query_id"], r["rank"], r["url"], f6(r["score"]))
            for r in search(
                spark, idx, make_queries(), k=10, mode="bmw", fixed_point=True
            ).collect()
        ]

    reindex(spark, built_index, f"{base}/sub", predicate=pred,
            num_partitions=4)
    build_index(
        spark, docs.filter(pred).select("url", "text"), f"{base}/direct",
        num_partitions=4, n_buckets=8, n_seg_chunks=1, n_bucket_chunks=1,
    )
    assert sorted(top(f"{base}/sub")) == sorted(top(f"{base}/direct"))
    # tombstoned source: reindex skips deleted docs and re-tightens stats
    dead = [r["url"] for r in docs.select("url").orderBy("url").limit(2).collect()]
    shutil.copytree(built_index, f"{base}/src2")
    delete_docs(spark, f"{base}/src2", dead)
    reindex(spark, f"{base}/src2", f"{base}/clean", num_partitions=4)
    build_index(
        spark,
        docs.filter(~F.col("url").isin(dead)).select("url", "text"),
        f"{base}/direct2",
        num_partitions=4, n_buckets=8, n_seg_chunks=1, n_bucket_chunks=1,
    )
    assert sorted(top(f"{base}/clean")) == sorted(top(f"{base}/direct2"))
    st = index_stats(spark, f"{base}/clean").collect()[0]
    n_docs = docs.count()
    assert (st["n_docs"], st["n_deleted"]) == (n_docs - 2, 0)
    shutil.rmtree(base, ignore_errors=True)


def test_term_vectors_matches_python(spark, built_index, sf_unit_dir):
    """term_vectors vs brute force: per requested doc every term with its
    in-doc tf and corpus df. A tombstoned doc returns NO rows while other
    requested docs keep theirs; the empty-urls guard raises."""
    from collections import Counter

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.plans.deletes import delete_docs
    from pageindex_spark.plans.hits import term_vectors

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    df = Counter(t for _u, x in rows for t in set(tokenize(x)))
    urls = [rows[0][0], rows[5][0], rows[17][0]]
    want = {}
    for u, t in rows:
        if u in urls:
            for term, tf in Counter(tokenize(t)).items():
                want[(u, term)] = (tf, df[term])
    got = {
        (r["url"], r["term"]): (r["tf"], r["df"])
        for r in term_vectors(spark, built_index, urls).collect()
    }
    assert got == want
    with pytest.raises(ValueError):
        term_vectors(spark, built_index, [])
    # tombstoned doc -> no rows; others unaffected
    cpy = "/root/repo/data/tv-del-test"
    shutil.rmtree(cpy, ignore_errors=True)
    shutil.copytree(built_index, cpy)
    delete_docs(spark, cpy, [urls[0]])
    got2 = {
        (r["url"], r["term"]): (r["tf"], r["df"])
        for r in term_vectors(spark, cpy, urls).collect()
    }
    assert got2 == {k: v for k, v in want.items() if k[0] != urls[0]}
    shutil.rmtree(cpy, ignore_errors=True)


def test_geo_family_matches_python(spark, built_index, sf_unit_dir):
    """geo_distance_topk / geo_bounding_box_count / geotile_grid vs brute
    force with Python's math over the same derived (lat, lon). Distance
    comparison allows ±1 on the floored micro-km (libm ulp differences on
    trig are real across runtimes; rank order is still pinned exactly by
    comparing the doc sequences). Guards raise."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import (
        geo_bounding_box_count,
        geo_distance_topk,
        geotile_grid,
    )

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    # derived dim: the sf-unit urls aren't integers, so key geo on a
    # stable per-url integer (its row position) fed to the SAME formulas.
    rid = {u: i for i, (u, _t) in enumerate(rows)}

    def latlon(u):
        i = rid[u]
        return (i * 7919 % 16000) / 100.0 - 80.0, (i * 104729 % 36000) / 100.0 - 180.0

    def hav(lat1, lon1, lat2, lon2):
        p = math.radians
        a = (
            math.sin(p(lat2 - lat1) / 2) ** 2
            + math.cos(p(lat1)) * math.cos(p(lat2)) * math.sin(p(lon2 - lon1) / 2) ** 2
        )
        return 2 * 6371.0088 * math.asin(math.sqrt(a))

    origin, box, zoom = (10.5, 20.25), (-40.0, -90.0, 40.0, 90.0), 3
    n = 1 << zoom
    docs = spark.createDataFrame(
        [(u, *latlon(u)) for u, _t in rows], "url string, lat double, lon double"
    )
    want_d, want_b, want_t = {}, {}, {}
    for qid, text in make_queries():
        urls = [oi.urls[d] for d in oi.score_all(text)]
        scored = sorted(
            (math.floor(hav(*origin, *latlon(u)) * 1e6), u) for u in urls
        )
        want_d[qid] = [(r + 1, u, d6) for r, (d6, u) in enumerate(scored[:10])]
        nb = sum(
            1 for u in urls
            if box[0] <= latlon(u)[0] <= box[2] and box[1] <= latlon(u)[1] <= box[3]
        )
        if nb:
            want_b[qid] = nb
        for u in urls:
            la, lo = latlon(u)
            x = math.floor((lo + 180.0) / 360.0 * n)
            y = math.floor(
                (1.0 - math.log(math.tan(math.radians(la)) + 1.0 / math.cos(math.radians(la))) / math.pi) / 2.0 * n
            )
            key = (qid, f"{zoom}/{x}/{y}")
            want_t[key] = want_t.get(key, 0) + 1
    got_d: dict[int, list] = {}
    res = geo_distance_topk(
        spark, built_index, make_queries(), docs, origin
    ).collect()
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got_d.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], r["dist6"])
        )
    assert set(got_d) == {q for q, w in want_d.items() if w}
    for qid, wl in want_d.items():
        gl = got_d.get(qid, [])
        assert [(r, u) for r, u, _ in gl] == [(r, u) for r, u, _ in wl], qid
        for (_r1, _u1, gd), (_r2, _u2, wd) in zip(gl, wl):
            assert abs(gd - wd) <= 1, (qid, gd, wd)
    got_b = {
        r["query_id"]: r["n_in_box"]
        for r in geo_bounding_box_count(
            spark, built_index, make_queries(), docs, box
        ).collect()
    }
    assert got_b == want_b
    got_t = {
        (r["query_id"], r["tile"]): r["n_docs"]
        for r in geotile_grid(
            spark, built_index, make_queries(), docs, zoom=zoom
        ).collect()
    }
    assert got_t == want_t
    with pytest.raises(ValueError):
        geo_distance_topk(spark, built_index, make_queries(), docs, (95.0, 0.0))
    with pytest.raises(ValueError):
        geo_bounding_box_count(
            spark, built_index, make_queries(), docs, (10.0, 0.0, -10.0, 5.0)
        )
    with pytest.raises(ValueError):
        geotile_grid(spark, built_index, make_queries(), docs, zoom=30)


def test_auto_date_histogram_matches_python(spark, built_index, sf_unit_dir):
    """auto_date_histogram vs brute force: per-query interval from the
    span ladder, buckets formatted per rung. Two dims drive ALL THREE
    rungs: step-1 dates give 'day' (the rareterm single-doc query) and
    'month' (common queries), step-2 dates push common queries to 'year'.
    The target guard raises."""
    import datetime

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import auto_date_histogram

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    rid = {u: i for i, (u, _t) in enumerate(rows)}
    epoch = datetime.date(2024, 1, 1)
    queries = make_queries() + [(9001, tokenize(rows[0][1])[0])]  # 1-doc query
    target = 20
    fmt = {"day": "%Y-%m-%d", "month": "%Y-%m", "year": "%Y"}
    seen: set[str] = set()
    for step in (1, 2):
        dday = {u: epoch + datetime.timedelta(days=(rid[u] % 400) * step)
                for u, _t in rows}
        want: dict[tuple, int] = {}
        for qid, text in queries:
            urls = [oi.urls[d] for d in oi.score_all(text)]
            if not urls:
                continue
            ds = [dday[u] for u in urls]
            span = (max(ds) - min(ds)).days + 1
            iv = ("day" if span <= target
                  else "month" if span <= target * 31 else "year")
            seen.add(iv)
            for dv in ds:
                k = (qid, iv, dv.strftime(fmt[iv]))
                want[k] = want.get(k, 0) + 1
        dim = spark.createDataFrame(
            [(u, dday[u]) for u, _t in rows], "url string, d date"
        )
        got = {
            (r["query_id"], r["interval"], r["bucket"]): r["n_docs"]
            for r in auto_date_histogram(
                spark, built_index, queries, dim, target_buckets=target
            ).collect()
        }
        assert got == want, f"step={step}"
    assert seen == {"day", "month", "year"}, seen
    with pytest.raises(ValueError):
        auto_date_histogram(spark, built_index, queries, dim, target_buckets=0)


def test_matrix_stats_matches_python(spark, built_index, sf_unit_dir):
    """match_matrix_stats vs brute force over exact integer sufficient
    statistics; a constant field yields NULL correlation (0/0) while the
    covariance column stays defined (zero)."""
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import match_matrix_stats

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    xv = {u: len(t) for u, t in rows}
    yv = {u: (len(t) * 13) % 101 for u, t in rows}
    docs = spark.createDataFrame(
        [(u, xv[u], yv[u]) for u, _t in rows], "url string, x long, y long"
    )
    want = {}
    for qid, text in make_queries():
        urls = [oi.urls[d] for d in oi.score_all(text)]
        n = len(urls)
        if not n:
            continue
        sx = sum(xv[u] for u in urls); sy = sum(yv[u] for u in urls)
        sxx = sum(xv[u] ** 2 for u in urls); syy = sum(yv[u] ** 2 for u in urls)
        sxy = sum(xv[u] * yv[u] for u in urls)
        num = n * sxy - sx * sy
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        corr6 = (
            math.floor(num / (math.sqrt(vx) * math.sqrt(vy)) * 1e6)
            if vx and vy
            else None
        )
        want[qid] = (
            n,
            math.floor(sx / n * 1e6),
            math.floor(sy / n * 1e6),
            math.floor(num / (float(n) * n) * 1e6),
            corr6,
        )
    got = {
        r["query_id"]: (r["n"], r["mean_x6"], r["mean_y6"], r["cov6"], r["corr6"])
        for r in match_matrix_stats(
            spark, built_index, make_queries(), docs
        ).collect()
    }
    assert got == want
    # degenerate: constant y -> zero variance -> NULL corr, zero cov
    const = spark.createDataFrame(
        [(u, xv[u], 7) for u, _t in rows], "url string, x long, y long"
    )
    row = match_matrix_stats(
        spark, built_index, [(1, "rareterm0000")], const
    ).collect()
    if row:  # the rare term matches >= 1 doc in this corpus
        assert row[0]["corr6"] is None and row[0]["cov6"] == 0


def test_histo_bucket_stats_matches_python(spark, built_index, sf_unit_dir):
    """date_histogram_bucket_stats vs brute force: the sibling pipeline
    summary (count/min/max/sum/avg6) plus the bucket_selector count; the
    selector column is NULL when no threshold is given."""
    import datetime
    import math

    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.hits import date_histogram_bucket_stats

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    rid = {u: i for i, (u, _t) in enumerate(rows)}
    epoch = datetime.date(2024, 1, 1)
    mon = {
        u: (epoch + datetime.timedelta(days=rid[u] % 400)).strftime("%Y-%m")
        for u, _t in rows
    }
    dim = spark.createDataFrame(
        [(u, epoch + datetime.timedelta(days=rid[u] % 400)) for u, _t in rows],
        "url string, d date",
    )
    want = {}
    for qid, text in make_queries():
        per: dict[str, int] = {}
        for d in oi.score_all(text):
            b = mon[oi.urls[d]]
            per[b] = per.get(b, 0) + 1
        if not per:
            continue
        vals = list(per.values())
        want[qid] = (
            len(vals), min(vals), max(vals), sum(vals),
            math.floor(sum(vals) / len(vals) * 1e6),
            sum(1 for v in vals if v >= 3),
        )
    out = date_histogram_bucket_stats(
        spark, built_index, make_queries(), dim, "month", selector_min_docs=3
    )
    got = {
        r["query_id"]: (
            r["n_buckets"], r["min_docs"], r["max_docs"], r["sum_docs"],
            r["avg_docs6"], r["n_selected"],
        )
        for r in out.collect()
    }
    assert got == want
    nosel = date_histogram_bucket_stats(
        spark, built_index, make_queries()[:3], dim, "month"
    ).collect()
    assert nosel and all(r["n_selected"] is None for r in nosel)


def test_terms_set_matches_python(spark, built_index, sf_unit_dir):
    """search_terms_set vs brute force: docs survive when their distinct
    matched-term count meets the per-doc threshold (len(text) % 3 + 1),
    ranked by the OR BM25 sum. Non-vacuity: the filter must actually drop
    docs that plain OR would rank."""
    import math

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import OracleIndex
    from pageindex_spark.plans.query import search_terms_set

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = list(zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()))
    oi = OracleIndex(rows)
    req = {u: (len(t) % 3) + 1 for u, t in rows}
    f6 = lambda x: math.floor(x * 1_000_000)  # noqa: E731
    want, filtered = {}, False
    for qid, text in make_queries():
        terms = sorted(set(tokenize(text)))
        scored = []
        for d, s in oi.score_all(text).items():
            u = oi.urls[d]
            nm = sum(1 for t in terms if d in oi.postings.get(t, {}))
            if nm >= req[u]:
                scored.append((f6(s), u, nm, req[u]))
            else:
                filtered = True
        scored.sort(key=lambda t: (-t[0], t[1]))
        want[qid] = [
            (r + 1, u, s6, nm, rq)
            for r, (s6, u, nm, rq) in enumerate(scored[:10])
        ]
    docs = spark.read.parquet(os.path.join(sf_unit_dir, "documents.parquet"))
    dim = docs.select(
        "url", ((F.length("text") % 3) + 1).alias("required")
    )
    got: dict[int, list] = {}
    res = search_terms_set(
        spark, built_index, make_queries(), dim, k=10
    ).collect()
    for r in sorted(res, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["url"], r["score6"], r["n_matched"], r["req"])
        )
    assert got == {q: w for q, w in want.items() if w}
    assert filtered, "threshold never dropped a doc — terms_set vacuous"


def test_query_string_matches_python(spark, built_index, sf_unit_dir):
    """Lucene query_string mini-language (round 5): the one-call
    composition — boosts, +musts, -negations, "required phrases",
    -"negated phrases", prefix* expansion — must reproduce the pure-Python
    oracle rank- and score-exactly, and each clause class must visibly
    change results vs the plain OR of the same scored terms."""
    from pageindex_spark.functions.tokenizer import parse_query_string
    from pageindex_spark.oracle import query_string_topk
    from pageindex_spark.plans.query import search_query_string
    from pageindex_spark.sources.corpus import build_vocab

    tbl = pq.read_table(
        os.path.join(sf_unit_dir, "documents.parquet"), columns=["url", "text"]
    )
    rows = sorted(
        zip(tbl["url"].to_pylist(), tbl["text"].to_pylist()),
        key=lambda r: r[0],
    )
    t0 = rows[0][1].split()  # real doc tokens: planted matches guaranteed
    v = build_vocab()
    queries = [
        (1, f"{v[0]}^2 {v[1]} -{v[2]}"),  # boost + negated term
        (2, f"+{t0[0]} {v[3]} {v[4]}"),  # must + optional shoulds
        (3, f'"{t0[0]} {t0[1]} {t0[2]}" {v[5]}^1.5'),  # 3-token phrase
        (4, f'-"{t0[3]} {t0[4]}" {v[0]} {v[1]}'),  # negated phrase
        (5, f"+{v[0]} +{v[1]} {v[2]}"),  # two musts + should
        (6, f"{t0[0][:1]}zzzqx* {v[6]}"),  # dead prefix + live should
    ]
    want = query_string_topk(rows, queries, k=10)
    got = search_query_string(spark, built_index, queries, k=10).collect()
    got = sorted(got, key=lambda r: (r["query_id"], r["rank"]))
    assert len(got) == len(want)
    for g, (qid, rank, url, score) in zip(got, want):
        assert (g["query_id"], g["rank"], g["url"]) == (qid, rank, url)
        assert abs(g["score"] - score) < 1e-9
    # each admission clause holds on every returned winner (checked on the
    # raw text, independent of both implementations)
    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.oracle.bm25 import _near_match

    text_of = dict(rows)
    for qid, qtext in queries:
        p = parse_query_string(qtext)
        for w in [w for w in want if w[0] == qid]:
            tk = tokenize(text_of[w[2]])
            assert all(m in tk for m in p["must"]), (qtext, w)
            assert not any(t in tk for t in p["neg"]), (qtext, w)
            assert all(_near_match(tk, ph, 0) for ph in p["phrases"])
            assert not any(_near_match(tk, ph, 0) for ph in p["neg_phrases"])
    # and at least one query's admission visibly changed the plain-OR top-10
    changed = 0
    for qid, qtext in queries[:5]:
        p = parse_query_string(qtext)
        plain = bm25_topk(rows, [(qid, " ".join(sorted(p["weights"])))], k=10)
        qs = [w for w in want if w[0] == qid]
        if [w[2] for w in qs] != [w[2] for w in plain]:
            changed += 1
    assert changed >= 1
    # dead prefix leaves the live should term ranking alone
    q6 = [w for w in want if w[0] == 6]
    assert q6 and [w[2] for w in q6] == [
        w[2] for w in bm25_topk(rows, [(6, v[6])], k=10)
    ]


def test_query_string_parser_contract():
    """Grammar error paths and clause-promotion rules pinned (shared
    lockstep parser functions/tokenizer.parse_query_string)."""
    from pageindex_spark.functions.tokenizer import parse_query_string

    p = parse_query_string('alpha^2 +beta "gamma delta" -eps -"zeta eta" th*')
    assert p["weights"] == {
        "alpha": 2.0, "beta": 1.0, "gamma": 1.0, "delta": 1.0
    }
    assert p["must"] == ["beta", "delta", "gamma"]  # phrase terms promoted
    assert p["neg"] == ["eps"]
    assert p["phrases"] == [["gamma", "delta"]]
    assert p["neg_phrases"] == [["zeta", "eta"]]
    assert p["prefixes"] == ["th"]
    # explicit boost wins over the phrase default
    p2 = parse_query_string('alpha^3 "alpha beta"')
    assert p2["weights"]["alpha"] == 3.0 and p2["must"] == ["alpha", "beta"]
    # multi-token words inherit the clause role
    p3 = parse_query_string("+well-known")
    assert p3["must"] == ["known", "well"]
    for bad in [
        "a^2 a^3",  # conflicting weights
        "-only",  # no scorable clause
        '"unterminated',
        "+pre*",  # required prefix
        "pre*^2",  # boosted prefix
        "zero^0 x",  # non-positive boost
    ]:
        with pytest.raises(ValueError):
            parse_query_string(bad)
