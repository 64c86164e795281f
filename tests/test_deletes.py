"""Document deletes: tombstone lifecycle, query-time masking, expunge.

Pins the three-layer contract of ``plans/deletes.py`` (module docstring):
masking is immediate + exact (deleted docs can never displace survivors,
survivors' scores byte-identical), the tombstone commit is crash-safe and
idempotent, and the streamed full refresh is the expunge (postings
physically clean, stats exact again, docIDs stable, incremental refresh
still correct afterwards via ``streamed.n_slots``).
"""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from pageindex_spark.plans.deletes import delete_docs
from pageindex_spark.plans.query import search, search_phrase
from pageindex_spark.sources.corpus import make_documents, make_queries
from pageindex_spark.sources.tables import read_meta
from pageindex_spark.streaming.ingest import refresh_streamed_index, segment_batch

BASE = "/root/repo/data/deletes-test"


def _mk_index(spark, base, rows, P=4, split=None):
    split = split if split is not None else len(rows) // 2
    b0 = spark.createDataFrame(rows[:split], "url string, text string")
    b1 = spark.createDataFrame(rows[split:], "url string, text string")
    segment_batch(b0, 0, f"{base}/segs", f"{base}/state", num_partitions=P)
    segment_batch(b1, 1, f"{base}/segs", f"{base}/state", num_partitions=P)
    refresh_streamed_index(
        spark, f"{base}/segs", f"{base}/state", f"{base}/index",
        num_partitions=P, n_buckets=8,
    )
    return f"{base}/index"


@pytest.fixture(scope="module")
def deleted_index(spark):
    """One corpus, shared across the tests: index + full results + the
    deleted set + masked results. Mutating steps happen in the tests, in
    dependency order (pytest runs a file's tests in order)."""
    shutil.rmtree(BASE, ignore_errors=True)
    corpus = make_documents(240, seed=11)
    rows = list(zip(corpus.url, corpus.text))
    idx = _mk_index(spark, BASE, rows)
    queries = make_queries()[:8]
    full = search(spark, idx, queries, k=20).collect()
    winners = sorted({r["url"] for r in full if r["rank"] <= 2})
    dead = winners[:3]  # deleted in test_delete_commit_and_idempotence (v1)
    dead2 = [u for u in sorted({r["url"] for r in full}) if u not in dead][:2]
    yield {
        "idx": idx, "rows": rows, "queries": queries, "full": full,
        "dead": dead, "dead2": dead2,
    }
    shutil.rmtree(BASE, ignore_errors=True)


def test_delete_commit_and_idempotence(spark, deleted_index):
    d = deleted_index
    info = delete_docs(spark, d["idx"], d["dead"])
    assert info == {"version": 1, "n_deleted": 3}
    # re-deleting the same urls (plus one the corpus never had): no new
    # version, no tombstone churn
    again = delete_docs(spark, d["idx"], d["dead"] + ["https://nowhere.example/x"])
    assert again == info
    meta = read_meta(d["idx"])
    assert meta["deletes"] == info


def test_masking_exact_all_modes(spark, deleted_index):
    """Masked top-k == full ranking minus deleted, survivors' scores
    byte-identical (stale-stats Lucene semantics), and the freed slots are
    backfilled by deeper-ranked docs (pre-heap mask, not post-filter)."""
    d = deleted_index
    masked = search(spark, d["idx"], d["queries"], k=20, mode="bmw").collect()
    assert not ({r["url"] for r in masked} & set(d["dead"]))
    fs = {(r["query_id"], r["url"]): r["score"] for r in d["full"]}
    for r in masked:
        if (r["query_id"], r["url"]) in fs:
            assert fs[(r["query_id"], r["url"])] == r["score"]
    n_backfilled = 0
    for qid in {r["query_id"] for r in d["full"]}:
        want = [
            r["url"]
            for r in sorted(
                (x for x in d["full"] if x["query_id"] == qid and x["url"] not in d["dead"]),
                key=lambda x: x["rank"],
            )
        ]
        got = [
            r["url"]
            for r in sorted(
                (x for x in masked if x["query_id"] == qid), key=lambda x: x["rank"]
            )
        ]
        assert got[: len(want)] == want
        n_backfilled += max(0, len(got) - len(want))
    assert n_backfilled > 0  # at least one 21st-ranked doc surfaced
    for mode in ("dense", "conjunctive"):
        m2 = search(spark, d["idx"], d["queries"], k=20, mode=mode).collect()
        assert not ({r["url"] for r in m2} & set(d["dead"])), mode


def test_masking_local_equals_distributed(spark, deleted_index, monkeypatch):
    """The tombstone mask (alone, and merged with '-term' negations) gives
    the same rows on the driver-local scoring path as on the fused
    distributed stage forced by LOCAL_QUERY_MAX_BYTES=-1 (both run the same
    per-cell reader and kernel; the fused tasks read the tombstones and
    negations from the closure)."""
    import pageindex_spark.plans.query as Q

    d = deleted_index
    assert read_meta(d["idx"])["deletes"]["n_deleted"] == len(d["dead"])
    neg = [(qid, f"{text} -ha") for qid, text in d["queries"]]
    for qs in (d["queries"], neg):
        for mode in ("bmw", "dense"):
            fast = sorted(
                tuple(r)
                for r in search(spark, d["idx"], qs, k=20, mode=mode).collect()
            )
            with monkeypatch.context() as m:
                m.setattr(Q, "LOCAL_QUERY_MAX_BYTES", -1)
                slow = sorted(
                    tuple(r)
                    for r in search(spark, d["idx"], qs, k=20, mode=mode).collect()
                )
            assert fast and fast == slow, (qs[0], mode)
            assert not ({r[2] for r in fast} & set(d["dead"]))


def test_masking_applies_to_phrase(spark, deleted_index):
    """Phrase search candidates come from the same masked conjunctive
    path — a deleted doc can't match a phrase."""
    d = deleted_index
    # phrase = first two tokens of a deleted doc's text (guaranteed hit
    # pre-delete)
    from pageindex_spark.functions.tokenizer import tokenize

    dead_url = d["dead"][0]
    text = dict(d["rows"])[dead_url]
    phrase = " ".join(tokenize(text)[:2])
    out = search_phrase(spark, d["idx"], [(0, phrase)], k=50).collect()
    assert dead_url not in {r["url"] for r in out}


def test_counts_and_facets_respect_masks(spark, deleted_index):
    """plans/hits.py full-match aggregations share search's exclusion
    contract: total hit counts and facet counts skip tombstoned docs and
    '-term'-negated docs, matching a brute-force recount of the corpus."""
    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.plans.hits import facet_counts, search_count

    d = deleted_index
    toks = {u: set(tokenize(t)) for u, t in d["rows"]}
    # negate a term that provably occurs in a LIVE doc matching query 1 (and
    # is not one of its positive terms), so the exclusion must bite
    _qid1, text1 = d["queries"][1]
    pos1 = set(tokenize(text1))
    base_match = {
        u
        for u, ts in toks.items()
        if ts & pos1 and u not in d["dead"]
    }
    neg = next(
        t
        for t in sorted({t for u in base_match for t in toks[u]} - pos1)
        if any(t not in toks[u] for u in base_match)
    )
    queries = [d["queries"][0], (99, f"{text1} -{neg}")]

    def brute(qtext):
        from pageindex_spark.functions.tokenizer import parse_query

        pos, negs = parse_query(qtext)
        pts = set(tokenize(pos))
        return {
            u
            for u, ts in toks.items()
            if ts & pts and u not in d["dead"] and not (ts & set(negs))
        }

    got = {
        r["query_id"]: r["n_hits"]
        for r in search_count(spark, d["idx"], queries).collect()
    }
    want = {qid: len(brute(text)) for qid, text in queries}
    want = {qid: n for qid, n in want.items() if n}
    assert got == want
    assert want[99] < len(brute(text1))  # the negation removed >= 1 doc

    dim = spark.createDataFrame(
        [(u, u[-1]) for u, _ in d["rows"]], "url string, facet string"
    )
    fc = {
        (r["query_id"], r["facet"]): r["n_docs"]
        for r in facet_counts(spark, d["idx"], queries, dim).collect()
    }
    from collections import Counter

    want_fc: dict[tuple[int, str], int] = {}
    for qid, text in queries:
        for f, n in Counter(u[-1] for u in brute(text)).items():
            want_fc[(qid, f)] = n
    assert fc == want_fc

    # sort-by-field shares the same exclusion contract and its two-phase
    # top-k must equal a brute-force sort of the masked match set (sort key
    # = url length here — plenty of ties, so the url-asc tie-break is
    # exercised; descending=False covers the ascending branch).
    from pageindex_spark.plans.hits import search_sorted_by

    skdim = spark.createDataFrame(
        [(u, len(u)) for u, _ in d["rows"]], "url string, sort_key long"
    )
    for desc in (True, False):
        got_s = sorted(
            (r["query_id"], r["rank"], r["url"], r["sort_key"])
            for r in search_sorted_by(
                spark, d["idx"], queries, skdim, k=3, descending=desc
            ).collect()
        )
        want_s = []
        for qid, text in queries:
            hits = sorted(
                brute(text), key=lambda u: ((-len(u) if desc else len(u)), u)
            )[:3]
            want_s.extend(
                (qid, r, u, len(u)) for r, u in enumerate(hits, start=1)
            )
        assert got_s == sorted(want_s), f"descending={desc}"


def test_crashed_delete_invisible(spark, deleted_index, monkeypatch):
    """A delete that crashes before its meta commit must leave queries
    (and the committed tombstone version) untouched; the next delete GCs
    the orphan dir and commits cleanly."""
    d = deleted_index
    more = d["dead2"]

    import pageindex_spark.plans.deletes as pdel

    def boom(index_dir, meta):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(pdel, "write_meta", boom)
    with pytest.raises(RuntimeError):
        delete_docs(spark, d["idx"], more)
    monkeypatch.undo()
    # uncommitted version dir exists on disk but meta still points at v1
    assert read_meta(d["idx"])["deletes"]["version"] == 1
    assert os.path.isdir(os.path.join(d["idx"], "tombstones", "version=2"))
    masked = search(spark, d["idx"], d["queries"], k=20).collect()
    assert {r["url"] for r in masked} & set(more)  # NOT yet deleted
    # next delete GCs the orphan and commits v2 for real (cumulative set)
    info = delete_docs(spark, d["idx"], more)
    assert info == {"version": 2, "n_deleted": 5}
    masked2 = search(spark, d["idx"], d["queries"], k=20).collect()
    assert not ({r["url"] for r in masked2} & (set(more) | set(d["dead"])))


def test_expunge_physically_removes_and_retightens(spark, deleted_index):
    """force_full refresh = expunge: tombstones cleared, postings decode to
    live docIDs only, deleted text rows gone, and results are rank+score
    IDENTICAL to a fresh streamed build over the surviving corpus (stats
    exact again). DocID slots are preserved (n_slots > n_docs)."""
    from pageindex_spark.operators.compaction import run_from_row
    from pageindex_spark.operators.runfmt import decode_run

    d = deleted_index
    dead_all = set(d["dead"]) | set(d["dead2"])  # v2 committed 5 urls
    refresh_streamed_index(
        spark, f"{BASE}/segs", f"{BASE}/state", d["idx"],
        num_partitions=4, n_buckets=8, force_full=True,
    )
    meta = read_meta(d["idx"])
    assert "deletes" not in meta
    assert meta["streamed"]["n_slots"] == 240 and meta["n_docs"] == 235
    ext = spark.read.parquet(os.path.join(d["idx"], "docs_extracted"))
    assert ext.filter(F.col("url").isin(list(dead_all))).count() == 0
    offs = {p: int(g) for p, g in enumerate(meta["grid"])}
    live = {
        offs[int(r["part_id"])] + int(r["local_pos"])
        for r in ext.select("part_id", "local_pos").collect()
    }
    runs = spark.read.parquet(os.path.join(d["idx"], "postings")).collect()
    alldocs = np.concatenate(
        [decode_run(run_from_row(r.asDict()))[0].astype(np.int64) for r in runs]
    )
    assert set(alldocs.tolist()) <= live

    exp = search(spark, d["idx"], d["queries"], k=20).collect()
    surv = [(u, t) for u, t in d["rows"] if u not in dead_all]
    idx2 = _mk_index(spark, f"{BASE}/fresh", surv, split=118)
    want = search(spark, idx2, d["queries"], k=20).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["url"], round(r["score"], 9)) for r in rows
    )
    assert key(exp) == key(want)


def test_incremental_refresh_after_expunge(spark, deleted_index):
    """n_slots bookkeeping: a new batch after an expunge extends the grid
    from the SLOT count (not the shrunken live count), so its docIDs stay
    collision-free and the grid-extension consistency check passes."""
    d = deleted_index
    extra = make_documents(40, seed=99)
    b2 = spark.createDataFrame(
        list(zip([u + "x" for u in extra.url], extra.text)),
        "url string, text string",
    )
    segment_batch(b2, 2, f"{BASE}/segs", f"{BASE}/state", num_partitions=4)
    refresh_streamed_index(
        spark, f"{BASE}/segs", f"{BASE}/state", d["idx"],
        num_partitions=4, n_buckets=8,
    )
    meta = read_meta(d["idx"])
    assert meta["streamed"]["n_slots"] == 280 and meta["n_docs"] == 275
    post = search(spark, d["idx"], d["queries"], k=20).collect()
    assert not ({r["url"] for r in post} & (set(d["dead"]) | set(d["dead2"])))


def test_mask_run_unit():
    """Block-preserving run masking: untouched runs pass through as the
    SAME object (zero decode), surviving postings byte-exact, empty result
    is None, offsets stay consistent."""
    from pageindex_spark.operators.runfmt import decode_run, encode_run, mask_run

    rng = np.random.default_rng(7)
    docs = np.sort(rng.choice(100_000, size=5_000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=5_000).astype(np.int64)
    dls = rng.integers(5, 400, size=5_000).astype(np.float64)
    run = encode_run(docs, tfs, dls, avgdl=120.0)

    assert mask_run(run, np.array([-5, 200_000], dtype=np.int64)) is run
    assert mask_run(run, docs) is None
    for frac in (0.001, 0.1, 0.9):
        dead = np.sort(rng.choice(docs, size=int(len(docs) * frac), replace=False))
        m = mask_run(run, dead.astype(np.int64))
        d2, t2 = decode_run(m)
        keep = ~np.isin(docs, dead)
        assert np.array_equal(d2.astype(np.int64), docs[keep])
        assert np.array_equal(t2.astype(np.int64), tfs[keep])
        assert m.first_doc == docs[keep][0] and m.last_doc == docs[keep][-1]
        assert m.n_docs == int(keep.sum())
        assert m.bm_doc_off[-1] == len(m.doc_blob)
        assert m.bm_tf_off[-1] == len(m.tf_blob)
        # block-max stays an upper bound on every surviving block's quality
        assert len(m.bm_maxq) == len(m.bm_ndocs) == len(m.bm_last)
        # blocks never grew past the originals
        assert m.bm_ndocs.max() <= run.bm_ndocs.max()


def test_delete_matching_by_content(spark, tmp_path):
    """delete_matching: conjunctive delete-by-content — every doc holding
    ALL query terms is tombstoned in one commit; absent/empty queries are
    no-ops; idempotent (no version churn on repeat)."""
    from pageindex_spark import build_index, search
    from pageindex_spark.plans.deletes import delete_matching

    rows = [
        ("u0", "alpha beta common"),
        ("u1", "alpha gamma common"),
        ("u2", "beta alpha common tail"),
        ("u3", "delta common"),
    ]
    idx = str(tmp_path / "idx")
    build_index(
        spark, spark.createDataFrame(rows, "url string, text string"), idx,
        num_partitions=2, n_buckets=4, n_seg_chunks=1, n_bucket_chunks=1,
    )
    info = delete_matching(spark, idx, "alpha beta")
    assert info["n_deleted"] == 2  # u0 and u2 (order-independent AND)
    got = {r["url"] for r in search(spark, idx, [(1, "common")], k=10).collect()}
    assert got == {"u1", "u3"}
    assert delete_matching(spark, idx, "alpha beta") == info  # idempotent
    assert delete_matching(spark, idx, "zzzabsent") == info  # no-op
    assert delete_matching(spark, idx, "") == info  # empty query no-op


def test_next_word_suggestions_exclude_tombstones(spark):
    """Completion (plans/hits.py suggest_next_word) must stop counting
    bigrams from deleted docs immediately — brute-force identity against a
    Python bigram count over the SURVIVING rows only, before and after the
    delete."""
    from collections import Counter

    from pageindex_spark.functions.tokenizer import tokenize
    from pageindex_spark.plans.hits import suggest_next_word

    base = "/root/repo/data/nextword-del-test"
    shutil.rmtree(base, ignore_errors=True)
    corpus = make_documents(120, seed=7)
    rows = list(zip(corpus.url, corpus.text))
    idx = _mk_index(spark, base, rows)
    seeds = ["ba", "ce", "di"]  # the synthetic Zipf head (sources/corpus.py)

    def oracle(live_rows):
        cnt: Counter = Counter()
        for _u, text in live_rows:
            toks = tokenize(text)
            for a, b in zip(toks, toks[1:]):
                if a in seeds:
                    cnt[(a, b)] += 1
        out = []
        for s in seeds:
            pairs = sorted(
                ((c, t) for (a, t), c in cnt.items() if a == s),
                key=lambda x: (-x[0], x[1]),
            )[:3]
            out.extend((s, r + 1, t, c) for r, (c, t) in enumerate(pairs))
        return sorted(out)

    got = sorted(
        tuple(r) for r in suggest_next_word(spark, idx, seeds, k=3).collect()
    )
    assert got == oracle(rows)
    assert got, "no seed produced any bigram — corpus/seed mismatch"
    # delete every doc containing some seed's TOP bigram at least once —
    # the suggestion table must re-rank from the survivors only
    top_seed, _r, top_next, _c = next(r for r in got if r[1] == 1)
    dead = [
        u for u, text in rows
        if any(a == top_seed and b == top_next
               for a, b in zip(tokenize(text), tokenize(text)[1:]))
    ]
    assert dead, "corpus never produced the top bigram?"
    delete_docs(spark, idx, dead)
    live = [(u, t) for u, t in rows if u not in set(dead)]
    got2 = sorted(
        tuple(r) for r in suggest_next_word(spark, idx, seeds, k=3).collect()
    )
    assert got2 == oracle(live)
    assert (top_seed, 1, top_next) not in {(s, r, t) for s, r, t, _ in got2}
    shutil.rmtree(base, ignore_errors=True)
