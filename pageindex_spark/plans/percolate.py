"""Percolation: reverse search — match INCOMING documents against a
REGISTERED query set (Elasticsearch ``percolate`` query; the saved-search /
alerting primitive). The forward engine answers "which docs match this
query"; percolation answers "which of my stored queries match this doc",
and it is the one retrieval surface that is natively a STREAMING operator:
every newly crawled page should fire the alerts subscribed to it without
rebuilding or even touching the index.

Reference parity: the reference is a forward-only retrieval pipeline
(/root/reference/README.md:179-188 — query in, nodes out); percolation is
part of this repo's round-5 web-scale surface set, mirroring the ES
percolator users pair with a full-text index.

Semantics (ES ``match`` with ``operator=and`` inside a percolator, plus
this engine's standing '-term' exclusion contract):

- a stored query is text tokenized by the SAME four-way-lockstep tokenizer
  as the index (tests/test_tokenizer_lockstep.py); matching is on DISTINCT
  terms (bag-of-words presence, like the postings themselves);
- a doc fires a query when it contains at least ``min_should_match`` of
  the query's distinct positive terms (default: ALL of them — conjunctive,
  the alerting-precision default) and NONE of its '-term' negations;
- a query with zero positive terms raises: a pure negation percolator
  matches "almost every doc" — an unbounded alert is a config error, the
  same reasoning as search_phrase_prefix's bare-prefix guard.

Two physical plans, ONE set of semantics, chosen by ``docs.isStreaming``
(overridable via ``stateless=``):

- **batch** (default for batch frames): explode each doc's DISTINCT tokens,
  broadcast-hash-join the registered (term -> query) table, one
  partial-aggregated groupBy (url, query_id). Scale shape: the registered
  query set is alerting-sized (10^4..10^6 tiny rows — always the broadcast
  side); the 100-TB side is scanned ONCE with tokenize + explode in
  whole-stage codegen; the only shuffle carries (url, query_id) HIT pairs
  (docs sharing zero terms with any query never leave the map side).
- **stateless** (required for append-mode streams, where a groupBy would
  demand update/complete output): the query set inlines as a LITERAL
  array-of-structs, each doc row cross-explodes against it and the match
  test is ``array_intersect`` in codegen — zero shuffle, zero state, safe
  under any trigger at any watermark. The inline literal bounds the query
  set (~10^3: codegen expression size), which is exactly the regime where
  stateless streaming percolation is the right call; bigger registered
  sets use the batch plan over micro-batches (``foreachBatch``).

Both plans return the same rows: (url, query_id, n_matched, n_required).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.tokenizer import parse_query, tokenize
from ..session import local_df


def _parse_registered(
    queries: list[tuple[int, str]], min_should_match: int | None
) -> list[tuple[int, list[str], list[str], int]]:
    """(query_id, positive_terms, negative_terms, n_required) rows; distinct
    sorted terms, conjunctive default, guards raised here so both physical
    plans share them."""
    out = []
    for qid, text in queries:
        pos, negs = parse_query(text)
        terms = sorted(set(tokenize(pos)))
        nterms = sorted({t for n in negs for t in tokenize(n)})
        if not terms:
            raise ValueError(
                f"query {qid}: a percolator needs >= 1 positive term "
                "(pure negation matches an unbounded doc set)"
            )
        req = len(terms) if min_should_match is None else min_should_match
        if req < 1:
            raise ValueError(f"min_should_match must be >= 1, got {req}")
        req = min(req, len(terms))
        out.append((qid, terms, nterms, req))
    return out


def _doc_tokens(docs: DataFrame) -> DataFrame:
    from ..functions.sqlglue import spark_terms

    return docs.select(
        "url", F.array_distinct(F.expr(spark_terms("text"))).alias("tk")
    )


def percolate(
    spark: SparkSession,
    queries: list[tuple[int, str]],
    docs: DataFrame,
    min_should_match: int | None = None,
    stateless: bool | None = None,
) -> DataFrame:
    """Match ``docs`` (url, text — batch or streaming) against the
    registered ``queries`` -> (url, query_id, n_matched, n_required).
    See the module docstring for semantics and the two physical plans."""
    reg = _parse_registered(queries, min_should_match)
    if stateless is None:
        stateless = docs.isStreaming
    toks = _doc_tokens(docs)
    if stateless:
        def arr(ts: list[str]) -> str:
            if not ts:
                return "cast(array() as array<string>)"
            return "array(" + ", ".join(f"'{t}'" for t in ts) + ")"

        structs = ", ".join(
            f"named_struct('query_id', {qid}, 'terms', {arr(ts)}, "
            f"'negs', {arr(ns)}, 'n_required', cast({req} as long))"
            for qid, ts, ns, req in reg
        )
        return (
            toks.select("url", F.expr(f"explode(array({structs}))").alias("q"), "tk")
            .select(
                "url",
                F.col("q.query_id").alias("query_id"),
                F.size(F.array_intersect("tk", "q.terms"))
                .cast("long")
                .alias("n_matched"),
                F.size(F.array_intersect("tk", "q.negs")).alias("n_neg"),
                F.col("q.n_required").alias("n_required"),
            )
            .filter(
                (F.col("n_neg") == 0)
                & (F.col("n_matched") >= F.col("n_required"))
            )
            .drop("n_neg")
        )
    rows = [
        (qid, t, is_neg, req)
        for qid, ts, ns, req in reg
        for t, is_neg in [(t, False) for t in ts] + [(t, True) for t in ns]
    ]
    qdf = local_df(
        spark,
        rows, "query_id int, term string, is_neg boolean, n_required long"
    )
    return (
        toks.select("url", F.explode("tk").alias("term"))
        .join(F.broadcast(qdf), "term")
        .groupBy("url", "query_id")
        .agg(
            F.sum(F.when(~F.col("is_neg"), 1).otherwise(0))
            .cast("long")
            .alias("n_matched"),
            F.sum(F.when(F.col("is_neg"), 1).otherwise(0)).alias("n_neg"),
            F.first("n_required").alias("n_required"),
        )
        .filter(
            (F.col("n_neg") == 0) & (F.col("n_matched") >= F.col("n_required"))
        )
        .select("url", "query_id", "n_matched", "n_required")
    )
