"""Driver-contract queries: each operator from SURVEY.md §2 exposed as a
(spark_sql, duckdb_sql) pair over the driver's testdata tables.

Design rules (see ``functions/sqlglue.py``):
* identical column aliases in both dialects;
* doubles leave queries as fixed-point bigints (floor(x*1eK)) — hash-stable;
* ranks are computed over the FLOORED value, so rank assignment is
  bit-identical across engines even when the last float ulp differs;
* deterministic tie-breaks everywhere (no bare LIMIT without ORDER BY).

The Spark side runs as ``spark.sql`` over temp views so Catalyst sees a
declarative plan (predicate pushdown, column pruning, broadcast all apply);
operators that exercise the custom engine (SPIMI/WAND, LSH-ANN, multimodal)
use the DataFrame/Arrow API and are flagged no-oracle in ``__spark_entry__``
(driver records the weaker rows-only check) unless a SQL twin exists.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from .session import EXCLUDED_RULES, INFER_FILTERS_FROM_GENERATE, with_excluded_rule

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Fixed flagship BM25 queries (terms exist in the testdata documents vocab).
BM25_QUERIES = [
    (1, "data spark"),
    (2, "window merge sort"),
    (3, "customer"),
    (4, "stream batch fast slow"),
    (5, "join filter group"),
]

# Fixed phrase queries (bigrams; the twin's adjacency check is written for
# 2-term phrases — engine `search_phrase` itself takes any length).
PHRASE_QUERIES = [
    (1, "data spark"),
    (2, "merge sort"),
    (3, "fast slow"),
    (4, "join filter"),
    (5, "stream batch"),
]

# minimum_should_match query set: built around 'dup' — the ONE rare term in
# the synthetic vocab (df ~5% vs ~80% for everything else; idf ~3.0 vs ~0.3).
# OR ranking tops dup-only docs on idf alone, so the >=2-matches requirement
# genuinely changes the winners (queries 1/2/5 differ from plain OR at k=10
# on sf0.001; query 3 pins the single-term clamp-to-OR behavior).
MSM_QUERIES = [
    (1, "dup line"),
    (2, "dup small group"),
    (3, "dup"),
    (4, "dup data join filter"),
    (5, "dup vector"),
]

# Prefix-wildcard query set ('term*' syntax, plans/query.py search_prefix):
# multi-expansion stems ('s*' -> scan/slow/small/sort/spark/stream), mixed
# literal+prefix, a stem that IS also a full term's prefix ('qu*' -> query),
# and a no-match stem ('z*' -> query 5 returns zero rows on both sides).
PREFIX_QUERIES = [
    (1, "s*"),
    (2, "qu* dup"),
    (3, "ta* win*"),
    (4, "customer or*"),
    (5, "z*"),
]

# Fuzzy query set (plans/query.py search_fuzzy, max_edits=1): typos one edit
# from real vocab terms ('custmer'->customer, 'windoq'->window, 'qury'->query,
# 'dupp'->dup — the rare term, 'merje'->merge+merte-like neighbors), plus one
# clean term ('line' matches itself and any 1-edit neighbors).
FUZZY_QUERIES = [
    (1, "custmer"),
    (2, "windoq merje"),
    (3, "qury"),
    (4, "dupp line"),
    (5, "zzzzz"),
]

# Regexp query set (plans/query.py search_regexp — ES regexp query, full-term
# anchored match, engine-portable subset: literals/classes/quantifiers/
# alternation only): 'cust[a-z]*' (prefix-class), 'w.ndow' (single-any mid),
# '(qu|v)ery' (alternation), '[a-z]*rge' (leading-any), and a no-match
# pattern ('zzz[0-9]+x' -> query 5 returns zero rows on both sides).
REGEXP_QUERIES = [
    (1, "cust[a-z]*"),
    (2, "w.ndow"),
    (3, "(qu|v)ery"),
    (4, "[a-z]*rge"),
    (5, "zzz[0-9]+x"),
]

# Percentile-ranks thresholds (plans/hits.py match_percentile_ranks) over
# documents.n_chars — one below the corpus floor (rank6 = 0 row must still
# emit), one mid-mass, one above almost everything.
AT_VALUES = [40, 300, 1500]

# General-wildcard query set ('*' any run / '?' one char, ANY position —
# plans/query.py search_wildcard): 's?a*' -> scan/small/spark (mid-word '?'),
# 'w*w' -> window (inner '*'), '?uery' -> query (LEADING wildcard, the
# full-dictionary-scan path), mixed literal+pattern, and a no-match pattern
# ('zz*q' -> query 5 returns zero rows on both sides).
WILDCARD_QUERIES = [
    (1, "s?a*"),
    (2, "w*w dup"),
    (3, "?uery"),
    (4, "customer or?er"),
    (5, "zz*q"),
]

# Per-term boost query set ('term^w' syntax, plans/query.py): weights chosen
# to actually reorder winners vs plain OR (damping/amplifying the rare 'dup'
# term flips which docs top the list; query 3 pins uniform score scaling on
# a single-term query).
BOOST_QUERIES = [
    (1, "dup^0.1 line"),
    (2, "window^4 merge sort"),
    (3, "customer^2.5"),
    (4, "dup line^6"),
    (5, "dup^10 vector^0.2"),
]

# query_string mini-language set (plans/query.py search_query_string; shared
# grammar functions/tokenizer.parse_query_string). One query per clause
# family: boost+NOT, must+shoulds, required phrase + boosted should, prefix
# expansion + negated phrase, double must. Phrases stay 2-token so the twin
# can reuse the bigram adjacency fragment; engine pytest covers longer ones.
QS_QUERIES = [
    (1, "data^2 spark -table"),
    (2, "+dup line small"),
    (3, '"merge sort" window^1.5'),
    (4, 's* -"fast slow" join'),
    (5, "+customer +query vector"),
]

STOPWORDS_SQL = "'the','of','and','to','a','in','is','it','data','for'"
LANGS = {
    "de": "'der','die','und','das','ist'",
    "en": "'the','of','and','to','a'",
    "es": "'el','los','que','de','y'",
    "fr": "'le','la','et','les','des'",
}


class _Dialect:
    """Minimal expression toolkit for the two engines."""

    def __init__(self, name: str):
        self.name = name
        self.duck = name == "duck"

    def terms(self, col: str) -> str:
        # single source of truth: sqlglue. The Spark side EXTRACTS the
        # positive token class then lowers (equivalent by construction;
        # JDK 17's negated-class path is ~6x slower and anti-scales with
        # threads — see the SPARK_TERMS docstring); the DuckDB side keeps
        # strip -> lower -> split. Never rewrite either back.
        from .functions.sqlglue import DUCK_TERMS, SPARK_TERMS

        return (DUCK_TERMS if self.duck else SPARK_TERMS).format(col=col)

    def size(self, a: str) -> str:
        return f"len({a})" if self.duck else f"size({a})"

    def unnest(self, a: str) -> str:
        return f"unnest({a})" if self.duck else f"explode({a})"

    def contains(self, lst: str, x: str) -> str:
        if self.duck:
            return f"list_contains([{lst}], {x})"
        return f"array_contains(array({lst}), {x})"

    def arr_contains(self, a: str, x: str) -> str:
        """Membership in an ARRAY COLUMN (contains() builds a literal list)."""
        if self.duck:
            return f"list_contains({a}, {x})"
        return f"array_contains({a}, {x})"

    def concat(self, *parts: str) -> str:
        if self.duck:
            return " || ".join(parts)
        return f"concat({', '.join(parts)})"

    def shingles(self, a: str) -> str:
        """Token 3-grams; empty when < 3 tokens (both dialects)."""
        if self.duck:
            return (
                f"list_transform(generate_series(1, {self.size(a)} - 2), "
                f"i -> {a}[i] || ' ' || {a}[i+1] || ' ' || {a}[i+2])"
            )
        return (
            f"case when {self.size(a)} >= 3 then "
            f"transform(sequence(0, {self.size(a)} - 3), "
            f"i -> concat({a}[i], ' ', {a}[i+1], ' ', {a}[i+2])) "
            f"else array() end"
        )

    def hash60(self, s: str) -> str:
        if self.duck:
            return f"cast(('0x' || substr(md5({s}), 1, 15))::ubigint as bigint)"
        return f"cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"

    def shiftr(self, x: str, b: int) -> str:
        return f"({x} >> {b})" if self.duck else f"shiftright({x}, {b})"

    def hash32(self, s: str, hexoff: int) -> str:
        """32-bit hash: 8 md5 hex chars starting at 1-based ``hexoff``."""
        if self.duck:
            return f"cast(('0x' || substr(md5({s}), {hexoff}, 8))::ubigint as bigint)"
        return f"cast(conv(substr(md5({s}), {hexoff}, 8), 16, 10) as bigint)"

    def shiftl(self, x: str, b: str) -> str:
        """int64 left shift by an expression (callers keep b <= 62: DuckDB
        range-checks bit 63 where Java silently wraps negative)."""
        if self.duck:
            return f"(cast({x} as bigint) << ({b}))"
        return f"shiftleft(cast({x} as bigint), {b})"

    def idiv(self, a: str, b: int) -> str:
        """Integer division (non-negative operands)."""
        return f"({a} // {b})" if self.duck else f"({a} div {b})"

    def xor(self, a: str, b: str) -> str:
        return f"xor({a}, {b})" if self.duck else f"({a} ^ {b})"

    def re_replace(self, col: str, pat: str, rep: str) -> str:
        if self.duck:
            return f"regexp_replace({col}, '{pat}', '{rep}', 'g')"
        return f"regexp_replace({col}, '{pat}', '{rep}')"

    def arr_min(self, a: str) -> str:
        return f"list_aggregate({a}, 'min')" if self.duck else f"array_min({a})"

    def arr_distinct(self, a: str) -> str:
        return f"list_distinct({a})" if self.duck else f"array_distinct({a})"

    def arr_intersect(self, a: str, b: str) -> str:
        return f"list_intersect({a}, {b})" if self.duck else f"array_intersect({a}, {b})"

    def head_slice(self, a: str, n: int) -> str:
        """First ``n`` elements of an array column (shorter arrays pass
        through whole in both dialects)."""
        return f"{a}[1:{n}]" if self.duck else f"slice({a}, 1, {n})"

    def str_type(self) -> str:
        return "varchar" if self.duck else "string"

    def dot(self, a: str, b: str) -> str:
        """Float64 dot product with a sequential fold in BOTH engines."""
        if self.duck:
            return (
                f"list_sum(list_transform(generate_series(1, {self.size(a)}), "
                f"i -> cast({a}[i] as double) * cast({b}[i] as double)))"
            )
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
            f"cast(0.0 as double), (acc, x) -> acc + x)"
        )


def _bm25_sql(
    d: _Dialect,
    corpus_pred: str | None = None,
    mask_pred: str | None = None,
    neg: list[tuple[int, str]] | None = None,
    queries: list[tuple[int, str]] | None = None,
    boosts: list[tuple[int, str, float]] | None = None,
    rank_where: str = "rank <= 10",
    k1: float = 1.2,
    b: float = 0.75,
    after_rank: int | None = None,
) -> str:
    """BM25 top-10 twin. ``corpus_pred`` filters the corpus BEFORE stats
    (expunged-deletes semantics: df/avgdl/n_docs over survivors only);
    ``mask_pred`` filters scored docs AFTER stats (masked-deletes /
    Lucene stale-stats semantics: survivors keep their full-corpus
    scores, ranks compact). Mirrors plans/deletes.py's two layers.
    ``neg`` = per-query (query_id, negated term): scored docs containing
    that query's NOT term are dropped after scoring — the '-term' boolean
    NOT semantics of plans/query.py (exclusion never changes survivor
    scores). ``boosts`` = per-(query, term) weights multiplying the term's
    idf — the 'term^2.5' syntax of plans/query.py (weight placement matches
    the engine's idf-fold: ``ln(...) * wt``). ``k1``/``b`` mirror the
    engine's query-time similarity overrides (plans/query.py search).
    ``after_rank`` is the CURSOR-paging twin (plans/query.py
    ``search_after``): per query, the (score6, doc_id) sort values of the
    row at that rank become the cursor, and the result is the next rows
    STRICTLY past it in (score6 desc, doc_id asc) order, re-ranked 1..k
    page-relative — queries with no row at that rank (first page not full)
    have no cursor and return nothing, mirroring the engine entry."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in (queries or BM25_QUERIES))
    corpus_where = f" where {corpus_pred}" if corpus_pred else ""
    # Spark-side-only occurrence prefilter (guide §2.3 "shuffle fewer
    # bytes"): contrib/dfreq only ever consult postings rows whose term is
    # one of the queries' tokens, so the exploded occurrence stream is cut
    # to those terms BEFORE the (term, doc_id) partial aggregation and its
    # exchange — the shuffle carries a few query terms' occurrences instead
    # of the whole corpus token stream. The literal IN-list comes from the
    # SAME lockstep tokenizer the SQL expression implements (pinned by
    # tests/test_tokenizer_lockstep.py), so it is a superset-by-construction
    # of the SQL-side qterms and results are identical. The DuckDB oracle
    # text below is untouched (occ_filter is empty for the duck dialect).
    occ_line = f"occ as (select doc_id, {d.unnest('terms')} as term from toks),"
    if not d.duck:
        from .functions.tokenizer import tokenize

        qtoks = sorted(
            {t for _qid, txt in (queries or BM25_QUERIES) for t in tokenize(txt)}
        )
        if qtoks:
            inlist = ", ".join(f"'{t}'" for t in qtoks)
            occ_line = (
                "occ as (select * from (select doc_id, "
                f"{d.unnest('terms')} as term from toks) where term in ({inlist})),"
            )
    boost_cte, boost_join, boost_mul = "", "", ""
    if boosts:
        bvals = ", ".join(f"({q}, '{t}', {w!r})" for q, t, w in boosts)
        boost_cte = f"qw(query_id, term, wt) as (values {bvals}),\n"
        boost_join = (
            "\n  left join qw on qw.query_id = q.query_id and qw.term = q.term"
        )
        boost_mul = " * coalesce(qw.wt, 1.0)"
    neg_cte = ""
    conds = [mask_pred] if mask_pred else []
    if neg:
        nvals = ", ".join(f"({qid}, '{t}')" for qid, t in neg)
        neg_cte = f"negs(query_id, neg_term) as (values {nvals}),\n"
        conds.append(
            "not exists (select 1 from negs n, toks t "
            "where n.query_id = scored.query_id and t.doc_id = scored.doc_id "
            f"and {d.arr_contains('t.terms', 'n.neg_term')})"
        )
    mask_where = f" where {' and '.join(conds)}" if conds else ""
    # Spark-side doc_len via the allocation-free count form
    # (sqlglue.SPARK_TERM_COUNT == size(SPARK_TERMS) by construction,
    # lockstep-pinned): the doc_stats branch then never materializes the
    # token arrays — one regexp scan instead of extract+transform+lower,
    # the same swap the engine's extract stage made in r5 (guide §1.2
    # per-task work). The duck text keeps the original toks-based form.
    if d.duck:
        doc_stats_line = (
            "doc_stats as (select doc_id, "
            f"cast({d.size('terms')} as bigint) as doc_len from toks),"
        )
    else:
        from .functions.sqlglue import SPARK_TERM_COUNT

        doc_stats_line = (
            "doc_stats as (select doc_id, "
            f"cast({SPARK_TERM_COUNT.format(col='text')} as bigint) as doc_len "
            f"from documents{corpus_where}),"
        )
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{neg_cte}{boost_cte}
toks as (select doc_id, {d.terms('text')} as terms from documents{corpus_where}),
{doc_stats_line}
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{occ_line}
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0){boost_mul}
           * p.tf * {k1 + 1.0!r} / (p.tf + {k1!r} * (1.0 - {b!r} + {b!r} * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c{boost_join}
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored{mask_where}
)
{_after_tail(after_rank) if after_rank else
 f"select query_id, rank, doc_id, score6 from ranked where {rank_where}"}
"""


def _after_tail(after_rank: int, k: int = 10) -> str:
    """The search_after tail over a ``ranked`` CTE: cursor = each query's
    rank-``after_rank`` sort values, result = the next ``k`` rows strictly
    past it, re-ranked 1..k (see ``_bm25_sql``'s after_rank doc)."""
    return f""", cursor as (
  select query_id, score6 as cs6, doc_id as cdid from ranked where rank = {after_rank}
),
paged as (
  select r.query_id, r.doc_id, r.score6,
         row_number() over (partition by r.query_id order by r.score6 desc, r.doc_id asc) as rank
  from ranked r join cursor c on c.query_id = r.query_id
  where r.score6 < c.cs6 or (r.score6 = c.cs6 and r.doc_id > c.cdid)
)
select query_id, rank, doc_id, score6 from paged where rank <= {k}"""


# Query-id -> embeddings.vec_id for the hybrid-RRF entries: each text query
# (BM25_QUERIES) pairs with one query VECTOR sourced from the embeddings
# table (a test artifact standing in for an external encoder — no
# self-exclusion on either side, the vector is "external" by contract).
HYBRID_QVECS = [(1, 11), (2, 42), (3, 7), (4, 123), (5, 250)]
HYBRID_DEPTH = 30
HYBRID_K_RRF = 60


def _hybrid_rrf_sql(d: _Dialect, k: int = 10) -> str:
    """Hybrid sparse+dense twin (plans/hybrid.py ``hybrid_search_rrf``):
    BM25 ranks (the standard contrib pipeline, floored-score order) and
    cosine ranks (the ann twin's floored-cos6 order, NO self-exclusion)
    each cut at HYBRID_DEPTH, fused by INTEGERIZED Reciprocal Rank Fusion —
    ``floor(1e6 / (k_rrf + rank))`` per list, summed as bigints, so both
    engines hash identically (a float RRF sum would hinge on addition
    order). Docs in only one list keep that list's contribution (full
    outer join — the standard RRF missing-doc rule)."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    qmap = ", ".join(f"({qid}, {vid})" for qid, vid in HYBRID_QVECS)
    dep, krrf = HYBRID_DEPTH, HYBRID_K_RRF
    dot = d.dot("q.qe", "c.embedding")
    nq = f"sqrt({d.dot('q.qe', 'q.qe')})"
    nc = f"sqrt({d.dot('c.embedding', 'c.embedding')})"
    return f"""
with queries(query_id, query_text) as (values {qlist}),
qmap(query_id, vid) as (values {qmap}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
sscored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
sparse as (
  select * from (
    select query_id, doc_id,
           row_number() over (partition by query_id order by score6 desc, doc_id asc) as sr
    from sscored
  ) t where sr <= {dep}
),
qv as (select m.query_id, e.embedding as qe from qmap m join embeddings e on e.vec_id = m.vid),
dscored as (
  select q.query_id, c.vec_id as doc_id,
         cast(floor(({dot}) / (({nq}) * ({nc})) * 1000000) as bigint) as cos6
  from qv q join embeddings c on true
),
dense as (
  select * from (
    select query_id, doc_id,
           row_number() over (partition by query_id order by cos6 desc, doc_id asc) as dr
    from dscored
  ) t where dr <= {dep}
),
fused as (
  select coalesce(s.query_id, e.query_id) as query_id,
         coalesce(s.doc_id, e.doc_id) as doc_id,
         coalesce(cast(floor(1000000.0 / ({krrf} + s.sr)) as bigint), 0)
           + coalesce(cast(floor(1000000.0 / ({krrf} + e.dr)) as bigint), 0) as rrf6
  from sparse s full outer join dense e
    on s.query_id = e.query_id and s.doc_id = e.doc_id
),
rranked as (
  select query_id, doc_id, rrf6,
         row_number() over (partition by query_id order by rrf6 desc, doc_id asc) as rank
  from fused
)
select query_id, rank, doc_id, rrf6 from rranked where rank <= {k}
"""


# Deterministic delete set for the delete-semantics driver entries: every
# 7th doc (engine side deletes the same docs by their lpad'd url).
DELETE_PRED = "doc_id % 7 = 3"

# Per-query NOT term for the boolean-exclusion entries (engine side appends
# " -<term>" to the flagship query; terms chosen present in the testdata
# vocab and disjoint from each query's positive terms).
NOT_NEG = {1: "window", 2: "customer", 3: "merge", 4: "table", 5: "row"}

# Attribute filter for the filtered-search entries (Lucene filter context:
# only docs passing the predicate may rank; scores stay corpus-wide). The
# engine side passes the same docs as a filter_urls DataFrame.
FILTER_PRED = "lang = 'en'"

# Autocomplete prefixes for the term-suggest entries: a fan-out prefix
# ('s' matches 6 vocab terms), two narrower ones, and one matching nothing
# (its query_id must yield zero rows on both sides).
SUGGEST_PREFIXES = [(1, "s"), (2, "c"), (3, "qu"), (4, "zzz")]

# Seed documents for the more-like-this entries (engine side passes the
# same docs as lpad'd urls).
MLT_SEEDS = [(1, 3), (2, 57), (3, 123), (4, 250), (5, 499)]

# Query-time synonym mapping for the synonym-expansion entries
# (plans/query.py search_synonyms; shared lockstep expander
# functions/tokenizer.expand_synonyms). All keys/values are corpus terms so
# the expansion genuinely reorders winners; query 5's only token is
# index-absent but its synonym is common — results come purely from the
# expansion (the "query rewrite rescues the query" case).
SYNONYMS = {
    "customer": ["order"],
    "merge": ["sort", "join"],
    "fast": ["slow"],
    "zzznope": ["data"],
}
SYN_QUERIES = [
    (1, "customer"),
    (2, "window merge"),
    (3, "fast query"),
    (4, "data"),
    (5, "zzznope"),
]

# Range-facet boundaries for the range-aggregation entries (plans/hits.py
# range_facets over documents.n_chars — sf corpus spans ~48..553 chars, so
# every bucket is populated): buckets [0,150) [150,300) [300,450) [450,600).
RANGE_BOUNDS = [0, 150, 300, 450, 600]

# Rescore-window parameters (plans/query.py rescore_phrase over
# PHRASE_QUERIES): top-RESCORE_WINDOW by BM25, +RESCORE_BONUS for docs
# containing the contiguous phrase, re-ranked top-10. The planted phrases
# make the bonus genuinely reorder (phrase docs jump past higher-BM25
# non-phrase docs).
RESCORE_WINDOW = 30
RESCORE_BONUS = 0.5

# Slop for the proximity/NEAR entries (plans/query.py search_phrase slop=N:
# ordered match, up to N extra tokens inside the window — engine verifies
# via the positions-sidecar greedy chain AND the codegen text predicate).
NEAR_SLOP = 2

# Unordered-NEAR probes: the PHRASE_QUERIES bigrams REVERSED — ordered NEAR
# on these misses every contiguous planted phrase, unordered NEAR finds
# them all (plus genuine reverse co-occurrences), so the entry provably
# exercises the in_order=False branch.
NEAR_UNORD_QUERIES = [
    (qid, " ".join(reversed(t.split()))) for qid, t in PHRASE_QUERIES
]

# Query-time BM25 similarity overrides for the tuned-search entries (the
# classic short-field web tuning; engine passes search(k1=, b=) — committed
# index bytes built at (1.2, 0.75) are reused, BMW bounds inflate by the
# provable parameter factor in plans/query.py:_param_bound_scale).
TUNED_K1 = 0.9
TUNED_B = 0.4


def _suggest_sql(d: _Dialect, k: int = 10) -> str:
    """Term-suggest twin: for each prefix, the index terms starting with it
    ranked by document frequency desc, term asc (plans/query.py
    suggest_terms — the engine reads the same df from term_stats)."""
    plist = ", ".join(f"({qid}, '{p}')" for qid, p in SUGGEST_PREFIXES)
    return f"""
with prefixes(query_id, prefix) as (values {plist}),
occ as (select doc_id, {d.unnest(d.terms('text'))} as term from documents),
dfreq as (select term, cast(count(distinct doc_id) as bigint) as df from occ group by term),
matched as (
  select p.query_id, f.term, f.df
  from prefixes p join dfreq f on f.term like p.prefix || '%'
),
ranked as (
  select query_id, term, df,
         row_number() over (partition by query_id order by df desc, term asc) as rank
  from matched
)
select query_id, rank, term, df from ranked where rank <= {k}
"""


def _suggest_spell_sql(d: _Dialect, s: int = 3, max_edits: int = 1) -> str:
    """Did-you-mean twin (plans/query.py ``suggest_spelling``): each query
    token ABSENT from the vocabulary (suggest_mode=missing) joins every
    vocabulary term within ``max_edits`` Levenshtein edits, ranked by
    (edit distance asc, df desc, term asc) — Lucene DirectSpellChecker's
    comparator. Reuses FUZZY_QUERIES: the misspellings that fuzzy
    RETRIEVAL rescues are exactly what a suggester must correct."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in FUZZY_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
occ as (select doc_id, {d.unnest(d.terms('text'))} as term from documents),
dfreq as (select term, cast(count(distinct doc_id) as bigint) as df from occ group by term),
qtok as (select distinct query_id, {d.unnest(d.terms('query_text'))} as token from queries),
missing as (
  select q.query_id, q.token from qtok q
  left join dfreq v on v.term = q.token where v.term is null
),
cand as (
  select m.query_id, m.token, f.term as suggestion,
         cast(levenshtein(m.token, f.term) as int) as dist, f.df
  from missing m join dfreq f on levenshtein(m.token, f.term) <= {max_edits}
),
ranked as (
  select query_id, token, suggestion, dist, df,
         row_number() over (partition by query_id, token
                            order by dist asc, df desc, suggestion asc) as rank
  from cand
)
select query_id, token, rank, suggestion, dist, df from ranked where rank <= {s}
"""


HYBRID_WEIGHT_PCT = 70


def _hybrid_linear_sql(d: _Dialect, k: int = 10) -> str:
    """Linear-fusion twin (plans/hybrid.py ``hybrid_search_linear``): the
    same two depth-cut retriever lists as the RRF twin, but carrying their
    floored scores; each list min-max normalizes per query in pure int64
    (((v - mn) * 1e6) div (mx - mn); single-value lists pin to 1e6), docs
    combine as HYBRID_WEIGHT_PCT% sparse + rest dense with an integer
    div-100 — no float past the two floored retriever scores."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    qmap = ", ".join(f"({qid}, {vid})" for qid, vid in HYBRID_QVECS)
    dep, pct = HYBRID_DEPTH, HYBRID_WEIGHT_PCT
    idiv = "//" if d.duck else "div"
    dot = d.dot("q.qe", "c.embedding")
    nq = f"sqrt({d.dot('q.qe', 'q.qe')})"
    nc = f"sqrt({d.dot('c.embedding', 'c.embedding')})"
    return f"""
with queries(query_id, query_text) as (values {qlist}),
qmap(query_id, vid) as (values {qmap}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
sscored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as s6
  from contrib group by query_id, doc_id
),
sparse as (
  select * from (
    select query_id, doc_id, s6,
           row_number() over (partition by query_id order by s6 desc, doc_id asc) as sr
    from sscored
  ) t where sr <= {dep}
),
snorm as (
  select l.query_id, l.doc_id,
         case when mm.mx = mm.mn then cast(1000000 as bigint)
              else ((l.s6 - mm.mn) * 1000000) {idiv} (mm.mx - mm.mn) end as sn6
  from sparse l join (
    select query_id, min(s6) as mn, max(s6) as mx from sparse group by query_id
  ) mm on mm.query_id = l.query_id
),
qv as (select m.query_id, e.embedding as qe from qmap m join embeddings e on e.vec_id = m.vid),
dscored as (
  select q.query_id, c.vec_id as doc_id,
         cast(floor(({dot}) / (({nq}) * ({nc})) * 1000000) as bigint) as d6
  from qv q join embeddings c on true
),
dense as (
  select * from (
    select query_id, doc_id, d6,
           row_number() over (partition by query_id order by d6 desc, doc_id asc) as dr
    from dscored
  ) t where dr <= {dep}
),
dnorm as (
  select l.query_id, l.doc_id,
         case when mm.mx = mm.mn then cast(1000000 as bigint)
              else ((l.d6 - mm.mn) * 1000000) {idiv} (mm.mx - mm.mn) end as dn6
  from dense l join (
    select query_id, min(d6) as mn, max(d6) as mx from dense group by query_id
  ) mm on mm.query_id = l.query_id
),
fused as (
  select coalesce(s.query_id, e.query_id) as query_id,
         coalesce(s.doc_id, e.doc_id) as doc_id,
         ({pct} * coalesce(s.sn6, 0) + {100 - pct} * coalesce(e.dn6, 0)) {idiv} 100 as lin6
  from snorm s full outer join dnorm e
    on s.query_id = e.query_id and s.doc_id = e.doc_id
),
rranked as (
  select query_id, doc_id, lin6,
         row_number() over (partition by query_id order by lin6 desc, doc_id asc) as rank
  from fused
)
select query_id, rank, doc_id, lin6 from rranked where rank <= {k}
"""


def _mlt_sql(d: _Dialect, k: int = 10, max_terms: int = 10) -> str:
    """More-like-this twin (plans/query.py more_like_this): each seed doc's
    ``max_terms`` top terms by floor(tf * idf * 1e6) desc / term asc form an
    unweighted OR query scored by the standard BM25 pipeline; the seed
    itself is masked from its own ranking (scores corpus-wide — the mask is
    the filter-context shape)."""
    slist = ", ".join(f"({qid}, {did})" for qid, did in MLT_SEEDS)
    return f"""
with seeds(query_id, seed_id) as (values {slist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
seed_sel as (
  select s.query_id, p.term,
         row_number() over (
           partition by s.query_id
           order by cast(floor(p.tf * ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0) * 1000000) as bigint) desc,
                    p.term asc
         ) as trank
  from seeds s
  join postings p on p.doc_id = s.seed_id
  join dfreq f on f.term = p.term
  cross join corpus c
),
qterms as (select query_id, term from seed_sel where trank <= {max_terms}),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - f.df + 0.5) / (f.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq f on f.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
  where not exists (
    select 1 from seeds s
    where s.query_id = scored.query_id and s.seed_id = scored.doc_id
  )
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


def _phrase_sql(
    d: _Dialect,
    slop: int = 0,
    in_order: bool = True,
    queries: list[tuple[int, str]] | None = None,
) -> str:
    """Phrase top-k twin: docs where the bigram appears CONTIGUOUSLY
    (slop=0) or in order within ``slop`` extra tokens (the
    SpanNearQuery(inOrder) window: second term at most slop+1 slots past
    the first) — or, with ``in_order=False``, BOTH terms inside any
    ``slop + 2``-token window in any order (SpanNearQuery(inOrder=false):
    anchor every occurrence of either term; a real match's minimal window
    starts at one) — ranked by BM25 over the phrase's two terms (same
    scoring pipeline as ``_bm25_sql``). DuckDB lists are 1-based, Spark
    arrays 0-based; Spark's ``sequence(lo, hi)`` is DESCENDING for
    lo > hi, so the ordered variant's range guards are explicit (the
    unordered window's hi >= lo always; DuckDB's generate_series just
    yields empty)."""
    qlist = ", ".join(
        f"({qid}, '{t.split()[0]}', '{t.split()[1]}')"
        for qid, t in (queries or PHRASE_QUERIES)
    )
    w = slop + 1  # max slot distance of t2 past t1 (ordered)
    if in_order and d.duck:
        adj = (
            "len(list_filter(generate_series(1, len(t.terms)), "
            "i -> t.terms[i] = q.t1 and "
            f"len(list_filter(generate_series(i + 1, least(i + {w}, len(t.terms))), "
            "j -> t.terms[j] = q.t2)) > 0)) > 0"
        )
    elif in_order:
        adj = (
            "case when size(t.terms) >= 2 then "
            "exists(sequence(0, size(t.terms) - 2), "
            "i -> t.terms[i] = q.t1 and "
            f"(case when i + 1 <= least(i + {w}, size(t.terms) - 1) then "
            f"exists(sequence(i + 1, least(i + {w}, size(t.terms) - 1)), "
            "j -> t.terms[j] = q.t2) else false end)) else false end"
        )
    elif d.duck:
        hi = f"least(i + {slop + 1}, len(t.terms))"  # window end, 1-based
        has = (
            f"len(list_filter(generate_series(i, {hi}), "
            "j -> t.terms[j] = q.{t})) > 0"
        )
        adj = (
            "len(list_filter(generate_series(1, len(t.terms)), "
            "i -> (t.terms[i] = q.t1 or t.terms[i] = q.t2) and "
            f"{has.format(t='t1')} and {has.format(t='t2')})) > 0"
        )
    else:
        hi = f"least(i + {slop + 1}, size(t.terms) - 1)"  # 0-based window end
        has = (
            f"exists(sequence(i, {hi}), " + "j -> t.terms[j] = q.{t})"
        )
        adj = (
            "case when size(t.terms) >= 2 then "
            "exists(sequence(0, size(t.terms) - 1), "
            "i -> (t.terms[i] = q.t1 or t.terms[i] = q.t2) and "
            f"{has.format(t='t1')} and {has.format(t='t2')}) else false end"
        )
    return f"""
with phrases(query_id, t1, t2) as (values {qlist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
matched as (
  select q.query_id, t.doc_id
  from phrases q join toks t on {adj}
),
qterms as (
  select distinct query_id, t1 as term from phrases
  union
  select distinct query_id, t2 as term from phrases
),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  join dfreq d on d.term = q.term
  cross join corpus c
),
scored as (
  select m.query_id, m.doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from matched m join contrib cb on cb.query_id = m.query_id and cb.doc_id = m.doc_id
  group by m.query_id, m.doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= 10
"""


def _bm25_conj_sql(d: _Dialect) -> str:
    """Conjunctive (AND-semantics) BM25 twin: same scoring pipeline as
    ``_bm25_sql`` but only docs matching EVERY query term rank (a query
    with a corpus-absent term matches nothing). ``contrib`` holds one row
    per (query, term, doc) — matched-term count == query term count is the
    intersection test."""
    base = _bm25_sql(d).strip()
    head, tail = base.split("scored as (", 1)
    _, tail = tail.split("ranked as (", 1)
    return f"""{head}qn as (select query_id, cast(count(*) as bigint) as nt from qterms group by query_id),
scored as (
  select c.query_id, c.doc_id, cast(floor(sum(c.w) * 1000000) as bigint) as score6
  from contrib c join qn on qn.query_id = c.query_id
  group by c.query_id, c.doc_id, qn.nt
  having cast(count(*) as bigint) = qn.nt
),
ranked as ({tail}"""


def _bm25_msm_sql(d: _Dialect, m: int = 2) -> str:
    """minimum_should_match BM25 twin (plans/query.py mode="msm"): docs
    matching at least ``least(m, n_query_terms)`` of the query's terms rank,
    scored over their matched terms only. ``contrib`` holds one row per
    (query, matched term, doc), so ``count(*)`` per (query, doc) is the
    matched-term count; the requirement clamps to the query's total term
    count (qn.nt) so one-term queries behave like OR. Runs the MSM_QUERIES
    set (rare-term 'dup' queries) — the flagship set's terms are too common
    for the requirement to ever change a top-10."""
    base = _bm25_sql(d, queries=MSM_QUERIES).strip()
    head, tail = base.split("scored as (", 1)
    _, tail = tail.split("ranked as (", 1)
    return f"""{head}qn as (select query_id, cast(count(*) as bigint) as nt from qterms group by query_id),
scored as (
  select c.query_id, c.doc_id, cast(floor(sum(c.w) * 1000000) as bigint) as score6
  from contrib c join qn on qn.query_id = c.query_id
  group by c.query_id, c.doc_id, qn.nt
  having cast(count(*) as bigint) >= least(cast({int(m)} as bigint), qn.nt)
),
ranked as ({tail}"""


def _bm25_prefix_sql(d: _Dialect) -> str:
    """Prefix-wildcard BM25 twin (plans/query.py ``search_prefix``): each
    'term*' word expands to every CORPUS term with that prefix (the twin's
    vocabulary = dfreq, the same relation the engine's term dictionary
    mirrors), then ordinary OR scoring over the union of literal+expansion
    terms — Lucene's scoring-BooleanQuery rewrite. Uses the shared
    ``parse_prefix_query`` so both engines split 'lit pre*' identically."""
    from .functions.tokenizer import parse_prefix_query, tokenize

    lit_rows: list[tuple[int, str]] = []
    pat_rows: list[tuple[int, str]] = []
    for qid, text in PREFIX_QUERIES:
        lits, stems = parse_prefix_query(text)
        for t in sorted(set(tokenize(" ".join(lits)))):
            lit_rows.append((qid, t))
        for s in stems:
            pat_rows.append((qid, s + "%"))
    qlits = ", ".join(f"({q}, '{t}')" for q, t in lit_rows) or "(0, '')"
    qpats = ", ".join(f"({q}, '{p}')" for q, p in pat_rows) or "(0, '')"
    return f"""
with qlits(query_id, term) as (values {qlits}),
qpats(query_id, pat) as (values {qpats}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
qterms as (
  select distinct query_id, term from (
    select query_id, term from qlits where query_id > 0
    union
    select q.query_id, v.term from qpats q join dfreq v on v.term like q.pat
  ) u
),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= 10
"""


def _bm25_regexp_sql(d: _Dialect, k: int = 10) -> str:
    """Regexp-query twin (plans/query.py ``search_regexp``): each pattern
    expands to every CORPUS term it FULLY matches (Spark ``rlike`` with
    explicit anchors, DuckDB ``regexp_full_match`` — the fixture patterns
    stay in the engine-portable regex subset), then ordinary OR scoring
    over the expansion — the scoring-BooleanQuery rewrite."""
    qpats = ", ".join(f"({qid}, '{p}')" for qid, p in REGEXP_QUERIES)
    if d.duck:
        m = "regexp_full_match(v.term, '(?:' || q.pat || ')')"
    else:
        m = "v.term rlike ('^(?:' || q.pat || ')$')"
    return f"""
with qpats(query_id, pat) as (values {qpats}),
{_bm25_corpus_cte(d)},
qterms as (
  select distinct q.query_id, v.term
  from qpats q join dfreq v on {m}
),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


def _pct_ranks_sql(d: _Dialect) -> str:
    """Percentile-ranks twin (plans/hits.py ``match_percentile_ranks``):
    per (query, AT_VALUES threshold) the percent of matching docs with
    n_chars <= threshold as rank6 = (cnt_le * 100 * 1e6) integer-div n —
    pure int64, and below-floor thresholds still emit rank6 = 0 (the
    conditional sum keeps every pair)."""
    alist = ", ".join(f"({a})" for a in AT_VALUES)
    idiv = "//" if d.duck else "div"
    return f"""{_matched_cte(d)}
, ats(at) as (values {alist}),
keyed as (
  select m.query_id, cast(doc.n_chars as double) as val
  from matched m join documents doc on doc.doc_id = m.doc_id
)
select k.query_id, a.at,
       cast(count(*) as bigint) as n_docs,
       cast((sum(case when k.val <= cast(a.at as double) then 1 else 0 end)
          * 100000000) {idiv} cast(count(*) as bigint) as bigint) as rank6
from keyed k cross join ats a
group by k.query_id, a.at
"""


def _matched_cte(d: _Dialect) -> str:
    """Shared CTE chain: docs matching ANY query term (the OR match set the
    engine's plans/hits.py kernels compute per cell)."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
matched as (select distinct q.query_id, o.doc_id from qterms q join occ o on o.term = q.term)
"""


# constant_score boost (the filter-context score every match receives).
CS_BOOST = 1.5


def _constant_score_sql(d: _Dialect, k: int = 10) -> str:
    """constant_score twin (plans/hits.py ``constant_score``): every doc
    matching the OR filter scores exactly CS_BOOST; with all scores equal,
    doc_id asc is the ranking. Top-``k`` per query."""
    s6 = int(CS_BOOST * 1_000_000)
    return f"""{_matched_cte(d)}
, ranked as (
  select query_id, doc_id,
         row_number() over (partition by query_id order by doc_id asc) as rank
  from matched
)
select query_id, rank, doc_id, cast({s6} as bigint) as score6
from ranked where rank <= {k}
"""


# variable_width_histogram bucket count (largest-gap natural breaks).
VWH_BUCKETS = 4


def _var_width_histo_sql(d: _Dialect, nb: int = VWH_BUCKETS) -> str:
    """Variable-width-histogram twin (plans/hits.py
    ``variable_width_histogram``): deterministic largest-gap natural
    breaks over the matched docs' n_chars — split the sorted distinct
    values at the nb-1 widest gaps (gap desc, boundary value asc ties),
    cluster id = 1 + boundaries at-or-below the value, then per-cluster
    count/min/max/mean6 ((sum*1e6)/count floored, one exact division)."""
    return f"""{_matched_cte(d)}
, vals as (
  select m.query_id, cast(doc.n_chars as bigint) as val
  from matched m join documents doc on doc.doc_id = m.doc_id
),
dv as (select distinct query_id, val from vals),
gaps as (
  select query_id, val,
         val - lag(val) over (partition by query_id order by val asc) as gap
  from dv
),
bset as (
  select query_id, val from (
    select query_id, val,
           row_number() over (partition by query_id
                              order by gap desc, val asc) as grank
    from gaps where gap is not null
  ) g where grank <= {nb - 1}
),
cids as (
  select v.query_id, v.val,
         1 + sum(case when b.val is not null then 1 else 0 end)
             over (partition by v.query_id order by v.val asc
                   rows between unbounded preceding and current row) as cluster
  from dv v left join bset b on b.query_id = v.query_id and b.val = v.val
)
select v.query_id, cast(c.cluster as bigint) as cluster,
       cast(count(*) as bigint) as n_docs,
       min(v.val) as vmin, max(v.val) as vmax,
       cast(floor(cast(sum(v.val) * 1000000 as double) / cast(count(*) as double)) as bigint) as mean6
from vals v join cids c on c.query_id = v.query_id and c.val = v.val
group by v.query_id, c.cluster
"""


def _hits_count_sql(d: _Dialect) -> str:
    """Total-hit-count twin (plans/hits.py ``search_count``)."""
    return f"""{_matched_cte(d)}
select query_id, cast(count(*) as bigint) as n_hits from matched group by query_id
"""


def _facet_counts_sql(d: _Dialect) -> str:
    """Facet-counts twin (plans/hits.py ``facet_counts``): per-query match
    counts grouped by the documents table's lang column."""
    return f"""{_matched_cte(d)}
select m.query_id, doc.lang as facet, cast(count(*) as bigint) as n_docs
from matched m join documents doc on doc.doc_id = m.doc_id
group by m.query_id, doc.lang
"""


def _search_sorted_sql(d: _Dialect, k: int = 10) -> str:
    """Sort-by-field twin (plans/hits.py ``search_sorted_by``): the top-k
    MATCHING docs per query ordered by the documents table's n_chars
    attribute desc (doc_id-asc ties — == the engine's url-asc, urls are
    zero-padded doc_ids), never by relevance. Matching is the same OR match
    set as the hits/facets twins (``_matched_cte``)."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, m.doc_id, cast(doc.n_chars as bigint) as sort_key
  from matched m join documents doc on doc.doc_id = m.doc_id
),
ranked as (
  select query_id, doc_id, sort_key,
         row_number() over (partition by query_id order by sort_key desc, doc_id asc) as rank
  from keyed
)
select query_id, rank, doc_id, sort_key from ranked where rank <= {k}
"""


def _bm25_corpus_cte(d: _Dialect) -> str:
    """Shared BM25 statistics chain (toks -> doc_stats -> corpus -> occ ->
    postings -> dfreq) — the relational mirror of the committed index's
    postings + norms + term_stats, factored so a tokenizer/stats change
    edits ONE place (r5 review finding; the pre-existing twins built on
    the parameterized ``_bm25_sql`` already centralize their copy)."""
    return f"""toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term)"""


# Per-(query term, doc) BM25 contribution over the shared chain; requires a
# qterms(query_id, term) CTE defined earlier in the WITH list. k1=1.2,
# b=0.75 inline — the same constants every twin and the engine share.
_BM25_CONTRIB_CTE = """contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
)"""


SORTED_AFTER_RANK = 10


def _search_sorted_after_sql(d: _Dialect, k: int = 10) -> str:
    """Cursor-paged sort-by-field twin (plans/hits.py ``search_sorted_by``
    with ``search_after``): the base sorted order's rank-SORTED_AFTER_RANK
    row per query becomes the (sort_key, doc_id) cursor; the result is the
    next k rows STRICTLY past it under (sort_key desc, doc_id asc), ranks
    page-relative 1..k — ES search_after composed with a field sort."""
    ar = SORTED_AFTER_RANK
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, m.doc_id, cast(doc.n_chars as bigint) as sort_key
  from matched m join documents doc on doc.doc_id = m.doc_id
),
base as (
  select query_id, doc_id, sort_key,
         row_number() over (partition by query_id order by sort_key desc, doc_id asc) as rank
  from keyed
),
cur as (
  select query_id, sort_key as cur_key, doc_id as cur_id
  from base where rank = {ar}
),
paged as (
  select k.query_id, k.doc_id, k.sort_key,
         row_number() over (partition by k.query_id order by k.sort_key desc, k.doc_id asc) as rank
  from keyed k join cur c on c.query_id = k.query_id
  where k.sort_key < c.cur_key
     or (k.sort_key = c.cur_key and k.doc_id > c.cur_id)
)
select query_id, rank, doc_id, sort_key from paged where rank <= {k}
"""


def _adjacency_sql(d: _Dialect) -> str:
    """Adjacency-matrix twin (plans/hits.py ``adjacency_counts``): per
    query pair qa <= qb the count of docs matching both (diagonal = each
    query's own hit count) — a match-set self-join in the oracle; the
    engine expands pairs from per-doc query sets instead (no self-join,
    single kernel lineage)."""
    return f"""{_matched_cte(d)}
select a.query_id as qa, b.query_id as qb, cast(count(*) as bigint) as n_docs
from matched a join matched b
  on b.doc_id = a.doc_id and b.query_id >= a.query_id
group by a.query_id, b.query_id
"""


COMPOSITE_SIZE = 2


def _composite_after_sql(d: _Dialect) -> str:
    """Composite-agg twin (plans/hits.py ``composite_buckets``): lang
    buckets of the match set ordered by KEY (facet asc); page 1's last
    bucket key per query becomes the after-key cursor, and the result is
    page 2 — the next COMPOSITE_SIZE buckets strictly past it (ES's
    composite terms source + after_key pagination)."""
    sz = COMPOSITE_SIZE
    return f"""{_matched_cte(d)}
, counts as (
  select m.query_id, doc.lang as facet, cast(count(*) as bigint) as n_docs
  from matched m join documents doc on doc.doc_id = m.doc_id
  group by m.query_id, doc.lang
),
page1 as (
  select query_id, facet,
         row_number() over (partition by query_id order by facet asc) as rk
  from counts
),
cur as (
  select query_id, facet as cur_facet from page1 where rk = {sz}
),
page2 as (
  select c.query_id, c.facet, c.n_docs,
         row_number() over (partition by c.query_id order by c.facet asc) as rk
  from counts c join cur on cur.query_id = c.query_id
  where c.facet > cur.cur_facet
)
select query_id, facet, n_docs from page2 where rk <= {sz}
"""


FACET_TOP_N = 2


def _facet_top_other_sql(d: _Dialect) -> str:
    """Terms-agg size twin (plans/hits.py ``facet_counts`` with ``top_n``):
    per query the FACET_TOP_N lang buckets by (n_docs desc, facet asc)
    keep their names, every other bucket folds into one '__other__' row —
    ES's size + sum_other_doc_count contract."""
    return f"""{_matched_cte(d)}
, counts as (
  select m.query_id, doc.lang as facet, cast(count(*) as bigint) as n_docs
  from matched m join documents doc on doc.doc_id = m.doc_id
  group by m.query_id, doc.lang
),
ranked as (
  select query_id, facet, n_docs,
         row_number() over (partition by query_id order by n_docs desc, facet asc) as rk
  from counts
)
select query_id,
       case when rk <= {FACET_TOP_N} then facet else '__other__' end as facet,
       cast(sum(n_docs) as bigint) as n_docs
from ranked
group by query_id, case when rk <= {FACET_TOP_N} then facet else '__other__' end
"""


def _bm25_syn_sql(d: _Dialect, k: int = 10) -> str:
    """Query-time synonym twin (plans/query.py ``search_synonyms``): each
    query token expands IN SQL to itself plus its mapped synonyms (one
    hop — the syn CTE mirrors the SYNONYMS dict verbatim), then ordinary
    OR scoring over the distinct union, each expansion with its own idf —
    Lucene expand=true, the same scoring rewrite as the prefix/fuzzy/
    wildcard twins."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in SYN_QUERIES)
    svals = ", ".join(
        f"('{t}', '{s}')" for t, ss in sorted(SYNONYMS.items()) for s in ss
    )
    return f"""
with queries(query_id, query_text) as (values {qlist}),
syn(term, syn) as (values {svals}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (
  select distinct query_id, term from (
    select query_id, term from qtok
    union all
    select q.query_id, s.syn as term from qtok q join syn s on s.term = q.term
  ) u
),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


def _range_facets_sql(d: _Dialect) -> str:
    """Range-aggregation twin (plans/hits.py ``range_facets``): matched docs
    bucketed by documents.n_chars against RANGE_BOUNDS — bucket = the same
    sum-of-comparisons the engine computes (portable, no width_bucket
    dialect drift); values outside [first, last) drop."""
    bl = [float(x) for x in RANGE_BOUNDS]
    comps = " + ".join(
        f"(case when val >= {b!r} then 1 else 0 end)" for b in bl[1:-1]
    )
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, cast(doc.n_chars as double) as val
  from matched m join documents doc on doc.doc_id = m.doc_id
),
bucketed as (
  select query_id, cast({comps} as int) as bucket
  from keyed where val >= {bl[0]!r} and val < {bl[-1]!r}
)
select query_id, bucket, cast(count(*) as bigint) as n_docs
from bucketed group by query_id, bucket
"""


# Dense-histogram bounds (plans/hits.py range_facets_dense): the narrow
# [150, 155) bucket is chosen to be EMPTY for at least one query so the
# min_doc_count=0 zero-row contract is exercised, not vacuous.
DENSE_BOUNDS = [0, 150, 155, 300, 600, 100000]


def _range_dense_sql(d: _Dialect) -> str:
    """Dense-histogram twin (plans/hits.py ``range_facets_dense``): the
    range_facets bucketing against DENSE_BOUNDS, left-joined onto the
    full (query x bucket) domain literal so empty buckets emit explicit
    zeros (ES histogram min_doc_count=0); queries with no matches at all
    still emit nothing (window-sum filter)."""
    bl = [float(x) for x in DENSE_BOUNDS]
    comps = " + ".join(
        f"(case when val >= {b!r} then 1 else 0 end)" for b in bl[1:-1]
    )
    dom = ", ".join(
        f"({qid}, {b})"
        for qid, _t in BM25_QUERIES
        for b in range(len(bl) - 1)
    )
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, cast(doc.n_chars as double) as val
  from matched m join documents doc on doc.doc_id = m.doc_id
),
bucketed as (
  select query_id, cast({comps} as int) as bucket
  from keyed where val >= {bl[0]!r} and val < {bl[-1]!r}
),
sparse as (
  select query_id, bucket, cast(count(*) as bigint) as n_docs
  from bucketed group by query_id, bucket
),
domain(query_id, bucket) as (values {dom}),
dense as (
  select dm.query_id, dm.bucket,
         cast(coalesce(s.n_docs, 0) as bigint) as n_docs
  from domain dm left join sparse s
    on s.query_id = dm.query_id and s.bucket = dm.bucket
),
tot as (
  select query_id, bucket, n_docs,
         sum(n_docs) over (partition by query_id) as tot
  from dense
)
select query_id, bucket, n_docs from tot where tot > 0
"""


def _bm25_rescore_sql(d: _Dialect, k: int = 10) -> str:
    """Rescore-window twin (plans/query.py ``rescore_phrase``): the base
    BM25 top-RESCORE_WINDOW per query (ordinary ranked CTE over the
    phrase's two terms as OR), then +floor(RESCORE_BONUS*1e6) for docs
    whose tokens contain the bigram CONTIGUOUSLY, re-ranked 1..k by
    (rescore6 desc, doc_id asc). Docs outside the base window never enter
    (the ES rescore no-recall rule)."""
    qlist = ", ".join(
        f"({qid}, '{t.split()[0]}', '{t.split()[1]}')"
        for qid, t in PHRASE_QUERIES
    )
    bonus6 = int(math.floor(RESCORE_BONUS * 1_000_000))
    if d.duck:
        adj = (
            "len(list_filter(generate_series(1, len(t.terms) - 1), "
            "i -> t.terms[i] = q.t1 and t.terms[i+1] = q.t2)) > 0"
        )
    else:
        adj = (
            "case when size(t.terms) >= 2 then "
            "exists(sequence(0, size(t.terms) - 2), "
            "i -> t.terms[i] = q.t1 and t.terms[i+1] = q.t2) else false end"
        )
    return f"""
with phrases(query_id, t1, t2) as (values {qlist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
qterms as (
  select query_id, t1 as term from phrases
  union
  select query_id, t2 as term from phrases
),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
),
win as (select query_id, doc_id, score6 from ranked where rank <= {RESCORE_WINDOW}),
resc as (
  select w.query_id, w.doc_id,
         w.score6 + case when {adj} then {bonus6} else 0 end as rescore6,
         w.score6
  from win w
  join phrases q on q.query_id = w.query_id
  join toks t on t.doc_id = w.doc_id
),
rranked as (
  select query_id, doc_id, rescore6, score6,
         row_number() over (partition by query_id order by rescore6 desc, doc_id asc) as rank
  from resc
)
select query_id, rank, doc_id, rescore6, score6 from rranked where rank <= {k}
"""


def _bm25_collapse_sql(d: _Dialect, k: int = 10) -> str:
    """Field-collapsing twin (plans/query.py ``search_collapse``): the
    standard BM25 scored set, at most one doc per documents.source — each
    source represented by its best doc under (score6 desc, doc_id asc) —
    then the survivors re-rank 1..k per query. Mirrors the engine's
    argmax-per-key + two-phase rank exactly (both orders are total)."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
collapsed as (
  select query_id, doc_id, ckey, score6 from (
    select s.query_id, s.doc_id, doc.source as ckey, s.score6,
           row_number() over (partition by s.query_id, doc.source
                              order by s.score6 desc, s.doc_id asc) as gr
    from scored s join documents doc on doc.doc_id = s.doc_id
  ) g where gr = 1
),
ranked as (
  select query_id, doc_id, ckey, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from collapsed
)
select query_id, rank, doc_id, ckey, score6 from ranked where rank <= {k}
"""


# collapse.inner_hits shape: top COLLAPSE_INNER_K groups per query, top
# INNER_HITS_K member docs per group.
COLLAPSE_INNER_K = 5
INNER_HITS_K = 3


def _bm25_collapse_inner_sql(
    d: _Dialect, k: int = COLLAPSE_INNER_K, m: int = INNER_HITS_K
) -> str:
    """Collapse-with-inner-hits twin (plans/query.py
    ``search_collapse_inner``): the ES ``collapse.inner_hits`` SERP shape
    — top-``k`` collapse groups per query, ranked by each group's best doc
    under (score6 desc, doc_id asc), each group returning its top-``m``
    member docs with within-group ``inner_rank``. inner_rank 1 is exactly
    the row plain bm25_collapse returns."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
keyed as (
  select s.query_id, s.doc_id, doc.source as ckey, s.score6
  from scored s join documents doc on doc.doc_id = s.doc_id
),
inner_ranked as (
  select query_id, doc_id, ckey, score6,
         row_number() over (partition by query_id, ckey
                            order by score6 desc, doc_id asc) as inner_rank
  from keyed
),
granked as (
  select query_id, ckey,
         row_number() over (partition by query_id
                            order by score6 desc, doc_id asc) as rank
  from inner_ranked where inner_rank = 1
)
select i.query_id, cast(g.rank as bigint) as rank, i.ckey,
       cast(i.inner_rank as bigint) as inner_rank, i.doc_id, i.score6
from inner_ranked i
join granked g on g.query_id = i.query_id and g.ckey = i.ckey
where g.rank <= {k} and i.inner_rank <= {m}
"""


def _match_stats_sql(d: _Dialect) -> str:
    """Metric-aggregation twin (plans/hits.py ``match_stats``): stats +
    exact cardinality over the full OR match set's documents.n_chars —
    count, distinct values, sum/min/max/avg as floor(x*1e6) bigints. avg
    divides the raw double sum by the count BEFORE flooring (the engine's
    one-rounding rule)."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, cast(doc.n_chars as double) as val
  from matched m join documents doc on doc.doc_id = m.doc_id
)
select query_id,
       cast(count(*) as bigint) as n_docs,
       cast(count(distinct val) as bigint) as n_vals,
       cast(floor(sum(val) * 1000000) as bigint) as sum6,
       cast(floor(min(val) * 1000000) as bigint) as min6,
       cast(floor(max(val) * 1000000) as bigint) as max6,
       cast(floor(sum(val) / count(*) * 1000000) as bigint) as avg6
from keyed group by query_id
"""


def _facet_stats_sql(d: _Dialect) -> str:
    """Bucketed-stats twin (plans/hits.py ``facet_stats``): match_stats
    grouped one level deeper — per (query, documents.lang bucket), count /
    distinct / sum6 / min6 / max6 / avg6 of n_chars. Same one-rounding
    rule: avg divides the raw double sum by the count before flooring."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, doc.lang as facet, cast(doc.n_chars as double) as val
  from matched m join documents doc on doc.doc_id = m.doc_id
)
select query_id, facet,
       cast(count(*) as bigint) as n_docs,
       cast(count(distinct val) as bigint) as n_vals,
       cast(floor(sum(val) * 1000000) as bigint) as sum6,
       cast(floor(min(val) * 1000000) as bigint) as min6,
       cast(floor(max(val) * 1000000) as bigint) as max6,
       cast(floor(sum(val) / count(*) * 1000000) as bigint) as avg6
from keyed group by query_id, facet
"""


def _ext_stats_sql(d: _Dialect) -> str:
    """Extended-stats twin (plans/hits.py ``match_extended_stats``):
    second-moment family over the match set's n_chars — population
    variance ``ss/n - mean**2`` clamped at 0 before the sqrt, stddev,
    mean -/+ 2*sigma bounds. Expression order matches the kernel exactly
    (each rounding is one shared IEEE op); ``sumsq`` stays a raw bigint
    (exact for integral inputs; *1e6 would overflow first at scale)."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, cast(doc.n_chars as double) as val
  from matched m join documents doc on doc.doc_id = m.doc_id
),
agg as (
  select query_id,
         cast(count(*) as bigint) as n,
         sum(val) as s,
         sum(val * val) as ss
  from keyed group by query_id
),
ext as (
  select query_id, n, s, ss,
         s / n as mean,
         greatest(ss / n - (s / n) * (s / n), cast(0 as double)) as var
  from agg
)
select query_id,
       n as n_docs,
       cast(floor(s * 1000000) as bigint) as sum6,
       cast(floor(mean * 1000000) as bigint) as avg6,
       cast(ss as bigint) as sumsq,
       cast(floor(var * 1000000) as bigint) as var6,
       cast(floor(sqrt(var) * 1000000) as bigint) as std6,
       cast(floor((mean - 2.0 * sqrt(var)) * 1000000) as bigint) as lo6,
       cast(floor((mean + 2.0 * sqrt(var)) * 1000000) as bigint) as hi6
from ext
"""


def _weighted_avg_sql(d: _Dialect) -> str:
    """Weighted-average twin (plans/hits.py ``match_weighted_avg``):
    sum(val*w)/sum(w) over the match set — val = n_chars, w = the
    deterministic quarter-step weight (FS_FACTOR_SQL's shape: exactly
    representable doubles, so both partial sums are exact and the single
    division rounds identically across engines)."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id,
         cast(doc.n_chars as double) as val,
         0.5 + cast(doc.doc_id % 8 as double) * 0.25 as w
  from matched m join documents doc on doc.doc_id = m.doc_id
)
select query_id,
       cast(count(*) as bigint) as n_docs,
       cast(floor(sum(val * w) * 1000000) as bigint) as wsum6,
       cast(floor(sum(w) * 1000000) as bigint) as wtot6,
       cast(floor(sum(val * w) / sum(w) * 1000000) as bigint) as wavg6
from keyed group by query_id
"""


# The deliberately-partial dimension for the missing agg: docs whose id is
# divisible by 3 carry NO value (deterministic, engine-neutral).
MISSING_DIM_PRED = "doc_id % 3 <> 0"


def _match_missing_sql(d: _Dialect) -> str:
    """Missing-agg twin (plans/hits.py ``match_missing``): matched docs
    left-joined to the deliberately-partial n_chars dimension
    (MISSING_DIM_PRED); present/missing split via conditional counts."""
    return f"""{_matched_cte(d)}
, dim as (
  select doc_id, cast(n_chars as double) as val
  from documents where {MISSING_DIM_PRED}
),
keyed as (
  select m.query_id, d2.val
  from matched m left join dim d2 on d2.doc_id = m.doc_id
)
select query_id,
       cast(count(*) as bigint) as n_docs,
       cast(count(val) as bigint) as n_present,
       cast(count(*) - count(val) as bigint) as n_missing
from keyed group by query_id
"""


# Deterministic per-doc date for the date_histogram entries: epoch
# 2024-01-01 + (doc_id % 400) days spans ~14 calendar months.
DATE_DIM_EPOCH = "2024-01-01"
DATE_DIM_MOD = 400


def _date_bucket_expr(d: _Dialect) -> str:
    """The shared month-bucket expression: deterministic doc date
    formatted as the 'yyyy-MM' STRING both engines render identically."""
    day = f"cast(doc.doc_id % {DATE_DIM_MOD} as int)"
    if d.duck:
        return f"strftime(date '{DATE_DIM_EPOCH}' + {day}, '%Y-%m')"
    return f"date_format(date_add(date '{DATE_DIM_EPOCH}', {day}), 'yyyy-MM')"


def _date_histo_cte(d: _Dialect) -> str:
    """Matched CTE + month-bucketed counts, shared by the histogram twin
    and the pipeline-agg twin."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, {_date_bucket_expr(d)} as bucket
  from matched m join documents doc on doc.doc_id = m.doc_id
),
hist as (
  select query_id, bucket, cast(count(*) as bigint) as n_docs
  from keyed group by query_id, bucket
)
"""


def _date_histogram_sql(d: _Dialect) -> str:
    """Date-histogram twin (plans/hits.py ``date_histogram``, month
    interval): matched docs bucketed by the calendar month of the
    deterministic doc date; bucket is the 'yyyy-MM' STRING both engines
    format identically."""
    return f"""{_date_histo_cte(d)}
select query_id, bucket, n_docs from hist
"""


def _histo_normalize_sql(d: _Dialect) -> str:
    """Normalize-pipeline twin (plans/hits.py ``date_histogram_normalize``):
    the ES ``normalize`` agg with method percent_of_sum over the month
    histogram — per bucket, its share of the query's total matches, plus
    the cumulative share (ES's other common method pair). Both are a
    single count/int division floored at 1e6 — one window pass over
    O(buckets) rows, the pipeline-agg execution model."""
    return f"""{_date_histo_cte(d)}
, tot as (
  select query_id, bucket, n_docs,
         sum(n_docs) over (partition by query_id) as total,
         sum(n_docs) over (
           partition by query_id order by bucket
           rows between unbounded preceding and current row) as running
  from hist
)
select query_id, bucket, n_docs,
       cast(floor(cast(n_docs as double) / total * 1000000) as bigint) as pct6,
       cast(floor(cast(running as double) / total * 1000000) as bigint) as cum_pct6
from tot
"""


def _date_histo_pipeline_sql(d: _Dialect, window: int = 3) -> str:
    """Pipeline-agg twin (plans/hits.py ``date_histogram_pipeline``):
    the month histogram annotated with the running total, the
    bucket-over-bucket derivative (NULL first bucket via ``lag``), and
    the floored trailing ``window``-bucket moving average. Explicit ROWS
    frames — bucket keys are unique per query after the group by, but
    the default RANGE frame is a trap worth never relying on."""
    over = "partition by query_id order by bucket"
    return f"""{_date_histo_cte(d)}
select query_id, bucket, n_docs,
       cast(sum(n_docs) over ({over}
         rows between unbounded preceding and current row) as bigint) as cum_docs,
       cast(n_docs - lag(n_docs) over ({over}) as bigint) as deriv,
       cast(floor(avg(cast(n_docs as double)) over ({over}
         rows between {window - 1} preceding and current row) * 1000000) as bigint) as mavg6
from hist
"""


def _date_pipeline2_sql(d: _Dialect, lag: int = 2) -> str:
    """Second pipeline-agg twin (plans/hits.py
    ``date_histogram_pipeline2``): the remaining ES parent-pipeline trio —
    ``serial_diff`` (period ``lag``, NULL until the lagged bucket exists),
    ``moving_percentiles`` p50 over the trailing 3-bucket window (exact
    small-window median: for 3 ints it is sum-max-min, for 2 it is one
    double halving, both bit-deterministic), and the ``rate`` agg
    normalized to 30-day units (count * 30 / days-in-that-month — exact
    int product, ONE double division). The window arithmetic is fixed to
    the 3-bucket frame the median identities rely on."""
    over = "partition by query_id order by bucket"
    wmov = f"{over} rows between 2 preceding and current row"
    if d.duck:
        dim = "date_part('day', last_day(strptime(bucket || '-01', '%Y-%m-%d')))"
    else:
        dim = "day(last_day(to_date(concat(bucket, '-01'))))"
    return f"""{_date_histo_cte(d)}
, win as (
  select query_id, bucket, n_docs,
         cast(n_docs - lag(n_docs, {lag}) over ({over}) as bigint) as sdiff,
         count(*) over ({wmov}) as wn,
         sum(n_docs) over ({wmov}) as ws,
         max(n_docs) over ({wmov}) as wmax,
         min(n_docs) over ({wmov}) as wmin,
         cast({dim} as bigint) as dim
  from hist
)
select query_id, bucket, n_docs, sdiff,
       cast(case when wn = 3 then (ws - wmax - wmin) * 1000000
                 when wn = 2 then cast(floor(cast(ws as double) / 2.0 * 1000000) as bigint)
                 else ws * 1000000 end as bigint) as mmed6,
       cast(floor(cast(n_docs as double) * 30.0 / dim * 1000000) as bigint) as rate30_6
from win
"""


def _change_point_sql(d: _Dialect) -> str:
    """Change-point twin (plans/hits.py ``date_histogram_change_point``):
    the ES ``change_point`` sibling-pipeline agg, deterministic variant —
    over each query's month histogram, the bucket boundary maximizing
    |mean(counts up to it) - mean(counts after it)|, i.e. the strongest
    step edge. ES's own detector is stats-test-based and approximate; an
    oracle-gated engine needs the exact argmax rule instead (documented,
    like auto_date_histogram's ladder). All inputs are int64 counts; each
    mean is one double division, the scores leave floored at 1e6 and ties
    break to the earliest bucket."""
    over = "partition by query_id order by bucket"
    return f"""{_date_histo_cte(d)}
, ord as (
  select query_id, bucket, n_docs,
         row_number() over ({over}) as pos,
         count(*) over (partition by query_id) as n,
         sum(n_docs) over (partition by query_id) as total,
         sum(n_docs) over ({over}
           rows between unbounded preceding and current row) as lsum
  from hist
),
cand as (
  select query_id, bucket, pos, n,
         cast(lsum as double) / pos as lmean,
         cast(total - lsum as double) / (n - pos) as rmean
  from ord where pos < n
),
scored as (
  select query_id, bucket,
         cast(floor(lmean * 1000000) as bigint) as left_mean6,
         cast(floor(rmean * 1000000) as bigint) as right_mean6,
         cast(floor(abs(lmean - rmean) * 1000000) as bigint) as delta6
  from cand
),
ranked as (
  select query_id, bucket, left_mean6, right_mean6, delta6,
         row_number() over (partition by query_id
           order by delta6 desc, bucket asc) as rnk
  from scored
)
select query_id, bucket as change_bucket, left_mean6, right_mean6, delta6
from ranked where rnk = 1
"""


PCT_LIST = (25, 50, 75, 90, 99)


def _match_pcts_sql(d: _Dialect) -> str:
    """Exact-percentiles twin (plans/hits.py ``match_percentiles``):
    percentile_disc over the match set's n_chars via the same value-
    histogram + cumulative-sum + pure-int64 rank target ((pct*n + 99)
    integer-div 100) construction — no float division anywhere either
    engine could round differently."""
    idiv = "//" if d.duck else "div"
    plist = ", ".join(f"({p})" for p in PCT_LIST)
    return f"""{_matched_cte(d)}
, pcts(pct) as (values {plist}),
keyed as (
  select m.query_id, cast(doc.n_chars as double) as v
  from matched m join documents doc on doc.doc_id = m.doc_id
),
hist as (
  select query_id, v, cast(count(*) as bigint) as c
  from keyed group by query_id, v
),
cum as (
  select query_id, v, c,
         sum(c) over (partition by query_id order by v
                      rows between unbounded preceding and current row) as cum
  from hist
),
n as (
  select query_id, cast(sum(c) as bigint) as n_docs from hist group by query_id
),
targets as (
  select n.query_id, p.pct, n.n_docs,
         (cast(p.pct as bigint) * n.n_docs + 99) {idiv} 100 as tgt
  from n cross join pcts p
)
select t.query_id, t.pct, t.n_docs,
       cast(floor(min(c.v) * 1000000) as bigint) as pct6
from cum c join targets t on t.query_id = c.query_id and c.cum >= t.tgt
group by t.query_id, t.pct, t.n_docs
"""


def _rank_hist_cte(d: _Dialect) -> str:
    """Shared head for the selection-by-rank twins (boxplot / MAD): the
    match set keyed by n_chars, collapsed to a value histogram with the
    cumulative count and per-query total attached by windows — the same
    #distinct-values-not-#matches construction as ``match_pcts``."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, cast(doc.n_chars as double) as v
  from matched m join documents doc on doc.doc_id = m.doc_id
),
hist as (
  select query_id, v, cast(count(*) as bigint) as c
  from keyed group by query_id, v
),
cum as (
  select query_id, v, c,
         sum(c) over (partition by query_id order by v
                      rows between unbounded preceding and current row) as cum,
         sum(c) over (partition by query_id) as n
  from hist
)"""


def _boxplot_sql(d: _Dialect) -> str:
    """Boxplot twin (plans/hits.py ``match_boxplot``): quartiles as
    percentile_disc window expressions over the cumulated value histogram
    (pure-int64 rank targets), Tukey whiskers as the extreme in-fence
    values. 1.5*IQR is dyadic over integer-valued quartiles, so the fence
    comparisons round identically across engines."""
    idiv = "//" if d.duck else "div"

    def disc(pct: int) -> str:
        return (
            f"min(case when cum >= (cast({pct} as bigint) * n + 99) "
            f"{idiv} 100 then v end) over (partition by query_id)"
        )

    return f"""{_rank_hist_cte(d)},
q as (
  select query_id, v, cum, n,
         {disc(25)} as q1,
         {disc(50)} as q2,
         {disc(75)} as q3
  from cum
)
select query_id,
       cast(max(n) as bigint) as n_docs,
       cast(floor(min(v) * 1000000) as bigint) as min6,
       cast(floor(max(v) * 1000000) as bigint) as max6,
       cast(floor(max(q1) * 1000000) as bigint) as q16,
       cast(floor(max(q2) * 1000000) as bigint) as q26,
       cast(floor(max(q3) * 1000000) as bigint) as q36,
       cast(floor(min(case when v >= q1 - 1.5 * (q3 - q1) then v end) * 1000000) as bigint) as lo6,
       cast(floor(max(case when v <= q3 + 1.5 * (q3 - q1) then v end) * 1000000) as bigint) as hi6
from q group by query_id
"""


def _mad_sql(d: _Dialect) -> str:
    """Median-absolute-deviation twin (plans/hits.py ``match_mad``): the
    disc-median attaches to the value histogram as a window expression,
    deviations re-group THAT histogram (summing counts), and the second
    disc selection cumulates the deviation histogram — both selections
    pure int64 rank arithmetic over exact integer-valued doubles."""
    idiv = "//" if d.duck else "div"
    return f"""{_rank_hist_cte(d)},
med as (
  select query_id, v, c, n,
         min(case when cum >= (cast(50 as bigint) * n + 99) {idiv} 100
             then v end) over (partition by query_id) as med
  from cum
),
devs as (
  select query_id, abs(v - med) as dv, cast(sum(c) as bigint) as c,
         cast(max(n) as bigint) as n, max(med) as med
  from med group by query_id, abs(v - med)
),
cum2 as (
  select query_id, dv, c, n, med,
         sum(c) over (partition by query_id order by dv
                      rows between unbounded preceding and current row) as cum
  from devs
)
select query_id,
       cast(max(n) as bigint) as n_docs,
       cast(floor(max(med) * 1000000) as bigint) as med6,
       cast(floor(min(dv) * 1000000) as bigint) as mad6
from cum2 where cum >= (cast(50 as bigint) * n + 99) {idiv} 100
group by query_id
"""


def _t_test_sql(d: _Dialect) -> str:
    """Welch t-test twin (plans/hits.py ``match_t_test``): populations are
    the matched docs split by doc_id parity, value n_chars. Six exact
    conditional sufficient statistics, then the identical finishing chain
    (clamped population variance scaled by n/(n-1), pooled SE, t, the
    Welch-Satterthwaite df) — one CTE per select layer, expression text
    shared verbatim with the engine's selectExpr chain; degenerate groups
    yield NULL t/df via nullif in both engines."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, cast(doc.n_chars as double) as v,
         cast(doc.doc_id % 2 as int) as grp
  from matched m join documents doc on doc.doc_id = m.doc_id
),
agg as (
  select query_id,
         cast(sum(case when grp = 0 then 1 else 0 end) as bigint) as na,
         cast(sum(case when grp = 1 then 1 else 0 end) as bigint) as nb,
         sum(case when grp = 0 then v else 0.0 end) as sa,
         sum(case when grp = 1 then v else 0.0 end) as sb,
         sum(case when grp = 0 then v * v else 0.0 end) as ssa,
         sum(case when grp = 1 then v * v else 0.0 end) as ssb
  from keyed group by query_id
),
fin1 as (
  select query_id, na, nb,
         cast(na as double) as dna, cast(nb as double) as dnb,
         case when na > 0 then sa / cast(na as double) end as ma,
         case when nb > 0 then sb / cast(nb as double) end as mb,
         case when na > 1 then greatest(ssa / cast(na as double) - (sa / cast(na as double)) * (sa / cast(na as double)), 0.0) * cast(na as double) / (cast(na as double) - 1.0) end as va,
         case when nb > 1 then greatest(ssb / cast(nb as double) - (sb / cast(nb as double)) * (sb / cast(nb as double)), 0.0) * cast(nb as double) / (cast(nb as double) - 1.0) end as vb
  from agg
),
fin2 as (
  select query_id, na, nb, ma, mb, dna, dnb,
         va / dna as sea, vb / dnb as seb
  from fin1
),
fin3 as (
  select query_id, na, nb, ma, mb, sea, seb, dna, dnb,
         sea + seb as se2
  from fin2
)
select query_id,
       na as n_a,
       nb as n_b,
       cast(floor(ma * 1000000) as bigint) as mean_a6,
       cast(floor(mb * 1000000) as bigint) as mean_b6,
       cast(floor((ma - mb) / nullif(sqrt(se2), 0.0) * 1000000) as bigint) as t6,
       cast(floor(se2 * se2 / nullif(sea * sea / (dna - 1.0) + seb * seb / (dnb - 1.0), 0.0) * 1000000) as bigint) as df6
from fin3
"""


def _top_hits_sql(d: _Dialect, n: int = 3) -> str:
    """Bucketed-top-hits twin (plans/hits.py ``top_hits``): the full BM25
    scored set joined to documents.lang, per-(query, lang) row_number
    under (score6 desc, doc_id asc), rank <= n."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select s.query_id, doc.lang as facet, s.doc_id, s.score6,
         row_number() over (partition by s.query_id, doc.lang
                            order by s.score6 desc, s.doc_id asc) as rank
  from scored s join documents doc on doc.doc_id = s.doc_id
)
select query_id, facet, rank, doc_id, score6 from ranked where rank <= {n}
"""


def _dis_max_sql(d: _Dialect, k: int = 10, tie: float = 0.5) -> str:
    """Disjunction-max twin (plans/query.py ``search_dis_max``): per
    (query, doc) the max and sum of the per-term contributions combine as
    ``best + tie * (sum - best)`` — Lucene DisjunctionMaxQuery. The max
    is order-free; the sum is the same partial-sum class as every scored
    twin; ``tie`` is exactly representable so the combination rounds
    identically across engines. Ranked by final6 desc, doc_id-asc ties."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
combined as (
  select query_id, doc_id,
         cast(floor((max(w) + {tie!r} * (sum(w) - max(w))) * 1000000) as bigint) as final6,
         cast(floor(max(w) * 1000000) as bigint) as best6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, final6, best6,
         row_number() over (partition by query_id order by final6 desc, doc_id asc) as rank
  from combined
)
select query_id, rank, doc_id, final6, best6 from ranked where rank <= {k}
"""


# The shared negative query for the boosting-query entries: 'data' is a
# head term (query 1's own first term), so demotion bites inside several
# queries' top-10 — the reorder is non-vacuous by construction.
BOOSTING_NEG_TERM = "data"

# Prefix length for the match_phrase_prefix entries: the first 3 chars of
# each PHRASE_QUERIES bigram's second word — short enough that the prefix
# also matches OTHER vocabulary ('spa' ~ spark/spa*, 'sor' ~ sort/...), so
# the prefix test is genuinely weaker than the full phrase.
PHRASE_PREFIX_LEN = 3


def _phrase_prefix_sql(d: _Dialect, k: int = 10) -> str:
    """Phrase-prefix twin (plans/query.py ``search_phrase_prefix``): docs
    where the full term is IMMEDIATELY followed by a token starting with
    the prefix, ranked by BM25 over the full term only (the half-typed
    word has no stable statistics — Lucene's own practice). The prefix
    test is a portable 1-based ``substr`` equality; DuckDB lists are
    1-based and its empty-range generate_series yields empty, Spark
    arrays are 0-based with the explicit size guard."""
    qlist = ", ".join(
        f"({qid}, '{t.split()[0]}', '{t.split()[1][:PHRASE_PREFIX_LEN]}')"
        for qid, t in PHRASE_QUERIES
    )
    if d.duck:
        adj = (
            "len(list_filter(generate_series(1, len(t.terms) - 1), "
            "i -> t.terms[i] = q.t1 and "
            "substr(t.terms[i + 1], 1, length(q.p)) = q.p)) > 0"
        )
    else:
        adj = (
            "case when size(t.terms) >= 2 then "
            "exists(sequence(0, size(t.terms) - 2), "
            "i -> t.terms[i] = q.t1 and "
            "substr(t.terms[i + 1], 1, length(q.p)) = q.p) else false end"
        )
    return f"""
with phrases(query_id, t1, p) as (values {qlist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
matched as (
  select q.query_id, t.doc_id
  from phrases q join toks t on {adj}
),
qterms as (select distinct query_id, t1 as term from phrases),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
{_BM25_CONTRIB_CTE},
scored as (
  select m.query_id, m.doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from matched m join contrib cb on cb.query_id = m.query_id and cb.doc_id = m.doc_id
  group by m.query_id, m.doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


def _boosting_sql(d: _Dialect, k: int = 10, nb: float = 0.5) -> str:
    """Boosting-query twin (plans/query.py ``search_boosting``): the
    positive BM25 scored set, multiplied by ``nb`` for docs that ALSO
    contain BOOSTING_NEG_TERM (demoted, never excluded), ranked by the
    floored product with doc_id-asc ties. ``nb`` is exactly representable
    so the single product rounds identically across engines."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id, sum(w) as raw_score
  from contrib group by query_id, doc_id
),
neg_matched as (
  select distinct q.query_id, o.doc_id
  from queries q cross join occ o where o.term = '{BOOSTING_NEG_TERM}'
),
boosted as (
  select s.query_id, s.doc_id,
         cast(floor(s.raw_score
           * (case when nm.doc_id is not null then {nb!r} else 1.0 end)
           * 1000000) as bigint) as final6,
         cast(case when nm.doc_id is not null then 1 else 0 end as int) as demoted
  from scored s left join neg_matched nm
    on nm.query_id = s.query_id and nm.doc_id = s.doc_id
),
ranked as (
  select query_id, doc_id, final6, demoted,
         row_number() over (partition by query_id order by final6 desc, doc_id asc) as rank
  from boosted
)
select query_id, rank, doc_id, final6, demoted from ranked where rank <= {k}
"""


RARE_TERMS_MAX_DOC_COUNT = 3


def _rare_terms_sql(d: _Dialect, maxc: int = RARE_TERMS_MAX_DOC_COUNT) -> str:
    """Rare-terms twin (plans/hits.py ``rare_terms``): the long-tail
    buckets of the n_chars field over the match set — every value held by
    at most ``maxc`` matching docs (exact groupBy + HAVING; ES's
    CuckooFilter version is approximate). n_chars as the facet: exact
    lengths are high-cardinality, so the tail is non-empty by
    construction."""
    s = "varchar" if d.duck else "string"
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, cast(doc.n_chars as {s}) as facet
  from matched m join documents doc on doc.doc_id = m.doc_id
)
select query_id, facet, cast(count(*) as bigint) as n_docs
from keyed group by query_id, facet
having count(*) <= {maxc}
"""


# Per-doc required-match threshold for the terms_set entries: 1..3 by
# doc_id — strict docs demand 3 distinct query terms, lenient docs 1.
TERMS_SET_REQ = "(doc_id % 3) + 1"


def _terms_set_sql(d: _Dialect, k: int = 10) -> str:
    """Terms-set twin (plans/query.py ``search_terms_set``): per (query,
    doc) the count of DISTINCT matched query terms and the OR BM25 sum;
    docs survive when the count meets their per-doc required threshold
    (TERMS_SET_REQ), ranked by score6 desc with doc_id-asc ties."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
agg as (
  select query_id, doc_id,
         cast(count(*) as bigint) as n_matched,
         cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
keyed as (
  select a.query_id, a.doc_id, a.score6, a.n_matched,
         cast({TERMS_SET_REQ.replace('doc_id', 'doc.doc_id')} as bigint) as req
  from agg a join documents doc on doc.doc_id = a.doc_id
  where a.n_matched >= {TERMS_SET_REQ.replace('doc_id', 'doc.doc_id')}
),
ranked as (
  select query_id, doc_id, score6, n_matched, req,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from keyed
)
select query_id, rank, doc_id, score6, n_matched, req from ranked where rank <= {k}
"""


def _percolate_sql(d: _Dialect) -> str:
    """Percolation twin (plans/percolate.py ``percolate``): the flagship
    queries as the REGISTERED set, documents as the incoming stream —
    (doc, query) pairs where the doc carries ALL of the query's distinct
    terms (conjunctive default), with the matched/required counts."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
qreq as (select query_id, cast(count(*) as bigint) as n_required from qterms group by query_id),
toks as (select doc_id, {d.terms('text')} as terms from documents),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
docc as (select distinct doc_id, term from occ),
hit as (
  select q.query_id, o.doc_id, cast(count(*) as bigint) as n_matched
  from qterms q join docc o on o.term = q.term
  group by q.query_id, o.doc_id
)
select h.doc_id, h.query_id, h.n_matched, r.n_required
from hit h join qreq r on r.query_id = h.query_id
where h.n_matched >= r.n_required
"""


# span_first boundary: the span term must sit within the first N token
# positions (1-based inclusive) — small enough that the lede test prunes
# real matches at every SF, large enough that each query keeps hits.
SPAN_FIRST_END = 50


def _span_first_sql(d: _Dialect, k: int = 10, end: int = SPAN_FIRST_END) -> str:
    """Span-first twin (plans/query.py ``search_span_first``): each
    flagship query's FIRST token as the span term; docs where it occurs
    within the first ``end`` positions, ranked by that term's BM25."""
    qlist = ", ".join(
        f"({qid}, '{t.split()[0]}')" for qid, t in BM25_QUERIES
    )
    return f"""
with spanq(query_id, term) as (values {qlist}),
{_bm25_corpus_cte(d)},
qterms as (select query_id, term from spanq),
{_BM25_CONTRIB_CTE},
matched as (
  select s.query_id, t.doc_id
  from spanq s join toks t
    on {d.arr_contains(d.head_slice('t.terms', end), 's.term')}
),
scored as (
  select m.query_id, m.doc_id, cast(floor(sum(c.w) * 1000000) as bigint) as score6
  from matched m join contrib c on c.query_id = m.query_id and c.doc_id = m.doc_id
  group by m.query_id, m.doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


# span_not probes: include/exclude pairs drawn from the PLANTED bigrams
# ("data spark", "merge sort", ...) with a +-SPAN_NOT_W window — docs
# carrying the planted collocation have the exclude term adjacent to the
# include term, so the span test genuinely reshuffles each ranking vs the
# unconstrained single-term query.
SPAN_NOT_W = 2
SPAN_NOT_QUERIES = [
    (1, "data", "spark"),
    (2, "merge", "sort"),
    (3, "fast", "slow"),
    (4, "join", "filter"),
    (5, "stream", "batch"),
]


def _span_not_sql(d: _Dialect, k: int = 10, w: int = SPAN_NOT_W) -> str:
    """Span-not twin (plans/query.py ``search_span_not``): docs with an
    include-term occurrence whose +-``w`` token window contains NO exclude
    occurrence, ranked by the include term's BM25 (the span test filters,
    never boosts — the span_first convention)."""
    qlist = ", ".join(f"({qid}, '{a}', '{b}')" for qid, a, b in SPAN_NOT_QUERIES)
    if d.duck:
        pred = (
            "len(list_filter(generate_series(1, len(t.terms)), "
            "i -> t.terms[i] = q.a and "
            f"len(list_filter(generate_series(greatest(1, i - {w}), "
            f"least(i + {w}, len(t.terms))), "
            "j -> t.terms[j] = q.b)) = 0)) > 0"
        )
    else:
        pred = (
            "exists(sequence(0, size(t.terms) - 1), "
            "i -> t.terms[i] = q.a and not "
            f"exists(sequence(greatest(0, i - {w}), "
            f"least(i + {w}, size(t.terms) - 1)), "
            "j -> t.terms[j] = q.b))"
        )
    return f"""
with spanq(query_id, a, b) as (values {qlist}),
{_bm25_corpus_cte(d)},
qterms as (select query_id, a as term from spanq),
{_BM25_CONTRIB_CTE},
matched as (
  select q.query_id, t.doc_id
  from spanq q join toks t on {pred}
),
scored as (
  select m.query_id, m.doc_id, cast(floor(sum(c.w) * 1000000) as bigint) as score6
  from matched m join contrib c on c.query_id = m.query_id and c.doc_id = m.doc_id
  group by m.query_id, m.doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


# intervals probes: 3-term ordered chains over the common vocab with a
# SHARED max_gaps budget — t1 then t2 then t3 in order, total positions
# skipped between the matched occurrences <= INTERVALS_MAX_GAPS (the ES
# `intervals` match rule with ordered:true). Distinct from bm25_near's
# per-pair slop: the budget telescopes across the whole chain, so the
# constraint is p3 - p1 - 2 <= G with strictly increasing matches. All
# five chains verified non-vacuous and non-total at sf0.01 (10-19 chain
# matches vs 260-283 docs containing all three terms).
INTERVALS_MAX_GAPS = 4
INTERVALS_QUERIES = [
    (1, "data", "spark", "join"),
    (2, "merge", "sort", "row"),
    (3, "join", "filter", "scan"),
    (4, "stream", "batch", "hash"),
    (5, "fast", "slow", "column"),
]


def _intervals_sql(d: _Dialect, k: int = 10, g: int = INTERVALS_MAX_GAPS) -> str:
    """Intervals twin (plans/query.py ``search_intervals``): docs where the
    three terms appear as an ORDERED chain spending at most ``g`` total gap
    positions across the whole chain, BM25-ranked over the chain's terms
    (the conjunctive-candidates scoring — a chain match implies all three
    terms present). The intermediate window for term r is bounded by
    p_1 + r + g (later gaps are >= 0, so any match must keep every prefix
    within the budget) — existential nesting, no greedy/DP subtlety."""
    qlist = ", ".join(
        f"({qid}, '{a}', '{b}', '{c}')" for qid, a, b, c in INTERVALS_QUERIES
    )
    if d.duck:
        pred = (
            "len(list_filter(generate_series(1, len(t.terms)), "
            "i -> t.terms[i] = q.t1 and "
            f"len(list_filter(generate_series(i + 1, least(i + 1 + {g}, len(t.terms))), "
            "j -> t.terms[j] = q.t2 and "
            f"len(list_filter(generate_series(j + 1, least(i + 2 + {g}, len(t.terms))), "
            "l -> t.terms[l] = q.t3)) > 0)) > 0)) > 0"
        )
    else:
        pred = (
            "case when size(t.terms) >= 3 then "
            "exists(sequence(0, size(t.terms) - 1), i -> t.terms[i] = q.t1 and "
            f"(case when i + 1 <= least(i + 1 + {g}, size(t.terms) - 1) then "
            f"exists(sequence(i + 1, least(i + 1 + {g}, size(t.terms) - 1)), "
            "j -> t.terms[j] = q.t2 and "
            f"(case when j + 1 <= least(i + 2 + {g}, size(t.terms) - 1) then "
            f"exists(sequence(j + 1, least(i + 2 + {g}, size(t.terms) - 1)), "
            "l -> t.terms[l] = q.t3) else false end)) else false end)) "
            "else false end"
        )
    return f"""
with chains(query_id, t1, t2, t3) as (values {qlist}),
{_bm25_corpus_cte(d)},
qterms as (
  select distinct query_id, t1 as term from chains
  union select distinct query_id, t2 from chains
  union select distinct query_id, t3 from chains
),
{_BM25_CONTRIB_CTE},
matched as (
  select q.query_id, t.doc_id
  from chains q join toks t on {pred}
),
scored as (
  select m.query_id, m.doc_id, cast(floor(sum(c.w) * 1000000) as bigint) as score6
  from matched m join contrib c on c.query_id = m.query_id and c.doc_id = m.doc_id
  group by m.query_id, m.doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


GOPHER_TOP = 50

# Gopher quality-filter thresholds (Rae et al. 2021 table A1, adapted to
# the driver corpus' scale): token-count window, mean word length window,
# and a minimum stopword fraction (the paper's "function word" filter).
# Verified discriminating on the sf0.01 documents table: 431 keep / 69
# reject, with every signal varying.
GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 100_000
GOPHER_MWL_LO6 = 3_000_000  # mean word length >= 3.0 chars
GOPHER_MWL_HI6 = 10_000_000  # mean word length <= 10.0 chars
GOPHER_HEAD_MIN6 = 10_000  # >= 1% of tokens from the stopword list
GOPHER_HEAD_TERMS = ("the", "a", "is", "of", "and", "in", "to", "on")
GOPHER_QUALITY_N = 200


def _gopher_quality_sql(d: _Dialect, n: int = GOPHER_QUALITY_N) -> str:
    """Gopher-style per-doc quality signals + keep verdict (Rae et al.
    2021 quality filters; the training-data "remove junk documents" op):
    token count, mean word length (total token chars / tokens), type-token
    ratio, and head-term ("stopword") fraction, each a floor(x*1e6)
    bigint, plus the conjunctive keep flag over the thresholds above.
    First ``n`` docs by doc_id — signal extraction is per-doc (map-only at
    scale); thresholds chosen so both verdicts occur at sf0.01."""
    head = ", ".join(f"'{t}'" for t in GOPHER_HEAD_TERMS)
    if d.duck:
        totchars = "length(array_to_string(terms, ''))"
        dis = "len(list_distinct(terms))"
        nhead = f"len(list_filter(terms, x -> list_contains([{head}], x)))"
    else:
        totchars = "length(array_join(terms, ''))"
        dis = "size(array_distinct(terms))"
        nhead = f"size(filter(terms, x -> array_contains(array({head}), x)))"
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents),
sig as (
  select doc_id,
         cast({d.size('terms')} as bigint) as n_tokens,
         cast({totchars} as bigint) as totchars,
         cast({dis} as bigint) as n_distinct,
         cast({nhead} as bigint) as n_head
  from toks where {d.size('terms')} > 0
),
scored as (
  select doc_id, n_tokens,
         cast(floor(cast(totchars as double) / n_tokens * 1000000) as bigint) as mwl6,
         cast(floor(cast(n_distinct as double) / n_tokens * 1000000) as bigint) as ttr6,
         cast(floor(cast(n_head as double) / n_tokens * 1000000) as bigint) as head6
  from sig
)
select doc_id, n_tokens, mwl6, ttr6, head6,
       (n_tokens >= {GOPHER_MIN_TOKENS} and n_tokens <= {GOPHER_MAX_TOKENS}
        and mwl6 >= {GOPHER_MWL_LO6} and mwl6 <= {GOPHER_MWL_HI6}
        and head6 >= {GOPHER_HEAD_MIN6}) as keep
from scored order by doc_id asc limit {n}
"""


def _gopher_quality_summary_sql(d: _Dialect) -> str:
    """Corpus-level roll-up of the Gopher keep verdict: doc count and mean
    token count per verdict (the filter's acceptance-rate dashboard).
    One shuffle on the boolean key at any corpus size."""
    head = ", ".join(f"'{t}'" for t in GOPHER_HEAD_TERMS)
    if d.duck:
        totchars = "length(array_to_string(terms, ''))"
        nhead = f"len(list_filter(terms, x -> list_contains([{head}], x)))"
    else:
        totchars = "length(array_join(terms, ''))"
        nhead = f"size(filter(terms, x -> array_contains(array({head}), x)))"
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents),
sig as (
  select doc_id,
         cast({d.size('terms')} as bigint) as n_tokens,
         cast({totchars} as bigint) as totchars,
         cast({nhead} as bigint) as n_head
  from toks where {d.size('terms')} > 0
),
scored as (
  select n_tokens,
         cast(floor(cast(totchars as double) / n_tokens * 1000000) as bigint) as mwl6,
         cast(floor(cast(n_head as double) / n_tokens * 1000000) as bigint) as head6
  from sig
)
select (n_tokens >= {GOPHER_MIN_TOKENS} and n_tokens <= {GOPHER_MAX_TOKENS}
        and mwl6 >= {GOPHER_MWL_LO6} and mwl6 <= {GOPHER_MWL_HI6}
        and head6 >= {GOPHER_HEAD_MIN6}) as keep,
       cast(count(*) as bigint) as doc_count,
       cast(floor(avg(cast(n_tokens as double)) * 1000000) as bigint) as avg_tokens6
from scored group by 1
"""


# Decontamination probes: benchmark phrases whose EXACT token span must
# not appear in training documents (Lee et al. 2021 / GPT-3 appendix C
# eval-set decontamination). Probes are 3-token spans planted-by-selection
# from the corpus with known mid-range df (non-vacuous and non-total at
# sf0.001 AND sf0.01 — verified at add time: df 1-4 / 3-4 respectively).
DECONTAM_PROBES = [
    (1, "a agg group"),
    (2, "a batch big"),
    (3, "a column stream"),
    (4, "a fast hash"),
    (5, "a key column"),
]


def _decontamination_sql(d: _Dialect) -> str:
    """Decontamination audit (training-data pipeline op): every document
    containing a benchmark probe's exact 3-token CONTIGUOUS span —
    shingle membership, not bag-of-words ("a fast hash" must appear in
    order, adjacent. One tokenize + shingle pass over the corpus scans all
    probes at once (the probe set broadcasts; at 100 TB this is one
    map-only pass + a tiny hit shuffle). Rows: (probe_id, doc_id) for
    every contaminated doc, both columns ascending."""
    plist = ", ".join(f"({pid}, '{p}')" for pid, p in DECONTAM_PROBES)
    return f"""
with probes(probe_id, phrase) as (values {plist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
sh as (select doc_id, {d.shingles('terms')} as g3 from toks),
hit as (
  select p.probe_id, s.doc_id
  from probes p join sh s on {d.arr_contains('s.g3', 'p.phrase')}
)
select probe_id, doc_id from hit order by probe_id asc, doc_id asc
"""


def _decontamination_summary_sql(d: _Dialect) -> str:
    """Per-probe contamination dashboard: contaminated-doc count and the
    contamination rate over the corpus (floor(x*1e6) bigint). LEFT join
    from the probe list so a clean probe still reports 0."""
    plist = ", ".join(f"({pid}, '{p}')" for pid, p in DECONTAM_PROBES)
    return f"""
with probes(probe_id, phrase) as (values {plist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
n as (select cast(count(*) as double) as total from toks),
sh as (select doc_id, {d.shingles('terms')} as g3 from toks),
hit as (
  select p.probe_id, count(*) as c
  from probes p join sh s on {d.arr_contains('s.g3', 'p.phrase')}
  group by p.probe_id
)
select p.probe_id, p.phrase,
       cast(coalesce(h.c, 0) as bigint) as contaminated_docs,
       cast(floor(cast(coalesce(h.c, 0) as double) / (select total from n) * 1000000) as bigint) as rate6
from probes p left join hit h on h.probe_id = p.probe_id
order by p.probe_id asc
"""


def _gopher_repetition_sql(d: _Dialect, top: int = GOPHER_TOP) -> str:
    """Gopher-style repetition signals (Rae et al. 2021 quality filters):
    per-doc duplicate 2-gram and 3-gram fractions — the fraction of token
    n-gram slots occupied by a repeated n-gram — for the training-data
    "remove degenerately repetitive documents" filter. Top ``top`` docs by
    (dup2 desc, doc_id asc); fixed-point 1e6 bigints. Docs with no bigram
    (fewer than 2 tokens) are excluded — the filter has no signal there."""
    if d.duck:
        big = "list_transform(generate_series(1, len(terms) - 1), i -> terms[i] || ' ' || terms[i+1])"
        dis = "len(list_distinct({a}))"
    else:
        big = (
            "case when size(terms) >= 2 then "
            "transform(sequence(0, size(terms) - 2), "
            "i -> concat(terms[i], ' ', terms[i+1])) else array() end"
        )
        dis = "size(array_distinct({a}))"
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents),
sh as (select doc_id, {big} as g2, {d.shingles('terms')} as g3 from toks),
m as (
  select doc_id,
         cast({d.size('g2')} as bigint) as n2, cast({dis.format(a='g2')} as bigint) as d2,
         cast({d.size('g3')} as bigint) as n3, cast({dis.format(a='g3')} as bigint) as d3
  from sh where {d.size('g2')} > 0
),
scored as (
  select doc_id, n2 as n_bigrams,
         cast(floor((1.0 - cast(d2 as double) / n2) * 1000000) as bigint) as dup2_6,
         case when n3 > 0
              then cast(floor((1.0 - cast(d3 as double) / n3) * 1000000) as bigint)
              else cast(0 as bigint) end as dup3_6
  from m
),
ranked as (
  select doc_id, n_bigrams, dup2_6, dup3_6,
         row_number() over (order by dup2_6 desc, doc_id asc) as rank
  from scored
)
select rank, doc_id, n_bigrams, dup2_6, dup3_6 from ranked where rank <= {top}
"""


# filters-agg buckets: NAMED query-defined buckets (ES `filters` agg), not
# field-value buckets (that's facet_counts) — a doc lands in EVERY bucket
# whose term it contains, plus the ES other_bucket for docs matching none.
FILTERS_AGG_BUCKETS = [
    ("spark_docs", "spark"),
    ("merge_docs", "merge"),
    ("batch_docs", "batch"),
]


def _filters_agg_sql(d: _Dialect) -> str:
    """Filters-agg twin: per named term-filter bucket, the doc count and
    mean token length (fixed-point 1e6) of its members; multi-membership
    (ES filters semantics), '_other_' collects docs matching no bucket."""
    blist = ", ".join(f"('{name}', '{t}')" for name, t in FILTERS_AGG_BUCKETS)
    return f"""
with buckets(bucket, term) as (values {blist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
hit as (
  select b.bucket, t.doc_id, cast({d.size('t.terms')} as bigint) as doc_len
  from buckets b join toks t on {d.arr_contains('t.terms', 'b.term')}
),
other as (
  select '_other_' as bucket, t.doc_id, cast({d.size('t.terms')} as bigint) as doc_len
  from toks t
  where not exists (
    select 1 from buckets b where {d.arr_contains('t.terms', 'b.term')}
  )
),
allb as (select * from hit union all select * from other)
select bucket, cast(count(*) as bigint) as doc_count,
       cast(floor(avg(cast(doc_len as double)) * 1000000) as bigint) as avg_len6
from allb group by bucket
"""


# terms-lookup query: the term set is FETCHED from another document at
# query time (ES terms-lookup: index/id/path) — here the alphabetically
# first TERMS_LOOKUP_K distinct terms of doc TERMS_LOOKUP_DOC, then a
# disjunctive BM25 over that fetched set.
TERMS_LOOKUP_DOC = 7
TERMS_LOOKUP_K = 5


def _terms_lookup_sql(d: _Dialect, k: int = 10) -> str:
    """Terms-lookup twin: load the lookup doc's first ``TERMS_LOOKUP_K``
    distinct terms (alphabetical — deterministic without positions), score
    every doc containing any of them by summed BM25, top-``k``. The seed
    doc itself is NOT excluded (ES doesn't either)."""
    return f"""
with {_bm25_corpus_cte(d)},
lookup as (
  select term from (
    select distinct term from occ where doc_id = {TERMS_LOOKUP_DOC}
  ) t order by term limit {TERMS_LOOKUP_K}
),
qterms as (select 1 as query_id, term from lookup),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


def _multi_terms_sql(d: _Dialect) -> str:
    """Multi-terms twin (plans/hits.py ``multi_terms``): the match set
    bucketed by the COMPOUND (lang, source) key with doc counts."""
    return f"""{_matched_cte(d)}
select m.query_id, doc.lang as facet_a, doc.source as facet_b,
       cast(count(*) as bigint) as n_docs
from matched m join documents doc on doc.doc_id = m.doc_id
group by m.query_id, doc.lang, doc.source
"""


TOP_METRICS_SIZE = 3
# Deterministic surrogate metric for the top_metrics entries (the synthetic
# documents table has one numeric attribute, which is the SORT key).
TOP_METRICS_METRIC = "doc_id % 97"


def _top_metrics_sql(d: _Dialect, size: int = TOP_METRICS_SIZE) -> str:
    """Top-metrics twin (plans/hits.py ``top_metrics``): the metric values
    carried by the ``size`` matching docs with the largest n_chars
    (doc_id-asc ties == the engine's url-asc)."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, m.doc_id, cast(doc.n_chars as bigint) as sort_key,
         cast(doc.{TOP_METRICS_METRIC} as bigint) as metric
  from matched m join documents doc on doc.doc_id = m.doc_id
),
ranked as (
  select query_id, doc_id, sort_key, metric,
         row_number() over (partition by query_id order by sort_key desc, doc_id asc) as rank
  from keyed
)
select query_id, rank, doc_id, sort_key, metric from ranked where rank <= {size}
"""


# multi_match (best_fields): the synthetic "title" field is the first
# MM_TITLE_LEN tokens of each doc; title^2, tie_breaker exactly
# representable so the combination is two IEEE ops in both engines.
MM_TITLE_LEN = 8
MM_TITLE_BOOST = 2.0
MM_TIE_BREAKER = 0.25


def _multi_match_sql(d: _Dialect, k: int = 10) -> str:
    """Multi-match twin (plans/query.py ``search_multi_field``): BM25 over
    the body AND over the first-MM_TITLE_LEN-token title slice — each
    field with its OWN df/avgdl statistics (the whole point of
    best_fields) — combined per doc as best + tie_breaker * (sum - best)
    over the boosted per-field scores."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
body_score as (select query_id, doc_id, sum(w) as s from contrib group by query_id, doc_id),
ttoks as (select doc_id, {d.head_slice('terms', MM_TITLE_LEN)} as terms from toks),
t_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from ttoks),
t_corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from t_stats),
t_occ as (select doc_id, {d.unnest('terms')} as term from ttoks),
t_postings as (select term, doc_id, cast(count(*) as bigint) as tf from t_occ group by term, doc_id),
t_dfreq as (select term, cast(count(*) as bigint) as df from t_postings group by term),
t_contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join t_postings p on p.term = q.term
  join t_dfreq d on d.term = q.term
  join t_stats s on s.doc_id = p.doc_id
  cross join t_corpus c
),
title_score as (select query_id, doc_id, sum(w) as s from t_contrib group by query_id, doc_id),
per_field as (
  select query_id, doc_id, s * 1.0 as s from body_score
  union all
  select query_id, doc_id, s * {MM_TITLE_BOOST} as s from title_score
),
comb as (
  select query_id, doc_id,
         cast(floor((max(s) + {MM_TIE_BREAKER} * (sum(s) - max(s))) * 1000000) as bigint) as final6,
         cast(floor(max(s) * 1000000) as bigint) as best6
  from per_field group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, final6, best6,
         row_number() over (partition by query_id order by final6 desc, doc_id asc) as rank
  from comb
)
select query_id, rank, doc_id, final6, best6 from ranked where rank <= {k}
"""


def _combined_fields_sql(d: _Dialect, k: int = 10) -> str:
    """Combined-fields twin (the ES ``combined_fields`` query — the
    principled BM25F-style alternative to best_fields): body^1 + title^2
    scored as ONE virtual field with blended statistics — tf_c = tf_body
    + 2*tf_title, dl_c = dl_body + 2*dl_title, df over the combined field
    (== body df here: the synthetic title is a PREFIX SLICE of the body
    token array, so title terms are a subset per doc), avgdl over dl_c.
    Integer field weights make this exactly plain BM25 over the
    weight-repeated concatenation, which is how the engine runs it: a
    committed index over text + title + title
    (``__spark_entry__._engine_cmb_index``). Same contribution formula
    text as ``_BM25_CONTRIB_CTE`` with the blended stats substituted."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
ctoks as (select doc_id, terms, {d.head_slice('terms', MM_TITLE_LEN)} as tt from toks),
doc_stats as (
  select doc_id,
         cast({d.size('terms')} + 2 * {d.size('tt')} as bigint) as doc_len
  from ctoks
),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
occ_b as (select doc_id, {d.unnest('terms')} as term from ctoks),
occ_t as (select doc_id, {d.unnest('tt')} as term from ctoks),
tf_b as (select term, doc_id, cast(count(*) as bigint) as tf from occ_b group by term, doc_id),
tf_t as (select term, doc_id, cast(count(*) as bigint) as tf from occ_t group by term, doc_id),
postings as (
  select b.term, b.doc_id, b.tf + 2 * coalesce(t.tf, 0) as tf
  from tf_b b left join tf_t t on t.term = b.term and t.doc_id = b.doc_id
),
dfreq as (select term, cast(count(*) as bigint) as df from tf_b group by term),
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id,
         cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


def _index_stats_sql(d: _Dialect) -> str:
    """Index-stats twin (plans/hits.py ``index_stats``): the corpus
    RECOUNT the committed-artifact report must equal — doc count, distinct
    vocabulary, exact token total, floor(avgdl*1e6), zero tombstones."""
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents),
ds as (select cast(count(*) as bigint) as n_docs,
              cast(sum({d.size('terms')}) as bigint) as total_tokens from toks),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
vt as (select cast(count(distinct term) as bigint) as n_terms from occ)
select ds.n_docs, vt.n_terms, ds.total_tokens,
       cast(floor(cast(ds.total_tokens as double) / cast(ds.n_docs as double) * 1000000) as bigint) as avgdl6,
       cast(0 as bigint) as n_deleted
from ds cross join vt
"""


# _termvectors doc set: the first five docs.
TV_DOC_IDS = (0, 1, 2, 3, 4)


def _term_vectors_sql(d: _Dialect) -> str:
    """Term-vectors twin (plans/hits.py ``term_vectors``): per requested
    doc every contained term with in-doc tf and corpus-wide df."""
    ids = ", ".join(str(i) for i in TV_DOC_IDS)
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term)
select p.doc_id, p.term, p.tf, f.df
from postings p join dfreq f on f.term = p.term
where p.doc_id in ({ids})
"""


# _reindex subset predicate: even doc_ids (urls are zero-padded doc_ids, so
# the engine filters on the url's parity).
REINDEX_PRED = "doc_id % 2 = 0"


# Geo family: deterministic synthetic (lat, lon) from doc_id (sqlglue
# GEO_LAT/GEO_LON), a fixed origin, an inclusive bounding box, and the
# slippy-map zoom for the tile-grid agg.
GEO_ORIGIN = (37.77, -122.42)
GEO_BOX = (-30.0, -60.0, 45.0, 90.0)
GEO_ZOOM = 3


def _geo_keyed_cte(d: _Dialect) -> str:
    """Shared lat/lon derivation over the match set (after _matched_cte)."""
    from .functions.sqlglue import GEO_LAT, GEO_LON

    lat = GEO_LAT.format(id="m.doc_id")
    lon = GEO_LON.format(id="m.doc_id")
    return f""", keyed as (
  select m.query_id, m.doc_id, {lat} as lat, {lon} as lon from matched m
)"""


def _geo_distance_sql(d: _Dialect, k: int = 10) -> str:
    """Geo-distance twin (plans/hits.py ``geo_distance_topk``): the k
    matching docs nearest GEO_ORIGIN by haversine km (the SAME sqlglue
    expression text the engine evaluates), doc_id-asc ties."""
    from .functions.sqlglue import HAVERSINE_KM

    dist = HAVERSINE_KM.format(
        lat1=repr(float(GEO_ORIGIN[0])),
        lon1=repr(float(GEO_ORIGIN[1])),
        lat2="lat",
        lon2="lon",
    )
    return f"""{_matched_cte(d)}{_geo_keyed_cte(d)},
dists as (
  select query_id, doc_id,
         cast(floor(({dist}) * 1000000) as bigint) as dist6
  from keyed
),
ranked as (
  select query_id, doc_id, dist6,
         row_number() over (partition by query_id order by dist6 asc, doc_id asc) as rank
  from dists
)
select query_id, rank, doc_id, dist6 from ranked where rank <= {k}
"""


def _geo_bbox_sql(d: _Dialect) -> str:
    """Bounding-box twin (plans/hits.py ``geo_bounding_box_count``):
    matches inside the inclusive GEO_BOX rectangle, counted per query."""
    min_lat, min_lon, max_lat, max_lon = GEO_BOX
    return f"""{_matched_cte(d)}{_geo_keyed_cte(d)}
select query_id, cast(count(*) as bigint) as n_in_box
from keyed
where lat between {min_lat!r} and {max_lat!r}
  and lon between {min_lon!r} and {max_lon!r}
group by query_id
"""


def _geotile_sql(d: _Dialect, zoom: int = GEO_ZOOM) -> str:
    """Geotile-grid twin (plans/hits.py ``geotile_grid``): slippy z/x/y
    tile buckets over the match set at GEO_ZOOM."""
    from .functions.sqlglue import GEOTILE_X, GEOTILE_Y

    n = 1 << zoom
    s = d.str_type()
    tx = f"cast(({GEOTILE_X.format(lon='lon', n=n)}) as {s})"
    ty = f"cast(({GEOTILE_Y.format(lat='lat', n=n)}) as {s})"
    tile = d.concat(f"'{zoom}/'", tx, "'/'", ty)
    return f"""{_matched_cte(d)}{_geo_keyed_cte(d)}
select query_id, {tile} as tile, cast(count(*) as bigint) as n_docs
from keyed
group by query_id, {tile}
"""


GEOHASH_PRECISION = 5


def _geohash_sql(d: _Dialect, precision: int = GEOHASH_PRECISION) -> str:
    """Geohash-grid twin (plans/hits.py ``geohash_grid``): classic base32
    cell buckets over the match set — the sibling of ``_geotile_sql`` with
    the interleaved-bit cell id. The bit interleave is ONE generated
    arithmetic expression (sqlglue.geohash_cell_exprs — floor-div/mod
    only, verified against the bisection reference implementation), so
    the identical string runs in both engines."""
    from .functions.sqlglue import geohash_cell_exprs, geohash_char_expr

    lon_i, lat_i, code = geohash_cell_exprs("lon", "lat", precision)
    gh = d.concat(*(geohash_char_expr(i, precision) for i in range(precision)))
    return f"""{_matched_cte(d)}{_geo_keyed_cte(d)},
gi as (select query_id, {lon_i} as lon_i, {lat_i} as lat_i from keyed),
gc as (select query_id, cast(({code}) as bigint) as code from gi),
gh as (select query_id, {gh} as geohash from gc)
select query_id, geohash, cast(count(*) as bigint) as n_docs
from gh group by query_id, geohash
"""


def _geo_centroid_sql(d: _Dialect) -> str:
    """Geo-centroid twin (plans/hits.py ``geo_centroid``): the ES
    ``geo_centroid`` aggregation — per-query arithmetic-mean centroid of
    the matched docs' coordinates. Per-doc coordinates integerize FIRST
    (floor(x*1e6) bigints), so the mean is an exact int64 sum plus ONE
    double division of two exactly-representable integers (|sum| < 2^53)
    — no float-accumulation order can flip the floored digit between
    engines."""
    return f"""{_matched_cte(d)}{_geo_keyed_cte(d)},
pts as (
  select query_id,
         cast(floor(lat * 1000000) as bigint) as lat6,
         cast(floor(lon * 1000000) as bigint) as lon6
  from keyed
)
select query_id,
       cast(count(*) as bigint) as n_docs,
       cast(floor(cast(sum(lat6) as double) / cast(count(*) as double)) as bigint) as lat6c,
       cast(floor(cast(sum(lon6) as double) / cast(count(*) as double)) as bigint) as lon6c
from pts group by query_id
"""


def _geo_bounds_sql(d: _Dialect) -> str:
    """Geo-bounds twin (plans/hits.py ``geo_bounds``): the ES
    ``geo_bounds`` aggregation — the tightest bounding box around each
    query's match set, as top-left (max lat, min lon) / bottom-right
    (min lat, max lon). Coordinates integerize FIRST (floor(x*1e6)
    bigints) like geo_centroid, so min/max are pure int64 — bit-identical
    across engines by construction."""
    return f"""{_matched_cte(d)}{_geo_keyed_cte(d)},
pts as (
  select query_id,
         cast(floor(lat * 1000000) as bigint) as lat6,
         cast(floor(lon * 1000000) as bigint) as lon6
  from keyed
)
select query_id,
       cast(count(*) as bigint) as n_docs,
       max(lat6) as top6,
       min(lat6) as bottom6,
       min(lon6) as left6,
       max(lon6) as right6
from pts group by query_id
"""


# pinned query (ES `pinned`): these ids are promoted to the top in list
# order for EVERY query; organic BM25 results follow with the pinned ids
# removed. All three exist at every SF (documents is a fixed 500-doc table).
PINNED_DOC_IDS = (7, 3, 11)


def _bm25_pinned_sql(d: _Dialect, k: int = 10) -> str:
    """Pinned-query twin (plans/hits.py ``search_pinned``): the ES
    ``pinned`` query — PINNED_DOC_IDS rank 1..P in the given order for
    every query regardless of relevance; organic BM25 (same chain as
    bm25_topk) follows at ranks P+1..P+k with pinned ids excluded, ordered
    by (floor(score*1e6) desc, doc_id asc) exactly like the engine."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    pins = ", ".join(f"({i + 1}, {doc})" for i, doc in enumerate(PINNED_DOC_IDS))
    notin = ", ".join(str(x) for x in PINNED_DOC_IDS)
    P = len(PINNED_DOC_IDS)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
scored as (select query_id, doc_id, sum(w) as s from contrib group by query_id, doc_id),
organic as (
  select query_id, doc_id,
         row_number() over (
           partition by query_id
           order by cast(floor(s * 1000000) as bigint) desc, doc_id asc) as orank
  from scored where doc_id not in ({notin})
),
pins(pin_rank, doc_id) as (values {pins}),
pinned_rows as (
  select q.query_id, p.pin_rank as rank, p.doc_id, 1 as pinned
  from queries q cross join pins p
),
organic_rows as (
  select query_id, {P} + orank as rank, doc_id, 0 as pinned
  from organic where orank <= {k}
)
select query_id, cast(rank as bigint) as rank, doc_id,
       cast(pinned as bigint) as pinned
from (select * from pinned_rows union all select * from organic_rows) u
"""


# rank_eval NDCG position discounts, fixed-point: DISC6[r-1] =
# floor(1e6 / log2(r+1)) for rank r = 1..10. Precomputed so BOTH engines
# consume identical integer literals — DCG becomes pure int64 arithmetic
# (gain (2^rating - 1) is integer, discount is integer), immune to libm
# log2 last-ulp differences between JVM and DuckDB.
NDCG_DISC6 = tuple(
    math.floor(1_000_000 / math.log2(r + 1)) for r in range(1, 11)
)


def _rank_eval_sql(d: _Dialect, k: int = 10) -> str:
    """Ranking-evaluation twin (plans/hits.py ``rank_eval``): the ES
    ``_rank_eval`` API over the flagship BM25 top-k. Judgments are
    DETERMINISTIC term-coverage grades — rating(q, d) = number of distinct
    query terms present in d (the postings join), relevant iff the doc
    covers ALL the query's distinct tokens (rating = n_q, the conjunctive
    match set). Metrics per query, every float as a floor(x*1e6) bigint:

    * ``p10_6`` — precision@k: relevant retrieved / retrieved (ES divides
      by retrieved count, not k, when fewer than k return);
    * ``recall10_6`` — relevant retrieved / |relevant| (0 when no doc
      covers every term);
    * ``mrr6`` — 1 / rank of the first relevant hit (0 when none);
    * ``dcg6`` / ``ndcg10_6`` — fixed-point DCG with integer gains
      (2^rating - 1) and the NDCG_DISC6 integer discounts, so the sum is
      exact int64 in both engines; IDCG re-ranks the FULL rated set by
      (rating desc, doc_id asc) and takes the top k positions.

    Queries that retrieve nothing emit no row (same convention as every
    top-k twin). The only floats are four final single divisions of
    exactly-representable int64 pairs — deterministic across engines.

    Runs the MSM_QUERIES set: it mixes the rare 'dup' with common terms,
    so BM25's idf ranking tops partial-coverage docs and every metric
    actually discriminates (the flagship set's dense vocab makes all five
    queries score P@10 = NDCG = 1.0 — true, but test-blind)."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in MSM_QUERIES)
    disc = ", ".join(f"({r + 1}, {d6})" for r, d6 in enumerate(NDCG_DISC6[:k]))
    gain = f"({d.shiftl('1', 'cast(coalesce(ra.rating, 0) as int)')} - 1)"
    igain = f"({d.shiftl('1', 'cast(i.rating as int)')} - 1)"
    return f"""
with queries(query_id, query_text) as (values {qlist}),
disc(rank, d6) as (values {disc}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
qn as (select query_id, cast(count(*) as bigint) as n_q from qterms group by query_id),
{_BM25_CONTRIB_CTE},
scored as (select query_id, doc_id, sum(w) as s from contrib group by query_id, doc_id),
top as (
  select query_id, doc_id, rank from (
    select query_id, doc_id,
           row_number() over (partition by query_id
             order by cast(floor(s * 1000000) as bigint) desc, doc_id asc) as rank
    from scored) r where rank <= {k}
),
ratings as (
  select q.query_id, p.doc_id, cast(count(*) as bigint) as rating
  from qterms q join postings p on p.term = q.term
  group by q.query_id, p.doc_id
),
rel as (
  select r.query_id, r.doc_id
  from ratings r join qn on qn.query_id = r.query_id
  where r.rating = qn.n_q
),
nrel as (select query_id, cast(count(*) as bigint) as n_rel from rel group by query_id),
topstats as (
  select t.query_id,
         cast(count(*) as bigint) as n_ret,
         cast(sum(case when rel.doc_id is not null then 1 else 0 end) as bigint) as rel_ret,
         min(case when rel.doc_id is not null then t.rank end) as first_rel,
         cast(sum({gain} * disc.d6) as bigint) as dcg6
  from top t
  join disc on disc.rank = t.rank
  left join ratings ra on ra.query_id = t.query_id and ra.doc_id = t.doc_id
  left join rel on rel.query_id = t.query_id and rel.doc_id = t.doc_id
  group by t.query_id
),
ideal as (
  select query_id, rating,
         row_number() over (partition by query_id order by rating desc, doc_id asc) as irank
  from ratings
),
idcg as (
  select i.query_id, cast(sum({igain} * disc.d6) as bigint) as idcg6
  from ideal i join disc on disc.rank = i.irank
  where i.irank <= {k}
  group by i.query_id
)
select qn.query_id,
       coalesce(nrel.n_rel, cast(0 as bigint)) as n_rel,
       cast(floor(1000000.0 * ts.rel_ret / ts.n_ret) as bigint) as p10_6,
       case when coalesce(nrel.n_rel, 0) = 0 then cast(0 as bigint)
            else cast(floor(1000000.0 * ts.rel_ret / nrel.n_rel) as bigint) end as recall10_6,
       case when ts.first_rel is null then cast(0 as bigint)
            else cast(floor(1000000.0 / ts.first_rel) as bigint) end as mrr6,
       ts.dcg6 as dcg6,
       case when coalesce(ic.idcg6, 0) = 0 then cast(0 as bigint)
            else cast(floor(1000000.0 * ts.dcg6 / ic.idcg6) as bigint) end as ndcg10_6
from qn
join topstats ts on ts.query_id = qn.query_id
left join nrel on nrel.query_id = qn.query_id
left join idcg ic on ic.query_id = qn.query_id
"""


# auto_date_histogram bucket target (the ladder thresholds are target and
# target*31 days; the 400-day synthetic spans land every flagship query on
# 'month' here — the e2e pytest exercises all three ladder rungs).
AUTO_HISTO_TARGET = 20


def _auto_date_histo_sql(d: _Dialect, target: int = AUTO_HISTO_TARGET) -> str:
    """Auto-interval histogram twin (plans/hits.py ``auto_date_histogram``):
    per-query interval from the deterministic {day, month, year} ladder
    over the matched date span, buckets formatted per the chosen rung."""
    day = f"cast(m.doc_id % {DATE_DIM_MOD} as int)"
    if d.duck:
        dd = f"(date '{DATE_DIM_EPOCH}' + {day})"
        span = "date_diff('day', min(dd), max(dd))"
        fd, fm, fy = (
            "strftime(dd, '%Y-%m-%d')",
            "strftime(dd, '%Y-%m')",
            "strftime(dd, '%Y')",
        )
    else:
        dd = f"date_add(date '{DATE_DIM_EPOCH}', {day})"
        span = "datediff(max(dd), min(dd))"
        fd, fm, fy = (
            "date_format(dd, 'yyyy-MM-dd')",
            "date_format(dd, 'yyyy-MM')",
            "date_format(dd, 'yyyy')",
        )
    return f"""{_matched_cte(d)}
, dated as (select m.query_id, {dd} as dd from matched m),
spans as (select query_id, {span} + 1 as span from dated group by query_id),
keyed as (
  select t.query_id,
         case when s.span <= {target} then 'day'
              when s.span <= {target * 31} then 'month'
              else 'year' end as iv,
         t.dd
  from dated t join spans s on s.query_id = t.query_id
)
select query_id, iv as interval,
       case iv when 'day' then {fd} when 'month' then {fm} else {fy} end as bucket,
       cast(count(*) as bigint) as n_docs
from keyed
group by 1, 2, 3
"""


# bucket_selector threshold for the histogram sibling-pipeline entry.
HISTO_SEL_MIN = 5

# bucket_sort paging (ES from/size semantics: skip FROM buckets, keep SIZE).
HISTO_SORT_FROM = 1
HISTO_SORT_SIZE = 3


def _histo_bucket_sort_sql(
    d: _Dialect, frm: int = HISTO_SORT_FROM, size: int = HISTO_SORT_SIZE
) -> str:
    """bucket_sort twin (plans/hits.py ``date_histogram_bucket_sort``):
    the ES ``bucket_sort`` pipeline agg — parent month-histogram buckets
    reordered by a metric (doc count desc, bucket asc tie-break) with
    from/size paging applied AFTER the sort (skip ``frm``, keep ``size``
    — ES's from/size rule). Rank rides along so the page is
    self-describing. One window pass over O(buckets) rows."""
    return f"""{_date_histo_cte(d)}
, ranked as (
  select query_id, bucket, n_docs,
         row_number() over (
           partition by query_id order by n_docs desc, bucket asc) as rank
  from hist
)
select query_id, rank, bucket, n_docs
from ranked where rank > {frm} and rank <= {frm} + {size}
"""


def _histo_bucket_script_sql(d: _Dialect) -> str:
    """bucket_script twin (plans/hits.py ``date_histogram_bucket_script``):
    the ES ``bucket_script`` pipeline agg — a per-bucket arithmetic over
    TWO sibling metrics (params.chars = sum of matched docs' n_chars,
    params.docs = bucket doc count; script = params.chars / params.docs),
    i.e. mean chars per matched doc per month, floored at 1e6. Both
    sibling metrics come out of the SAME single-shuffle groupBy; the
    script itself is one identically-rounded double division."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, {_date_bucket_expr(d)} as bucket,
         cast(doc.n_chars as bigint) as v
  from matched m join documents doc on doc.doc_id = m.doc_id
),
hist as (
  select query_id, bucket,
         cast(count(*) as bigint) as n_docs,
         cast(sum(v) as bigint) as sum_chars
  from keyed group by query_id, bucket
)
select query_id, bucket, n_docs, sum_chars,
       cast(floor(cast(sum_chars as double) / n_docs * 1000000) as bigint) as chars_per_doc6
from hist
"""


def _matrix_stats_sql(d: _Dialect) -> str:
    """Matrix-stats twin (plans/hits.py ``match_matrix_stats``): exact
    int64 sufficient statistics over the match set (x = n_chars,
    y = doc_id % 97), float finishing expressions IDENTICAL to the
    engine's — population covariance + Pearson correlation."""
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, cast(doc.n_chars as bigint) as x,
         cast(doc.doc_id % 97 as bigint) as y
  from matched m join documents doc on doc.doc_id = m.doc_id
),
sums as (
  select query_id, cast(count(*) as bigint) as n,
         sum(x) as sx, sum(y) as sy,
         sum(x * x) as sxx, sum(y * y) as syy, sum(x * y) as sxy
  from keyed group by query_id
)
select query_id, n,
       cast(floor(cast(sx as double) / n * 1000000) as bigint) as mean_x6,
       cast(floor(cast(sy as double) / n * 1000000) as bigint) as mean_y6,
       cast(floor(cast(n * sxy - sx * sy as double) / (cast(n as double) * n) * 1000000) as bigint) as cov6,
       cast(floor(cast(n * sxy - sx * sy as double) / nullif(sqrt(cast(n * sxx - sx * sx as double)) * sqrt(cast(n * syy - sy * sy as double)), 0.0) * 1000000) as bigint) as corr6
from sums
"""


def _histo_bucket_stats_sql(d: _Dialect, sel: int = HISTO_SEL_MIN) -> str:
    """Sibling-pipeline twin (plans/hits.py ``date_histogram_bucket_stats``):
    avg/min/max/sum_bucket + bucket_selector over the month histogram."""
    return f"""{_date_histo_cte(d)}
select query_id,
       cast(count(*) as bigint) as n_buckets,
       min(n_docs) as min_docs,
       max(n_docs) as max_docs,
       sum(n_docs) as sum_docs,
       cast(floor(cast(sum(n_docs) as double) / count(*) * 1000000) as bigint) as avg_docs6,
       cast(sum(case when n_docs >= {sel} then 1 else 0 end) as bigint) as n_selected
from hist group by query_id
"""


def _string_stats_sql(d: _Dialect) -> str:
    """String-stats twin (plans/hits.py ``match_string_stats``) over the
    lang field: lengths are exact ints; entropy folds the char-sorted
    addends SEQUENTIALLY in both engines (Spark `aggregate` with init 0.0
    vs DuckDB `list_reduce` seeded by the first element — bitwise equal
    because 0.0 + x == x), so the float additions happen in the identical
    order."""
    if d.duck:
        split = "select k.query_id, unnest(string_split(k.s, '')) as c from keyed k"
        ent = (
            "cast(floor((log2(cast(sum(nc) as double)) - "
            "list_reduce(list(cast(nc as double) * log2(cast(nc as double)) order by c), "
            "(a, b) -> a + b) / cast(sum(nc) as double)) * 1000000) as bigint)"
        )
    else:
        split = "select k.query_id, explode(split(k.s, '')) as c from keyed k"
        ent = (
            "cast(floor((log2(cast(sum(nc) as double)) - "
            "aggregate(array_sort(collect_list(struct(c, nc))), cast(0.0 as double), "
            "(acc, e) -> acc + cast(e.nc as double) * log2(cast(e.nc as double))) "
            "/ cast(sum(nc) as double)) * 1000000) as bigint)"
        )
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, doc.lang as s
  from matched m join documents doc on doc.doc_id = m.doc_id
),
lens as (
  select query_id, cast(count(*) as bigint) as n,
         cast(min(length(s)) as bigint) as min_len,
         cast(max(length(s)) as bigint) as max_len,
         cast(floor(cast(sum(length(s)) as double) / count(*) * 1000000) as bigint) as avg_len6
  from keyed group by query_id
),
occ_c as ({split}),
charcounts as (
  select query_id, c, cast(count(*) as bigint) as nc
  from occ_c where c <> '' group by query_id, c
),
ent as (
  select query_id, {ent} as entropy6
  from charcounts group by query_id
)
select l.query_id, l.n, l.min_len, l.max_len, l.avg_len6, e.entropy6
from lens l join ent e on e.query_id = l.query_id
"""


SIG_SAMPLE_HEX = "0123456789a"


def _sig_terms_sql(
    d: _Dialect, m: int = 5, min_fg: int = 2, sampled: bool = False
) -> str:
    """Significant-terms twin (plans/hits.py ``significant_terms``): per
    query the m corpus terms most over-represented in the match set —
    fg = matched docs containing the term (the query's OWN terms excluded,
    fg >= min_fg), bg = corpus df, ranked by
    lift6 = floor(1e6 * (fg * n_docs) / (n_matched * bg)) with term-asc
    ties. The double division is written in the engine's exact
    association order. ``sampled`` adds the ES sampler stage: matched docs
    filter to those whose md5 of the zero-padded doc_id (== the engine's
    url) starts with a SIG_SAMPLE_HEX digit; fg and n_matched measure the
    sample, bg and n_docs stay corpus-wide."""
    if sampled:
        digits = ", ".join(f"'{c}'" for c in SIG_SAMPLE_HEX)
        url = f"lpad(cast(m.doc_id as {d.str_type()}), 10, '0')"
        sample_where = f"where substr(md5({url}), 1, 1) in ({digits})"
    else:
        sample_where = ""
    return f"""{_matched_cte(d)}
, nd as (select cast(count(*) as double) as n_docs from toks),
matched_s as (select m.query_id, m.doc_id from matched m {sample_where}),
nm as (
  select query_id, cast(count(*) as double) as n_matched
  from matched_s group by query_id
),
doc_terms as (
  select distinct m.query_id, m.doc_id, o.term
  from matched_s m join occ o on o.doc_id = m.doc_id
),
fg as (
  select t.query_id, t.term, cast(count(*) as bigint) as fg
  from doc_terms t
  left join qterms q on q.query_id = t.query_id and q.term = t.term
  where q.term is null
  group by t.query_id, t.term
  having count(*) >= {min_fg}
),
dfreq as (
  select term, cast(count(distinct doc_id) as bigint) as bg from occ group by term
),
lifted as (
  select f.query_id, f.term, f.fg, b.bg,
         cast(floor(1000000.0 * (cast(f.fg as double) * nd.n_docs)
                    / (nm.n_matched * cast(b.bg as double))) as bigint) as lift6
  from fg f
  join dfreq b on b.term = f.term
  join nm on nm.query_id = f.query_id
  cross join nd
),
ranked as (
  select query_id, term, fg, bg, lift6,
         row_number() over (partition by query_id order by lift6 desc, term asc) as rk
  from lifted
)
select query_id, term, fg, bg, lift6 from ranked where rk <= {m}
"""


# diversified_sampler: at most DIV_MAX_PER_KEY docs per source key enter
# the sample, then the sample caps at DIV_SHARD docs — both in the
# deterministic md5(url) order (rand() would not reproduce across engines).
# 20 source keys x 2 = up to 40 eligible, so the 25-doc shard cap BINDS.
DIV_MAX_PER_KEY = 2
DIV_SHARD = 25


def _diversified_sampler_sql(d: _Dialect) -> str:
    """Diversified-sampler twin (plans/hits.py ``diversified_sampler_stats``):
    the ES ``diversified_sampler`` agg — matched docs enter a sample in
    deterministic md5(url) order, at most DIV_MAX_PER_KEY per ``source``
    key (the de-bias step), capped at DIV_SHARD docs; the child agg
    (count, distinct keys, avg n_chars) runs on the diversified sample.
    avg is an exact int sum and ONE double division."""
    url = f"lpad(cast(m.doc_id as {d.str_type()}), 10, '0')"
    return f"""{_matched_cte(d)}
, keyed as (
  select m.query_id, m.doc_id, doc.source,
         cast(doc.n_chars as bigint) as n_chars,
         md5({url}) as h
  from matched m join documents doc on doc.doc_id = m.doc_id
),
perkey as (
  select query_id, doc_id, source, n_chars, h,
         row_number() over (
           partition by query_id, source order by h asc, doc_id asc) as kpos
  from keyed
),
divs as (
  select query_id, doc_id, source, n_chars,
         row_number() over (
           partition by query_id order by h asc, doc_id asc) as spos
  from perkey where kpos <= {DIV_MAX_PER_KEY}
)
select query_id,
       cast(count(*) as bigint) as n_sample,
       cast(count(distinct source) as bigint) as n_keys,
       cast(floor(avg(cast(n_chars as double)) * 1000000) as bigint) as avg_chars6
from divs where spos <= {DIV_SHARD}
group by query_id
"""


# frequent_item_sets (pair mining): items are the mid-frequency terms
# (df in [FI_DF_LO, FI_DF_HI] — the band below the ubiquitous head, where
# co-occurrence is informative), support counts docs containing BOTH.
FI_DF_LO = 25
FI_DF_HI = 380
FI_MINSUP = 100


def _freq_pairs_sql(d: _Dialect) -> str:
    """Frequent-item-sets twin (plans/hits.py ``frequent_term_pairs``):
    the ES ``frequent_item_sets`` agg at size=2 over TERM items —
    unordered mid-frequency term pairs contained together in at least
    FI_MINSUP docs. The df window is the standard apriori prefilter: it
    bounds the item set, which bounds every engine cell's pairwise work."""
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
dt as (select distinct doc_id, term from occ),
dfreq as (select term, cast(count(*) as bigint) as df from dt group by term),
items as (select term from dfreq where df between {FI_DF_LO} and {FI_DF_HI}),
di as (select dt.doc_id, dt.term from dt join items i on i.term = dt.term),
pairs as (
  select a.term as item_a, b.term as item_b, cast(count(*) as bigint) as support
  from di a join di b on a.doc_id = b.doc_id and a.term < b.term
  group by a.term, b.term
)
select item_a, item_b, support from pairs where support >= {FI_MINSUP}
"""


# Deterministic field_value_factor for the function-score entries: exactly
# representable quarter steps in [0.5, 2.25] keyed on doc_id, so the
# engine-side dimension and the SQL twin compute bit-identical doubles and
# the boost genuinely reorders (a 4.5x spread dwarfs typical BM25 gaps).
FS_FACTOR_SQL = "0.5 + cast(doc_id % 8 as double) * 0.25"

# Linear decay (ES function_score ``linear`` decay, origin=0, scale=8192,
# field=n_chars): factor = max(0, 1 - n_chars/8192). 8192 is a power of
# two, so the division and the subtraction are EXACT in a double —
# cross-engine bit identity by construction.
DECAY_SCALE = 8192
FS_DECAY_SQL = (
    "greatest(cast(0 as double), "
    f"1.0 - cast(doc.n_chars as double) / {DECAY_SCALE}.0)"
)


def _function_score_sql(
    d: _Dialect, k: int = 10, factor_sql: str | None = None
) -> str:
    """Function-score twin (plans/query.py ``search_function_score``): the
    full BM25 scored set times a per-doc factor (field_value_factor,
    boost_mode=multiply), re-ranked by final6 = floor(score * factor * 1e6)
    with doc_id-asc ties; score6 is the unboosted fixed-point BM25.
    ``factor_sql`` swaps the factor expression (the decay variant); any
    expression mentioning ``doc.`` gets the documents join."""
    factor = FS_FACTOR_SQL if factor_sql is None else factor_sql
    doc_join = (
        " join documents doc on doc.doc_id = s.doc_id" if "doc." in factor
        else ""
    )
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id, sum(w) as raw_score
  from contrib group by query_id, doc_id
),
boosted as (
  select s.query_id, s.doc_id,
         cast(floor(s.raw_score * ({factor}) * 1000000) as bigint) as final6,
         cast(floor(s.raw_score * 1000000) as bigint) as score6
  from scored s{doc_join}
),
ranked as (
  select query_id, doc_id, final6, score6,
         row_number() over (partition by query_id order by final6 desc, doc_id asc) as rank
  from boosted
)
select query_id, rank, doc_id, final6, score6 from ranked where rank <= {k}
"""


# rank_feature saturation parameters: pivot near the corpus median doc
# length so the saturation actually spreads, weight large enough to reorder.
RANK_FEATURE_PIVOT = 800.0
RANK_FEATURE_WEIGHT = 2.0


def _rank_feature_sql(d: _Dialect, k: int = 10) -> str:
    """rank_feature twin (plans/query.py ``search_rank_feature``): the ES
    ``rank_feature`` query with the default saturation function as a bool
    SHOULD clause — final = BM25 + weight * f / (f + pivot), docs missing
    the feature contributing 0 (LEFT join + coalesce, the ES contract).
    Float ops in pinned order: one division for the saturation, one
    multiply by the weight literal, one add, one floor — each a single
    correctly-rounded IEEE op on identical operands in both engines."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    sat = (
        f"coalesce(cast(doc.n_chars as double) / "
        f"(cast(doc.n_chars as double) + {RANK_FEATURE_PIVOT!r}), 0.0)"
    )
    return f"""
with queries(query_id, query_text) as (values {qlist}),
{_bm25_corpus_cte(d)},
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
{_BM25_CONTRIB_CTE},
scored as (
  select query_id, doc_id, sum(w) as raw_score
  from contrib group by query_id, doc_id
),
boosted as (
  select s.query_id, s.doc_id,
         cast(floor((s.raw_score + {RANK_FEATURE_WEIGHT!r} * ({sat})) * 1000000) as bigint) as final6,
         cast(floor(s.raw_score * 1000000) as bigint) as score6
  from scored s left join documents doc on doc.doc_id = s.doc_id
),
ranked as (
  select query_id, doc_id, final6, score6,
         row_number() over (partition by query_id order by final6 desc, doc_id asc) as rank
  from boosted
)
select query_id, rank, doc_id, final6, score6 from ranked where rank <= {k}
"""


def _bm25_fuzzy_sql(d: _Dialect, max_edits: int = 1) -> str:
    """Fuzzy BM25 twin (plans/query.py ``search_fuzzy``): each query token
    expands to every CORPUS term within ``max_edits`` Levenshtein edits
    (both engines ship the same ``levenshtein``), then ordinary OR scoring
    over the expansion union — pure BM25 per expansion (no Lucene-style
    similarity down-weighting, deliberately, so the twin is exact)."""
    from .functions.tokenizer import tokenize

    rows = []
    for qid, text in FUZZY_QUERIES:
        for t in sorted(set(tokenize(text))):
            rows.append((qid, t))
    qlist = ", ".join(f"({q}, '{t}')" for q, t in rows)
    return f"""
with qtoks(query_id, tok) as (values {qlist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
qterms as (
  select distinct q.query_id, v.term
  from qtoks q join dfreq v on levenshtein(v.term, q.tok) <= {int(max_edits)}
),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= 10
"""


def _bm25_wildcard_sql(d: _Dialect) -> str:
    """General-wildcard BM25 twin (plans/query.py ``search_wildcard``): each
    '*'/'?' word expands to every CORPUS term matching its anchored regex
    (``wildcard_regex`` — the SAME string both engines evaluate; the token
    alphabet is [a-z0-9] so Java regex and RE2 agree), then ordinary OR
    scoring over the literal+expansion union — the scoring-BooleanQuery
    rewrite, same as the prefix/fuzzy twins. Uses the shared
    ``parse_wildcard_query`` so both engines split 'lit pa?t*' identically."""
    from .functions.tokenizer import (
        parse_wildcard_query,
        tokenize,
        wildcard_regex,
    )

    lit_rows: list[tuple[int, str]] = []
    pat_rows: list[tuple[int, str]] = []
    for qid, text in WILDCARD_QUERIES:
        lits, pats = parse_wildcard_query(text)
        for t in sorted(set(tokenize(" ".join(lits)))):
            lit_rows.append((qid, t))
        for p in pats:
            pat_rows.append((qid, wildcard_regex(p)))
    qlits = ", ".join(f"({q}, '{t}')" for q, t in lit_rows) or "(0, '')"
    qpats = ", ".join(f"({q}, '{p}')" for q, p in pat_rows) or "(0, '')"
    rx = (
        "regexp_matches(v.term, q.pat)"
        if d.duck
        else "v.term rlike q.pat"
    )
    return f"""
with qlits(query_id, term) as (values {qlits}),
qpats(query_id, pat) as (values {qpats}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
qterms as (
  select distinct query_id, term from (
    select query_id, term from qlits where query_id > 0
    union
    select q.query_id, v.term from qpats q join dfreq v on {rx}
  ) u
),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, score6 from ranked where rank <= 10
"""


def _adj_literal(d: _Dialect, terms: list[str]) -> str:
    """Contiguous in-order adjacency predicate over ``t.terms`` with
    LITERAL terms (the ``_phrase_sql`` fragment generalized to n tokens and
    inlined per query — ``_query_string_sql`` emits one per phrase clause).
    DuckDB lists are 1-based, Spark arrays 0-based; Spark needs the
    size-guard (``sequence(lo, hi)`` descends when lo > hi)."""
    n = len(terms)
    if d.duck:
        conds = " and ".join(
            f"t.terms[i + {j}] = '{t}'" for j, t in enumerate(terms)
        )
        return (
            f"len(list_filter(generate_series(1, len(t.terms) - {n - 1}), "
            f"i -> {conds})) > 0"
        )
    conds = " and ".join(
        f"t.terms[i + {j}] = '{t}'" for j, t in enumerate(terms)
    )
    return (
        f"case when size(t.terms) >= {n} then "
        f"exists(sequence(0, size(t.terms) - {n}), i -> {conds}) "
        f"else false end"
    )


def _query_string_sql(d: _Dialect, k: int = 10) -> str:
    """``query_string`` twin (plans/query.py ``search_query_string``): the
    QS_QUERIES set parsed by the SAME lockstep grammar
    (``functions/tokenizer.parse_query_string``) the engine uses, then
    lowered to relational SQL — weighted OR scoring over explicit clauses
    plus prefix expansions against the corpus vocabulary (dfreq, the
    relation the engine's term dictionary mirrors; an expansion colliding
    with an explicit clause is dropped so the explicit weight rules), and
    a per-query admission predicate inlined as a CASE arm: every must term
    contained, every required phrase contiguous in order, no negated term
    or phrase. Scores floor to score6 and rank with doc_id tie-break —
    the engine entry runs fixed_point=True to share that rank key."""
    from .functions.tokenizer import parse_query_string

    parsed = {qid: parse_query_string(t) for qid, t in QS_QUERIES}
    qx_rows = [
        (qid, t, w)
        for qid, p in sorted(parsed.items())
        for t, w in sorted(p["weights"].items())
    ]
    pat_rows = [
        (qid, s + "%")
        for qid, p in sorted(parsed.items())
        for s in p["prefixes"]
    ]
    qx = ", ".join(f"({q}, '{t}', {w!r})" for q, t, w in qx_rows)
    qpats = ", ".join(f"({q}, '{p}')" for q, p in pat_rows) or "(0, '')"
    arms = []
    for qid, p in sorted(parsed.items()):
        cs = (
            [d.arr_contains("t.terms", f"'{m}'") for m in p["must"]]
            + [_adj_literal(d, ph) for ph in p["phrases"]]
            + [
                "not " + d.arr_contains("t.terms", f"'{t}'")
                for t in p["neg"]
            ]
            + [f"not ({_adj_literal(d, ph)})" for ph in p["neg_phrases"]]
        )
        arms.append(f"when {qid} then {' and '.join(cs) or 'true'}")
    case = "case s.query_id " + " ".join(arms) + " else false end"
    return f"""
with qx(query_id, term, wt) as (values {qx}),
qpat(query_id, pat) as (values {qpats}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
qterms as (
  select query_id, term, wt from qx
  union
  select distinct p.query_id, v.term, cast(1.0 as double) as wt
  from qpat p join dfreq v on v.term like p.pat
  where not exists (select 1 from qx where qx.query_id = p.query_id and qx.term = v.term)
),
contrib as (
  select q.query_id, p.doc_id,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * q.wt
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from contrib group by query_id, doc_id
),
admitted as (
  select s.query_id, s.doc_id, s.score6
  from scored s join toks t on t.doc_id = s.doc_id
  where {case}
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from admitted
)
select query_id, rank, doc_id, score6 from ranked where rank <= {k}
"""


def _explain_sql(d: _Dialect, k: int = 3) -> str:
    """Score-explanation twin (plans/explain.py): per-term BM25 contribution
    rows for each query's floored top-k docs. The per-term w is the SAME
    expression as the shared contrib CTE; contributions floor at 1e-6
    independently (the engine floors the same way)."""
    qlist = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)
    return f"""
with queries(query_id, query_text) as (values {qlist}),
toks as (select doc_id, {d.terms('text')} as terms from documents),
doc_stats as (select doc_id, cast({d.size('terms')} as bigint) as doc_len from toks),
corpus as (select cast(count(*) as double) as n, avg(cast(doc_len as double)) as avgdl from doc_stats),
qtok as (select query_id, {d.unnest(d.terms('query_text'))} as term from queries),
qterms as (select distinct query_id, term from qtok),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
postings as (select term, doc_id, cast(count(*) as bigint) as tf from occ group by term, doc_id),
dfreq as (select term, cast(count(*) as bigint) as df from postings group by term),
percontrib as (
  select q.query_id, p.doc_id, q.term, p.tf, d.df,
         ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * p.tf * 2.2 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * s.doc_len / c.avgdl)) as w
  from qterms q
  join postings p on p.term = q.term
  join dfreq d on d.term = q.term
  join doc_stats s on s.doc_id = p.doc_id
  cross join corpus c
),
scored as (
  select query_id, doc_id, cast(floor(sum(w) * 1000000) as bigint) as score6
  from percontrib group by query_id, doc_id
),
ranked as (
  select query_id, doc_id, score6,
         row_number() over (partition by query_id order by score6 desc, doc_id asc) as rank
  from scored
),
winners as (select query_id, doc_id from ranked where rank <= {int(k)})
select pc.query_id, pc.doc_id, pc.term, pc.tf, pc.df,
       cast(floor(pc.w * 1000000) as bigint) as contrib6
from percontrib pc
join winners t on t.query_id = pc.query_id and t.doc_id = pc.doc_id
"""


def _bm25_text_sql(d: _Dialect) -> str:
    """bm25_topk + winner text fetch (md5-fingerprinted): the oracle for the
    engine's ``with_text`` retrieval surface (reference returns node text)."""
    base = _bm25_sql(d).strip()
    return f"""
select b.query_id, b.rank, b.doc_id, b.score6, md5(doc.text) as text_fp
from ({base}) b join documents doc on doc.doc_id = b.doc_id
"""


def _bm25_snippet_sql(d: _Dialect, window: int = 3) -> str:
    """bm25_topk + per-winner snippet: the ``window``-token context around
    the first occurrence of any query term, computed with the SAME
    first-hit/slice expressions as the engine (``functions.sqlglue``) so
    the strings hash-match."""
    from .functions.sqlglue import (
        DUCK_FIRST_HIT,
        DUCK_SNIP,
        SPARK_FIRST_HIT,
        SPARK_SNIP,
    )
    from .functions.tokenizer import tokenize

    base = _bm25_sql(d).strip()
    first_hit = DUCK_FIRST_HIT if d.duck else SPARK_FIRST_HIT
    snip = DUCK_SNIP if d.duck else SPARK_SNIP
    whens = []
    for qid, text in BM25_QUERIES:
        lits = ", ".join(f"'{t}'" for t in sorted(set(tokenize(text))))
        expr = first_hit.format(tk="tk", terms=lits, size=d.size("tk"))
        whens.append(f"when {qid} then {expr}")
    case_i = f"case query_id {' '.join(whens)} end"
    s = f"greatest(1, i - {int(window)})"
    e = f"least({d.size('tk')}, i + {int(window)})"
    return f"""
with wtok as (
  select b.query_id, b.rank, b.doc_id, b.score6, {d.terms('doc.text')} as tk
  from ({base}) b join documents doc on doc.doc_id = b.doc_id
),
hit as (select query_id, rank, doc_id, score6, tk, {case_i} as i from wtok)
select query_id, rank, doc_id, score6, {snip.format(tk='tk', s=s, e=e)} as snippet
from hit
"""


def _simhash_sql(d: _Dialect, bits: int = 16) -> str:
    sums = ", ".join(
        f"sum(case when ({d.shiftr('h', b)} & 1) = 1 then 1 else -1 end) as s{b}"
        for b in range(bits)
    )
    assemble = " + ".join(
        f"(case when s{b} >= 0 then cast({1 << b} as bigint) else cast(0 as bigint) end)"
        for b in range(bits)
    )
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
hashed as (select doc_id, {d.hash60('term')} as h from occ),
bitsums as (select doc_id, {sums} from hashed group by doc_id)
select doc_id, {assemble} as simhash from bitsums
"""


def _simhash_wide_core(d: _Dialect) -> str:
    """64-bit SimHash as two 32-bit halves (sim_hi, sim_lo) — bigint-safe in
    both engines (a true bit-63 assemble overflows signed bigint literals).
    Each half majority-votes 32 bits of an independent 32-bit term hash
    (md5 hex chars 1-8 / 9-16)."""

    def sums(h: str, tag: str) -> str:
        return ", ".join(
            f"sum(case when ({d.shiftr(h, b)} & 1) = 1 then 1 else -1 end) as {tag}{b}"
            for b in range(32)
        )

    def assemble(tag: str) -> str:
        return " + ".join(
            f"(case when {tag}{b} >= 0 then cast({1 << b} as bigint) else cast(0 as bigint) end)"
            for b in range(32)
        )

    return f"""
toks as (select doc_id, {d.terms('text')} as terms from documents),
occ as (select doc_id, {d.unnest('terms')} as term from toks),
hashed as (select doc_id, {d.hash32('term', 1)} as h1, {d.hash32('term', 9)} as h2 from occ),
bitsums as (select doc_id, {sums('h1', 'a')}, {sums('h2', 'c')} from hashed group by doc_id),
wide as (select doc_id, {assemble('a')} as sim_hi, {assemble('c')} as sim_lo from bitsums)"""


def _simhash_wide_sql(d: _Dialect) -> str:
    return f"with {_simhash_wide_core(d)} select doc_id, sim_hi, sim_lo from wide"


def _simhash_bands_core(d: _Dialect) -> str:
    """4 x 16-bit bands of the 64-bit simhash (LSH-style bucketing: near
    duplicates at Hamming distance < 4 must share at least one band)."""
    bands = " union all ".join(
        f"select doc_id, {bid} as band_id, ({expr}) as band_val from wide"
        for bid, expr in enumerate(
            [
                d.shiftr("sim_hi", 16),
                "sim_hi & 65535",
                d.shiftr("sim_lo", 16),
                "sim_lo & 65535",
            ]
        )
    )
    return f"{_simhash_wide_core(d)},\nbands as ({bands})"


def _simhash_bands_sql(d: _Dialect) -> str:
    return f"""
with {_simhash_bands_core(d)}
select band_id, band_val, cast(count(*) as bigint) as n_docs, min(doc_id) as keep_id
from bands group by band_id, band_val having count(*) > 1
"""


def _simhash_hamming_sql(d: _Dialect) -> str:
    """Mirrors ``dedup.simhash_hamming_pairs`` INCLUDING the bucket-size cap
    (MAX_VERIFY_BUCKET): oversized band buckets are skipped in BOTH engines,
    so the oracle pins the production semantics, not an uncapped variant."""
    from .operators.dedup import MAX_VERIFY_BUCKET

    ham = (
        f"bit_count({d.xor('wa.sim_hi', 'wb.sim_hi')}) + "
        f"bit_count({d.xor('wa.sim_lo', 'wb.sim_lo')})"
    )
    return f"""
with {_simhash_bands_core(d)},
ok as (
  select band_id, band_val from bands group by band_id, band_val
  having count(*) > 1 and count(*) <= {MAX_VERIFY_BUCKET}
),
bok as (select bands.* from bands join ok using (band_id, band_val)),
pairs as (
  select distinct a.doc_id as a, b.doc_id as b
  from bok a join bok b on a.band_id = b.band_id and a.band_val = b.band_val
   and a.doc_id < b.doc_id
)
select p.a, p.b, cast({ham} as bigint) as hamming
from pairs p join wide wa on wa.doc_id = p.a join wide wb on wb.doc_id = p.b
"""


def _minhash_core(d: _Dialect, n_hashes: int = 4) -> str:
    if d.duck:
        mins = ", ".join(
            f"{d.arr_min(f'''list_transform(sh, s -> md5('{j}|' || s))''')} as mh_{j}"
            for j in range(n_hashes)
        )
        return f"""
toks as (select doc_id, {d.terms('text')} as terms from documents),
shj as (select doc_id, {d.shingles('terms')} as sh from toks where {d.size('terms')} >= 3),
sig as (select doc_id, {mins} from shj)"""
    # Spark side: stays the per-doc HOF form. An explode + groupBy(doc_id)
    # min() rewrite was tried (r6) to move the md5s into whole-stage
    # codegen, but Spark plans min(string) as a SortAggregate (string
    # buffers are hash-agg-ineligible), which SORTS the ~25M exploded
    # shingle rows per pass — measured strictly slower than the interpreted
    # lambdas. With the scan fan-out (register_views) the HOF form
    # parallelizes across cores and is the faster of the two.
    mins = ", ".join(
        f"array_min(transform(sh, s -> md5(concat('{j}|', s)))) as mh_{j}"
        for j in range(n_hashes)
    )
    # The >= 3 guard is wrapped in size(shuffle(terms)) — size-invariant
    # (shuffle permutes, never drops), so the kept-row set is identical,
    # but the nondeterministic shuffle() stops predicate pushdown from
    # sinking the filter (and with it a FULL tokenize pass) below the
    # fan-out exchange onto the serial scan task (observed in the plan:
    # Filter(size(tokenize(text)) >= 3) under Exchange). Post-exchange the
    # filter reuses the projected terms column — tokenize runs exactly
    # once, in parallel.
    return f"""
toks as (select doc_id, {d.terms('text')} as terms from documents),
shj as (select doc_id, {d.shingles('terms')} as sh from toks where size(shuffle(terms)) >= 3),
sig as (select doc_id, {mins} from shj)"""


def _minhash_sql(d: _Dialect) -> str:
    return f"with {_minhash_core(d)} select doc_id, mh_0, mh_1, mh_2, mh_3 from sig"


def _lsh_bands_sql(d: _Dialect) -> str:
    b0 = d.concat("mh_0", "'|'", "mh_1")
    b1 = d.concat("mh_2", "'|'", "mh_3")
    if d.duck:
        bands = f"""bands as (
  select doc_id, 0 as band_id, md5({b0}) as band_hash from sig
  union all
  select doc_id, 1 as band_id, md5({b1}) as band_hash from sig
)"""
    else:
        # Spark inlines (duplicates) a CTE per reference, so the union-all
        # form evaluates `sig` — and its 4 x md5-per-shingle MinHash pass —
        # TWICE (guide §7.2 duplicated subtrees; measured ~2x
        # minhash_signatures). Exploding both band structs out of ONE sig
        # row evaluates the signature pass once; same rows, same types.
        # The DuckDB oracle text (union-all branch above) is frozen.
        bands = f"""bands as (
  select doc_id, x.band_id as band_id, x.band_hash as band_hash
  from (select doc_id, explode(array(
    named_struct('band_id', 0, 'band_hash', md5({b0})),
    named_struct('band_id', 1, 'band_hash', md5({b1})))) as x from sig)
)"""
    return f"""
with {_minhash_core(d)},
{bands}
select band_id, band_hash, cast(count(*) as bigint) as n_docs, min(doc_id) as keep_id
from bands group by band_id, band_hash having count(*) > 1
"""


def _lsh_jaccard_sql(d: _Dialect) -> str:
    """SQL twin of ``dedup.lsh_verified_pairs``: MinHash-LSH candidates from
    band buckets of 2..MAX_VERIFY_BUCKET members, verified with exact
    distinct-shingle Jaccard (fixed-point x1e6)."""
    from .operators.dedup import MAX_VERIFY_BUCKET

    b0 = d.concat("mh_0", "'|'", "mh_1")
    b1 = d.concat("mh_2", "'|'", "mh_3")
    inter = d.size(d.arr_intersect("sa.s", "sb.s"))
    union = f"{d.size('sa.s')} + {d.size('sb.s')} - {inter}"
    return f"""
with {_minhash_core(d)},
bands as (
  select doc_id, 0 as band_id, md5({b0}) as band_hash from sig
  union all
  select doc_id, 1 as band_id, md5({b1}) as band_hash from sig
),
ok as (
  select band_id, band_hash from bands group by band_id, band_hash
  having count(*) > 1 and count(*) <= {MAX_VERIFY_BUCKET}
),
bok as (select bands.* from bands join ok using (band_id, band_hash)),
pairs as (
  select distinct a.doc_id as a, b.doc_id as b
  from bok a join bok b on a.band_id = b.band_id and a.band_hash = b.band_hash
   and a.doc_id < b.doc_id
),
ds as (select doc_id, {d.arr_distinct('sh')} as s from shj)
select p.a, p.b,
       cast(floor(cast({inter} as double) * 1000000.0 / ({union})) as bigint) as jaccard6
from pairs p join ds sa on sa.doc_id = p.a join ds sb on sb.doc_id = p.b
"""


def _jaccard_sql(d: _Dialect) -> str:
    inter = d.size(d.arr_intersect("a.s", "b.s"))
    union = f"{d.size('a.s')} + {d.size('b.s')} - {inter}"
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents where doc_id < 40),
shj as (select doc_id, {d.shingles('terms')} as sh from toks where {d.size('terms')} >= 3),
ds as (select doc_id, {d.arr_distinct('sh')} as s from shj)
select a.doc_id as a, b.doc_id as b,
       cast(floor(cast({inter} as double) * 1000000.0 / ({union})) as bigint) as jaccard6
from ds a join ds b on a.doc_id < b.doc_id
"""


def _lang_sql(d: _Dialect) -> str:
    filt = "list_filter" if d.duck else "filter"
    cols = ", ".join(
        d.size(f"{filt}(terms, t -> " + d.contains(lst, "t") + ")") + f" as c_{lang}"
        for lang, lst in LANGS.items()
    )
    return f"""
with toks as (select doc_id, {d.terms('text')} as terms from documents),
scores as (select doc_id, {cols} from toks)
select doc_id,
  case when c_de >= c_en and c_de >= c_es and c_de >= c_fr then 'de'
       when c_en >= c_es and c_en >= c_fr then 'en'
       when c_es >= c_fr then 'es'
       else 'fr' end as lang_guess
from scores
"""


def _quality_sql(d: _Dialect) -> str:
    filt = "list_filter" if d.duck else "filter"
    nstop = d.size(f"{filt}(terms, t -> {d.contains(STOPWORDS_SQL, 't')})")
    ntok = d.size("terms")
    joined = (
        "len(list_aggregate(terms, 'string_agg', ''))"
        if d.duck
        else "length(array_join(terms, ''))"
    )
    # ASCII-alnum count needs no lowercase at all (case-safe cross-engine).
    # Spark side (r6): counted as len(text) - len(text with alnum RUNS
    # removed) — the POSITIVE char class. JDK 17 evaluates a negated char
    # class via a per-char predicate lambda that is ~6x slower and
    # anti-scales with threads (the r5 tokenizer flatline root cause —
    # sqlglue.SPARK_TERMS docstring); identical count by construction.
    # DuckDB (RE2) keeps the original negated-class strip — oracle text
    # frozen, and RE2 has no such pathology.
    if d.duck:
        alpha = f"length({d.re_replace('text', '[^A-Za-z0-9]', '')})"
    else:
        alpha = (
            "(length(text) - length("
            + d.re_replace("text", "[A-Za-z0-9]+", "")
            + "))"
        )
    return f"""
with toks as (select doc_id, text, {d.terms('text')} as terms from documents)
select doc_id,
  cast({ntok} as bigint) as n_tokens,
  cast(floor({alpha} * 1000000.0 / length(text)) as bigint) as alpha_ratio6,
  cast(floor({nstop} * 1000000.0 / {ntok}) as bigint) as stop_ratio6,
  cast(floor({joined} * 1000000.0 / {ntok}) as bigint) as avg_token_len6
from toks
"""


def _ann_sql(d: _Dialect, qpred: str = "vec_id < 5") -> str:
    dot = d.dot("q.qe", "c.ce")
    nq = f"sqrt({d.dot('q.qe', 'q.qe')})"
    nc = f"sqrt({d.dot('c.ce', 'c.ce')})"
    if not d.duck:
        # Spark side (r6): the planner broadcast the CORPUS side of this
        # non-equi join and streamed the |q| query rows, capping the
        # 250k-dot-product Project at |q| tasks; it also re-evaluated both
        # norms per PAIR. Broadcast the tiny query side instead (guide
        # §3.1: broadcast the side that fits — q is a handful of rows) so
        # the corpus streams across all partitions, and hoist each side's
        # norm into its own projection so sqrt(dot(v,v)) is computed once
        # per VECTOR, not once per pair. Same expressions, same IEEE
        # arithmetic, identical cos6. DuckDB oracle text frozen below.
        return f"""
with q as (select vec_id as query_id, embedding as qe,
           sqrt({d.dot('embedding', 'embedding')}) as nq from embeddings where {qpred}),
c as (select vec_id, embedding as ce,
      sqrt({d.dot('embedding', 'embedding')}) as nc from embeddings),
scored as (
  select /*+ BROADCAST(q) */ q.query_id, c.vec_id,
         cast(floor(({dot}) / ((q.nq) * (c.nc)) * 1000000) as bigint) as cos6
  from q join c on q.query_id <> c.vec_id
),
ranked as (
  select query_id, vec_id, cos6,
         row_number() over (partition by query_id order by cos6 desc, vec_id asc) as rank
  from scored
)
select query_id, rank, vec_id, cos6 from ranked where rank <= 10
"""
    return f"""
with q as (select vec_id as query_id, embedding as qe from embeddings where {qpred}),
c as (select vec_id, embedding as ce from embeddings),
scored as (
  select q.query_id, c.vec_id,
         cast(floor(({dot}) / (({nq}) * ({nc})) * 1000000) as bigint) as cos6
  from q join c on q.query_id <> c.vec_id
),
ranked as (
  select query_id, vec_id, cos6,
         row_number() over (partition by query_id order by cos6 desc, vec_id asc) as rank
  from scored
)
select query_id, rank, vec_id, cos6 from ranked where rank <= 10
"""


# Filtered kNN (ES knn `filter`): candidates restricted to one metadata
# label BEFORE scoring; query vectors stay unfiltered.
ANN_FILTER_LABEL = 3


def _ann_filtered_sql(d: _Dialect, label: int = ANN_FILTER_LABEL) -> str:
    """Filtered-ANN twin: exact cosine top-k over ONLY the corpus rows
    whose metadata label matches — the ES kNN pre-filter semantics (filter
    restricts candidates; top-k ranks the survivors, never post-filters a
    fixed candidate list down to < k)."""
    dot = d.dot("q.qe", "c.ce")
    nq = f"sqrt({d.dot('q.qe', 'q.qe')})"
    nc = f"sqrt({d.dot('c.ce', 'c.ce')})"
    return f"""
with q as (select vec_id as query_id, embedding as qe from embeddings where vec_id < 5),
c as (select vec_id, embedding as ce from embeddings where label = {label}),
scored as (
  select q.query_id, c.vec_id,
         cast(floor(({dot}) / (({nq}) * ({nc})) * 1000000) as bigint) as cos6
  from q join c on q.query_id <> c.vec_id
),
ranked as (
  select query_id, vec_id, cos6,
         row_number() over (partition by query_id order by cos6 desc, vec_id asc) as rank
  from scored
)
select query_id, rank, vec_id, cos6 from ranked where rank <= 10
"""


def _lsh_ann_sql(d: _Dialect, qpred: str = "vec_id < 5") -> str:
    """SQL twin of ``operators.similarity.lsh_ann_topk``: the seeded random
    hyperplanes are emitted as literal double arrays (cast-from-string so both
    engines parse the exact same float64), bucket codes are sign-bit sums, and
    candidates are bucket co-occupants unioned over tables — structurally the
    same single-shuffle plan as the DataFrame operator."""
    from .operators.similarity import plane_rows

    def arr(vals) -> str:
        lits = ", ".join(f"cast('{v!r}' as double)" for v in vals)
        return f"[{lits}]" if d.duck else f"array({lits})"

    rows = ", ".join(
        f"({t}, {w}, {arr(p)})" for t, w, p in plane_rows()
    )
    pdot = d.dot("e.embedding", "p.p")
    dot = d.dot("qe.embedding", "ce.embedding")
    nq = f"sqrt({d.dot('qe.embedding', 'qe.embedding')})"
    nc = f"sqrt({d.dot('ce.embedding', 'ce.embedding')})"
    return f"""
with planes(tbl, weight, p) as (values {rows}),
e as (select vec_id, embedding from embeddings),
bits as (
  select e.vec_id, p.tbl,
         case when ({pdot}) >= 0 then p.weight else 0 end as bit
  from e cross join planes p
),
b as (select vec_id, tbl, cast(sum(bit) as int) as bucket from bits group by vec_id, tbl),
q as (select vec_id as query_id, tbl, bucket from b where {qpred}),
cand as (
  select distinct q.query_id, c.vec_id
  from q join b c on c.tbl = q.tbl and c.bucket = q.bucket and c.vec_id <> q.query_id
),
scored as (
  select cand.query_id, cand.vec_id,
         cast(floor(({dot}) / (({nq}) * ({nc})) * 1000000) as bigint) as cos6
  from cand
  join embeddings qe on qe.vec_id = cand.query_id
  join embeddings ce on ce.vec_id = cand.vec_id
),
ranked as (
  select query_id, vec_id, cos6,
         row_number() over (partition by query_id order by cos6 desc, vec_id asc) as rank
  from scored
)
select query_id, rank, vec_id, cos6 from ranked where rank <= 10
"""


def _ivf_ann_sql(d: _Dialect, qpred: str = "vec_id < 5") -> str:
    """SQL twin of ``operators.similarity.ivf_ann_topk``: centroids are the
    deterministic ``vec_id % stride = 0`` sample, assignment/probing rank
    floored cos6 (ties -> smaller centroid id), each query scores only the
    members of its n_probe nearest cells — structurally the same
    broadcast-quantizer + one-cell-join plan as the DataFrame operator."""
    from .operators.similarity import IVF_CENTROID_STRIDE, IVF_N_PROBE

    def cos6(a: str, b: str) -> str:
        dot = d.dot(a, b)
        na = f"sqrt({d.dot(a, a)})"
        nb = f"sqrt({d.dot(b, b)})"
        return f"cast(floor(({dot}) / (({na}) * ({nb})) * 1000000) as bigint)"

    return f"""
with cents as (
  select vec_id as cid, embedding as ce from embeddings
  where vec_id % {IVF_CENTROID_STRIDE} = 0
),
asg as (
  select e.vec_id, c.cid, {cos6('e.embedding', 'c.ce')} as s
  from embeddings e cross join cents c
),
cells as (
  select vec_id, cid as cell from (
    select vec_id, cid,
           row_number() over (partition by vec_id order by s desc, cid asc) as rn
    from asg
  ) t where rn = 1
),
qprobe as (
  select vec_id as query_id, cid as cell from (
    select vec_id, cid,
           row_number() over (partition by vec_id order by s desc, cid asc) as rn
    from asg where {qpred}
  ) t where rn <= {IVF_N_PROBE}
),
scored as (
  select q.query_id, m.vec_id, {cos6('qe.embedding', 'ce.embedding')} as cos6
  from qprobe q
  join cells m on m.cell = q.cell and m.vec_id <> q.query_id
  join embeddings qe on qe.vec_id = q.query_id
  join embeddings ce on ce.vec_id = m.vec_id
),
ranked as (
  select query_id, vec_id, cos6,
         row_number() over (partition by query_id order by cos6 desc, vec_id asc) as rank
  from scored
)
select query_id, rank, vec_id, cos6 from ranked where rank <= 10
"""


def _neardup_sql(d: _Dialect) -> str:
    """SQL twin of ``operators.similarity.cosine_neardup_pairs``: the same
    seeded LSH tables as ``_lsh_ann_sql`` pre-filter candidate pairs (bucket
    co-occupants in >= 1 table, vid_a < vid_b), then floored cos6 keeps
    pairs at or above the near-dup threshold."""
    from .operators.similarity import NEARDUP_COS6, plane_rows

    def arr(vals) -> str:
        lits = ", ".join(f"cast('{v!r}' as double)" for v in vals)
        return f"[{lits}]" if d.duck else f"array({lits})"

    rows = ", ".join(f"({t}, {w}, {arr(p)})" for t, w, p in plane_rows())
    pdot = d.dot("e.embedding", "p.p")
    dot = d.dot("ea.embedding", "eb.embedding")
    na = f"sqrt({d.dot('ea.embedding', 'ea.embedding')})"
    nb = f"sqrt({d.dot('eb.embedding', 'eb.embedding')})"
    return f"""
with planes(tbl, weight, p) as (values {rows}),
e as (select vec_id, embedding from embeddings),
bits as (
  select e.vec_id, p.tbl,
         case when ({pdot}) >= 0 then p.weight else 0 end as bit
  from e cross join planes p
),
b as (select vec_id, tbl, cast(sum(bit) as int) as bucket from bits group by vec_id, tbl),
pairs as (
  select distinct a.vec_id as vid_a, c.vec_id as vid_b
  from b a join b c on c.tbl = a.tbl and c.bucket = a.bucket and a.vec_id < c.vec_id
),
scored as (
  select p.vid_a, p.vid_b,
         cast(floor(({dot}) / (({na}) * ({nb})) * 1000000) as bigint) as cos6
  from pairs p
  join embeddings ea on ea.vec_id = p.vid_a
  join embeddings eb on eb.vec_id = p.vid_b
)
select vid_a, vid_b, cos6 from scored where cos6 >= {NEARDUP_COS6}
"""


def _fingerprint_expr(d: _Dialect) -> str:
    from .functions.sqlglue import DUCK_FP_NORM, SPARK_FP_NORM

    return f"md5({(DUCK_FP_NORM if d.duck else SPARK_FP_NORM).format(col='text')})"


# --- HLL cardinality sketch (ES `cardinality` agg's actual algorithm) ------
# Lockstep spec lives in functions/sketches.py, shared with the engine plan
# (plans/hits.py match_cardinality_hll) and the pure-Python pytest oracle.
# bit_length is computed as length(bin(w)), which is minimal-width in BOTH
# engines (bin(0) = '0' -> the w > 0 guard below).
from .functions.sketches import (  # noqa: E402
    HLL_ALPHA_M2,
    HLL_LC_BAR,
    HLL_M,
    HLL_RHO_MAX,
    HLL_W_BITS,
    HLL_W_MASK,
)


def _hll_regs(d: _Dialect, src: str, keys: str, val: str) -> str:
    """Register CTE fragment: ``src`` rows -> per-(keys, bucket) max rho.
    Duplicate values are absorbed by the max -- HLL needs no DISTINCT."""
    w = f"(h & {HLL_W_MASK})"
    return f"""
hashed as (select {keys}, {d.hash60(val)} as h from {src}),
regs as (
  select {keys}, {d.shiftr('h', HLL_W_BITS)} as bucket,
         max(case when {w} = 0 then {HLL_RHO_MAX}
                  else {HLL_RHO_MAX} - length(bin({w})) end) as reg
  from hashed group by {keys}, bucket
)"""


def _hll_finish(d: _Dialect, keys: str) -> str:
    """Estimate-tail CTEs over ``regs`` (continues the caller's WITH list;
    read the result from ``fin``). The 2^(53-reg) addends are integer
    shifts summed as int64 -- exact and partition-order-independent (a
    double sum would round past 2^53)."""
    return f"""sk as (
  select {keys}, cast({HLL_M} - count(*) as bigint) as zeros,
         cast(sum({d.shiftl('1', '53 - reg')})
              + ({HLL_M} - count(*)) * {1 << 53} as bigint) as s53
  from regs group by {keys}
),
est as (
  select {keys}, zeros, s53,
         cast({HLL_ALPHA_M2!r} as double) / cast(s53 as double) as raw
  from sk
),
fin as (
  select {keys}, zeros, s53,
         cast(floor(1000000.0 * (case when raw <= {HLL_LC_BAR} and zeros > 0
              then {float(HLL_M)!r} * ln({float(HLL_M)!r} / cast(zeros as double))
              else raw end)) as bigint) as est6
  from est
)"""


def _match_hll_sql(d: _Dialect) -> str:
    """HLL cardinality twin (plans/hits.py ``match_cardinality_hll``): the
    ES `cardinality` agg as the real sketch (not countDistinct) over the
    match set's n_chars values, next to the exact answer for auditability.
    The sketch state (zeros, s53) is exact int64; est6 is fixed-point."""
    # power(2, 53-reg): DuckDB's power returns double -- exact for 2^k,
    # k <= 53 -- and Spark's power matches; the sum is cast back through
    # bigint AFTER the exact additions (every addend and the total are
    # integers < 2^61, all exactly representable).
    val = f"cast(v as {d.str_type()})"
    return f"""{_matched_cte(d)}
, vals as (
  select m.query_id, cast(doc.n_chars as bigint) as v
  from matched m join documents doc on doc.doc_id = m.doc_id
),
counts as (
  select query_id, cast(count(*) as bigint) as n_docs,
         cast(count(distinct v) as bigint) as n_exact
  from vals group by query_id
),
{_hll_regs(d, "vals", "query_id", val).lstrip()},
{_hll_finish(d, "query_id")}
select c.query_id, c.n_docs, c.n_exact, f.zeros, f.s53, f.est6
from counts c join fin f on f.query_id = c.query_id
"""


def _vocab_hll_sql(d: _Dialect) -> str:
    """Corpus-level HLL: estimated vocabulary size (distinct tokens) next to
    the exact count -- the sketch a 100 TB corpus profiler would keep
    per-shard and merge by register max."""
    return f"""
with occ as (select {d.unnest(d.terms('text'))} as v from documents),
grp as (select 1 as g, v from occ),
counts as (select 1 as g, cast(count(distinct v) as bigint) as n_exact from occ),
{_hll_regs(d, "grp", "g", "v").lstrip()},
{_hll_finish(d, "g")}
select c.n_exact, f.zeros, f.s53, f.est6
from counts c join fin f on f.g = c.g
"""


# --- Bloom filter membership ------------------------------------------------
# k = 3 md5-derived hash probes into a 4032-bit filter stored as 64 int64
# words of 63 usable bits each (bit 63 stays clear: DuckDB range-checks
# `1 << 63` where Java wraps negative -- mod-63 sidesteps the disagreement).
BLOOM_BITS = 4032  # 64 words x 63 bits
BLOOM_HEXOFFS = (1, 9, 17)
# Probe set: 8 vocabulary terms + 8 strings absent from the synthetic vocab.
BLOOM_PROBES = [
    "data", "spark", "window", "merge", "sort", "customer", "dup", "query",
    "qzx", "blorp", "xyzzy", "fnord", "zzzz", "quux", "snark", "wibble",
]


def _bloom_pos(d: _Dialect, s: str, off: int) -> str:
    return f"({d.hash32(s, off)} % {BLOOM_BITS})"


def _bloom_sql(d: _Dialect) -> str:
    """Bloom-filter twin: build a 4032-bit / 3-hash filter over the corpus
    vocabulary (distinct tokens -> bit_or of single-bit words), then probe a
    fixed candidate list. No false negatives by construction; the absent
    probes demonstrate the (rare) false-positive case deterministically.
    The 100 TB use: ship the 64-word filter broadcast-side to prune a join
    against a term list before any shuffle."""
    probes = ", ".join(f"('{c}')" for c in BLOOM_PROBES)
    ins = " union all ".join(
        f"select {_bloom_pos(d, 'term', off)} as pos from vocab"
        for off in BLOOM_HEXOFFS
    )
    outs = " union all ".join(
        f"select candidate, {_bloom_pos(d, 'candidate', off)} as pos from cands"
        for off in BLOOM_HEXOFFS
    )
    return f"""
with cands(candidate) as (values {probes}),
vocab as (select distinct {d.unnest(d.terms('text'))} as term from documents),
setbits as ({ins}),
words as (
  select {d.idiv('pos', 63)} as w, bit_or({d.shiftl('1', 'pos % 63')}) as bits
  from setbits group by {d.idiv('pos', 63)}
),
probes as ({outs}),
hits as (
  select p.candidate,
         case when b.bits is not null
              and (b.bits & {d.shiftl('1', 'p.pos % 63')}) != 0
              then 1 else 0 end as hit
  from probes p left join words b on b.w = {d.idiv('p.pos', 63)}
)
select candidate, cast(sum(hit) as bigint) as n_hits,
       sum(hit) = {len(BLOOM_HEXOFFS)} as maybe_present
from hits group by candidate
"""


# --- Completion suggester (next-word over corpus bigrams) -------------------
NEXT_WORD_SEEDS = ["data", "merge", "fast", "join", "stream"]
NEXT_WORD_K = 3


def _next_word_sql(d: _Dialect) -> str:
    """Search-as-you-type completion twin: for each seed term, the top-3
    tokens that FOLLOW it in the corpus by bigram frequency (count desc,
    term asc ties). At index scale this table is precomputed once beside
    the postings (one extra groupBy on the tokenize pass) -- the twin
    derives it inline from the same lockstep tokenizer."""
    seeds = ", ".join(f"('{s}')" for s in NEXT_WORD_SEEDS)
    if d.duck:
        bg = """select a[i] as w1, a[i + 1] as w2
  from toks, unnest(generate_series(1, len(a) - 1)) as u(i)
  where len(a) >= 2"""
    else:
        bg = """select a[i] as w1, a[i + 1] as w2
  from (select a, explode(sequence(0, size(a) - 2)) as i from toks
        where size(a) >= 2)"""
    return f"""
with seeds(seed) as (values {seeds}),
toks as (select {d.terms('text')} as a from documents),
bg as ({bg}),
cnt as (
  select s.seed, b.w2 as next_term, cast(count(*) as bigint) as cnt
  from bg b join seeds s on s.seed = b.w1
  group by s.seed, b.w2
),
ranked as (
  select seed, next_term, cnt,
         row_number() over (partition by seed order by cnt desc, next_term asc) as rank
  from cnt
)
select seed, rank, next_term, cnt from ranked where rank <= {NEXT_WORD_K}
"""


# Phrase-suggester probes: misspellings of vocabulary words. 'sow' is
# 1 edit from BOTH 'slow' (delete l) and 'row' (substitute s), so queries
# 1-2 rank multiple candidate phrases through the bigram LM rather than
# returning a single trivial row; query 4's 'dup' is a valid word kept as
# a distance-0 candidate; query 5's first token has NO candidate within
# the edit budget, so it yields zero rows on both sides.
PHRASE_SUGGEST_QUERIES = [
    (1, "sow data"),
    (2, "fasst sow"),
    (3, "custmer ordr"),
    (4, "dup lime"),
    (5, "zzzzz batch"),
]
PHRASE_SUGGEST_K = 3


def _suggest_phrase_sql(d: _Dialect, k: int = PHRASE_SUGGEST_K, max_edits: int = 1) -> str:
    """Phrase-suggester twin (plans/hits.py ``suggest_phrase``): per-position
    candidates are vocabulary terms within ``max_edits`` Levenshtein edits;
    candidate phrases rank by the fixed-point Laplace bigram conditional
    score6 = floor(1e6 * (bigram + 1) / (unigram(c1) + V)), ties
    (total dist asc, c1 asc, c2 asc). The query tokens ship as two literal
    columns (the engine tokenizes the same phrase text with the same
    function driver-side)."""
    from .functions.tokenizer import tokenize

    qrows = []
    for qid, text in PHRASE_SUGGEST_QUERIES:
        ts = tokenize(text)
        assert len(ts) == 2, (qid, ts)
        qrows.append(f"({qid}, '{ts[0]}', '{ts[1]}')")
    qlist = ", ".join(qrows)
    if d.duck:
        bg = """select a[i] as w1, a[i + 1] as w2
  from toks, unnest(generate_series(1, len(a) - 1)) as u(i)
  where len(a) >= 2"""
    else:
        bg = """select a[i] as w1, a[i + 1] as w2
  from (select a, explode(sequence(0, size(a) - 2)) as i from toks
        where size(a) >= 2)"""
    return f"""
with queries(query_id, t1, t2) as (values {qlist}),
toks as (select {d.terms('text')} as a from documents),
ug as (select w, cast(count(*) as bigint) as cnt
       from (select {d.unnest('a')} as w from toks) o group by w),
vsz as (select cast(count(*) as bigint) as v from ug),
cand1 as (
  select q.query_id, u.w as c1, cast(levenshtein(q.t1, u.w) as bigint) as d1, u.cnt as ug1
  from queries q join ug u on levenshtein(q.t1, u.w) <= {max_edits}
),
cand2 as (
  select q.query_id, u.w as c2, cast(levenshtein(q.t2, u.w) as bigint) as d2
  from queries q join ug u on levenshtein(q.t2, u.w) <= {max_edits}
),
pairs as (
  select c1.query_id, c1.c1, c1.ug1, c2.c2, c1.d1 + c2.d2 as dist
  from cand1 c1 join cand2 c2 on c2.query_id = c1.query_id
),
bg as ({bg}),
bgc as (select w1, w2, cast(count(*) as bigint) as bcnt from bg group by w1, w2),
scored as (
  select p.query_id, p.c1, p.c2, p.dist,
         cast(floor(1000000.0 * (coalesce(b.bcnt, 0) + 1) / (p.ug1 + vsz.v)) as bigint) as score6
  from pairs p
  left join bgc b on b.w1 = p.c1 and b.w2 = p.c2
  cross join vsz
),
ranked as (
  select query_id, c1, c2, dist, score6,
         row_number() over (partition by query_id
                            order by score6 desc, dist asc, c1 asc, c2 asc) as rank
  from scored
)
select query_id, cast(rank as bigint) as rank,
       {d.concat("c1", "' '", "c2")} as suggestion, dist, score6
from ranked where rank <= {k}
"""


# --- Parent-child queries (ES has_child / has_parent via the join type) -----
HAS_CHILD_MIN_QTY = 45
HAS_PARENT_PRIORITY = "1-URGENT"
PARENT_CHILD_K = 20


def _has_child_sql(d: _Dialect) -> str:
    """ES ``has_child`` twin over the orders(parent)/lineitem(child) shape:
    parents with >= 1 child matching the predicate, scored by the children
    (score_mode sum AND max exposed), top-20 by (sum desc, key asc). Child
    scores floor to cents-exact int64 BEFORE aggregation, so the sum is
    order-independent across partitions/engines. DuckDB sums a bigint
    into a HUGEINT, so its side casts the sum back to bigint (Spark's sum
    of a bigint is a bigint)."""
    score6 = "cast(sum(cscore) as bigint)" if d.duck else "sum(cscore)"
    return f"""
with kids as (
  select l_orderkey, cast(floor(l_extendedprice * 100) as bigint) as cscore
  from lineitem where l_quantity >= {HAS_CHILD_MIN_QTY}
),
agg as (
  select l_orderkey as parent_id, cast(count(*) as bigint) as n_children,
         {score6} as score6, max(cscore) as max6
  from kids group by l_orderkey
),
ranked as (
  select o.o_orderkey as parent_id, a.n_children, a.score6, a.max6,
         row_number() over (order by a.score6 desc, o.o_orderkey asc) as rank
  from agg a join orders o on o.o_orderkey = a.parent_id
)
select rank, parent_id, n_children, score6, max6
from ranked where rank <= {PARENT_CHILD_K}
"""


def _has_parent_sql(d: _Dialect) -> str:
    """ES ``has_parent`` twin: children whose parent matches the predicate,
    each child inheriting the PARENT's score (the has_parent contract),
    top-20 by (score desc, child key asc)."""
    return f"""
with par as (
  select o_orderkey, cast(floor(o_totalprice * 100) as bigint) as score6
  from orders where o_orderpriority = '{HAS_PARENT_PRIORITY}'
),
ranked as (
  select l.l_orderkey, l.l_linenumber, p.score6,
         row_number() over (
           order by p.score6 desc, l.l_orderkey asc, l.l_linenumber asc) as rank
  from lineitem l join par p on p.o_orderkey = l.l_orderkey
)
select rank, l_orderkey, l_linenumber, score6
from ranked where rank <= {PARENT_CHILD_K}
"""


# --- cumulative_cardinality pipeline agg -------------------------------------
def _cumulative_cardinality_sql(d: _Dialect) -> str:
    """ES ``cumulative_cardinality`` twin over events: distinct users seen
    up to and including each DAY bucket. Both sides use the FIRST-SEEN
    formulation — min(day) per user, count new arrivals per day, one
    running-sum window over O(buckets) rows — the O(N)-with-two-small-
    shuffles plan, instead of re-counting distinct per prefix (O(N x
    buckets), the naive reading of the agg). n_new is the bucket's ES
    `value` delta; cum_users the cumulative cardinality. Exact (the ES agg
    runs on HLL sketches and inherits their error; at trillion-user scale
    swap the per-user min for the register-merge sketch — documented, not
    taken: first-seen is exact AND cheaper here). Days render as
    'yyyy-MM-dd' strings under the session's pinned UTC timezone."""
    day = (
        "strftime(ts, '%Y-%m-%d')" if d.duck
        else "date_format(ts, 'yyyy-MM-dd')"
    )
    return f"""
with ev as (select user_id, {day} as day from events),
fs as (select user_id, min(day) as first_d from ev group by user_id),
per as (
  select first_d as day, cast(count(*) as bigint) as n_new
  from fs group by first_d
),
days as (select distinct day from ev),
cum as (
  select dd.day, coalesce(p.n_new, 0) as n_new
  from days dd left join per p on p.day = dd.day
)
select day, cast(n_new as bigint) as n_new,
       cast(sum(n_new) over (
         order by day rows between unbounded preceding and current row)
         as bigint) as cum_users
from cum
"""


# --- function_score random_score (seeded, reproducible) ----------------------
RANDOM_SCORE_SEED = "r5"


def _random_score_sql(d: _Dialect) -> str:
    """ES ``random_score`` twin (plans/hits.py ``match_random_score``):
    uniform seeded scores over the OR match set -- r6 = hash60(seed|url)
    mod 1e6, pure integers end to end (no float anywhere). The hash input
    is the zero-padded url string, the same bytes the engine hashes."""
    url = f"lpad(cast(m.doc_id as {d.str_type()}), 10, '0')"
    h = d.hash60(f"'{RANDOM_SCORE_SEED}|' || {url}" if d.duck
                 else f"concat('{RANDOM_SCORE_SEED}|', {url})")
    return f"""{_matched_cte(d)}
, scored as (
  select m.query_id, m.doc_id, ({h}) % 1000000 as r6 from matched m
),
ranked as (
  select query_id, doc_id, cast(r6 as bigint) as r6,
         row_number() over (partition by query_id order by r6 desc, doc_id asc) as rank
  from scored
)
select query_id, rank, doc_id, r6 from ranked where rank <= 10
"""


def paired_sql() -> dict[str, tuple[str, str]]:
    """name -> (spark_sql, duck_sql); identical aliases, hash-stable types."""
    S, D = _Dialect("spark"), _Dialect("duck")
    pairs: dict[str, tuple[str, str]] = {}

    def both(fn) -> tuple[str, str]:
        return fn(S), fn(D)

    def same(sql: str) -> tuple[str, str]:
        return sql, sql

    def _term_count(d: _Dialect) -> str:
        # Spark side: the allocation-free count form (== size(terms) by
        # lockstep-pinned construction — sqlglue.SPARK_TERM_COUNT); the
        # DuckDB oracle keeps the original array-size text, frozen.
        if d.duck:
            return d.size(d.terms("text"))
        from .functions.sqlglue import SPARK_TERM_COUNT

        return SPARK_TERM_COUNT.format(col="text")

    pairs["doc_stats"] = both(
        lambda d: f"select doc_id, cast({_term_count(d)} as bigint) as doc_len from documents"
    )
    pairs["corpus_stats"] = both(
        lambda d: f"""select cast(count(*) as bigint) as n_docs,
        cast(floor(avg(cast({_term_count(d)} as double)) * 1000000) as bigint) as avgdl6
        from documents"""
    )
    pairs["postings"] = both(
        lambda d: f"""select term, doc_id, cast(count(*) as bigint) as tf
        from (select doc_id, {d.unnest(d.terms('text'))} as term from documents) t
        group by term, doc_id"""
    )
    pairs["term_df"] = both(
        lambda d: f"""select term, cast(count(distinct doc_id) as bigint) as df
        from (select doc_id, {d.unnest(d.terms('text'))} as term from documents) t
        group by term"""
    )
    pairs["heavy_hitters"] = both(
        lambda d: f"""select term, cast(count(*) as bigint) as total_tf
        from (select {d.unnest(d.terms('text'))} as term from documents) t
        group by term order by total_tf desc, term asc limit 20"""
    )
    pairs["bm25_topk"] = both(_bm25_sql)
    pairs["bm25_text"] = both(_bm25_text_sql)
    pairs["bm25_snippets"] = both(_bm25_snippet_sql)
    pairs["phrase_topk"] = both(_phrase_sql)
    # proximity / NEAR (plans/query.py search_phrase slop): ordered window
    # match — slop extra tokens allowed between the bigram's terms.
    pairs["bm25_near"] = both(lambda d: _phrase_sql(d, slop=NEAR_SLOP))
    # unordered NEAR: reversed bigrams inside a slop+2 window, any order.
    pairs["bm25_near_unord"] = both(
        lambda d: _phrase_sql(
            d, slop=NEAR_SLOP, in_order=False, queries=NEAR_UNORD_QUERIES
        )
    )
    pairs["bm25_conj"] = both(_bm25_conj_sql)
    pairs["bm25_msm"] = both(_bm25_msm_sql)
    pairs["bm25_prefix"] = both(_bm25_prefix_sql)
    pairs["bm25_wildcard"] = both(_bm25_wildcard_sql)
    # query_string mini-language (plans/query.py search_query_string): the
    # one-call composition — boosts, musts, NOTs, required/negated phrases,
    # prefix expansion — parsed by the shared lockstep grammar.
    pairs["bm25_query_string"] = both(_query_string_sql)
    # sort-by-field (plans/hits.py search_sorted_by): match set ranked by
    # an external attribute (documents.n_chars), relevance never computed.
    pairs["search_sorted"] = both(_search_sorted_sql)
    # cursor paging composed with the field sort (plans/hits.py
    # search_sorted_by search_after=): page 2 via the rank-10 cursor.
    pairs["search_sorted_after"] = both(_search_sorted_after_sql)
    # terms-agg size + sum_other_doc_count (plans/hits.py facet_counts
    # top_n=): top buckets named, tail folded into '__other__'.
    pairs["facet_top_other"] = both(_facet_top_other_sql)
    # composite agg (plans/hits.py composite_buckets): key-ordered bucket
    # pagination via after-key cursors — page 2 of the lang buckets.
    pairs["composite_after"] = both(_composite_after_sql)
    # adjacency matrix (plans/hits.py adjacency_counts): pairwise
    # match-set intersection counts incl. the diagonal.
    pairs["adjacency"] = both(_adjacency_sql)
    # hybrid sparse+dense RRF (plans/hybrid.py): BM25 + cosine lists fused
    # by integerized reciprocal-rank contributions.
    pairs["hybrid_rrf"] = both(_hybrid_rrf_sql)
    # linear fusion (plans/hybrid.py hybrid_search_linear): min-max
    # normalized weighted sum, pure int64 past the retriever floors.
    pairs["hybrid_linear"] = both(_hybrid_linear_sql)
    # did-you-mean (plans/query.py suggest_spelling): absent tokens ->
    # 1-edit vocabulary corrections by (dist, df desc, term).
    pairs["spell_suggest"] = both(_suggest_spell_sql)
    # phrase suggester (plans/hits.py suggest_phrase): whole-phrase
    # did-you-mean via per-position edit candidates x Laplace bigram LM.
    pairs["phrase_suggest"] = both(_suggest_phrase_sql)
    pairs["bm25_fuzzy"] = both(_bm25_fuzzy_sql)
    # fuzziness=2 (the ES AUTO tier for terms >= 6 chars): same rewrite,
    # wider dictionary expansion — query 5's far token still matches nothing.
    pairs["bm25_fuzzy2"] = both(lambda d: _bm25_fuzzy_sql(d, 2))
    # regexp term queries (plans/query.py search_regexp): full-term
    # anchored vocabulary expansion -> OR scoring.
    pairs["bm25_regexp"] = both(_bm25_regexp_sql)
    # inverse percentiles (plans/hits.py match_percentile_ranks): percent
    # of matched docs under each AT_VALUES threshold, pure int64.
    pairs["pct_ranks"] = both(_pct_ranks_sql)
    pairs["bm25_explain"] = both(_explain_sql)
    # HLL cardinality sketch (plans/hits.py match_cardinality_hll): the ES
    # cardinality agg's real algorithm, exact-int64 registers + fixed-point
    # estimate, next to the exact distinct count for audit.
    pairs["match_hll"] = both(_match_hll_sql)
    # corpus-profiler variant: estimated vocabulary size via the same sketch.
    pairs["vocab_hll"] = both(_vocab_hll_sql)
    # Bloom-filter membership: 4032-bit/3-hash filter over the vocabulary,
    # probed with present + absent candidates (broadcast join-pruning shape).
    pairs["bloom_membership"] = both(_bloom_sql)
    # completion suggester: top next-words by corpus bigram frequency.
    pairs["next_word_suggest"] = both(_next_word_sql)
    # ES has_child / has_parent over the orders/lineitem parent-child shape.
    pairs["has_child"] = both(_has_child_sql)
    pairs["has_parent"] = both(_has_parent_sql)
    # function_score random_score: seeded uniform hash scores, pure int64.
    pairs["bm25_random"] = both(_random_score_sql)
    # cumulative_cardinality pipeline agg: first-seen formulation, exact.
    pairs["cumulative_cardinality"] = both(_cumulative_cardinality_sql)
    # geohash_grid: base32 cell buckets, the geotile sibling.
    pairs["geohash_grid"] = both(_geohash_sql)
    # normalize pipeline agg: percent_of_sum + cumulative share per bucket.
    pairs["histo_normalize"] = both(_histo_normalize_sql)

    def _bm25_boost_sql(d: _Dialect) -> str:
        # derive (clean queries, per-(qid, term) weights) from the ONE
        # BOOST_QUERIES structure via the shared lockstep parser.
        from .functions.tokenizer import parse_boost_query

        clean: list[tuple[int, str]] = []
        wts: list[tuple[int, str, float]] = []
        for qid, text in BOOST_QUERIES:
            txt, b = parse_boost_query(text)
            clean.append((qid, txt))
            wts.extend((qid, t, w) for t, w in sorted(b.items()))
        return _bm25_sql(d, queries=clean, boosts=wts)

    pairs["bm25_boost"] = both(_bm25_boost_sql)
    # paging (plans/query.py offset=): ranks 11..20 of the SAME global
    # order as bm25_topk — absolute ranks preserved.
    pairs["bm25_page2"] = both(
        lambda d: _bm25_sql(d, rank_where="rank > 10 and rank <= 20")
    )
    # cursor paging (plans/query.py search_after=): page 2 via the page-1
    # rank-10 row's (score6, doc_id) cursor — same rows as bm25_page2,
    # ranks page-relative 1..10, heaps never deepen.
    pairs["bm25_page_after"] = both(lambda d: _bm25_sql(d, after_rank=10))
    # field collapsing (plans/query.py search_collapse): at most one doc
    # per documents.source ranks — each source's best doc, re-ranked 1..10.
    pairs["bm25_collapse"] = both(_bm25_collapse_sql)
    # collapse.inner_hits (plans/query.py search_collapse_inner): top-k
    # groups each returning their top-m member docs.
    pairs["bm25_collapse_inner"] = both(_bm25_collapse_inner_sql)
    # query-time synonyms (plans/query.py search_synonyms): one-hop
    # expansion, each synonym scoring with its own idf (expand=true).
    pairs["bm25_syn"] = both(_bm25_syn_sql)
    # range aggregation (plans/hits.py range_facets): matched docs bucketed
    # by n_chars against RANGE_BOUNDS, sum-of-comparisons bucket index.
    pairs["range_facets"] = both(_range_facets_sql)
    # dense histogram (plans/hits.py range_facets_dense): min_doc_count=0
    # — empty buckets emit explicit zeros against DENSE_BOUNDS.
    pairs["range_dense"] = both(_range_dense_sql)
    # rescore window (plans/query.py rescore_phrase): +bonus6 for the
    # contiguous bigram inside the base top-RESCORE_WINDOW, re-ranked.
    pairs["bm25_rescore"] = both(_bm25_rescore_sql)
    # metric aggregation (plans/hits.py match_stats): ES stats+cardinality
    # over the full match set's n_chars in one groupBy pass.
    pairs["match_stats"] = both(_match_stats_sql)
    # significant terms (plans/hits.py significant_terms): terms most
    # over-represented in the match set vs corpus df, own terms excluded.
    pairs["sig_terms"] = both(_sig_terms_sql)
    # sampler aggregation (ES sampler + significant_terms sub-agg): the
    # deterministic md5-prefix doc sample, fg/n_matched in-sample.
    pairs["sig_terms_sampled"] = both(lambda d: _sig_terms_sql(d, sampled=True))
    # diversified_sampler (plans/hits.py diversified_sampler_stats):
    # per-source-capped deterministic sample, child stats over it.
    pairs["div_sampler"] = both(_diversified_sampler_sql)
    # frequent_item_sets at size=2 (plans/hits.py frequent_term_pairs):
    # mid-frequency term pairs with support >= FI_MINSUP.
    pairs["freq_pairs"] = both(_freq_pairs_sql)
    # function score (plans/query.py search_function_score): BM25 x
    # field_value_factor, boost_mode=multiply — exhaustive re-rank.
    pairs["fn_score"] = both(_function_score_sql)
    # rank_feature: additive saturation boost, missing features contribute 0.
    pairs["rank_feature"] = both(_rank_feature_sql)
    # linear decay scoring (plans/query.py search_function_score with the
    # decay-shaped factor): BM25 x max(0, 1 - n_chars/8192) — the ES
    # function_score linear decay on a numeric field.
    pairs["fn_decay"] = both(
        lambda d: _function_score_sql(d, factor_sql=FS_DECAY_SQL)
    )
    # extended stats (plans/hits.py match_extended_stats): ES
    # extended_stats — variance/stddev/bounds over the match set.
    pairs["ext_stats"] = both(_ext_stats_sql)
    # weighted average (plans/hits.py match_weighted_avg): ES weighted_avg
    # with the deterministic quarter-step weight.
    pairs["weighted_avg"] = both(_weighted_avg_sql)
    # missing-value agg (plans/hits.py match_missing): present/missing
    # split over a deliberately-partial dimension.
    pairs["match_missing"] = both(_match_missing_sql)
    # calendar date histogram (plans/hits.py date_histogram): per-month
    # match counts over the deterministic doc date.
    pairs["date_histogram"] = both(_date_histogram_sql)
    # pipeline aggregations (plans/hits.py date_histogram_pipeline): ES
    # cumulative_sum / derivative / moving_fn over the month buckets.
    pairs["date_pipeline"] = both(_date_histo_pipeline_sql)
    # serial_diff / moving_percentiles p50 / rate over the same buckets
    # (plans/hits.py date_histogram_pipeline2).
    pairs["date_pipeline2"] = both(_date_pipeline2_sql)
    # change_point sibling agg (plans/hits.py date_histogram_change_point):
    # the strongest step edge in each query's monthly match counts.
    pairs["change_point"] = both(_change_point_sql)
    # disjunction max (plans/query.py search_dis_max): best single-term
    # score + tie_breaker * rest — Lucene DisjunctionMaxQuery.
    pairs["dis_max"] = both(_dis_max_sql)
    # boosting query (plans/query.py search_boosting): negative-match
    # docs demoted by 0.5, never excluded.
    pairs["boosting"] = both(_boosting_sql)
    # phrase prefix (plans/query.py search_phrase_prefix): full term +
    # immediately-following prefix token — ES match_phrase_prefix.
    pairs["phrase_prefix"] = both(_phrase_prefix_sql)
    # rare terms (plans/hits.py rare_terms): long-tail facet buckets with
    # doc_count <= K — exact where ES's CuckooFilter pass is approximate.
    pairs["rare_terms"] = both(_rare_terms_sql)
    # terms_set query (plans/query.py search_terms_set): per-doc dynamic
    # minimum_should_match from a dimension field.
    pairs["terms_set"] = both(_terms_set_sql)
    # percolation (plans/percolate.py percolate): reverse search — which
    # registered queries fire for each incoming doc (ES percolate query).
    pairs["percolate"] = both(_percolate_sql)
    # span_first (plans/query.py search_span_first): term within the first
    # N token positions, BM25-ranked — Lucene SpanFirstQuery.
    pairs["span_first"] = both(_span_first_sql)
    # span_not (plans/query.py search_span_not): include-term occurrence
    # with no exclude occurrence inside the +-w window.
    pairs["span_not"] = both(_span_not_sql)
    # intervals (plans/query.py search_intervals): 3-term ordered chain
    # with a shared max_gaps budget — ES intervals, ordered:true.
    pairs["intervals"] = both(_intervals_sql)
    # Gopher repetition filters: per-doc duplicate 2-/3-gram fractions.
    pairs["gopher_repetition"] = both(_gopher_repetition_sql)
    # Gopher quality filters: per-doc signals + keep verdict, and the
    # corpus-level acceptance roll-up.
    pairs["gopher_quality"] = both(_gopher_quality_sql)
    pairs["gopher_quality_summary"] = both(_gopher_quality_summary_sql)
    # Eval-set decontamination: exact contiguous-span probe audit + rates.
    pairs["decontamination"] = both(_decontamination_sql)
    pairs["decontamination_summary"] = both(_decontamination_summary_sql)
    # ES filters agg: named query-defined buckets + other_bucket.
    pairs["filters_agg"] = both(_filters_agg_sql)
    # ES terms-lookup: term set fetched from another doc at query time.
    pairs["terms_lookup"] = both(_terms_lookup_sql)
    # multi_terms (plans/hits.py multi_terms): compound-key (lang, source)
    # buckets over the match set — ES multi_terms aggregation.
    pairs["multi_terms"] = both(_multi_terms_sql)
    # top_metrics (plans/hits.py top_metrics): metric values from the
    # size docs with the largest sort field — ES top_metrics aggregation.
    pairs["top_metrics"] = both(_top_metrics_sql)
    # multi_match best_fields (plans/query.py search_multi_field): body +
    # first-8-token title, each with its own statistics, dis_max-combined.
    pairs["multi_match"] = both(_multi_match_sql)
    # combined_fields (BM25F-style blended statistics — the engine runs it
    # as plain BM25 over the weight-repeated field concatenation).
    pairs["combined_fields"] = both(_combined_fields_sql)
    # index stats (plans/hits.py index_stats): the corpus recount that the
    # committed-artifact report must reproduce — ES _stats class.
    pairs["index_stats"] = both(_index_stats_sql)
    # term vectors (plans/hits.py term_vectors): per-doc tf + corpus df —
    # ES _termvectors with term_statistics.
    pairs["term_vectors"] = both(_term_vectors_sql)
    # geo family (plans/hits.py): distance sort, bounding-box filter count,
    # slippy-tile grid — shared sqlglue expression text in both engines.
    pairs["geo_distance"] = both(_geo_distance_sql)
    pairs["geo_bbox"] = both(_geo_bbox_sql)
    pairs["geotile_grid"] = both(_geotile_sql)
    # geo_centroid (plans/hits.py geo_centroid): integer-exact mean
    # coordinates of the match set — the map-pin aggregation.
    pairs["geo_centroid"] = both(_geo_centroid_sql)
    # geo_bounds (plans/hits.py geo_bounds): integer-exact bounding box of
    # the match set — the map-viewport sibling of geo_centroid.
    pairs["geo_bounds"] = both(_geo_bounds_sql)
    # pinned query (plans/hits.py search_pinned): curated ids promoted
    # ahead of organic relevance, ES `pinned` semantics.
    pairs["bm25_pinned"] = both(_bm25_pinned_sql)
    # rank_eval (plans/hits.py rank_eval): the ES Ranking Evaluation API —
    # P@k / recall@k / MRR / fixed-point NDCG against deterministic
    # term-coverage judgments.
    pairs["rank_eval"] = both(_rank_eval_sql)
    # auto_date_histogram (plans/hits.py): per-query interval from the
    # deterministic span ladder — ES's estimate-based pick made exact.
    pairs["auto_date_histogram"] = both(_auto_date_histo_sql)
    # matrix_stats (plans/hits.py match_matrix_stats): exact-int64 joint
    # statistics — covariance + correlation with zero merge error.
    pairs["matrix_stats"] = both(_matrix_stats_sql)
    # sibling pipeline aggs (plans/hits.py date_histogram_bucket_stats):
    # avg/min/max/sum_bucket + bucket_selector over the month histogram.
    pairs["histo_bucket_stats"] = both(_histo_bucket_stats_sql)
    # ES bucket_sort: metric-ordered buckets with from/size paging.
    pairs["histo_bucket_sort"] = both(_histo_bucket_sort_sql)
    # ES bucket_script: per-bucket arithmetic over two sibling metrics.
    pairs["histo_bucket_script"] = both(_histo_bucket_script_sql)
    # ES constant_score: filter-context scoring, docID-asc ranking.
    pairs["constant_score"] = both(_constant_score_sql)
    # string_stats (plans/hits.py match_string_stats): lengths + the
    # order-pinned character-entropy fold.
    pairs["string_stats"] = both(_string_stats_sql)
    # reindex (plans/build_index.py reindex): BM25 over the even-doc_id
    # subset — the fresh-build-from-committed-extracts path must reproduce
    # a direct build over the filtered corpus, which this twin models.
    pairs["bm25_reindexed"] = both(
        lambda d: _bm25_sql(d, corpus_pred=REINDEX_PRED)
    )
    # bucketed stats (plans/hits.py facet_stats): match_stats per
    # (query, lang bucket) — ES terms agg + stats sub-agg.
    pairs["facet_stats"] = both(_facet_stats_sql)
    # exact percentiles (plans/hits.py match_percentiles): percentile_disc
    # via value histogram + cumsum + int64 rank target.
    pairs["match_pcts"] = both(_match_pcts_sql)
    # boxplot (plans/hits.py match_boxplot): quartiles + Tukey whiskers,
    # exact where ES runs t-digest.
    pairs["boxplot"] = both(_boxplot_sql)
    # variable_width_histogram (plans/hits.py variable_width_histogram):
    # deterministic largest-gap natural-breaks clustering.
    pairs["var_width_histo"] = both(_var_width_histo_sql)
    # median absolute deviation (plans/hits.py match_mad): two disc
    # selections, one match-kernel lineage.
    pairs["match_mad"] = both(_mad_sql)
    # Welch t-test (plans/hits.py match_t_test): heteroscedastic two-sample
    # t + Welch-Satterthwaite df between doc_id-parity populations.
    pairs["t_test"] = both(_t_test_sql)
    # bucketed top hits (plans/hits.py top_hits): per-(query, lang) top-n
    # docs by BM25 — ES terms agg + top_hits sub-agg.
    pairs["top_hits"] = both(_top_hits_sql)
    pairs["hits_count"] = both(_hits_count_sql)
    pairs["facet_counts"] = both(_facet_counts_sql)
    # delete semantics (plans/deletes.py): masked = stale stats + compacted
    # ranks; expunged = stats recomputed over survivors.
    pairs["bm25_masked"] = both(
        lambda d: _bm25_sql(d, mask_pred=f"not ({DELETE_PRED})")
    )
    pairs["bm25_expunged"] = both(
        lambda d: _bm25_sql(d, corpus_pred=f"not ({DELETE_PRED})")
    )
    # boolean NOT ('-term' syntax, plans/query.py): scored docs containing
    # the query's negated term drop out; survivor scores untouched.
    pairs["bm25_not"] = both(
        lambda d: _bm25_sql(d, neg=sorted(NOT_NEG.items()))
    )
    # filtered search (plans/query.py filter_urls): Lucene filter-context
    # semantics — the attribute predicate masks scored docs AFTER stats
    # (passing docs keep their corpus-wide scores; ranks compact), exactly
    # the masked-delete shape with an inclusion set.
    pairs["bm25_filtered"] = both(
        lambda d: _bm25_sql(
            d,
            mask_pred=(
                "doc_id in (select doc_id from documents where "
                f"{FILTER_PRED})"
            ),
        )
    )
    # autocomplete (plans/query.py suggest_terms): prefix -> top vocabulary
    # terms by df desc, term asc; one prefix matches nothing.
    pairs["term_suggest"] = both(_suggest_sql)
    # more-like-this (plans/query.py more_like_this): seed doc's top tf*idf
    # terms -> OR query, seed masked from its own ranking.
    pairs["bm25_mlt"] = both(_mlt_sql)
    # query-time similarity overrides (plans/query.py search k1/b): same
    # committed index, scores evaluated at (TUNED_K1, TUNED_B).
    pairs["bm25_tuned"] = both(lambda d: _bm25_sql(d, k1=TUNED_K1, b=TUNED_B))

    def _token_count_sql(d: _Dialect) -> str:
        from .operators.textstats import BPE_PATTERN

        if d.duck:
            ws = "len(regexp_extract_all(text, '[^ ]+'))"
            bpe = f"len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))"
        else:
            ws = "size(regexp_extract_all(text, '[^ ]+', 0))"
            bpe = f"size(regexp_extract_all(lower(text), '{BPE_PATTERN}', 0))"
        return (
            f"select doc_id, cast({ws} as bigint) as ws_tokens, "
            f"cast({bpe} as bigint) as bpe_tokens from documents"
        )

    pairs["token_count"] = both(_token_count_sql)
    pairs["quality_score"] = both(_quality_sql)
    pairs["lang_id"] = both(_lang_sql)
    # fingerprint family reads the UN-fanned view on the Spark side (see
    # register_views: one md5 per doc is cheaper than shuffling the text);
    # the DuckDB oracle text keeps `documents` and is frozen.
    def _docsrc(d: _Dialect) -> str:
        return "documents" if d.duck else "documents_seq"

    pairs["fingerprint"] = both(
        lambda d: f"select doc_id, {_fingerprint_expr(d)} as fp from {_docsrc(d)}"
    )
    pairs["dedup_exact"] = both(
        lambda d: f"""select fp, cast(count(*) as bigint) as n_docs, min(doc_id) as keep_id
        from (select doc_id, {_fingerprint_expr(d)} as fp from {_docsrc(d)}) t
        group by fp"""
    )
    pairs["minhash_signatures"] = both(_minhash_sql)
    pairs["lsh_candidates"] = both(_lsh_bands_sql)
    pairs["simhash"] = both(_simhash_sql)
    pairs["simhash_wide"] = both(_simhash_wide_sql)
    pairs["simhash_band_candidates"] = both(_simhash_bands_sql)
    pairs["simhash_hamming"] = both(_simhash_hamming_sql)
    pairs["ngram_jaccard"] = both(_jaccard_sql)
    pairs["lsh_jaccard"] = both(_lsh_jaccard_sql)
    pairs["ann_cosine_topk"] = both(_ann_sql)
    pairs["lsh_ann_topk"] = both(_lsh_ann_sql)
    # Batched-query surface (VERDICT r4 next #7): same twins over an
    # arbitrary query set (here: vec_id % 97 = 3) instead of the fixed
    # first-5; queries() overrides the Spark side with the *_batch
    # DataFrame operators, so the driver checks the batch API end-to-end.
    _BATCH_QPRED = "vec_id % 97 = 3"
    pairs["ann_cosine_batch"] = both(lambda d: _ann_sql(d, _BATCH_QPRED))
    pairs["lsh_ann_batch"] = both(lambda d: _lsh_ann_sql(d, _BATCH_QPRED))
    # filtered kNN (ES knn filter): the metadata predicate restricts
    # CANDIDATES before scoring — queries() composes the same filter in
    # front of cosine_topk_batch (Catalyst pushes it to the parquet scan).
    pairs["ann_cosine_filtered"] = both(_ann_filtered_sql)
    # IVF scale path + embedding-cosine near-dup (round 5): queries()
    # overrides the Spark side with the DataFrame operators.
    pairs["ivf_ann_topk"] = both(_ivf_ann_sql)
    pairs["embedding_neardup"] = both(_neardup_sql)
    pairs["embedding_norms"] = both(
        lambda d: f"""select vec_id,
        cast(floor(sqrt({d.dot('embedding', 'embedding')}) * 1000000) as bigint) as norm6
        from embeddings"""
    )

    # --- relational parity ops (SURVEY.md §2.1 mappings) ---
    pairs["mode_agg"] = same(
        """select cast(floor(l_quantity * 100) as bigint) as val2, cast(count(*) as bigint) as cnt
        from lineitem group by 1 order by cnt desc, val2 asc limit 1"""
    )
    pairs["lead_boundaries"] = same(
        """select user_id, event_id,
        lead(event_id) over (partition by user_id order by ts, event_id) as next_event_id
        from events"""
    )
    pairs["asof_fill"] = (
        # Spark: last(expr, ignoreNulls) over window
        """select event_id,
        cast(floor(coalesce(last(case when event_type = 'purchase' then value end, true)
          over (partition by user_id order by ts, event_id
                rows between unbounded preceding and current row), -1.0) * 100) as bigint) as last_purchase2
        from events""",
        # DuckDB: last_value(expr ignore nulls) over window
        """select event_id,
        cast(floor(coalesce(last_value(case when event_type = 'purchase' then value end ignore nulls)
          over (partition by user_id order by ts, event_id
                rows between unbounded preceding and current row), -1.0) * 100) as bigint) as last_purchase2
        from events""",
    )
    # integer cents first: a float running sum depends on the engine's
    # accumulation order, and a session boundary sits on exact multiples
    pairs["sessionize"] = same(
        """select event_id, user_id,
        cast(floor((sum(cast(floor(value * 100) as bigint)) over (partition by user_id
          order by ts, event_id rows between unbounded preceding and current row)
          - cast(floor(value * 100) as bigint)) / 50000) as bigint) as session_id
        from events"""
    )
    pairs["range_join"] = same(
        """select b.band_id, cast(count(*) as bigint) as n_parts,
        cast(floor(avg(p.p_retailprice) * 100) as bigint) as avg_price2
        from (values (0, 0.0, 500.0), (1, 500.0, 1000.0), (2, 1000.0, 1500.0),
                     (3, 1500.0, 2000.0), (4, 2000.0, 100000.0)) as b(band_id, lo, hi)
        join part p on p.p_retailprice >= b.lo and p.p_retailprice < b.hi
        group by b.band_id"""
    )
    pairs["preorder_node_id"] = (
        """select o_orderkey,
        lpad(cast(row_number() over (order by o_orderdate, o_orderkey) as string), 8, '0') as node_id
        from orders""",
        """select o_orderkey,
        lpad(cast(row_number() over (order by o_orderdate, o_orderkey) as varchar), 8, '0') as node_id
        from orders""",
    )
    pairs["topk_orders"] = same(
        """select o_orderkey, cast(floor(o_totalprice * 100) as bigint) as price2
        from orders order by price2 desc, o_orderkey asc limit 10"""
    )
    pairs["anti_join"] = same(
        """select c_custkey from customer
        where not exists (select 1 from orders o where o.o_custkey = c_custkey)"""
    )
    pairs["union_distinct"] = same(
        """select distinct event_type as val from events
        union select distinct o_orderstatus as val from orders"""
    )
    # --- small SURVEY §2 operator echoes ---
    # #10 type-cast projection: '<physical_index_N>' tag -> int
    pairs["typecast_extract"] = (
        """select doc_id, cast(regexp_extract(concat('<physical_index_', cast(doc_id as string), '>'),
        '<physical_index_([0-9]+)>', 1) as bigint) as parsed from documents""",
        """select doc_id, cast(regexp_extract('<physical_index_' || cast(doc_id as varchar) || '>',
        '<physical_index_([0-9]+)>', 1) as bigint) as parsed from documents""",
    )
    # #31 dot-leader normalization: '.....' runs -> ': '
    pairs["dot_leader"] = (
        """select doc_id, regexp_replace(concat(substr(text, 1, 20), '.......', '42'),
        '[.]{5,}', ': ') as toc_line from documents""",
        """select doc_id, regexp_replace(substr(text, 1, 20) || '.......' || '42',
        '[.]{5,}', ': ', 'g') as toc_line from documents""",
    )
    # #12 conditional row insert (synthetic preface row union)
    pairs["preface_union"] = same(
        """select doc_id, kind from (
          select doc_id, 'doc' as kind from documents where doc_id < 5
          union all select -1 as doc_id, 'preface' as kind
        ) t"""
    )
    # #24 reverse scan / last non-null
    pairs["last_nonnull"] = same(
        "select max(doc_id) as last_idx from documents where doc_id % 7 = 0"
    )
    # #25 early-terminated scan (limit pushdown)
    pairs["limit_pushdown"] = same(
        "select doc_id, lang from documents order by doc_id asc limit 25"
    )
    # #34 filename sanitize
    pairs["sanitize"] = same(
        "select doc_id, translate(source, '/', '-') as safe_name from documents"
    )
    # #26 sampled verification (deterministic md5 sample — rand() would not
    # reproduce across engines); analogue of verify_toc's sampled accuracy
    pairs["sampled_verification"] = both(
        lambda d: f"""select cast(count(*) as bigint) as n_sampled,
        cast(floor(avg(cast({_term_count(d)} as double)) * 100) as bigint) as avg_len2
        from documents where substr(md5(cast(doc_id as {d.str_type()})), 1, 1) in ('0', '1', '2')"""
    )
    # #35/36 hierarchical aggregation (tree levels as ROLLUP; parent rows =
    # inner tree nodes, leaf rows = (region, nation))
    pairs["hierarchy_rollup"] = same(
        """select coalesce(r.r_name, '<all>') as region,
               coalesce(n.n_name, '<all>') as nation,
               cast(count(c.c_custkey) as bigint) as n_customers
        from customer c
        join nation n on n.n_nationkey = c.c_nationkey
        join region r on r.r_regionkey = n.n_regionkey
        group by rollup(r.r_name, n.n_name)"""
    )
    # #18 count + ratio aggregate (verification accuracy analogue).
    # NB: bare 1.0 parses as DECIMAL(2,1) in Spark (avg then keeps limited
    # scale) but DOUBLE in DuckDB — cast explicitly for bit parity.
    pairs["ratio_agg"] = same(
        """select user_id,
        cast(floor(avg(case when event_type = 'error' then cast(1.0 as double) else cast(0.0 as double) end) * 1000000) as bigint) as error_ratio6
        from events group by user_id"""
    )
    return pairs


# DuckDB-only oracles for the multimodal stubs: the stub codecs hash the
# payload's lowercase hex (ASCII), so DuckDB reproduces them exactly with
# sha256(varchar) over a generated series — no table input needed. They pin
# `__spark_entry__._media_features` / `_frame_sample` row-exact (the Spark
# side is the real mapInPandas plumbing over binary payload columns).
MEDIA_FEATURES_ORACLE = """
with m as (select i as media_id, repeat(sha256('media' || cast(i as varchar)), 4) as ph
           from generate_series(0, 63) t(i)),
h as (select media_id, sha256(ph) as hh from m),
bytes as (select media_id, cast(('0x' || substr(hh, 2*j.b + 1, 2))::ubigint as bigint) as byte
          from h, generate_series(0, 15) j(b))
select media_id, cast(sum(byte) * 25 as bigint) as feat_sum2 from bytes group by media_id
"""

FRAME_SAMPLE_ORACLE = """
with m as (select i as media_id,
                  repeat(sha256('media' || cast(i as varchar)), 4) as ph,
                  2 + ((i % 4) // 2) as nf
           from generate_series(0, 31) t(i))
select media_id, cast(g.f as int) as frame_id,
       sha256(ph || lower(lpad(to_hex(g.f), 8, '0'))) as frame_fp
from m cross join generate_series(0, 2) g(f)
where g.f < m.nf
"""


# CPU-heavy tables whose scan must not be serial: every tokenize / shingle /
# md5 / dot-product query computes its projections IN the scan stage, and the
# driver's testdata ships each table as ONE parquet file with a SINGLE row
# group — Spark cannot split a row group, so without intervention the whole
# 25M-token tokenize+hash pass runs on one task while 31 cores idle (guide
# §2.5 "input skew: one huge unsplittable file ... repartition immediately
# after the read"; measured: minhash_signatures 13.2 s single-task vs ~1 s
# fanned out at sf1.0/local[32]). The fix is one cheap exchange of the raw
# (id, text/embedding) rows BEFORE any expression work: hash-partitioned on
# the unique id column (deterministic under task retry — no round-robin, no
# sort-before-repartition pass) into a core-scaled partition count.
#
# Scale honesty: the fan-out only fires when the file layout gives the scan
# fewer natural splits than cores (a real 100-TB corpus arrives as thousands
# of files and skips this path entirely); the count derives from the live
# session's core count, never a constant. SPARK_GRAFT_VIEW_FANOUT=0 disables,
# an integer forces a specific partition count.
_FANOUT_TABLES = {"documents": "doc_id", "embeddings": "vec_id"}


def _scan_fanout(spark: SparkSession, path: str) -> int:
    """Partitions to fan a CPU-heavy view out to (0 = leave the scan alone)."""
    env = os.environ.get("SPARK_GRAFT_VIEW_FANOUT")
    if env is not None:
        return max(0, int(env))
    cores = spark.sparkContext.defaultParallelism
    if os.path.isdir(path):
        import glob

        n_files = len(glob.glob(os.path.join(path, "*.parquet")))
    else:
        n_files = 1
    # multi-file layouts already parallelize the scan; leave them alone
    return 2 * cores if n_files < cores else 0


def register_views(spark: SparkSession, sf_dir: str) -> None:
    # Defensive runtime mirror of session.get_spark's exclusion (the driver
    # may build its own session): without it, the filter inferred from
    # explode(tokenize(text)) is pushed below the fan-out exchange and the
    # corpus is tokenized twice on the serial scan tasks (see get_spark).
    # Merged into the session's existing exclusions, never replacing them.
    spark.conf.set(
        EXCLUDED_RULES,
        with_excluded_rule(
            spark.conf.get(EXCLUDED_RULES, None), INFER_FILTERS_FROM_GENERATE
        ),
    )
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            df = spark.read.parquet(p)
            key = _FANOUT_TABLES.get(t)
            if key is not None:
                n = _scan_fanout(spark, p)
                if n:
                    df = df.repartition(n, df[key])
            df.createOrReplaceTempView(t)
    # Un-fanned companion view for the few Spark-side queries whose per-row
    # compute (a single md5 of the text) is on par with the exchange cost
    # of the fan-out — for those, shipping the text through a shuffle costs
    # more than the serial scan it parallelizes (measured: fingerprint
    # one-shot 1.47 s fanned vs 1.05 s serial at sf1.0). Tokenize-heavy
    # queries keep the fanned `documents` view.
    p = os.path.join(sf_dir, "documents.parquet")
    if os.path.exists(p):
        spark.read.parquet(p).createOrReplaceTempView("documents_seq")


def spark_sql_query(name: str):
    ssql = paired_sql()[name][0]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(ssql)

    return run
