"""Mimics the driver's correctness gate: for every paired query, run the
Spark SQL and the DuckDB oracle SQL on the same testdata and compare
row-sets exactly (column names, row count, values)."""

import os

import duckdb
import pytest

from pageindex_spark.driverq import TABLES, paired_sql, register_views

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from read_parquet('{p}')")
    return con


@pytest.fixture(scope="module")
def sviews(spark):
    register_views(spark, SF_DIR)
    return spark


_INT_TYPES = {
    "tinyint", "smallint", "int", "integer", "bigint",
    "utinyint", "usmallint", "uinteger", "ubigint",
}


def _family(type_name: str) -> str:
    """A column type's family, spelled the same for Spark's simpleString
    and DuckDB's type names: integer widths are one family (a Spark int
    rank equals a DuckDB BIGINT rank), HUGEINT is its own."""
    t = type_name.lower()
    if t in _INT_TYPES:
        return "int"
    if t in ("float", "double", "real"):
        return "float"
    if t in ("string", "varchar"):
        return "str"
    if t.endswith("[]") or t.startswith("array<"):
        return "list"
    for prefix in ("decimal", "timestamp", "struct"):
        if t.startswith(prefix):
            return prefix
    return t


# Twins whose DuckDB side still sums a bigint into a HUGEINT column; the
# type check below found them. Casting one changes its frozen oracle text
# (tests/data_oracle_fp_r06.json), a change of its own: entry -> column.
_HUGEINT_TWINS = {
    "histo_bucket_stats": "sum_docs",
    "engine_histo_bucket_stats": "sum_docs",
}


def _norm(rows, types):
    """(column type families, sorted rows): the comparison fails on a
    column whose family differs between the engines even when every value
    compares equal, as a DuckDB HUGEINT sum does against a Spark bigint."""
    return [_family(str(t)) for t in types], sorted(tuple(r) for r in rows)


def _spark_norm(sdf):
    return _norm(sdf.collect(), [f.dataType.simpleString() for f in sdf.schema])


def _duck_norm(rel, name):
    known = _HUGEINT_TWINS.get(name)
    types = [
        "BIGINT" if c.lower() == known and str(t) == "HUGEINT" else t
        for c, t in zip(rel.columns, rel.types)
    ]
    return _norm(rel.fetchall(), types)


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0 and set(df.columns) == {"query_id", "rank", "doc_id", "score6"}


def test_engine_bm25_matches_sql_oracle(spark, duck):
    """The custom SPIMI+WAND engine must reproduce the relational/DuckDB
    BM25 oracle exactly (doc_ids, ranks, fixed-point scores) — this is the
    same comparison the driver makes for engine_bm25_wand."""
    import shutil

    import __spark_entry__ as E

    shutil.rmtree(f"{E._INDEX_CACHE_ROOT}_sf0.001", ignore_errors=True)
    got = _spark_norm(E._engine_bm25_wand(spark, SF_DIR))
    want = _duck_norm(duck.sql(paired_sql()["bm25_topk"][1]), "bm25_topk")
    assert got == want


@pytest.mark.parametrize("name", sorted(paired_sql().keys()))
def test_pair_matches(name, sviews, duck):
    ssql, dsql = paired_sql()[name]
    sdf = sviews.sql(ssql)
    got_cols = [c.lower() for c in sdf.columns]
    want = duck.sql(dsql)
    want_cols = [c.lower() for c in want.columns]
    assert got_cols == want_cols, (got_cols, want_cols)
    got_types, got_rows = _spark_norm(sdf)
    want_types, want_rows = _duck_norm(want, name)
    assert got_types == want_types, (name, got_types, want_types)
    assert len(got_rows) == len(want_rows), (name, len(got_rows), len(want_rows))
    mism = [
        (g, w) for g, w in zip(got_rows, want_rows) if g != w
    ]
    assert not mism, (name, mism[:5])


@pytest.mark.parametrize(
    "name",
    [
        "lsh_ann_topk",
        "ann_cosine_filtered",
        "lsh_jaccard",
        "media_features",
        "frame_sample",
        "engine_bm25_text",
        "engine_bm25_pruned",
        "engine_bm25_masked",
        "engine_bm25_deletes",
        "engine_bm25_not",
        "engine_bm25_filtered",
        "engine_bm25_tuned",
        "engine_bm25_near",
        "engine_bm25_near_pos",
        "engine_bm25_near_unord",
        "engine_bm25_near_unord_pos",
        "engine_term_suggest",
        "engine_bm25_mlt",
        "engine_bm25_msm",
        "engine_bm25_prefix",
        "engine_bm25_wildcard",
        "engine_bm25_boost",
        "engine_bm25_fuzzy",
        "engine_bm25_fuzzy2",
        "engine_bm25_explain",
        "engine_bm25_page",
        "engine_match_stats",
        "engine_match_hll",
        "engine_vocab_hll",
        "engine_rank_feature",
        "engine_random_score",
        "engine_ext_stats",
        "engine_weighted_avg",
        "engine_match_missing",
        "engine_date_histogram",
        "engine_date_pipeline",
        "engine_date_pipeline2",
        "engine_change_point",
        "engine_histo_normalize",
        "engine_auto_histogram",
        "engine_matrix_stats",
        "engine_string_stats",
        "engine_histo_bucket_stats",
        "engine_constant_score",
        "engine_histo_bucket_sort",
        "engine_histo_bucket_script",
        "engine_fn_decay",
        "engine_dis_max",
        "engine_boosting",
        "engine_phrase_prefix",
        "engine_rare_terms",
        "engine_terms_set",
        "engine_percolate",
        "engine_percolate_stateless",
        "engine_span_first",
        "engine_span_not",
        "engine_intervals",
        "engine_decontamination",
        "engine_multi_terms",
        "engine_top_metrics",
        "engine_multi_match",
        "engine_combined_fields",
        "engine_index_stats",
        "engine_term_vectors",
        "engine_geo_distance",
        "engine_geo_bbox",
        "engine_geotile",
        "engine_geohash",
        "engine_geo_centroid",
        "engine_geo_bounds",
        "engine_div_sampler",
        "engine_freq_pairs",
        "engine_bm25_pinned",
        "engine_rank_eval",
        "engine_bm25_collapse_inner",
        "engine_next_word",
        "engine_phrase_suggest",
        "engine_bm25_reindexed",
        "engine_sig_terms",
        "engine_sig_terms_sampled",
        "engine_bm25_fnscore",
        "engine_facet_stats",
        "engine_match_pcts",
        "engine_boxplot",
        "engine_var_width_histo",
        "engine_match_mad",
        "engine_t_test",
        "engine_top_hits",
        "engine_hits_count",
        "engine_facet_counts",
        "engine_search_sorted",
        "engine_search_sorted_after",
        "engine_facet_top_other",
        "engine_composite_after",
        "engine_adjacency",
        "engine_range_dense",
        "engine_hybrid_rrf",
        "engine_hybrid_linear",
        "engine_spell_suggest",
        "engine_bm25_regexp",
        "engine_pct_ranks",
        "engine_bm25_snippets",
        "engine_bm25_merged",
        "engine_phrase_pos",
        "engine_query_string",
    ],
)
def test_custom_entries_match_their_oracles(name, spark, duck):
    """The non-SQL queries() entries (DataFrame/mapInPandas operators) must
    hash-match their DuckDB oracles — the same check the driver runs."""
    import __spark_entry__ as E

    sdf = E.queries()[name](spark, SF_DIR)
    want = duck.sql(E.oracle_sql()[name])
    want_cols = [c.lower() for c in want.columns]
    assert [c.lower() for c in sdf.columns] == want_cols
    got_types, got_rows = _spark_norm(sdf)
    want_types, want_rows = _duck_norm(want, name)
    assert got_types == want_types, (name, got_types, want_types)
    assert got_rows == want_rows, (name, got_rows[:3], want_rows[:3])
