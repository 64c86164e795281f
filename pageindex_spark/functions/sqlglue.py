"""Dialect-paired SQL snippets shared by the Spark engine and the DuckDB
oracle used in the driver's correctness gate (``__spark_entry__``).

Every operator exposed in ``queries()`` must hash-match its ``oracle_sql()``
twin, which requires three disciplines enforced here:

1. one source of truth per expression, in both dialects, side by side;
2. floats leave queries as ``cast(floor(x * 1e6) as bigint)`` — integer
   outputs dodge cross-engine float formatting/rounding-mode differences
   while still pinning 6 decimal digits of the value;
3. identical column aliases in both dialects.

The tokenizer snippets MUST stay in lockstep with
``pageindex_spark.functions.tokenizer.TOKEN_SPLIT_PATTERN``.
"""

from __future__ import annotations

from .tokenizer import ASCII_SEP_PATTERN, TOKEN_SPLIT_PATTERN

# -- tokenize a text column -> array of non-empty lowercase tokens ----------
# Order of operations is load-bearing (tokenizer.py docstring): tokens are
# the maximal ASCII-alphanumeric runs of the raw text, lowercased — non-ASCII
# letters are separators by definition, so lowercasing only ever sees ASCII,
# where every engine agrees.
#
# The Spark side EXTRACTS the positive token class instead of replace+
# lower+split on the negated class (r5 flatline hunt, BENCH.md
# §scaling): JDK 17's java.util.regex evaluates a NEGATED char
# class through a CharPredicate.negate() lambda whose per-char indirect
# dispatch is both ~6x slower per byte AND collapses under thread
# concurrency on the bench VM (2->8 threads measured 0.87x — slower walls
# at 4x the cores — vs 3.26x = 0.815 efficiency for the extract form;
# identical token arrays on all 50k bench docs and the adversarial-Unicode
# lockstep suite). ASCII-only case folding makes lower() distribute over
# the extraction, so extract-then-lower == strip-then-lower-then-split.
# Same token identity, ~6-23x faster, and it actually scales with cores.
_TOKEN_RUN_PATTERN = "[A-Za-z0-9]+"
SPARK_TERMS = (
    "transform(regexp_extract_all({col}, '"
    + _TOKEN_RUN_PATTERN
    + "', 0), _t -> lower(_t))"
)
# Token COUNT without materializing the array: a read-only scan with zero
# per-token allocation (the extract stage's doc_len hot path — at 100 TB
# this touches every input byte, so the allocation-free form matters).
SPARK_TERM_COUNT = "regexp_count({col}, '" + _TOKEN_RUN_PATTERN + "')"
DUCK_TERMS = (
    "list_filter(regexp_split_to_array(lower(regexp_replace({col}, '"
    + ASCII_SEP_PATTERN
    + "', ' ', 'g')), '"
    + TOKEN_SPLIT_PATTERN
    + "'), x -> x <> '')"
)

# -- fingerprint normalization: same ASCII-first discipline -----------------
# Spark side re-expressed through the positive token class (same reasoning
# and equivalence as SPARK_TERMS above): collapsing separator runs to one
# space and trimming is exactly joining the token runs with single spaces.
SPARK_FP_NORM = (
    "lower(array_join(regexp_extract_all({col}, '"
    + _TOKEN_RUN_PATTERN
    + "', 0), ' '))"
)
DUCK_FP_NORM = (
    "trim(lower(regexp_replace({col}, '" + ASCII_SEP_PATTERN + "', ' ', 'g')))"
)

# -- fixed-point projection of a double ------------------------------------
SPARK_FIX6 = "cast(floor(({x}) * 1000000) as bigint)"
DUCK_FIX6 = "cast(floor(({x}) * 1000000) as bigint)"

# -- 60-bit integer hash of a string via md5 (stable in both engines) -------
SPARK_HASH60 = "cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"
DUCK_HASH60 = "cast(('0x' || substr(md5({s}), 1, 15))::ubigint as bigint)"

# -- token 3-gram shingles from a terms array (1-based in both dialects for
#    DuckDB; Spark arrays are 0-based via element_at-compatible [] access).
#    The size() >= 3 guard is load-bearing: Spark's sequence(0, size-3) with
#    size < 3 is a DESCENDING sequence whose negative indices throw
#    INVALID_ARRAY_INDEX (Spark 4) — real web corpora are full of 0/1/2-token
#    extractions. DuckDB's generate_series(1, len-2) is already empty there. --
SPARK_SHINGLES = (
    "case when size({a}) >= 3 then "
    "transform(sequence(0, size({a}) - 3), "
    "i -> concat({a}[i], ' ', {a}[i+1], ' ', {a}[i+2])) "
    "else array() end"
)
DUCK_SHINGLES = (
    "list_transform(generate_series(1, len({a}) - 2), "
    "i -> {a}[i] || ' ' || {a}[i+1] || ' ' || {a}[i+2])"
)

# -- snippet primitives: first query-term hit + clamped token window --------
# {tk} = terms array, {terms} = comma'd quoted term literals. The index is
# 1-BASED in both dialects (Spark arrays are 0-indexed via [], hence the
# i-1; DuckDB's are 1-indexed) so the window arithmetic below is shared.
# Callers only apply these to BM25 winners (>= 1 query term present by
# construction), so the match set is never empty.
SPARK_FIRST_HIT = (
    "array_min(filter(sequence(1, size({tk})), "
    "i -> array_contains(array({terms}), {tk}[i - 1])))"
)
DUCK_FIRST_HIT = (
    "list_min(list_filter(range(1, {size} + 1), "
    "i -> list_contains([{terms}], {tk}[i])))"
)
# {s}/{e} = 1-based INCLUSIVE window bounds (pre-clamped by the caller).
SPARK_SNIP = "array_join(slice({tk}, {s}, ({e}) - ({s}) + 1), ' ')"
DUCK_SNIP = "array_to_string({tk}[({s}):({e})], ' ')"

# -- geo expressions (ONE string, both engines) ------------------------------
# sin/cos/asin/sqrt/radians/ln/tan/pi/floor spell identically in Spark SQL
# and DuckDB, so the geo family shares literal expression text: the engine
# side evaluates these via F.expr and the oracle twins inline the same
# string — identical operation trees, identical IEEE rounding.
#
# Haversine great-circle distance in KM (mean earth radius 6371.0088 km).
HAVERSINE_KM = (
    "2.0 * 6371.0088 * asin(sqrt("
    "sin(radians(({lat2}) - ({lat1})) / 2) * sin(radians(({lat2}) - ({lat1})) / 2)"
    " + cos(radians({lat1})) * cos(radians({lat2}))"
    " * sin(radians(({lon2}) - ({lon1})) / 2) * sin(radians(({lon2}) - ({lon1})) / 2)"
    "))"
)
# Slippy-map (OSM / ES geotile_grid) tile coordinates at zoom {z}.
GEOTILE_X = "cast(floor((({lon}) + 180.0) / 360.0 * {n}) as bigint)"
GEOTILE_Y = (
    "cast(floor((1.0 - ln(tan(radians({lat})) + 1.0 / cos(radians({lat})))"
    " / pi()) / 2.0 * {n}) as bigint)"
)
# Deterministic synthetic geo dimension over an integer id column: 0.01-deg
# steps over lat [-80, 80) x lon [-180, 180) — inside the slippy-map valid
# zone (|lat| <= 85.0511; GEOTILE_Y is singular at the poles). Identical
# integer mod + divide in both engines -> identical doubles.
GEO_LAT = "(cast(({id}) * 7919 % 16000 as double) / 100.0 - 80.0)"
GEO_LON = "(cast(({id}) * 104729 % 36000 as double) / 100.0 - 180.0)"

# Geohash (ES geohash_grid): classic base32 cell ids. The bit interleave is
# generated as PLAIN floor-divide/mod arithmetic (no shift operators — those
# spell differently across engines), so ONE expression string evaluates
# identically in Spark SQL and DuckDB; every quotient is a small-integer /
# power-of-two division, exact in a double.
GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_cell_exprs(lon: str, lat: str, precision: int) -> tuple[str, str, str]:
    """-> (lon_i_expr, lat_i_expr, code_expr) for a ``precision``-char
    geohash. ``code_expr`` references columns named lon_i / lat_i and
    yields the 5*precision-bit interleaved integer (lon takes the even
    bit positions from the MSB — the geohash convention). Callers split
    the code into 5-bit groups with :func:`geohash_char_expr`. Domain:
    lon in [-180, 180), lat in [-90, 90)."""
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    lon_i = f"cast(floor((({lon}) + 180.0) / 360.0 * {1 << lon_bits}.0) as bigint)"
    lat_i = f"cast(floor((({lat}) + 90.0) / 180.0 * {1 << lat_bits}.0) as bigint)"
    terms = []
    for k in range(lon_bits):  # lon bit k (MSB-first) -> code bit total-1-2k
        bit = f"(cast(floor(lon_i / {1 << (lon_bits - 1 - k)}.0) as bigint) % 2)"
        terms.append(f"{bit} * {1 << (total - 1 - 2 * k)}")
    for k in range(lat_bits):  # lat bit k (MSB-first) -> code bit total-2-2k
        bit = f"(cast(floor(lat_i / {1 << (lat_bits - 1 - k)}.0) as bigint) % 2)"
        terms.append(f"{bit} * {1 << (total - 2 - 2 * k)}")
    return lon_i, lat_i, " + ".join(terms)


def geohash_char_expr(i: int, precision: int) -> str:
    """The i-th (0-based) base32 character of a geohash ``code`` column."""
    shift = 5 * (precision - 1 - i)
    return (
        f"substr('{GEOHASH_B32}', "
        f"cast(cast(floor(code / {1 << shift}.0) as bigint) % 32 + 1 as int), 1)"
    )

# -- BM25 constants ----------------------------------------------------------
K1 = "1.2"
B = "0.75"


def spark_terms(col: str) -> str:
    return SPARK_TERMS.format(col=col)


def spark_term_count(col: str) -> str:
    return SPARK_TERM_COUNT.format(col=col)


def duck_terms(col: str) -> str:
    return DUCK_TERMS.format(col=col)
