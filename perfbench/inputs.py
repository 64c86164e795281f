"""Seeded benchmark inputs: the document corpus, the query streams, the
expansion patterns and the relational tables of the SQL leaves.

Everything here is a pure function of ``(seed, scale)``. The corpus and the
query sets come from the program's own generator
(``pageindex_spark.sources.corpus``), so the load is the one FIXTURES.md
describes. A change to that generator must not move the load quietly:
``check_generator_pin`` hashes a small fixed draw of it and refuses to run
when the hash differs from ``GENERATOR_PIN``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus sizes: "bench" (FIXTURES' sf-unit) is the measured scale; "micro"
# (sf-micro) is the smoke-test scale.
SCALES = {"bench": 1000, "micro": 300}
# The engine's driver-local scoring bound for each scale: 0.7 of the built
# index's postings bytes (1.7 MB at 1000 documents, 0.75 MB at 300), the
# ratio of LOCAL_QUERY_MAX_BYTES (64 MiB) to the 95 MB of postings of
# FIXTURES' 200k-document sf-bench index. Single queries (at most 3 of 16
# term buckets) stay on the driver; 50-query batches (every bucket) do not.
LOCAL_QUERY_BYTES = {"bench": 1_200_000, "micro": 520_000}
CORPUS_FILES = 4

# sha256 of make_documents(200, 0) + make_queries(0), see generator_digest.
GENERATOR_PIN = "ae8d74f1e6edd0daaa2927404b80af6c05c6c18dc6365b1499ab22df739f2149"


def _sha(h, obj) -> None:
    h.update(json.dumps(obj, sort_keys=True).encode())


def generator_digest() -> str:
    from pageindex_spark.sources.corpus import make_documents, make_queries

    c = make_documents(200, 0)
    h = hashlib.sha256()
    _sha(h, [c.url, c.text])
    _sha(h, make_queries(0))
    return h.hexdigest()


def check_generator_pin() -> str:
    got = generator_digest()
    if got != GENERATOR_PIN:
        raise SystemExit(
            f"corpus generator changed (digest {got}, pinned {GENERATOR_PIN}); "
            "the benchmark load is no longer comparable"
        )
    return got


def _atomic_dir(final: str, fill) -> None:
    """Create ``final`` through a temporary sibling so a killed run never
    leaves a half-written cache entry behind."""
    if os.path.isdir(final):
        return
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fill(tmp)
    os.rename(tmp, final)


def corpus_dir(work: str, seed: int, scale: str) -> str:
    """Write the seed's corpus as ``CORPUS_FILES`` parquet files of
    (url, text); cached by (scale, seed) because it is an input."""
    from pageindex_spark.sources.corpus import make_documents

    out = os.path.join(work, "inputs", f"docs{SCALES[scale]}-{seed}", "documents")

    def fill(tmp: str) -> None:
        c = make_documents(SCALES[scale], seed)
        tbl = pa.table({"url": pa.array(c.url), "text": pa.array(c.text)})
        per = -(-tbl.num_rows // CORPUS_FILES)
        for f in range(CORPUS_FILES):
            pq.write_table(tbl.slice(f * per, per), os.path.join(tmp, f"part-{f}.parquet"))

    _atomic_dir(out, fill)
    return out


def read_corpus(path: str) -> tuple[list[str], list[str]]:
    t = pq.read_table(path)
    return t.column("url").to_pylist(), t.column("text").to_pylist()


def query_set(seed: int, i: int) -> list[tuple[int, str]]:
    """The i-th 50-query draw of the FIXTURES §2 mix for this seed."""
    from pageindex_spark.sources.corpus import make_queries

    return make_queries(seed * 1000 + i)


def interleaved(queries: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """One 50-query draw reordered so that every prefix keeps the FIXTURES §2
    mix. ``make_queries`` lists its classes in blocks (10 head, 5 mid and 5
    tail single-term queries, 20 two-term, 10 three-term); a run that takes
    the first dozen in list order would time single-term queries only."""
    blocks = ((0, 10), (10, 15), (15, 20), (20, 40), (40, 50))
    keyed = [
        ((j - lo + 0.5) / (hi - lo), lo, queries[j]) for lo, hi in blocks for j in range(lo, hi)
    ]
    return [q for *_key, q in sorted(keyed, key=lambda x: x[:2])]


def expansion_ops(seed: int, vocab_df: dict[str, int], n: int) -> list[tuple[str, str]]:
    """``n`` (kind, pattern) operations cycling prefix / wildcard / fuzzy.

    Stems come from mid-frequency corpus terms so each pattern expands to a
    bounded handful of terms (a 4-letter stem of this vocabulary expands to
    hundreds of terms and takes tens of seconds at 200k documents)."""
    rng = np.random.default_rng(seed + 7)
    words = sorted(
        t for t, df in vocab_df.items() if 6 <= len(t) <= 8 and t.isalpha() and 5 <= df <= 400
    )
    kinds = ("prefix", "wildcard", "fuzzy")
    out = []
    for i in range(n):
        w = words[int(rng.integers(0, len(words)))]
        kind = kinds[i % 3]
        if kind == "prefix":
            out.append((kind, w[:5] + "*"))
        elif kind == "wildcard":
            out.append((kind, w[:2] + "?" + w[3:5] + "*"))
        else:
            out.append((kind, w))
    return out


# --------------------------------------------------------------------------
# Relational tables for the SQL leaves (bench.py HEADLINE). Column names and
# types follow the sf tables TESTDATA.md describes; only the tables
# the 17 leaves read are generated.
# --------------------------------------------------------------------------

_SQL_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer the of and to in is it for der die und das ist le la et "
    "les des el los que de y"
).split()

SQL_ROWS = {
    "bench": {"documents": 3000, "embeddings": 1000, "events": 30000, "part": 5000, "orders": 30000},
    "micro": {"documents": 300, "embeddings": 100, "events": 2000, "part": 500, "orders": 2000},
}


def sql_dir(work: str, seed: int, scale: str) -> str:
    out = os.path.join(work, "inputs", f"sql-{scale}-{seed}")

    def fill(tmp: str) -> None:
        rng = np.random.default_rng(seed + 11)
        n = SQL_ROWS[scale]
        words = np.array(_SQL_WORDS)
        lens = rng.integers(5, 80, size=n["documents"])
        texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lens]
        langs = np.array(["en", "de", "fr", "es", "zh"])
        docs = pa.table({
            "doc_id": pa.array(np.arange(n["documents"], dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, 5, size=len(texts))]),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 8, size=len(texts))]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        })
        ne, dim = n["embeddings"], 16
        emb = rng.normal(size=(ne, dim)).astype(np.float32)
        embeddings = pa.table({
            "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=ne).astype(np.int32)),
        })
        nv = n["events"]
        ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
            rng.integers(1, 60_000_000, size=nv)
        ).astype("timedelta64[us]")
        events = pa.table({
            "event_id": pa.array(np.arange(nv, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, nv // 50 + 1, size=nv).astype(np.int64)),
            "event_type": pa.array(np.array(["view", "click", "purchase", "error"])[rng.integers(0, 4, size=nv)]),
            "value": pa.array(np.round(rng.uniform(0, 500, size=nv), 2)),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in rng.integers(0, 100, size=nv)]),
        })
        npart = n["part"]
        part = pa.table({
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array([f"part {i}" for i in range(npart)]),
            "p_brand": pa.array([f"Brand#{int(x)}" for x in rng.integers(1, 50, size=npart)]),
            "p_type": pa.array(np.array(["LARGE", "SMALL", "ECONOMY", "PROMO"])[rng.integers(0, 4, size=npart)]),
            "p_size": pa.array(rng.integers(1, 50, size=npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, size=npart), 2)),
        })
        no = n["orders"]
        orders = pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15000, size=no).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, size=no)]),
            "o_totalprice": pa.array(np.round(rng.uniform(800, 400_000, size=no), 2)),
            "o_orderdate": pa.array(
                np.datetime64("1992-01-01", "us")
                + (rng.integers(0, 2400, size=no) * 86_400_000_000).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"])[rng.integers(0, 4, size=no)]),
        })
        for name, t in (("documents", docs), ("embeddings", embeddings), ("events", events),
                        ("part", part), ("orders", orders)):
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))

    _atomic_dir(out, fill)
    return out


def tree_digest(path: str) -> str:
    """sha256 over every file under ``path`` (sorted relative names + bytes)."""
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def queries_digest(sets: list[list[tuple[int, str]]], expansions: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    _sha(h, sets)
    _sha(h, expansions)
    return h.hexdigest()
