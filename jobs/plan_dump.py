#!/usr/bin/env python3
"""Plan dumper: capture .explain("formatted") for every headline SQL leaf
and (optionally) time each with the noop sink, so a plan change can be
committed as a before/after diff (``plans/rNN/``).

Usage:
  python jobs/plan_dump.py before --out plans/r07            # <q>_before.txt
  python jobs/plan_dump.py after --out plans/r07             # <q>_after.txt
  python jobs/plan_dump.py before --out plans/r07 --time 3   # + min-of-3
  python jobs/plan_dump.py after --only bm25_topk,postings   # a subset
  python jobs/plan_dump.py after --out plans/r07 --search INDEX_DIR
  python jobs/plan_dump.py after --out plans/r10 --hits INDEX_DIR

``--search INDEX_DIR`` dumps, instead of the SQL leaves, the plan of a
distributed ``search()`` batch over a built index: the ``make_queries()``
batch with the local scoring path switched off, captured as the scored
candidates DataFrame the engine hands to its rank step
(``<out>/engine_batch_<tag>.txt``, the index path written as
``<INDEX_DIR>``; no SPARK_GRAFT_SF_DIR needed). ``--hits INDEX_DIR``
likewise dumps the plans of ``search_count`` and ``facet_counts`` (facet
= first hex digit of md5(url)) over the same batch
(``<out>/hits_count_<tag>.txt``, ``<out>/facet_counts_<tag>.txt``).

Plans go to ``<out>/<q>_<tag>.txt`` (default out: plans/dump, relative to
the repo root); with --time, noop-sink timings go to
``<out>/timings_<tag>.json``. SPARK_GRAFT_SF_DIR (required: the testdata
scale directory) and SPARK_GRAFT_CPUS pick the data and core count. This is not bench.py (which stays frozen);
it exists so plan diffs and isolated per-query numbers are reproducible
without touching the contract.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "doc_stats", "postings", "term_df", "heavy_hitters", "bm25_topk",
    "quality_score", "lang_id", "fingerprint", "dedup_exact",
    "minhash_signatures", "lsh_candidates", "simhash", "ngram_jaccard",
    "ann_cosine_topk", "sessionize", "range_join", "topk_orders",
]


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_search(spark, index_dir: str, path: str) -> None:
    """Write the formatted plan of a forced-distributed search() batch."""
    import pageindex_spark.plans.query as Q
    from pageindex_spark.sources.corpus import make_queries

    Q.LOCAL_QUERY_MAX_BYTES = -1  # every batch scores in Spark
    rank = Q._rank_and_lookup
    plans = []

    def capture(se, scored, *a, **kw):
        plans.append(_explain(scored))
        return rank(se, scored, *a, **kw)

    Q._rank_and_lookup = capture
    try:
        Q.search(spark, index_dir, make_queries(), k=10).collect()
    finally:
        Q._rank_and_lookup = rank
    if len(plans) != 1:
        sys.exit(f"plan_dump: expected one scored plan, got {len(plans)}")
    with open(path, "w") as f:  # location-free, so dumps diff across hosts
        f.write(plans[0].replace(index_dir, "<INDEX_DIR>"))


def dump_hits(spark, index_dir: str, out_dir: str, tag: str) -> None:
    """Write the formatted plans of a search_count and a facet_counts."""
    from pyspark.sql import functions as F

    from pageindex_spark.plans.hits import facet_counts, search_count
    from pageindex_spark.sources.corpus import make_queries

    ext = spark.read.parquet(os.path.join(index_dir, "docs_extracted"))
    facets = ext.select("url", F.substring(F.md5("url"), 1, 1).alias("facet"))
    for name, df in (
        ("hits_count", search_count(spark, index_dir, make_queries())),
        ("facet_counts", facet_counts(spark, index_dir, make_queries(), facets)),
    ):
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(_explain(df).replace(index_dir, "<INDEX_DIR>"))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    search_index = hits_index = None
    if "--search" in sys.argv:
        search_index = os.path.abspath(sys.argv[sys.argv.index("--search") + 1])
    if "--hits" in sys.argv:
        hits_index = os.path.abspath(sys.argv[sys.argv.index("--hits") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir and search_index is None and hits_index is None:
        sys.exit("plan_dump: set SPARK_GRAFT_SF_DIR to a testdata scale dir")
    n_time = 0
    if "--time" in sys.argv:
        n_time = int(sys.argv[sys.argv.index("--time") + 1])
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    out_dir = os.path.join(ROOT, "plans", "dump")
    if "--out" in sys.argv:
        out_dir = os.path.join(ROOT, sys.argv[sys.argv.index("--out") + 1])

    from pageindex_spark.driverq import paired_sql, register_views
    from pageindex_spark.session import get_spark, warm_up

    spark = get_spark(app_name=f"plan-dump-{tag}", cores=CPUS,
                      shuffle_partitions=max(CPUS, 8))
    os.makedirs(out_dir, exist_ok=True)
    if search_index is not None:
        path = os.path.join(out_dir, f"engine_batch_{tag}.txt")
        dump_search(spark, search_index, path)
        return
    if hits_index is not None:
        dump_hits(spark, hits_index, out_dir, tag)
        return
    warm_up(spark)
    register_views(spark, sf_dir)
    pairs = paired_sql()

    timings: dict[str, list[float]] = {}
    for name in HEADLINE:
        if only and name not in only:
            continue
        df = spark.sql(pairs[name][0])
        plan = _explain(df)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        if n_time:
            samples = []
            for _ in range(n_time):
                spark.sparkContext.setJobDescription(f"plan:{name}")
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            timings[name] = samples
            print(f"{name}: min={min(samples)} samples={samples}", flush=True)

    if n_time:
        path = os.path.join(out_dir, f"timings_{tag}.json")
        existing = {}
        if os.path.exists(path):
            existing = json.load(open(path))
        existing.update({k: {"min": min(v), "samples": v} for k, v in timings.items()})
        existing["sf"] = sf_dir
        existing["cpus"] = CPUS
        json.dump(existing, open(path, "w"), indent=1)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
