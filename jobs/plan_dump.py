#!/usr/bin/env python3
"""Plan dumper: capture .explain("formatted") for every headline SQL leaf
and (optionally) time each with the noop sink, so a plan change can be
committed as a before/after diff (``plans/rNN/``).

Usage:
  python jobs/plan_dump.py before --out plans/r07            # <q>_before.txt
  python jobs/plan_dump.py after --out plans/r07             # <q>_after.txt
  python jobs/plan_dump.py before --out plans/r07 --time 3   # + min-of-3
  python jobs/plan_dump.py after --only bm25_topk,postings   # a subset

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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("plan_dump: set SPARK_GRAFT_SF_DIR to a testdata scale dir")
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
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
    warm_up(spark)
    register_views(spark, sf_dir)
    pairs = paired_sql()
    os.makedirs(out_dir, exist_ok=True)

    timings: dict[str, list[float]] = {}
    for name in HEADLINE:
        if only and name not in only:
            continue
        df = spark.sql(pairs[name][0])
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
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
