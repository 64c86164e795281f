"""SparkSession factory tuned for the engine.

Local mode in the sandbox; on a real cluster the same configs apply except
master/memory come from spark-submit. AQE stays on (runtime shuffle sizing,
skew-join splitting); Arrow transport on (all our Python stages are
Arrow-batched); shuffle partitions sized to cores locally — on a 1000-executor
cluster this would be set to ~2-3x total cores via --conf.
"""

from __future__ import annotations

import functools
import json
import os
from collections.abc import Sequence
from datetime import timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier

EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
INFER_FILTERS_FROM_GENERATE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

# The worker daemon (pageindex_daemon.py, beside the package): Python
# workers import the installed pyspark instead of re-reading pyspark.zip's
# central directory on every task. Workers find the module through their
# PYTHONPATH, so they need not run in the driver's directory.
DAEMON_MODULE = "pageindex_daemon"
DAEMON_MODULE_CONF = "spark.python.daemon.module"
WORKER_PYTHONPATH_CONF = "spark.executorEnv.PYTHONPATH"
_DAEMON_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_daemon_conf(extra_conf: dict) -> dict:
    """The daemon-module settings ``get_spark`` adds, or none when the
    module is not beside the package (an archive-shipped package) or the
    caller sets either key itself."""
    if DAEMON_MODULE_CONF in extra_conf or WORKER_PYTHONPATH_CONF in extra_conf:
        return {}
    if not os.path.isfile(os.path.join(_DAEMON_DIR, f"{DAEMON_MODULE}.py")):
        return {}
    return {DAEMON_MODULE_CONF: DAEMON_MODULE, WORKER_PYTHONPATH_CONF: _DAEMON_DIR}


def with_excluded_rule(rules: str | None, rule: str) -> str:
    """``rules`` (a comma-separated ``excludedRules`` value, or None) with
    ``rule`` appended unless already present — other exclusions stay."""
    names = [r.strip() for r in (rules or "").split(",") if r.strip()]
    return ",".join(names if rule in names else names + [rule])


@functools.lru_cache(maxsize=256)
def _ddl_json(ddl: str) -> str:
    # Parsing DDL is a JVM round trip (~4 ms); the cache holds only the
    # immutable JSON, so no caller shares a mutable StructType.
    return StructType.fromDDL(ddl).json()


def local_df(spark: SparkSession, rows: Sequence, ddl: str) -> DataFrame:
    """``rows`` (tuples or Rows, positional in ``ddl`` column order) as a
    DataFrame over an Arrow ``LocalRelation``.

    Every frame the engine builds on the driver goes through here: result
    hand-backs, empty results, the small sides of broadcast joins.
    ``createDataFrame`` over a Python list is a parallelize RDD of pickled
    rows, so collecting it launches a Spark job (~275 ms for a 10-row
    hand-back, most of a local-path query). A ``pyarrow.Table`` under
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    LocalRelation: collecting it launches no job, and broadcasting it
    collects rows already held by the JVM instead of that RDD.

    Each row first passes the type verifier the list path runs
    (``verifySchema``): a value that does not fit its column, such as an
    int32 overflow or a float in a long column, raises the same error
    instead of being converted by Arrow.
    """
    struct = StructType.fromJson(json.loads(_ddl_json(ddl)))
    arrow_schema = to_arrow_schema(struct)
    verify = _make_type_verifier(struct)
    for r in rows:
        verify(r)
    cols = []
    for i, f in enumerate(arrow_schema):
        col = [r[i] for r in rows]
        if pa.types.is_timestamp(f.type) and f.type.tz:
            # Arrow reads a naive datetime as UTC; the list path (and
            # collect()) take it as the process's local time.
            col = [v if v is None else v.astimezone(timezone.utc) for v in col]
        cols.append(pa.array(col, type=f.type))
    table = pa.Table.from_arrays(cols, schema=arrow_schema)
    return spark.createDataFrame(table, schema=struct)


def get_spark(
    app_name: str = "pageindex_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # InferFiltersFromGenerate turns every explode(tokenize(text)) into
    # an inferred `size(tokenize(text)) > 0 AND isnotnull(tokenize(...))`
    # predicate that predicate-pushdown then moves BELOW the fan-out
    # exchange into the scan stage — i.e. the whole corpus is tokenized
    # TWICE on the scan's (often single-split) tasks before the parallel
    # stage begins (guide §7.2 "duplicated subtrees"; observed in the
    # bm25 plan as a Filter re-evaluating the tokenizer per row under
    # Exchange). Empty arrays are dropped by explode anyway, so the
    # rule only ever re-orders work; for this engine it re-orders it
    # onto the serial path. Excluding it is semantics-neutral, and it
    # joins any exclusions extra_conf brings.
    conf = dict(extra_conf or {})
    conf[EXCLUDED_RULES] = with_excluded_rule(
        conf.get(EXCLUDED_RULES), INFER_FILTERS_FROM_GENERATE
    )
    conf.update(worker_daemon_conf(conf))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_up(spark: SparkSession) -> None:
    """One-time JVM/JIT warm-up of the hot expression paths.

    Measured in this sandbox: the first job evaluating the tokenizer regex
    pays ~20-30s of JIT compilation, after which the same expression runs in
    <1s. Benchmarks call this before the timed region so measurements reflect
    steady-state throughput (on a long-lived cluster the cost amortizes to
    zero anyway).

    r6 extension, same amortization argument: the first Arrow-Python stage
    pays the Python worker-pool spawn (one process per core, reused for the
    session — ``spark.python.worker.reuse``), and the first parquet write
    instantiates the output committer + codec. All are one-time
    session costs a long-lived cluster never re-pays; warming them here
    keeps the timed sections measuring throughput, not cold-start
    (measured: first mapInArrow-bearing write 4.7 s vs 1.3 s steady at
    sf1.0). Total warm-up cost: a few seconds on tiny synthetic data.

    Warming the pool once is enough: the workers run ``pageindex_daemon``
    (see ``get_spark``), so no task re-reads pyspark.zip's central
    directory. An identity mapInArrow job over 2 tasks measured a p50 of
    ~157 ms with it against ~320 ms without (4-core box, warm pool).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .functions.sqlglue import spark_term_count, spark_terms

    (
        spark.range(3000)
        .select(F.repeat(F.lit("ab cd9 "), 400).alias("text"))
        .select(
            F.size(F.expr(spark_terms("text"))).alias("l"),
            F.expr(spark_term_count("text")).alias("c"),
        )
        .agg(F.avg("l"), F.avg("c"))
        .collect()
    )

    cores = spark.sparkContext.defaultParallelism

    # Expression-class JIT zoo: the first job evaluating md5 / conv / bit
    # ops / higher-order array functions / window ranking pays the same
    # JIT-compilation class as the tokenizer regex above (measured: one-shot
    # minhash ~5x its steady-state on this box). One tiny job exercises the
    # hot expression families the bench queries and the engine use, so each
    # timed query's FIRST execution runs JIT-warm. This warms expression
    # interpreters/JIT, not any specific query or data.
    (
        spark.range(2000)
        .selectExpr(
            "id",
            "transform(sequence(0, cast(id % 7 as int)), i -> concat('t', i)) as arr",
        )
        .selectExpr(
            "id",
            "md5(concat('0|', array_join(arr, ' '))) as h1",
            "array_min(transform(arr, s -> md5(s))) as h2",
            "cast(conv(substr(md5(cast(id as string)), 1, 15), 16, 10) as bigint) as h60",
            "size(filter(arr, t -> array_contains(array('t1','t2'), t))) as nf",
            "aggregate(zip_with(array(1.0d, 2.0d), array(3.0d, 4.0d), (x, y) -> x * y), 0.0d, (a, x) -> a + x) as dot",
            "size(array_intersect(arr, slice(arr, 1, 2))) as ai",
            "size(array_distinct(arr)) as ad",
        )
        .selectExpr(
            "shiftright(h60, 3) & 7 as sr",
            "shiftleft(h60 % 1024, 2) ^ 5 as sl",
            "length(regexp_replace(h1, '[A-Za-z0-9]+', '')) as rr",
            "h2",
            "nf + ai + ad as s",
            "dot",
        )
        .selectExpr(
            "sum(sr) as a",
            "sum(sl) as b",
            "sum(rr) as c",
            "min(h2) as d",
            "sum(s) as e",
            "sum(dot) as f",
            "count(distinct h2) as g",
        )
        .collect()
    )
    (
        spark.range(512)
        .selectExpr("id % 16 as k", "id as v")
        .selectExpr(
            "k",
            "row_number() over (partition by k order by v desc) as rn",
            "sum(v) over (partition by k order by v) as rs",
        )
        .where("rn <= 3")
        .agg({"rs": "sum"})
        .collect()
    )

    # Arrow-Python worker pool + the Python runner of every parquet query
    # path: mapInArrow. The build's grouped applyInPandas and the
    # Iceberg-only cogroup runner are not warmed here.
    def _ident(batches):
        yield from batches

    base = spark.range(4 * cores).repartition(cores).selectExpr(
        "id", "cast(id % 4 as int) as g"
    )
    base.mapInArrow(_ident, schema="id long, g int").write.format(
        "noop"
    ).mode("overwrite").save()

    # Parquet writer (committer + codec init) and reader.
    tmp = os.path.join(tempfile.gettempdir(), f"spark_warm_{os.getpid()}")
    try:
        base.write.mode("overwrite").partitionBy("g").parquet(tmp)
        spark.read.parquet(tmp).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
