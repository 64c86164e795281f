#!/usr/bin/env python3
"""pageindex_spark benchmark: search workloads over a freshly built index,
timed from outside through the public API.

    python3 perfbench/run.py --workload search_interactive --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client):

* ``search_interactive``: one query per ``search()`` + ``collect()`` on a
  warm index. Single queries prune to a few term buckets and score on the
  driver (the local path).
* ``search_batch``: 50 queries per ``search()`` + ``collect()``. A batch
  touches every term bucket and scores in Spark (the distributed path).

Set-up, shared by both: Spark session, ``build_index`` over the seed's
corpus, ``get_searcher`` and one warm operation of the loop's kind. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
report with the input hashes, host canaries, tail percentile and error
rate. ``--trace 1`` turns on Spark's event log, labels every call with a job
group, adds the other operation classes (``search_prefix`` /
``search_wildcard`` / ``search_fuzzy`` expansions included), the kernel
timings and the SQL leaves, and reports the per-layer metrics instead (see
perfbench/METRICS.md).

``PERFBENCH_SCALE=micro`` shrinks every input to the smoke-test scale, and
``PERFBENCH_INJECT_WRONG_ROW=1`` corrupts one returned row before checking
(both are for perfbench/smoke.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("search_interactive", "search_batch")
# a loop runs at least this many operations, so its median has a middle
MIN_OPS = 3
DRIVER_MEMORY = "1g"

# bench.py's 17 HEADLINE SQL leaves.
SQL_LEAVES = (
    "doc_stats postings term_df heavy_hitters bm25_topk quality_score lang_id "
    "fingerprint dedup_exact minhash_signatures lsh_candidates simhash "
    "ngram_jaccard ann_cosine_topk sessionize range_join topk_orders"
).split()

INDEX_PARTS = ("docs_extracted", "norms", "segments", "postings", "term_stats")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Bench:
    def __init__(self, args, scale: str, work: str, tmp: str):
        import inputs
        from probes import Phases

        self.a = args
        self.scale = scale
        self.work = work
        self.tmp = tmp
        self.trace = bool(args.trace)
        self.phases = Phases()
        self.cores = len(os.sched_getaffinity(0))
        self.n_docs = inputs.SCALES[scale]
        self.index_dir = os.path.join(tmp, "index")
        self.event_dir = os.path.join(tmp, "events")
        self.report: dict = {"workload": args.workload, "seed": args.seed, "scale": scale}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.spark = None
        # per-op samples: (class, group, call_s, collect_s, n_queries)
        self.ops: list[tuple[str, str, float, float, int]] = []
        self.checks: list[tuple[list, dict]] = []

    # ------------------------------------------------------------ inputs
    def make_inputs(self) -> None:
        import inputs
        from oracle import Oracle

        a = self.a
        self.report["generator_digest"] = inputs.check_generator_pin()
        self.corpus = inputs.corpus_dir(self.work, a.seed, self.scale)
        urls, texts = inputs.read_corpus(self.corpus)
        self.oracle = Oracle(urls, texts)
        vocab_df = {t: self.oracle.df(t) for t in self.oracle.vocab}
        # enough query material for any run length: the loop cycles it
        self.query_sets = [inputs.query_set(a.seed, i) for i in range(8)]
        self.expansions = inputs.expansion_ops(a.seed, vocab_df, 3)
        self.report["inputs"] = {
            "corpus_sha256": inputs.tree_digest(self.corpus),
            "queries_sha256": inputs.queries_digest(self.query_sets, self.expansions),
            "n_docs": self.oracle.n,
        }
        if self.trace:
            self.sf = inputs.sql_dir(self.work, a.seed, self.scale)
            self.report["inputs"]["sql_sha256"] = inputs.tree_digest(self.sf)

    # ------------------------------------------------------------ phases
    def _group(self, name: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(name, name)

    def timed(self, name: str, fn, *args, **kw):
        self._group(name)
        t0 = time.time()
        p0 = time.perf_counter()
        out = fn(*args, **kw)
        dt = time.perf_counter() - p0
        self.phases.add(name, t0, time.time())
        return out, dt

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        t_setup = time.perf_counter()
        from pageindex_spark import build_index, get_spark
        from pageindex_spark.plans.build_index import SimulatedKill
        from pageindex_spark.plans.query import get_searcher

        conf = {
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        t0 = time.time()
        p0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", cores=self.cores, driver_memory=DRIVER_MEMORY, extra_conf=conf
        )
        self.layer["session.get_spark_s"] = time.perf_counter() - p0
        self.phases.add("setup.session", t0, time.time())
        self.gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)

        docs = self.spark.read.parquet(self.corpus).select("url", "text")
        params = dict(
            num_partitions=max(self.cores, 8, self.n_docs // 6250),
            n_buckets=16,
            n_seg_chunks=1,
            n_bucket_chunks=1,
        )
        if self.trace:
            # the same build, split at its public resume points
            build_s = 0.0
            for name, stop in (
                ("extract_segments", ("segments", 0)),
                ("compact", ("compact", 0)),
                ("fold", None),
            ):
                self._group(f"build.{name}")
                t0 = time.time()
                p0 = time.perf_counter()
                try:
                    build_index(self.spark, docs, self.index_dir, stop_after=stop, **params)
                except SimulatedKill:
                    pass  # the resume point after this stage's last chunk
                dt = time.perf_counter() - p0
                self.phases.add(f"build.{name}", t0, time.time())
                self.layer[f"build_index.{name}_s"] = dt
                build_s += dt
        else:
            _, build_s = self.timed("build.all", build_index, self.spark, docs, self.index_dir, **params)
        self.build_s = build_s
        _, open_s = self.timed("setup.open", get_searcher, self.spark, self.index_dir)
        self.layer["query.searcher_open_ms"] = open_s * 1000
        # one operation of the loop's kind, so the loop's first operation
        # does not pay the one-time cost of its path (it measured 15-30%
        # above the rest of a batch loop)
        warm = self.query_sets[-1]
        if self.a.workload == "search_batch":
            self._plain("setup.warm_op", warm, "warm")
        else:
            self._plain("setup.warm_op", warm[:1], "warm")
        self.setup_s = time.perf_counter() - t_setup

    # ------------------------------------------------------------ operations
    def _plain(self, group: str, queries: list[tuple[int, str]], cls: str) -> None:
        from oracle import tokenize
        from pageindex_spark import search

        df, call_s = self.timed(group + ".call", search, self.spark, self.index_dir, queries, k=10)
        rows, collect_s = self.timed(group + ".collect", df.collect)
        expected = {qid: self.oracle.topk(tokenize(text)) for qid, text in queries}
        self.ops.append((cls, group, call_s, collect_s, len(queries)))
        self.checks.append(([tuple(r) for r in rows], expected))

    def _expand(self, group: str, kind: str, pattern: str) -> None:
        from pageindex_spark import search_fuzzy, search_prefix, search_wildcard

        fn = {"prefix": search_prefix, "wildcard": search_wildcard, "fuzzy": search_fuzzy}[kind]
        df, call_s = self.timed(group + ".call", fn, self.spark, self.index_dir, [(1, pattern)], k=10)
        rows, collect_s = self.timed(group + ".collect", df.collect)
        expected = {1: self.oracle.topk(self.oracle.expand(kind, pattern))}
        self.ops.append(("expand", group, call_s, collect_s, 1))
        self.checks.append(([tuple(r) for r in rows], expected))

    def loop(self) -> None:
        import inputs

        singles = [q for qs in self.query_sets for q in inputs.interleaved(qs)]
        deadline = time.perf_counter() + self.a.seconds
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() < deadline or i < MIN_OPS:
            if self.a.workload == "search_batch":
                self._plain(f"op{i}", self.query_sets[i % len(self.query_sets)], "batch")
            else:
                self._plain(f"op{i}", [singles[i % len(singles)]], "single")
            i += 1
        self.loop_s = time.perf_counter() - t0
        self.loop_ops = [op for op in self.ops if op[0] != "warm"]

    def sweep(self) -> None:
        """Traced runs only: the operation classes the workload's loop does
        not issue, so every per-layer metric exists on every workload."""
        import inputs

        classes = {c for c, *_ in self.ops}
        if "batch" not in classes:
            for j in range(2):
                self._plain(f"sweep{j}", self.query_sets[j], "batch")
        if "single" not in classes:
            for j, q in enumerate(inputs.interleaved(self.query_sets[0])[:8]):
                self._plain(f"sweep_single{j}", [q], "single")
        for j, (kind, pattern) in enumerate(self.expansions):
            self._expand(f"sweep_expand{j}", kind, pattern)

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        from oracle import check_rows

        inject = os.environ.get("PERFBENCH_INJECT_WRONG_ROW") == "1"
        for n, (rows, expected) in enumerate(self.checks):
            if inject and n == 0 and rows:
                q, r, _url, s = rows[0]
                rows = [(q, r, "https://injected.example/wrong", s)] + rows[1:]
            self.attempted += 1
            self.failed += check_rows(rows, expected) > 0

    # ------------------------------------------------------------ layers
    def index_layout(self) -> None:
        from pageindex_spark.plans.build_index import IndexPaths

        paths = IndexPaths(self.index_dir)
        self.index_bytes = _du(self.index_dir)
        for part in INDEX_PARTS:
            self.layer[f"build_index.{part}_mb"] = _du(getattr(paths, part)) / 1e6

    def kernels(self) -> None:
        import kernels

        self.layer.update(kernels.measure(self.index_dir, self.query_sets[0], self.oracle))

    def sql(self) -> None:
        import sqlsuite

        res = sqlsuite.run(self.spark, self.sf, SQL_LEAVES, self.timed)
        self.layer.update(res["metrics"])
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        self.report["sql_mismatches"] = res["mismatches"]

    # ------------------------------------------------------------ teardown
    def stop(self) -> None:
        """Stop Spark, then the JVM it launched and the Python workers under
        it, and wait until each has exited."""
        from probes import children

        if self.spark is None:
            return
        pids = []
        todo = [os.getpid()]
        while todo:
            kids = children(todo.pop())
            pids.extend(kids)
            todo.extend(kids)
        self.spark.stop()
        self.spark = None
        proc = self.gateway_proc
        if proc is not None and proc.poll() is None:
            try:
                proc.stdin.close()  # the gateway exits when its stdin closes
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in pids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.1)
            if _alive(pid):
                os.kill(pid, signal.SIGKILL)

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict:
        if self.a.workload == "search_batch":
            lat = [c + k for cls, _g, c, k, _n in self.loop_ops if cls == "batch"]
        else:
            lat = [c + k for cls, _g, c, k, _n in self.loop_ops if cls == "single"]
        queries = sum(n for *_, n in self.loop_ops)
        from probes import tail

        t, pct, n = tail(lat)
        self.report["op_tail"] = {"ms": t * 1000, "percentile": pct, "samples": n}
        self.report["op_ms"] = [x * 1000 for x in lat]
        self.report["build_docs_per_s"] = self.oracle.n / self.build_s
        return {
            "setup_s": self.setup_s,
            "op_p50_ms": statistics.median(lat) * 1000,
            "queries_per_s": queries / self.loop_s,
            "index_bytes_per_doc": self.index_bytes / self.oracle.n,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict:
        from probes import read_event_log

        groups = read_event_log(self.event_dir, self.phases)
        L = self.layer

        def agg(prefixes):
            out = {"jobs": 0, "task_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
            for g, v in groups.items():
                if any(g == p or g.startswith(p + ".") for p in prefixes):
                    for key in out:
                        out[key] += v[key]
            return out

        b = agg(["build.extract_segments", "build.compact", "build.fold"])
        L["build_index.wall_s"] = self.build_s
        L["build_index.spark_jobs"] = b["jobs"]
        L["build_index.task_s"] = b["task_s"]
        L["build_index.core_util"] = b["task_s"] / (self.build_s * self.cores)
        L["build_index.shuffle_write_mb"] = b["shuffle_write_mb"]
        L["build_index.spill_mb"] = b["spill_mb"]

        def per_class(cls):
            rows = []
            for c, g, call_s, collect_s, _n in self.ops:
                if c == cls:
                    rows.append((call_s, collect_s, agg([g])))
            return rows

        single = per_class("single")
        L["query.search_call_ms"] = statistics.median(r[0] for r in single) * 1000
        L["query.collect_ms"] = statistics.median(r[1] for r in single) * 1000
        L["query.spark_jobs_per_query"] = statistics.mean(r[2]["jobs"] for r in single)
        L["query.local_path_share"] = statistics.mean(
            r[2]["shuffle_write_mb"] == 0 for r in single
        )
        expand = per_class("expand")
        L["query.expand_call_ms"] = statistics.median(r[0] for r in expand) * 1000
        L["query.expand_collect_ms"] = statistics.median(r[1] for r in expand) * 1000
        L["query.expand_spark_jobs"] = statistics.mean(r[2]["jobs"] for r in expand)
        batch = per_class("batch")
        wall = [r[0] + r[1] for r in batch]
        L["query.batch_call_ms"] = statistics.median(r[0] for r in batch) * 1000
        L["query.batch_collect_ms"] = statistics.median(r[1] for r in batch) * 1000
        L["query.batch_spark_jobs"] = statistics.mean(r[2]["jobs"] for r in batch)
        L["query.batch_task_s"] = statistics.mean(r[2]["task_s"] for r in batch)
        L["query.batch_shuffle_mb"] = statistics.mean(r[2]["shuffle_write_mb"] for r in batch)
        L["query.batch_core_util"] = sum(r[2]["task_s"] for r in batch) / (sum(wall) * self.cores)
        L["query.batch_distributed_share"] = statistics.mean(
            r[2]["shuffle_write_mb"] > 0 for r in batch
        )
        loop_cls = "batch" if self.a.workload == "search_batch" else "single"
        L["trace.op_p50_ms"] = statistics.median(
            c + k for cls, _g, c, k, _n in self.loop_ops if cls == loop_cls
        ) * 1000
        L["host.canary_before_ms"] = self.report["canary_ms"]["before"]
        L["host.canary_after_ms"] = self.report["canary_ms"]["after"]
        return L

    # ------------------------------------------------------------ run
    def run(self) -> dict:
        from probes import CpuTimes, canary_ms, tree_peak_rss_mb

        self.report["canary_ms"] = {"before": canary_ms()}
        cpu0 = CpuTimes()
        self.make_inputs()
        try:
            self.setup()
            self.index_layout()
            self.loop()
            if self.trace:
                self.sweep()
                self.kernels()
                self.sql()
            self.peak_rss_mb = tree_peak_rss_mb()
        finally:
            self.stop()
        self.check()
        self.report["canary_ms"]["after"] = canary_ms()
        self.report["host_steal_share"] = CpuTimes().steal_share_since(cpu0)
        self.report["error_rate"] = self.failed / self.attempted
        if self.trace:
            values, units = self.per_layer(), _catalog("per_layer")
        else:
            values, units = self.end_to_end(), _catalog("end_to_end")
        if set(values) != set(units):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _catalog(key: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a run must print exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pageindex_spark", "__init__.py")):
        print("perfbench: pageindex_spark/ not found beside perfbench/", file=sys.stderr)
        return 2
    import inputs

    scale = os.environ.get("PERFBENCH_SCALE", "bench")
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=work)
    # keep every file the run writes inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the index is smaller than sf-bench, so the local-scoring bound is too
    os.environ["SPARK_GRAFT_LOCAL_QUERY_MAX_BYTES"] = str(inputs.LOCAL_QUERY_BYTES[scale])
    sys.path.insert(0, ROOT)
    try:
        bench = Bench(args, scale, work, tmp)
        result = bench.run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(bench.report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
