#!/usr/bin/env python3
"""The benchmark's own smoke test, at sf-micro scale (300 documents).

    python3 perfbench/smoke.py

Checks, in about five minutes on 4 cores:

1. every metric BENCHMARK.json declares is printed with its unit, on every
   workload, untraced and traced, and the outputs are correct;
2. an injected wrong row is counted in ``failed`` and clears ``correct``;
3. the traced runs show ``query.local_path_share == 1`` on
   ``search_interactive`` and a distributed path on every batch of
   ``search_batch``;
4. in a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int, **env_extra) -> tuple[int, dict | None]:
    env = dict(os.environ, PERFBENCH_SCALE="micro", **env_extra)
    env.pop("PYTHONPATH", None)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "4", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if isinstance(result, dict) and "metrics" not in result:
        result = None
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode, result


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in spec["workloads"]:
            code, res = run(ROOT, w["name"], trace)
            check(code == 0 and res is not None, f"{w['name']} trace={trace} exits 0 with a result")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w['name']} trace={trace} prints every {key} metric with its unit")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                  f"{w['name']} trace={trace} outputs are correct ({res['attempted']} checked)")
            if trace and w["name"] == "search_interactive":
                share = res["metrics"]["query.local_path_share"]["value"]
                check(share == 1.0, f"single queries take the local path (share {share})")
            if trace and w["name"] == "search_batch":
                share = res["metrics"]["query.batch_distributed_share"]["value"]
                check(share == 1.0, f"every batch takes the distributed path (share {share})")

    code, res = run(ROOT, "search_interactive", 0, PERFBENCH_INJECT_WRONG_ROW="1")
    check(code == 0 and res is not None and res["failed"] >= 1 and not res["correct"],
          "an injected wrong row counts as a failed operation")

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(HERE, ".work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        code, res = run(bare, "search_batch", 0)
        check(code != 0 and res is None, "without the program the benchmark fails and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
