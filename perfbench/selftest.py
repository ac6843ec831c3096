#!/usr/bin/env python3
"""Self-test of the benchmark's failure accounting.

1. A run with an injected failing op (fencing a column that does not
   exist) must count that op in `failed`, name its exception class and the
   innermost Errors.context operator, and report correct = false.
2. The metric code must leave failed ops out of the latency percentiles:
   a failed op that returned fast must not pull op_p50_s down.
3. In a directory holding only BENCHMARK.json and the benchmark's files,
   the benchmark must exit non-zero without printing a result.

Usage (from the repository root): python3 perfbench/selftest.py
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def injected_failure():
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "replay_score",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--inject-failure"],
        capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert res["failed"] >= 1 and not res["correct"], res
    failures = [l for l in lines if l.startswith("op failed")]
    assert failures and all("inject_failure" in l for l in failures), failures
    assert "operator=fence" in failures[0], failures[0]
    assert "AnalysisException" in failures[0], failures[0]
    ratio = [l for l in lines if l.startswith("failed_op_ratio")]
    assert float(ratio[0].split()[1]) > 0, ratio


def failed_ops_are_not_timed():
    def sample(name, secs, ok=True, fit=False):
        return {"pass": 0, "name": name, "build_s": secs, "exec_s": 0.0, "ok": ok,
                "fit": fit, "rows": 10, "heap_mb": 100.0}
    res = {"samples": [sample("a", 1.0), sample("b", 2.0, fit=True),
                       sample("c", 3.0), sample("boom", 0.001, ok=False),
                       sample("bad_output", 0.002)],
           "warm": [], "warm_s": 1.0, "jvm_boot_s": 0.5,
           "setup_s": [1.0, 1.0, 1.0]}
    m = run.end_to_end(res, 0.1, {"bad_output"})
    assert m["op_p50_s"][0] == 2.0, m
    assert min(m["op_p90_s"][0], m["fit_s"][0]) >= 2.0, m


def bare_directory_fails():
    bare = os.path.abspath(".bench_build/selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", f"{bare}/perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "eda_notebook",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        assert p.returncode != 0 and '"metrics"' not in p.stdout, p
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    failed_ops_are_not_timed()
    bare_directory_fails()
    injected_failure()
    print("selftest ok")
