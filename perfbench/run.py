#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop, single-client workload of
calls into graft, in one JVM at local[N], with every output checked.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build graft and the benchmark's JVM program from source (reused while
the sources are unchanged), generate the workload's inputs from the seed,
run the JVM program (set-up three times, one untimed warm pass whose outputs
are kept, then whole timed passes until --seconds are spent), check the kept
outputs against DuckDB, and print the metrics. The last stdout line is the result:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer ones.
Everything is written under .bench_build/ and the run's own files are
removed at the end.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 150

# Input sizes. Per-op fixed cost (job launches, planning, eager driver
# actions) dominates every op at these sizes; they are chosen so one run
# of each workload fits the time the benchmark is given.
SIZES = {
    "eda_notebook": {"sf": 0.002},
    "curation_corpus": {"base_docs": 200, "factor": 5},
    "replay_score": {"sf": 0.01, "batches": 4, "batch_rows": 20_000},
}

LAYERS = ["core", "strata", "agg", "funcs", "clean", "ml", "outlier",
          "plotdata", "eval", "pipeline_dedup", "pipeline_text",
          "pipeline_embed"]
LAYER_METRICS = [("op_s", "s"), ("build_s", "s"), ("eager_jobs", "count"),
                 ("jobs", "count"), ("tasks", "count"), ("shuffle_mb", "MB"),
                 ("spill_mb", "MB"), ("cached_left", "count")]
MB = 1048576.0


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add an op that must fail (the self-test uses it)")
    return ap.parse_args()


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"driver JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"driver JVM exited {rc}:\n{tail}")


def latency(s):
    return s["build_s"] + s["exec_s"]


def pass_times(samples):
    """Timed seconds of each pass: its ops' latencies, isolation excluded."""
    out = {}
    for s in samples:
        out[s["pass"]] = out.get(s["pass"], 0.0) + latency(s)
    return list(out.values())


def end_to_end(res, gen_s, failed_names):
    samples = res["samples"]
    ok = [s for s in samples if s["ok"] and s["name"] not in failed_names]
    lat = sorted(latency(s) for s in ok)
    fits = [latency(s) for s in ok if s["fit"]]
    return {
        "setup_s": (gen_s + res["jvm_boot_s"] + statistics.median(res["setup_s"])
                    + res["warm_s"], "s"),
        "run_s": (statistics.median(pass_times(samples)), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (statistics.quantiles(lat, n=10)[8], "s"),
        "rows_per_s": (sum(s["rows"] for s in ok) / sum(pass_times(samples)),
                       "rows/s"),
        "fit_s": (statistics.median(fits), "s"),
        "retained_heap_mb": (max(s["heap_mb"] for s in samples), "MB"),
    }


def per_layer(res, attempted, failed):
    samples, work = res["samples"], res["work"]
    n_pass = len(pass_times(samples))

    def w(s):
        return work.get(s["id"], {})

    out = {}
    for layer in LAYERS:
        mine = [s for s in samples if s["layer"] == layer]
        vals = {
            "op_s": sum(latency(s) for s in mine),
            "build_s": sum(s["build_s"] for s in mine),
            "eager_jobs": sum(w(s).get("eager_jobs", 0) for s in mine),
            "jobs": sum(w(s).get("jobs", 0) for s in mine),
            "tasks": sum(w(s).get("tasks", 0) for s in mine),
            "shuffle_mb": sum(w(s).get("shuffle_bytes", 0) for s in mine) / MB,
            "spill_mb": sum(w(s).get("spill_bytes", 0) for s in mine) / MB,
            "cached_left": sum(s["cached_left"] for s in mine),
        }
        for name, unit in LAYER_METRICS:
            out[f"{layer}.{name}"] = (vals[name] / n_pass, unit)
    ws = [w(s) for s in samples]

    def total(k):
        return sum(x.get(k, 0) for x in ws)
    tasks = total("tasks")
    out.update({
        "spark.task_run_s": (total("run_ms") / 1e3 / n_pass, "s"),
        "spark.task_cpu_s": (total("cpu_ns") / 1e9 / n_pass, "s"),
        "spark.gc_s": (total("gc_ms") / 1e3 / n_pass, "s"),
        "spark.sched_delay_s": (total("sched_delay_ms") / 1e3 / n_pass, "s"),
        "spark.idle_task_ratio": (total("idle_tasks") / tasks if tasks else 0.0,
                                  "ratio"),
        "spark.failed_tasks": (total("failed_tasks") / n_pass, "count"),
        "spark.input_mb": (total("input_bytes") / MB / n_pass, "MB"),
        "spark.output_mb": (total("output_bytes") / MB / n_pass, "MB"),
        "spark.peak_exec_mem_mb": (max((x.get("peak_exec_mem", 0) for x in ws),
                                       default=0) / MB, "MB"),
        "jvm.jit_s": (res["jit_s"], "s"),
        "jvm.gc_pause_s": (sum(s["gc_ms"] for s in samples) / 1e3 / n_pass, "s"),
        "failed_op_ratio": (failed / attempted, "ratio"),
        "trace.run_s": (statistics.median(pass_times(samples)), "s"),
    })
    return out


def with_self_time(spans):
    """Adds self_ms: a span's duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        covered, last = 0, s["start_ms"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, last), min(b, s["end_ms"])
            if b > a:
                covered, last = covered + b - a, b
        s["self_ms"] = s["end_ms"] - s["start_ms"] - covered
    return spans


def main():
    a = parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(build.SOURCES[0]):
        sys.exit(f"run from the repository root: no {build.SOURCES[0]} here")
    try:
        cp, sha = build.ensure()
    except (build.BuildError, subprocess.CalledProcessError) as e:
        sys.exit(f"build failed: {e}")

    run_dir = os.path.abspath(
        f"{build.BUILD}/runs/{a.workload}-{a.seed}-{os.getpid()}")
    data, out, tmp = (f"{run_dir}/{d}" for d in ("data", "out", "tmp"))
    for d in (data, out, tmp):
        os.makedirs(d)
    try:
        t0 = time.perf_counter()
        gen.generate(a.workload, a.seed, data, SIZES[a.workload])
        gen_s = time.perf_counter() - t0
        batches = sorted(
            os.path.join(f"{data}/batches", f)
            for f in os.listdir(f"{data}/batches")) \
            if os.path.isdir(f"{data}/batches") else []
        ticks0 = cpu_ticks()
        run_jvm(build.jvm_command(cp, tmp, [
            a.workload, data, out, str(a.seconds), str(a.seed), str(a.trace),
            str(build.CPUS), "1" if a.inject_failure else "0"] + batches),
            f"{run_dir}/jvm.log")
        ticks1 = cpu_ticks()
        with open(f"{out}/result.json") as fh:
            res = json.load(fh)

        checks = oracle.check_queries(data, f"{out}/check", res["oracles"], build.CPUS)
        if batches:
            checks.update(oracle.check_replay(
                data, batches,
                [f"{out}/replay/b{i:03d}" for i in range(len(batches))], build.CPUS))
        bad_checks = {k: v for k, v in checks.items() if v is not None}
        warm_failed = {s["name"] for s in res["warm"] if not s["ok"]}
        failed_names = set(bad_checks) | warm_failed
        if bad_checks and batches:  # a replay mismatch fails every batch op
            failed_names |= {s["name"] for s in res["warm"]
                             if s["name"].startswith("replay_")}
        samples = res["samples"]
        failed_samples = [s for s in samples
                          if not s["ok"] or s["name"] in failed_names]
        attempted, failed = len(samples), len(failed_samples)

        env = dict(res["env"], cpus=build.CPUS, heap=build.HEAP, git_commit=git_commit(),
                   source_sha256=sha, sizes=SIZES[a.workload],
                   trace=a.trace, seconds=a.seconds)
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            # CPU time the hypervisor gave to other guests while the JVM ran
            env["host_steal_share"] = round(
                (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 4)
        print("env " + json.dumps(env, sort_keys=True))
        print(f"ops attempted={attempted} failed={failed} "
              f"passes={len(pass_times(samples))} checked={len(checks)} "
              f"check_failures={len(bad_checks)}")
        for name, why in sorted(bad_checks.items()):
            print(f"check failed {name}: {why[:300]}")
        for s in failed_samples:
            if not s["ok"]:
                print(f"op failed {s['id']}: {s['error_class']} "
                      f"operator={s['error_operator'] or '-'}")
        if a.trace:
            metrics = per_layer(res, attempted, failed)
            os.makedirs(f"{build.BUILD}/traces", exist_ok=True)
            with open(f"{out}/trace.json") as fh:
                spans = with_self_time(json.load(fh))
            with open(f"{build.BUILD}/traces/{a.workload}-{a.seed}.json",
                      "w") as fh:
                json.dump(spans, fh)
        else:
            metrics = end_to_end(res, gen_s, failed_names)
            print(f"failed_op_ratio {failed / attempted:.4f}")
        print(json.dumps({
            "correct": failed == 0 and not bad_checks,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
