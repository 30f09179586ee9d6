#!/usr/bin/env python3
"""Self-check of the benchmark at a tiny input size.

    python3 perfbench/selfcheck.py

Run from the repository root (about ten minutes). For each workload:
  - an untraced run must pass and print every end-to-end metric of
    BENCHMARK.json with its unit;
  - a traced run must print every per-layer metric, with the ones that
    workload exercises non-zero;
  - a run with one deliberately wrong expected value must count it as
    failed (op_error_ratio > 0) and exit non-zero.
Finally, a directory holding only BENCHMARK.json and perfbench/ must make
the launcher exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seconds", "15", "--sf", "0.002", "--warm", "1"]

# Per-layer metrics each workload must produce as non-zero.
EXERCISED = {
    "analyst_curation": [
        "sql.read_p50_s", "sql.driver_s", "plans.analysis_s", "plans.optimization_s",
        "plans.planning_s", "plans.share", "exec.jobs_per_op", "exec.tasks_per_op",
        "exec.task_run_s", "exec.task_cpu_s", "exec.shuffle_write_bytes",
        "exec.shuffle_read_bytes", "exec.input_bytes", "exec.result_bytes",
        "operators.near_dup_p50_s", "operators.minhash_p50_s",
        "operators.dup_groups_p50_s", "operators.topk_p50_s", "operators.curation_p50_s",
        "operators.pairs_out", "operators.shuffle_records_per_pair",
        "jvm.jit_s_timed", "jvm.jit_s_setup", "jvm.classes_loaded_timed",
        "warmup.last_block_s"],
    "table_dml": [
        "sql.statements", "sql.insert_p50_s", "sql.update_p50_s", "sql.delete_p50_s",
        "sql.merge_p50_s", "sql.read_p50_s", "sql.time_travel_p50_s", "sql.history_p50_s",
        "sql.optimize_p50_s", "sql.driver_s", "core.snapshot_s", "core.log_versions",
        "core.checkpoints", "core.live_files", "core.dv_files",
        "core.files_added_per_commit", "core.files_removed_per_commit",
        "core.bytes_written_per_changed_row", "crawler.incremental_crawl_s",
        "crawler.discover_s", "crawler.full_crawl_s", "crawler.profiled_ratio",
        "exec.jobs_per_op", "exec.output_bytes", "jvm.jit_s_timed", "jvm.jit_s_setup",
        "warmup.last_block_s"],
}


def launch(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p


def printed(stdout, name):
    """The value of a `name value` line the launcher printed, or None."""
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 2 and parts[0] == name:
            return float(parts[1])
    return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(ok, msg):
        print(("ok   " if ok else "FAIL ") + msg, flush=True)
        if not ok:
            problems.append(msg)

    queries = [m["name"] for m in spec["per_layer"] if m["name"].startswith("queries.")]
    EXERCISED["analyst_curation"] += queries
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            code, res, p = launch(["--workload", w, "--seed", "3", "--trace", str(trace)] + TINY)
            expect(code == 0 and res is not None and res.get("correct") is True,
                   f"{w} trace {trace}: exit {code}, correct result")
            if res is None:
                sys.stderr.write(p.stderr[-3000:])
                continue
            expect(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                   f"{w} trace {trace}: result keys")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace {trace}: every {group} metric with its unit")
            if trace == 0:
                expect(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{w}: end-to-end metrics are non-zero")
                expect(printed(p.stdout, "op_error_ratio") == 0.0,
                       f"{w}: op_error_ratio printed as 0")
            else:
                zero = [n for n in EXERCISED[w] if not res["metrics"][n]["value"] > 0]
                expect(not zero, f"{w}: exercised per-layer metrics non-zero {zero}")
        code, res, p = launch(["--workload", w, "--seed", "3", "--trace", "0", "--corrupt"] + TINY)
        ratio = printed(p.stdout, "op_error_ratio")
        expect(code != 0 and res is not None and res["failed"] >= 1 and not res["correct"]
               and ratio is not None and ratio > 0,
               f"{w}: a wrong expected value is counted in op_error_ratio and fails the run")

    bare = os.path.join(ROOT, ".bench_run", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        code, res, _ = launch(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                               "--seconds", str(spec["run_seconds"]), "--trace", "0"], cwd=bare)
        expect(code != 0 and res is None, "benchmark files alone: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print("self-check " + ("passed" if not problems else f"FAILED: {len(problems)} problem(s)"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
