#!/usr/bin/env python3
"""Benchmark launcher: one run of one workload, end to end.

    python3 perfbench/run.py --workload analyst_curation --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the engine and the benchmark
program from source (once per source state), generates the seeded input
lake, runs a fixed seeded op list in one pinned JVM, checks every result,
and prints the metrics named in BENCHMARK.json. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones (no listeners
attached); with --trace 1 they are the per-layer ones from a traced run.
The exit code is 0 only when every result was correct.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("analyst_curation", "table_dml")
SF = 0.02  # the generator's scale factor
NOMINAL_OPS_PER_S = 2.0  # turns --seconds into a fixed op count (whole rounds)
CPUS = 3  # task slots: leaves one core of four to the main thread, GC and JIT
HEAP = "2g"
RUN_BUDGET_S = 170  # the JVM run of one invocation, build excluded
SBT_FLAGS = ["--batch", "-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
             "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
             "-Dsbt.offline=true"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark program with sbt unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a checkout")
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(target, "sbt", "scala-2.13", "classes")
    stamp = os.path.join(target, "perfbench.stamp")
    digest = source_digest()
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    log("perfbench: building engine and benchmark program")
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_TARGET=os.path.join(target, "sbt"))
    p = subprocess.run(["sbt"] + SBT_FLAGS + ["compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr)
    if p.returncode != 0 or not os.path.isdir(classes):
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def run_jvm(classes, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + "/opt/spark/jars/*", "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


# ---- result checks against DuckDB -------------------------------------------

EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - EPOCH) // datetime.timedelta(microseconds=1)
    if isinstance(v, datetime.date):
        return (v - EPOCH.date()).days
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_failures(records, input_dir):
    """Executions whose Spark result differs from DuckDB on the oracle SQL."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        path = os.path.join(input_dir, t + ".parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failed, notes = 0, []
    for rec in records:
        got = json.loads(rec["rows"])
        res = con.execute(rec["sql"])
        names = [d[0].lower() for d in res.description]
        cols = [c.lower() for c in rec["columns"]]
        want = [[canon(v) for v in row] for row in res.fetchall()]
        ok = sorted(names) == sorted(cols)
        if ok:
            order = [names.index(c) for c in cols]
            want = [[row[i] for i in order] for row in want]
            ok = len(got) == len(want) and all(
                len(g) == len(w) and all(same(x, y) for x, y in zip(g, w))
                for g, w in zip(got, want))
        if not ok:
            failed += rec["execs"]
            notes.append(f"{rec['key']}: Spark result differs from DuckDB")
    return failed, notes


# ---- metrics ------------------------------------------------------------------

def tail(xs, beyond=10):
    """(percentile, value): highest percentile with >= `beyond` samples above."""
    s = sorted(xs)
    if len(s) <= beyond:
        return 100.0, s[-1]
    i = len(s) - 1 - beyond
    return 100.0 * (i + 1) / len(s), s[i]


def end_to_end(rec, failed):
    lat = rec["latency_s"]
    pct, tail_v = tail(lat)
    return {
        "setup_s": rec["setup_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "ops_per_s": len(lat) / rec["timed_wall_s"],
        "peak_rss_mb": rec["peak_rss_mb"],
        "storage_amp": rec["storage_amp"],
        "op_error_ratio": failed / rec["attempted"],
    }, {"tail_percentile": pct, "samples": len(lat)}


def tracing_overhead(rec):
    """Median and IQR over the op list of traced / untraced latency - 1.

    A traced run executes its seeded op list and an untraced twin of the
    same list on identical state in the same JVM, whole blocks at a time
    in alternating order; op i of one pairs with op i of the other. The
    median over those pairs is robust to a slow op or a host hiccup that
    one whole-run ratio would absorb."""
    ratios = [t / u for t, u in zip(rec["latency_s"], rec["twin_latency_s"])]
    if not ratios or len(rec["latency_s"]) != len(rec["twin_latency_s"]):
        return 0.0, 0.0  # a failed op; the run is reported as failed
    q = statistics.quantiles(ratios, n=4)
    return statistics.median(ratios) - 1.0, q[2] - q[0]


def run_once(workload, seed, seconds, trace, corrupt, classes, deadline, sf, warm):
    ops = max(1, round(seconds * NOMINAL_OPS_PER_S))
    os.makedirs(os.path.join(ROOT, ".bench_run"), exist_ok=True)
    work = os.path.join(ROOT, ".bench_run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        import lake
        manifest = lake.generate(os.path.join(work, "input"), seed, sf)
        out = os.path.join(work, "result.json")
        args = ["--workload", workload, "--seed", str(seed), "--ops", str(ops),
                "--cpus", str(CPUS), "--trace", str(trace),
                "--input", os.path.join(work, "input"), "--work", work, "--out", out]
        args += ["--warm", str(warm)] if warm is not None else []
        code = run_jvm(classes, work, args + (["--corrupt"] if corrupt else []), deadline)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with code {code}", 3)
        with open(out) as f:
            rec = json.load(f)
        notes = list(rec["failures"])
        failed = rec["op_failures"] + rec["final_failures"]
        if "oracle" in rec["records"]:
            f_oracle, n_oracle = oracle_failures(rec["records"]["oracle"],
                                                 os.path.join(work, "input"))
            failed += f_oracle
            notes += n_oracle
        rec["failed"] = min(failed, rec["attempted"])
        rec["notes"] = notes
        rec["rows"] = manifest["rows"]
        if rec["storage_amp"] == 0.0:
            # A read-only workload writes no table: report the generated
            # input layout's figure, a property of the input that no
            # engine change can move (README.md, "Metrics").
            rec["storage_amp"] = manifest["layout_amp"]
        spans = os.path.join(work, "spans.json")
        if trace and os.path.exists(spans):
            dest = os.path.join(ROOT, ".bench_out")
            os.makedirs(dest, exist_ok=True)
            shutil.copy(spans, os.path.join(dest, f"{workload}-spans.json"))
        return rec
    finally:
        shutil.rmtree(work, ignore_errors=True)


def save(name, obj):
    d = os.path.join(ROOT, ".bench_out")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        json.dump(obj, f)


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="perturb one expected value; the run must count it as failed")
    p.add_argument("--sf", type=float, default=SF,
                   help="override the input scale (self-check)")
    p.add_argument("--warm", type=int,
                   help="override the warm-up blocks, by default one pass over "
                        "every op shape (self-check)")
    a = p.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is killed and the
    # run's scratch directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sp = spec()
    classes = build()
    deadline = time.monotonic() + RUN_BUDGET_S

    rec = run_once(a.workload, a.seed, a.seconds, a.trace, a.corrupt, classes, deadline,
                   a.sf, a.warm)
    e2e, tail_info = end_to_end(rec, rec["failed"])
    if a.trace:
        overhead, spread = tracing_overhead(rec)
        layer = dict(rec["layer"])
        layer["trace.overhead_ratio"] = overhead
        layer["trace.overhead_iqr"] = spread
        layer["warmup.last_block_s"] = rec["warm_blocks_s"][-1] if rec["warm_blocks_s"] else 0.0
        wanted = sp["per_layer"]
        values = layer
        print(f"tracing overhead: median op latency ratio traced/untraced - 1 = "
              f"{overhead:.4f} (IQR {spread:.4f}) over {len(rec['twin_latency_s'])} pairs")
    else:
        wanted = sp["end_to_end"]
        values = e2e

    save(f"{a.workload}-trace{a.trace}-record.json",
         {k: v for k, v in rec.items() if k != "records"})
    print(f"workload {a.workload} seed {a.seed}: {rec['attempted']} ops, "
          f"{rec['failed']} failed; env {json.dumps(rec['env'])}")
    print(f"rows {json.dumps(rec['rows'])}")
    print("warm-up block s " + " ".join(f"{x:.3f}" for x in rec["warm_blocks_s"])
          + " | timed block s " + " ".join(f"{x:.3f}" for x in rec["timed_blocks_s"]))
    print(f"jit s: setup {rec['jit_s']['setup']:.1f}, timed {rec['jit_s']['timed']:.1f}, "
          f"settled for {rec['settle_s']:.1f} s before timing; "
          f"op_tail_s is p{tail_info['tail_percentile']:.1f} of {tail_info['samples']} samples")
    for n in rec["notes"][:20]:
        print("FAILED " + n)
    for k, v in e2e.items():
        print(f"{k:>32} {v:.6g}")
    if a.trace:
        for k in sorted(values):
            print(f"{k:>40} {values[k]:.6g}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
