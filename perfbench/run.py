#!/usr/bin/env python3
"""graft closed-loop benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke            # every workload, tiny inputs, all checks

Run from the repository root. The first run builds the program and the
benchmark runner from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run:

  1. generates its inputs from --seed with the generators in
     scripts/gen_scale.py (the program only sees the parquet files);
  2. starts one JVM (graft.perfbench.Main) that sets up, runs one cold
     pass and then timed passes for --seconds (at least the workload's
     `timed` count);
  3. checks the results: the last timed pass against the DuckDB
     evaluation of SparkEntry.oracleSql (scripts/check.py), the same
     order-insensitive result hash on every pass, and the index-store
     properties of the admission workload;
  4. prints one JSON line: correct, attempted, failed and the metrics
     (end-to-end ones with --trace 0, per-layer ones with --trace 1).

All run state lives in a fresh directory under .perfbench/ that is
removed at exit (keep it with --keep). See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "bench-stamp.txt")
PROGRAM_FILES = ["src/main/scala/graft/SparkEntry.scala",
                 "scripts/gen_scale.py", "scripts/check.py"]

RUN_LIMIT_S = 170          # whole run, build excluded
BUILD_LIMIT_S = 840
JVM_HEAP = "1g"

# Table sizes handed to the gen_scale generators. Tables a workload does
# not read stay at the `base` sizes (the oracle registers all ten).
BASE = dict(customer=300, supplier=20, part=400, orders=3000, events=2000,
            users=30, days=30, documents=200, embeddings=200)

# Why each workload exists is recorded in BENCHMARK.json and README.md.
# `timed` is the fewest timed passes a run makes, however long they take.
WORKLOADS = {
    "analytics": dict(
        queries=["q01_impact_agg", "q05_join_star", "q09_window_topk",
                 "q17_topk", "q90_retention"],
        tables=["lineitem", "orders", "customer", "nation", "region", "part",
                "events"],
        sizes=dict(customer=1500, supplier=100, part=2000, orders=15000,
                   events=10000, users=150),
        timed=2),
    "curation": dict(
        queries=["q02_wordcount", "q25_dedup_minhash", "q61_dedup_keepers",
                 "q32_quality", "q28_emb_neardup", "q50_pii_scrub"],
        tables=["documents", "embeddings"],
        sizes=dict(documents=500, embeddings=500),
        timed=4),
    "admission": dict(
        queries=["q139_front_door", "q148_stream_sunk"],
        tables=["documents", "embeddings"],
        sizes=dict(documents=200, embeddings=200),
        timed=2),
}

SMOKE_SIZES = dict(BASE, orders=1000, events=1000, documents=120, embeddings=120)

# Spark 4 on JDK 17 outside spark-submit (same list as the program's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                return read_classpath()
    log("building the program and the benchmark runner with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        raise BenchError("sbt build failed")
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return read_classpath()


def read_classpath():
    with open(CLASSPATH_FILE) as fh:
        cp = fh.read().strip()
    missing = [p for p in cp.split(os.pathsep) if not os.path.exists(p)]
    if missing:
        raise BenchError(f"classpath entry missing: {missing[0]}")
    return cp


# --------------------------------------------------------------- inputs

def generate(data_dir, seed, sizes):
    """The gen_scale generators, driven by one rng seeded with `seed`."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    import numpy as np
    import gen_scale as g
    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    with contextlib.redirect_stdout(sys.stderr):
        g.gen_region_nation(data_dir)
        g.gen_customer(rng, data_dir, sizes["customer"])
        g.gen_supplier(rng, data_dir, sizes["supplier"])
        g.gen_part(rng, data_dir, sizes["part"])
        odate = g.gen_orders(rng, data_dir, sizes["orders"], sizes["customer"])
        g.gen_lineitem(rng, data_dir, sizes["orders"], odate, sizes["part"],
                       sizes["supplier"])
        g.gen_events(rng, data_dir, sizes["events"], sizes["users"], sizes["days"])
        g.gen_documents(rng, data_dir, sizes["documents"])
        g.gen_embeddings(rng, data_dir, sizes["embeddings"])


# ------------------------------------------------------------------ JVM

def run_jvm(cp, run_dir, args, deadline):
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main", f"cpus={cpus}"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ, GRAFT_INDEX_ROOT=f"{run_dir}/index",
               SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    logf = open(f"{run_dir}/jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=logf, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        while True:
            pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                raise BenchError("JVM exceeded the run time limit")
            time.sleep(0.05)
    except BaseException:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        raise
    finally:
        logf.close()
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        with open(f"{run_dir}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BenchError(f"JVM exited with {proc.returncode}")
    with open(f"{run_dir}/result.json") as fh:
        res = json.load(fh)
    res["peak_rss_mb"] = ru.ru_maxrss / 1024.0  # ru_maxrss is in KiB
    return res


# --------------------------------------------------------------- checks

def result_hash(path):
    """Order-insensitive hash of a written result: a sum of per-row
    digests over name-sorted columns."""
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    t = t.select(sorted(t.column_names))
    total = 0
    for row in zip(*(c.to_pylist() for c in t.columns)):
        total += int.from_bytes(hashlib.md5(repr(row).encode()).digest()[:8], "little")
    return f"{t.num_rows}:{total % (1 << 64):016x}"


def check(res, run_dir, data_dir, queries, workload, corrupt):
    """Every check the run must pass; returns a list of failures."""
    problems = []
    passes = res["passes"]
    # 0. no query execution threw, in any pass
    for p in passes:
        if p["failed"]:
            problems.append(f"pass {p['idx']}: {', '.join(p['failed'])} failed")
    out = os.path.join(run_dir, "out")
    # 1. every pass yields the same order-insensitive result per query
    hashes = {}
    for p in passes:
        for q in queries:
            d = os.path.join(out, f"p{p['idx']}", q)
            if q in p["failed"] or not os.path.isdir(d):
                continue
            hashes.setdefault(q, set()).add(result_hash(d))
    for q, hs in sorted(hashes.items()):
        if len(hs) != 1:
            problems.append(f"{q}: {len(hs)} different results across passes")
    # 2. the last pass against the DuckDB evaluation of the oracle SQL
    last = os.path.join(out, f"p{passes[-1]['idx']}")
    shutil.copy(os.path.join(run_dir, "oracle_sql.json"), last)
    if corrupt:
        corrupt_one(last, queries)
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    checked = [q for q in queries if q in oracle]
    if len(checked) != len(queries):
        problems.append(f"no oracle for {sorted(set(queries) - set(checked))}")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"), data_dir, last]
        + checked, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True,
        env=dict(os.environ, GRAFT_DUCKDB_THREADS="2"), timeout=120)
    fails = [l for l in proc.stdout.splitlines() if l.startswith("FAIL")]
    passed = [l for l in proc.stdout.splitlines() if l.startswith("PASS")]
    if proc.returncode != 0 or fails or len(passed) != len(checked):
        problems.append("oracle: " + ("; ".join(fails) or proc.stdout[-500:]))
    # 3. the index store: no pass changes the indexes built in set-up, and
    #    every pass leaves the same store, sink output included
    if workload == "admission":
        for p in passes:
            if p["index_before"] != p["index_after"]:
                problems.append(f"pass {p['idx']} changed the indexes "
                                f"{p['index_before']} -> {p['index_after']}")
        after = {tuple(p["store_after"]) for p in passes}
        if len(after) != 1:
            problems.append(f"passes left different stores: {sorted(after)}")
    return problems


def corrupt_one(pass_dir, queries):
    """Overwrite the first query's result with one row changed, to show
    that the oracle check fails on a wrong result."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(pass_dir, queries[0])
    t = pq.read_table(d)
    col = t.column(0).to_pylist()
    col[0] = (col[0] + 1) if isinstance(col[0], (int, float)) else f"{col[0]}x"
    t = t.set_column(0, t.schema.field(0), pa.array(col, type=t.schema.field(0).type))
    shutil.rmtree(d)
    os.makedirs(d)
    pq.write_table(t, os.path.join(d, "part-corrupt.parquet"))
    log(f"corrupted one value of {queries[0]}")


# -------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    return {
        "setup_s": res["setup_s"],
        "first_pass_s": res["passes"][0]["wall_s"],
        "pass_s": median([p["wall_s"] for p in timed]),
        "cpu_s": median([p["cpu_s"] for p in timed]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def declared(kind):
    """{metric: unit} for `kind` ("end_to_end" or "per_layer") in BENCHMARK.json."""
    return {m["name"]: m["unit"] for m in benchmark_json()[kind]}


def per_layer(res, run_dir, queries):
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    traced = [p for p in timed if p["traced"]]
    plain = [p for p in timed if not p["traced"]]
    keys = sorted({k for p in traced for k in p["layers"]})
    m = {k: median([p["layers"][k] for p in traced]) for k in keys}
    m.update(res["extra"])
    for fam in ("text", "emb", "fp"):
        m[f"AdmissionIndex.build_s.{fam}"] = res["setup_builds"].get(fam, 0.0)
    m["AdmissionIndex.store_mb"] = median([p["store_after"][1] / 1e6 for p in timed])
    m["AdmissionIndex.store_files"] = median([p["store_after"][0] for p in timed])
    # attribution tiers and delivered output, from the last pass's files
    import pyarrow.parquet as pq
    last = os.path.join(run_dir, "out", f"p{timed[-1]['idx']}")
    tiers = {"admitted": 0, "exact": 0, "near_dup": 0, "semantic": 0}
    out_bytes = out_rows = 0
    for q in queries:
        d = os.path.join(last, q)
        if not os.path.isdir(d):
            continue
        out_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                         if f.endswith(".parquet"))
        t = pq.read_table(d)
        out_rows += t.num_rows
        if "tier" in t.column_names:
            for v in t.column("tier").to_pylist():
                if v in tiers:
                    tiers[v] += 1
    for k, v in tiers.items():
        m[f"AdmissionIndex.docs.{k}"] = v
    m["output.mb"] = out_bytes / 1e6
    m["output.rows"] = out_rows
    m["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                             - median([p["wall_s"] for p in plain])) if plain else 0.0
    with open(os.path.join(run_dir, "spans.jsonl")) as fh:
        m["trace.spans"] = sum(1 for _ in fh)
    return m


# ------------------------------------------------------------------ run

def run_once(workload, seed, seconds, trace, smoke=False, keep=False, corrupt=False):
    spec = WORKLOADS[workload]
    cp = ensure_build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(STATE, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        sizes = dict(SMOKE_SIZES) if smoke else dict(BASE, **spec["sizes"])
        t0 = time.time()
        generate(data_dir, seed, sizes)
        t1 = time.time()
        queries = spec["queries"]
        res = run_jvm(cp, run_dir, {
            "workload": workload, "data": data_dir, "run": run_dir,
            "queries": ",".join(queries), "tables": ",".join(spec["tables"]),
            "seconds": 0 if smoke else seconds,
            "trace": int(trace),
            "min_timed": 1 if smoke else spec["timed"]}, deadline)
        t2 = time.time()
        problems = check(res, run_dir, data_dir, queries, workload, corrupt)
        log(f"{workload} seed {seed}: inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
            f"checks {time.time() - t2:.1f} s")
        metrics = (per_layer(res, run_dir, queries) if trace
                   else end_to_end(res))
        if trace:
            os.makedirs(STATE, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(STATE, f"spans-{workload}-{seed}.jsonl"))
        return res, metrics, problems
    finally:
        if not keep:
            shutil.rmtree(run_dir, ignore_errors=True)


def emit(correct, res, metrics, units):
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise BenchError(f"metrics not measured: {', '.join(missing)}")
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=benchmark_json()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload once at tiny scale, checks on")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one result before the oracle check (it must fail)")
    a = ap.parse_args()
    # a TERM unwinds through run_jvm's cleanup, which kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)})")
        return 2
    try:
        if a.smoke:
            bad = 0
            for w in ([a.workload] if a.workload else WORKLOADS):
                t0 = time.time()
                res, _, problems = run_once(w, a.seed, 0, True, smoke=True, keep=a.keep,
                                            corrupt=a.corrupt)
                ok = not problems
                bad += not ok
                log(f"smoke {w}: {'ok' if ok else 'FAILED'} in {time.time() - t0:.1f} s "
                    f"({int(res['attempted'])} attempted, {int(res['failed'])} failed)")
                for p in problems:
                    log(f"  {p}")
            return 1 if bad else 0
        if not a.workload:
            ap.error("--workload is required")
        res, metrics, problems = run_once(a.workload, a.seed, a.seconds, a.trace,
                                          keep=a.keep, corrupt=a.corrupt)
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        return 1
    for p in problems:
        log(f"check failed: {p}")
    try:
        emit(not problems, res, metrics, declared("per_layer" if a.trace else "end_to_end"))
    except BenchError as e:
        log(f"error: {e}")
        return 1
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
