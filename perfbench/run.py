#!/usr/bin/env python3
"""Benchmark front end: build, make inputs, run one workload, check, report.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Steps:
  1. build the program and the driver (perfbench/build.sbt) unless the
     sources are unchanged since the last build;
  2. find the workload's input tables (perfbench/data);
  3. run the JVM driver (perfbench.Main), closed loop, one client;
  4. check every result (DuckDB oracle, row-count stability, streaming
     state and sink checks);
  5. print one JSON object as the last line of stdout; exit 1 when any
     step failed or any check found a mismatch.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (the timed passes run untraced, traced, traced, untraced,
and `trace.overhead_s` is the difference). Build output and run
artifacts go under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

HEAP = "2g"
JVM_LIMIT_S = 150       # the driver JVM's budget (the build and inputs come before)
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(out):
    """Compiles with sbt unless the sources match the last build."""
    digest = source_digest()
    stamp = os.path.join(out, "build.stamp")
    classes = os.path.join(out, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes, digest
    log("building (sbt compile)")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, BENCH_BUILD_DIR=out, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", f"-Dsbt.offline=true -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        fail("build failed", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def inputs(sf):
    """The workload's tables: the project's sf `sf` test data, a copy of
    which sits under perfbench/data (the seed only orders the keys)."""
    data = os.path.join(HERE, "data", f"sf{sf}")
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(data, f"{t}.parquet"))]
    if missing:
        fail(f"missing input tables under {data}: {', '.join(missing)}")
    return data


def run_jvm(classes, wl, args, data, out_run, deadline):
    jars = os.environ.get("SPARK_JARS_DIR", "/opt/spark/jars")
    tmp = os.path.join(out_run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap size, so heap sizing does not vary from run to run
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--start-ms", str(int(time.time() * 1000)), "--kind", wl["kind"],
            "--keys", ",".join(wl["keys"]),
            "--batches", str(wl.get("batches", 0)), "--docs", str(wl.get("docs", 0)), "--data", data,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", out_run]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp)
    env.pop("SPARK_GRAFT_MATERIALIZED_PATH", None)
    env.pop("SPARK_GRAFT_MATERIALIZED_SPILL_BYTES", None)
    p = subprocess.Popen(cmd, cwd=out_run, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("driver ran past the time limit", 4)
    if rc != 0:
        fail(f"driver exited with {rc}", 5)
    with open(os.path.join(out_run, "result.json")) as f:
        return json.load(f)


# --- correctness ---------------------------------------------------------

def read_result(path):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{path}/*.parquet"))
    return pq.read_table(files[0]).to_pandas() if files else None


def compare_frames(s, o):
    """Exact comparison after sorting columns by name, as the project's
    oracle gate does; returns None when equal, else a reason."""
    import numpy as np
    import pandas as pd
    s, o = s[sorted(s.columns)], o[sorted(o.columns)]
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} vs {len(o)}"
    for c in s.columns:
        sv, ov = s[c], o[c]
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            a, b = sv.astype(float).values, ov.astype(float).values
            same = (pd.isna(a) == pd.isna(b)).all() and np.array_equal(np.nan_to_num(a), np.nan_to_num(b))
        elif sv.dtype == object:
            same = (sv.fillna("<N>").astype(str) == ov.fillna("<N>").astype(str)).all()
        else:
            same = ((sv.isna() == ov.isna()) & (sv.fillna(0) == ov.fillna(0))).all()
        if not same:
            return f"column {c} differs"
    return None


def check_batch(res, data, out_run, keys):
    """Per-key verdicts: DuckDB oracle where one exists, else rows > 0 and
    the same row count after the timed passes as in the warm-up."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(out_run, "oracle.json")) as f:
        oracle = json.load(f)
    verdicts = {}
    for k in keys:
        got = read_result(os.path.join(out_run, "check", k))
        if got is None:
            verdicts[k] = "no result after the timed passes"
        elif k in oracle:
            try:
                verdicts[k] = compare_frames(got, con.execute(oracle[k]).fetchdf())
            except Exception as e:  # an oracle that cannot run is a failed check
                verdicts[k] = f"oracle error: {e}"
        else:
            warm = read_result(os.path.join(out_run, "warm", k))
            if len(got) == 0:
                verdicts[k] = "no rows"
            elif warm is None or len(warm) != len(got):
                verdicts[k] = f"row count moved: {None if warm is None else len(warm)} -> {len(got)}"
            else:
                verdicts[k] = None
    for c in res["checks"]:
        if not c["ok"]:
            verdicts[c["name"].split(".")[0]] = c["detail"]
    return verdicts


def check_stream(res):
    verdicts = {}
    for c in res["checks"]:
        twin = c["name"].split(".")[0]
        if not c["ok"]:
            verdicts[twin] = (verdicts.get(twin) or "") + c["detail"] + "; "
        else:
            verdicts.setdefault(twin, None)
    return verdicts


# --- metrics -------------------------------------------------------------

def p90(values):
    """Nearest-rank 90th percentile."""
    v = sorted(values)
    return v[max(0, -(-len(v) * 9 // 10) - 1)]


def end_to_end(res):
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    steps = [s["construct_s"] + s["execute_s"] for s in res["steps"] if s["error"] is None]
    return {
        "pass_s": (statistics.median(untraced), "s"),
        "step_p50_s": (statistics.median(steps), "s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MiB"),
        "setup_s": (res["session_s"] + res["warmup_s"] + statistics.median(res["setup_reps_s"]), "s"),
    }


def per_layer(res, spec, selfcheck_fails):
    out = {}
    layers = res["layers"]
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    for m in spec:
        name = m["name"]
        if name == "trace.overhead_s":
            v = statistics.median(traced) - statistics.median(untraced)
        elif name == "trace.selfcheck_fails":
            v = selfcheck_fails
        else:
            v = statistics.median([l.get(name, 0.0) for l in layers])
        out[name] = (v, m["unit"])
    return out


def projected_size(path, columns):
    """Compressed bytes of the named columns' chunks in a parquet file."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    return sum(md.row_group(g).column(c).total_compressed_size
               for g in range(md.num_row_groups) for c in range(md.num_columns)
               if md.row_group(g).column(c).path_in_schema in columns)


def self_check(res, data):
    """Checks the trace against itself and against the inputs. Returns a
    list of (name, ok, detail)."""
    MiB = 1024.0 * 1024.0
    steps = res["per_step"]
    passes = sorted({s["pass"] for s in steps})
    keys = {s["key"] for s in steps}
    out = []

    def per(key, phase=None):
        return [s["counts"] for s in steps if s["key"] == key and (phase is None or s["phase"] == phase)]

    for key in ("q1_pricing_summary", "q3_top_revenue", "dedup_ngram_jaccard"):
        if key in keys:
            w = [c.get("shuffle.write_mb", 0.0) for c in per(key)]
            out.append((f"shuffle_bytes:{key}", sum(w) > 0, f"shuffle.write_mb per pass {sum(w) / len(passes):.3f}"))
            break
    for l in res["layers"]:
        p = int(l["pass"])
        by_phase = sum(s["counts"].get("scheduler.jobs", 0) for s in steps if s["pass"] == p)
        out.append((f"job_split:pass{p}", by_phase == l.get("trace.all_jobs", -1),
                    f"construct+execute jobs {by_phase:.0f}, all jobs seen {l.get('trace.all_jobs', -1):.0f}"))
    if "bearly_sum_lineitem" in keys:
        ex = per("bearly_sum_lineitem", "execute")
        st = [c.get("scheduler.stages", 0) for c in ex]
        xc = [c.get("planner.exchanges", 0) for c in ex]
        out.append(("stages_vs_exchanges:bearly_sum_lineitem", all(s == x + 1 for s, x in zip(st, xc)),
                    f"stages {st}, exchanges {xc}"))
        scan = statistics.median([c.get("scan.mb", 0.0) for c in ex])
        path = os.path.join(data, "lineitem.parquet")
        disk = os.path.getsize(path) / MiB
        cols = projected_size(path, {"l_orderkey", "l_partkey", "l_suppkey"}) / MiB
        ratio = scan / cols if cols else 0.0
        out.append(("scan_bytes:bearly_sum_lineitem", 0.5 <= ratio <= 2.0,
                    f"scan.mb {scan:.3f} vs lineitem on disk {disk:.3f} MiB; the query reads 3 of "
                    f"11 columns, whose chunks hold {cols:.3f} MiB (scan/projected = {ratio:.2f})"))
    return out


def env_stamp(res, digest):
    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except Exception:
        pass
    return {"nproc": res["cores"], "heap_max_mb": res["heap_max_mb"],
            "spark_version": res["spark_version"], "commit": commit,
            "source_sha256": digest[:16]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; known: {', '.join(workloads)}")
    wl = workloads[args.workload]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala: run from the root of a checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)

    out = build_dir()
    os.makedirs(out, exist_ok=True)
    classes, digest = build(out)
    data = inputs(wl["sf"])
    out_run = os.path.join(out, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out_run, ignore_errors=True)
    os.makedirs(out_run)
    res = run_jvm(classes, wl, args, data, out_run, time.time() + JVM_LIMIT_S)

    keys = wl["keys"]
    verdicts = check_batch(res, data, out_run, keys) if wl["kind"] == "batch" else check_stream(res)
    bad = {k: v for k, v in verdicts.items() if v}
    for k, v in bad.items():
        log(f"FAIL {k}: {v}")
    attempted = len(res["steps"])
    steps = [s["construct_s"] + s["execute_s"] for s in res["steps"] if s["error"] is None]
    failed = sum(1 for s in res["steps"] if s["error"] is not None or s["key"] in bad)
    if failed == 0 and bad:
        failed = len(bad)  # a check failed for a key that was never timed
    for s in res["steps"]:
        if s["error"]:
            log(f"step error {s['key']}: {s['error']}")

    checks = self_check(res, data) if args.trace == 1 else []
    for name, ok, detail in checks:
        log(f"self-check {'ok' if ok else 'DISCREPANCY'} {name}: {detail}")
    if args.trace == 1:
        metrics = per_layer(res, spec["per_layer"], sum(1 for _, ok, _ in checks if not ok))
    else:
        metrics = end_to_end(res)

    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "stamp": env_stamp(res, digest), "keys": keys, "attempted": attempted, "failed": failed,
        "failures": bad, "metrics": {k: v[0] for k, v in metrics.items()},
        "passes": res["passes"], "self_check": checks, "warmup_s": res["warmup_s"],
        "session_s": res["session_s"], "setup_reps_s": res["setup_reps_s"],
        "per_key": per_key(res), "run_wall_s": time.time() - T_START,
        # below 100 samples a 90th percentile has under ten samples beyond
        # it, so it is kept here for reference and not reported as a metric
        "step_p90_s": p90(steps), "steps_timed": len(steps),
    }
    with open(os.path.join(out_run, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    with open(os.path.join(out, "results.jsonl"), "a") as f:
        f.write(json.dumps(summary) + "\n")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    if failed:
        sys.exit(1)


def per_key(res):
    """Median construct and execute time per key (micro-batch latency per
    twin for the streaming workload)."""
    by = {}
    for s in res["steps"]:
        by.setdefault(s["key"], []).append(s)
    return {k: {"construct_s": statistics.median(x["construct_s"] for x in v),
                "execute_s": statistics.median(x["execute_s"] for x in v), "n": len(v)}
            for k, v in sorted(by.items())}


if __name__ == "__main__":
    main()
