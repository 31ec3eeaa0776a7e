"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), makes the fixed input
tables (perfbench/datagen.py), runs one closed-loop client in a fresh JVM
(perfbench/src/graft/perfbench/Harness.scala), checks every output, and
prints one JSON object as the last line of stdout: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The line before it stamps the
environment. A summary with per-query detail is kept under
<build>/results/ for perfbench/report.py. Workloads and metrics are
described in perfbench/NOTES.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402

CPUS = os.cpu_count() or 1
HEAP = "3g"
SF = 0.1
# Timed passes per run, at least; each per-call figure is a median over them.
MIN_PASSES = 3
RUN_TIMEOUT_S = 170

UNITS = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "ok_frac": "ratio",
         "heap_peak_mb": "MB", "exec.core_util": "ratio", "trace.overhead_frac": "ratio"}


def unit(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_max"):
        return "bytes"
    return "count"


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def pctl(values, q):
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def med(values):
    return statistics.median(values) if values else 0.0


def canon(rows, cols):
    """Rows as sorted tuples of reprs, columns in name order: exact match."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple("nan" if isinstance(r[i], float) and math.isnan(r[i]) else repr(r[i])
                 for i in idx) for r in rows]
    out.sort()
    return out


def oracle_check(fixture, work, names):
    """Compare each dumped Spark result with its DuckDB oracle SQL.
    Returns {name: (error or None, spark row count)}."""
    con = datagen.connect(work)
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    out = {}
    for n in names:
        try:
            got = con.sql(f"SELECT * FROM '{work}/results/{n}/*.parquet'")
            g_cols, g_rows = [c.lower() for c in got.columns], got.fetchall()
            exp = con.sql(sqls[n])
            e_cols, e_rows = [c.lower() for c in exp.columns], exp.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            out[n] = (f"oracle error: {str(e)[:200]}", 0)
            continue
        if sorted(g_cols) != sorted(e_cols):
            out[n] = (f"columns differ: {sorted(g_cols)} vs {sorted(e_cols)}", len(g_rows))
        elif canon(g_rows, g_cols) != canon(e_rows, e_cols):
            out[n] = (f"rows differ: spark={len(g_rows)} oracle={len(e_rows)}", len(g_rows))
        else:
            out[n] = (None, len(g_rows))
    con.close()
    return out


def git_stamp():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, capture_output=True, text=True, timeout=10)
        if sha.returncode == 0:
            return sha.stdout.strip(), bool(dirty.stdout.strip())
    except OSError:
        pass
    return "unknown", None


def run_harness(cp, workload, fixture, work, seed, seconds, trace, queries, timeout,
                min_passes=MIN_PASSES):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + build.ADD_OPENS
           + ["-cp", cp, "graft.perfbench.Harness",
              "--workload", workload, "--fixture", fixture, "--work", work,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--min-passes", str(min_passes),
              "--cpus", str(CPUS)]
           + (["--queries", ",".join(queries)] if queries else []))
    log = os.path.join(work, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        sys.exit(f"harness failed ({rc}); log tail:\n{tail}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def per_name(calls, key):
    """{name: median of key(call)} over the given calls."""
    by = {}
    for c in calls:
        by.setdefault(c["name"], []).append(key(c))
    return {n: med(v) for n, v in by.items()}


def end_to_end(res, checks, result_rows):
    calls = [c for c in res["calls"] if not c["traced"]]
    ok_calls = [c for c in calls if c["ok"]]
    # per-query medians, rounded once; wall_s is the sum of these values
    lat = {n: round(v, 3) for n, v in per_name(ok_calls, lambda c: c["latency_ms"]).items()}
    wall_s = sum(lat.values()) / 1000.0
    if res["workload"] == "stream_microbatch":
        rows = sum(per_name(ok_calls, lambda c: sum(b["rows"] for b in c["batches"])).values())
        # the i-th micro-batch of each pipeline, median over passes
        batch = list(per_name([{"name": (c["name"], i), "ms": b["trigger_ms"]}
                               for c in ok_calls for i, b in enumerate(c["batches"])],
                              lambda b: b["ms"]).values())
    else:
        rows = sum(result_rows.values())
        batch = list(per_name(ok_calls, lambda c: c["exec_ms"]).values())
    attempted = len(res["calls"]) + len(checks)
    failed = sum(1 for c in res["calls"] if not c["ok"]) + sum(1 for e in checks.values() if e)
    metrics = {
        "setup_s": res["setup_s"],
        "wall_s": wall_s,
        "query_p50_ms": pctl(list(lat.values()), 50) if lat else 0.0,
        "query_p90_ms": pctl(list(lat.values()), 90) if lat else 0.0,
        "rows_per_s": rows / wall_s if wall_s else 0.0,
        "batch_p50_ms": pctl(batch, 50) if batch else 0.0,
        "batch_p90_ms": pctl(batch, 90) if batch else 0.0,
        "ok_frac": (attempted - failed) / attempted,
        "heap_peak_mb": res["heap_peak_mb"],
    }
    return metrics, lat, attempted, failed


def per_layer(res):
    traced = [c for c in res["calls"] if c["traced"] and c["ok"]]
    plain = [c for c in res["calls"] if not c["traced"] and c["ok"]]

    def total(key):
        return sum(per_name(traced, key).values())

    reads = res.get("source_reads", [])
    m = {
        "sources.read_ms": sum(per_name(reads, lambda r: r["ms"]).values()),
        "sources.read_jobs": sum(per_name(reads, lambda r: r["jobs"]).values()),
        "queries.build_ms": total(lambda c: c["build_ms"]),
        "queries.build_jobs": total(lambda c: c["build"]["jobs"]),
        "queries.materialize_jobs": total(lambda c: c["build"]["materialize_jobs"]),
        "queries.build_task_cpu_ms": total(lambda c: c["build"]["task_cpu_ms"]),
        "plan.analysis_ms": total(lambda c: c["exec"]["analysis_ms"]),
        "plan.optimization_ms": total(lambda c: c["exec"]["optimization_ms"]),
        "plan.planning_ms": total(lambda c: c["exec"]["planning_ms"]),
        "plan.codegen_compiles": total(lambda c: c["codegen_compiles"]),
        "plan.codegen_ms": total(lambda c: c["codegen_ms"]),
        "exec.ms": total(lambda c: c["exec_ms"]),
    }
    for k in ("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms", "gc_ms",
              "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes"):
        m[f"exec.{k}"] = total(lambda c, k=k: c["exec"][k])
    m["exec.core_util"] = (m["exec.task_run_ms"] / (m["exec.ms"] * res["env"]["cpus"])
                           if m["exec.ms"] else 0.0)
    m["exec.storage_peak_bytes"] = max((c["storage_bytes"] for c in traced), default=0)
    batches = [b for c in traced for b in c.get("batches", [])]
    for k in ("addBatch_ms", "queryPlanning_ms", "walCommit_ms", "commitOffsets_ms",
              "latestOffset_ms"):
        m[f"streaming.{k}"] = med([b[k] for b in batches])
    m["streaming.overhead_ms"] = med([b["trigger_ms"] - b["addBatch_ms"] for b in batches])
    m["streaming.state_rows_max"] = max((b["state_rows"] for b in batches), default=0)
    m["streaming.state_bytes_max"] = max((b["state_bytes"] for b in batches), default=0)
    m["streaming.state_commit_ms"] = med([b["state_commit_ms"] for b in batches])
    m["streaming.upsert_ms"] = med(res.get("upsert_batch_ms", []))
    # whole calls, bus drains and counter reads included, against calls made
    # with no listener registered
    t = sum(per_name(traced, lambda c: c["call_ms"]).values())
    u = sum(per_name(plain, lambda c: c["call_ms"]).values())
    m["trace.overhead_frac"] = (t - u) / u if u else 0.0
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    workloads = load_workloads()
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    wl = workloads[a.workload]
    started = time.time()

    out = build.build_dir()
    cp = build.build(out)
    fixture = datagen.generate(os.path.join(out, "data", f"sf{SF}"), SF)
    data = fixture
    if a.workload == "stream_microbatch":
        data = datagen.landing(fixture, os.path.join(
            out, "data", f"landing-{wl['files']}x{wl['rows_per_file']}"),
            wl["files"], wl["rows_per_file"])
    work = os.path.join(out, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    queries = wl.get("queries")
    res = run_harness(cp, a.workload, data, work, a.seed, a.seconds, a.trace == 1, queries,
                      RUN_TIMEOUT_S - (time.time() - started))

    if queries:
        dumped = {d["name"]: d["error"] for d in res["dumps"]}
        oracle = oracle_check(fixture, work, [n for n in queries if dumped[n] is None])
        checks = {n: dumped[n] or oracle[n][0] for n in queries}
        result_rows = {n: oracle[n][1] for n in oracle}
    else:
        checks = {c["name"]: c["error"] for c in res["stream_checks"]}
        result_rows = {}
    e2e, lat, attempted, failed = end_to_end(res, checks, result_rows)
    metrics = per_layer(res) if a.trace else e2e
    sha, dirty = git_stamp()
    env = dict(res["env"], nproc=CPUS, fixture=fixture, sf=SF, seed=a.seed,
               workload=a.workload, git_sha=sha, git_dirty=dirty, trace=a.trace)
    failures = {n: e for n, e in checks.items() if e}
    failures.update({f'{c["name"]}@pass{c["pass"]}': c["error"] for c in res["calls"]
                     if not c["ok"]})
    summary = {"env": env, "metrics": metrics, "end_to_end": e2e, "queries_ms": lat,
               "failures": failures,
               "calls": res["calls"], "source_reads": res.get("source_reads", []),
               "totals": res.get("totals"), "strays": res.get("strays")}
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    with open(os.path.join(out, "results", os.path.basename(work) + ".json"), "w") as fh:
        json.dump(summary, fh)
    # keep the logs and raw records, drop the bulky outputs
    shutil.rmtree(os.path.join(work, "results"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "stream"), ignore_errors=True)
    for n, e in failures.items():
        print(f"FAILED {n}: {e}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
