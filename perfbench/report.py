"""Layer report over benchmark results (the summaries run.py keeps under
<build>/results/).

    python3 perfbench/report.py rank RESULT.json [--top N]
        ranks the queries (or pipelines) of one result by each layer

    python3 perfbench/report.py diff BASE NEW
        compares two results layer by layer, one row per workload; BASE and
        NEW are each a result file or a directory of them (the newest result
        per workload is used). Refuses results whose cpus or sf differ.
"""
import argparse
import glob
import json
import os
import statistics
import sys

# per-call layer values: (column, layer, how to read it from a call record)
LAYERS = [
    ("build_ms", "queries", lambda c: c["build_ms"]),
    ("exec_ms", "exec", lambda c: c["exec_ms"]),
    ("source_jobs", "sources", lambda c: c["build"]["source_jobs"]),
    ("materialize_jobs", "queries", lambda c: c["build"]["materialize_jobs"]),
    ("build_task_cpu_ms", "queries", lambda c: c["build"]["task_cpu_ms"]),
    ("plan_ms", "plan", lambda c: sum(c["exec"][k] for k in
                                      ("analysis_ms", "optimization_ms", "planning_ms"))),
    ("codegen_ms", "plan", lambda c: c["codegen_ms"]),
    ("exec_task_cpu_ms", "exec", lambda c: c["exec"]["task_cpu_ms"]),
    ("exec_gc_ms", "exec", lambda c: c["exec"]["gc_ms"]),
    ("shuffle_bytes", "exec", lambda c: c["exec"]["shuffle_write_bytes"]),
    ("spill_bytes", "exec", lambda c: c["exec"]["spill_bytes"]),
]


def load(path):
    with open(path) as fh:
        return json.load(fh)


def per_query(res):
    """{column: {query: median over its successful calls}}; traced columns
    only when the result has traced calls."""
    out = {}
    for col, _, get in LAYERS:
        by = {}
        for c in res["calls"]:
            if not c["ok"]:
                continue
            try:
                by.setdefault(c["name"], []).append(get(c))
            except KeyError:  # untraced call: no listener counters
                continue
        if by:
            out[col] = {n: statistics.median(v) for n, v in by.items()}
    return out


def rank(res, top):
    env = res["env"]
    print(f"# {env['workload']} seed={env['seed']} trace={env['trace']} "
          f"cpus={env['cpus']} sf={env['sf']} git={env['git_sha'][:12]}")
    layer_of = {col: layer for col, layer, _ in LAYERS}
    for col, vals in per_query(res).items():
        total = sum(vals.values())
        print(f"\n{layer_of[col]}.{col}  (sum {total:.1f})")
        for n, v in sorted(vals.items(), key=lambda kv: -kv[1])[:top]:
            share = v / total if total else 0.0
            print(f"  {n:36s} {v:14.1f}  {share:6.1%}")


def newest(path):
    """{workload: result} from a file or the newest file per workload in a dir."""
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.json")), key=os.path.getmtime)
    out = {}
    for f in files:
        r = load(f)
        out[r["env"]["workload"]] = r
    return out


# diff columns: one per layer, from the untraced calls or the traced metrics
TRACED_COLS = ["sources.read_ms", "queries.materialize_jobs", "plan.ms", "plan.codegen_ms",
               "exec.task_cpu_ms", "streaming.overhead_ms"]


def layer_values(res):
    plain = [c for c in res["calls"] if c["ok"] and not c["traced"]]

    def total(key):
        by = {}
        for c in plain:
            by.setdefault(c["name"], []).append(c[key])
        return sum(statistics.median(v) for v in by.values())

    out = {"wall_s": res["end_to_end"]["wall_s"], "queries.build_ms": total("build_ms"),
           "exec.ms": total("exec_ms")}
    if res["env"]["trace"]:
        m = dict(res["metrics"])
        m["plan.ms"] = sum(m[f"plan.{k}_ms"] for k in ("analysis", "optimization", "planning"))
        out.update({k: m[k] for k in TRACED_COLS})
    return out


def diff(base, new):
    b, n = newest(base), newest(new)
    both = sorted(set(b) & set(n))
    for w in both:
        for k in ("cpus", "sf"):
            if b[w]["env"][k] != n[w]["env"][k]:
                sys.exit(f"refusing to diff {w}: {k} differs "
                         f"({b[w]['env'][k]} vs {n[w]['env'][k]})")
    cols = ["wall_s", "queries.build_ms", "exec.ms"] + TRACED_COLS
    print("workload".ljust(18) + "".join(c.rjust(28) for c in cols))
    for w in both:
        lb, ln = layer_values(b[w]), layer_values(n[w])
        cells = []
        for c in cols:
            if c in lb and c in ln:
                d = f"{(ln[c] - lb[c]) / lb[c]:+.1%}" if lb[c] else "n/a"
                cells.append(f"{lb[c]:.4g} -> {ln[c]:.4g} ({d})".rjust(28))
            else:
                cells.append("-".rjust(28))
        print(w.ljust(18) + "".join(cells))
    for w in sorted(set(b) ^ set(n)):
        print(f"{w}: only in {'BASE' if w in b else 'NEW'}")


def main(argv=None):
    ap = argparse.ArgumentParser(description="layer report over benchmark results")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("rank")
    r.add_argument("result")
    r.add_argument("--top", type=int, default=10)
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("new")
    a = ap.parse_args(argv)
    if a.cmd == "rank":
        rank(load(a.result), a.top)
    else:
        diff(a.base, a.new)


if __name__ == "__main__":
    main()
