#!/usr/bin/env python3
"""Benchmark for the graft Spark library: full-consumption passes over
one workload's gates, in one JVM on local[<cores>], one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload uda_median --seed 1 --seconds 25 --trace 0

Steps:
  1. Build: sbt compiles the library and the harness in perfbench/ (only
     when a source changed since the last build) and writes the JVM
     launch line to perfbench/target/launch.json.
  2. Run: one JVM (perfbench.Main) sets up, runs timed passes for
     --seconds, times the in-run controls and writes its raw record under
     perfbench/.work/<workload>/.
  3. Check: each gate's result from the correctness pass is hash-compared
     against its DuckDB oracle SQL, with tools/oracle_check.py's
     canonicalisation (oracle results are cached by SQL hash).
  4. Report: summary lines, then one JSON line: with --trace 0 the
     end-to-end metrics, with --trace 1 the per-layer metrics.

Fixtures: $SPARK_GRAFT_SF_DIR, else the sf0.1 directory TESTDATA.md lists.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing tools/oracle_check.py leaves no cache

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.json")
STAMP = os.path.join(HERE, "target", "launch.stamp")
HEAP = "-Xmx3g"
RUN_LIMIT_S = 175          # the whole run, build excepted
BUILD_LIMIT_S = 850
MIN_UNTRACED_PASSES = 5    # must match Main.minPasses
TAIL_BEYOND = 10           # samples the tail percentile leaves above it


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fixture_dir():
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return env
    doc = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.isfile(doc):
        die("no SPARK_GRAFT_SF_DIR and no TESTDATA.md to find the sf0.1 fixtures")
    m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(doc).read(), re.M)
    if not m:
        die("TESTDATA.md lists no sf0.1 directory")
    return m.group(1).rstrip("/")


def source_files():
    """Every input of the build: the library's and the harness's."""
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    out = []
    for top in tops:
        if os.path.isfile(top):
            out.append(top)
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return out


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(src_hash):
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP) \
            and open(STAMP).read() == src_hash:
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"]
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.isfile(LAUNCH):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {r.returncode}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(src_hash)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run_jvm(args, work, sf_dir, cores, deadline):
    launch = json.load(open(LAUNCH))
    opts = [o for o in launch["java_options"] if not o.startswith("-Xmx")]
    props = {
        "java.io.tmpdir": fresh_dir(os.path.join(work, "tmp")),
        "graft.index.store": fresh_dir(os.path.join(work, "index")),
        "graft.catalog.store": fresh_dir(os.path.join(work, "catalog")),
        "spark.local.dir": fresh_dir(os.path.join(work, "spark-local")),
        "spark.sql.warehouse.dir": fresh_dir(os.path.join(work, "warehouse")),
        "derby.system.home": fresh_dir(os.path.join(work, "derby")),
    }
    fresh_dir(os.path.join(work, "correctness"))
    cmd = (["java"] + opts + [HEAP, "-XX:-UsePerfData"] + [f"-D{k}={v}" for k, v in props.items()]
           + ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--sf", sf_dir, "--work", work, "--cores", str(cores)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            die(f"JVM run exceeded the time limit; log in {log}")
    result = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.isfile(result):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"JVM run failed (exit {r.returncode}); log in {log}")
    return json.load(open(result))


# ---- correctness ---------------------------------------------------------

def load_oracle_tools():
    path = os.path.join(ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(sf_dir, out_dir, gates):
    """{gate: None if the result matches its oracle, else the reason}.
    Same compare as tools/oracle_check.py: columns sorted by name, rows
    sorted, values hashed as strings."""
    import glob
    import pandas as pd
    from pandas.util import hash_pandas_object
    oc = load_oracle_tools()
    cache = os.path.join(WORK, "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = None

    def digest(df):
        return {"columns": list(df.columns), "rows": len(df),
                "hashes": hash_pandas_object(df.astype(str), index=False).tolist()}

    verdicts = {}
    for g in gates:
        if g not in oracles:
            verdicts[g] = "no oracle SQL"
            continue
        key = hashlib.sha256(f"{sf_dir}\0{oracles[g]}".encode()).hexdigest()
        cached = os.path.join(cache, key + ".json")
        try:
            if os.path.isfile(cached):
                want = json.load(open(cached))
            else:
                if con is None:
                    import duckdb
                    con = duckdb.connect()
                    for t in oc.TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"'{oc.table_glob(sf_dir, t)}'")
                want = digest(oc.canon(con.execute(oracles[g]).df()))
                with open(cached, "w") as f:
                    json.dump(want, f)
            parts = glob.glob(os.path.join(out_dir, g, "*.parquet"))
            got = digest(oc.canon(pd.concat([pd.read_parquet(p) for p in parts])))
            verdicts[g] = None if got == want else (
                f"rows {got['rows']} vs {want['rows']}, "
                f"columns {got['columns']} vs {want['columns']}, hashes differ")
        except Exception as e:  # a missing or unreadable result is a failure
            verdicts[g] = f"{type(e).__name__}: {e}"
    return verdicts


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs)


def tail(samples, gates_per_pass):
    """The highest percentile with TAIL_BEYOND samples beyond it, for the
    sample count every run is guaranteed (MIN_UNTRACED_PASSES passes), so
    the same percentile is reported whatever the pass count."""
    n_min = MIN_UNTRACED_PASSES * gates_per_pass
    q = (n_min - TAIL_BEYOND) / n_min
    s = sorted(samples)
    return q, s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(res):
    passes = [p for p in res["passes"] if not p["traced"]]
    lat = [t for p in passes for _, t in p["latencies"]]
    q, tail_s = tail(lat, len(passes[0]["latencies"]))
    return {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (median([p["wallS"] for p in passes]), "s"),
        "cpu_s": (median([p["cpuS"] for p in passes]), "s"),
    }, {
        # printed, not bounded: per-gate latencies spread about twice as
        # much as pass_s from run to run, at this run length the tail
        # percentile is low, and the heap a pass leaves depends on which
        # gate ran last (block-store eviction)
        "query_p50_s": median(lat),
        "query_tail_s": tail_s, "tail_percentile": round(100 * q, 1),
        "retained_heap_mb": median([p["heapMb"] for p in passes]),
        "latency_samples": len(lat), "passes": len(passes),
        "store_mb": median([p["storeMb"] for p in passes]),
        "steal_s": median([p["stealS"] for p in passes]),
    }


def per_layer(res):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    ex = res["extras"]
    cores = res["state"]["cores"]

    def layer(k):
        return median([p["layers"].get(k, 0.0) for p in traced])

    m = {}
    for k, unit in [("queries.build_s", "s"), ("queries.build_jobs", "count"),
                    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
                    ("plans.planning_s", "s"), ("plans.exchanges", "count"),
                    ("plans.graft_rule_s", "s"),
                    ("exec.action_s", "s"), ("exec.jobs", "count"),
                    ("exec.tasks", "count"), ("exec.task_cpu_s", "s"),
                    ("exec.task_run_s", "s"), ("exec.gc_s", "s"),
                    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
                    ("exec.spill_mb", "MB"), ("sources.input_mb", "MB"),
                    ("sources.input_rows", "count"), ("sources.output_mb", "MB"),
                    ("sources.files_written", "count")]:
        m[k] = (layer(k), unit)
    runs = sum(p["layers"].get("plans.graft_rule_runs", 0) for p in traced)
    eff = sum(p["layers"].get("plans.graft_rule_eff_runs", 0) for p in traced)
    m["plans.graft_rule_hit_ratio"] = (eff / runs if runs else 0.0, "ratio")
    action = m["exec.action_s"][0]
    m["exec.core_util"] = (m["exec.task_run_s"][0] / (action * cores) if action else 0.0,
                           "ratio")
    m["sources.load_s"] = (ex["load_s"], "s")
    m["sources.store_mb"] = (median([p["storeMb"] for p in traced]), "MB")
    m["operators.index_build_s"] = (ex["index_build_s"], "s")
    m["operators.index_builds"] = (ex["index_builds"], "count")
    m["operators.index_rebuilds"] = (sum(p["indexRebuilds"] for p in res["passes"]),
                                     "count")
    for k, c in sorted(ex["core"].items()):
        m[f"core.insert_ns.{k}"] = (c["insertNs"], "ns")
        m[f"core.merge_us.{k}"] = (c["mergeUs"], "us")
        m[f"core.serialize_us.{k}"] = (c["serializeUs"], "us")
        m[f"core.state_bytes.{k}"] = (c["stateBytes"], "bytes")
        m[f"core.median_us.{k}"] = (c["medianUs"], "us")
    m["control_s"] = (sum(res["controls"].values()), "s")
    m["trace_overhead_frac"] = (median([p["wallS"] for p in traced])
                                / median([p["wallS"] for p in plain]) - 1, "ratio")
    co = ex["count_overlap"]
    m["count_over_full"] = (sum(r["count_s"] for r in co.values())
                            / sum(r["full_s"] for r in co.values()), "ratio")
    return m


def span_tree(work):
    """Per gate and span name: total and self seconds over the traced
    passes. Self time = duration minus the part its children cover."""
    spans = json.load(open(os.path.join(work, "trace.json")))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def self_ns(s):
        iv = sorted((c["startNs"], c["endNs"]) for c in kids.get(s["id"], []))
        covered, cur = 0, None
        for a, b in iv:
            a, b = max(a, s["startNs"]), min(b, s["endNs"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur = (cur[0], max(cur[1], b))
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = (a, b)
        if cur:
            covered += cur[1] - cur[0]
        return s["endNs"] - s["startNs"] - covered

    by_id = {s["id"]: s for s in spans}
    table = {}
    for s in spans:
        gate, p = None, s
        while p is not None:
            if p["name"] == "gate":
                gate = p["attrs"]["gate"]
                break
            p = by_id.get(p["parent"])
        names, p = [], s
        while p is not None and p["name"] != "gate":
            names.append(p["name"])
            p = by_id.get(p["parent"])
        path = "/".join(([gate] if gate else []) + names[::-1])
        row = table.setdefault(path, [0.0, 0.0, 0])
        row[0] += (s["endNs"] - s["startNs"]) / 1e9
        row[1] += self_ns(s) / 1e9
        row[2] += 1
    return {k: {"total_s": round(v[0], 4), "self_s": round(v[1], 4), "spans": v[2]}
            for k, v in sorted(table.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no library sources next to {HERE}; run from a full checkout")
    sf_dir = fixture_dir()
    if not os.path.isdir(sf_dir):
        die(f"fixture directory {sf_dir} not found")
    os.makedirs(WORK, exist_ok=True)
    src_hash = source_hash()
    build(src_hash)

    start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, args.workload)
    os.makedirs(work, exist_ok=True)
    res = run_jvm(args, work, sf_dir, cores, start + RUN_LIMIT_S)
    gates = res["state"]["gates"]
    verdicts = oracle_check(sf_dir, os.path.join(work, "correctness"), gates)

    errors = res["errors"] + [f"{g} [oracle]: {v}" for g, v in verdicts.items() if v]
    attempted, failed = res["attempted"], min(len(errors), res["attempted"])
    state = dict(res["state"], seed=args.seed, source_hash=src_hash,
                 oracle_ok=sum(v is None for v in verdicts.values()),
                 oracle_gates=len(verdicts))
    print("state " + json.dumps(state, sort_keys=True))
    for e in errors:
        print("FAILED " + e)

    if args.trace:
        metrics = per_layer(res)
        tree = span_tree(work)
        with open(os.path.join(work, "spans_self.json"), "w") as f:
            json.dump(tree, f, indent=1)
        print("spans (path: total_s / self_s (count); gates from traced passes only)")
        for path, v in tree.items():
            print(f"  {path}: {v['total_s']:.4f} / {v['self_s']:.4f} ({v['spans']})")
        print("count_over_full " + json.dumps(
            {g: {"count_over_full": round(r["count_over_full"], 3),
                 "pruned": r["pruned"]}
             for g, r in res["extras"]["count_overlap"].items()}, sort_keys=True))
        print("plan_check_missing " + json.dumps(res["extras"]["plan_check_missing"]))
    else:
        metrics, info = end_to_end(res)
        info.update(failed_frac=failed / attempted,
                    control_s=sum(res["controls"].values()))
        print("end_to_end " + " ".join(f"{k}={v:.4f}{u}" for k, (v, u) in metrics.items())
              + " " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    # every child process has ended; skip interpreter teardown, where the
    # parquet reader's native thread pool can abort the exit
    os._exit(0)


if __name__ == "__main__":
    main()
