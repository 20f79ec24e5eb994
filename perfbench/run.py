#!/usr/bin/env python3
"""Repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
engine and the harness with sbt (offline) and generates the inputs under
perfbench/.work/; later runs reuse both while the sources are unchanged.

One JVM runs the workload: Spark session `local[4]`, 4 shuffle
partitions, a 2 GiB heap. It touches the inputs and runs untimed warm
passes (set-up), then runs passes until --seconds have elapsed, one
operation at a time. With --trace 1, untraced and traced passes
alternate; the traced ones record spans and Spark's job, stage, task and
planning events, which become the per-layer metrics.

Query workloads are checked with graft.Verify and scripts/check.py (the
DuckDB oracle); metadata_push is checked in the harness against the
counts the catalog generator derives. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The full record of
the run (environment, passes, spans, jobs, stages) is written to
perfbench/.work/results/.

graft.Bench and bench_out.json stay the all-query sweep; they are not
this benchmark.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

CORES = 4
HEAP = "2g"
DATA_SEED = 42
RUN_LIMIT_S = 170
MAX_MESSAGE_BYTES = 250 * 1024

RELATIONAL = ["q01_scan", "q02_filter", "q03_left_join", "q04_join_chain",
              "q05_sort_limit", "q06_group_concat", "q07_agg", "q08_distinct",
              "q09_rollup", "q10_rank", "q11_moving_sum", "q12_topk_group",
              "q13_intersect", "q14_anti_join", "q23_corr_subquery",
              "q24_union_agg", "x_headline_revenue"]
SQL_PATH = ["x_sql_exists", "x_sql_cte", "x_sql_grouping_sets", "x_sql_lateral"]

# Why each workload, and which were left out: perfbench/README.md.
# `warm` untimed passes in the timed session precede the timed passes;
# for the queries, graft.Verify's pass in its own session comes first.
WORKLOADS = {
    "metadata_push": {"catalog_tables": 1000, "warm": 3},
    "short_queries": {"names": RELATIONAL + SQL_PATH, "scale": 0.001, "warm": 0},
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- build

def source_files():
    roots = [(ROOT, ["build.sbt"], ["project", "src/main"]),
             (HERE, ["build.sbt"], ["project", "src"])]
    for base, files, dirs in roots:
        for f in files:
            yield os.path.join(base, f)
        for d in dirs:
            for dirpath, dirnames, names in os.walk(os.path.join(base, d)):
                dirnames[:] = sorted(n for n in dirnames
                                     if n not in ("target", "project"))
                for n in sorted(names):
                    if n.endswith((".scala", ".sbt", ".properties", ".java")) \
                            or "resources" in dirpath:
                        yield os.path.join(dirpath, n)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compile engine + harness once per source tree; return the classpath."""
    cached = os.path.join(WORK, "build", f"{src_hash}.classpath")
    if os.path.exists(cached):
        with open(cached) as f:
            classpath = f.read().strip()
        if all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=800)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in out.stdout:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(cached), exist_ok=True)
    with open(cached, "w") as f:
        f.write(classpath)
    return classpath


# --------------------------------------------------------------- inputs

def cached_dir(name, make):
    """Create WORK/data/<name> with make(tmpdir) once; return its path."""
    final = os.path.join(WORK, "data", name)
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, final)
    return final


def query_tables(scale):
    import datagen
    return cached_dir(f"tables_sf{scale}_seed{DATA_SEED}",
                      lambda d: datagen.tables(d, scale, DATA_SEED))


def catalog(n_tables, seed):
    import datagen

    def make(d):
        counts = datagen.catalog(os.path.join(d, "csv"), n_tables, seed)
        with open(os.path.join(d, "counts.json"), "w") as f:
            json.dump(counts, f)
    d = cached_dir(f"catalog_{n_tables}_seed{seed}", make)
    with open(os.path.join(d, "counts.json")) as f:
        counts = json.load(f)
    return os.path.join(d, "csv"), counts


# ------------------------------------------------------------------ run

def run_harness(classpath, args, deadline):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", *JVM_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    proc = subprocess.run(cmd, cwd=WORK, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=max(10, deadline - time.time()))
    if proc.returncode != 0:
        raise SystemExit(f"harness exited with {proc.returncode}")
    with open(args["out"]) as f:
        return json.load(f)


def oracle_check(verify_dir, data_dir, deadline):
    """scripts/check.py over graft.Verify's output: name -> PASS/FAIL."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"), verify_dir, data_dir],
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=max(10, deadline - time.time()))
    verdict = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\w+)", line)
        if m:
            verdict[m.group(2)] = m.group(1)
            if m.group(1) == "FAIL":
                log(line)
    return verdict


# -------------------------------------------------------------- metrics

median = statistics.median


def rank(xs, p):
    """Nearest-rank percentile."""
    return sorted(xs)[max(1, math.ceil(p * len(xs))) - 1]


def tail(xs):
    """Highest percentile with at least 10 samples beyond it; with fewer
    than 20 samples, the median."""
    p = max(0.5, 1 - 10 / len(xs))
    return rank(xs, p), p


def secs(a, b):
    return (b - a) / 1e9


def end_to_end(art, passes):
    lat = [secs(o["start"], o["end"]) for p in passes for o in p["ops"]]
    op_tail, pct = tail(lat)
    return {
        "setup_s": (art["setup_ns"] / 1e9, "s"),
        "wall_s": (median([secs(p["start"], p["end"]) for p in passes]), "s"),
        "op_p50_s": (rank(lat, 0.5), "s"),
        "op_tail_s": (op_tail, "s"),
        "cpu_s": (median([p["cpu_ns"] / 1e9 for p in passes]), "s"),
        "live_heap_mb": (min(p["heap_bytes"] for p in passes) / 2**20, "MB"),
    }, {"op_samples": len(lat), "op_tail_pct": round(100 * pct, 1)}


def union_ns(intervals, lo, hi):
    total, cur = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def call_site_file(job):
    """"count at Hits.scala:40" -> "Hits.scala"."""
    m = re.search(r" at (\w+\.scala):", job["name"])
    return m and m.group(1)


def layers(p, spans, cores, operator_files, catalog_rows):
    """Per-layer figures of one traced pass."""
    wall = secs(p["start"], p["end"])
    mine = {s["id"]: s for s in spans if s["start"] >= p["start"] and s["end"] <= p["end"]}
    jobs, stages, plans = p["jobs"], p["stages"], p["plans"]

    def span_s(name):
        return sum(secs(s["start"], s["end"]) for s in mine.values() if s["name"] == name)

    def job_s(js):
        return sum(secs(j["start"], j["end"]) for j in js)

    construct = [j for j in jobs if mine.get(j["span"], {}).get("name") == "construct"]
    eager = [j for j in construct if call_site_file(j) in operator_files]
    schema = [j for j in jobs if j["name"].startswith("parquet at Tables.scala")]
    busy = union_ns([(j["start"], j["end"]) for j in jobs], p["start"], p["end"]) / 1e9
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    skews = [s["task_max_ms"] / max(1, s["task_median_ms"]) for s in stages
             if s["tasks"] >= 2 and s["run_ms"] >= 100]
    facts = p["facts"]
    messages = facts.get("messages", 0)
    m = {
        "core.schema_jobs": (len(schema), "count"),
        "core.schema_s": (job_s(schema), "s"),
        "queries.construct_s": (span_s("construct"), "s"),
        "queries.construct_jobs": (len(construct), "count"),
        "operators.eager_jobs": (len(eager), "count"),
        "operators.eager_s": (job_s(eager), "s"),
        "plan.optimize_s": (sum(x["optimization_ms"] for x in plans) / 1e3, "s"),
        "plan.planning_s": (sum(x["planning_ms"] for x in plans) / 1e3, "s"),
        "exec.jobs": (len(jobs), "count"),
        "exec.tasks": (sum(s["tasks"] for s in stages), "count"),
        "exec.job_busy_s": (busy, "s"),
        "exec.driver_gap_s": (wall - busy, "s"),
        "exec.core_util": (run_s / (wall * cores), "ratio"),
        "exec.run_s": (run_s, "s"),
        "exec.cpu_s": (sum(s["cpu_ns"] for s in stages) / 1e9, "s"),
        "exec.gc_s": (sum(s["gc_ms"] for s in stages) / 1e3, "s"),
        "exec.shuffle_bytes": (sum(s["shuffle_bytes"] for s in stages), "bytes"),
        "exec.spill_bytes": (sum(s["spill_bytes"] for s in stages), "bytes"),
        "exec.task_skew": (max(skews, default=1.0), "ratio"),
        "sources.extract_s": (span_s("extract"), "s"),
        "sources.stage_s": (span_s("stage"), "s"),
        "sources.stage_bytes": (facts.get("stage_bytes", 0), "bytes"),
        "sources.publish_s": (span_s("publish"), "s"),
        "sources.messages": (messages, "count"),
        "sources.fill_ratio": (facts["message_bytes"] / (messages * MAX_MESSAGE_BYTES)
                               if messages else 0.0, "ratio"),
        "sources.msgs_per_krow": (1000 * messages / catalog_rows if catalog_rows else 0.0,
                                  "count/krow"),
        "model.nodes": (facts.get("staged_nodes", 0), "count"),
        "model.relations": (facts.get("staged_relations", 0), "count"),
    }
    by_file = {}
    for j in eager:
        n, s = by_file.get(call_site_file(j), (0, 0.0))
        by_file[call_site_file(j)] = (n + 1, s + secs(j["start"], j["end"]))
    # reconciliation: an operation's layer spans cover its wall time, and
    # job-busy plus gap time is the pass wall, with a non-negative gap
    # (within 5 ms + 1% of the operation: the harness's own bookkeeping)
    residual, reconciled = 0.0, wall - busy >= -1e-3
    for s in mine.values():
        if s["parent"] in mine and mine[s["parent"]]["name"] == "pass":
            op = secs(s["start"], s["end"])
            gap = abs(op - sum(secs(k["start"], k["end"])
                               for k in mine.values() if k["parent"] == s["id"]))
            residual = max(residual, gap)
            reconciled &= gap <= 0.005 + 0.01 * op
    return m, {"eager_by_file": by_file, "op_residual_s": residual, "reconciled": reconciled}


def per_layer(art, operator_files, catalog_rows):
    traced = [p for p in art["passes"] if p["kind"] == "traced"]
    # the untraced pass before the first traced one still warms up (the
    # query workload's first timed pass is ~20% slower); compare with the
    # untraced passes that follow it
    untraced = [p for p in art["passes"]
                if p["kind"] == "timed" and p["start"] > traced[0]["start"]]
    per_pass = [layers(p, art["spans"], art["cores"], operator_files, catalog_rows)
                for p in traced]
    metrics = {k: (median([pp[0][k][0] for pp in per_pass]), u)
               for k, (_, u) in per_pass[0][0].items()}
    wall_traced = median([secs(p["start"], p["end"]) for p in traced])
    wall_plain = median([secs(p["start"], p["end"]) for p in untraced])
    metrics["sources.rows_per_s"] = (catalog_rows / wall_plain if catalog_rows else 0.0, "1/s")
    metrics["trace.wall_s"] = (wall_traced, "s")
    metrics["trace.untraced_wall_s"] = (wall_plain, "s")
    metrics["trace.overhead_s"] = (wall_traced - wall_plain, "s")
    residual = max(pp[1]["op_residual_s"] for pp in per_pass)
    metrics["trace.op_residual_s"] = (residual, "s")
    detail = {"eager_by_file": [pp[1]["eager_by_file"] for pp in per_pass],
              "reconciled": all(pp[1]["reconciled"] for pp in per_pass)}
    return metrics, detail


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run unwinds through subprocess.run, which kills its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("perfbench: no engine sources (build.sbt, src/main) next to perfbench/")

    load_before, steal_before = loadavg(), steal_s()
    src_hash = source_hash()
    classpath = build(src_hash)
    deadline = time.time() + RUN_LIMIT_S
    w = WORKLOADS[a.workload]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cores": CORES, "warm": w["warm"],
            "out": os.path.join(WORK, "results", f"{tag}.harness.json")}
    catalog_rows = 0
    if a.workload == "metadata_push":
        csv_dir, counts = catalog(w["catalog_tables"], a.seed)
        catalog_rows = counts["rows"]
        args.update(catalog=csv_dir, stage=os.path.join(WORK, "stage"),
                    nodes=counts["nodes"], relations=counts["relations"])
    else:
        data = query_tables(w["scale"])
        verify_dir = os.path.join(WORK, f"verify_{a.workload}")
        shutil.rmtree(verify_dir, ignore_errors=True)
        args.update(data=data, names=",".join(w["names"]), verify=verify_dir)

    art = run_harness(classpath, args, deadline)

    # correctness: an operation fails if it threw, if its query failed the
    # oracle compare, or if its pass failed the metadata checks
    verdict = oracle_check(verify_dir, data, deadline) if "verify" in args else {}
    ops = [(o, p) for p in art["passes"] for o in p["ops"]]
    failed = [o for o, p in ops if o["error"] or p["check_failures"]
              or ("verify" in args and verdict.get(o["name"]) != "PASS")]
    for o, p in ops:
        if o["error"] or p["check_failures"]:
            log(f"{o['name']} failed: {o['error'] or p['check_failures']}")
    timed = [p for p in art["passes"] if p["kind"] == "timed"]
    e2e, e2e_detail = end_to_end(art, timed)
    operator_files = sorted(f for f in os.listdir(
        os.path.join(ROOT, "src", "main", "scala", "graft", "operators")) if f.endswith(".scala"))
    layer, layer_detail = (per_layer(art, set(operator_files), catalog_rows)
                           if a.trace else ({}, {}))

    env = {"source_hash": src_hash, "seed": a.seed, "seconds": a.seconds,
           "trace": a.trace, "cores": CORES, "nproc": os.cpu_count(), "heap": HEAP,
           "data_seed": DATA_SEED, "workload": dict(w),
           "spark_conf": art["spark_conf"], "loadavg_before": load_before,
           "loadavg_after": loadavg(), "cpu_steal_s": steal_s() - steal_before}
    env["commit"] = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        env["commit"] = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                       capture_output=True).stdout.strip() or None
    result = {"env": env, "end_to_end": e2e, "end_to_end_detail": e2e_detail,
              "per_layer": layer, "per_layer_detail": layer_detail,
              "oracle": verdict, "attempted": len(ops), "failed": len(failed),
              "harness_artifact": args["out"]}
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)

    shown = layer if a.trace else e2e
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  local[{CORES}]  heap {HEAP}"
          f"  loadavg {' '.join(load_before)} -> {' '.join(env['loadavg_after'])}"
          f"  cpu steal {env['cpu_steal_s']:.2f} s")
    for k, (v, u) in (e2e | layer).items():
        print(f"  {k:<24} {v:>16.6f} {u}")
    print(f"  {'op_tail percentile':<24} {e2e_detail['op_tail_pct']:>16} "
          f"(of {e2e_detail['op_samples']} timed operations)")
    if catalog_rows:
        plain = [p for p in timed if p["facts"]]
        msgs = median([p["facts"]["messages"] for p in plain])
        print(f"  {'rows_per_s':<24} {catalog_rows / e2e['wall_s'][0]:>16.1f} 1/s")
        print(f"  {'msgs_per_krow':<24} {1000 * msgs / catalog_rows:>16.4f} count/krow")
    if a.trace:
        print(f"  traced run reconciled: {layer_detail['reconciled']}")
    if verdict:
        passed = sum(v == "PASS" for v in verdict.values())
        print(f"  oracle check: {passed}/{len(w['names'])} PASS")
    print(f"  error_rate {len(failed) / len(ops):.4f} ({len(failed)}/{len(ops)} operations)")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))


if __name__ == "__main__":
    main()
