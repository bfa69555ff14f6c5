#!/usr/bin/env python3
"""graft's benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the library and the
benchmark program (perfbench/build.sbt) when their sources changed,
generates the workload's inputs from the seed, runs the workload in one
JVM on local[N] (N = min(4, cores)), checks every result, and prints one
JSON object as the last line of standard output: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. It exits non-zero
on any wrong result. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import lake_model  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

HEAP, YOUNG = "2g", "512m"   # fixed heap and young generation: steadier peak RSS
GEN_REPEATS = 3
WARMUP_PASSES = 2  # query warm-up passes; one leaves the JIT visibly unsettled
# Timed rounds a run makes at least; --seconds can only add rounds. The
# tail percentile is chosen from this guaranteed sample count, so it does
# not change with the program's speed (see tail_of).
MIN_ROUNDS = {"interactive": 2, "llm_pipeline": 7, "lake_write": 2}

# Registry queries per workload. None writes fixtures under absolute
# paths (the ingestion, Avro, lake and drift-spec families).
# Each list holds an odd number of queries: every round samples each
# query once, so the median action is the middle query's, not a point
# in the gap between two queries of different cost.
QUERIES = {
    # light pandas-parity queries: selection, joins, aggregation,
    # reshaping, ordering, missing data, strings and dates, binning, windows
    "interactive": [
        "q_filter", "q_join", "q_merge_ind", "q_agg", "q_value_counts", "q_pivot",
        "q_nlargest", "q_dropna", "q_fillna", "q_strops", "q_datetime", "q_cut",
        "q_ranklag"],
    # dedup, connected components, text signals and one composed pipeline.
    # Their medians are far apart (about 0.2, 0.2, 0.55, 1.0 and 2.0 s
    # on a 4-vCPU host), so the median action and the p70 tail each fall
    # inside one query's samples, not where two queries' ranges overlap.
    "llm_pipeline": [
        "q_decontaminate", "q_quality", "q_cluster_dedup", "q_textstats",
        "q_pipeline_web"],
}

FAMILIES = {"deduplication": "dedup", "similarity": "similarity",
            "text analysis": "text", "pipeline": "pipeline"}

END_TO_END = {"setup_s": "s", "action_p50_s": "s", "action_tail_s": "s",
              "actions_per_s": "1/s", "peak_rss_mb": "MB"}

PER_LAYER = [
    "api.compose_s", "api.compose_share", "api.compose_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.exchanges",
    "plans.wscg_share",
    "sources.bytes_read_mb", "sources.rows_read", "sources.rows_read_per_row_out",
    "lake.append_s", "lake.merge_s", "lake.update_s", "lake.delete_s", "lake.compact_s",
    "lake.read_s", "lake.bytes_written_mb", "lake.write_amp", "lake.files_live",
    "lake.files_pruned_share", "lake.write_p50_s",
    "lake.stored_bytes_per_live_byte",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.cpu_util", "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.fetch_wait_s",
    "exec.spill_mb", "exec.task_skew", "exec.failed_tasks", "exec.evicted_blocks",
    "ops.dedup.exec_s", "ops.similarity.exec_s", "ops.text.exec_s", "ops.pipeline.exec_s",
    "self.api_s", "self.plans_s", "self.exec_s", "self.lake_s", "self.other_s",
    "trace.overhead_share"]


def unit_of(name):
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share", "_util", "_amp", "_skew", "_per_row_out", "_per_live_byte")):
        return "ratio"
    return "count"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def sources():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    return paths


def build():
    """Compile with sbt (offline) when any source changed; returns the
    launch file: classpath, then the library's JVM flags."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {ROOT}: run from a repository checkout")
        sys.exit(2)
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = launch + ".stamp"
    if os.path.exists(launch) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return launch
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("building the library and the benchmark (sbt writeLaunch)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0 or not os.path.exists(launch):
        log(r.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


# ----------------------------------------------------------------- plan

def make_inputs(workload, seed, work):
    """Generate the inputs GEN_REPEATS times; the copies must agree byte
    for byte. Returns (input dir, files, median seconds, digest)."""
    times, digests = [], []
    for k in range(GEN_REPEATS):
        d = os.path.join(work, f"inputs{k}")
        t0 = time.perf_counter()
        files = gen.generate(workload, seed, d)
        times.append(time.perf_counter() - t0)
        digests.append(gen.digest(d, files))
        if k:
            shutil.rmtree(d)
    if len(set(digests)) != 1:
        log(f"input generation is not deterministic for seed {seed}: {digests}")
        sys.exit(1)
    return os.path.join(work, "inputs0"), files, stats.median(times), digests[0]


def query_plan(workload, seed, trace, inputs):
    """Warm-up actions and timed rounds. Every round runs each query once
    in a seeded order. llm_pipeline gives every action its own slice."""
    qs = sorted(QUERIES[workload])
    rng = np.random.default_rng([seed, 7])
    slices = iter(range(gen.SIZES["llm_pipeline"]["slices"]))

    def entry(q, traced):
        if workload == "llm_pipeline":
            k = next(slices)
            return [q, os.path.join(inputs, f"slice{k:03d}"), f"{q}__s{k:03d}", traced]
        return [q, os.path.join(inputs, "star"), q, traced]

    warmup = [entry(qs[i], False) for _ in range(WARMUP_PASSES) for i in rng.permutation(len(qs))]
    n_rounds = gen.SIZES["llm_pipeline"]["slices"] // len(qs) - WARMUP_PASSES \
        if workload == "llm_pipeline" else 100
    rounds = [[entry(qs[i], bool(trace)) for i in rng.permutation(len(qs))]
              for _ in range(n_rounds)]
    return {"queries": qs, "warmup": warmup, "rounds": rounds}


# ------------------------------------------------------------- evaluate

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def actions_per_s(timed):
    """Closed-loop throughput: timed actions over the time they take when
    each runs at its kind's median wall (a kind is a query or a lake op).
    Medians over the whole run keep a slow spell of the host from moving
    it; the benchmark's own bookkeeping between actions is not counted."""
    med = per_query_medians(timed)
    return len(timed) / sum(med[a["q"]] for a in timed)


def tail_of(walls, workload):
    """(percentile, value): the tail rule applied to the sample count
    every run is guaranteed, MIN_ROUNDS whole rounds."""
    per_round = lake_model.ROUND if workload == "lake_write" else len(QUERIES[workload])
    return stats.tail(walls, MIN_ROUNDS[workload] * per_round)


def per_query_medians(timed):
    by = {}
    for a in timed:
        by.setdefault(a["q"], []).append(a["wall_ns"] / 1e9)
    return {q: stats.median(v) for q, v in by.items()}


def overhead(timed, baseline):
    """Tracing overhead: the median over queries (lake ops by kind) of
    this traced run's median wall over the last untraced run's, minus 1."""
    mine = per_query_medians(timed)
    ratios = [mine[q] / baseline[q] for q in mine if baseline.get(q)]
    return stats.median(ratios) - 1 if ratios else 0.0


def layer_metrics(workload, tr, spans, rows_out, cores, baseline):
    """Per-layer metrics from the timed actions of a traced run."""
    by_action = {}
    for s in spans:
        by_action.setdefault(s["a"], []).append((s["name"], s["s"], s["e"]))
    selfs = {}
    for a in tr:
        sp = by_action.get(a["id"], [])
        root = next((x for x in sp if x[0] == "action"), None)
        st = stats.self_times((root[1], root[2]), sp) if root else {}
        if sum(st.values()) > a["wall_ns"] + 1_000_000:
            raise AssertionError(f"self times exceed wall in {a['id']}")
        selfs[a["id"]] = st
    n = max(1, len(tr))
    wall = sum(a["wall_ns"] for a in tr) / 1e9
    tot = {k: sum(a.get(k, 0) for a in tr) for k in (
        "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "fetch_wait_ms",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "scan_bytes",
        "records_read", "exchanges", "wscg_ops", "plan_ops", "analysis_ms",
        "optimization_ms", "planning_ms", "compose_jobs", "failed_tasks", "evicted_blocks")}
    is_lake = workload == "lake_write"
    compose = [0.0 if is_lake else a["compose_ns"] / 1e9 for a in tr]
    out_rows = sum(rows_out.get(a.get("pair"), 0) for a in tr)
    m = {
        "api.compose_s": stats.median(compose) if compose else 0.0,
        "api.compose_share": sum(compose) / wall if wall else 0.0,
        "api.compose_jobs": 0.0 if is_lake else tot["compose_jobs"] / n,
        "plans.analysis_s": tot["analysis_ms"] / 1e3 / n,
        "plans.optimization_s": tot["optimization_ms"] / 1e3 / n,
        "plans.planning_s": tot["planning_ms"] / 1e3 / n,
        "plans.exchanges": tot["exchanges"] / n,
        "plans.wscg_share": tot["wscg_ops"] / tot["plan_ops"] if tot["plan_ops"] else 0.0,
        "sources.bytes_read_mb": tot["scan_bytes"] / 2**20 / n,
        "sources.rows_read": tot["records_read"] / n,
        "sources.rows_read_per_row_out": tot["records_read"] / out_rows if out_rows else 0.0,
        "exec.jobs": tot["jobs"] / n,
        "exec.stages": tot["stages"] / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.run_s": tot["run_ms"] / 1e3 / n,
        "exec.cpu_s": tot["cpu_ns"] / 1e9 / n,
        "exec.gc_s": tot["gc_ms"] / 1e3 / n,
        "exec.cpu_util": tot["cpu_ns"] / 1e9 / (wall * cores) if wall else 0.0,
        "exec.shuffle_write_mb": tot["shuffle_write_bytes"] / 2**20 / n,
        "exec.shuffle_read_mb": tot["shuffle_read_bytes"] / 2**20 / n,
        "exec.fetch_wait_s": tot["fetch_wait_ms"] / 1e3 / n,
        "exec.spill_mb": tot["spill_bytes"] / 2**20 / n,
        "exec.task_skew": stats.median([a["task_skew"] for a in tr]) if tr else 0.0,
        "exec.failed_tasks": tot["failed_tasks"],
        "exec.evicted_blocks": tot["evicted_blocks"],
    }
    for fam, short in sorted(FAMILIES.items(), key=lambda x: x[1]):
        xs = [selfs[a["id"]].get("exec", 0) / 1e9 for a in tr
              if a.get("family", "").startswith(fam)]
        m[f"ops.{short}.exec_s"] = mean(xs)
    for layer in ("api", "plans", "exec", "lake", "other"):
        m[f"self.{layer}_s"] = mean(selfs[a["id"]].get(layer, 0) / 1e9 for a in tr)
    m["trace.overhead_share"] = overhead(tr, baseline)
    return m


def lake_metrics(timed, ops_log, round_ends):
    """lake.* metrics; zeros outside lake_write."""
    def p50(kinds):
        xs = [a["wall_ns"] / 1e9 for a in timed if a["q"][5:] in kinds]
        return stats.median(xs) if xs else 0.0
    kinds = {"append": ("append",), "merge": ("merge",), "update": ("update",),
             "delete": ("delete",), "compact": ("compact",), "read": lake_model.READS}
    m = {f"lake.{k}_s": p50(v) for k, v in kinds.items()}
    writes = [a for a in timed if a["q"][5:] in lake_model.WRITES + ("compact",)]
    written = sum(a.get("bytes_written", 0) for a in writes)
    m["lake.bytes_written_mb"] = written / 2**20 / len(writes) if writes else 0.0
    changed = sum(a.get("rows_changed", 0) for a in writes)
    live = [r["live_bytes"] / r["live_rows"] for r in round_ends if r.get("live_rows")]
    m["lake.write_amp"] = written / (changed * stats.median(live)) if live and changed else 0.0
    m["lake.files_live"] = stats.median([r["live_files"] for r in round_ends]) if round_ends else 0
    m["lake.files_pruned_share"] = mean(1 - r["files_kept"] / r["files_total"] for r in ops_log
                                        if r.get("files_total") and r["timed"])
    m["lake.write_p50_s"] = p50(lake_model.WRITES)
    m["lake.stored_bytes_per_live_byte"] = stats.median(
        [r["stored_bytes"] / r["live_bytes"] for r in round_ends]) if round_ends else 0.0
    return m


def result_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": unit_of(k)}
                                   for k, v in metrics.items()}})


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    launch = build()

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs, files, gen_s, digest = make_inputs(args.workload, args.seed, work)
    cores = min(4, os.cpu_count() or 1)
    plan = {"workload": args.workload, "seconds": args.seconds, "cores": cores,
            "out": os.path.join(work, "out"), "trace": bool(args.trace),
            "min_rounds": MIN_ROUNDS[args.workload], "warmup_threads": max(1, cores - 1)}
    if args.workload == "lake_write":
        plan["lake"] = {"dir": os.path.join(work, "table"),
                        "base": os.path.join(inputs, "lake", "base.parquet"),
                        "ops": os.path.join(inputs, "lake", "ops.jsonl"),
                        "round": lake_model.ROUND, "warmup": len(lake_model.WARMUP)}
    else:
        plan.update(query_plan(args.workload, args.seed, args.trace, inputs))
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    with open(launch) as f:
        cp, *flags = f.read().split("\n")
    cmd = (["java"] + [x for x in flags if x] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "graftbench.Main", plan_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    t_launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=args.seconds + 140)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    summary_path = os.path.join(work, "out", "summary.json")
    if rc != 0 or not os.path.exists(summary_path):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        log(f"benchmark program failed ({rc})")
        sys.exit(1)
    summary = json.load(open(summary_path))
    records = read_jsonl(os.path.join(work, "out", "actions.jsonl"))
    spans = read_jsonl(os.path.join(work, "out", "spans.jsonl"))
    actions = [r for r in records if "id" in r]
    run_actions = [a for a in actions if a["phase"] in ("warmup", "timed")]
    timed = [a for a in actions if a["phase"] == "timed"]
    results = os.path.join(work, "out", "results")

    # ---- correctness
    wrong = [f"{a['q']}: {a['error']}" for a in run_actions if not a["ok"]]
    failed_ids = {a["id"] for a in run_actions if not a["ok"]}
    rows_out, ops_log, round_ends = {}, [], []
    if args.workload == "lake_write":
        ops_log = [r for r in records if "lake_op" in r]
        by_op = {a["i"]: a for a in actions}
        for r in ops_log:
            r["i"] = r["lake_op"]
            r["timed"] = by_op[r["i"]]["phase"] == "timed"
        ops = read_jsonl(plan["lake"]["ops"])
        base = pq.read_table(plan["lake"]["base"])
        final = os.path.join(results, "final")
        final_rows = pq.read_table(final).to_pydict() if os.path.isdir(final) else None
        fails, touched, live = lake_model.check(base, ops, ops_log, final_rows)
        for i, why in fails:
            wrong.append(f"lake op {i}: {why}")
            failed_ids.add(by_op[i]["id"] if i in by_op else run_actions[-1]["id"])
        for a in actions:
            a["rows_changed"] = touched.get(a.get("i"), 0)
        round_ends = [r for r in records if "round_end" in r]
        for r in round_ends:
            r["live_rows"] = live.get(r["round_end"], 0)
    else:
        pairs = {}
        for e in plan["warmup"] + [x for rnd in plan["rounds"] for x in rnd]:
            pairs[e[2]] = (e[0], e[1])
        done = {a["pair"] for a in run_actions}
        pairs = {k: v for k, v in pairs.items() if k in done}
        oracle_sql = json.load(open(os.path.join(work, "out", "oracle.json")))
        bad, rows_out = oracle.check_pairs(pairs, oracle_sql, results)
        for key, why in sorted(bad.items()):
            wrong.append(f"{pairs[key][0]} on {os.path.relpath(pairs[key][1], work)}: {why}")
        failed_ids |= {a["id"] for a in run_actions if a["pair"] in bad}
    for w in wrong:
        log(f"WRONG {w}")
    attempted, failed = len(run_actions), len(failed_ids)
    correct = not wrong

    # ---- metrics
    walls = [a["wall_ns"] / 1e9 for a in timed]
    window_s = (summary["end_ms"] - summary["first_timed_ms"]) / 1e3
    tail_p, tail_v = tail_of(walls, args.workload)
    setup_s = gen_s + (summary["first_timed_ms"] / 1e3 - t_launch)
    baseline_path = os.path.join(HERE, ".work", f"{args.workload}.untraced.json")
    if args.trace:
        baseline = json.load(open(baseline_path)) if os.path.exists(baseline_path) else {}
        if not baseline:
            log("no untraced run of this workload yet: trace.overhead_share reads 0")
        metrics = layer_metrics(args.workload, timed, spans, rows_out, cores, baseline)
        metrics.update(lake_metrics(timed, ops_log, round_ends))
        metrics = {k: metrics[k] for k in PER_LAYER}
    else:
        metrics = {"setup_s": setup_s,
                   "action_p50_s": stats.median(walls),
                   "action_tail_s": tail_v,
                   "actions_per_s": actions_per_s(timed),
                   "peak_rss_mb": summary["vmhwm_kb"] / 1024}
        if correct:
            with open(baseline_path, "w") as f:
                json.dump(per_query_medians(timed), f)
    input_rows = sum(f["rows"] for f in files.values())
    input_bytes = sum(f["bytes"] for f in files.values())
    log(f"setup: inputs {gen_s:.2f}s (median of {GEN_REPEATS}), jvm to session "
        f"{(summary['session_ready_ms'] - summary['jvm_start_ms']) / 1e3:.1f}s, session to first "
        f"timed action {(summary['first_timed_ms'] - summary['session_ready_ms']) / 1e3:.1f}s")
    log(f"{args.workload} seed={args.seed} trace={args.trace}: {len(timed)} timed actions in "
        f"{window_s:.1f}s, tail=p{tail_p:g} of n={len(walls)}, inputs {input_rows} rows / "
        f"{input_bytes} bytes (sha256 {digest[:12]}), error_rate={failed / attempted:.4f}")
    for k, v in metrics.items():
        log(f"  {k} = {v:.6g}")
    print(result_line(correct, attempted, failed, metrics))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
