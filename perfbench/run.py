"""Layered benchmark of the reference ETL, the txlog storage plane and a
construction-heavy query mix.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (perfbench/build.py), generates the
workload's inputs from the seed, and runs one closed loop with a single
client in one JVM on local[<cpus>]: a cold pass, then warm passes for
--seconds. On untraced runs set-up (JVM launch to a ready SparkSession)
is taken twice: the benchmark JVM and a probe JVM launched after it. Every
output is checked after the timed region. With --trace 0 the last line
holds the end-to-end metrics; with --trace 1 it holds the per-layer
metrics of a traced run (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import accounting  # noqa: E402
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# Three keys of graft.Bench's frozen B3 subset (a scan, the flagship
# multi-way join, a JSON cast), the control group, and the five keys whose
# DataFrame construction is heavy.
B3_SAMPLE = ["q01_scan_filter", "q05_multiway_join_agg", "q19_json_cast"]
HEAVY_KEYS = ["q78b_knn_graph_ivf", "dedup_clusters", "sim_topk_ivf_trained",
              "q54_tfidf", "q57_pack"]

# Input sizes are scaled down from the paper's 20k-file run (and from the
# sizes first planned for each workload) so that a run, a cold pass plus a
# warm pass, takes 30-60 s on a 4-core host and 70 runs fit in an hour.
WORKLOADS = {
    "etl_scale_dirty": {"kind": "etl", "files": 300, "missing": 0.20, "type": 0.10},
    "txlog_commit_scan": {"kind": "txlog", "commits": 12, "rows": 1000,
                          "files_per_commit": 2, "read_every": 4,
                          "point_scans": 6},
    "query_mix": {"kind": "query", "scale": 0.001, "keys": B3_SAMPLE + HEAVY_KEYS},
}
# Keys whose full result is compared with the oracle on traced runs only:
# count() lets Spark drop q78b's kNN joins (0.4 s), but materialising the
# whole result takes 12-20 s, a third of a run again, too long to pay on
# every run. Their row count is checked on every pass of every run.
FULL_CHECK_TRACED_ONLY = {"q78b_knn_graph_ivf"}
SETUP_PROBES = 1
RUN_TIMEOUT_S = 170
# bytes of one committed txlog row: an 8-byte id and a 32-character payload
TXLOG_ROW_BYTES = 8 + 32

SPAN_LAYER = {
    "etl.read": "etl.read_s", "etl.validate": "etl.validate_s",
    "etl.parse": "etl.parse_s", "etl.sink.csv": "etl.sink.csv_s",
    "etl.sink.errorlog": "etl.sink.errorlog_s",
    "etl.sink.quarantine": "etl.sink.quarantine_s",
    "txlog.commit": "txlog.commit_s",
    "txlog.snapshot_build": "txlog.snapshot_build_s",
    "txlog.snapshot_scan": "txlog.snapshot_scan_s",
    "txlog.prune": "txlog.prune_s", "txlog.point_build": "txlog.point_build_s",
    "txlog.point_exec": "txlog.point_exec_s",
}


def cpus():
    return len(os.sched_getaffinity(0))


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def run_java(main_class, args, work, deadline):
    """Runs a benchmark JVM to completion (or kills it at the deadline) and
    returns its stdout; the child is always waited for. Its temporary files
    stay in the work dir: SPARK_LOCAL_DIRS would override the session's
    spark.local.dir, so the child does not inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(work, "jvm.log")
    with open(log, "ab") as err:
        p = subprocess.Popen(build.java_cmd(main_class, args, tmp), stdout=subprocess.PIPE,
                             stderr=err, env=env)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0:
        raise SystemExit(f"perfbench: {main_class} exited {p.returncode}; see {log}")
    return out.decode()


def dumped_keys(cfg, traced):
    """The query keys whose full result the run writes and compares."""
    return [k for k in cfg["keys"] if traced or k not in FULL_CHECK_TRACED_ONLY]


def probe_setup(cfg, work, deadline):
    t0 = time.time()
    out = run_java("graft.perfbench.SetupProbe",
                   [str(cpus()), os.path.join(work, "probe"),
                    "1" if cfg["kind"] == "query" else "0"], work, deadline)
    ready = [ln for ln in out.splitlines() if ln.startswith("READY_MS ")]
    if not ready:
        raise SystemExit("perfbench: set-up probe printed no READY_MS")
    return int(ready[-1].split()[1]) / 1e3 - t0


def med(xs):
    return statistics.median(xs) if xs else 0.0


def scheduler_metrics(passes, n_cpus):
    """spark.* and jvm.* per pass, median over the given passes."""
    rows = []
    for p in passes:
        jobs = p["jobs"]
        wall = p["wall_s"]
        run_s = sum(j["run_ms"] for j in jobs) / 1e3
        rows.append({
            "spark.jobs": len(jobs),
            "spark.tasks": sum(j["tasks"] for j in jobs),
            "spark.task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
            "spark.executor_run_s": run_s,
            "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "spark.driver_gap_s": wall - accounting.union_length(
                [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0]) / 1e3,
            "spark.busy_ratio": run_s / (wall * n_cpus),
            "spark.cache_bytes": p["cache_bytes"],
            "jvm.heap_live_mb": p["heap_live_mb"],
            "jvm.gc_s": p["gc_s"],
        })
    return {k: med([r[k] for r in rows]) for k in rows[0]} if rows else {}


def jobs_under(p, spans, names):
    """Jobs of pass p whose start lies innermost in a span with one of the
    given names."""
    names = {names} if isinstance(names, str) else set(names)
    out = []
    for j in p["jobs"]:
        sp = accounting.innermost(spans, j["start_ms"])
        if sp is not None and sp["name"] in names:
            out.append(j)
    return out


def span_metrics(name):
    """The layer metrics a span's self time adds to; none for the pass and
    entity spans, whose self time is the residual. A query span is
    query.<key>.<construct|plan|exec>: it adds to its group's metric and,
    for a heavy key, to the key's own."""
    if name in SPAN_LAYER:
        return [SPAN_LAYER[name]]
    if name.startswith("query."):
        _, key, phase = name.split(".")
        heavy = key in HEAVY_KEYS
        out = [f"query.{'heavy' if heavy else 'b3'}.{phase}_s"]
        if heavy and phase != "plan":
            out.append(f"query.{key}.{phase}_s")
        return out
    return []


def layer_metrics(cfg, raw, n_cpus):
    """Per-layer metrics of a traced run: self time per layer and the
    counts at each boundary from the traced passes, scheduler metrics from
    the untraced warm passes beside them."""
    passes = raw["passes"]
    traced = [p for p in passes if p["traced"]]
    # the first warm pass still warms up (notably on query_mix), so the
    # untraced passes compared with the traced ones start after it
    plain = [p for p in passes[2:] if not p["traced"]]
    m = {name: 0.0 for name in LAYER_UNITS}
    m.update(scheduler_metrics(plain, n_cpus))
    per_pass, unaccounted = [], []
    for p in traced:
        spans = [s for s in raw["spans"] if s["pass"] == p["k"]]
        st = accounting.self_times(spans)
        row = {}
        residual = 0.0
        for s in spans:
            metrics = span_metrics(s["name"])
            for metric in metrics:
                row[metric] = row.get(metric, 0.0) + st[s["id"]] / 1e3
            if not metrics:
                residual += st[s["id"]] / 1e3
        row[f"{cfg['kind']}.residual_s"] = residual
        # self times of a span tree sum to its root, the pass span
        unaccounted.append(p["wall_s"] - sum(st.values()) / 1e3)
        if cfg["kind"] == "query":
            row["query.heavy.construct_jobs"] = len(jobs_under(
                p, spans, [f"query.{k}.construct" for k in HEAVY_KEYS]))
        elif cfg["kind"] == "etl":
            row["etl.read_tasks"] = sum(j["tasks"] for j in jobs_under(p, spans, "etl.read"))
            row["etl.sink.quarantine_tasks"] = sum(
                j["tasks"] for j in jobs_under(p, spans, "etl.sink.quarantine"))
        else:
            commits = len(p["commit_ms"])
            row["txlog.commit_jobs"] = len(jobs_under(p, spans, "txlog.commit")) / commits
            scans = [s for s in spans if s["name"] == "txlog.snapshot_scan"]
            files = sum(s["counts"]["files"] for s in scans)
            row["txlog.scan_tasks_per_file"] = sum(
                j["tasks"] for j in jobs_under(p, spans, "txlog.snapshot_scan")) / files
            prunes = [s for s in spans if s["name"] == "txlog.prune"]
            row["txlog.prune_kept_ratio"] = (sum(s["counts"]["kept"] for s in prunes)
                                             / sum(s["counts"]["total"] for s in prunes))
        per_pass.append(row)
    for k in per_pass[0]:
        m[k] = med([r.get(k, 0.0) for r in per_pass])
    if cfg["kind"] == "etl":
        m["etl.pipeline_jobs"] = med([len(p["jobs"]) for p in plain])
        m["etl.sink.bytes_out"] = med([dir_bytes(p["dir"]) for p in plain])
    elif cfg["kind"] == "txlog":
        warm = passes[1:]
        k = min(10, len(warm[0]["commit_ms"]) // 3)
        m["txlog.commit_slope_ms"] = med([
            statistics.mean(p["commit_ms"][-k:]) - statistics.mean(p["commit_ms"][:k])
            for p in warm])
        m["txlog.table_bytes"] = med([dir_bytes(p["dir"]) for p in warm])
        m["txlog.log_versions"] = med([
            len([f for f in os.listdir(os.path.join(p["dir"], "_txlog")) if f.endswith(".json")])
            for p in warm])
    traced_wall = med([p["wall_s"] for p in traced])
    m["trace.pass_s"] = traced_wall
    m["trace.overhead_s"] = traced_wall - med([p["wall_s"] for p in plain])
    m["trace.unaccounted_s"] = med(unaccounted)
    return m


def e2e_metrics(cfg, raw, setups):
    warm = raw["passes"][1:]
    m = {
        "setup_s": statistics.median(setups),
        "cold_s": raw["passes"][0]["wall_s"],
        "pass_s": med([p["wall_s"] for p in warm]),
        "items_per_s": med([p["items"] / p["wall_s"] for p in warm]),
    }
    if cfg["kind"] == "etl":
        m["op_p50_ms"] = med([x for p in warm for x in p["ops_ms"]])
    elif cfg["kind"] == "txlog":
        m["op_p50_ms"] = med([x for p in warm for x in p["commit_ms"]])
    else:
        m["op_p50_ms"] = med([q["construct_ms"] + q["plan_ms"] + q["exec_ms"]
                              for p in warm for q in p["queries"]])
    return m


def workload_detail(cfg, raw):
    """Workload-specific end-to-end figures, printed but not part of the
    metric set every workload shares."""
    warm = raw["passes"][1:]
    if cfg["kind"] == "etl":
        return {"files_per_s": (med([p["items"] / p["wall_s"] for p in warm]), "1/s")}
    if cfg["kind"] == "query":
        out = {}
        for group, keys in (("b3", B3_SAMPLE), ("heavy", HEAVY_KEYS)):
            for phase in ("construct", "plan", "exec"):
                out[f"{group}.{phase}_s"] = (med([
                    sum(q[f"{phase}_ms"] for q in p["queries"] if q["key"] in keys) / 1e3
                    for p in warm]), "s")
        return out
    out = {}
    commit = accounting.latency_report([x for p in warm for x in p["commit_ms"]])
    out["commit_p50_ms"] = (commit["p50"], "ms")
    if "tail" in commit:
        out[f"commit_p{commit['tail_p']:g}_ms"] = (commit["tail"], "ms")
    out["commit_samples"] = (commit["n"], "count")
    out["snapshot_read_p50_ms"] = (med([x for p in warm for x in p["read_ms"]]), "ms")
    out["point_scan_p50_ms"] = (med([x for p in warm for x in p["point_ms"]]), "ms")
    committed = cfg["commits"] * cfg["rows"] * TXLOG_ROW_BYTES
    out["space_amp"] = (med([dir_bytes(p["dir"]) for p in warm]) / committed, "ratio")
    return out


E2E_UNITS = {"setup_s": "s", "cold_s": "s", "pass_s": "s", "items_per_s": "1/s",
             "op_p50_ms": "ms"}
LAYER_UNITS = {
    "etl.read_s": "s", "etl.read_tasks": "count", "etl.validate_s": "s",
    "etl.parse_s": "s", "etl.pipeline_jobs": "count", "etl.residual_s": "s",
    "etl.sink.csv_s": "s", "etl.sink.errorlog_s": "s", "etl.sink.quarantine_s": "s",
    "etl.sink.quarantine_tasks": "count", "etl.sink.bytes_out": "bytes",
    "txlog.commit_s": "s", "txlog.commit_jobs": "count", "txlog.commit_slope_ms": "ms",
    "txlog.snapshot_build_s": "s", "txlog.snapshot_scan_s": "s",
    "txlog.scan_tasks_per_file": "ratio", "txlog.prune_s": "s",
    "txlog.prune_kept_ratio": "ratio", "txlog.point_build_s": "s",
    "txlog.point_exec_s": "s", "txlog.residual_s": "s", "txlog.table_bytes": "bytes",
    "txlog.log_versions": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_cpu_s": "s",
    "spark.executor_run_s": "s", "spark.shuffle_bytes": "bytes",
    "spark.driver_gap_s": "s", "spark.busy_ratio": "ratio", "spark.cache_bytes": "bytes",
    "jvm.heap_live_mb": "MB", "jvm.gc_s": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.unaccounted_s": "s",
}
LAYER_UNITS.update({f"query.{g}.{ph}_s": "s" for g in ("b3", "heavy")
                    for ph in ("construct", "plan", "exec")})
LAYER_UNITS["query.heavy.construct_jobs"] = "count"
LAYER_UNITS.update({f"query.{k}.{ph}_s": "s" for k in HEAVY_KEYS for ph in ("construct", "exec")})
LAYER_UNITS["query.residual_s"] = "s"


def check_run(cfg, raw, work, truth, traced):
    """(attempted, failed, problems) over every pass of the run, plus the
    query workload's full-result dump."""
    attempted = failed = 0
    problems = []
    digests, oracles = {}, {}
    if cfg["kind"] == "query":
        with open(os.path.join(work, "dump", "oracle_sql.json")) as f:
            oracles = checks.query_oracles(os.path.join(work, "sf"), json.load(f))
    for p in raw["passes"]:
        if cfg["kind"] == "etl":
            a, f, pr = checks.check_etl_pass(p, truth, digests)
        elif cfg["kind"] == "txlog":
            a, f, pr = checks.check_txlog_pass(p, cfg["rows"], cfg["read_every"])
        else:
            a, f, pr = checks.check_query_pass(p, oracles)
        attempted, failed = attempted + a, failed + f
        problems += [f"pass {p['k']}: {x}" for x in pr]
    if cfg["kind"] == "query":
        a, f, pr = checks.check_query_dump(os.path.join(work, "dump"),
                                           dumped_keys(cfg, traced), oracles)
        attempted, failed = attempted + a, failed + f
        problems += [f"result dump: {x}" for x in pr]
    return attempted, failed, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]
    start = time.time()
    first_build = not os.path.exists(build.STAMP)
    build.build()
    work = os.path.abspath(os.path.join(build.BUILD, "work", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n_cpus = cpus()

    jvm_args = ["--workload", cfg["kind"], "--work", work, "--cores", str(n_cpus),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--seed", str(args.seed), "--min-warm", "3" if args.trace else "1",
                "--out", os.path.join(work, "raw.json")]
    truth = None
    if cfg["kind"] == "etl":
        corpus = os.path.join(work, "corpus")
        truth = gen.generate(corpus, args.seed, cfg["files"], cfg["missing"], cfg["type"])
        jvm_args += ["--corpus", corpus]
    elif cfg["kind"] == "txlog":
        jvm_args += ["--commits", str(cfg["commits"]), "--rows", str(cfg["rows"]),
                     "--files-per-commit", str(cfg["files_per_commit"]),
                     "--read-every", str(cfg["read_every"]),
                     "--point-scans", str(cfg["point_scans"])]
    else:
        gen.generate_tables(os.path.join(work, "sf"), args.seed, cfg["scale"])
        jvm_args += ["--sf", os.path.join(work, "sf"), "--keys", ",".join(cfg["keys"]),
                     "--dump-keys", ",".join(dumped_keys(cfg, args.trace))]

    deadline = start + (880 if first_build else RUN_TIMEOUT_S)
    launch = time.time()
    run_java("graft.perfbench.Main", jvm_args, work, deadline)
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    if not args.trace:
        setups = [raw["ready_ms"] / 1e3 - launch]
        setups += [probe_setup(cfg, work, deadline) for _ in range(SETUP_PROBES)]

    attempted, failed, problems = check_run(cfg, raw, work, truth, args.trace)
    for x in problems[:20]:
        print(f"perfbench: wrong output: {x}", file=sys.stderr)

    if args.trace:
        metrics, units = layer_metrics(cfg, raw, n_cpus), LAYER_UNITS
        spans_path = os.path.join(work, "spans.json")
        with open(spans_path, "w") as f:
            json.dump(raw["spans"], f)
        print(f"spans: {os.path.relpath(spans_path)} ({len(raw['spans'])} spans)")
    else:
        metrics, units = e2e_metrics(cfg, raw, setups), E2E_UNITS
        for name, (value, unit) in workload_detail(cfg, raw).items():
            print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} fail_ratio = {accounting.fail_ratio(attempted, failed):.6g} "
          f"({failed} of {attempted} operations)")
    print(f"{args.workload} passes = {len(raw['passes'])} (1 cold)")
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
