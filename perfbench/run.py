#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness (build.py); every run generates its inputs from the seed (gen.py),
runs the workload in one JVM with ``local[4]`` (scala/Harness.scala), checks
every output against DuckDB (oracle.py) and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. The full report -- host shape, every sample, every failure with its
cause, the layer ledger -- is written to .bench_build/results/. README.md
describes the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import platform
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

CORES = 4
# A fixed heap (-Xms = -Xmx), a fixed young generation and a fixed
# marking threshold keep the JVM from resizing itself with the host's load,
# which otherwise moves peak_rss_mb by a fifth from run to run.
XMX = "2g"
XMN = "512m"
JVM_TIMEOUT_S = 150
KEEP_INPUT_SETS = 6
SPLIT_MTIME_NS = 1_704_067_200 * 10**9
# Cached inputs are named after the generator's source, so an edited
# generator never reuses inputs made by an older one.
with open(gen.__file__, "rb") as _fh:
    GEN_HASH = hashlib.sha256(_fh.read()).hexdigest()[:8]

FAMILIES = ["Analytics", "Curation", "Dataloader", "Event", "Pretrain", "Relational",
            "Retention", "Serving", "Sketch", "SketchJoin", "Text", "Vector", "Window"]

# One query per operator module. q129, q51 and q86 are among the builders
# with the largest eager probe and checkpoint jobs; q133, the largest, is
# left out because its DuckDB oracle (near-duplicate clustering) takes 20 s.
BATCH_MIX = ["q60_large_orders", "q81_decontamination", "q116_inverted_index",
             "q104_funnel", "q91_quota_sampling", "q05_customers_without_orders",
             "q129_pareto_classes", "q47_upsert_merge", "q51_simhash_neardup",
             "q123_skew_audit", "q36_tfidf", "q86_ivf_ann",
             "q16_trailing_hour"]
# units: each workload runs exactly this many units (passes or rounds),
# whatever --seconds says, so every commit does the same work. Warm units
# keep getting faster one after another (JIT); a count that followed the
# host's or the engine's speed would move the warm medians.
WORKLOADS = {
    "batch_mix": {"kind": "passes", "sf": 0.01, "queries": BATCH_MIX, "units": 4},
    "speed_layer": {"kind": "speed", "sf": 0.01, "files": 240, "per_round": 5,
                    "per_trigger": 1, "reads": 12, "units": 6},
}

E2E = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
       ("op_p50_s", "s"), ("peak_rss_mb", "MB")]

LAYER = ([("spark.codegen.compile_s", "s"), ("spark.codegen.compiles", "count"),
          ("spark.scheduler.jobs", "count"), ("spark.scheduler.stages", "count"),
          ("spark.scheduler.tasks", "count"), ("spark.scheduler.in_job_s", "s"),
          ("spark.scheduler.out_of_job_s", "s"),
          ("operators.build_s", "s"), ("operators.build_jobs", "count")]
         + [(f"operators.{f}.wall_s", "s") for f in FAMILIES]
         + [("spark.catalyst.analysis_s", "s"), ("spark.catalyst.optimization_s", "s"),
            ("spark.catalyst.planning_s", "s"),
            ("spark.executor.task_s", "s"), ("spark.executor.cpu_s", "s"),
            ("spark.executor.core_busy_frac", "ratio"),
            ("spark.executor.shuffle_read_mb", "MB"), ("spark.executor.shuffle_write_mb", "MB"),
            ("spark.executor.spill_mb", "MB"), ("spark.executor.input_rows", "count"),
            ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
            ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
            ("streaming.get_batch_s", "s"), ("streaming.planning_s", "s"),
            ("streaming.wal_commit_s", "s"), ("streaming.state_rows", "count"),
            ("streaming.state_commit_s", "s"),
            ("streaming.upsert_bytes_written_per_event_byte", "ratio"),
            ("streaming.read_failures", "count"),
            ("streaming.batch_p50_s", "s"), ("streaming.ingest_events_per_s", "1/s"),
            ("ledger.build_self_s", "s"), ("ledger.out_job_s", "s"),
            ("ledger.residual_max_s", "s"), ("ledger.unreconciled", "count"),
            ("trace.overhead_s", "s"), ("host.steal_frac", "ratio")])


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


# ---------------------------------------------------------------- inputs

def prune(pattern):
    sets = sorted(glob.glob(pattern), key=os.path.getmtime)
    for old in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(old, ignore_errors=True)


def base_dir(sf, seed):
    out = os.path.join(build.BUILD, "inputs", f"base-sf{sf}-s{seed}-{GEN_HASH}")

    def make(tmp):
        gen.write(gen.base(sf, seed), tmp)
        return {"kind": "base", "sf": sf, "seed": seed}
    return out, gen.ensure(out, make)


def split_dir(sf, files, seed):
    src, _ = base_dir(sf, seed)
    out = os.path.join(build.BUILD, "inputs", f"split{files}-sf{sf}-s{seed}-{GEN_HASH}")

    def make(tmp):
        import pyarrow.parquet as pq
        pieces = gen.split_events(pq.read_table(os.path.join(src, "events.parquet")),
                                  files, seed)
        os.makedirs(os.path.join(tmp, "parts"))
        for i, piece in enumerate(pieces):
            path = os.path.join(tmp, "parts", f"part-{i:05d}.parquet")
            pq.write_table(piece, path, compression="snappy")
            # The file source takes the oldest files first: modification
            # times follow arrival order.
            os.utime(path, ns=(SPLIT_MTIME_NS + i * 10**9,) * 2)
        return {"kind": "split", "sf": sf, "files": files, "seed": seed,
                "max_lag_us": gen.MAX_LAG_US}
    meta = gen.ensure(out, make)
    return src, os.path.join(out, "parts"), meta


# ---------------------------------------------------------------- JVM

def jvm_cmd(classes, plan_path, result_path, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = [build.java()]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([classes] + build.spark_jars())
    return cmd + [f"-Xms{XMX}", f"-Xmx{XMX}", f"-Xmn{XMN}", "-XX:-G1UseAdaptiveIHOP",
                  "-XX:-UsePerfData", "-Duser.timezone=UTC",
                  f"-Djava.io.tmpdir={tmp}",
                  "-cp", cp, "perfbench.Harness", plan_path, result_path]


def run_jvm(classes, plan, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan["tmp_dir"] = tmp
    plan_path = os.path.join(run_dir, "plan.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh, indent=1)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_cmd(classes, plan_path, result_path, tmp),
                                stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
        finally:
            # Also on SIGTERM or Ctrl-C: the JVM never outlives this process.
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        die(f"JVM exited with code {code}; log: {log_path}\n{tail}")
    with open(result_path) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- checks

def check_passes(res, inputs):
    expected = oracle.expected(inputs, res["oracle_sql"],
                               os.path.join(build.BUILD, "oracle", os.path.basename(inputs)))
    failures = []
    for s in res["samples"]:
        cause = None
        if not s["ok"]:
            cause = (s["error_class"], s["error"])
        elif s["query"] in expected:
            exp = expected[s["query"]]
            if "error" in exp:
                cause = ("OracleError", exp["error"])
            elif exp["digest"] != s["digest"]:
                cause = ("WrongDigest", f"got {s['digest']}, oracle {exp['digest']}")
        elif s["rows"] < 1:
            cause = ("NoRows", "a query without an oracle returned no rows")
        s["check"] = "ok" if cause is None else "failed"
        if cause:
            failures.append({"op": s["id"], "query": s["query"], "error_class": cause[0],
                             "error": cause[1]})
    return len(res["samples"]), failures, not failures


def check_speed(res, split):
    """Every read of round k must return the per-user latest event, and the
    accumulated hourly counts must equal DuckDB's hourly counts, over the
    files replayed in rounds 0..k."""
    failures = []
    attempted = 0
    outputs_ok = True
    replayed = []
    for r in res["rounds"]:
        replayed += r["files"]
        expected = oracle.expected_speed([os.path.join(split, f) for f in replayed], os.path.join(
            build.BUILD, "oracle", os.path.basename(os.path.dirname(split)), f"n{len(replayed)}"))
        checks = [(f"round{r['round']}-hourly", "hourly", r, "counts_digest")]
        checks += [(f"round{r['round']}-read{i}", "served", rd, "digest")
                   for i, rd in enumerate(r["reads"])]
        for op, what, got, key in checks:
            attempted += 1
            exp = expected[what]
            cause = None
            if r["error_class"]:
                cause = (r["error_class"], r["error"])
            elif not got.get("ok", True):
                cause = (got["error_class"], got["error"])
            elif "error" in exp:
                cause = ("OracleError", exp["error"])
            elif exp["digest"] != got[key]:
                cause = ("WrongDigest", f"got {got[key]}, oracle {exp['digest']}")
            got["check"] = "ok" if cause is None else "failed"
            if cause:
                outputs_ok = False
                failures.append({"op": op, "error_class": cause[0], "error": cause[1]})
    return attempted, failures, outputs_ok


# ---------------------------------------------------------------- metrics

def latency(op):
    """An operation's latency; a failed one misses every latency limit."""
    return op["wall_s"] if op["ok"] and op.get("check", "ok") == "ok" else math.inf


def e2e_passes(res):
    passes = res["passes"]
    warm = [latency(s) for s in res["samples"] if s["pass"] > 0]
    return {"cold_pass_s": passes[0]["wall_s"],
            "warm_pass_s": stats.median([p["wall_s"] for p in passes[1:]]),
            "op_p50_s": stats.median(warm),
            "query_p90_s": stats.tail_percentile(warm, 90),
            "samples": {"warm_passes": len(passes) - 1, "warm_queries": len(warm)}}


def read_latencies(rounds):
    return [latency(dict(rd, wall_s=(rd["end_us"] - rd["start_us"]) / 1e6))
            for r in rounds for rd in r["reads"]]


def upsert_progress(r):
    return [p for p in r["progress"] if p["stream"] == "upsert" and p["rows"] > 0]


def e2e_speed(res):
    rounds = res["rounds"]
    out = warm_speed(rounds[1:])
    out["cold_pass_s"] = rounds[0]["wall_s"]
    return out


def warm_speed(warm):
    """Round, micro-batch, read and ingest figures over warm rounds."""
    batches = [p["duration_ms"].get("triggerExecution", 0) / 1e3
               for r in warm for p in upsert_progress(r)]
    reads = read_latencies(warm)
    return {"warm_pass_s": stats.median([r["wall_s"] for r in warm]),
            "op_p50_s": stats.median(reads),
            "read_p90_s": stats.tail_percentile(reads, 90),
            "batch_p50_s": stats.median(batches),
            "batch_p90_s": stats.tail_percentile(batches, 90),
            "ingest_events_per_s": stats.median(
                [sum(p["rows"] for p in upsert_progress(r)) / r["wall_s"] for r in warm]),
            "samples": {"warm_rounds": len(warm), "reads": len(reads),
                        "micro_batches": len(batches)}}


def index_trace(trace):
    stages = {}
    for st in trace["stages"]:
        stages.setdefault(st["stage"], []).append(st)
    jobs = {}
    for j in trace["jobs"]:
        jobs.setdefault(j["group"], []).append(j)
    phases = [[tuple(p[k]) for k in ("analysis", "optimization", "planning") if k in p]
              for p in trace["phases"]]
    return jobs, stages, phases


def executor_layer(jobs, stages, wall_s):
    sts = [st for j in jobs for sid in j["stages"] for st in stages.get(sid, [])]
    task_s = sum(st["run_ms"] for st in sts) / 1e3
    mb = 1048576.0
    return {"spark.scheduler.jobs": len(jobs), "spark.scheduler.stages": len(sts),
            "spark.scheduler.tasks": sum(st["tasks"] for st in sts),
            "spark.executor.task_s": task_s,
            "spark.executor.cpu_s": sum(st["cpu_ns"] for st in sts) / 1e9,
            "spark.executor.core_busy_frac": task_s / (wall_s * CORES) if wall_s else 0.0,
            "spark.executor.shuffle_read_mb": sum(st["shuffle_read_bytes"] for st in sts) / mb,
            "spark.executor.shuffle_write_mb": sum(st["shuffle_write_bytes"] for st in sts) / mb,
            "spark.executor.spill_mb": sum(st["spill_disk_bytes"] for st in sts) / mb,
            "spark.executor.input_rows": sum(st["input_records"] for st in sts)}


def phase_split(phases, lo, hi):
    """Catalyst phase intervals that start inside [lo, hi]. A re-collected
    DataFrame reports its first execution's phases again; those start before
    ``lo`` and are not this operation's work."""
    out = []
    for p in phases:
        ivs = [iv for iv in p if lo <= iv[0] <= hi]
        if ivs:
            out.append(ivs)
    return out


def mean_over(units, fn):
    vals = [fn(u) for u in units]
    keys = set().union(*vals) if vals else set()
    return {k: sum(v.get(k, 0.0) for v in vals) / len(vals) for k in keys}


def layers_passes(res):
    jobs, stages, phases = index_trace(res["trace"])
    traced = {p["pass"] for p in res["passes"] if p["traced"]}
    ledger = {s["id"]: stats.sample_ledger(s, jobs.get(s["id"], []),
                                           phase_split(phases, s["start_us"], s["end_us"]))
              for s in res["samples"] if s["pass"] in traced}

    def one_pass(p):
        m = {k: 0.0 for k, _ in LAYER}
        js = []
        for s in res["samples"]:
            if s["pass"] != p["pass"]:
                continue
            sj = jobs.get(s["id"], [])
            js += sj
            led = ledger[s["id"]]
            m["spark.scheduler.in_job_s"] += led["in_job_s"]
            m["spark.scheduler.out_of_job_s"] += led["wall_s"] - led["in_job_s"]
            m["ledger.build_self_s"] += led["build_self_s"]
            m["ledger.out_job_s"] += led["out_job_s"]
            m["operators.build_s"] += (s["build_end_us"] - s["start_us"]) / 1e6
            m["operators.build_jobs"] += sum(1 for j in sj if j["start_us"] < s["build_end_us"])
            m[f"operators.{s['family']}.wall_s"] += s["wall_s"]
        m.update(executor_layer(js, stages, p["wall_s"]))
        m["jvm.gc_s"] = p["counters"]["gc_s"]
        return m

    traced_warm = [p for p in res["passes"] if p["traced"] and p["pass"] > 0]
    m = mean_over(traced_warm, one_pass)
    m.update(catalyst_layer(res, traced_warm))
    return m, list(ledger.values())


def catalyst_layer(res, units):
    """Mean Catalyst phase time per unit, by phase."""
    out = {"spark.catalyst.analysis_s": 0.0, "spark.catalyst.optimization_s": 0.0,
           "spark.catalyst.planning_s": 0.0}
    for u in units:
        for p in res["trace"]["phases"]:
            for name in ("analysis", "optimization", "planning"):
                if name in p and u["start_us"] <= p[name][0] <= u["end_us"]:
                    out[f"spark.catalyst.{name}_s"] += (p[name][1] - p[name][0]) / 1e6
    return {k: v / len(units) for k, v in out.items()}


def layers_speed(res):
    jobs, stages, _ = index_trace(res["trace"])
    all_jobs = [j for js in jobs.values() for j in js]

    def one_round(r):
        lo, hi = r["start_us"], r["end_us"]
        js = [j for j in all_jobs if lo <= j["start_us"] <= hi]
        m = {k: 0.0 for k, _ in LAYER}
        m.update(executor_layer(js, stages, r["wall_s"]))
        in_job = stats.union([(j["start_us"], j["end_us"]) for j in js], lo, hi) / 1e6
        m["spark.scheduler.in_job_s"] = in_job
        m["spark.scheduler.out_of_job_s"] = r["wall_s"] - in_job
        up = upsert_progress(r)
        both = [p for p in r["progress"] if p["rows"] > 0]
        dur = lambda ps, k: sum(p["duration_ms"].get(k, 0) for p in ps) / 1e3
        m["streaming.batches"] = len(up)
        m["streaming.add_batch_s"] = dur(up, "addBatch")
        m["streaming.get_batch_s"] = dur(both, "getBatch")
        m["streaming.planning_s"] = dur(both, "queryPlanning")
        m["streaming.wal_commit_s"] = dur(both, "walCommit")
        m["streaming.state_rows"] = max([p["state_rows"] for p in both] or [0])
        m["streaming.state_commit_s"] = sum(p["state_commit_ms"] for p in both) / 1e3
        written = sum(st["output_bytes"] for j in jobs.get(r["upsert_run_id"], [])
                      for sid in j["stages"] for st in stages.get(sid, []))
        m["streaming.upsert_bytes_written_per_event_byte"] = written / r["input_bytes"]
        m["streaming.read_failures"] = sum(1 for rd in r["reads"] if not rd["ok"])
        m["jvm.gc_s"] = r["counters"]["gc_s"]
        return m

    traced_warm = [r for r in res["rounds"] if r["traced"] and r["round"] > 0]
    m = mean_over(traced_warm, one_round)
    m.update(catalyst_layer(res, traced_warm))
    e = warm_speed(traced_warm)
    for k in ("batch_p50_s", "ingest_events_per_s"):
        m[f"streaming.{k}"] = e[k]
    return m, []


def traced_overhead(units):
    traced = [u["wall_s"] for u in units[1:] if u["traced"]]
    plain = [u["wall_s"] for u in units[1:] if not u["traced"]]
    return stats.median(traced) - stats.median(plain)


# ---------------------------------------------------------------- main

def provenance(args, res, inputs_meta, classes):
    commit = None
    if os.path.isdir(os.path.join(build.ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                                    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                    timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    return {"shape": {"nproc": len(os.sched_getaffinity(0)), "master": f"local[{CORES}]",
                      "xmx": XMX, "xmn": XMN, "jdk": res["jvm"]["java_version"],
                      "spark": res["jvm"]["spark_version"], "machine": platform.machine()},
            "git_commit": commit, "source_hash": os.path.basename(classes).split("-", 1)[1],
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "inputs": inputs_meta}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # Accepted and recorded in the report; each workload runs a fixed count
    # of units instead (see WORKLOADS).
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    classes = build.build()
    plan = {"workload": args.workload, "cores": CORES, "trace": bool(args.trace),
            "units": wl["units"]}
    if wl["kind"] == "passes":
        inputs, meta = base_dir(wl["sf"], args.seed)
        order = list(wl["queries"])
        random.Random(args.seed).shuffle(order)
        plan.update(inputs=inputs, queries=order)
    else:
        inputs, split, meta = split_dir(wl["sf"], wl["files"], args.seed)
        meta = dict(meta, base=base_dir(wl["sf"], args.seed)[1])
        plan.update(inputs=inputs, split_dir=split, files_per_round=wl["per_round"],
                    files_per_trigger=wl["per_trigger"], reads_per_round=wl["reads"])
    for pattern in ("base-*", "split*"):
        prune(os.path.join(build.BUILD, "inputs", pattern))

    run_dir = os.path.join(build.BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan["work_dir"] = os.path.join(run_dir, "work")
    res = run_jvm(classes, plan, run_dir)

    if wl["kind"] == "passes":
        attempted, failures, outputs_ok = check_passes(res, inputs)
        e2e = e2e_passes(res)
        units = res["passes"]
    else:
        attempted, failures, outputs_ok = check_speed(res, split)
        e2e = e2e_speed(res)
        units = res["rounds"]
    e2e["setup_s"] = res["setup_s"]
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    report = {"provenance": provenance(args, res, meta, classes),
              "correct": outputs_ok, "attempted": attempted, "failed": len(failures),
              "failed_frac": stats.failed_frac(len(failures), attempted),
              "failures": failures, "end_to_end": e2e,
              "host_steal_frac": [u["counters"]["steal_frac"] for u in units]}
    if args.trace:
        layers, ledgers = layers_passes(res) if wl["kind"] == "passes" else layers_speed(res)
        cold = units[0]["counters"]
        layers["spark.codegen.compile_s"] = cold["compile_s"]
        layers["spark.codegen.compiles"] = cold["compiles"]
        layers["jvm.heap_peak_mb"] = res["trace"]["heap_peak_mb"]
        layers["trace.overhead_s"] = traced_overhead(units)
        layers["host.steal_frac"] = stats.median([u["counters"]["steal_frac"] for u in units])
        if ledgers:
            layers["ledger.residual_max_s"] = max(abs(l["residual_s"]) for l in ledgers)
            layers["ledger.unreconciled"] = sum(1 for l in ledgers if not l["reconciled"])
        report["per_layer"] = layers
        report["ledger"] = {"tolerance": f"{stats.LEDGER_TOL_S} s + "
                                         f"{stats.LEDGER_TOL_FRAC:.0%} of the query wall",
                            "samples": ledgers}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    report["raw"] = res
    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        die(f"metrics {bad} are not finite: half or more of the operations failed; "
            f"report: {path}")
    print(json.dumps({"correct": outputs_ok, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
