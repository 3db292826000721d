"""Permit-ETL benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source when needed
(see build.py), generates the workload's inputs from the seed (gen.py),
runs the ops in one JVM, checks every op's artifacts (check.py), and prints
as its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. The line before it carries the host context and the details
behind the metrics (op counts, the tail percentile used, spans per layer).

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from spans the benchmark records around its calls into the
program and from Spark counts a listener collects. BENCHMARK.json lists
both, with the workload each layer metric should move.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["backfill_full", "monthly_increment", "corpus_dedup"]
PERMIT_WORKLOADS = ("backfill_full", "monthly_increment")
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def host_context():
    """nproc, 1-minute load and live JVMs: scatter carries its own caveat."""
    try:
        load1 = float(open("/proc/loadavg").read().split()[0])
    except OSError:
        load1 = -1.0
    jvms = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                jvms += open(f"/proc/{pid}/comm").read().strip() == "java"
            except OSError:
                pass
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_1m": load1, "live_jvms": jvms}


def run_jvm(classes, workload, seconds, trace, cores, run_dir):
    jars = os.path.join(build.spark_jars(), "*")
    for d in ("out", "tmp", "warehouse", "local", "scratch"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_WAREHOUSE_DIR=os.path.join(run_dir, "warehouse"),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
               SPARK_GRAFT_SCRATCH_ROOT=os.path.join(run_dir, "scratch"))
    result = os.path.join(run_dir, "result.json")
    # -Xmn512m: a fixed young generation, so peak RSS follows live data rather
    # than G1's timing-driven eden sizing (0.26-0.30 run-to-run spread without
    # it, 0.06-0.07 with it); -XX:-UsePerfData: no hsperfdata file in the
    # system temp directory
    cmd = ["java", f"-Xmx{HEAP}", "-Xmn512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", workload, "--in", os.path.join(run_dir, "in"),
            "--out", os.path.join(run_dir, "out"), "--result", result,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
            "--t0", str(time.time_ns() // 1_000_000)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(result):
        tail = open(log_path, errors="replace").read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(warm):
    """The highest percentile with at least 10 ops beyond it, with that
    percentile and the sample count. Below 20 ops that percentile would sit
    at or under the median, so the max is reported (as p100) instead."""
    s = sorted(warm)
    n = len(s)
    if n >= 20:
        return s[n - 11], round(100.0 * (n - 10) / n, 1), n
    return (s[-1] if s else 0.0), 100.0, n


def self_times(spans):
    """Each span's duration minus the part its child spans cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        covered, last = 0.0, sp["start_s"]
        for c in sorted(kids.get(sp["id"], []), key=lambda c: c["start_s"]):
            lo, hi = max(c["start_s"], last), min(c["end_s"], sp["end_s"])
            if hi > lo:
                covered += hi - lo
                last = hi
        out[sp["id"]] = (sp["end_s"] - sp["start_s"]) - covered
    return out


def end_to_end(res, exp):
    ops = res["ops"]
    walls = [o["wall_s"] for o in ops]
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    per_pass = len(exp["ops"]) if exp.get("ops") else 1
    pass_walls = [p[-1]["start_s"] + p[-1]["wall_s"] - p[0]["start_s"]
                  for p in passes.values() if len(p) == per_pass]
    wall = median(pass_walls)
    t, pct, n = tail(walls[1:])
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (exp["lines"] / wall if wall else 0.0, "rows/s"),
        "cold_op_s": (walls[0], "s"),
        "op_p50_s": (median(walls[1:]), "s"),
        "op_tail_s": (t, "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }
    details = {"passes": len(pass_walls), "ops": len(ops), "op_tail_percentile": pct,
               "op_tail_n": n, "op_walls_s": [round(w, 3) for w in walls]}
    return metrics, details


def per_layer(workload, res, infos, cores):
    ops = {o["id"]: o for o in res["ops"]}
    traced = [o["id"] for o in res["ops"] if o["traced"]]
    selft = self_times(res["spans"])
    by_op = {}
    for sp in res["spans"]:
        d = by_op.setdefault(sp["op"], {})
        d[sp["name"]] = d.get(sp["name"], 0.0) + selft[sp["id"]]
    span_name = {sp["id"]: sp["name"] for sp in res["spans"]}
    tallies = {}
    for c in res["counters"]:
        if c["op"] in ops:
            t = tallies.setdefault(c["op"], {})
            for k in ("jobs", "stages", "tasks", "run_ms", "gc_ms", "shuffle_write", "spill", "input_bytes"):
                t[k] = t.get(k, 0) + c[k]
            if span_name.get(c["span"]) == "ext.cc":
                t["cc_jobs"] = t.get("cc_jobs", 0) + c["jobs"]

    def med(f):
        return median([f(i) for i in traced])

    def span(name):
        return med(lambda i: by_op.get(i, {}).get(name, 0.0))

    def tally(key, scale=1.0):
        return med(lambda i: tallies.get(i, {}).get(key, 0) * scale)

    def info(key):
        return med(lambda i: infos.get(i, {}).get(key, 0))

    pre = {k: median(v) for k, v in res["prefix"].items()}

    def stage(name, prev=None):
        if name not in pre:
            return 0.0
        return pre[name] - (pre[prev] if prev else 0.0)

    mb = 1.0 / (1024 * 1024)
    permits = workload in PERMIT_WORKLOADS
    # overhead: each traced op against the untraced warm ops of the same
    # month (k), so both sides do the same work
    untraced = {}
    for o in res["ops"]:
        if not o["traced"] and o["id"] != 1:
            untraced.setdefault(o["k"], []).append(o["wall_s"])
    overhead = median([ops[i]["wall_s"] - median(untraced[ops[i]["k"]])
                       for i in traced if ops[i]["k"] in untraced])
    uncovered = med(lambda i: by_op.get(i, {}).get("op", 0.0))
    cand = res["extra"].get("lsh_candidates", 0)
    verified = info("verified_pairs")
    m = {
        "pipeline.construct_s": (span("pipeline.construct"), "s"),
        "pipeline.plan_s": (span("pipeline.plan"), "s"),
        "pipeline.clean_s": (stage("clean", "json_scan"), "s"),
        "pipeline.suggest_s": (stage("suggest", "clean"), "s"),
        "pipeline.dedupe_s": (stage("dedupe", "suggest"), "s"),
        "pipeline.flag_s": (stage("flag", "dedupe"), "s"),
        "sources.json_scan_s": (stage("json_scan"), "s"),
        "sources.json_bytes_read": (tally("input_bytes") if permits else 0, "bytes"),
        "sources.xlsx_write_s": (span("sources.xlsx_write"), "s"),
        "sources.xlsx_bytes": (info("xlsx_bytes"), "bytes"),
        "sources.batched_write_s": (span("sources.batched_write"), "s"),
        "sources.files_written": (info("files_written"), "count"),
        "sources.zip_s": (span("sources.zip"), "s"),
        "ext.lsh_pairs_s": (stage("lsh_pairs"), "s"),
        "ext.lsh_candidates": (cand, "count"),
        "ext.verify_s": (stage("verify", "lsh_pairs"), "s"),
        "ext.verified_pairs": (verified, "count"),
        "ext.candidate_precision": (verified / cand if cand else 0.0, "ratio"),
        "ext.cc_s": (span("ext.cc"), "s"),
        "ext.cc_jobs": (tally("cc_jobs"), "count"),
        "ext.survivors_s": (span("ext.survivors"), "s"),
        "ext.topk_s": (span("ext.topk"), "s"),
        "ext.topk_recall": (info("topk_recall"), "ratio"),
        "spark.jobs": (tally("jobs"), "count"),
        "spark.stages": (tally("stages"), "count"),
        "spark.tasks": (tally("tasks"), "count"),
        "spark.task_busy_s": (tally("run_ms", 1e-3), "s"),
        "spark.core_busy_ratio": (med(lambda i: tallies.get(i, {}).get("run_ms", 0) / 1000.0
                                       / (ops[i]["wall_s"] * cores)), "ratio"),
        "spark.gc_s": (tally("gc_ms", 1e-3), "s"),
        "spark.shuffle_write_mb": (tally("shuffle_write", mb), "MB"),
        "spark.spill_mb": (tally("spill", mb), "MB"),
        "trace.overhead_s": (overhead, "s"),
        "trace.uncovered_s": (uncovered, "s"),
        "trace.uncovered_share": (med(lambda i: by_op.get(i, {}).get("op", 0.0) / ops[i]["wall_s"]), "ratio"),
    }
    details = {"traced_ops": len(traced), "prefix_s": res["prefix"],
               "span_self_s_median": {n: span(n) for n in sorted({sp["name"] for sp in res["spans"]})}}
    return m, details


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mutate", action="store_true",
                    help="damage the first op's artifacts before checking (checker self-test)")
    a = ap.parse_args(argv)
    try:
        classes = build.ensure()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    run_dir = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        exp = gen.generate(a.workload, a.seed, os.path.join(run_dir, "in"))
        cores = min(4, len(os.sched_getaffinity(0)))
        host = host_context()
        t1 = time.time()
        res = run_jvm(classes, a.workload, a.seconds, a.trace, cores, run_dir)
        t2 = time.time()
        ref = check.prepare(a.workload, exp, 10)
        failed, problems, infos = 0, {}, {}
        for i, o in enumerate(res["ops"]):
            d = os.path.join(run_dir, "out", f"op-{o['id']}")
            if a.mutate and i == 0 and not o["error"]:
                check.mutate(a.workload, d)
            if o["error"]:
                errs = [o["error"]]
            else:
                try:
                    errs, infos[o["id"]] = check.check_op(a.workload, exp, o["k"], d, ref)
                except Exception as e:  # noqa: BLE001 - a missing or unreadable artifact is a wrong output
                    errs = [f"checker: {e!r}"]
            work = [c for c in res["counters"] if c["op"] == o["id"]]
            if sum(c["jobs"] for c in work) == 0 or sum(c["run_ms"] for c in work) == 0:
                errs.append("no Spark jobs or task time: op served without doing the work")
            if errs:
                failed += 1
                problems[o["id"]] = errs
            shutil.rmtree(d, ignore_errors=True)
        if a.trace:
            metrics, details = per_layer(a.workload, res, infos, cores)
        else:
            metrics, details = end_to_end(res, exp)
        attempted = len(res["ops"])
        phases = {"generate_s": round(t1 - t0, 2), "jvm_s": round(t2 - t1, 2), "check_s": round(time.time() - t2, 2)}
    except Exception as e:  # noqa: BLE001 - any failure means no result line
        print(f"benchmark run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    context = dict(host, workload=a.workload, seed=a.seed, trace=a.trace, cores=cores,
                   sizes=exp["sizes"], input_records=exp["lines"],
                   failed_ratio=failed / attempted, problems=problems, phases=phases, **details)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
