#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload heavy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) into the checkout; later runs reuse the build
until a source file changes. Each run generates its inputs, runs the
workload in one JVM, checks every result outside the timed window and
prints, as its last line, one JSON object: `correct`, `attempted`,
`failed` and `metrics` (each with value and unit). `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones from a traced run.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("heavy", "admission")
BATCH_QUERIES = {"heavy": list(M.QUERY_LAYER)}
ADMISSION_TIMED_FILES = 10
RUN_LIMIT_S = 170
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout or
    on any exit of this script, and waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        stop(p)
        _children.remove(p)


def stop(p):
    if p.poll() is None:
        for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
            try:
                os.killpg(p.pid, sig)
                p.wait(timeout=wait)
                return
            except (ProcessLookupError, subprocess.TimeoutExpired):
                pass


def build_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()


def build():
    """The harness classpath, building first when a source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources under {ROOT}: nothing to build", 3)
    os.makedirs(WORK, exist_ok=True)
    state = os.path.join(WORK, "build.json")
    stamp = build_stamp()
    if os.path.exists(state):
        b = json.load(open(state))
        if b["stamp"] == stamp:
            return b["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS") or "-Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts
    log_path = os.path.join(WORK, "build.log")
    log("building engine and harness with sbt")
    with open(log_path, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 850, cwd=HERE, env=env,
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log_path).read().splitlines()
    cps = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log_path}", 3)
    with open(state, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    return cps[-1]


def launch(classpath, run_dir, args, deadline):
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx4g", f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local",
               SPARK_GRAFT_CPUS=str(args["cores"]))
    with open(f"{run_dir}/jvm.log", "w") as err:
        rc = run_child(cmd, max(1, deadline - time.time()), cwd=run_dir, env=env,
                       stdout=err, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    for ln in open(f"{run_dir}/jvm.log"):
        if ln.startswith("[kernels]") or ln.startswith("[perfbench]"):
            sys.stderr.write(ln)
    if rc is None:
        fail(f"workload exceeded {RUN_LIMIT_S} s and was stopped")
    raw_path = f"{run_dir}/raw.json"
    if rc != 0 or not os.path.exists(raw_path):
        os.system(f"tail -n 30 '{run_dir}/jvm.log' >&2")
        fail(f"workload JVM exited {rc} without a record")
    raw = json.load(open(raw_path))
    if raw.get("fatal"):
        os.system(f"tail -n 30 '{run_dir}/jvm.log' >&2")
        fail("workload failed: " + "; ".join(raw["errors"]))
    return raw


def tier_dir():
    """The batch tier, generated once per checkout: it does not depend on
    the run's seed, only on the generator."""
    key = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:16]
    tier = os.path.join(WORK, f"tier-{key}")
    if not os.path.exists(tier):
        tmp = f"{tier}.tmp{os.getpid()}"
        gen.write_tier(tmp)
        os.replace(tmp, tier)
    return tier


def batch_run(a, classpath, run_dir, t_setup, deadline):
    tier = tier_dir()
    names = BATCH_QUERIES[a.workload]
    raw = launch(classpath, run_dir, {"workload": a.workload, "seed": a.seed,
                                      "seconds": a.seconds, "trace": a.trace,
                                      "input": tier, "run-dir": run_dir,
                                      "queries": ",".join(names), "cores": cores()}, deadline)
    verdict = check.check_batch(tier, f"{run_dir}/results", raw["oracle_sql"], names)
    bad = {q: why for q, why in verdict.items() if why}
    for q, why in bad.items():
        log(f"check failed: {q}: {why}")
    passes = [p for p in raw["passes"] if not p["traced"]]
    # the client's request is one pass over the query set: its latency is
    # the pass's wall time
    walls = [sum(q["wall_s"] for q in p["queries"]) for p in passes]
    n = len(walls)
    for p in passes:
        log("pass: " + ", ".join(f"{q['name']} {q['wall_s']:.2f}" for q in p["queries"]))
    log(f"{n} timed pass(es); p90 has {M.beyond(n, 90)} samples beyond it "
        f"(highest percentile with 10 beyond: {M.highest_reportable(n)})")
    e2e = {
        "setup_s": (raw["timed_start_ms"] - t_setup) / 1e3,
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(sum(q["cpu_s"] for q in p["queries"]) for p in passes),
        "live_heap_mb": max(p["live_heap_mb"] for p in passes),
        "admit_p50_s": M.percentile(walls, 50),
        "admit_p90_s": M.percentile(walls, 90),
    }
    layer = {}
    if a.trace:
        traced = next(p for p in raw["passes"] if p["traced"])
        layer.update(M.batch_layers(raw["trace"]))
        for q in traced["queries"]:
            layer[f"query.{q['name']}.wall_s"] = q["wall_s"]
        after = raw["passes"][traced["pass"] + 1]
        layer["trace.overhead_pct"] = (sum(q["wall_s"] for q in traced["queries"])
                                       / sum(q["wall_s"] for q in after["queries"]) - 1) * 100
        layer["spark.failed_tasks"] = raw["trace"]["failed_tasks"]
    return raw, e2e, layer, raw["attempted"], raw["failed"] + len(bad)


def admission_run(a, classpath, run_dir, t_setup, deadline):
    corpus = f"{run_dir}/input"
    # a traced run admits one more warm file: its trigger is the untraced
    # reference for the first timed trigger, which carries as many docs
    n_warm = 2 if a.trace else 1
    gen.write_corpus(corpus, a.seed, n_warm, ADMISSION_TIMED_FILES)
    planted = json.load(open(f"{corpus}/planted.json"))
    raw = launch(classpath, run_dir, {"workload": "admission", "seed": a.seed,
                                      "seconds": a.seconds, "trace": a.trace,
                                      "input": corpus, "run-dir": run_dir,
                                      "interval": a.seconds / ADMISSION_TIMED_FILES,
                                      "cores": cores()}, deadline)
    n_docs, bad, reasons = check.check_admission(run_dir, f"{corpus}/corpus",
                                                 raw["oracle_sql"], planted)
    for why in reasons:
        log(f"check failed: {why}")
    vt = pq.read_table(f"{run_dir}/verdicts", columns=["doc_id", "batch"]).to_pydict()
    doc_batch = dict(zip(vt["doc_id"], vt["batch"]))
    split = planted["split"]
    names = [ln.split("\t")[0] for ln in open(f"{corpus}/files.tsv")]
    file_docs = {f: range(split + k * gen.DOCS_PER_FILE, split + (k + 1) * gen.DOCS_PER_FILE)
                 for k, f in enumerate(names)}
    trigs = M.triggers(json.loads(p) for p in raw["progress"])
    dels = raw["deliveries"]
    lat = M.doc_latencies(dels, file_docs, doc_batch, trigs)
    timed_batches = {doc_batch[d] for dv in dels for d in file_docs[dv["file"]]}
    timed_trigs = [t for t in trigs if t["batch_id"] in timed_batches]
    n = len(lat)
    log(f"{n} timed docs in {len(timed_trigs)} triggers; p90 has {M.beyond(n, 90)} "
        f"beyond it (highest percentile with 10 beyond: {M.highest_reportable(n)})")
    e2e = {
        "setup_s": (raw["timed_start_ms"] - t_setup) / 1e3,
        "wall_s": sum(t["trigger_s"] for t in timed_trigs) / n * 100,
        "cpu_s": raw["timed_cpu_s"] / n * 100,
        "live_heap_mb": raw["live_heap_mb"],
        "admit_p50_s": M.percentile(lat, 50),
        "admit_p90_s": M.percentile(lat, 90),
    }
    layer = {}
    if a.trace:
        warm = [t for t in trigs if t["batch_id"] not in timed_batches]
        layer.update(admission_layers(raw, run_dir, timed_trigs, dels, file_docs, doc_batch))
        layer["trace.overhead_pct"] = (timed_trigs[0]["trigger_s"] / warm[-1]["trigger_s"] - 1) * 100
    return raw, e2e, layer, n_docs + raw["attempted"], bad + raw["failed"]


def admission_layers(raw, run_dir, trigs, dels, file_docs, doc_batch):
    """Per-layer figures of the timed triggers, which the run traced."""
    trace = dict(raw["trace"])
    trace["spans"] = trace["spans"] + [
        {"id": 10**6 + t["batch_id"], "kind": "trigger", "name": str(t["batch_id"]),
         "parent": None, "start_ms": t["start_ms"], "end_ms": t["end_ms"]} for t in trigs]
    groups = list(M.trace_groups(trace, "trigger").values())
    per = [M.stage_sums(g["stages"]) for g in groups]
    state_files = [os.path.join(d, f) for d, _, fs in os.walk(f"{run_dir}/state") for f in fs]
    med = statistics.median
    return {
        "StreamOps.trigger_p50_s": M.percentile([t["trigger_s"] for t in trigs], 50),
        "StreamOps.trigger_p90_s": M.percentile([t["trigger_s"] for t in trigs], 90),
        "StreamOps.overhead_s": med(t["trigger_s"] - t["add_batch_s"] for t in trigs),
        "StreamOps.batch_docs_p50": med(t["rows"] for t in trigs),
        "IngestIncr.admit_s": med(t["add_batch_s"] for t in trigs),
        "IngestIncr.driver_s": med(
            max(0.0, t["add_batch_s"] - M.covered(
                [(j["start_ms"], j["end_ms"]) for j in g["jobs"]],
                g["span"]["start_ms"], g["span"]["end_ms"]) / 1e3)
            for t, g in zip(trigs, groups)),
        "IngestIncr.jobs_per_trigger": statistics.mean(len(g["jobs"]) for g in groups),
        "IngestIncr.task_cpu_s": statistics.mean(p["task_cpu_s"] for p in per),
        "IngestIncr.write_mb": statistics.mean(p["write_mb"] for p in per),
        "IngestIncr.state_mb": sum(os.path.getsize(f) for f in state_files) / M.MB,
        "IngestIncr.state_files": len(state_files),
        "IngestIncr.index_build_s": raw["index_build_s"],
        "source.lag_files_max": M.backlog_max(dels, file_docs, doc_batch, trigs),
        "source.gen_late_s": max(d["delivered_ms"] - d["due_ms"] for d in dels) / 1e3,
        "spark.failed_tasks": raw["trace"]["failed_tasks"],
    }


def cores():
    return len(os.sched_getaffinity(0))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t_setup = time.time() * 1e3
        body = admission_run if a.workload == "admission" else batch_run
        raw, e2e, layer, attempted, failed = body(a, classpath, run_dir, t_setup, deadline)
        if a.trace:
            layer["Engine.session_s"] = raw["session_s"]
            layer["functions.hash2_us"] = raw["kernels"]["hash2_us"]
            layer["functions.montMul_ns"] = raw["kernels"]["montMul_ns"]
            os.makedirs(f"{WORK}/traces", exist_ok=True)
            trace_out = f"{WORK}/traces/{a.workload}-{a.seed}.json"
            with open(trace_out, "w") as fh:
                json.dump({"trace": raw.get("trace"), "per_layer": layer}, fh)
            log(f"spans written to {trace_out}")
            names = M.per_layer_names()
        else:
            names = M.END_TO_END
        values = e2e if not a.trace else layer
        out = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    finally:
        for p in list(_children):
            stop(p)
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    for n, m in out.items():
        if m["value"]:
            log(f"{n} = {m['value']:.6g} {m['unit']}")
    log(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
