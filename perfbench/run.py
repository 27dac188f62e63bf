#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine's pipeline workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload <elt_merge|vector_maintain>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library from `src/main/scala` together with the harness in
`perfbench/src` (sbt, offline; output under `.bench_build/`, reused
while the sources are unchanged), generates the workload's inputs from
the seed, runs the workload in a fresh JVM on `local[nproc]`, checks
every operation's output against DuckDB oracles, and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`). The lines before it give the seed, nproc, load average,
stolen CPU time and source commit, and a readable table of the same
numbers.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["elt_merge", "vector_maintain"]
# a run must end within RUN_LIMIT_S, or FIRST_RUN_LIMIT_S when it builds
RUN_LIMIT_S = 178
FIRST_RUN_LIMIT_S = 895
BUILD_TIMEOUT_S = 780
CHECK_RESERVE_S = 10  # kept back from the JVM for the oracle check
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "write_s": "s",
              "read_s": "s", "cpu_s": "s", "heap_peak_mb": "MB", "write_amp": "ratio"}
LAYERS = {
    "plan.queries": "count", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_busy_s": "s", "sched.driver_idle_s": "s", "sched.task_launch_wait_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.deser_s": "s",
    "exec.spill_bytes": "bytes", "exec.cpu_ratio": "ratio", "exec.slot_util": "ratio",
    "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.write_s": "s",
    "io.input_bytes": "bytes", "io.input_records": "count", "io.output_bytes": "bytes",
    "io.output_records": "count", "io.files_written": "count",
    "core.cache_bytes_put": "bytes", "core.cache_blocks_put": "count",
    "core.release_s": "s", "core.release_failures": "count",
    "ops.bronze_s": "s", "ops.merge_partitioned_s": "s", "ops.merge_swap_s": "s",
    "ops.merge_rewrite_ratio": "ratio",
    "streaming.graph_fold_s": "s", "streaming.redelivery_s": "s",
    "streaming.cells_rewritten": "count", "streaming.cell_rewrite_ratio": "ratio",
    "trace_overhead": "s",
}
# operation families per workload, each with ext.<op>.s / .jobs / .cpu_s
OPS = {
    "elt_merge": ["bronze", "merge_orders", "merge_customer", "rollup_revenue",
                  "top_customers", "pricing_summary"],
    "vector_maintain": ["build_index", "write_vectors", "write_graph", "graph_fold",
                        "redelivery", "graph_search"],
}
for _fams in OPS.values():
    for _f in _fams:
        LAYERS.update({f"ext.{_f}.s": "s", f"ext.{_f}.jobs": "count",
                       f"ext.{_f}.cpu_s": "s"})


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def steal_s():
    """CPU seconds the hypervisor gave to other guests (Linux; 0 elsewhere).
    A run with much steal was slowed by the machine, not by the program."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            die(f"missing source directory {os.path.relpath(r, ROOT)}: run from a full checkout")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, log_path, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def ensure_build(digest):
    """(classpath of the harness + library, whether it was built now);
    rebuilt when the sources change."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    build_log = os.path.join(BUILD, "build.log")
    log("building (sbt compile) ...")
    rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, build_log, env)
    if rc != 0:
        die(f"build failed (exit {rc}):\n{tail(build_log)}")
    with open(build_log, errors="replace") as f:
        cps = [ln.strip() for ln in f if not ln.startswith("[") and ".bench_build" in ln
               and os.pathsep in ln]
    if not cps:
        die("build did not print a classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1], True


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def timed(p):
    """The pass's timed operations (set-up steps are left out)."""
    return [o for o in p["ops"] if not o["setup"]]


def layer_values(p, cores):
    """Per-layer values of one traced pass."""
    v = collections.defaultdict(float)
    ops = timed(p)
    for o in ops:
        for k, x in o["layers"].items():
            v[k] += x
        v["sched.job_busy_s"] += o["busy_s"]
        v["io.files_written"] += o.get("files_written", 0)
        v["core.release_s"] += o["release_s"]
        v["core.release_failures"] += o["release_failures"]
        if "layer" in o:
            v[o["layer"]] += o["s"]
        fam = o["family"]
        v[f"ext.{fam}.s"] += o["s"]
        v[f"ext.{fam}.jobs"] += o["layers"].get("sched.jobs", 0)
        v[f"ext.{fam}.cpu_s"] += o["cpu_s"]
    wall = p["wall_s"]
    v["sched.driver_idle_s"] = wall - v["sched.job_busy_s"]
    run_s = v["exec.run_s"]
    v["exec.cpu_ratio"] = v["exec.cpu_s"] / run_s if run_s else 0.0
    v["exec.slot_util"] = run_s / (wall * cores) if wall else 0.0
    merges = [o for o in ops if o.get("layer", "").startswith("ops.merge_")]
    target = sum(o["target_bytes"] for o in merges)
    written = sum(o["layers"].get("io.output_bytes", 0) for o in merges)
    v["ops.merge_rewrite_ratio"] = written / target if target else 0.0
    folds = [o for o in ops if o.get("layer") == "streaming.graph_fold_s"]
    v["streaming.cells_rewritten"] = sum(o.get("cells", 0) for o in folds)
    cells = p.get("layout_cells", 0)
    v["streaming.cell_rewrite_ratio"] = (
        v["streaming.cells_rewritten"] / cells if cells else 0.0)
    return v


def count_failures(res, verdict):
    """(attempted, failed, reasons): every op execution of every pass; an
    execution fails if it threw, its own check failed, its output differs
    from the checked pass, or the checked output differs from the oracle
    (then every execution with the same output fails too)."""
    passes = res["passes"]
    bad = set()
    reasons = collections.Counter()
    attempted = 0
    for p in passes:
        for o in p["ops"]:
            attempted += 1
            if "problem" in o:
                bad.add((p["index"], o["name"]))
                reasons[f"{o['name']}: {o['problem']}"] += 1
        for s in p["states"]:
            if "problem" in s:
                bad.update((p["index"], n) for n in s["owners"])
                reasons[f"state {s['name']}: {s['problem']}"] += 1
    first = passes[0]
    for name, why in verdict.items():
        if why is None:
            continue
        reasons[f"oracle {name}: {why}"] += 1
        if name.startswith("state_"):
            st = next(s for s in first["states"] if s["name"] == name[len("state_"):])
            ref = st.get("hash")
            for p in passes:
                for s in p["states"]:
                    if s["name"] == st["name"] and s.get("hash") == ref:
                        bad.update((p["index"], n) for n in st["owners"])
        else:
            ref = next((o.get("hash") for o in first["ops"] if o["name"] == name), None)
            for p in passes:
                for o in p["ops"]:
                    if o["name"] == name and o.get("hash") == ref:
                        bad.add((p["index"], name))
    return attempted, len(bad), reasons


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still unwinds: the JVM's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    load_start = os.getloadavg()
    steal_start = steal_s()
    t_start = time.monotonic()
    digest = source_digest()
    cp, built = ensure_build(digest)
    limit = FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S
    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    phase = {}
    try:
        t0 = time.monotonic()
        plan = gen.generate(args.workload, args.seed, inp)
        phase["gen"] = time.monotonic() - t0
        os.makedirs(os.path.join(work, "tmp"))
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        out = os.path.join(work, "result.json")
        # a fixed heap size: no heap resizing between the forced GCs at
        # operation boundaries, so GC work does not vary run to run
        cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                "--input", inp, "--work", work, "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--out", out]
        jvm_log = os.path.join(work, "jvm.log")
        t0 = time.monotonic()
        jvm_budget = limit - CHECK_RESERVE_S - (time.monotonic() - t_start)
        rc = run_bounded(cmd, ROOT, jvm_budget, jvm_log)
        phase["jvm"] = time.monotonic() - t0
        if rc != 0 or not os.path.exists(out):
            die(f"workload JVM failed (exit {rc}):\n{tail(jvm_log)}")
        with open(out) as f:
            res = json.load(f)
        t0 = time.monotonic()
        verdict = oracle.check(args.workload, inp, plan, res["oracle_sql"],
                               os.path.join(work, "dumps"), os.cpu_count())
        phase["check"] = time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, reasons = count_failures(res, verdict)
    cores = res["cores"]
    passes = res["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    clean = [p for p in warm if not p["failed"]] or warm
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        traced = [p for p in traced if not p["failed"]] or traced
        vals = [layer_values(p, cores) for p in traced]
        metrics = {k: med(v[k] for v in vals) for k in LAYERS if k != "trace_overhead"}
        metrics["trace_overhead"] = (med(p["wall_s"] for p in traced)
                                     - med(p["wall_s"] for p in clean))
        units = LAYERS
    else:
        metrics = {
            "setup_s": med(res["setup_s"]),
            "cold_pass_s": passes[0]["wall_s"],
            "pass_s": med(p["wall_s"] for p in clean),
            "write_s": med(sum(o["s"] for o in timed(p) if o["writes"]) for p in clean),
            "read_s": med(sum(o["s"] for o in timed(p) if not o["writes"]) for p in clean),
            "cpu_s": med(p["cpu_s"] for p in clean),
            "heap_peak_mb": med(p["heap_peak_mb"] for p in clean),
            "write_amp": med(sum(o["layers"].get("io.output_bytes", 0) for o in timed(p))
                             / plan["input_bytes"] for p in clean),
        }
        units = END_TO_END

    commit = f"src-sha256:{digest[:16]}"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True)
        if r.returncode == 0:
            commit = r.stdout.strip()
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "spark_cores": cores,
        "load_start": [round(x, 2) for x in load_start],
        "load_end": [round(x, 2) for x in os.getloadavg()],
        "steal_s": round(steal_s() - steal_start, 2),
        "commit": commit, "input_bytes": plan["input_bytes"],
        "passes": len(passes), "oracle_checks": len(verdict),
        "failed_ops": failed / attempted,
        "phase_s": {k: round(x, 2) for k, x in phase.items()},
        "total_s": round(time.monotonic() - t_start, 2),
    }
    print("perfbench context " + json.dumps(context))
    for r, n in reasons.items():
        print(f"perfbench failure x{n}: {r}")
    print(f"{'metric':32s} {'value':>14s}  unit   ({args.workload}, seed {args.seed})")
    for k, x in metrics.items():
        print(f"{k:32s} {x:14.6g}  {units[k]}")
    print(f"{'failed_ops':32s} {failed / attempted:14.6g}  ratio  ({failed}/{attempted})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": x, "unit": units[k]} for k, x in metrics.items()}}))


if __name__ == "__main__":
    main()
