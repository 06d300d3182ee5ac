#!/usr/bin/env python3
"""The repo benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. Builds the program and the harness with sbt (once
per source state, under .bench_build/), generates the workload's input
from the seed into a fresh directory, runs the harness JVM, checks every
result (DuckDB oracles, cold/warm digests, seed determinism) and prints
one JSON object as the last stdout line. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics. Everything else
(per-op failures with their causes, probes, Spark's log) goes to the run's
artifact directory, named on stderr. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
NEEDED = ["build.sbt", "project/build.properties", "src/main/scala",
          "tools/compare_oracle.py"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "3g"
# the op-latency tail: the highest percentile a run can size for with at
# least ten warm samples beyond it inside the per-run time (min 40 samples)
TAIL_Q = 75
MIN_WARM = 4
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840


def cpu_ticks():
    """(busy, steal) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[4:7]), v[7]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, p) for p in
            ("build.sbt", "project", "src/main")] + [HARNESS]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep)
            for f in files)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + harness once per source state; return classpath.

    sbt compiles into the checkout's ``target`` directories, which the next
    build of another source state overwrites. So every classpath entry
    inside the checkout is copied into the build's own directory, and the
    cached classpath names only those copies and the (immutable) jars of
    the dependency cache."""
    out = os.path.join(WORK, "build", source_hash())
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return os.pathsep.join(os.path.join(out, p) for p in
                                   f.read().strip().split(os.pathsep))
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log(f"building with sbt (log: {os.path.relpath(out, ROOT)}/sbt.log)")
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=logf,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
        logf.write(proc.stdout)
    cps = [ln for ln in proc.stdout.splitlines()
           if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not cps:
        die(f"sbt build failed (exit {proc.returncode})")
    snap = os.path.join(out, "cp")
    shutil.rmtree(snap, ignore_errors=True)
    entries = []
    for i, p in enumerate(cps[-1].split(os.pathsep)):
        if os.path.commonpath([ROOT, os.path.abspath(p)]) == ROOT:
            dst = os.path.join(snap, f"{i}-{os.path.basename(p)}")
            if os.path.isdir(p):
                shutil.copytree(p, dst)
            else:
                os.makedirs(snap, exist_ok=True)
                shutil.copy2(p, dst)
            p = dst
        entries.append(p)
    # written last: an interrupted build leaves no classpath.txt behind
    with open(cp_file, "w") as f:
        f.write(os.pathsep.join(os.path.relpath(p, out) if p.startswith(snap)
                                else p for p in entries))
    log(f"built in {time.time() - t0:.1f} s")
    return os.pathsep.join(entries)


def run_harness(cp, conf, run_dir, budget_s):
    conf_path = os.path.join(run_dir, "harness.properties")
    with open(conf_path, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={HARNESS}/log4j2.properties",
            f"-Dperfbench.log={run_dir}/spark.log", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Harness", conf_path]
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            die(f"harness exceeded {budget_s:.0f} s (see {run_dir}/harness.log)")
        finally:
            # also on SIGTERM (see main): never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        die(f"harness exited {code} (see {run_dir}/harness.log)")
    with open(conf["result"]) as f:
        return json.load(f)


def oracle_check(out_dir, input_dir):
    """tools/compare_oracle.py over the harness's oracle dump.
    Returns {entry: None (pass) | cause}."""
    odir = os.path.join(out_dir, "oracle")
    if not os.path.exists(os.path.join(odir, "oracle_sql.json")):
        return {}
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
         odir, input_dir], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, cwd=ROOT, timeout=120)
    verdicts = {}
    for ln in proc.stdout.splitlines():
        if ln.startswith("PASS "):
            verdicts[ln.split()[1]] = None
        elif ln.startswith("FAIL "):
            name, _, cause = ln[5:].partition(": ")
            verdicts[name] = f"oracle mismatch: {cause}"
    return verdicts


def pass_counters(result):
    """Per pass: job list and summed task counters of its jobs' stages."""
    jobs_by_pass = {}
    job_pass = {}
    for j in result["jobs"]:
        p = int(j["pass"]) if j["pass"] not in (None, "") else None
        if p is None:  # a job from a thread without the property: by time
            p = next((x["index"] for x in result["passes"]
                      if x["start_ms"] <= j["start_ms"] <= x["end_ms"]), -1)
        job_pass[j["job"]] = p
        jobs_by_pass.setdefault(p, []).append(j)
    counters = {}
    for s in result["stages"]:
        p = job_pass.get(s["job"])
        if p is None:
            continue
        c = counters.setdefault(p, {})
        for k, v in s.items():
            if k in ("stage", "attempt", "job", "submitted_ms", "completed_ms"):
                continue
            c[k] = max(c.get(k, 0), v) if k == "peak_mem_bytes" else c.get(k, 0) + v
    return jobs_by_pass, counters


def end_to_end(result):
    passes = result["passes"]
    cold, warm = passes[0], passes[1:]
    _, counters = pass_counters(result)
    walls = [(p["end_ms"] - p["start_ms"]) / 1e3 for p in warm]
    op_ms = [o["end_ms"] - o["start_ms"] for p in warm for o in p["ops"]]
    wc = [counters.get(p["index"], {}) for p in warm]
    return {
        "setup_s": (result["setup_s"], "s"),
        "cold_s": ((cold["end_ms"] - cold["start_ms"]) / 1e3, "s"),
        "warm_s": (statistics.median(walls), "s"),
        "op_p50_ms": (M.percentile(op_ms, 50), "ms"),
        f"op_p{TAIL_Q}_ms": (M.percentile(op_ms, TAIL_Q), "ms"),
        "shuffle_mb": (statistics.median(
            c.get("shuffle_write_bytes", 0) for c in wc) / 1e6, "MB"),
        "exec_mem_peak_mb": (max(c.get("peak_mem_bytes", 0) for c in wc) / 2**20, "MB"),
    }, {"warm_passes": len(warm), "op_samples": len(op_ms),
        f"op_samples_beyond_p{TAIL_Q}": M.beyond(len(op_ms), TAIL_Q)}


def per_layer(result, cores):
    """Per-layer metrics: medians over the traced warm passes."""
    passes = result["passes"]
    traced = [p for p in passes[1:] if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]
    jobs_by_pass, counters = pass_counters(result)
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    selfs = M.self_times(spans)
    per_pass = []
    for p in traced:
        k = p["index"]
        m = {}
        for layer in M.LAYERS:
            for f in ("calls", "build_ms", "plan_ms", "exec_ms", "jobs"):
                m[f"{layer}.{f}"] = 0.0
        for o in p["ops"]:
            layer = M.layer_of(o["name"])
            m[f"{layer}.calls"] += 1
            for ph in ("build", "plan", "exec"):
                m[f"{layer}.{ph}_ms"] += o.get(f"{ph}_ms", 0.0)
        pspans = [s for s in spans if s["pass"] == k]
        phases = [s for s in pspans if s["phase"]]
        jobs = jobs_by_pass.get(k, [])
        for j in jobs:
            s = by_id.get(int(j["span"])) if j["span"] not in (None, "") else None
            if s is None:  # submitted off the client thread: attribute by time
                s = next((x for x in phases
                          if x["start_ms"] <= j["start_ms"] <= x["end_ms"]), None)
            if s is not None:
                m[f"{M.layer_of(s['op'])}.jobs"] += 1
        wall = p["end_ms"] - p["start_ms"]
        c = counters.get(k, {})
        cat = [r for r in result["catalyst"] if r["pass"] == k]
        m.update({
            "catalyst.analysis_ms": sum(r["analysis_ms"] for r in cat),
            "catalyst.optimization_ms": sum(r["optimization_ms"] for r in cat),
            "catalyst.planning_ms": sum(r["planning_ms"] for r in cat),
            "catalyst.queries": len(cat),
            "driver.ms": M.driver_ms(p["start_ms"], p["end_ms"], jobs),
            "scheduler.jobs": len(jobs),
            "scheduler.stages": sum(j["stages"] for j in jobs),
            "scheduler.stages_skipped": sum(j["skipped"] for j in jobs),
            "scheduler.tasks": c.get("tasks", 0),
            "scheduler.task_wait_ms": c.get("task_wait_ms", 0),
            "executor.run_ms": c.get("run_ms", 0),
            "executor.cpu_ms": c.get("cpu_ns", 0) / 1e6,
            "executor.gc_ms": c.get("gc_ms", 0),
            "executor.deser_ms": c.get("deser_ms", 0),
            "executor.busy_frac": c.get("run_ms", 0) / (wall * cores),
            "executor.task_success_ratio": (
                (c["tasks"] - c["failed_tasks"]) / c["tasks"] if c.get("tasks") else 1.0),
            "scan.bytes": c.get("input_bytes", 0),
            "scan.records": c.get("input_records", 0),
            "shuffle.write_bytes": c.get("shuffle_write_bytes", 0),
            "shuffle.read_bytes": c.get("shuffle_read_bytes", 0),
            "shuffle.fetch_wait_ms": c.get("fetch_wait_ms", 0),
            "shuffle.write_ms": c.get("shuffle_write_ns", 0) / 1e6,
            "spill.bytes": c.get("spill_bytes", 0),
            "storage.block_bytes": result["blocks"].get(str(k), 0),
            "storage.pinned_rdds": sum(o["pinned_rdds"] for o in p["ops"]),
        })
        st = m["scheduler.stages"]
        m["scheduler.stage_reuse_ratio"] = m["scheduler.stages_skipped"] / st if st else 0.0
        # the pass wall, split into phase self time, op self time (digest,
        # pin count, sweep) and pass self time (the loop between ops)
        kinds = {"phase": 0.0, "op": 0.0, "pass": 0.0}
        for s in pspans:
            kinds["phase" if s["phase"] else "op" if s["op"] else "pass"] += selfs[s["id"]]
        m["trace.pass_ms"] = wall
        m["trace.phase_self_ms"] = kinds["phase"]
        m["trace.op_self_ms"] = kinds["op"]
        m["trace.pass_self_ms"] = kinds["pass"]
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    cold_jobs = jobs_by_pass.get(0, [])
    out["scheduler.jobs_cold"] = len(cold_jobs)
    out["trace.overhead_frac"] = (
        statistics.mean(p["end_ms"] - p["start_ms"] for p in traced) /
        statistics.mean(p["end_ms"] - p["start_ms"] for p in plain) - 1.0)
    return out


def steal_frac(start, end):
    busy, steal = end[0] - start[0], end[1] - start[1]
    return steal / (busy + steal) if busy + steal else 0.0


def per_layer_units(name):
    field = name.split(".", 1)[1]
    if field.endswith("_ms") or field == "ms":
        return "ms"
    if field.endswith("bytes"):
        return "bytes"
    if field.endswith(("frac", "ratio")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        die(f"not a checkout of the program: missing {', '.join(missing)}")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        die(f"unknown workload {a.workload!r}; one of {sorted(workloads)}")
    spec = workloads[a.workload]
    ops = spec["ops"]
    for o in ops:
        M.layer_of(o)
    cores = len(os.sched_getaffinity(0))

    cp = build()
    t_built = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-"
                           f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    input_dir = os.path.join(run_dir, "input")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir)
    t0 = time.time()
    rows = gen.generate(input_dir, a.seed)
    gen_s = time.time() - t0
    # staleness of inputs: same seed -> identical bytes, other seed -> not
    same = os.path.join(run_dir, "check_same")
    other = os.path.join(run_dir, "check_other")
    gen.generate(same, a.seed)
    gen.generate(other, a.seed + 1)
    seed_ok = {"same_seed_identical": gen.digest(same) == gen.digest(input_dir),
               "other_seed_differs": gen.digest(other) != gen.digest(input_dir)}
    shutil.rmtree(same)
    shutil.rmtree(other)
    log(f"{a.workload}: input {rows} in {gen_s:.2f} s; run dir "
        f"{os.path.relpath(run_dir, ROOT)}")

    t_gen_end = time.time()
    min_warm = max(MIN_WARM, -(-M.min_samples(TAIL_Q) // len(ops)))
    if a.trace:  # whole T U U T blocks, so the pass-time drift cancels
        min_warm = -(-min_warm // 4) * 4
    budget = RUN_LIMIT_S - (time.time() - t_built) - 20
    result = run_harness(cp, {
        "input": input_dir, "out": out_dir,
        "result": os.path.join(run_dir, "harness.json"),
        "ops": ",".join(ops), "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "min_warm": min_warm}, run_dir, budget)

    t_harness = time.time()
    # ---- correctness, outside the timed region
    cold = {o["name"]: o for o in result["passes"][0]["ops"]}
    verdicts = oracle_check(out_dir, input_dir)
    causes = {}
    for name in result["oracle_ops"]:
        cause = verdicts.get(name, "no oracle verdict")
        if cause:
            causes[name] = cause
    attempted = failed = 0
    failures = []
    for p in result["passes"]:
        for o in p["ops"]:
            attempted += 1
            why = o["error"] or causes.get(o["name"])
            if not why and o["digest"] != cold[o["name"]]["digest"]:
                why = f"digest differs from the cold pass in pass {p['index']}"
            if why:
                failed += 1
                failures.append({"op": o["name"], "pass": p["index"], "cause": why})
    t_checks = time.time()
    e2e, samples = end_to_end(result)
    layer = per_layer(result, cores) if a.trace else {}
    correct = failed == 0 and all(seed_ok.values())

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "ops": ops,
        "input_rows": rows, "gen_s": gen_s, "seed_checks": seed_ok,
        # catalog entries without an oracle get only the digest check
        "no_oracle": [o for o in ops if not o.startswith("io:")
                      and o not in result["oracle_ops"]],
        "env": {"nproc": os.cpu_count(), "cores": result["cores"],
                "heap_max_mb": result["heap_max_mb"],
                "loadavg_start": load_start,
                # CPU time the hypervisor gave to other guests while this
                # run was busy: a run slowed by neighbours shows it here
                "steal_frac": steal_frac(ticks_start, cpu_ticks()),
                "calibration_s": result["calibration_s"],
                "job_latency_s": result["job_latency_s"],
                "spark_version": result["spark_version"],
                "shuffle_partitions": result["shuffle_partitions"]},
        "measured_s": result["measured_s"],
        "samples": samples, "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": layer, "attempted": attempted, "failed": failed,
        "failures": failures,
        "op_ms": {p["index"]: {o["name"]: o["end_ms"] - o["start_ms"]
                               for o in p["ops"]} for p in result["passes"]},
        "wall_s": time.time() - t_start,
        # where the run's wall went, outside the measured passes
        "timeline_s": {
            "build": t_built - t_start, "generate_and_seed_checks": t_gen_end - t_built,
            "jvm_to_main": (result["main_start_ms"] - result["jvm_start_ms"]) / 1e3,
            "setup": (result["setup_end_ms"] - result["main_start_ms"]) / 1e3,
            "loop": (result["loop_end_ms"] - result["setup_end_ms"]) / 1e3,
            "probes_oracle_dump_and_exit": t_harness - result["loop_end_ms"] / 1e3,
            "checks": t_checks - t_harness},
    }
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(input_dir)
    shutil.rmtree(out_dir)
    for fl in failures[:20]:
        log(f"FAILED {fl['op']} (pass {fl['pass']}): {fl['cause']}")
    shown = layer if a.trace else {k: v for k, (v, _) in e2e.items()}
    units = ({k: per_layer_units(k) for k in layer} if a.trace
             else {k: u for k, (_, u) in e2e.items()})
    log(f"done in {time.time() - t_start:.1f} s; artifact "
        f"{os.path.relpath(run_dir, ROOT)}/artifact.json")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in shown.items()}}))


if __name__ == "__main__":
    main()
