#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source (`sbt compile` in perfbench/harness, which depends on
the repo root); later runs reuse the build while its sources are unchanged.
Inputs come from the seed: the seed picks one of VARIANTS input variants
(variant = seed mod VARIANTS), whose expected outputs are recorded under
perfbench/expected/. Generation is not part of any metric.

A run times a fixed CPU calibration, runs the JVM harness (setup from
process start, one cold pass, warm passes for S seconds, and with --trace 1 one
traced pass plus per-layer calls), times the calibration again, checks the
outputs, and prints one JSON line: {"correct", "attempted", "failed",
"metrics"}. Everything it writes stays under .bench_build/; the full record
of the run goes to .bench_build/runs/.

Dev flags: --inject-fail OP makes OP throw; --record stores the outputs of
this variant as its expected values (after the construction checks pass).
"""
import argparse
import hashlib
import json
import math
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen_corpus  # noqa: E402
import gen_omim  # noqa: E402

VARIANTS = 8
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "harness")):
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(HERE, "harness", "project", "build.properties"))
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, bb):
    """Compiles program + harness if their sources changed; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(bb, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp and all(os.path.exists(p) for p in cp.strip().split(":")):
            return cp.strip()
    log("building program and harness (sbt compile)")
    tmp = os.path.join(bb, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ------------------------------------------------------------- calibration

def _spin(n):
    x = 0
    for i in range(n):
        x = (x * 31 + i) % 1000003
    return x


CALIB_N = 2_000_000


def calibrate():
    """Seconds for a fixed single-threaded loop plus the same loop on every core."""
    t0 = time.perf_counter()
    _spin(CALIB_N)
    single = time.perf_counter() - t0
    n = os.cpu_count() or 1
    with multiprocessing.get_context("fork").Pool(n) as pool:
        t0 = time.perf_counter()
        pool.map(_spin, [CALIB_N] * n)
        parallel = time.perf_counter() - t0
        pool.close()
        pool.join()
    return {"single_s": single, "parallel_s": parallel, "cores": n}


# ------------------------------------------------------------------ inputs

def inputs(bb, workload, variant):
    out = os.path.join(bb, "inputs", f"{workload}-v{variant}")
    done = os.path.join(out, "generated.json")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    gen = gen_omim.generate if workload == "omim_release" else gen_corpus.generate
    info = gen(variant, out)
    with open(done, "w") as f:
        json.dump(info, f)
    return out, info


# ---------------------------------------------------------------- metrics

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def spread(xs):
    """Median, highest value and sample count. A run takes a handful of
    samples, too few for a percentile with ten samples beyond it."""
    return {"median": statistics.median(xs), "max": max(xs), "n": len(xs)}


def calib_s(calib):
    """host.calib_s: single-thread plus all-core loop, mean of before and after."""
    return statistics.mean(c["single_s"] + c["parallel_s"] for c in calib)


def aggregate(res, op_ok, calib):
    """Harness samples → (metrics, layers, attempted, failed, detail).

    pass_s and job_s.geomean come from the warm passes; a workload without
    warm passes (a release build runs once per JVM) uses its cold pass."""
    ops = res["ops"]
    attempted = sum(res["attempted"].values())
    failed = sum(res["attempted"][o] if not op_ok.get(o, False) else res["threw"].get(o, 0)
                 for o in ops)
    passes = res["warm"] or [res["cold"]]
    full = [p for p in passes if len(p["ops"]) == len(ops) and all(op_ok.get(o) for o in ops)]
    per_op = {o: [p["ops"][o] for p in passes if o in p["ops"]]
              for o in ops if op_ok.get(o, False)}
    nan = float("nan")
    metrics = {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["cold"]["pass_s"] if len(res["cold"]["ops"]) == len(ops) else nan,
        "pass_s": statistics.median(p["pass_s"] for p in full) if full else nan,
        "job_s.geomean": geomean([statistics.median(v) for v in per_op.values()])
        if per_op and all(per_op.values()) else nan,
        "peak_heap_mb": res["peak_heap_mb"],
    }
    detail = {"pass_s": spread([p["pass_s"] for p in full]) if full else None,
              "ops": {o: spread(v) for o, v in per_op.items() if v}}
    layers = dict(res["layers"])
    if layers:
        layers["host.calib_s"] = calib_s(calib)
    return metrics, layers, attempted, failed, detail


def result_line(sp, trace, metrics, layers, attempted, failed, correct):
    wanted = sp["per_layer"] if trace else sp["end_to_end"]
    values = layers if trace else metrics
    out = {}
    for m in wanted:
        v = values.get(m["name"], float("nan"))
        out[m["name"]] = {"value": None if v != v else v, "unit": m["unit"]}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": out})


# -------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fail")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args(argv)
    started = time.time()
    phases = {}

    def phase(name, t0):
        phases[name] = time.time() - t0

    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        raise SystemExit("run from the root of a checkout of the repo: "
                         "build.sbt and src/main are missing here")
    sp = spec()
    bb = os.path.join(root, ".bench_build")
    os.makedirs(bb, exist_ok=True)
    t0 = time.time()
    cp = build(root, bb)
    phase("build_s", t0)

    variant = a.seed % VARIANTS
    t0 = time.time()
    data, gen_info = inputs(bb, a.workload, variant)
    phase("inputs_s", t0)
    work = os.path.join(bb, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    calib = [calibrate()]
    # -Xms: the heap starts at 2 GB, so no pass pays for G1 growing it again
    # after the full GC the harness runs between passes
    cmd = (["java", "-Xms2g", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "org.apache.spark.perfbench.Harness",
            "--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--result", f"{work}/result.json"] +
           (["--inject-fail", a.inject_fail] if a.inject_fail else []))
    log_path = f"{work}/harness.log"
    t0 = time.time()
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            # the build may take long on a fresh checkout; the limit is for the rest
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started - phases["build_s"])))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness exceeded the run limit; log: {log_path}")
    if proc.returncode != 0 or not os.path.exists(f"{work}/result.json"):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed (exit {proc.returncode})")
    phase("harness_s", t0)
    calib.append(calibrate())
    with open(f"{work}/result.json") as f:
        res = json.load(f)
    t0 = time.time()

    # ---- output checks (untimed, once per run)
    if a.workload == "omim_release":
        found = checks.check_release(a.workload, variant, f"{work}/release",
                                     gen_info["expect"], a.record)
        op_ok = {"omim_release": all(r["ok"] for r in found.values())}
    else:
        with open(f"{work}/oracle_sql.json") as f:
            oracles = json.load(f)
        found = checks.check_queries(a.workload, variant, data, work, oracles, a.record)
        op_ok = {o: found.get(o, {}).get("ok", False) for o in res["ops"]}
    for k, r in found.items():
        if not r["ok"]:
            log(f"check failed: {k}: got {r['got']} want {r['want']} ({r['source']})")

    phase("checks_s", t0)
    metrics, layers, attempted, failed, detail = aggregate(res, op_ok, calib)
    correct = failed == 0 and all(op_ok.values()) and all(
        v == v for v in metrics.values())

    runs = os.path.join(bb, "runs")
    os.makedirs(runs, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    with open(os.path.join(runs, name + ".json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "variant": variant,
                   "trace": a.trace, "seconds": a.seconds, "correct": correct,
                   "attempted": attempted, "failed": failed, "metrics": metrics,
                   "layers": layers, "detail": detail, "host.calib_s": calib_s(calib),
                   "calibration": calib,
                   "checks": found, "generated": gen_info, "harness": res,
                   "phases": phases, "wall_s": time.time() - started}, f, indent=1)
    if a.trace:
        shutil.copy(f"{work}/spans.jsonl", os.path.join(runs, name + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    log(f"host.calib_s {calib_s(calib):.3f}; "
        f"run record {os.path.join(runs, name + '.json')}; wall {time.time() - started:.1f}s")
    print(result_line(sp, a.trace, metrics, layers, attempted, failed, correct))
    return 0


if __name__ == "__main__":
    sys.exit(main())
