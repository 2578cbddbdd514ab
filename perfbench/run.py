#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) into `.bench_build/`; later runs start one JVM
for the workload. The last line on stdout is the result:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics
of BENCHMARK.json when --trace 0 and the per-layer ones when --trace 1.
Workload definitions and metric meanings are in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.01")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# Per-layer metric groups each workload measures; the other groups' metrics
# read 0 on it.
OWNED = {
    "ingest_serve": {"index", "analysis", "query", "streaming", "load",
                     "host", "tracing"},
    "oracle_suite": {"harness", "host", "tracing"},
}
# Runs whose calibration spin exceeds this multiple of the first run's in
# this checkout are flagged as contended (and kept).
CONTENDED = 1.5

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = []
    for pat in ("build.sbt", "project/*.sbt", "project/build.properties",
                "src/main/**/*", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/src/main/**/*"):
        files += glob.glob(os.path.join(ROOT, pat), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_child(cmd, cwd, timeout, log_path, env=None):
    """Run a child in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the run."""
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def ensure_built():
    """Compile the engine and the benchmark; returns the runtime classpath."""
    stamp = os.path.join(OUT, "classpath.json")
    want = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("hash") == want:
            return got["classpath"]
    os.makedirs(OUT, exist_ok=True)
    log("building engine + benchmark with sbt (first run in this checkout)")
    build_log = os.path.join(OUT, "build.log")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"],
                   BENCH, BUILD_TIMEOUT_S, build_log, env=sbt_env())
    if rc != 0:
        die(f"sbt build failed (rc={rc}):\n{tail(build_log)}", 3)
    cps = [l.strip() for l in open(build_log) if ".jar" in l and ":" in l
           and not l.startswith("[")]
    if not cps:
        die(f"sbt printed no classpath:\n{tail(build_log)}", 3)
    with open(stamp, "w") as fh:
        json.dump({"hash": want, "classpath": cps[-1]}, fh)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1]


def oracle_check(out_dir):
    """Run the repository's DuckDB oracle comparison (tools/check_oracle.py)
    on the timed pass's results. Returns (checked, failed lines)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        DATA, out_dir], capture_output=True, text=True,
                       timeout=RUN_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith(("PASS ", "FAIL "))]
    bad = [l for l in lines if l.startswith("FAIL ")]
    if p.returncode != 0 and not bad:
        bad = [f"FAIL check_oracle.py exited {p.returncode}: {p.stderr[-500:]}"]
    return max(len(lines), 1), bad


def cpu_ticks():
    """(total, steal) CPU ticks of this machine from /proc/stat."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:]]
    return sum(t), t[7]


def contention(calib_before, calib_after):
    """Flag a run whose calibration spin ran 1.5x slower than the first
    run's in this checkout (the run is kept)."""
    path = os.path.join(OUT, "first_calib.json")
    if not os.path.isfile(path):
        with open(path, "w") as fh:
            json.dump({"first_calib_ms": calib_before}, fh)
    with open(path) as fh:
        first = json.load(fh)["first_calib_ms"]
    return 1.0 if max(calib_before, calib_after) > CONTENDED * first else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still kills and waits for its JVM (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", "src/main/scala", "tools/check_oracle.py",
                 "perfbench/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"missing {need}: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    if a.workload == "oracle_suite" and not os.path.isdir(DATA):
        die(f"missing testdata {DATA}")

    cp = ensure_built()
    work = os.path.join(OUT, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", result, "--data", DATA])
    jvm_log = os.path.join(OUT, f"jvm-{a.workload}.log")
    ticks0 = cpu_ticks()
    try:
        rc = run_child(cmd, work, RUN_TIMEOUT_S, jvm_log)
    except subprocess.TimeoutExpired:
        die(f"workload JVM exceeded {RUN_TIMEOUT_S}s:\n{tail(jvm_log)}", 1)
    if rc != 0 or not os.path.isfile(result):
        die(f"workload JVM failed (rc={rc}):\n{tail(jvm_log)}", 1)
    with open(result) as fh:
        r = json.load(fh)

    attempted, failed = r["attempted"], r["failed"]
    failures = list(r["failures"])
    if a.workload == "oracle_suite":
        checked, bad = oracle_check(os.path.join(work, "suite", "out"))
        attempted += checked
        failed += len(bad)
        failures += bad
    layer = dict(r["layer"])
    # share of CPU time the hypervisor gave to other guests: a contention
    # label the single-thread calibration spin does not always show
    ticks1 = cpu_ticks()
    layer["host.steal_frac"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
    layer["host.contended"] = contention(layer["host.calib_ms_before"],
                                         layer["host.calib_ms_after"])
    report = dict(r["report"])
    report["host.steal_frac"] = layer["host.steal_frac"]
    report["ops_failed_frac"] = failed / max(attempted, 1)

    if a.trace == 0:
        names = [m["name"] for m in spec["end_to_end"]]
        missing = [n for n in names if r["e2e"].get(n) is None]
        if missing:
            die(f"workload produced no value for {missing}; failures: {failures}", 1)
        metrics = {m["name"]: {"value": r["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        metrics = {}
        for m in spec["per_layer"]:
            v = layer.get(m["name"])
            if v is None and m["name"].split(".")[0] in OWNED[a.workload]:
                # a lost measurement fails the run; it never reads as fast
                attempted += 1
                failed += 1
                failures.append(f"no value for per-layer metric {m['name']}")
            metrics[m["name"]] = {"value": 0.0 if v is None else v,
                                  "unit": m["unit"]}
        report["ops_failed_frac"] = failed / max(attempted, 1)

    details = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "e2e": r["e2e"], "layer": layer, "report": report,
               "failures": failures}
    os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
    with open(os.path.join(OUT, "reports",
                           f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump(details, fh, indent=1)
    for k, v in sorted(report.items()):
        log(f"{k} = {v:.6g}")
    for f in failures:
        log(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
