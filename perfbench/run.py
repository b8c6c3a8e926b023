#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. The first run builds graft and the harness
(sbt, offline) into the build directories sbt uses; later runs reuse the
classpath while the sources are unchanged. Each run generates its inputs
from the seed under `.bench_build/`, starts one JVM for the workload,
checks the outputs, and prints one JSON object as the last line of
stdout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_suite", "stream_push")
SF = 0.01             # scale factor of the generated tables
HEAP = "4g"           # harness JVM heap
JVM_TIMEOUT_S = 170   # hard stop for the workload JVM
# Per-layer metrics that only one workload produces; the traced run of
# any other workload reports them as 0 (that layer does no such work
# there). Every other per-layer metric must come from every workload.
OWNER = [
    (re.compile(r"^(streaming|state)\."), "stream_push"),
    (re.compile(r"^(Materialize|catalyst|family|setup)\.|^ksql\.build_s$"
                r"|^operators\.(build_s|execute_s)$"), "batch_suite"),
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds graft and the harness once per source state; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to perfbench/: run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    log("building graft and the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("could not read the classpath from sbt")
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"workload JVM ended with {code}")


def oracle_check(data, out):
    """The repository's own correctness gate, scripts/compare.py: every
    output against its DuckDB oracle, bit-exact; a query without an oracle
    must return rows. Returns one line per failed query: its FAIL lines,
    empty rows-only results and float columns equal only at a tolerance."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "compare.py"),
                        data, out], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    bad = {}
    for line in p.stdout.splitlines():
        m = (re.match(r"FAIL (\S+): (.*)", line)
             or re.match(r"ROWS-ONLY (\S+): (.* FAIL-EMPTY)", line)
             or re.match(r"\s+TOLERANT-ONLY (\S+?)\.(\S+)", line))
        if m:
            bad.setdefault(m.group(1), []).append(
                m.group(2) if not line.strip().startswith("TOLERANT")
                else f"column {m.group(2)} equal only at 1e-9")
    if p.returncode not in (0, 1) or (p.returncode == 1) != bool(bad):
        sys.stderr.write(p.stdout[-4000:])
        bad.setdefault("compare.py", []).append(f"ended with code {p.returncode}")
    return [f"{q}: {'; '.join(w)}" for q, w in sorted(bad.items())]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = classpath()

    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    sys.path.insert(0, HERE)
    import datagen
    t0 = time.time()
    datagen.generate(data, a.seed, SF)
    t1 = time.time()

    out = os.path.join(work, "result.json")
    run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", work,
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--seed", str(a.seed), "--out", out], work)
    t2 = time.time()
    with open(out) as fh:
        res = json.load(fh)

    mismatches = list(res["mismatches"])
    failed = res["failed"]
    if a.workload == "batch_suite":
        wrong = oracle_check(data, os.path.join(work, "verify"))
        mismatches += wrong
        # a query that threw in the correctness pass is already counted
        thrown = {m.split(":")[0] for m in res["mismatches"]}
        failed += sum(1 for w in wrong if w.split(":")[0] not in thrown)
    res["info"].update(datagen_s=t1 - t0, jvm_s=t2 - t1, check_s=time.time() - t2)
    attempted = res["attempted"]
    for m in mismatches:
        log(f"MISMATCH {m}")
    log("info " + json.dumps(res["info"], sort_keys=True))

    if a.trace:
        log("layers " + json.dumps(res["layers"], sort_keys=True))
        names, values = spec["per_layer"], res["layers"]
    else:
        names, values = spec["end_to_end"], dict(res["metrics"])
        values["success_rate"] = (attempted - failed) / attempted
    metrics, missing = {}, []
    for m in names:
        v = values.get(m["name"])
        owner = next((w for r, w in OWNER if r.search(m["name"])), a.workload)
        if v is None and owner != a.workload:
            v = 0.0
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        fail(f"metrics not produced: {', '.join(missing)}")
    print(json.dumps({"correct": not mismatches,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
