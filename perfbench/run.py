#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke            # every workload, tiny, in one JVM
    python3 perfbench/run.py --workload <name> --record   # re-record answers

Run from the repository root. The first run builds graft and the
benchmark from the sources in the checkout (sbt, offline); later runs
reuse the build while no source file changed. Each run starts one JVM
with a heap sized from MemTotal and ParallelGC, runs the workload,
checks its outputs, and prints a host line, a summary line and, last,
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ["cdc_tail", "clean_corpus"]

# Spark on JDK 17+ outside spark-submit needs these (the same list graft's
# build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Size and mtime of every file the build reads."""
    roots = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    h = hashlib.sha256()
    for r in roots:
        files = [r] if r.is_file() else sorted(
            p for p in r.rglob("*") if p.is_file() and "target" not in p.parts)
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    fp = source_fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building graft and the benchmark (sbt)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "--error",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l.strip() for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    WORK.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(fp)
    return lines[-1]


def heap_size():
    """Half of MemTotal in GiB, between 2 and 8 (as graft's tier-1 runs)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, args, timeout, log_name):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    heap = heap_size()
    # a fixed heap size keeps the collector from resizing generations
    # at moments that differ run to run, which would scatter peak RSS
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--work", str(WORK / "run"),
            "--expected", str(HERE / "expected.json")] + args
    log = WORK / log_name
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {timeout} s (log: {log})")
    return proc.returncode, out, log


def results(out):
    """RESULT lines of the JVM's stdout: workload → parsed JSON."""
    res = {}
    for line in out.splitlines():
        if line.startswith("RESULT "):
            _, name, body = line.split(" ", 2)
            res[name] = json.loads(body)
    return res


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def declared(trace):
    return spec()["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft's sources are not beside the benchmark (looked in {ROOT})")
    cp = build()

    if a.smoke:
        smoke = [w["name"] for w in spec()["workloads"]]
        args = ["--workload", ",".join(smoke), "--small", "--seconds", "2", "--trace", "1",
                "--seed", str(a.seed)] + (["--record"] if a.record else [])
        code, out, log = run_jvm(cp, args, 600, "smoke.log")
        res = results(out)
        sys.stdout.write(out)
        bad = [w for w in smoke if not res.get(w, {}).get("correct")]
        if code != 0 or bad:
            fail(f"smoke check failed for {bad or 'the JVM'} (log: {log})", 1)
        print("perfbench: smoke check ok for " + ", ".join(smoke))
        return

    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.record:
        args.append("--record")
    # a fixed allowance for JVM start, set-up and checks, plus the window
    code, out, log = run_jvm(cp, args, 140 + 3 * a.seconds, f"{a.workload}.log")
    res = results(out).get(a.workload)
    if res is None:
        sys.stderr.write(out[-4000:])
        fail(f"no result (exit {code}, log: {log})", 1)
    for line in out.splitlines():
        if not line.startswith("RESULT "):
            print(line)
    metrics = {}
    for m in declared(a.trace):
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite: {v!r}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": bool(res["correct"]) and code == 0,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
