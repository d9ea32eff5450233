#!/usr/bin/env python3
"""ETL benchmark driver for graft.

Usage (from the repository root):

    python3 etlbench/run.py --workload acon_etl --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
state; later runs reuse the build), runs one workload in a fresh JVM, prints
a readable summary and, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones.

Everything the benchmark builds or writes stays in the checkout: the build,
logs and result files under .bench_build/, a run's data under
etlbench_work/ (deleted when the run ends). Exits non-zero, printing no
result, when the engine's sources are not there or the build or the run
fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("acon_etl", "curation_corpus", "versioned_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (which adds them itself).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                stderr=out, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    out_lines = p.stdout.strip().splitlines()
    with open(log, "a") as f:
        f.write(p.stdout)
    if p.returncode != 0 or not out_lines:
        fail(f"build failed (see {log}):\n" + "\n".join(out_lines[-20:]))
    cp = out_lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def print_summary(res):
    d = res.get("detail", {})
    print(f"== etlbench {d.get('workload')} seed={d.get('seed')} "
          f"traced={d.get('traced')} rounds={d.get('rounds')}")
    print("generator: " + json.dumps(d.get("generator", {}), sort_keys=True))
    print("setup: " + json.dumps(d.get("setup", {})))
    for m, v in sorted(res["metrics"].items()):
        print(f"  {m:<34} {v['value']:>16.6g} {v['unit']}")
    for lat in d.get("latency", []):
        tail = lat["tail"]
        tail_s = (f"p{tail['pct']}={tail['value_s']:.4f}s of {tail['samples']}"
                  if isinstance(tail, dict) else tail)
        print(f"  latency {lat['class']:<5} {lat['kind']:<22} n={lat['n']:<3} "
              f"p50={lat['p50_s']:.4f}s  tail: {tail_s}")
    for k, v in sorted(d.get("run_level", {}).items()):
        print(f"  run-level {k:<32} {v:.6g}")
    table = d.get("self_time_table") or {}
    if table:
        layers = sorted({l for row in table.values() for l in row} - {"wall"})
        print("  self time per round (ms): " + " ".join(
            f"{l:>9}" for l in layers + ["wall"]))
        for kind in sorted(table):
            row = table[kind]
            print(f"    {kind:<24}" + " ".join(
                f"{row.get(l, 0.0):9.1f}" for l in layers + ["wall"]))
    print(f"  ops attempted={res['attempted']} failed={res['failed']} "
          f"ops_failed={d.get('ops_failed', 0):.4f} "
          f"checks passed={d.get('checks_passed')} "
          f"failed={len(d.get('checks_failed', []))} correct={res['correct']}")
    for c in d.get("checks_failed", [])[:20]:
        print(f"  CHECK FAILED: {c}")
    for c in d.get("failures", [])[:20]:
        print(f"  OP FAILED: {c}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"engine sources not found next to {HERE}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = build()
    # data lives outside the dot-named build dir: AppendLoad skips every
    # file whose absolute path contains "/." (a known engine defect)
    work = os.path.join(ROOT, "etlbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "etlbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(BUILD, f"run-{a.workload}.log")
    t0 = time.time()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=lf)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S}s (log: {log})")
    if rc != 0 or not os.path.isfile(out):
        shutil.rmtree(work, ignore_errors=True)
        with open(log) as lf:
            tail = lf.read().splitlines()[-30:]
        fail(f"run failed with code {rc} (log: {log}):\n" + "\n".join(tail))
    with open(out) as f:
        res = json.load(f)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    keep = os.path.join(BUILD, "results",
                        f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    shutil.copyfile(out, keep)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass

    print_summary(res)
    print(f"  run wall {time.time() - t0:.1f}s; full result: {keep}")
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
