#!/usr/bin/env python3
"""graft benchmark: one workload, one client, closed loop.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest [--seed <n>]

Builds the program and the harness (perfbench/harness, sbt) when their
sources changed, generates the workload's inputs from the seed (once per
workload and seed, checksum-verified on reuse), runs the harness JVM,
checks its outputs against the DuckDB oracle, and prints a run record
followed by one JSON result line as the last line of stdout. See
perfbench/README.md for the workloads and metrics.
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import check  # noqa: E402

# Input sizes. The olap base is replicated with ScaleUp-style key shifting
# (`copies`); news_ingest's raw news rows are cut into `batches`.
WORKLOADS = {
    "olap_marts_10x": {"sf": 0.003, "copies": 10},
    "iterative_kernels": {"sf": 0.003, "copies": 1},
    "news_ingest": {"sf": 0.01, "copies": 1, "batches": 2},
}
SETUPS = 3
# a run after the build, output check included, must end well inside 180 s
JVM_TIMEOUT_S = 160

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Driver heap as the repository's test gate sizes it: half of
    MemTotal in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_files():
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt when sources changed; returns
    the runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("sources") == digest:
            return b["classpath"], digest
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    # resolve only from the local caches, never the network
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), stdout=f, env=env,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed", 1)
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cp[-1]}, f)
    return cp[-1], digest


def java(cp, args, log, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_mem()
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"]
           + [x for k, v in args.items() for x in (f"--{k}", str(v))])
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"harness JVM failed ({rc}); log in {log}", 1)


def inputs(workload, seed):
    """Generated tables (and, for news_ingest, the verified landing
    batches the harness cut from them on an earlier run, if any)."""
    spec = WORKLOADS[workload]
    ddir = os.path.join(WORK, "data", f"{workload}-{seed}")
    man = gen.ensure(ddir, spec["sf"], spec["copies"], seed, nproc())
    if workload == "news_ingest":
        news, mpath = news_paths(ddir)
        ok = os.path.exists(mpath)
        if ok:
            with open(mpath) as f:
                nm = json.load(f)
            ok = (nm["batches"] == spec["batches"]
                  and gen.checksum(news)[0] == nm["sha256"])
        if ok:
            man = dict(man, news=nm)
        else:
            shutil.rmtree(news, ignore_errors=True)
    return ddir, man


def news_paths(ddir):
    return os.path.join(ddir, "news"), os.path.join(ddir, "news.json")


def record_news(ddir, man):
    """Checksum the landing batches the harness just cut."""
    if "news" in man:
        return man
    news, mpath = news_paths(ddir)
    digest, nbytes = gen.checksum(news)
    nm = {"sha256": digest, "bytes": nbytes,
          "batches": WORKLOADS["news_ingest"]["batches"]}
    with open(mpath, "w") as f:
        json.dump(nm, f)
    return dict(man, news=nm)


def man_tables(ddir):
    return os.path.join(ddir, "tables")


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are not in this checkout")
    if not a.selftest and not a.workload:
        die("--workload is required")
    cp, digest = build()
    t_start = time.time()
    workload = "olap_marts_10x" if a.selftest else a.workload
    ddir, man = inputs(workload, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    base = {"tables": man_tables(ddir), "cpus": nproc(), "work": WORK,
            "out": run_dir}
    if a.selftest:
        log = os.path.join(run_dir, "selftest.log")
        alt = os.path.join(run_dir, "alt-tables")
        shutil.copytree(man_tables(ddir), alt)
        java(cp, dict(base, mode="selftest", alt=alt), log, 600)
        with open(log) as f:
            line = [l for l in f if l.startswith('{"selftest"')][-1]
        print(line.strip())
        return
    left = JVM_TIMEOUT_S - (time.time() - t_start)
    java(cp, dict(base, mode="run", workload=workload, seed=a.seed,
                  seconds=a.seconds, trace=a.trace,
                  setups=SETUPS, news=news_paths(ddir)[0],
                  batches=WORKLOADS[workload].get("batches", 0)),
         os.path.join(run_dir, "harness.log"), max(30, left))
    if workload == "news_ingest":
        man = record_news(ddir, man)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(run_dir, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f if l.strip()]

    checks = check.run_checks(workload, run_dir, man_tables(ddir))
    n_bad = sum(1 for c in checks if not c["ok"])
    attempted = res["attempted"] + len(checks)
    failed = len(res["failures"]) + n_bad
    e2e, layers, detail = check.metrics(workload, spans, res, a.trace == 1)
    e2e_err = failed / attempted
    layers["error_rate"] = e2e_err
    record = {
        "record": "perfbench", "workload": workload, "seed": a.seed,
        "trace": a.trace, "seconds": a.seconds,
        "metadata": {
            "nproc": nproc(), "master": res["master"],
            "driver_heap": driver_mem(), "heap_mb": res["heap_mb"],
            "sf": WORKLOADS[workload]["sf"],
            "copies": WORKLOADS[workload]["copies"],
            "git_sha": git_sha(), "source_sha256": digest,
            "spark_version": res["spark_version"],
            "java_version": res["java_version"],
            "input_sha256": man["sha256"],
            "news_sha256": man.get("news", {}).get("sha256"),
        },
        "inputs": {"rows": man["rows"], "bytes": man["bytes"],
                   "news_bytes": man.get("news", {}).get("bytes")},
        "error_rate": e2e_err, "failures": res["failures"],
        "checks": checks, "setups_s": res["setups_s"], **detail,
    }
    print(json.dumps(record))
    units = check.UNITS
    metrics = layers if a.trace == 1 else e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
