#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload sync_cycle --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --trace 0
    python3 perfbench/run.py --selfcheck

The first run builds the engine and the benchmark from source with sbt (the
benchmark's own build in this directory pulls in the engine's sources) and
caches the class path under .bench_build/perfbench, keyed by a digest of every
source and build file. Each run then starts one JVM that sets up the workload,
runs it closed-loop and writes a JSON artifact to .bench_build/perfbench/runs.
The last line printed is the result object. --seconds defaults to run_seconds
in BENCHMARK.json. perfbench/NOTES.md describes the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("sync_cycle", "corpus_ingest", "vector_probe")
HEAP = "3g"
YOUNG = "512m"
RUN_LIMIT_S = 170    # a run, build excluded, ends within this
BUILD_LIMIT_S = 600  # the first run in a checkout builds first

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the list of org.apache.spark.launcher.JavaModuleOptions).
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


def source_digest():
    """Digest of every file the build reads: engine and benchmark."""
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, work, args):
    # A fixed heap and young generation: with adaptive sizing the resident
    # set grows with GC timing, and peak_rss_mb varied by a third run to run.
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}"] +
            [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/tmp",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Dderby.stream.error.file={work}/derby.log",
             "-cp", classpath, "graft.perfbench.Main"] + args)


def build():
    """Returns (class path, digest), building when the sources changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources: {need} is missing next to perfbench/")
    digest = source_digest()
    stamp = os.path.join(OUT, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"], digest
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    # the build resolves nothing remotely: every jar is already on the host
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE,
                                stderr=subprocess.STDOUT, text=True, env=env,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("build timed out", 3)
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed, see {log}", 3)
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath, digest


def env_probe(work):
    """Host figures recorded to diagnose a contended window; they never
    filter or adjust a timing."""
    t = time.perf_counter()
    h = hashlib.sha256()
    block = b"\x5a" * (1 << 20)
    for _ in range(64):
        h.update(block)
    cpu_ms = (time.perf_counter() - t) * 1e3
    path = os.path.join(work, "disk_probe.bin")
    t = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(16):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    disk_mb_s = 16 / max(time.perf_counter() - t, 1e-9)
    os.remove(path)
    return {"time": time.time(), "loadavg": list(os.getloadavg()),
            "cpu_probe_sha256_64mb_ms": cpu_ms,
            "disk_probe_write_fsync_mb_s": disk_mb_s}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run(workload, seed, seconds, trace, scale="full"):
    """Runs one workload in a fresh JVM; returns (result, artifact path)."""
    classpath, digest = build()
    started = time.monotonic()
    runs = os.path.join(OUT, "runs")
    work = os.path.join(OUT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    artifact = os.path.join(runs, f"{workload}-seed{seed}-trace{trace}-{scale}.json")
    env_start = env_probe(work)
    cmd = java_cmd(classpath, work,
                   ["--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace), "--scale", scale,
                    "--out", artifact, "--work", work])
    log = os.path.join(runs, f"{workload}-seed{seed}-trace{trace}-{scale}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            limit = max(10, RUN_LIMIT_S - (time.monotonic() - started))
            out, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{workload} did not finish in time, see {log}", 4)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} failed (exit {proc.returncode}), see {log}", 5)
    result = json.loads(lines[-1])
    env_end = env_probe(work)
    shutil.rmtree(work, ignore_errors=True)
    with open(artifact) as fh:
        art = json.load(fh)
    art["env"] = {"nproc": os.cpu_count(), "heap_cap": HEAP, "young_gen": YOUNG,
                  "seed": seed,
                  "git_commit": git_commit(), "source_digest": digest,
                  "start": env_start, "end": env_end}
    with open(artifact, "w") as fh:
        json.dump(art, fh, indent=1)
    return result, artifact


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def selfcheck():
    """Tiny run of every workload, traced and untraced: every named metric
    is emitted with its unit and every output check ran."""
    spec = benchmark_spec()
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            result, artifact = run(w, 7, 8, trace, scale="tiny")
            with open(artifact) as fh:
                art = json.load(fh)
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want[trace]))}"
                                f" differ from BENCHMARK.json")
            if art["checks_not_run"]:
                problems.append(f"{w} trace={trace}: checks never ran: {art['checks_not_run']}")
            if not result["correct"]:
                problems.append(f"{w} trace={trace}: outputs incorrect: {art['failures'][:3]}")
            if trace == 1 and art["per_layer"]["trace.coverage"] < 0.9:
                problems.append(f"{w}: top-level spans cover only "
                                f"{art['per_layer']['trace.coverage']:.2f} of the traced wall")
            print(f"selfcheck {w} trace={trace}: {len(got)} metrics, "
                  f"checks {art['checks']}")
    for p in problems:
        print(f"selfcheck FAIL {p}")
    print(json.dumps({"selfcheck": "fail" if problems else "ok"}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="length of a timed phase; BENCHMARK.json's run_seconds by default")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        sys.exit(selfcheck())
    if not a.workload:
        fail("--workload is required")
    if a.seconds is None:
        a.seconds = benchmark_spec()["run_seconds"]
    if a.workload != "all":
        result, _ = run(a.workload, a.seed, a.seconds, a.trace)
        print(json.dumps(result))
        return
    # every workload for one seed: each metric by name with its unit
    results = {}
    for w in WORKLOADS:
        results[w], _ = run(w, a.seed, a.seconds, a.trace)
        for name, m in results[w]["metrics"].items():
            print(f"{w} {name} {m['value']:.6g} {m['unit']}")
        print(f"{w} correct={results[w]['correct']} attempted={results[w]['attempted']} "
              f"failed={results[w]['failed']}")
    print(json.dumps(results))
    sys.exit(0 if all(r["correct"] for r in results.values()) else 1)


if __name__ == "__main__":
    main()
