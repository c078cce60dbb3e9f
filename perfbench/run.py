#!/usr/bin/env python3
"""Benchmark of the RTCM monitor: batch ingest, dashboard refresh and a
live stream panel. See README.md.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark with sbt and keeps the classpath in `.bench_build/perfbench`;
later runs reuse it while the sources are unchanged. Each run starts
one JVM with one `local[N]` Spark session (N = usable CPUs), checks the
outputs, and prints one JSON object as the last line of stdout.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402

WORKLOADS = ("ingest_batch", "dashboard", "ingest_stream")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(HERE, "work")
# the dashboard's tables: byte copies of the sf0.1 test data (TESTDATA.md)
# the panels are written for, checked before a run reads them
SF01_DIR = os.path.join(HERE, "sf0.1")
SF01_SHA256 = {
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "customer": "d5de58d671fa7dbf8805a2fe4f0aee2b570201207c126f9b6069226b42bb1b2b",
    "orders": "128b7e8c223a3934181f7cbfc5460df52b322ea79ec980fd0e0064da08f8e3d3",
    "lineitem": "e2be01994986260d75f144c52a2648eb294f82e5ba86f32e7a84230be01856d2",
    "events": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
}
DEADLINE_S = 170  # a run must end within 180 s once built
# a fixed heap: no heap resizing during the run (measured: steadier and
# faster dashboard passes than a growing heap)
JVM_HEAP = "2g"
# what spark-submit would pass on JDK 17 (the program's build.sbt has the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build comes from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the classpath."""
    digest = sources_digest()
    cp_file = os.path.join(BUILD_DIR, f"classpath-{digest[:16]}")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    log("building the program and the benchmark with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(BUILD_DIR)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(classpath, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    # the JVM's stdout goes to stderr: stdout carries only the result
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.run(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=max(10, deadline - time.monotonic()))
    if p.returncode != 0:
        raise SystemExit(f"benchmark JVM exited with {p.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def table_rows(data, tables):
    return {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
            for t in tables}


def evaluate(res):
    """Checks every round's outputs, apart from the program, and reduces
    the samples of the operations that passed to metric values."""
    w, fin, rounds = res["workload"], res["finish"], res["rounds"]
    wrong = set()
    if w == "dashboard":
        for name, problems in sorted(checks.check_dashboard(fin).items()):
            if problems:
                wrong.add(name)
                log(f"{name}: {problems[0]}")
    attempted = failed = 0
    samples, clean, items, busy = [], [], 0.0, 0.0
    for r in rounds:
        attempted += r["attempted"]
        if w == "dashboard":
            bad = set(r["failed"]) | wrong
            good = [ms for k, ms in r["ops"] if k not in bad]
            n_bad = len(bad)
        else:
            if r["failed"]:
                problems = ["threw"]
            elif w == "ingest_batch":
                problems = checks.check_ingest(r["info"]["land"], fin["expected"])
            else:
                problems = checks.check_stream(r["info"], fin["expected"], fin["flush_mount"])
            for p in problems[:5]:
                log(f"{r['info']['key']}: {p}")
            good = [] if problems else [ms for _, ms in r["ops"]]
            n_bad = r["attempted"] if problems else 0
        failed += n_bad
        samples += good
        if n_bad == 0:
            # only rounds in which every operation passed its check
            clean.append(r)
            items += r["items"]
            busy += r["busy_s"]
    # no operation of any workload may fail: one that does makes the run wrong
    correct = bool(clean) and failed == 0
    values = {}
    if clean:
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "round_s": statistics.median(r["wall_s"] for r in clean),
            "items_per_s": items / busy,
            "op_p50_ms": statistics.median(samples),
        }
    if w == "dashboard" and clean:
        per_panel = {}
        for r in clean:
            for k, ms in r["ops"]:
                per_panel.setdefault(k, []).append(ms)
        log("median panel (ms) " + ", ".join(
            f"{k} {statistics.median(v):.0f}" for k, v in sorted(per_panel.items())))
    log(f"{w}: {len(samples)} operation samples; rounds (s) "
        f"{[round(r['wall_s'], 2) for r in rounds]}; set-ups (s) "
        f"{[round(x, 2) for x in res['setup_s']]}; "
        f"phases (s) { {k: round(v, 2) for k, v in res['phases_s'].items()} }; "
        f"input {fin.get('input') or table_rows(fin['data'], fin['tables'])}")
    return correct, attempted, failed, values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit(f"no program sources under {ROOT}: run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    deadline = time.monotonic() + DEADLINE_S
    shutil.rmtree(WORK_ROOT, ignore_errors=True)
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}")
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--cpus", str(len(os.sched_getaffinity(0))), "--work", work]
        if a.workload == "dashboard":
            for name, digest in SF01_SHA256.items():
                with open(os.path.join(SF01_DIR, f"{name}.parquet"), "rb") as fh:
                    if hashlib.sha256(fh.read()).hexdigest() != digest:
                        raise SystemExit(f"{SF01_DIR}/{name}.parquet is not the sf0.1 table")
            args += ["--data", SF01_DIR]
        t0 = time.monotonic()
        res = run_jvm(classpath, args, work, deadline)
        t1 = time.monotonic()
        correct, attempted, failed, values = evaluate(res)
        log(f"jvm {t1 - t0:.1f} s, checks {time.monotonic() - t1:.1f} s")
        if a.trace == "1":
            chosen = spec["per_layer"]
            values = {m["name"]: res["layers"].get(m["name"], 0.0) for m in chosen}
        else:
            chosen = spec["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in chosen if m["name"] in values}
        if values and len(metrics) != len(chosen):
            raise SystemExit(f"metrics not measured: {[m['name'] for m in chosen if m['name'] not in values]}")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(WORK_ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
