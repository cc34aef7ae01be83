#!/usr/bin/env python3
"""Build and run graft's benchmark.

One run (the form the benchmark contract uses):

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 10 --trace 0

prints progress on stderr and, as the last line of stdout, one JSON object
{"correct", "attempted", "failed", "metrics"}. --trace 0 gives the
end-to-end metrics, --trace 1 the per-layer ones (and writes the span
artifact under perfbench/out/).

Other modes:

    python3 perfbench/run.py --report [--trace 0|1]
        every workload once; a table of every metric with its unit
    python3 perfbench/run.py --stability 10 [--sets 2] [--workloads a,b]
        each workload N times per set, each run with its own seed; the
        median, quartiles and spread of every end-to-end metric against
        its bound in BENCHMARK.json, and whether the sets agree

The first run in a checkout compiles graft's sources (../src/main/scala)
together with the harness with sbt, offline; later runs reuse the build
while no source file changed.
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
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "perfbench.classpath")
# the benchmark's workloads come from BENCHMARK.json; denorm_etl and
# corpus_build (the two halves of batch_etl) also run on their own
WORKLOADS = ["batch_etl", "table_upkeep", "denorm_etl", "corpus_build"]
HEAP = "3g"
# a run must end within 180 s; past this the JVM is killed and the run fails
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) unless the last build saw the same sources."""
    if not os.path.isdir(SRC):
        log(f"graft sources not found at {os.path.relpath(SRC, os.getcwd())}; nothing to build")
        sys.exit(2)
    fp = source_fingerprint()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        sys.exit(2)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft + harness with sbt (offline) ...")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    cp = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l
          and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    os.makedirs(TARGET, exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(fp + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def run_once(cp, workload, seed, seconds, trace):
    """One JVM run; returns the parsed result line, or None on failure."""
    work = os.path.join(HERE, "work", f"{workload}-{seed}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
              f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"{workload}: timed out after {RUN_TIMEOUT_S} s")
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log(f"{workload}: exit code {proc.returncode}")
        return None
    return json.loads(lines[-1])


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench_workloads(args):
    if args.workloads:
        return args.workloads.split(",")
    return [w["name"] for w in bench_spec()["workloads"]]


def report(cp, args):
    for w in bench_workloads(args):
        r = run_once(cp, w, args.seed, args.seconds, args.trace)
        if r is None:
            print(f"{w}: FAILED")
            continue
        err = r["failed"] / r["attempted"]
        print(f"{w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              f"error_rate={err:.4f}")
        for k, m in sorted(r["metrics"].items()):
            print(f"  {k:44s} {m['value']:>16.4f} {m['unit']}")


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def stability(cp, args):
    spec = bench_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    workloads = bench_workloads(args)
    summary = {}
    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            vals = {k: [] for k in metrics}
            failed = 0
            for i in range(args.stability):
                seed = args.seed + 1000 * s + i
                t0 = time.monotonic()
                r = run_once(cp, w, seed, args.seconds, 0)
                wall = time.monotonic() - t0
                if r is None or not r["correct"]:
                    failed += 1
                    continue
                for k in metrics:
                    vals[k].append(r["metrics"][k]["value"])
                log(f"{w} set {s + 1} seed {seed} ({wall:.0f} s): " + ", ".join(
                    f"{k}={r['metrics'][k]['value']:.4g}" for k in metrics))
            sets.append((vals, failed))
        summary[w] = {}
        print(f"== {w}")
        for k, m in metrics.items():
            row = {}
            for s, (vals, failed) in enumerate(sets):
                xs = vals[k]
                if len(xs) < 4:
                    row[f"set{s + 1}"] = {"n": len(xs), "failed": failed}
                    ok = False
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else float("inf")
                row[f"set{s + 1}"] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                      "n": len(xs), "failed": failed}
                if spread > m["bound"]:
                    ok = False
                print(f"  {k:12s} set{s + 1}: median {med:12.4f} {m['unit']:6s} q1 {q1:12.4f} "
                      f"q3 {q3:12.4f} spread {spread:6.3f} (bound {m['bound']}, third "
                      f"{m['bound'] / 3:.3f}) n={len(xs)} failed={failed}")
            if len(sets) > 1 and all("median" in row.get(f"set{s + 1}", {}) for s in range(len(sets))):
                a, b = row["set1"]["median"], row[f"set{len(sets)}"]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                row["second_vs_first_worse_by"] = worse
                if worse > m["bound"]:
                    ok = False
                print(f"  {k:12s} second median worse by {worse:+.3f} (bound {m['bound']})")
            summary[w][k] = row
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "stability.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print("stable" if ok else "NOT stable")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=0,
                    help="measured seconds per run (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--stability", type=int, default=0, metavar="N")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    if not args.seconds:
        args.seconds = bench_spec()["run_seconds"]
    cp = build()
    if args.stability:
        sys.exit(stability(cp, args))
    if args.report:
        report(cp, args)
        return
    if not args.workload:
        ap.error("--workload is required")
    r = run_once(cp, args.workload, args.seed, args.seconds, args.trace)
    if r is None:
        sys.exit(1)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
