#!/usr/bin/env python3
"""Build and run the pjbench benchmark.

    python3 pjbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository's
main sources together with the benchmark (sbt, offline) and records the
class path; later runs reuse it until a source file changes. Every run
works in a fresh directory under pjbench/work and removes it afterwards.
The last line of standard output is the run's result object.

    python3 pjbench/run.py --workload <name> --steady 10 [--seed 1] [--trace 0]

Steadiness mode: runs the workload once per seed (seed, seed+1, ...) and
prints, for each metric, its median, quartiles and spread (IQR / median)
next to the bound in BENCHMARK.json.

Extra flags for the smoke tests: --tiny (small inputs) and
--wrong-expectation (perturb every expected answer; the run must fail).
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
STAMP = TARGET / "pjbench.stamp"
CLASSPATH = TARGET / "pjbench.classpath"
WORKLOADS = ("wide_open", "many_files", "dml_churn", "operator_floor")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# what SparkSession needs on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[pjbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the root build and main sources, and the
    benchmark's own build and sources."""
    roots = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
             BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no repository sources next to the benchmark (expected {ROOT}/build.sbt "
             "and src/main/scala/graft); run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if STAMP.is_file() and CLASSPATH.is_file() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    TARGET.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = Path.home() / ".sbt" / "repositories"
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if repos.is_file():
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = TARGET / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env,
                timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {log}", 3)
    lines = log.read_text().splitlines()
    if r.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}", 3)
    cp = lines[-1].strip()
    CLASSPATH.write_text(cp)
    STAMP.write_text(stamp)
    print(f"[pjbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def run_once(args, cp):
    work = BENCH / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # C1 only: the JIT settles within the warm-up instead of recompiling
    # Spark's driver code through the timed phase; one GC thread
    cmd = ["java", "-Xms1g", "-Xmx2g", "-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", cp, "pjbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    if args.tiny:
        cmd.append("--tiny")
    if args.wrong_expectation:
        cmd.append("--wrong-expectation")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run timed out after {RUN_TIMEOUT_S}s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def steady(args, cp):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    key = "per_layer" if args.trace else "end_to_end"
    bounds = {m["name"]: m.get("bound") for m in spec[key]}
    values = {}
    for k in range(args.steady):
        a = argparse.Namespace(**{**vars(args), "seed": args.seed + k})
        code, out = run_once(a, cp)
        lines = out.strip().splitlines()
        res = json.loads(lines[-1])
        if code != 0 or not res["correct"]:
            fail(f"seed {a.seed}: run failed (exit {code})", code or 1)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        # the named figures and the host probe, to tell host drift from a
        # change in the program
        info = json.loads(lines[-2])
        for name in ("op_p50_ms", "ops_per_s"):
            values.setdefault(name, []).append(info["named"][name]["value"])
        calib = info["calibration_s"]
        values.setdefault("calibration_s", []).append(calib)
        print(f"[pjbench] seed {a.seed}: calibration_s={calib:.4g}, " + ", ".join(
            f"{n}={m['value']:.6g}" for n, m in res["metrics"].items()), file=sys.stderr)
    print(f"{'metric':<40} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(name)
        flag = "" if b is None else ("ok" if spread < b / 3 else "NOISY" if spread > b else "warn")
        print(f"{name:<40} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} {spread:>8.4f} "
              f"{'' if b is None else b:>6} {flag}")
    print(json.dumps({"workload": args.workload, "seeds": args.steady, "values": values}))


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0, metavar="N")
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--wrong-expectation", action="store_true")
    args = p.parse_args()
    cp = build()
    if args.steady:
        steady(args, cp)
        return
    code, out = run_once(args, cp)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
