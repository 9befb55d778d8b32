#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark harness (perfbench/scala) with the Scala
compiler shipped in the Spark jars into .bench_build/. Each run then starts
one JVM on local[4] over the inputs in perfbench/data, inside a scratch
root of its own under .bench_run/ that is deleted afterwards.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, the
per-layer ones with --trace 1). The line above it carries the machine
window telemetry of the run and, traced, the layers per op name. Spans of
traced runs go to .bench_out/.

To characterise other ops than a workload's own, pass --ops (a comma list
of SparkEntry queries; ops without an expected digest are reported as
failed) and, for queries that need more tables than perfbench/data holds,
--data with a testdata directory.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                             recursive=True))
    if not any(p.endswith("graft/SparkEntry.scala") for p in main):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    return main + bench


def jvm_flags(tmpdir):
    flags = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags


def classpath(build_dir):
    return os.pathsep.join([os.path.join(build_dir, "app.jar"),
                            os.path.join(spark_jars(), "*")])


def scratch_root(path):
    shutil.rmtree(path, ignore_errors=True)
    for d in ("tmp", "local", "stores"):
        os.makedirs(os.path.join(path, d))
    return path


def build():
    """Compile engine + harness once per source tree into app.jar, then
    archive the classes a short training run loads (app.jsa, class-data
    sharing) so each run's JVM starts faster. Every run starts with the
    archive (-Xshare:on makes an unusable one an error), so a failed
    training run fails the build. Returns the build dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(ROOT, ".bench_build", "perfbench-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    classes = os.path.join(tmp, "classes")
    scratch_root(tmp)
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    t0 = time.time()
    log(f"compiling {len(srcs)} sources")
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}/tmp", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(os.path.join(tmp, "app.jar"), "w",
                         zipfile.ZIP_DEFLATED) as z:
        for base in (classes, os.path.join(ROOT, "src/main/resources")):
            for d, _, files in os.walk(base):
                for name in sorted(files):
                    full = os.path.join(d, name)
                    z.write(full, os.path.relpath(full, base))
    log(f"compiled in {time.time() - t0:.1f}s")
    # the archive records the jar's path, so it is made in place
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    t0 = time.time()
    r = subprocess.run(
        jvm_flags(f"{out}/tmp") +
        [f"-XX:ArchiveClassesAtExit={out}/app.jsa", "-cp", classpath(out),
         "perfbench.Main", "--train", "1", "--root", out,
         "--data", os.path.join(HERE, "data")],
        stdout=sys.stderr, stderr=sys.stderr, timeout=300, cwd=out)
    if r.returncode != 0 or not os.path.exists(f"{out}/app.jsa"):
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: class archive training run failed ({r.returncode})")
    log(f"class archive in {time.time() - t0:.1f}s")
    for d in ("classes", "tmp", "local", "stores"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    open(os.path.join(out, "ok"), "w").close()
    return out


def cpu_stat():
    """(steal jiffies, total jiffies) from /proc/stat; total = user..steal."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def load1():
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", help="comma list of SparkEntry ops to run instead")
    ap.add_argument("--data", default=os.path.join(HERE, "data"))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    build_dir = build()

    run_root = scratch_root(os.path.join(
        ROOT, ".bench_run", f"{a.workload}-s{a.seed}-{os.getpid()}"))
    out = os.path.join(run_root, "result.json")
    cmd = jvm_flags(f"{run_root}/tmp")
    cmd += ["-Xshare:on",
            f"-XX:SharedArchiveFile={os.path.join(build_dir, 'app.jsa')}",
            "-cp", classpath(build_dir), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", run_root, "--out", out,
            "--data", os.path.abspath(a.data),
            "--expected", os.path.join(HERE, "expected.json")]
    if a.ops:
        cmd += ["--ops", a.ops]
    if a.trace:
        spans = os.path.join(ROOT, ".bench_out")
        os.makedirs(spans, exist_ok=True)
        cmd += ["--spans",
                os.path.join(spans, f"spans-{a.workload}-s{a.seed}.jsonl")]

    st0, ld0 = cpu_stat(), load1()
    t_launch = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=run_root)
    try:
        rc = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    wall = time.time() - t_launch
    st1, ld1 = cpu_stat(), load1()
    try:
        if rc != 0:
            raise SystemExit(f"perfbench: JVM exited with {rc}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    steal = (100.0 * (st1[0] - st0[0]) / (st1[1] - st0[1])
             if st0 and st1 and st1[1] > st0[1] else None)
    delay = res["run_delay_ms_per_s"]
    window = {
        "window.load1": (((ld0 or 0.0) + (ld1 or 0.0)) / 2, "count"),
        "window.steal_pct": (steal if steal is not None else -1.0, "%"),
        "window.cal_ms": (res["cal_ms"], "ms"),
        "window.run_delay_ms_per_s": (delay, "ms/s"),
        "scratch.peak_mb": (res["scratch_peak_mb"], "MiB"),
    }
    print(json.dumps({"telemetry": {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "run_s": round(wall, 3), "load1": [ld0, ld1],
        "steal_pct": steal, "run_delay_ms_per_s": delay,
        "cal_ms": res["cal_ms"], "scratch_peak_mb": res["scratch_peak_mb"],
        "attempted": res["attempted"], "failed": res["failed"],
        "fail_frac": res["failed"] / max(1, res["attempted"]),
        "timed_ops": res["timed_ops"], "passes": res["passes"],
        "ops": res["ops"], "failures": res["failures"],
        "by_op": res["by_op"]}}), flush=True)

    got = {k: (v["value"], v["unit"]) for k, v in res["metrics"].items()}
    if a.trace:
        got.update(window)
        want = spec["per_layer"]
    else:
        got["setup_s"] = (res["setup_done_epoch_ms"] / 1000.0 - t_launch, "s")
        want = spec["end_to_end"]
    metrics = {}
    for m in want:
        if m["name"] not in got or got[m["name"]][0] is None:
            raise SystemExit(f"perfbench: metric {m['name']} not measured")
        metrics[m["name"]] = {"value": got[m["name"]][0], "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
