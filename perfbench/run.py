#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness with sbt (offline) into the build directory ($CARGO_TARGET_DIR, else
.bench_build); later runs launch the JVM directly. The last line of standard
output is the result as one JSON object; the lines before it give the
provenance and every metric under its documented name. See README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import data  # noqa: E402
import workloads  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
HEAP = "3g"
RUN_LIMIT_S = 170
# The yardstick's round on a quiet 4-vCPU Xeon VM, in ms: the speed the
# scaled metrics are given at (README.md, "Host speed").
YARDSTICK_REF_MS = 80.0


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    pats = ["build.sbt", "project/build.properties", "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/**/*"]
    return sorted({f for p in pats for f in glob.glob(os.path.join(root, p), recursive=True)
                   if os.path.isfile(f)})


def source_digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def revision(root, digest):
    """The checkout's git revision, or the source digest when the checkout is
    not the top of a git repository.
    """
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        top, head = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and os.path.realpath(top) == os.path.realpath(root):
            return head
    except OSError:
        pass
    return f"src-{digest}"


def build(root, bdir, digest):
    """Compile graft and the harness once per source digest; return the
    runtime classpath.
    """
    stamp, cp_file = os.path.join(bdir, "build.stamp"), os.path.join(bdir, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true", "-Xmx3g"]))
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=os.path.join(root, "perfbench"),
                           env=env, stdout=fh, stderr=subprocess.STDOUT, timeout=800)
    out = open(log).read().strip().splitlines()
    if r.returncode != 0 or not out:
        fail(f"build failed, see {log}", 3)
    cp = out[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def finite(x):
    """A metric value for JSON: None when nothing was measured."""
    return x if isinstance(x, int) or math.isfinite(x) else None


def loadavg():
    try:
        return open("/proc/loadavg").read().split()[:3]
    except OSError:
        return []


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: a host that takes CPU time from
    this machine shows as steal and slows every run it overlaps.
    """
    try:
        ticks = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return ticks[7] if len(ticks) > 7 else 0, sum(ticks)
    except OSError:
        return 0, 0


def steal_pct(a, b):
    return round(100.0 * (b[0] - a[0]) / max(1, b[1] - a[1]), 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, default=0,
                    help="self-test: corrupt this many expected answers; the run must fail")
    ap.add_argument("--validate", action="store_true",
                    help="execute every generated statement once, untimed, and check it")
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    load_start, ticks_start = loadavg(), cpu_ticks()
    digest = source_digest(root)
    cp = build(root, bdir, digest)

    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    wl = workloads.ALL[a.workload]
    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data_dir = data.ensure(os.path.join(bdir, "data"), wl.SF, wl.TABLES)
    plan = wl.plan(a.seed, data_dir, a.validate)
    plan.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                # validation times nothing, so one set-up serves it
                cores=cores, setups=1 if a.validate else wl.SETUPS, data=data_dir, work=work,
                validate=a.validate)
    plan_file, result_file = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_file, "w") as fh:
        json.dump(plan, fh)

    # C1 only: with the C2 compiler the measured phase was still speeding up
    # after a minute, C2's compiler threads took CPU from the workload on 4
    # cores, and runs of the same code spread by a quarter; with C1 alone the
    # passes are flat after one warm-up pass
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
           f"-Dderby.stream.error.file={work}/derby.log"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", plan_file, result_file]
    jvm_log = os.path.join(work, "jvm.log")
    # a measured run must end within RUN_LIMIT_S; validation runs the whole
    # stream and may take several minutes
    limit = 1800.0 if a.validate else max(10.0, RUN_LIMIT_S - (time.time() - t_start))
    with open(jvm_log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result_file):
        tail = open(jvm_log, errors="replace").read()[-3000:]
        fail(f"JVM run failed ({rc}):\n{tail}", 4)
    with open(result_file) as fh:
        result = json.load(fh)

    check = wl.check(plan, result, corrupt=a.corrupt, trace=bool(a.trace))
    setup = result["setup_s"]
    e2e = dict(check["e2e"])
    e2e["setup_measured_s"] = (statistics.median(setup), "s")
    # the yardstick samples around and within the measured phase
    yard = result["yardstick_ms"] + [o["yardstick_ms"] for o in result["ops"][:result["untraced_ops"]]
                                      if "yardstick_ms" in o]
    slowness = statistics.median(yard) / YARDSTICK_REF_MS
    for name, (raw, power) in workloads.SCALED.items():
        e2e[name] = (e2e[raw][0] / slowness ** power, e2e[raw][1])
    detail = dict(check["detail"])
    detail["setup_measured_s"] = (statistics.median(setup), "s", len(setup))
    detail["peak_rss_mb"] = (result["vmhwm_kb"] / 1024.0, "MB", 1)
    detail["error_rate"] = (check["failed"] / max(1, check["attempted"]),
                            f"{check['failed']}/{check['attempted']}", check["attempted"])
    provenance = {
        "revision": revision(root, digest), "source_digest": digest, "seed": a.seed,
        "workload": a.workload, "nproc": cores, "master": result["master"],
        "shuffle_partitions": result["shuffle_partitions"], "xmx": HEAP,
        "max_heap_mb": result["max_heap_mb"], "loadavg_start": load_start,
        "loadavg_end": loadavg(), "cpu_steal_pct": steal_pct(ticks_start, cpu_ticks()),
        "run_s": result["run_s"], "setups_s": setup,
        "yardstick_ms": statistics.median(yard), "host_slowness": slowness,
        "stream_digest": plan.get("stream_digest"), "data": os.path.basename(data_dir)}
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"metrics_by_name": {k: {"value": finite(v[0]), "unit": v[1], "samples": v[2]}
                                          for k, v in sorted(detail.items())}}))
    for msg in check["errors"][:10]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    if a.trace:
        layers = check["layers"]
        print(json.dumps({"layers": {k: dict(layers[k], value=finite(layers[k]["value"]))
                                     for k in sorted(layers)}}))
        metrics = {k: layers[k] for k in workloads.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in workloads.END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    correct = check["failed"] == 0 and not check["errors"]
    missing = [k for k, v in metrics.items() if finite(v["value"]) is None]
    if missing and correct:
        fail(f"no samples for {', '.join(missing)}", 5)
    # a failed run still reports, with null for what it could not measure
    print(json.dumps({"correct": correct, "attempted": check["attempted"], "failed": check["failed"],
                      "metrics": {k: dict(v, value=finite(v["value"])) for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
