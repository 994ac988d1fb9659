#!/usr/bin/env python3
"""graft benchmark: closed-loop raster workloads on local[nproc].

Usage, from the repository root:

    python3 perfbench/run.py --workload scene_analytics --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
(a separate traced run) and writes the spans to perfbench/target/traces/.
`--workload all` runs every workload untraced and traced and prints both
plus the tracing overhead. The last stdout line is always one JSON object
with the keys correct, attempted, failed and metrics.

The first run compiles the program and the harness with sbt (through
perfbench/build.sbt, which depends on the root build) and caches the
classpath; later runs launch a plain JVM with the root build's
javaOptions. Inputs are generated from the seed into a per-run
directory under perfbench/target/runs/ that is removed afterwards.
"""
import argparse
import datetime
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
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["scene_analytics", "query_catalog", "tile_ingest"]
MAIN = "perfbench.Main"
HEAP = "3g"
# A fixed heap and young generation keep peak RSS a measure of the
# workload's memory, not of the collector's resizing decisions.
YOUNG = "512m"
# one run must end within 180 s; the JVM is killed well before that
JVM_TIMEOUT_S = 170
# The root build.sbt's javaOptions for Spark on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of every build input; the build reruns only when it changes."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src", "perfbench/build.sbt", "perfbench/project", "perfbench/src"]
    for top in tops:
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else [
            os.path.join(d, f) for d, dirs, fs in os.walk(base)
            if "/target" not in d[len(ROOT):] for f in fs]
        for p in sorted(paths):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode() + b"\0")
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compiles once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850,
        stdin=subprocess.DEVNULL)
    cp = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"build took {time.time() - t0:.0f} s")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def other_bench_jvms():
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) != os.getpid():
            try:
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    if MAIN.encode() in f.read():
                        pids.append(int(d))
            except OSError:
                pass
    return pids


def wait_for_other_jvms(limit_s=60):
    t0 = time.time()
    while other_bench_jvms() and time.time() - t0 < limit_s:
        time.sleep(0.5)


def git_head():
    """HEAD of the checkout, or "unknown" when it is not a git repository."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        return out[1]
    return "unknown"


def run_once(cp, source_sha, workload, seed, seconds, trace, cpus):
    """One JVM run of one workload; returns the parsed result."""
    run_id = f"{workload}-{seed}-{trace}-{os.getpid()}-{int(time.time() * 1000)}"
    work = os.path.join(TARGET, "runs", run_id)
    os.makedirs(work)
    traces = os.path.join(TARGET, "traces")
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(traces, f"{workload}-seed{seed}.spans.json")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-XX:ReservedCodeCacheSize=1g", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}", "-cp", cp, MAIN,
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--cpus", str(cpus),
           "--work", work, "--out", out, "--spans", spans, "--bench", HERE]
    wait_for_other_jvms()
    logf = os.path.join(work, "jvm.log")
    try:
        with open(logf, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(logf) as f:
                tail = f.read()[-3000:]
            sys.stderr.write(tail)
            raise SystemExit(f"perfbench: {workload} JVM ended with {rc}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["stamp"] = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "nproc": cpus, "heap": HEAP, "git_head": git_head(), "source_sha": source_sha,
        "generated_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
    }
    if trace:
        res["stamp"]["spans_file"] = os.path.relpath(spans, ROOT)
    return res


def report(res):
    st = res["stamp"]
    log(f"{st['workload']} seed={st['seed']} trace={st['trace']}: attempted={res['attempted']} "
        f"failed={res['failed']} correct={res['correct']}")
    for k, v in res["metrics"].items():
        log(f"  {k:32s} {v['value']:.6g} {v['unit']}")
    ex = res.get("extras", {})
    for k in ("mcells_per_s", "failed_ops_ratio", "ops", "rotations"):
        if ex.get(k) is not None:
            log(f"  {k:32s} {ex[k]:.6g}")
    for e in ex.get("errors", []):
        log(f"  error: {e}")
    print(json.dumps({"record": {"stamp": st, "extras": ex}}))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no graft sources next to perfbench/ (expected build.sbt and src/)")
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    source_sha = source_stamp()
    cp = build(source_sha)

    if args.workload != "all":
        res = run_once(cp, source_sha, args.workload, args.seed, args.seconds, args.trace == 1, cpus)
        report(res)
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        plain = run_once(cp, source_sha, w, args.seed, args.seconds, False, cpus)
        traced = run_once(cp, source_sha, w, args.seed, args.seconds, True, cpus)
        for r in (plain, traced):
            report(r)
            combined["correct"] &= r["correct"]
            combined["attempted"] += r["attempted"]
            combined["failed"] += r["failed"]
            for k, v in r["metrics"].items():
                combined["metrics"][f"{w}.{k}"] = v
        # tracing overhead: traced minus untraced end-to-end figures
        tm = traced["metrics"]
        for k in ("op_p50_s", "op_p90_s", "ops_per_s"):
            base = plain["metrics"][k]["value"]
            diff = tm[f"trace.{k}"]["value"] - base
            unit = plain["metrics"][k]["unit"]
            combined["metrics"][f"{w}.trace_overhead.{k}"] = {"value": diff, "unit": unit}
            log(f"  {w} tracing overhead {k}: {diff:+.6g} {unit} ({diff / base:+.1%})")
    print(json.dumps(combined))


if __name__ == "__main__":
    main()
