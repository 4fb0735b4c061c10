#!/usr/bin/env python3
"""Layered benchmark of the extraction engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract-skewed --seed 1 --seconds 20 --trace 0

The first run builds the engine and the harness with sbt (perfbench/build.sbt)
and caches the result under perfbench/target; later runs rebuild only when a
source or build file changed. Each run then starts the harness JVM
(perfbench.Main) with the JVM options of the engine's forked `run`, on
local[nproc], prepares the seeded inputs, runs the workload's closed loop for
`--seconds` of timed work, checks every iteration's output, and prints one
JSON result as its last line: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Spans, logs and the full result with the host
fingerprint are kept under .perfbench-work/ in the checkout.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench-work"
MANIFEST = HERE / "target" / "manifest"
WORKLOADS = ("extract-skewed", "ingest-alto")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def driver_mem():
    """Heap of the forked run: SPARK_DRIVER_MEM, else half of MemTotal
    clamped to 2..8 GiB, as the repository's test command sets it."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    kb = mem_total_kb()
    return f"{min(8, max(2, kb // 2097152))}g"


def mem_total_kb():
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    return 0


def source_stamp(env):
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    for k in ("SPARK_DRIVER_MEM", "GRAFT_JIT_OPTS"):
        h.update(f"{k}={env.get(k, '')}".encode())
    return h.hexdigest()


def build(env):
    stamp = source_stamp(env)
    stamp_file = MANIFEST / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    benv.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                    "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                    " -Dsbt.offline=true -Xmx2g")
    # keep sbt's temporary files inside the checkout
    benv["SBT_OPTS"] += f" -Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData -Dsbt.server.autostart=false"
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    log = WORK / "logs" / "build.log"
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.forcestart=false", "manifest"],
                         cwd=HERE, env=benv, stdout=out, timeout=BUILD_LIMIT_S)
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    stamp_file.write_text(stamp)


CHILDREN = []


def stop_children(signum, _frame):
    """On SIGTERM or SIGINT, kill the running child's process group first."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_group(cmd, cwd, env, stdout, timeout):
    """Runs cmd in its own process group; kills the whole group and
    waits for it when the time runs out."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm(args, env, log, deadline):
    cp = ":".join((MANIFEST / "classpath.txt").read_text().split())
    opts = (MANIFEST / "jvm-options.txt").read_text().split("\n")
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the engine's JVM options, plus two that keep the JVM's temporary
    # files inside the checkout
    cmd = (["java"] + [o for o in opts if o] +
           [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-cp", cp,
            "perfbench.Main", "--launched-ns", str(time.time_ns())] + args)
    with open(log, "a") as out:
        return run_group(cmd, cwd=ROOT, env=env, stdout=out, timeout=deadline - time.monotonic())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        fail(f"no engine sources next to the benchmark in {ROOT}")
    if shutil.which("sbt") is None and not (MANIFEST / "stamp").exists():
        fail("sbt is needed for the first build")

    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    start = time.monotonic()
    load_start = os.getloadavg()
    for d in ("logs", "results", "traces"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = driver_mem()
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    build(env)

    # one cached input per workload: drop those of other seeds
    prefix = f"{a.workload}-seed"
    inputs = WORK / "inputs"
    if inputs.is_dir():
        for d in inputs.iterdir():
            if d.name.startswith(prefix) and not d.name.startswith(f"{prefix}{a.seed}-"):
                shutil.rmtree(d, ignore_errors=True)
    for d in ("out", "spark-local", "tmp"):
        shutil.rmtree(WORK / d, ignore_errors=True)

    deadline = time.monotonic() + RUN_LIMIT_S
    nproc = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.time_ns()}"
    log = WORK / "logs" / f"{tag}.jvm.log"
    result = WORK / "results" / f"{tag}.json"
    code = jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cpus", str(nproc), "--work", str(WORK),
                "--result", str(result)], env, log, deadline)
    if code != 0 or not result.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness exited with {code}; log in {log}")
    r = json.loads(result.read_text())
    metrics = r["metrics"]
    r["host"] = {
        "nproc": nproc,
        "mem_total_kb": mem_total_kb(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "jvm": r.pop("jvm"),
    }
    r["run_wall_s"] = time.monotonic() - start
    result.write_text(json.dumps(r, indent=1))

    failed_ratio = r["failed"] / r["attempted"]
    print("host " + json.dumps(r["host"]))
    for name, m in metrics.items():
        print(f"{name:28s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_ratio':28s} {failed_ratio:.6g} ratio ({r['failed']}/{r['attempted']} docs)")
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
