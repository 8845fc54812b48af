#!/usr/bin/env python3
"""mapsspark benchmark: one command per workload run.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the repository root. The first run compiles the program and the
benchmark (sbt, offline, into perfbench/target); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the seed
into a temp root of its own, runs one benchmark JVM, checks the program's
outputs against DuckDB, deletes the temp root and prints one JSON line.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("store_build", "ingest_serve", "dedup_graph")
MAX_ZOOM = 2
BATCHES = 1
ROWS = 8000
DOCS = 600
RUN_LIMIT_S = 170          # a run (after the build) must end within this
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"FAILED: {msg}")
    sys.exit(code)


CHILDREN = []


def start(cmd, **kw):
    """Starts a child in a process group of its own, so that stopping it
    also stops everything it started."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(p)
    return p


def stop(p):
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def on_signal(signum, _frame):
    for p in CHILDREN:
        stop(p)
    die(f"interrupted by signal {signum}", 128 + signum)


# ------------------------------------------------------------------ build

def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles once per source state; a lock keeps two sbt processes off
    the same target directory."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        die(f"program sources not found under {REPO}/src/main/scala/graft")
    target = os.path.join(BENCH, "target")
    os.makedirs(target, exist_ok=True)
    stamp = os.path.join(target, "perfbench-classpath.json")
    with open(os.path.join(target, "perfbench-build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = source_fingerprint()
        if os.path.exists(stamp):
            with open(stamp) as fh:
                s = json.load(fh)
            if s.get("fingerprint") == fp:
                return s["classpath"]
        sbt = shutil.which("sbt")
        if sbt is None:
            die("sbt not found on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = env.get("SBT_OPTS") or (
            "-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g -Dsbt.server.autostart=false")
        log("building program and benchmark (sbt compile)")
        t0 = time.time()
        p = start([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"],
                  cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        try:
            out, _ = p.communicate(timeout=850)
        except subprocess.TimeoutExpired:
            stop(p)
            die("build timed out (sbt compile)")
        lines = [l for l in out.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or "classes" not in lines[-1]:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            die("build failed (sbt compile)")
        cp = lines[-1].strip()
        with open(stamp, "w") as fh:
            json.dump({"fingerprint": fp, "classpath": cp}, fh)
        log(f"build done in {time.time() - t0:.1f} s")
        return cp


# ------------------------------------------------------------------ sizing

def machine():
    """Task slots from the CPUs this process may use, heap from MemTotal
    (half of it, clamped to 2..8 GiB), as the repository's test setup does."""
    cpus = len(os.sched_getaffinity(0))
    gib = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    gib = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return cpus, gib


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


# ------------------------------------------------------------------ one run

def run(workload, seed, seconds, trace, rows=ROWS, docs=DOCS):
    """Runs one workload; returns (result dict, failures list)."""
    cp = build()
    started = time.time()
    cpus, heap = machine()
    clients = max(1, cpus // 4) if workload == "ingest_serve" else 0
    slots = max(1, cpus - clients)
    root = os.path.join(os.getcwd(), f".perfbench-run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    data = os.path.join(root, "data")
    os.makedirs(data)
    fails = []
    try:
        t0 = time.perf_counter()
        if workload == "dedup_graph":
            gen.documents(os.path.join(data, "documents.parquet"), docs, seed)
        else:
            gen.lineitem(os.path.join(data, "lineitem.parquet"), rows, seed)
        gen_s = time.perf_counter() - t0
        jtmp = os.path.join(root, "jvm-tmp")
        os.makedirs(jtmp)
        cmd = (["java", f"-Xmx{heap}g", f"-Djava.io.tmpdir={jtmp}",
                f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(root, 'hadoop-tmp')}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
               + ["-cp", cp, "mapbench.Main", workload, str(seed), str(seconds),
                  "1" if trace else "0", root, data, str(slots), str(clients),
                  str(MAX_ZOOM), str(BATCHES)])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "spark-local"),
                   TMPDIR=jtmp)
        env.pop("SPARK_HOME", None)
        with open(os.path.join(root, "jvm.log"), "w") as out:
            p = start(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
            deadline = started + RUN_LIMIT_S - 15
            status = None
            while status is None:
                pid, st, ru = os.wait4(p.pid, os.WNOHANG)
                if pid:
                    status, rusage = st, ru
                elif time.time() > deadline:
                    os.killpg(p.pid, signal.SIGKILL)
                    os.wait4(p.pid, 0)
                    tail = open(os.path.join(root, "jvm.log"), errors="replace").read()[-3000:]
                    sys.stderr.write(tail)
                    die(f"workload {workload}: benchmark JVM exceeded the run limit")
                else:
                    time.sleep(0.05)
        res_path = os.path.join(root, "result.json")
        if os.waitstatus_to_exitcode(status) != 0 or not os.path.exists(res_path):
            sys.stderr.write(open(os.path.join(root, "jvm.log"), errors="replace").read()[-4000:])
            die(f"workload {workload}: benchmark JVM exited with status "
                f"{os.waitstatus_to_exitcode(status)}")
        with open(res_path) as fh:
            res = json.load(fh)
        jvm_s = time.time() - started
        res["rss_mb"] = rusage.ru_maxrss / 1024.0
        res["gen_s"] = gen_s
        fails += [f"program error: {e}" for e in res["errors"]]
        check_dir = os.path.join(root, "check")
        if workload == "dedup_graph":
            con = checks.connect(data, ["documents"])
            fails += checks.dedup(con, check_dir)
        else:
            con = checks.connect(data, ["lineitem"])
            fails += checks.store(con, check_dir, MAX_ZOOM)
            if workload == "ingest_serve":
                fails += checks.serve_sample(con, check_dir)
        if trace:
            layers = res["layers"]
            if workload == "ingest_serve":
                last = int(open(os.path.join(check_dir, "manifest.txt")).read().split()[0])
                layers["tileencode.changed_ratio"] = checks.changed_ratio(
                    con, os.path.join(root, "store"), last - BATCHES + 1, last)
            elif workload == "store_build":
                layers["tileencode.changed_ratio"] = 1.0
            spans = os.path.join(root, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(BENCH, f"trace-{workload}.jsonl"))
        log(f"{workload} seed {seed}: jvm {jvm_s:.1f} s, checks "
            f"{time.time() - started - jvm_s:.1f} s")
        res["peak_tmp_mb"] = max(res["layers"].get("run.peak_tmp_mb", 0.0),
                                 dir_bytes(root) / 1e6)
        return res, fails
    finally:
        shutil.rmtree(root, ignore_errors=True)


def op_median(res, key):
    ops = [o for o in res["ops"] if o["ok"]] or res["ops"]
    return statistics.median(o[key] for o in ops) if ops else 0.0


def end_to_end(res):
    """Set-up wall time, and the executor cpu and shuffle bytes of the
    set-up plus one timed operation (the median one), so that work moved
    between set-up and operation still shows."""
    return {
        "setup_s": (res["gen_s"] + res["setup_s"], "s"),
        "cpu_s": (res["setup_cpu_s"] + op_median(res, "cpu_s"), "cpu-s"),
        "shuffle_mb": (res["setup_shuffle_mb"] + op_median(res, "shuffle_mb"), "MB"),
    }


def per_layer(res):
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer"]
    layers = dict(res["layers"])
    layers.update({
        "run.peak_tmp_mb": res["peak_tmp_mb"],
        "run.peak_rss_mb": res["rss_mb"],
        "op.wall_s": op_median(res, "wall_s"),
        "op.cpu_s": op_median(res, "cpu_s"),
        "op.shuffle_mb": op_median(res, "shuffle_mb"),
        "setup.wall_s": res["gen_s"] + res["setup_s"],
        "setup.cpu_s": res["setup_cpu_s"],
    })
    return {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec}


def selfcheck():
    """Every workload end to end on small inputs, traced, with all checks."""
    bad = []
    for w in WORKLOADS:
        t0 = time.time()
        res, fails = run(w, seed=7, seconds=1, trace=True, rows=3000, docs=100)
        log(f"selfcheck {w}: {'ok' if not fails else 'FAILED'} in {time.time() - t0:.0f} s, "
            f"{res['attempted']} ops attempted, {res['failed']} failed")
        for f in fails:
            log(f"  {f}")
        bad += [w] if fails else []
    if bad:
        die(f"selfcheck failed for {', '.join(bad)}", 1)
    log("selfcheck passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if a.selfcheck:
        return selfcheck()
    if not a.workload:
        ap.error("--workload is required")
    res, fails = run(a.workload, a.seed, a.seconds, a.trace == 1)
    metrics = per_layer(res) if a.trace else end_to_end(res)
    for f in fails:
        log(f"check failed ({a.workload}): {f}")
    print(json.dumps({
        "correct": not fails,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
