#!/usr/bin/env python3
"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload oltp --seed 1 --seconds 16 --trace 0

Builds the engine and the workload runner from source when they changed
(``sbt`` in ``perfbench/``), generates the workload's inputs from the
seed, runs the workload in one JVM, checks its outputs and prints one
JSON result line last. ``--trace 1`` runs the traced variant and
reports per-layer figures instead of end-to-end ones. Build outputs,
generated data and engine directories go under ``.bench_build/``.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gendata  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175          # a run must end within 180 s once built
BUILD_TIMEOUT_S = 800
HEAP = "4g"
SBT_REPOS = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("oltp", "curation")


def run_child(cmd, timeout, **kw):
    """Run one child process in its own process group and wait for it;
    on a timeout or any interruption the whole group is killed and
    reaped before the exception propagates."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_times():
    """Aggregate CPU tick counters from /proc/stat (None elsewhere)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    /proc/stat readings: a high value marks a sample from a busy host."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return round(100.0 * d[7] / max(1, sum(d)), 2)


def calibration_ms():
    """Time of a fixed single-threaded CPU loop (median of three), so
    runs on hosts of different momentary speed can be told apart."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = 0
        for i in range(300_000):
            h = (h * 31 + i) & 0xFFFFFFFF
        times.append((time.perf_counter() - t0) * 1e3)
    return round(stats.median(times), 3)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


# ------------------------------------------------------------- build

def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile the engine and the workload runner with sbt unless a
    build of the same sources is already there; returns the runtime
    classpath."""
    stamp = os.path.join(OUT, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("fingerprint") == fp and all(
                os.path.exists(p) for p in b["classpath"].split(os.pathsep)[:2]):
            return b["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env and os.path.exists(SBT_REPOS):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={SBT_REPOS} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine and workload runner with sbt")
    t0 = time.time()
    build_log = os.path.join(OUT, "build.log")
    with open(build_log, "w") as lf:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=lf,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        raise RuntimeError(f"sbt build failed (see {build_log})")
    with open(build_log) as lf:
        lines = [ln for ln in lf.read().splitlines()
                 if ln and not ln.startswith("[") and ".jar" in ln]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# --------------------------------------------------------------- run

def run_jvm(cp, args, data, work, out_json, deadline):
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--out", out_json,
              "--cores", str(cores())])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = os.path.join(OUT, f"{args.workload}-{args.seed}-{args.trace}.log")
    with open(logf, "w") as lf:
        try:
            rc = run_child(cmd, max(5, deadline - time.time()), cwd=work,
                           stdout=lf, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"workload timed out (log: {logf})")
    if rc != 0:
        raise RuntimeError(f"workload JVM exited {rc} (log: {logf})")
    shutil.copy(out_json, os.path.join(OUT, f"{args.workload}-{args.trace}.raw.json"))
    with open(out_json) as f:
        return json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ----------------------------------------------------------- metrics

def end_to_end(raw):
    return {
        "setup_s": (raw["setup"]["total_s"], "s"),
        "wall_s": (stats.median(raw["units"]), "s"),
        "ops_per_s": (raw["load_ops"] / raw["load_seconds"], "1/s"),
    }


def workload_detail(workload, raw):
    """The workload's own end-to-end figures: per-kind latencies with
    their sample counts, and the ratios the workload defines."""
    d = {"latency_ms": {k: stats.latency_summary(v) for k, v in raw["lat"].items()}}
    if workload == "oltp":
        b = raw["detail"]["bytes_per_write"]
        d["bytes_per_write"] = stats.bytes_per_write(b["log_bytes_added"],
                                                     b["writes_acked"])
    for k, v in raw["detail"].items():
        if k not in ("bytes_per_write", "oracle", "outputs"):
            d.setdefault(k, v)
    return d


# The layer figures every workload has, reported on the traced result
# line; the rest of the split goes on the line before it.
PER_LAYER = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_ms", "ms"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_records", "count"), ("spark.spill_bytes", "bytes"),
    ("spark.core_busy", "ratio"), ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("trace.overhead_ms", "ms"))


def _mean(xs):
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else None


def named_layers(workload, raw):
    """The traced run's layer split under the module names it measures
    (server, sql, exec, state, catalog, log, queries, spark, jvm)."""
    L = raw["layers"]
    out = {}
    untraced = stats.median(L.get("trace.untraced_unit_ms", []))
    traced = stats.median(L.get("trace.traced_unit_ms", []))
    if untraced is not None and traced is not None:
        out["trace.overhead_ms"] = traced - untraced
        out["trace.untraced_unit_ms"] = untraced
        out["trace.traced_unit_ms"] = traced
    if workload == "oltp":
        kinds = ("pk_read", "asof_read", "insert", "update")
        solo = {k: L[f"solo.{k}"] for k in kinds}
        out["server.admit_wait_ms"] = L["server.admit_wait_ms"]
        out["server.wire_ms"] = _mean([solo[k]["server.wire_ms"] for k in kinds[:2]])
        out["sql.parse_ms"] = _mean([solo[k]["sql.parse_ms"] for k in kinds])
        ph = L["contended.phase"]
        out["exec.lock_wait_ms"] = ph["exec.lock_wait_ms"]
        out["exec.stmt_ms.contended"] = ph["exec.stmt_ms"]
        out["state.collapse_task_ms"] = solo["asof_read"]["spark.task_ms"]
        out["state.plan_direct_ms"] = solo["asof_read"]["state.plan_direct_ms"]
        for k in kinds:
            v = solo[k]
            out[f"solo.{k}.n"] = v["n"]
            out[f"exec.stmt_ms.{k}"] = v["exec.stmt_ms"]
            out[f"state.plan_ms.{k}"] = v["span.state-plan"]
            if k in kinds[:2]:
                out[f"exec.read_exec_ms.{k}"] = v["exec.read_exec_ms"]
            else:
                out[f"exec.pin_ms.{k}"] = v["span.pin-batch"]
                out[f"exec.probe_join_ms.{k}"] = v["span.probe-join"]
                out[f"catalog.stage_write_ms.{k}"] = v["span.stage-write"]
                out[f"catalog.publish_ms.{k}"] = v["span.publish"]
            for m in ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
                      "spark.shuffle_write_bytes", "spark.shuffle_records",
                      "spark.spill_bytes"):
                out[f"{m}.{k}"] = v[m]
        for phase in ("start", "contended_end", "solo_end"):
            st = L[f"log.{phase}"]
            out[f"log.files.{phase}"] = st["log_files"]
            out[f"log.bytes.{phase}"] = st["log_bytes"]
            out[f"log.snapshot_bytes.{phase}"] = st["snapshot_bytes"]
        out["trace.lost"] = L["trace.lost"] + ph["trace.lost"]
        rf = L["refresh"]
        out["refresh.n"] = rf["n"]
        out["exec.refresh.stmt_ms"] = rf.get("exec.stmt_ms")
        out["exec.refresh.touched_keys_ms"] = sum(
            rf.get(f"span.{n}", 0.0) for n in
            ("touched-keys", "touched-keys-warm", "acd-touched-groups"))
        out["exec.refresh.cascade_ms"] = rf.get("span.cascade-join", 0.0)
        out["exec.refresh.delta_terms_ms"] = rf.get("span.delta-terms", 0.0)
        out["exec.refresh.mview_write_ms"] = rf.get("span.mview-write", 0.0)
        for m in ("spark.jobs", "spark.tasks", "spark.task_ms",
                  "spark.shuffle_records"):
            out[f"{m}.refresh"] = rf.get(m)
    else:
        for k, v in L.items():
            if k.startswith("queries."):
                for m, x in v.items():
                    out[f"{k}.{m}"] = x
    for k, v in L["universal"].items():
        out[k] = v
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its children and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    load_start, cpu_start, calib_start = loadavg(), cpu_times(), calibration_ms()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"engine sources not found under {ROOT}: run from a full checkout")
        return 2
    os.makedirs(OUT, exist_ok=True)
    fp = fingerprint(source_files())
    cp = build(fp)
    t_built = time.time()

    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    data = os.path.join(OUT, "data", tag)
    work = os.path.join(OUT, "work", tag)
    os.makedirs(data, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    try:
        gendata.GENERATORS[args.workload](data, args.seed)
        raw = run_jvm(cp, args, data, work, os.path.join(work, "raw.json"),
                      t_built + DEADLINE_S)
        oracle_checked = oracle_failed = 0
        if args.workload == "curation":
            import oracle
            oracle_checked, oracle_failed, notes = oracle.compare(raw, data)
            raw["notes"].extend(notes)
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = stats.outcome_counts(raw, oracle_failed, oracle_checked)
    host = {
        "nproc": os.cpu_count(), "cores_used": raw["detail"].get("cores"),
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "cpu_steal_pct": steal_pct(cpu_start, cpu_times()),
        "calibration_ms": [calib_start, calibration_ms()],
        "xmx": HEAP, "spark_version": raw["detail"].get("spark_version"),
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
        "git_commit": git_commit(), "source_fingerprint": fp,
        "run_s": round(time.time() - t_start, 3),
    }
    for n in raw["notes"]:
        log(n)
    print(json.dumps({"host": host}))
    if args.trace:
        layers = named_layers(args.workload, raw)
        print(json.dumps({"layers": layers}))
        metrics = {k: (layers.get(k, 0.0), unit) for k, unit in PER_LAYER}
    else:
        print(json.dumps({"detail": workload_detail(args.workload, raw)}))
        metrics = end_to_end(raw)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
