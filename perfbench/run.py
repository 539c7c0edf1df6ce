#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, in a fresh JVM.

    python3 perfbench/run.py --workload beam_sql --seed 1 --seconds 15 --trace 0

Builds graft and the harness from source on first use (sbt, offline), runs
the workload's keys through `SparkEntry.queries` as a closed loop with one
client on local[nproc], checks every key's output against its pinned digest,
and prints one JSON line last: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. The full run record (every call, the host and plan
hashes) is kept under perfbench/results/.

--pin re-pins the workload's digests from this run's outputs, and only for
keys whose output also matches its DuckDB oracle (SparkEntry.oracleSql).
"""
import argparse
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
# The sf0.01 tables described in TESTDATA.md.
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata/sf0.01"))
DIGESTS = os.path.join(BENCH, "digests_sf0.01.json")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORK = os.path.join(BENCH, "work")
RESULTS = os.path.join(BENCH, "results")
DEADLINE_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Nominal warm-pass time of each workload on a 4-core box, in seconds. The
# run makes one cold pass and then round(--seconds / warm_s) warm passes, at
# least 3 so that their median resists one disturbed pass. So a run does the
# same work on every commit, and a faster program simply finishes sooner. BENCHMARK.json names the benchmark's workloads; the
# others are profiles (NOTES.md), outside its run budget.
WORKLOADS = {
    "corpus_pipeline": {"warm_s": 1.1},
    "streaming_drain": {"warm_s": 4.5},
    "beam_sql": {"warm_s": 2.9},
    "corpus_pipeline_full": {"warm_s": 21.0, "deadline_s": 600},
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def warm_passes(workload, seconds):
    return max(3, round(seconds / WORKLOADS[workload]["warm_s"]))


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    proj = os.path.join(REPO, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return files


def build():
    """Compile graft and the harness with sbt unless the classpath file is
    newer than every source; returns the runtime classpath."""
    srcs = source_files()
    if os.path.exists(CLASSPATH) and \
            os.path.getmtime(CLASSPATH) >= max(os.path.getmtime(f) for f in srcs):
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    for o in ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"] + (
            ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            if os.path.exists(repos) else []):
        if not any(x.split("=")[0] == o.split("=")[0] for x in opts):
            opts.append(o)
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    log = os.path.join(os.path.dirname(CLASSPATH), "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}", 3)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "perfbench" in l and "classes" in l and os.pathsep in l
          and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 3)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


# ---------------------------------------------------------------- run

def sweep_stale_roots():
    """Remove run roots a killed run left behind (their pid is gone)."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def run_jvm(cp, root, args, deadline):
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={root}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    with open(os.path.join(root, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = open(os.path.join(root, "jvm.log")).read()[-4000:]
        sys.stderr.write(tail)
        fail(f"benchmark JVM ended with {code}", 4)
    return json.load(open(os.path.join(root, "result.json")))


def source_revision():
    """Git revision when the tree is a checkout, and always a hash of the
    program's sources, which identifies the code in an exported tree too."""
    import hashlib
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    git = None
    if os.path.isdir(os.path.join(REPO, ".git")):
        try:
            git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except OSError:
            pass
    return {"git": git, "source_sha256": h.hexdigest()[:16]}


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: time the hypervisor gave away."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Nearest-rank p90, with the sample count and how many samples lie
    above it. A run's budget gives 6-9 warm samples, too few for any
    percentile above the median to have 10 samples beyond it."""
    xs = sorted(xs)
    v = xs[max(0, -(-9 * len(xs) // 10) - 1)]
    return v, 90, len(xs), sum(1 for x in xs if x > v)


def end_to_end(r):
    passes = r["passes"]
    warm = [c for c in r["calls"] if c["pass"] > 0 and not c["error"]]
    value, pct, n, beyond = tail([c["total_s"] for c in warm])
    per_key = {}
    for c in warm:
        per_key.setdefault(c["key"], []).append(c["total_s"])
    m = {
        "setup_s": (median(r["setup_s"]), "s"),
        "cold_s": (passes[0]["wall_s"], "s"),
        "warm_s": (median([p["wall_s"] for p in passes[1:]]), "s"),
        "key_p50_s": (median([median(v) for v in per_key.values()]), "s"),
        "key_tail_s": (value, "s"),
        "retained_heap_mb": (r["heap_end_mb"] - r["heap_after_setup_mb"], "MB"),
        "artifact_disk_mb": (r["artifact_disk_bytes"] / 1048576.0, "MB"),
    }
    return m, {"key_tail_percentile": pct, "key_tail_samples": n, "key_tail_beyond": beyond}


def per_layer(r):
    """Per-layer metrics. Work and time counters are per warm pass (median
    over warm passes); artifacts.* compare each key's cold call with its warm
    calls; levels (persisted RDDs, sink views, heap) are read at the end."""
    calls, passes = r["calls"], r["passes"]
    npass = len(passes)
    warm_passes = range(1, npass)

    def per_pass(fn):
        return median([sum(fn(c) for c in calls if c["pass"] == p) for p in warm_passes])

    def ctr(name):
        return lambda c: c["counters"].get(name, 0.0)

    m = {}
    m["driver.construct_s"] = (per_pass(lambda c: c["construct_s"] or 0.0), "s")
    m["driver.plan_s"] = (per_pass(lambda c: c["plan_s"] or 0.0), "s")
    m["driver.exec_s"] = (per_pass(lambda c: c["exec_s"] or 0.0), "s")
    m["driver.first_setup_s"] = (r["setup_s"][0], "s")
    m["driver.setup_registry_s"] = (r["setup_phases"]["registry_s"], "s")
    for name, unit in [("exec.jobs", "count"), ("exec.stages", "count"),
                       ("exec.tasks", "count"), ("exec.task_run_s", "s"),
                       ("exec.task_cpu_s", "s"), ("exec.task_gc_s", "s"),
                       ("exec.scan_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
                       ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
                       ("exec.failed_tasks", "count"),
                       ("stream.batches", "count"), ("stream.input_rows", "count"),
                       ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
                       ("stream.query_planning_s", "s"), ("stream.wal_commit_s", "s"),
                       ("stream.commit_offsets_s", "s"), ("stream.latest_offset_s", "s"),
                       ("stream.state_rows", "count"), ("stream.state_mem_mb", "MB"),
                       ("stream.state_commit_s", "s")]:
        m[name] = (per_pass(ctr(name)), unit)
    trig = m["stream.trigger_s"][0]
    m["stream.rows_per_s"] = (m["stream.input_rows"][0] / trig if trig else 0.0, "1/s")
    wall = median([p["wall_s"] for p in passes[1:]])
    cores = r["host"]["local_width"]
    m["exec.cpu_busy_ratio"] = (m["exec.task_cpu_s"][0] / (wall * cores), "ratio")
    for mod in r["modules"]:
        sel = lambda f: (lambda c: f(c) if c["module"] == mod else 0.0)
        m[f"driver.construct_s.{mod}"] = (per_pass(sel(lambda c: c["construct_s"] or 0.0)), "s")
        m[f"driver.exec_s.{mod}"] = (per_pass(sel(lambda c: c["exec_s"] or 0.0)), "s")
        m[f"exec.task_cpu_s.{mod}"] = (per_pass(sel(ctr("exec.task_cpu_s"))), "s")

    cold = {c["key"]: c for c in calls if c["pass"] == 0}
    warm = [c for c in calls if c["pass"] > 0]
    build_s = sum((cold[k]["construct_s"] or 0.0)
                  - median([c["construct_s"] or 0.0 for c in warm if c["key"] == k])
                  for k in cold)
    m["artifacts.build_s"] = (build_s, "s")
    m["artifacts.dirs"] = (sum(c["counters"].get("artifacts.new_dirs", 0.0)
                               for c in cold.values()), "count")
    m["artifacts.written_mb"] = (sum(c["counters"].get("artifacts.written_mb", 0.0)
                                     for c in cold.values()), "MB")
    reused = [c for c in warm if c["counters"].get("artifacts.new_dirs", 0.0) == 0]
    m["artifacts.reuse_ratio"] = (len(reused) / len(warm) if warm else 0.0, "ratio")
    m["cache.persisted_left"] = (calls[-1]["counters"].get("cache.persisted_left", 0.0), "count")
    m["stream.sink_views_left"] = (passes[-1]["sink_views"], "count")
    m["jvm.gc_s"] = (median([p["gc_s"] for p in passes[1:]]), "s")
    m["jvm.heap_after_gc_mb"] = (passes[-1]["heap_after_gc_mb"], "MB")
    m["trace.warm_s"] = (wall, "s")
    return m


# ---------------------------------------------------------------- check

def check_outputs(r, root, pin, digests_path=DIGESTS):
    """Keys whose output does not match its pinned digest, with the reason."""
    import digest
    con = digest.connect(r["data"])
    observed = {}
    for key in r["keys"]:
        err = r["outputs"].get(key, "no output written")
        if err:
            observed[key] = f"error: {err}"
            continue
        try:
            observed[key] = digest.digest_parquet_dir(con, os.path.join(root, "out", key))
        except Exception as e:  # an unreadable output fails the check
            observed[key] = f"error: {e}"
    pinned = json.load(open(digests_path)) if os.path.exists(digests_path) else {}
    if pin:
        for key, got in observed.items():
            sql = r["oracle_sql"].get(key)
            if isinstance(got, str) or sql is None:
                print(f"not pinned {key}: {got if isinstance(got, str) else 'no oracle'}")
                continue
            want = digest.digest_oracle(con, sql)
            if (want["rows"], want["hash"]) != (got["rows"], got["hash"]):
                print(f"not pinned {key}: output {got} != oracle {want}")
                continue
            pinned[key] = dict(got, oracle="match")
        with open(digests_path, "w") as f:
            json.dump(dict(sorted(pinned.items())), f, indent=1)
            f.write("\n")
    return digest.compare(observed, pinned)


def count_failures(calls, bad):
    """(attempted, failed) key executions: a call fails when it threw or when
    its key's output failed the check, since every call of a key computes
    the same output."""
    return len(calls), sum(1 for c in calls if c["error"] or c["key"] in bad)


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()
    deadline_s = WORKLOADS[a.workload].get("deadline_s", DEADLINE_S)
    deadline = t_start + deadline_s

    if not (os.path.exists(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main"))):
        fail(f"no graft sources beside {BENCH} (expected ../build.sbt and ../src/main)")
    if not os.path.isdir(DATA):
        fail(f"input data {DATA} not found (set PERFBENCH_DATA)")
    cp = build()
    deadline = max(deadline, time.monotonic() + deadline_s - 20)

    sweep_stale_roots()
    root = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(root, sub))
    load0, steal0 = loadavg(), cpu_ticks()
    try:
        nproc = len(os.sched_getaffinity(0))
        passes = warm_passes(a.workload, a.seconds)
        r = run_jvm(cp, root, ["--workload", a.workload, "--seed", str(a.seed),
                               "--warm-passes", str(passes), "--trace", str(a.trace),
                               "--data", DATA, "--root", root, "--cpus", str(nproc)], deadline)
        bad = check_outputs(r, root, a.pin)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    attempted, failed = count_failures(r["calls"], bad)
    if a.trace:
        metrics = per_layer(r)
        extra = {}
    else:
        metrics, extra = end_to_end(r)
    steal1 = cpu_ticks()
    steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "warm_passes": passes, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted, "check_failures": bad,
        "metrics": {k: v for k, (v, _) in metrics.items()}, **extra,
        "contamination": dict(r["host"], load_start_launcher=load0, load_end_launcher=loadavg(),
                              cpu_steal_share=steal_share, nproc=nproc, heap=HEAP,
                              **source_revision()),
        "plan_hash": r["plan_hash"], "setup_s": r["setup_s"], "setup_phases": r["setup_phases"],
        "heap_after_setup_mb": r["heap_after_setup_mb"], "heap_end_mb": r["heap_end_mb"],
        "passes": r["passes"], "calls": r["calls"], "check_s": r["check_s"],
        "run_s": time.monotonic() - t_start,
    }
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{a.workload}-trace{a.trace}-seed{a.seed}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(record, f, indent=1)

    for key, why in sorted(bad.items()):
        print(f"check failed {key}: {why}")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(f"fail_ratio = {failed}/{attempted}")
    if extra:
        print(f"key_tail_s is p{extra['key_tail_percentile']} of {extra['key_tail_samples']} "
              f"samples, {extra['key_tail_beyond']} above it")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
