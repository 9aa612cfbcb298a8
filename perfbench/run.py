#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (`perfbench/harness`, an sbt build that depends on the root
project) into the sbt target directories and records the classpath under
`.bench_build/`; later runs reuse it while the sources are unchanged.
Each run starts one JVM (`graftbench.Main`) with a fresh engine-state
directory, checks the outputs, prints a record line (host shape, sample
counts) and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones. With `--trace 1`
the JVM measures the same region twice, untraced then traced, and the
metrics are the per-layer ones, including the tracing overhead between
the two. See perfbench/README.md for the workloads and metrics.
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

from pb import stats

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catalog_sf01", "vote_stream")
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Seconds `graftbench.Calib` took on the unloaded 4-core host the benchmark
# was built on. Latencies are reported at that host speed: times this
# constant over the run's own median kernel time.
CALIB_REF_S = 0.1
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------- build
def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p)
            for f in fs if "/target" not in d and "/project/project" not in d)
        for f in files:
            h.update(f[len(root):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build(root):
    """Returns the harness classpath, building first if the sources moved."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(
                    os.path.exists(p) for p in cp.split(":")):
                return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env,
            stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/")]
    if r.returncode != 0 or not lines:
        with open(log, "a") as lf:
            lf.write(r.stdout)
        fail(f"build failed (exit {r.returncode}); see {log}", 2)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------ host load
def cpu_ticks():
    """The host-wide CPU tick counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# ------------------------------------------------------------- the JVM
def run_jvm(root, cp, a, deadline):
    work = os.path.join(root, ".bench_build", "runs",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + [x for p in JDK17_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--work", work, "--out", os.path.join(work, "raw.json")])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                fail(f"{a.workload}: run exceeded {RUN_TIMEOUT_S} s; log {log}", 3)
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0 or not os.path.isfile(os.path.join(work, "raw.json")):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{a.workload}: JVM exited {code}; log {log}", 3)
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    raw["peak_rss_mb"] = ru.ru_maxrss / 1024.0
    raw["work"] = work
    return raw


# -------------------------------------------------------------- checks
def check_batch(root, raw):
    """Names of queries whose output is wrong. The harness wrote each
    query's result and `oracle_sql.json` into the results directory, the
    layout `scripts/check_oracle.py` reads: that script compares every
    oracle query's result with DuckDB's answer over the same tables. Every
    other query must have the row count pinned in expected_rows.json."""
    with open(os.path.join(HERE, "expected_rows.json")) as f:
        pinned = json.load(f)["sf0.01"]
    r = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "check_oracle.py"),
         raw["tier_dir"], raw["results_dir"]],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = dict(raw["check_errors"])
    seen = set()
    for line in r.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if verdict == "FAIL":
            bad.setdefault(name, rest)
        elif verdict == "ROWS" and int(rest.split(": ")[1].split()[0]) != pinned.get(name):
            bad.setdefault(name, f"{rest}, pinned {pinned.get(name)}")
        if verdict in ("PASS", "FAIL", "ROWS"):
            seen.add(name)
    for q in raw["queries"]:
        if q not in seen:
            bad.setdefault(q, "not checked")
    return bad


# ------------------------------------------------------------- metrics
def consumed_by(raw):
    """{query: {file: end_ms of the trigger that consumed it}}."""
    out = {}
    for name, q in raw["queries"].items():
        ends = {t["batch"]: t["end_ms"] for t in q["triggers"]}
        batch = stats.file_batches(q["source_files"], q["batch_offsets"])
        out[name] = {f: ends[b] for f, b in batch.items() if b in ends}
    return out


def latencies(rec):
    """Latency samples of a measured region: queries, or files due to
    consumed."""
    if rec["kind"] == "batch":
        return [op[1] for op in rec["ops"] if op[2] is None]
    return stats.file_latencies(rec["arrivals"], consumed_by(rec))[0]


def end_to_end(root, raw):
    """(metrics, attempted, failed, sample counts) of one run."""
    lat = latencies(raw)
    if raw["kind"] == "batch":
        bad = check_batch(root, raw)
        ops = raw["ops"]
        attempted = len(ops)
        failed = sum(1 for op in ops if op[2] is not None or op[0] in bad)
        cpu = stats.median(raw["pass_cpu_s"])
        samples = {"queries": len(lat), "passes": len(raw["pass_wall_s"]),
                   "pass_wall_s": [round(x, 3) for x in raw["pass_wall_s"]]}
    else:
        bad = dict(raw["check_errors"])
        for e in raw["stream_errors"]:
            bad[e] = "query failed"
        if not raw["drained"]:
            bad["drain"] = "files left unconsumed after the drain bound"
        missing = stats.file_latencies(raw["arrivals"], consumed_by(raw))[1]
        attempted = len(raw["arrivals"])
        failed = attempted if bad else len(missing)
        cpu = raw["stream_cpu_s"]
        samples = {"files": len(lat), "period_s": raw["period_s"],
                   "backlog_files_max": stats.backlog_max(raw["arrivals"], consumed_by(raw))}
    if bad:
        print(f"perfbench: wrong outputs: {json.dumps(bad)[:2000]}", file=sys.stderr)
    if not lat:
        fail("no successful operation to time", 3)
    t, pct = stats.tail(lat)
    p50 = stats.median(lat)
    speed = CALIB_REF_S / stats.median(raw["calib_s"])
    samples.update(tail_percentile=round(pct, 1), setups=len(raw["setup_s"]),
                   warmup_s=round(raw["warmup_s"], 3), latency_p50_s=p50,
                   latency_tail_s=t, cpu_s=cpu, host_speed=round(speed, 4))
    m = {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "norm_latency_p50_s": (p50 * speed, "s"),
        "norm_latency_tail_s": (t * speed, "s"),
        "live_heap_mb": (raw["live_heap_mb"], "MB"),
    }
    return m, attempted, failed, samples


def per_layer(raw, names):
    """Per-layer metrics of one traced run: batch counts per pass, stream
    counts per replay; kernel and index probes as measured. The tracing
    overhead compares the traced region with the untraced reference region
    measured just before it, in the same JVM. `names` are the (name, unit)
    pairs BENCHMARK.json lists."""
    tr = raw["trace"]
    c = dict(tr["counters"])
    if raw["kind"] == "batch":
        per = len(raw["pass_wall_s"])
        wall = sum(raw["pass_wall_s"]) / per
        gen_late = 0.0
    else:
        per = 1
        trig = [t for q in raw["queries"].values() for t in q["triggers"]]
        wall = (max(t["end_ms"] for t in trig) - raw["arrivals"][0][1]) / 1e3
        gen_late = max(act - due for _f, due, act in raw["arrivals"]) / 1e3
        data = [t for t in trig if int(t["rows"]) > 0]

        def phase(k):
            return stats.median([t["durations_ms"].get(k, 0) for t in data]) / 1e3
        c.update({
            "streaming.trigger_p50_s": phase("triggerExecution"),
            "streaming.add_batch_s": phase("addBatch"),
            "streaming.planning_s": phase("queryPlanning"),
            "streaming.wal_commit_s": phase("walCommit"),
            "streaming.jobs_per_trigger": c.get("engine.jobs", 0) / len(data),
            "streaming.rows_per_trigger":
                sum(int(t["rows"]) for t in data) / len(data),
            "streaming.state_rows": max(int(t["state_rows"]) for t in trig),
            "streaming.state_bytes": max(int(t["state_bytes"]) for t in trig),
            "streaming.backlog_files_max":
                stats.backlog_max(raw["arrivals"], consumed_by(raw)),
        })
    spans = tr["spans"]
    c["engine.plan_s"] = sum((s[5] - s[4]) / 1e9 for s in spans if s[2] == "plan")
    for layer, v in stats.self_times(spans).items():
        c[f"self.{layer}_s"] = v
    for k in c:  # the probes' spans ran once, not per pass
        if (k.startswith(("engine.", "tables.", "operators.", "self.")) and
                k not in ("self.kernel_s", "self.index_s")):
            c[k] /= per
    c["engine.core_idle_s"] = int(raw["cpus"]) * wall - c.get("engine.task_s", 0.0)
    c["bench.gen_late_s"] = gen_late
    c["bench.calib_s"] = stats.median(raw["calib_s"])
    c["bench.trace_overhead_frac"] = (statistics.mean(latencies(raw)) /
                                      statistics.mean(latencies(raw["untraced"])) - 1)
    return {k: (float(c.get(k, 0.0)), u) for k, u in names}


# ---------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/QueryDef.scala",
                 "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root", 2)
    cp = ensure_build(root)
    deadline = max(deadline, time.monotonic() + RUN_TIMEOUT_S)
    ticks0 = cpu_ticks()
    raw = run_jvm(root, cp, a, deadline)
    d = [y - x for x, y in zip(ticks0, cpu_ticks())]
    steal = d[7] / max(1, sum(d)) if len(d) > 7 else 0.0
    m, attempted, failed, samples = end_to_end(root, raw)
    if a.trace:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            names = [(x["name"], x["unit"]) for x in json.load(f)["per_layer"]]
        metrics = per_layer(raw, names)
    else:
        metrics = m
    shutil.rmtree(raw["work"], ignore_errors=True)
    if raw["kind"] == "stream":
        period = raw["period_s"]
        late = max(act - due for _f, due, act in raw["arrivals"]) / 1e3
        if late > period / 2:
            fail(f"invalid run: the generator fell {late:.3f} s behind "
                 f"(period {period:.3f} s)", 4)
    host = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": raw["cpus"], "heap_mb": raw["heap_mb"],
            "jvm": raw["jvm"], "spark": raw["spark"],
            "steal_frac": round(steal, 4),
            "peak_rss_mb": round(raw["peak_rss_mb"], 1),
            "calib_s": [round(x, 4) for x in raw["calib_s"]],
            "samples": samples}
    print(json.dumps({"record": host}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
