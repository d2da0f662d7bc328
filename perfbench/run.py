#!/usr/bin/env python3
"""Run one benchmark workload against the engine and report its metrics.

    python3 perfbench/run.py --workload bi_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) and computes the oracle fingerprints over
the sf0.1 corpus in ``perfbench/data/``, both under ``.bench_build/``; later
runs reuse them while the sources are unchanged. Every run then generates its seeded inputs,
drives one JVM through set-up, warm-up and the timed window, checks every
result, prints one summary line per metric and, as the last line of stdout,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from the traced run. A full record of each run (metrics, the
environment it ran in, the per-op latencies) is kept in
``.bench_build/results/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

T_START = time.monotonic()
RUN_LIMIT_S = 170  # the whole run, build excluded, ends well inside 180 s

# JDK 17 module opens Spark needs outside spark-submit (the engine's build.sbt
# passes the same list to every JVM it forks).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_proc(cmd, cwd, env, timeout, out_path):
    """Run ``cmd`` in its own process group, output to ``out_path``; kill the
    whole group on timeout, and always wait for it to end."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            fail(f"{cmd[0]} exceeded {timeout:.0f}s; see {out_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_stamp():
    """Hash of every input to the build: engine and harness sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else [
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in files if f.endswith((".scala", ".java", ".sbt", ".properties"))]
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_build():
    """Compile engine + harness with sbt (offline) when the sources changed;
    return (stamp, classpath)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return stamp, g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt, offline)")
    out = os.path.join(BUILD, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "export perfbench/Runtime/fullClasspath"],
                  HERE, env, 840 - (time.monotonic() - T_START), out)
    with open(out) as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l
                 and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {out}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp, lines[-1]


def java_cmd(cp, rundir, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # The engine's own run settings (its build.sbt) with a fixed heap. The
    # young generation has a fixed size, so the collector touches the same
    # young pages in every run and peak RSS moves with what the program
    # keeps: old-generation peak plus native memory. With G1's adaptive
    # young sizing it swung by 10-25% between runs of the same build.
    return (["java", f"-Xms{workloads.HEAP}", f"-Xmx{workloads.HEAP}",
             f"-Xmn{workloads.YOUNG}"] + opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(rundir, 'tmp')}",
             "-cp", cp, "perfbench.Harness"] + list(args))


def jvm_env(rundir):
    """The pinned environment: no engine overrides, scratch inside the run."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "spark-local")
    return env


def ensure_expected(cp, stamp):
    """Oracle fingerprints for every catalog entry any workload runs."""
    sql_path = os.path.join(BUILD, f"oracle_sql-{stamp}.json")
    if not os.path.exists(sql_path):
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        rc = run_proc(java_cmd(cp, BUILD, "oracle-sql", sql_path + ".tmp"), BUILD,
                      jvm_env(BUILD), 120, os.path.join(BUILD, "oracle-sql.log"))
        if rc != 0:
            fail("could not read the catalog's oracle SQL")
        os.replace(sql_path + ".tmp", sql_path)
    with open(sql_path, "rb") as f:
        raw = f.read()
    sql = json.loads(raw)
    key = hashlib.sha256(raw).hexdigest()[:16]
    names = sorted(workloads.all_entries())
    missing = [n for n in names if n not in sql]
    if missing:
        fail(f"catalog entries missing from SparkEntry: {missing}")
    cache = os.path.join(BUILD, f"expected-{key}.json")
    if not os.path.exists(cache):
        log("computing oracle fingerprints (DuckDB)")
    return oracle.expected_fingerprints(workloads.DATA, sql, names, cache)


def host_cpu():
    """The machine's cumulative CPU time counters (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def host_cpu_shares(before, after):
    """Share of machine CPU time per state between two host_cpu() reads: a
    high `steal` means other guests took the cores during the run."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    return {n: v / total for n, v in zip(names, d)}


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # a terminated run unwinds, so run_proc's cleanup kills the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    stamp, cp = ensure_build()
    global T_START
    T_START = time.monotonic()  # the run's own time limit starts after a build
    expected = ensure_expected(cp, stamp)

    rundir = os.path.join(BUILD, "runs",
                          f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(os.path.join(rundir, "tmp"))
    t_gen = time.monotonic()
    plan = workloads.generate(args.workload, args.seed, args.seconds, rundir)
    gen_s = time.monotonic() - t_gen
    conf = dict(plan["conf"], workload=args.workload, seconds=args.seconds,
                trace=args.trace, data=workloads.DATA, cores=workloads.CORES)
    with open(os.path.join(rundir, "conf.properties"), "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n")

    log(f"{args.workload} seed={args.seed} trace={args.trace}: running")
    cpu0 = host_cpu()
    rc = run_proc(java_cmd(cp, rundir, "run", "conf.properties"), rundir, jvm_env(rundir),
                  RUN_LIMIT_S - (time.monotonic() - T_START),
                  os.path.join(rundir, "jvm.log"))
    cpu = host_cpu_shares(cpu0, host_cpu())
    if rc != 0 or not os.path.exists(os.path.join(rundir, "run.json")):
        fail(f"harness exited {rc}; see {rundir}/jvm.log")
    with open(os.path.join(rundir, "run.json")) as f:
        run = json.load(f)
    trace = None
    if args.trace:
        with open(os.path.join(rundir, "trace.json")) as f:
            trace = json.load(f)

    verdict = metrics.check(run, expected, plan.get("batch_totals"), rundir)
    e2e = metrics.end_to_end(run, verdict, plan)
    per_layer = metrics.per_layer(run, trace) if args.trace else None

    results_dir = os.path.join(BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    if per_layer is not None:
        per_layer["trace.overhead_ratio"] = metrics.trace_overhead(
            results_dir, args.workload, stamp, e2e)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": git_commit(), "source_stamp": stamp,
        "bench_stamp": metrics.bench_stamp(),
        "cores": workloads.CORES, "heap": workloads.HEAP, "young": workloads.YOUNG,
        "spark": run["jvm"].get("spark"),
        "host_cpu": cpu, "input_gen_s": gen_s, "input_bytes": plan.get("batch_bytes"),
        "verdict": verdict, "end_to_end": e2e, "per_layer": per_layer, "setup": run["setup"], "jvm": run["jvm"],
        "ops": [{k: o[k] for k in ("phase", "kind", "arg", "wall_ms", "compiles",
                                   "steal_jiffies", "cpu_jiffies", "ok")}
                for o in run["ops"]],
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}.json"
    with open(os.path.join(results_dir, name), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(rundir, ignore_errors=True)

    for m in workloads.END_TO_END + metrics.REPORTED_ONLY:
        if m["name"] in e2e:
            print(f"{args.workload} {m['name']} = {e2e[m['name']]['value']:.6g} {m['unit']}"
                  + (f"  ({e2e[m['name']]['note']})" if e2e[m["name"]].get("note") else ""))
    if per_layer is not None:
        for k in sorted(per_layer):
            print(f"{args.workload} {k} = {per_layer[k]['value']:.6g} {per_layer[k]['unit']}")
    if cpu:
        print(f"{args.workload} host_steal = {cpu['steal']:.4f} ratio  (CPU time other "
              "guests took from this machine during the run; it inflates every latency)")
    print(f"{args.workload} correct = {verdict['correct']}"
          + ("" if verdict["correct"] else f"  ({'; '.join(verdict['problems'][:5])})"))
    shown = per_layer if per_layer is not None else {
        m["name"]: e2e[m["name"]] for m in workloads.END_TO_END}
    print(json.dumps({
        "correct": verdict["correct"], "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in shown.items()},
    }))


if __name__ == "__main__":
    main()
