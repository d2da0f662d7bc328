"""Result checks and metric derivation for one run.

Latency metrics are per distinct query: each query's median latency over the
timed window, then the median across the workload's queries
(``query_p50_ms``); throughput counts whole rounds of the op set. Every op of
the fixed set runs at least once per window and does the same work each
time (the ingest table keeps a fixed number of batches), so none of them
moves with how far the window got.
"""
import glob
import hashlib
import json
import os
import statistics

import oracle
import workloads

# Printed in the summary and kept in the run record, but not gated: they
# apply to one workload each (error_rate is also the JSON's failed/attempted),
# or, for query_tail_ms, a window holds too few samples for a real tail.
REPORTED_ONLY = [
    {"name": "query_tail_ms", "unit": "ms"},
    {"name": "docs_per_s", "unit": "docs/s"},
    {"name": "write_rows_per_s", "unit": "rows/s"},
    {"name": "json_scan_p50_ms", "unit": "ms"},
    {"name": "cached_query_p50_ms", "unit": "ms"},
    {"name": "error_rate", "unit": "ratio"},
]

LAYERS = ["jvm", "queries", "plan", "exec", "operators", "sources", "sinks", "cache"]


def quantile(values, q):
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def check(run, expected, batch_totals, rundir):
    """Verify every op's result; return the verdict with attempted/failed
    counted over the timed ops."""
    problems, bad = [], set()
    first = {}
    for op in run["ops"]:
        if not op["ok"]:
            bad.add(op["id"])
            problems.append(f"{op['kind']} {op['arg']} failed: {op['error']}")
        elif op["kind"] == "q":
            if first.setdefault(op["arg"], op["hash"]) != op["hash"]:
                bad.add(op["id"])
                problems.append(f"{op['arg']}: result differs between executions")
        elif op["kind"] in ("scan", "cached"):
            if op["result"] != oracle.expected_totals(batch_totals, op["batches"]):
                bad.add(op["id"])
                problems.append(f"{op['kind']} {op['arg']}: totals differ from the generator's")
    wrong = set()
    for entry in first:
        want = expected.get(entry)
        got = list(oracle.result_fingerprint(os.path.join(rundir, "results", entry)))
        if want is None or got != want:
            wrong.add(entry)
            problems.append(f"{entry}: result differs from the DuckDB oracle")
    bad |= {op["id"] for op in run["ops"] if op["kind"] == "q" and op["arg"] in wrong}
    timed = [op for op in run["ops"] if op["phase"] == "timed"]
    failed = sum(op["id"] in bad for op in timed)
    return {"correct": not bad and bool(timed), "attempted": len(timed),
            "failed": failed, "problems": problems}


def _query_key(op):
    return op["arg"] if op["kind"] == "q" else op["kind"]


def end_to_end(run, verdict, plan):
    timed = [op for op in run["ops"] if op["phase"] == "timed" and op["ok"]]
    per_query = {}
    for op in timed:
        if op["kind"] != "write":
            per_query.setdefault(_query_key(op), []).append(op["wall_ms"])
    medians = [statistics.median(v) for v in per_query.values()]
    p50 = statistics.median(medians)
    # tail: every sample over its own query's median, pooled, at the highest
    # percentile with ten samples beyond it, scaled to query_p50_ms
    ratios = [x / statistics.median(v) for v in per_query.values() for x in v]
    n_samples = len(ratios)
    q = 1 - 10 / n_samples
    tail_note = (f"p{q * 100:.0f} of {n_samples} samples, each over its query's median, "
                 f"x query_p50_ms" if q > 0.5 else
                 f"p50: {n_samples} samples leave no higher percentile with ten beyond it")
    wall_s = run["timed_s"]
    # throughput over the window's whole rounds (each op of the set once), so
    # it does not depend on which ops the cut-off last round happened to hold
    k = plan["round_len"]
    all_timed = [op for op in run["ops"] if op["phase"] == "timed"]
    whole = [op for op in all_timed[:len(all_timed) // k * k] if op["ok"]]
    setup = run["setup"]
    m = {
        "setup_s": {"value": setup["setup_s"] + run["warm_s"], "unit": "s",
                    "note": f"process start to views ready {setup['setup_s']:.2f} s "
                            f"(JVM start {setup['jvm_start_s']:.2f} s) + warm-up of "
                            f"{run['warm_ops']} ops ({run['warm_s']:.2f} s)"},
        "query_p50_ms": {"value": p50, "unit": "ms",
                         "note": f"{len(medians)} queries, {n_samples} samples"},
        "query_tail_ms": {"value": p50 * quantile(ratios, max(q, 0.5)), "unit": "ms",
                          "note": tail_note},
        "queries_per_s": {"value": len(whole) / (sum(op["wall_ms"] for op in whole) / 1e3),
                          "unit": "1/s", "note": f"{len(whole)} statements in "
                                                 f"{len(whole) // k} whole rounds"},
        "peak_rss_mb": {"value": run["jvm"]["vm_hwm_mb"], "unit": "MB",
                        "note": f"VmHWM, heap {workloads.HEAP}, young {workloads.YOUNG}"},
        "error_rate": {"value": verdict["failed"] / max(1, verdict["attempted"]),
                       "unit": "ratio"},
    }
    if run["workload"] == "llm_pipeline":
        rows = {t: workloads.corpus_rows(t) for t in set(workloads.LLM_PIPELINE.values())}
        docs = sum(rows[workloads.LLM_PIPELINE[op["arg"]]] for op in timed)
        m["docs_per_s"] = {"value": docs / wall_s, "unit": "docs/s"}
    if run["workload"] == "ingest_scan":
        writes = [op for op in timed if op["kind"] == "write"]
        if writes:
            m["write_rows_per_s"] = {
                "value": len(writes) * workloads.BATCH_ROWS
                / (sum(op["wall_ms"] for op in writes) / 1e3), "unit": "rows/s",
                "note": "partition overwrite + cache re-prepare per batch"}
        for kind, name in (("scan", "json_scan_p50_ms"), ("cached", "cached_query_p50_ms")):
            if kind in per_query:
                m[name] = {"value": statistics.median(per_query[kind]), "unit": "ms"}
    return m


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans, wall_ms, op_counters):
    """Per-layer self time of one op. The op's span is the root; its
    children (build, optimize, physical, collect, readJson, insert,
    prepare) run one after another on the client thread; Spark jobs nest
    in the child they started in. A child's self time is its span minus
    the union of its jobs; job time is split between `operators` and
    `exec` by the share of busy task-thread samples in operator code; the
    root keeps what no child covers. The layers sum to the op's wall."""
    root = next(s for s in spans if s[1] == "op")
    r0, r1 = root[2], root[3]
    children = [s for s in spans if s[1] not in ("op", "exec.job")]
    jobs = [(max(s[2], r0), min(s[3], r1)) for s in spans if s[1] == "exec.job"]
    out = dict.fromkeys(LAYERS, 0.0)
    job_ms = 0.0
    for c in children:
        inside = [(max(s, c[2]), min(e, c[3])) for s, e in jobs if s < c[3] and e > c[2]]
        j = _union(inside)
        job_ms += j
        out[c[1].split(".")[0]] += (c[3] - c[2]) - j
    out["jvm"] = (r1 - r0) - _union([(c[2], c[3]) for c in children])
    busy = op_counters.get("samples_busy", 0)
    share = op_counters.get("samples_operators", 0) / busy if busy else 0.0
    out["operators"] += job_ms * share
    out["exec"] += job_ms * (1 - share)
    scale = wall_ms / (r1 - r0) if r1 > r0 else 1.0  # span clock vs op timer
    return {k: v * scale for k, v in out.items()}


def per_layer(run, trace):
    timed = [op for op in run["ops"] if op["phase"] == "timed" and op["ok"]]
    by_op = {}
    for s in trace["spans"]:
        by_op.setdefault(s[0], []).append(s)
    counters = {int(k): v for k, v in trace["counters"].items()}
    cores = trace["cores"]

    def c(op, key):
        return counters.get(op["id"], {}).get(key, 0.0)

    def span_ms(op, name):
        return sum(s[3] - s[2] for s in by_op.get(op["id"], []) if s[1] == name)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    selfs = [self_times(by_op[op["id"]], op["wall_ms"], counters.get(op["id"], {}))
             for op in timed]
    m = {}
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = (mean(s[layer] for s in selfs), "ms")
    m["self.sum_error_ms"] = (max((abs(sum(s.values()) - op["wall_ms"])
                                   for s, op in zip(selfs, timed)), default=0.0), "ms")
    queries = [op for op in timed if op["kind"] == "q"]
    planned = [op for op in timed if op["kind"] != "write"]
    m["queries.build_ms"] = (mean(span_ms(op, "queries.build") for op in queries), "ms")
    m["plan.optimize_ms"] = (mean(span_ms(op, "plan.optimize") for op in planned), "ms")
    m["plan.physical_ms"] = (mean(span_ms(op, "plan.physical") for op in planned), "ms")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("sched_delay_ms", "ms"), ("task_run_ms", "ms"), ("task_cpu_ms", "ms"),
                      ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
                      ("spill_bytes", "bytes"), ("input_bytes", "bytes"), ("gc_ms", "ms")):
        m[f"exec.{key}"] = (mean(c(op, key) for op in timed), unit)
    m["exec.failed_tasks"] = (sum(c(op, "failed_tasks") for op in timed), "count")
    m["exec.codegen_compiles"] = (mean(op["compiles"] for op in timed), "count")
    wall = sum(op["wall_ms"] for op in timed)
    m["exec.util"] = (sum(c(op, "task_run_ms") for op in timed) / (wall * cores)
                      if wall else 0.0, "ratio")
    for entry in workloads.LLM_PIPELINE:
        ops = [(op, s) for op, s in zip(timed, selfs) if op["arg"] == entry]
        m[f"operators.{entry}_self_ms"] = (mean(s["operators"] for _, s in ops), "ms")
    scans = [op for op in timed if op["kind"] == "scan"]
    scan_s = sum(op["wall_ms"] for op in scans) / 1e3
    m["sources.json_rows_per_s"] = (
        sum(c(op, "input_records") for op in scans) / scan_s if scan_s else 0.0, "rows/s")
    m["sources.json_bytes_read"] = (mean(c(op, "input_bytes") for op in scans), "bytes")
    writes = [op for op in timed if op["kind"] == "write"]
    m["sinks.insert_ms"] = (mean(span_ms(op, "sinks.insert") for op in writes), "ms")
    m["sinks.bytes_written"] = (mean(c(op, "output_bytes") for op in writes), "bytes")
    m["sinks.files_written"] = (mean(op["files_written"] for op in writes), "count")
    in_bytes = sum(op["input_bytes"] for op in writes)
    m["sinks.bytes_per_input_byte"] = (
        sum(c(op, "output_bytes") for op in writes) / in_bytes if in_bytes else 0.0, "ratio")
    m["cache.prepare_ms"] = (mean(span_ms(op, "cache.prepare") for op in writes), "ms")
    last = writes[-1] if writes else {}
    m["cache.resident_frac"] = (last.get("cache_resident", 0.0), "ratio")
    m["cache.mem_bytes"] = (last.get("cache_mem_bytes", 0.0), "bytes")
    m["cache.disk_bytes"] = (last.get("cache_disk_bytes", 0.0), "bytes")
    by_kind = {k: [op["wall_ms"] for op in timed if op["kind"] == k] for k in ("scan", "cached")}
    m["cache.speedup"] = (statistics.median(by_kind["scan"]) / statistics.median(by_kind["cached"])
                          if by_kind["scan"] and by_kind["cached"] else 0.0, "ratio")
    m["tables.register_ms"] = (run["setup"]["register_ms"], "ms")
    m["jvm.heap_peak_mb"] = (run["jvm"]["heap_peak_mb"], "MB")
    m["jvm.gc_ms"] = (run["jvm"]["timed_gc_ms"], "ms")
    m["jvm.jit_ms"] = (run["jvm"]["timed_jit_ms"], "ms")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def bench_stamp():
    """Hash of the benchmark's own Python files: runs compare only with
    runs made by the same harness settings."""
    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    for p in sorted(glob.glob(os.path.join(here, "*.py"))):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def trace_overhead(results_dir, workload, stamp, e2e):
    """Traced query_p50_ms over the median untraced one recorded for this
    workload, build and harness in ``results_dir``; 0 when there is none
    yet."""
    base = []
    for p in glob.glob(os.path.join(results_dir, f"{workload}-seed*-trace0-*.json")):
        with open(p) as f:
            r = json.load(f)
        if r["source_stamp"] == stamp and r.get("bench_stamp") == bench_stamp():
            base.append(r["end_to_end"]["query_p50_ms"]["value"])
    value = e2e["query_p50_ms"]["value"] / statistics.median(base) if base else 0.0
    return {"value": value, "unit": "ratio"}
