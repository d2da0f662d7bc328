"""The benchmark's workloads, their pinned environment and end-to-end metrics.

Every workload is a closed loop with one client: the next op starts when the
previous one has returned its result to the client. The seed sets the op
order and every generated input; the op *set* of a workload is fixed, so
runs with different seeds measure the same work in a different order.
"""
import os

import datagen

CORES = 4          # local[4]: the engine's master for every run
HEAP = "3g"        # -Xms = -Xmx of the benchmark JVM
YOUNG = "768m"     # -Xmn: the fixed young generation
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

# bi_sql: read-only catalog entries from the relational families (filter +
# aggregate, selective scan, string functions, semi join, TPC-DS star,
# multi-way join); 0.2-1.3 s each on 4 cores at sf0.1, so a round of all six
# takes about 3 s and the timed window holds two or more.
BI_SQL = ["q6_filter_agg", "q_perf_selective", "q_fn_string", "q_join_semi",
          "q_ds3_star", "q5_multijoin"]

# llm_pipeline: document-processing entries (exact dedup, regex text
# statistics, LSH ANN search) and the corpus each one makes a pass over.
LLM_PIPELINE = {"q_dedup_exact": "documents", "q_text_stats": "documents",
                "q_sim_search_lsh": "embeddings"}

# ingest_scan: NDJSON batches of BATCH_ROWS events. The table holds SLOTS
# batches (batch b in slot b % SLOTS; a write replaces the slot's older
# batch), filled by the set-up; SCAN_BATCHES are read per JSON scan.
BATCH_ROWS = 10_000
SLOTS = 4
SCAN_BATCHES = 2
# untimed rounds before the window (each op once per round); the catalog
# entries' second execution is still 20-60% above their steady state, and
# the third still 5-15%
WARM_ROUNDS = {"bi_sql": 3, "llm_pipeline": 3, "ingest_scan": 2}
MAX_ROUNDS = 40    # timed ops are drawn from this many seeded rounds (cycled)

WORKLOADS = {"bi_sql", "llm_pipeline", "ingest_scan"}

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "query_p50_ms", "unit": "ms", "better": "lower", "bound": 0.25},
    {"name": "queries_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.15},
]


def corpus_rows(table):
    """Row count of a base table, from its parquet footer."""
    import pyarrow.parquet as pq
    return pq.ParquetFile(os.path.join(DATA, f"{table}.parquet")).metadata.num_rows


def all_entries():
    """Every catalog entry a workload runs (their oracle fingerprints are
    computed once per checkout)."""
    return BI_SQL + list(LLM_PIPELINE)


def _write_ops(path, ops):
    with open(path, "w") as f:
        f.write("\n".join(ops) + "\n")


def generate(workload, seed, seconds, rundir):
    """Write the run's seeded inputs under ``rundir`` and return the plan:
    the harness conf entries plus what the checks need."""
    warm_path = os.path.join(rundir, "warm.ops")
    timed_path = os.path.join(rundir, "timed.ops")
    plan = {"conf": {"warm_ops": warm_path, "timed_ops": timed_path}}
    if workload in ("bi_sql", "llm_pipeline"):
        entries = BI_SQL if workload == "bi_sql" else list(LLM_PIPELINE)
        ops = [f"q {e}" for e in entries]
        seq = datagen.op_sequence(seed, ops, WARM_ROUNDS[workload] + MAX_ROUNDS)
        cut = WARM_ROUNDS[workload] * len(ops)
        _write_ops(warm_path, seq[:cut])
        _write_ops(timed_path, seq[cut:])
        plan["round_len"] = len(ops)
        return plan
    # ingest_scan: rounds of {write the next batch, JSON scan of two
    # batches, cached query}; every batch is written at most once
    rounds = WARM_ROUNDS[workload] + 2 * int(seconds) + 2
    n_batches = SLOTS + rounds
    batch_dir = os.path.join(rundir, "batches")
    plan["batch_totals"] = datagen.ndjson_batches(seed, batch_dir, n_batches, BATCH_ROWS)
    plan["batch_bytes"] = sum(os.path.getsize(os.path.join(batch_dir, f))
                              for f in os.listdir(batch_dir))
    order = datagen.op_sequence(seed, ["write", "scan", "cached"], rounds)
    perms = datagen.op_sequence(seed, list(range(n_batches)), rounds, stream=3)
    ops, nxt, scans = [], SLOTS, 0
    for kind in order:
        if kind == "write":
            ops.append(f"write {nxt}")
            nxt += 1
        elif kind == "scan":
            pick = perms[scans * n_batches:scans * n_batches + SCAN_BATCHES]
            scans += 1
            ops.append("scan " + ",".join(str(b) for b in sorted(pick)))
        else:
            ops.append("cached")
    cut = WARM_ROUNDS[workload] * 3
    _write_ops(warm_path, ops[:cut])
    _write_ops(timed_path, ops[cut:])
    plan["round_len"] = 3
    plan["conf"].update(batches=batch_dir, slots=SLOTS,
                        preload=",".join(str(b) for b in range(SLOTS)))
    return plan
