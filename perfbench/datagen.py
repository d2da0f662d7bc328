"""Deterministic generators for the benchmark's per-run inputs.

Both are pure functions of their seed: the op order of a run
(``op_sequence``) and, for ``ingest_scan``, the NDJSON event batches it
ingests plus the totals the ingest checks compare against
(``ndjson_batches``). The base tables are not generated: every workload reads
the engine's sf0.1 corpus, shipped under ``perfbench/data/sf0.1``.
"""
import json
import os

import numpy as np

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 in epoch micros


def op_sequence(seed, ops, rounds, stream=1):
    """``rounds`` seeded permutations of ``ops``, concatenated; ``stream``
    keeps independent draws from one seed apart."""
    rng = np.random.default_rng([seed, stream])
    return [ops[i] for _ in range(rounds) for i in rng.permutation(len(ops))]


def ndjson_batches(seed, out_dir, n_batches, rows):
    """Write ``n_batches`` NDJSON files of nested events (the shape of
    ``Formats.eventsJsonSchema``) and return, per batch, the exact totals
    the benchmark's aggregate must reproduce, keyed by event_type:
    ``[rows, sum(user.shard), sum(props.k), sum(value in cents), max(ts_us)]``.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    totals = []
    for b in range(n_batches):
        ids = b * rows + np.arange(rows)
        ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, rows))
        users = rng.integers(0, 1500, rows)
        etype = rng.integers(0, 5, rows)
        cents = rng.geometric(1 / 5000.0, rows) - 1
        k = rng.integers(0, 100, rows)
        lines = []
        for i in range(rows):
            lines.append(json.dumps({
                "event_id": int(ids[i]), "ts_us": int(ts[i]),
                "user": {"id": int(users[i]), "shard": int(users[i] % 97)},
                "event_type": EVENT_TYPES[etype[i]],
                "value": int(cents[i]) / 100.0,
                "props": {"k": int(k[i])}}, separators=(",", ":")))
        with open(os.path.join(out_dir, f"batch-{b:04d}.json"), "w") as f:
            f.write("\n".join(lines) + "\n")
        per = {}
        for e, name in enumerate(EVENT_TYPES):
            m = etype == e
            per[name] = [int(m.sum()), int((users[m] % 97).sum()), int(k[m].sum()),
                         int(cents[m].sum()), int(ts[m].max()) if m.any() else None]
        totals.append(per)
    return totals
