#!/usr/bin/env python3
"""Tests for the seeded input generators.

    python3 perfbench/test_generators.py

The same seed must give byte-identical op sequences and NDJSON batches and a
different seed different ones; the harness is handed only the generated
files, never the seed.
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build")


def generated(workload, seed):
    """(plan, {relative path: bytes}) of one generation in a fresh dir."""
    os.makedirs(SCRATCH, exist_ok=True)
    d = tempfile.mkdtemp(dir=SCRATCH)
    try:
        plan = workloads.generate(workload, seed, 10, d)
        files = {}
        for root, _, names in os.walk(d):
            for n in names:
                with open(os.path.join(root, n), "rb") as f:
                    files[os.path.relpath(os.path.join(root, n), d)] = f.read()
        return plan, files
    finally:
        shutil.rmtree(d)


class SeededGenerators(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in sorted(workloads.WORKLOADS):
            (p1, a), (p2, b) = generated(w, 5), generated(w, 5)
            self.assertEqual(a, b, w)
            self.assertEqual(p1.get("batch_totals"), p2.get("batch_totals"), w)

    def test_other_seed_other_bytes(self):
        for w in sorted(workloads.WORKLOADS):
            (_, a), (_, b) = generated(w, 5), generated(w, 6)
            self.assertEqual(sorted(a), sorted(b), w)
            self.assertNotEqual(a["timed.ops"], b["timed.ops"], w)
            for name in a:
                if name.startswith("batches" + os.sep):
                    self.assertNotEqual(a[name], b[name], name)

    def test_harness_gets_no_seed(self):
        for w in sorted(workloads.WORKLOADS):
            plan, _ = generated(w, 5)
            self.assertFalse(any("seed" in k for k in plan["conf"]), w)

    def test_op_set_is_fixed(self):
        """Seeds reorder the op set; every round holds each op once."""
        plan, a = generated("bi_sql", 5)
        ops = a["timed.ops"].decode().split("\n")[:-1]
        k = plan["round_len"]
        for r in range(len(ops) // k):
            self.assertEqual(sorted(ops[r * k:(r + 1) * k]),
                             sorted(f"q {e}" for e in workloads.BI_SQL))

    def test_batch_totals_match_files(self):
        """The generator's totals are those of the NDJSON it wrote."""
        import json
        d = tempfile.mkdtemp(dir=SCRATCH)
        try:
            totals = datagen.ndjson_batches(3, d, 2, 500)
            rows = {}
            for b in range(2):
                with open(os.path.join(d, f"batch-{b:04d}.json")) as f:
                    for line in f:
                        e = json.loads(line)
                        r = rows.setdefault(e["event_type"], [0, 0, 0, 0, None])
                        r[0] += 1
                        r[1] += e["user"]["shard"]
                        r[2] += e["props"]["k"]
                        r[3] += round(e["value"] * 100)
                        r[4] = e["ts_us"] if r[4] is None else max(r[4], e["ts_us"])
            self.assertEqual(oracle.expected_totals(totals, [0, 1]),
                             [[k] + rows[k] for k in sorted(rows)])
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
