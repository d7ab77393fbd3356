#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the package).

    python3 perfbench/selftest.py          # all, ~4 min (four Spark runs)
    python3 perfbench/selftest.py Helpers  # the fast ones only
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
from run import tail  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


class Helpers(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        self.assertIsNone(tail([1.0] * 10))
        p, v, beyond = tail([float(i) for i in range(1, 101)])
        self.assertEqual((p, v, beyond), (90, 90.0, 10))
        p, _, beyond = tail([float(i) for i in range(1000)])
        self.assertEqual((p, beyond), (99, 10))
        p, _, beyond = tail([float(i) for i in range(10000)])
        self.assertEqual((p, beyond), (99.9, 10))
        p, v, beyond = tail([float(i) for i in range(11)])
        self.assertEqual((p, v, beyond), (9, 0.0, 10))

    def test_seed_reproduces_and_changes_inputs(self):
        a, ca = inputs.ingest_batches(1, 60, 20, 4)
        b, cb = inputs.ingest_batches(1, 60, 20, 4)
        c, cc = inputs.ingest_batches(2, 60, 20, 4)
        for x, y in zip(a, b):
            self.assertTrue(x.equals(y))
        self.assertEqual(ca, cb)
        self.assertFalse(all(x.equals(y) for x, y in zip(a, c)))
        self.assertNotEqual(ca, cc)

        _, q1 = inputs.graph_split(1, 10)
        _, q1b = inputs.graph_split(1, 10)
        _, q2 = inputs.graph_split(2, 10)
        self.assertEqual(q1.vec_id.tolist(), q1b.vec_id.tolist())
        self.assertNotEqual(q1.vec_id.tolist(), q2.vec_id.tolist())

    def test_copies_are_seeded_near_duplicates(self):
        batches, copies = inputs.ingest_batches(3, 100, 50, 5)
        texts = {i: t for b in batches for i, t in zip(b.doc_id, b.text)}
        self.assertEqual(len(copies),
                         4 * round(50 * inputs.DUP_SHARE))
        for doc, (src, edits) in copies.items():
            self.assertLess(src, doc)
            a, b = texts[src].split(), texts[doc].split()
            self.assertEqual(len(a), len(b))
            self.assertEqual(sum(x != y for x, y in zip(a, b)), edits)


class Smoke(unittest.TestCase):
    """Tiny-size runs of every workload, untraced and traced."""

    def _run(self, workload: str, trace: int):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "7", "--seconds", "1", "--trace",
             str(trace), "--sizes", "tiny"],
            capture_output=True, text=True, timeout=600)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        lines = proc.stdout.strip().splitlines()
        return json.loads(lines[-2]), json.loads(lines[-1])

    def test_every_metric_for_every_workload(self):
        bench = _bench_json()
        digests = {}
        for w in ("ingest", "search_graph"):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    summary, res = self._run(w, trace)
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in bench[key]}
                    got = {k: m["unit"] for k, m in res["metrics"].items()}
                    self.assertEqual(got, want)
                    if "admitted_digests" in summary:
                        digests[trace] = summary["admitted_digests"]
        # dedup admits are identical across runs of one seed (the traced
        # run has at least one batch more)
        n = len(digests[0])
        self.assertEqual(digests[0], digests[1][:n])


if __name__ == "__main__":
    unittest.main()
