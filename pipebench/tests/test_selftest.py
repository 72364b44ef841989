"""Self-test of the pipeline benchmark at the `tiny` input size.

    python3 -m unittest discover -s pipebench/tests

Checks that every workload emits exactly the end-to-end metrics that
BENCHMARK.json declares (and, traced, exactly the per-layer ones), each
with its declared unit; that its output checks pass; and that the output
check flags a deliberately altered digest. Takes a few minutes: each
workload runs its real pipeline once untraced and once traced.
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

SPEC = json.load(open(os.path.join(run.build.ROOT, "BENCHMARK.json")))
SEED = 7


def declared(kind):
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def emitted(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


class SelfTest(unittest.TestCase):

    def test_declared_workloads_are_the_harness_workloads(self):
        self.assertEqual([w["name"] for w in SPEC["workloads"]], run.WORKLOADS)

    def test_every_metric_emitted_with_its_unit(self):
        for w in run.WORKLOADS:
            for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    # the traced run reuses the seed, so it also checks its
                    # digests against the untraced run's
                    result, _ = run.run_once(w, SEED, 1, trace, scale="tiny",
                                             quiet=True)
                    self.assertTrue(result["correct"], result)
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.assertEqual(emitted(result), declared(kind))
                    if kind == "end_to_end":
                        for k, v in result["metrics"].items():
                            self.assertGreater(v["value"], 0, k)

    def test_altered_digest_is_flagged(self):
        result, _ = run.run_once("event_stream", SEED + 1, 1, False,
                                 scale="tiny", tamper=True, quiet=True)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])


if __name__ == "__main__":
    unittest.main()
