"""Tests of the benchmark's own pieces: the seeded generator and the
metric-line parser. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SF = 0.002  # small: the properties do not depend on size


def scratch():
    os.makedirs(run.BUILD, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.BUILD, prefix="test-")


def read(path):
    with open(path) as f:
        return f.read()


def dml_lines(out):
    return [line.split("\t") for line in read(f"{out}/dml.tsv").splitlines()]


class GeneratorTest(unittest.TestCase):
    def jdbc(self, tmp, name, seed, steps=4):
        out = os.path.join(tmp, name)
        gen.jdbc(out, seed, SF, steps)
        return out

    def test_same_seed_same_dml_and_counts(self):
        with scratch() as tmp:
            a, b = self.jdbc(tmp, "a", 7), self.jdbc(tmp, "b", 7)
            self.assertEqual(read(f"{a}/dml.tsv"), read(f"{b}/dml.tsv"))
            self.assertEqual(read(f"{a}/expected.json"), read(f"{b}/expected.json"))

    def test_other_seed_other_keys(self):
        with scratch() as tmp:
            a, b = self.jdbc(tmp, "a", 7), self.jdbc(tmp, "b", 8)

            def changed(out):
                return {(l[0], l[1], l[2], l[3]) for l in dml_lines(out) if l[0] != "-1"}

            self.assertNotEqual(changed(a), changed(b))

    def test_expected_counts_match_the_dml(self):
        with scratch() as tmp:
            out = self.jdbc(tmp, "a", 3)
            exp = json.loads(read(f"{out}/expected.json"))
            ops = Counter((int(l[0]), l[1], l[2]) for l in dml_lines(out))
            base = sum(n for (s, _, _), n in ops.items() if s == -1)
            self.assertEqual(exp["rows"][0], base)
            for s, step in enumerate(exp["steps"]):
                for table, (u, d, i) in step.items():
                    self.assertEqual((ops[(s, table, "U")], ops[(s, table, "D")],
                                      ops[(s, table, "I")]), (u, d, i))
                    self.assertGreater(u + d + i, 0)
                delta = sum(i - d for (u, d, i) in step.values())
                self.assertEqual(exp["rows"][s + 1], exp["rows"][s] + delta)

    def test_each_step_touches_a_key_once_and_inserts_new_keys(self):
        with scratch() as tmp:
            out = self.jdbc(tmp, "a", 5)
            live = {t: set() for t in gen.PK}
            for s in range(-1, 4):
                lines = [l for l in dml_lines(out) if int(l[0]) == s]
                for table in gen.PK:
                    mine = [l for l in lines if l[1] == table]
                    keys = [l[3] for l in mine]
                    self.assertEqual(len(keys), len(set(keys)))
                    for l in mine:
                        if l[2] == "I":
                            self.assertNotIn(l[3], live[table])
                            live[table].add(l[3])
                        else:
                            self.assertIn(l[3], live[table])
                            if l[2] == "D":
                                live[table].discard(l[3])

    def test_registry_fixture_ignores_the_seed_argument_of_the_run(self):
        with scratch() as tmp:
            gen.registry(f"{tmp}/a", SF)
            gen.registry(f"{tmp}/b", SF)
            import pyarrow.parquet as pq
            for t in os.listdir(f"{tmp}/a"):
                self.assertTrue(pq.read_table(f"{tmp}/a/{t}").equals(pq.read_table(f"{tmp}/b/{t}")))


class ParserTest(unittest.TestCase):
    def test_reads_metrics_and_facts_and_skips_noise(self):
        metrics, facts = run.parse_metric_lines([
            "26/10/17 04:36:45 INFO BlockManager: Initialized",
            '@@ {"metric": "iter_s", "value": 7.25, "unit": "s"}',
            "plain console output",
            '@@ {"fact": "problems", "value": []}',
            '@@ {"metric": "app.jobs", "value": 34, "unit": "count"}',
        ])
        self.assertEqual(metrics, {"iter_s": {"value": 7.25, "unit": "s"},
                                   "app.jobs": {"value": 34.0, "unit": "count"}})
        self.assertEqual(facts, {"problems": []})

    def test_layer_units_come_from_the_spec_and_missing_layers_read_zero(self):
        metrics, _ = run.parse_metric_lines([
            '@@ {"metric": "setup_s", "value": 1.5, "unit": "s"}',
            '@@ {"layer": "app.jobs", "value": 40}',
        ], {"app.jobs": "count", "report.bytes": "bytes"})
        self.assertEqual(metrics, {"setup_s": {"value": 1.5, "unit": "s"},
                                   "app.jobs": {"value": 40.0, "unit": "count"},
                                   "report.bytes": {"value": 0.0, "unit": "bytes"}})

    def test_rejects_a_layer_the_spec_does_not_name(self):
        with self.assertRaises(run.BenchError):
            run.parse_metric_lines(['@@ {"layer": "app.jbos", "value": 40}'], {"app.jobs": "count"})

    def test_rejects_broken_records(self):
        for bad in ('@@ {"metric": "iter_s", "value": 1.0',
                    '@@ {"metric": "iter_s", "value": null, "unit": "s"}',
                    '@@ {"metric": "iter_s", "value": true, "unit": "s"}',
                    '@@ {"layer": "app.jobs", "value": "40"}',
                    '@@ {"other": 1}'):
            with self.assertRaises(run.BenchError):
                run.parse_metric_lines([bad])


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond_it(self):
        self.assertIsNone(run.top_percentile([1.0] * 19))
        self.assertEqual(run.top_percentile([float(i) for i in range(20)]), [50.0, 10.0])
        self.assertEqual(run.top_percentile([float(i) for i in range(100)]), [90.0, 90.0])


if __name__ == "__main__":
    unittest.main()
