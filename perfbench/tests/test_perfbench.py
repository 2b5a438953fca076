"""Unit tests of the benchmark's generators and metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import gzip
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):

    def generate(self, seed, root):
        gen.fastq_pairs(seed, os.path.join(root, "fastq"), samples=2, pairs_per_sample=30)
        gen.domain_files(seed, os.path.join(root, "domain"), n_reads=50, n_hits=80)
        gen.tables(seed, os.path.join(root, "tables"), sf=0.001)

    def test_same_seed_gives_identical_bytes_and_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.generate(7, a)
            self.generate(7, b)
            self.generate(8, c)
            names = files(a)
            self.assertEqual(names, files(b))
            self.assertEqual(len(names), 4 + 3 + 10)
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            match, mismatch, errors = filecmp.cmpfiles(a, c, names, shallow=False)
            # region/nation hold no random values; every other file differs
            self.assertEqual(sorted(match), ["tables/nation.parquet", "tables/region.parquet"])

    def test_mates_are_reverse_complements_with_lengths_in_range(self):
        with tempfile.TemporaryDirectory() as d:
            gen.fastq_pairs(3, d, samples=1, pairs_per_sample=40)
            r1 = gzip.open(os.path.join(d, "r1", "S0.fastq.gz"), "rt").read().split("\n")
            r2 = gzip.open(os.path.join(d, "r2", "S0.fastq.gz"), "rt").read().split("\n")
            for i in range(0, 160, 4):
                self.assertEqual(r1[i][:-2], r2[i][:-2])
                self.assertEqual(gen.revcomp(r1[i + 1].encode()).decode(), r2[i + 1])
                self.assertTrue(100 <= len(r1[i + 1]) <= 150)

    def test_query_stream_is_seeded(self):
        a = run.runner_queries(random.Random(5))
        self.assertEqual(a, run.runner_queries(random.Random(5)))
        self.assertNotEqual(a, run.runner_queries(random.Random(6)))


class MetricTest(unittest.TestCase):

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))                 # 100 samples
        self.assertEqual(metrics.tail(xs), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > 90), 10)
        self.assertEqual(metrics.tail(list(range(20))), (50.0, 9, 20))
        self.assertEqual(metrics.tail(list(range(11))), (100.0 / 11, 0, 11))
        # too few samples for any percentile: the maximum, flagged as p100
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))

    def test_union_of_overlapping_spans(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(3, 4), (0, 1)]), 2)
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_gap_counts_overlapping_jobs_once(self):
        trace = {"spans": [{"id": 0, "name": "pass", "start": 0.0, "end": 10000.0,
                            "parent": -1, "pass": "p0"}],
                 "jobs": [{"id": 1, "start": 1000, "end": 4000, "stages": [1]},
                          {"id": 2, "start": 2000, "end": 5000, "stages": [2]}],
                 "stages": [{"id": 1}, {"id": 2}],
                 "tasks": [[1, 3000, 0, 0, 0, 0, False, 3000],
                           [2, 1000, 0, 0, 0, 0, False, 1000],
                           [2, 2000, 0, 0, 0, 0, False, 2000]],
                 "plans": [], "counters": []}
        out = metrics.per_layer(trace, [{"id": "p0", "seconds": 10.0}], cores=2)
        self.assertEqual(out["spark.jobs"], 2)
        self.assertAlmostEqual(out["spark.driver_gap_s"], 6.0)
        self.assertAlmostEqual(out["spark.task_s"], 6.0)
        self.assertAlmostEqual(out["spark.busy_frac"], 0.3)
        self.assertAlmostEqual(out["spark.straggler_s"], 0.5)


class OrfTest(unittest.TestCase):

    def test_six_frame_scan_matches_hand_translation(self):
        # ATG AAA TAG on the forward strand; nothing on the reverse strand
        self.assertEqual(check.orfs("ATGAAATAG"), ["MK*"])
        # an ORF opens only after the previous one's stop codon
        self.assertEqual(check.orfs("ATGTAGATGCCCTAA"), ["M*", "MP*"])
        self.assertEqual(sorted(check.orfs("CTATTTCAT")), ["MK*"])


if __name__ == "__main__":
    unittest.main()
