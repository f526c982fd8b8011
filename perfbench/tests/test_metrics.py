"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import csv
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import evaluate  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_keeps_exactly_ten_beyond(self):
        for n in (11, 20, 37, 200):
            samples = [float(x) for x in range(n, 0, -1)]
            pct, value = metrics.tail(samples)
            self.assertEqual(sum(1 for s in samples if s > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_two_hundred_samples_is_p95(self):
        pct, value = metrics.tail(list(range(1, 201)))
        self.assertEqual((pct, value), (95.0, 190))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length(
            [(10, 30), (20, 50), (90, 120), (-5, 0)], 0, 100), 50)

    def test_self_time_subtracts_children_once(self):
        spans = [[0, -1, "api", 0, 100, 0, 0],
                 [1, 0, "storage", 10, 30, 0, 0],
                 [2, 0, "storage", 20, 50, 0, 0],
                 [3, 2, "inner", 25, 40, 0, 0],
                 [4, 0, "storage", 90, 100, 0, 0]]
        self.assertEqual(metrics.self_times(spans),
                         {0: 50, 1: 20, 2: 15, 3: 15, 4: 10})

    def test_innermost_open_span(self):
        spans = [[0, -1, "a", 0, 100, 0, 0], [1, 0, "b", 10, 50, 0, 0]]
        self.assertEqual(metrics.innermost(spans, 20), 1)
        self.assertEqual(metrics.innermost(spans, 60), 0)
        self.assertIsNone(metrics.innermost(spans, 150))


class LayerTableTest(unittest.TestCase):
    # span times in microseconds, task and phase times in milliseconds
    TRACE = {
        "spans": [[0, -1, "api.x", 0, 100000, 0, 2],
                  [1, 0, "storage.read", 0, 10000, 3, 0]],
        "jobs": [[0, 7], [0, 8], [1, 6]],
        "tasks": [[0, 20, 40, 2e9, 1e6, 0, 50, 0],
                  [0, 30, 70, 1e9, 0, 0, 30, 4e6],
                  [1, 2, 4, 0, 0, 0, 0, 0]],
        "phases": [["optimization", 5, 7], ["planning", 15, 18]],
    }

    def test_counts_roll_up_to_the_parent(self):
        t = metrics.layer_table(self.TRACE)
        api, read = t["api.x"], t["storage.read"]
        self.assertEqual((api["calls"], api["jobs_per_call"], api["tasks_per_call"]),
                         (1, 3, 3))
        self.assertEqual(read["jobs_per_call"], 1)
        self.assertAlmostEqual(api["executor_cpu_s"], 3.0)
        self.assertAlmostEqual(api["shuffle_mb"], 1.0)
        self.assertAlmostEqual(api["bytes_written_mb"], 4.0)
        self.assertEqual(api["files_listed"], 3)
        self.assertEqual(api["rows_read_per_result"], 40)
        # planning: the phase at 5 ms falls in the child, at 15 ms in the parent
        self.assertEqual((api["planning_ms"], read["planning_ms"]), (5, 2))
        # tasks cover 2-4 and 20-70 ms of the 100 ms span
        self.assertAlmostEqual(api["driver_wait_frac"], 0.48)
        self.assertAlmostEqual(api["max_task_over_median"], 40 / 20)
        self.assertAlmostEqual(api["self_p50_ms"], 90.0)

    def test_unused_spans_report_zero(self):
        out = metrics.per_layer_metrics({}, 1.5)
        self.assertEqual(out["plans.asof_join.p50_ms"], (0.0, "ms"))
        self.assertEqual(out[metrics.OVERHEAD], (1.5, "%"))
        self.assertLessEqual(len(out), 128)


class RenderTest(unittest.TestCase):
    def test_result_line_shape(self):
        line = metrics.result_line(True, 12, 0, {"setup_s": (1.25, "s")})
        self.assertEqual(json.loads(line), {
            "correct": True, "attempted": 12, "failed": 0,
            "metrics": {"setup_s": {"value": 1.25, "unit": "s"}}})
        self.assertNotIn("\n", line)

    def test_summary_lines(self):
        lines = metrics.summary_lines({"a_per_s": (1234.5678, "1/s"),
                                       "ratio": (0.0012345, "ratio")})
        self.assertEqual(lines[0].split(), ["a_per_s", "1235", "1/s"])
        self.assertEqual(lines[1].split(), ["ratio", "0.00123", "ratio"])

    def test_overhead(self):
        timed = [("a", 110, True), ("a", 100, False), ("b", 50, True),
                 ("b", 50, False), ("c", 9, True)]
        self.assertAlmostEqual(metrics.overhead_pct(timed), 5.0)


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as tmp:
            for workload in sorted(gen.GENERATORS):
                digests = []
                for run, seed in enumerate((7, 7, 8)):
                    out = os.path.join(tmp, "%s-%d" % (workload, run))
                    gen.generate(workload, seed, out)
                    digests.append(tree_digest(out))
                self.assertEqual(digests[0], digests[1], workload)
                self.assertNotEqual(digests[0], digests[2], workload)

    def test_planted_pairs_straddle_the_threshold(self):
        with tempfile.TemporaryDirectory() as tmp:
            tmp = os.path.join(tmp, "inputs")
            gen.generate("analytics", 3, tmp)
            with open(os.path.join(tmp, "docs.jsonl")) as f:
                docs = {d["doc_id"]: d["text"] for d in map(json.loads, f)}
            with open(os.path.join(tmp, "expected.json")) as f:
                expected = json.load(f)
            reposts, near = expected["repost_pairs"], expected["near_misses"]
            self.assertEqual(len(docs), gen.DOCS)
            self.assertEqual(len(reposts), round(gen.DOCS * gen.REPOST_RATE))
            self.assertEqual(len(near), round(gen.DOCS * gen.NEAR_MISS_RATE))
            for pairs, lo, hi in ((reposts, 0.8, 1.0), (near, 0.7, 0.8)):
                for a, b, j in pairs:
                    exact = evaluate.jaccard(evaluate.shingles(docs[a]),
                                             evaluate.shingles(docs[b]))
                    self.assertAlmostEqual(exact, j, places=6)
                    self.assertTrue(lo <= exact < hi, (a, b, exact))
            # spread over the band, not bunched at one end
            js = sorted(j for _, _, j in reposts)
            self.assertLess(js[0], 0.85)
            self.assertGreater(js[-1], 0.93)

    def test_hot_uploader_share_is_exact(self):
        # the hot uploader's share fixes the as-of join's skew, so it
        # must not vary with the seed
        with tempfile.TemporaryDirectory() as tmp:
            for seed in (3, 4):
                out = os.path.join(tmp, str(seed))
                gen.generate("analytics", seed, out)
                with open(os.path.join(out, "submission_scans.csv")) as f:
                    rows = list(csv.DictReader(f))
                hot = sum(1 for r in rows if r["uploader"] == "0")
                self.assertEqual(hot, round(gen.DOCS * gen.HOT_SHARE) *
                                 gen.SCANS_PER_DOC)

    def test_warmup_cycles_precede_the_measured_ones(self):
        with tempfile.TemporaryDirectory() as tmp:
            tmp = os.path.join(tmp, "inputs")
            gen.generate("ingest_refresh", 3, tmp)
            with open(os.path.join(tmp, "manifest.tsv")) as f:
                labels = [l.split("\t")[0] for l in f if l.strip()]
            with open(os.path.join(tmp, "expected.json")) as f:
                expected = json.load(f)
            batches = [l for l in labels if l != "base"]
            want = (["warmup%d" % c for c in range(gen.WARMUP_CYCLES)] +
                    ["cycle%d" % c for c in range(gen.REFRESH_CYCLES)])
            self.assertEqual(batches, [l for l in want for _ in ("e621", "fa")])
            self.assertEqual(len(expected["warmup"]), gen.WARMUP_CYCLES)
            self.assertEqual(len(expected["cycles"]), gen.REFRESH_CYCLES)

if __name__ == "__main__":
    unittest.main()
