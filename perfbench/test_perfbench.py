"""Self-tests for the benchmark harness's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_tail_percentiles_need_ten_samples_beyond(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.95), 200)
        self.assertEqual(stats.min_samples(0.75), 40)
        self.assertEqual(stats.min_samples(0.5), 1)
        xs = list(range(1, 100))
        self.assertEqual(stats.percentile(xs, 0.9), (None, 99))
        value, n = stats.percentile(list(range(1, 101)), 0.9)
        self.assertEqual(n, 100)
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual(stats.percentile(list(range(199)), 0.95)[0], None)
        self.assertIsNotNone(stats.percentile(list(range(200)), 0.95)[0])

    def test_tail_quantile_is_the_highest_with_ten_beyond(self):
        self.assertEqual(stats.tail_quantile(100), 0.9)
        self.assertEqual(stats.tail_quantile(200), 0.95)
        self.assertEqual(stats.tail_quantile(30), 0.66)
        self.assertIsNone(stats.tail_quantile(20))
        self.assertIsNone(stats.tail_quantile(0))
        for n in range(21, 400):
            q = stats.tail_quantile(n)
            self.assertIsNotNone(stats.percentile(list(range(n)), q)[0])
            self.assertGreaterEqual(n * (1 - q), 10 - 1e-9)

    def test_median_reports_its_sample_count(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(stats.median([]), (None, 0))


class StealTest(unittest.TestCase):
    def test_stolen_share_is_taken_out_of_wall_time(self):
        self.assertEqual(run.busy_s({"s": 2.0, "steal": 0.0}), 2.0)
        self.assertAlmostEqual(run.busy_s({"s": 2.0, "steal": 0.25}), 1.5)


class FailedFracTest(unittest.TestCase):
    def _result(self, top):
        call = {"span": "sim.Semantic.relatedTermsFrom", "label": "head", "s": 0.5,
                "error": None, "out": {"query": "w1", "top": top, "rows_read": 10}}
        build = {"span": "tfidf.TfIdf.tfidf", "label": "index", "s": 1.0,
                 "error": None, "out": 10}
        golden = [["gene_tp53_gene", 0.709666195], ["gene_kras_gene", 0.34299717]]
        return {"rounds": [{"traced": False, "calls": [build, call]}], "golden": golden}

    def test_a_wrong_answer_counts_as_a_failure(self):
        orc = {"top": {"w1": [["w2", 0.5]]}}
        attempted, failed, _ = run.check("related_terms", self._result([["w2", 0.5]]), orc)
        self.assertEqual((attempted, failed), (3, 0))
        attempted, failed, notes = run.check("related_terms", self._result([["w3", 0.5]]), orc)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertAlmostEqual(stats.failed_frac(attempted, failed), 1 / 3)
        self.assertIn("top-5 of w1", notes[0])

    def test_an_error_counts_as_a_failure(self):
        res = self._result([["w2", 0.5]])
        res["rounds"][0]["calls"][1]["error"] = "boom"
        _, failed, _ = run.check("related_terms", res, {"top": {"w1": [["w2", 0.5]]}})
        self.assertEqual(failed, 1)

    def test_dedup_recall_and_assignment_are_checked(self):
        calls = [{"span": "ops.Dedup.maintainDedupState", "label": "maintain", "s": 1.0,
                  "error": None, "out": {"dup_recall": 0.5}},
                 {"span": "ops.Dedup.readClusterAssignment", "label": "serve", "s": 0.1,
                  "error": None, "out": [[1, 1, 2], [2, 1, 2]]}]
        res = {"rounds": [{"traced": False, "calls": calls}]}
        attempted, failed, _ = run.check("dedup_lifecycle", res, [(1, 1, 2), (2, 1, 3)])
        self.assertEqual((attempted, failed), (2, 2))

    def test_nothing_attempted_is_refused(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


class MetricNameTest(unittest.TestCase):
    def test_declared_metric_names_are_well_formed(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]*$")
            self.assertLessEqual(len(n), 64)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))

    def test_metrics_refuse_bad_names(self):
        m = stats.Metrics()
        m.add("a.b-c_1", 1.0, "s")
        for bad in ("a b", "a/b", "", "x" * 65):
            with self.assertRaises(ValueError):
                m.add(bad, 1.0, "s")
        with self.assertRaises(ValueError):
            m.add("a.b-c_1", 2.0, "s")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, _, _ = gen.zipf_docs(7, 50, vocab=500)
        b, _, _ = gen.zipf_docs(7, 50, vocab=500)
        c, _, _ = gen.zipf_docs(8, 50, vocab=500)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertTrue(all(10 <= len(d) <= 100 for d in a))

    def test_near_dups_have_the_requested_share_and_edit_rate(self):
        docs, names, p = gen.zipf_docs(1, 300, vocab=2000)
        out, pairs = gen.inject_near_dups(2, docs, 0.25, 0.05, names, p)
        self.assertEqual(len(out), 400)
        self.assertEqual(len(pairs), 100)
        for c, s in pairs:
            diff = sum(x != y for x, y in zip(out[c], out[s]))
            self.assertEqual(len(out[c]), len(out[s]))
            self.assertLessEqual(diff, max(1, round(len(out[s]) * 0.05)))

    def test_query_sampler_splits_head_and_tail_by_df(self):
        docs, _, _ = gen.zipf_docs(3, 2000, vocab=5000)
        qs = gen.sample_query_terms(4, docs, 10, 10, 0.01, (3, 5))
        df = gen.document_frequency(docs)
        top = sorted(df.values(), reverse=True)[max(10, int(len(df) * 0.01)) - 1]
        self.assertEqual(sum(k == "head" for _, k, _ in qs), 10)
        for t, kind, d in qs:
            self.assertEqual(df[t], d)
            if kind == "head":
                self.assertGreaterEqual(d, top)
            else:
                self.assertTrue(3 <= d <= 5)

    def test_fingerprint_tracks_content(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "a"), "w") as f:
                f.write("x")
            before = gen.fingerprint(d)
            with open(os.path.join(d, "a"), "w") as f:
                f.write("y")
            self.assertNotEqual(before, gen.fingerprint(d))


if __name__ == "__main__":
    unittest.main()
