"""The benchmark's own tests: generator determinism, the failure count of a
corrupted result, and the tail-percentile rule.

    python3 -m unittest discover -s perfbench/tests
"""

import copy
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import report  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_files_other_seed_differs(self):
        for workload in ("serve", "ingest", "corpus"):
            with tempfile.TemporaryDirectory() as tmp:
                a, b, c = (os.path.join(tmp, x) for x in "abc")
                gen.generate(workload, 11, a)
                gen.generate(workload, 11, b)
                gen.generate(workload, 12, c)
                self.assertTrue(same_tree(a, b), workload)
                self.assertFalse(same_tree(a, c), workload)

    def test_planted_properties(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.generate("corpus", 3, tmp)
            with open(os.path.join(tmp, "truth.json")) as f:
                truth = json.load(f)
            p = gen.PROFILES["corpus"]
            for day in truth["days"]:
                self.assertGreaterEqual(len(day["exact_dup_groups"]), p["dup_groups"])
                self.assertEqual(len(day["near_dup_pairs"]), p["near_pairs"])
                self.assertEqual(len(day["contaminated"]), p["contaminated"])
                self.assertTrue(all(day["tokens"][lang] > 0 for lang in ("en", "zh", "ja", "ko")))

    def test_cjk_words_segment_whole(self):
        for lang in ("zh", "ja", "ko"):
            self.assertGreater(len(gen.cjk_words(lang)), 20, lang)


def corpus_raw_and_truth():
    day = {"docs": 10, "tokens": {"en": 100, "zh": 5, "ja": 6, "ko": 7}, "gate_survivors": 8,
           "concordance_hits": 4, "exact_dup_groups": [[1, 2]], "near_dup_pairs": [[3, 4]],
           "contaminated": [5], "bloom_fp_max": 1, "distinct_texts": 9}
    truth = {"days": [day, copy.deepcopy(day)]}
    obs = {"days": [dict(day, cache_misses=9, candidate_pairs=2),
                    dict(copy.deepcopy(day), cache_misses=5, candidate_pairs=2)]}
    op = {"i": 0, "kind": "pass", "ms": 1000.0, "items": 20, "traced": False, "error": None, "obs": obs}
    raw = {"ops": [op, dict(copy.deepcopy(op), i=1)], "obs": {}, "setup_s": [1.0, 2.0, 3.0],
           "peak_rss_mb": 2300.0, "heap_mb": 2048.0, "live_heap_mb": 100.0, "session_start_s": 1.0, "prepare_s": 0.1, "loop_s": 2.0,
           "warmup_s": 1.0, "checks_s": 0.5}
    return raw, truth


class FailureCountTest(unittest.TestCase):
    def test_correct_corpus_passes(self):
        raw, truth = corpus_raw_and_truth()
        self.assertEqual(report.verdict("corpus", raw, truth), (2, 0, []))

    def test_corrupted_corpus_result_counts_as_failed(self):
        corruptions = [
            lambda d: d["tokens"].__setitem__("zh", 4),
            lambda d: d.__setitem__("exact_dup_groups", [[1, 3]]),
            lambda d: d.__setitem__("near_dup_pairs", []),
            lambda d: d.__setitem__("contaminated", []),
            lambda d: d.__setitem__("contaminated", [5, 6, 7]),
            lambda d: d.__setitem__("gate_survivors", 7),
        ]
        for corrupt in corruptions:
            raw, truth = corpus_raw_and_truth()
            corrupt(raw["ops"][1]["obs"]["days"][0])
            attempted, failed, names = report.verdict("corpus", raw, truth)
            self.assertEqual((attempted, failed), (2, 1))
            self.assertTrue(names and names[0].startswith("pass 1:"), names)

    def test_raised_operation_counts_as_failed(self):
        raw, truth = corpus_raw_and_truth()
        raw["ops"][0]["error"] = "java.lang.RuntimeException: boom"
        self.assertEqual(report.verdict("corpus", raw, truth)[:2], (2, 1))

    def test_corrupted_serve_row_counts_as_failed(self):
        row = {"req": 1, "kind": "bm25_one", "terms": ["the"], "got": [[1, 2.5]], "ref": [[1, 2.5]]}
        raw = {"ops": [{"i": 0, "kind": "delivery", "error": None}],
               "obs": {"results": [row, dict(row, req=5)], "ann_recall": 0.9, "delivered": 2,
                       "store": {"bm25_live": 5, "dedup_live": 5, "ann_live": 5}}}
        truth = {"ann_recall_floor": 0.5, "deliveries": [{"live_docs": 4}, {"live_docs": 5}]}
        self.assertEqual(report.verdict("serve", raw, truth)[:2], (7, 0))
        raw["obs"]["results"][1]["got"] = [[1, 2.4]]
        self.assertEqual(report.verdict("serve", raw, truth)[:2], (7, 1))
        raw["obs"]["ann_recall"] = 0.2
        self.assertEqual(report.verdict("serve", raw, truth)[:2], (7, 2))
        raw["obs"]["store"]["dedup_live"] = 4
        self.assertEqual(report.verdict("serve", raw, truth)[:2], (7, 3))

    def test_corrupted_ingest_state_counts_as_failed(self):
        serves = {"bm25": [[1, 1.0]], "dedup": [[9, 1, 1.0]], "ann": [[-1, 1, 1]]}
        obs = {"delivered": 2, "store": {"bm25_live": 5, "dedup_live": 5, "ann_live": 5},
               "oneshot": {"bm25_live": 5, "dedup_live": 5, "ann_live": 5},
               "store_serves": serves, "oneshot_serves": copy.deepcopy(serves)}
        raw = {"ops": [{"i": 0, "kind": "delivery", "error": None}], "obs": obs}
        truth = {"deliveries": [{"live_docs": 4}, {"live_docs": 5}]}
        self.assertEqual(report.verdict("ingest", raw, truth)[:2], (10, 0))
        obs["store"]["ann_live"] = 6
        obs["store_serves"]["dedup"] = []
        self.assertEqual(report.verdict("ingest", raw, truth)[:2], (10, 2))


class EndToEndTest(unittest.TestCase):
    def test_op_p50_weighs_every_kind(self):
        raw, truth = corpus_raw_and_truth()
        kinds = [("a", 100.0), ("a", 120.0), ("b", 400.0), ("b", 400.0), ("b", 400.0)]
        raw["ops"] = [dict(raw["ops"][0], i=i, kind=k, ms=ms) for i, (k, ms) in enumerate(kinds)]
        m, extra = report.end_to_end("corpus", raw, truth, 5, 0)
        self.assertAlmostEqual(m["op_p50_ms"][0], (100.0 * 400.0) ** 0.5)
        self.assertEqual(m["memory_mb"][0], 2300.0 - 2048.0 + 100.0)
        self.assertEqual(extra["p50_ms.b"][0], 400.0)


class TailRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, want in [(5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0),
                        (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
                        (1000, 99.0), (10000, 99.9)]:
            values = list(range(1, n + 1))
            value, p, beyond = report.tail(values)
            self.assertEqual(p, want, n)
            if p > 50.0:
                self.assertGreaterEqual(beyond, 10, n)
                self.assertEqual(beyond, sum(1 for v in values if v > value), n)
                # the next rung up would leave fewer than ten beyond
                higher = [q for q in report.TAIL_LADDER if q > p]
                if higher:
                    q = min(higher)
                    self.assertLess(sum(1 for v in values if v > report.percentile(values, q)), 10, n)

    def test_few_samples_fall_back_to_median(self):
        self.assertEqual(report.tail([5.0, 1.0, 3.0])[:2], (3.0, 50.0))


if __name__ == "__main__":
    unittest.main()
