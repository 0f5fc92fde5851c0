"""Tests of the benchmark's own logic (no engine needed).

Run from the root of a checkout:  python3 -m unittest discover -s perfbench
"""

import copy
import json
import os
import unittest

import checks
import gen
import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_refuses_a_percentile_with_fewer_than_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(199)), 95))
        self.assertIsNone(stats.percentile(list(range(10)), 50))
        self.assertIsNone(stats.percentile([], 50))

    def test_nearest_rank_when_enough_samples_lie_beyond(self):
        values = list(range(1, 201))  # 1..200
        self.assertEqual(stats.percentile(values, 95), 190)  # 10 samples beyond
        self.assertEqual(stats.percentile(values[::-1], 50), 100)

    def test_quartile_spread_matches_statistics_quantiles(self):
        self.assertAlmostEqual(stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


class QuietestWindowTest(unittest.TestCase):
    def test_picks_the_window_with_the_lowest_median(self):
        # 3 windows of 2 s: medians 50, 30 and 40
        values = [50] * 10 + [30] * 12 + [40] * 10
        ends = [0.1 * i for i in range(10)] + [2 + 0.1 * i for i in range(12)] \
            + [4 + 0.1 * i for i in range(10)]
        self.assertEqual(stats.quietest_window(values, ends, 6.0, 3), (30, 12, 2.0))

    def test_skips_windows_with_too_few_samples(self):
        values = [10] * 3 + [60] * 10
        ends = [0.5, 1.0, 1.5] + [3 + 0.1 * i for i in range(10)]
        self.assertEqual(stats.quietest_window(values, ends, 4.0, 2), (60, 10, 2.0))
        self.assertIsNone(stats.quietest_window(values[:3], ends[:3], 4.0, 2))

    def test_late_samples_fall_in_the_last_window(self):
        values = [5] * 10 + [7] * 10
        ends = [0.5] * 10 + [4.2] * 10  # the last query ends after the span
        self.assertEqual(stats.quietest_window(values, ends, 4.0, 2), (5, 10, 2.0))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [(1, 0, "root", "r", 0, 100), (2, 1, "a", "r", 10, 30),
                 (3, 1, "b", "r", 40, 70), (4, 3, "c", "r", 45, 50)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 20, 3: 25, 4: 5})

    def test_overlapping_children_are_counted_once(self):
        spans = [(1, 0, "root", "r", 0, 100), (2, 1, "a", "r", 10, 60),
                 (3, 1, "b", "r", 40, 80)]
        self.assertEqual(stats.self_times(spans)[1], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [(1, 0, "root", "r", 0, 100), (2, 1, "a", "r", 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_layer_table_sums_per_name_and_skips_requests(self):
        spans = [(1, 0, "query", "q0", 0, 100), (2, 1, "knn", "q0", 0, 60),
                 (3, 0, "query", "q1", 0, 50), (4, 3, "knn", "q1", 0, 20),
                 (5, 0, "query", "check", 0, 999)]
        t = stats.layer_table(spans, skip_reqs=("check",))
        self.assertEqual(t["query"]["count"], 2)
        self.assertEqual(t["query"]["self_ns"], 40 + 30)
        self.assertEqual(t["knn"]["total_ns"], 80)
        self.assertEqual(t["knn"]["roots"], ["query"])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, b = gen.make_repo(5, 30), gen.make_repo(5, 30)
        self.assertEqual(json.dumps(a, sort_keys=True), json.dumps(b, sort_keys=True))
        self.assertEqual(gen.edit_wave(5, a), gen.edit_wave(5, b))
        self.assertEqual(gen.questions(5, a, 50), gen.questions(5, b, 50))
        self.assertEqual(gen.documents(5, 100), gen.documents(5, 100))
        self.assertEqual(gen.events(5, 100), gen.events(5, 100))

    def test_another_seed_gives_another_corpus(self):
        self.assertNotEqual(gen.make_repo(5, 30), gen.make_repo(6, 30))
        self.assertNotEqual(gen.documents(5, 100), gen.documents(6, 100))
        self.assertNotEqual(gen.events(5, 100), gen.events(6, 100))

    def test_repo_mixes_the_languages_and_the_wave_changes_it(self):
        repo = gen.make_repo(1, 200)
        exts = {p.rsplit(".", 1)[1] for p in repo}
        self.assertTrue({"rs", "py", "scala", "go", "ts", "md"} <= exts)
        modified, added, deleted = gen.edit_wave(1, repo)
        self.assertTrue(modified and added and deleted)
        self.assertFalse(set(deleted) & set(modified))
        self.assertFalse(set(added) & set(repo))
        self.assertTrue(all(modified[p].startswith(repo[p]) for p in modified))

    def test_questions_hit_every_intent(self):
        qs = gen.questions(3, gen.make_repo(3, 40), 200)
        for marker in ("how does", "where is", "fix the bug", "explain what is"):
            self.assertTrue(any(marker in q for q in qs), marker)


class CheckTest(unittest.TestCase):
    """Each output check passes on good observations and trips on a
    deliberately wrong one."""

    def assert_trips(self, fn, good, mutate, *extra):
        self.assertTrue(all(c["ok"] for c in fn(good, *extra)))
        bad = copy.deepcopy(good)
        mutate(bad)
        self.assertFalse(all(c["ok"] for c in fn(bad, *extra)))

    CHAT = {"prepared": ["a", "b"], "unprepared": ["a", "b"], "traced": ["a", "b"],
            "num_trees": 16, "forest_rows_per_chunk": {"16": 500},
            "refreshed_forest_rows_per_chunk": {"16": 510},
            "refreshed_digest": "510:ab", "fresh_digest": "510:ab",
            "traced_digest": "500:cd", "untraced_digest": "500:cd"}

    def test_forest_rows_check(self):
        for key in ("forest_rows_per_chunk", "refreshed_forest_rows_per_chunk"):
            self.assert_trips(checks.chat_query, self.CHAT, lambda o: o[key].update({"15": 1}))
            self.assert_trips(checks.chat_query, self.CHAT, lambda o: o[key].update({"orphan": 3}))

    def test_refresh_check(self):
        self.assert_trips(checks.chat_query, self.CHAT, lambda o: o.update(fresh_digest="510:ac"))

    def test_traced_build_check(self):
        self.assert_trips(checks.chat_query, self.CHAT, lambda o: o.update(untraced_digest="500:ce"))

    def test_prepared_check(self):
        self.assert_trips(checks.chat_query, self.CHAT, lambda o: o["unprepared"].__setitem__(1, "x"))
        self.assert_trips(checks.chat_query, self.CHAT, lambda o: o.update(prepared=[], unprepared=[]))

    def test_traced_query_check(self):
        self.assert_trips(checks.chat_query, self.CHAT, lambda o: o["traced"].__setitem__(0, "x"))

    def test_corpus_digest_check(self):
        digests = {q: f"{i}:1" for i, q in enumerate(run.PAIRS + run.TEXT)}
        good = {"digests": digests, "written_rows": 9, "timed_curated": ["7:3", "7:3"],
                "curation_report": [["src0", 10, 8, 7, 5], ["src1", 6, 6, 4, 4]]}
        recorded = {**digests, "curation_written": "7:3"}
        self.assert_trips(checks.corpus_batch, good,
                          lambda o: o["digests"].update(q15_jaccard_pairs="0:2"), dict(recorded))
        self.assert_trips(checks.corpus_batch, good,
                          lambda o: o.update(timed_curated=["7:4", "7:4"]), dict(recorded))
        self.assert_trips(checks.corpus_batch, good, lambda o: o["digests"].pop("q85_bm25_search"),
                          None)
        self.assert_trips(checks.corpus_batch, good,
                          lambda o: o["curation_report"][1].__setitem__(4, 5), None)
        self.assert_trips(checks.corpus_batch, good, lambda o: o.update(written_rows=10), None)
        self.assert_trips(checks.corpus_batch, good,
                          lambda o: o["timed_curated"].__setitem__(1, "7:4"), None)
        self.assert_trips(checks.corpus_batch, good, lambda o: o.update(timed_curated=[]), None)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_run_prints(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json is not in this checkout")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], list(run.PER_LAYER))
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
