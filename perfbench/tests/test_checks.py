"""Every checker accepts a correct output and rejects a planted fault.

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402

D = "2020-03-01"


def daily_fixture():
    return dict(
        expected=[{"date": D, "positive": 3, "negative": 2, "na": 1, "non_en": 1,
                   "retweets": 1, "corrupt": ["#### bad 1 ####", '{"lang": }']}],
        lines_per_day=10,
        outcomes=[{"iteration": 0, "date": D, "ok": True, "attempts": 1, "summary_rows": 6,
                   "corrupt_lines": 2, "quarantine": "q", "error": None, "gate_rows": 1}],
        staged={D: [{"tweets_sentiment_id": f"{D}(en)", "positive_count": 3,
                     "negative_count": 2, "na_count": 1}]},
        quarantine={D: ['{"lang": }', "#### bad 1 ####"]},
        warehouse=[{"id": f"{D}(en)", "positive": 3, "negative": 2, "na": 1}])


class DailyBackfillChecks(unittest.TestCase):
    def test_correct_output_passes(self):
        self.assertEqual(checks.check_daily(**daily_fixture()), [])

    def test_wrong_day_count_in_staged_summary(self):
        f = daily_fixture()
        f["staged"][D][0]["positive_count"] = 4
        self.assertTrue(checks.check_daily(**f))

    def test_wrong_day_count_in_warehouse(self):
        f = daily_fixture()
        f["warehouse"][0]["negative"] = 1
        self.assertTrue(checks.check_daily(**f))

    def test_doubled_warehouse_load(self):
        f = daily_fixture()
        f["warehouse"].append(dict(f["warehouse"][0]))
        self.assertTrue(checks.check_daily(**f))

    def test_wrong_summarized_total_in_outcome(self):
        f = daily_fixture()
        f["outcomes"][0]["summary_rows"] = 7
        self.assertTrue(checks.check_daily(**f))

    def test_dropped_quarantine_line(self):
        f = daily_fixture()
        f["quarantine"][D] = f["quarantine"][D][:1]
        self.assertTrue(checks.check_daily(**f))

    def test_failed_outcome(self):
        f = daily_fixture()
        f["outcomes"][0]["ok"] = False
        self.assertTrue(checks.check_daily(**f))

    def test_day_that_needed_a_retry(self):
        f = daily_fixture()
        f["outcomes"][0]["attempts"] = 2
        self.assertTrue(checks.check_daily(**f))


class IndexGrowChecks(unittest.TestCase):
    base = list(range(100))
    batches = [list(range(100 + 10 * b, 110 + 10 * b)) for b in range(4)]

    def expected(self):
        return self.base + [i for b in self.batches for i in b]

    def test_index_holding_every_id_once_passes(self):
        counts = {i: 1 for i in self.expected()}
        self.assertEqual(checks.check_index_ids(counts, self.expected()), [])

    def test_dropped_batch(self):
        counts = {i: 1 for i in self.expected() if i not in self.batches[2]}
        self.assertTrue(checks.check_index_ids(counts, self.expected()))

    def test_doubled_batch(self):
        counts = {i: 1 for i in self.expected()}
        for i in self.batches[1]:
            counts[i] = 2
        self.assertTrue(checks.check_index_ids(counts, self.expected()))

    def test_replayed_batch_reported_as_not_applied(self):
        self.assertEqual(checks.check_applied([[10, 10, 10, 10]], 10), [])
        self.assertTrue(checks.check_applied([[10, -1, 10, 10]], 10))

    def ann_fixture(self):
        rng = np.random.default_rng(5)
        vectors = rng.normal(size=(240, 8))
        ids = np.arange(240, dtype=np.int64)
        queries = rng.normal(size=(5, 8))
        qids = [1000 + q for q in range(5)]
        truth = checks.exact_top_k(vectors, ids, queries, 10)
        rows = [(qids[j], r + 1, int(n)) for j in range(5) for r, n in enumerate(truth[j])]
        return rows, vectors, ids, queries, qids

    def test_exact_ann_results_pass(self):
        rows, v, ids, q, qids = self.ann_fixture()
        self.assertEqual(checks.check_ann([rows, list(rows)], v, ids, q, qids, 10), [])

    def test_low_recall_fails(self):
        rows, v, ids, q, qids = self.ann_fixture()
        truth = {n for _, _, n in rows}
        others = [int(i) for i in ids if int(i) not in truth]
        bad = [(qq, r, others[r - 1]) for qq, r, _ in rows]
        self.assertTrue(checks.check_ann([bad], v, ids, q, qids, 10))

    def test_recall_under_the_floor_fails(self):
        rows, v, ids, q, qids = self.ann_fixture()
        truth = {n for _, _, n in rows}
        others = iter(int(i) for i in ids if int(i) not in truth)
        # three misses in each query's top 10: recall 0.7
        bad = [(qq, r, next(others) if r > 7 else n) for qq, r, n in rows]
        self.assertTrue(checks.check_ann([bad], v, ids, q, qids, 10))

    def test_neighbour_that_was_never_indexed_fails(self):
        rows, v, ids, q, qids = self.ann_fixture()
        qq, r, _ = rows[0]
        self.assertTrue(checks.check_ann([[(qq, r, 99999)] + rows[1:]], v, ids, q, qids, 10))

    def test_ann_results_differ_between_iterations(self):
        rows, v, ids, q, qids = self.ann_fixture()
        other = list(rows)
        other[0], other[1] = (other[0][0], 1, other[1][2]), (other[1][0], 2, other[0][2])
        self.assertTrue(checks.check_ann([rows, other], v, ids, q, qids, 10))

    def bm25_fixture(self):
        docs = {i: " ".join(f"w{(i * j) % 17}" for j in range(1, 12 + i % 5)) for i in range(60)}
        terms = [["w3"], ["w5", "w7"]]
        it = [[(d, s, r + 1) for r, (d, s) in enumerate(checks.bm25_top_k(docs, t, 10, 1.2, 0.75))]
              for t in terms]
        return docs, terms, [it, copy.deepcopy(it)]

    def test_reference_bm25_passes(self):
        docs, terms, res = self.bm25_fixture()
        self.assertEqual(checks.check_bm25(res, docs, terms, 10, 1.2, 0.75), [])

    def test_wrong_bm25_score_fails(self):
        docs, terms, res = self.bm25_fixture()
        d, s, r = res[1][1][0]
        res[1][1][0] = (d, s + 0.001, r)
        self.assertTrue(checks.check_bm25(res, docs, terms, 10, 1.2, 0.75))

    def test_wrong_bm25_ranking_fails(self):
        docs, terms, res = self.bm25_fixture()
        rows = res[0][0]
        res[0][0] = rows[:-1] + [(999, rows[-1][1], 10)]
        self.assertTrue(checks.check_bm25(res, docs, terms, 10, 1.2, 0.75))

    def test_bm25_scored_without_a_batch_fails(self):
        docs, terms, _ = self.bm25_fixture()
        held = {d: t for d, t in docs.items() if d < 50}
        it = [[(d, s, r + 1) for r, (d, s) in enumerate(checks.bm25_top_k(held, t, 10, 1.2, 0.75))]
              for t in terms]
        self.assertTrue(checks.check_bm25([it], docs, terms, 10, 1.2, 0.75))

    def test_bm25_with_other_k1_disagrees(self):
        docs, terms, res = self.bm25_fixture()
        self.assertTrue(checks.check_bm25(res, docs, terms, 10, 2.0, 0.75))


if __name__ == "__main__":
    unittest.main()
