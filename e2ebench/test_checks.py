"""Each output check of the benchmark must reject a deliberately corrupted input.

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import copy
import json
import unittest

import checks
from checks import Expected


def body(question, columns, rows, cached=False):
    data = [dict(zip(columns, r)) for r in rows]
    return json.dumps({"success": True, "original_query": question,
                       "sql_query": "SELECT ...;", "data": data, "columns": columns,
                       "row_count": len(data), "cached": cached}, separators=(",", ":"))


QUESTIONS = ["Show me employees with salary greater than 100 #0",
             "Find employees in the HR department #1"]
SALARY = Expected(["name", "salary"],
                  [("c", 300.0), ("a", 200.0), ("b", 200.0), ("d", 150.0)], key=1, limit=3)
HR = Expected(["name", "department"], [("a", "HR"), ("b", "HR")], key=0, limit=50)
EXPECTED = {0: SALARY, 1: HR}


def run_json(**kw):
    base = {"log_entries_before": 10, "log_entries_after": 12, "cache_max_size": 12,
            "cache_entries_end": 12}
    base.update(kw)
    return base


def requests(cached):
    return [{"phase": "timed", "q": q, "status": 200, "success": True, "cached": cached}
            for q in (0, 1)]


class ServeChecks(unittest.TestCase):
    def good_bodies(self, cached=False):
        return {0: [body(QUESTIONS[0], ["name", "salary"],
                         [("c", 300.0), ("b", 200.0), ("a", 200.0)], cached)],
                1: [body(QUESTIONS[1], ["name", "department"], [("a", "HR"), ("b", "HR")], cached)]}

    def test_correct_miss_window_passes(self):
        self.assertEqual([], checks.check_serve(
            "serve_miss", requests(False), self.good_bodies(), run_json(), QUESTIONS, EXPECTED))

    def test_ties_compare_as_sets_and_the_cut_tie_as_a_subset(self):
        exp = Expected(["name", "salary"], [("a", 2.0), ("b", 2.0), ("c", 2.0)], key=1, limit=2)
        self.assertIsNone(checks.compare_rows([("c", 2.0), ("a", 2.0)], exp))
        self.assertIsNotNone(checks.compare_rows([("c", 2.0), ("x", 2.0)], exp))

    def test_changed_row_is_rejected(self):
        bad = self.good_bodies()
        bad[1] = [body(QUESTIONS[1], ["name", "department"], [("a", "HR"), ("z", "HR")])]
        problems = checks.check_serve("serve_miss", requests(False), bad, run_json(),
                                      QUESTIONS, EXPECTED)
        self.assertTrue(any("question 1" in p for p in problems), problems)

    def test_changed_salary_is_rejected(self):
        bad = self.good_bodies()
        bad[0] = [body(QUESTIONS[0], ["name", "salary"], [("c", 300.01), ("b", 200.0), ("a", 200.0)])]
        self.assertTrue(checks.check_serve("serve_miss", requests(False), bad, run_json(),
                                           QUESTIONS, EXPECTED))

    def test_uncached_response_in_serve_hit_is_rejected(self):
        reqs = requests(True)
        reqs[1] = dict(reqs[1], cached=False)
        problems = checks.check_serve("serve_hit", reqs, self.good_bodies(True),
                                      run_json(log_entries_after=10), QUESTIONS, EXPECTED)
        self.assertTrue(any("not served from the cache" in p for p in problems), problems)

    def test_log_growth_in_serve_hit_is_rejected(self):
        problems = checks.check_serve("serve_hit", requests(True), self.good_bodies(True),
                                      run_json(log_entries_after=11), QUESTIONS, EXPECTED)
        self.assertTrue(any("query log" in p for p in problems), problems)

    def test_log_count_off_by_one_in_serve_miss_is_rejected(self):
        problems = checks.check_serve("serve_miss", requests(False), self.good_bodies(),
                                      run_json(log_entries_after=13), QUESTIONS, EXPECTED)
        self.assertTrue(any("query log" in p for p in problems), problems)

    def test_cache_over_capacity_is_rejected(self):
        problems = checks.check_serve("serve_miss", requests(False), self.good_bodies(),
                                      run_json(cache_max_size=1001), QUESTIONS, EXPECTED)
        self.assertTrue(any("exceeds" in p for p in problems), problems)

    def test_wrong_branch_is_rejected(self):
        # a uniqueness marker that changed the compiler branch answers with
        # other columns
        bad = self.good_bodies()
        bad[1] = [body(QUESTIONS[1], ["name"], [("a",), ("b",)])]
        self.assertTrue(checks.check_serve("serve_miss", requests(False), bad, run_json(),
                                           QUESTIONS, EXPECTED))


class RegistryChecks(unittest.TestCase):
    EXPECTED = {"q": [["b", "a"], [[1, 0.1234564], [2, "x"]]]}
    RESULT = {"pass": 0, "query": "q", "columns": ["a", "b"],
              "rows": [[0.1234561, 1], ["x", 2]]}

    def test_equal_within_six_places_passes(self):
        self.assertEqual([], checks.check_registry([self.RESULT], self.EXPECTED))

    def test_changed_cell_is_rejected(self):
        bad = copy.deepcopy(self.RESULT)
        bad["rows"][1][1] = 3
        self.assertTrue(checks.check_registry([self.RESULT, bad], self.EXPECTED))

    def test_changed_float_beyond_six_places_is_rejected(self):
        bad = copy.deepcopy(self.RESULT)
        bad["rows"][0][0] = 0.123457
        self.assertTrue(checks.check_registry([bad], self.EXPECTED))

    def test_missing_row_is_rejected(self):
        bad = copy.deepcopy(self.RESULT)
        bad["rows"].pop()
        self.assertTrue(checks.check_registry([bad], self.EXPECTED))


if __name__ == "__main__":
    unittest.main()
