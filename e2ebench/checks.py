"""Output checks of the benchmark, kept apart from the runner so that tests can
feed them corrupted inputs (see test_checks.py).

Every check returns a list of problems; an empty list means the outputs are
correct.
"""
import json
import math
from collections import Counter

CACHE_MAX_ENTRIES = 1000


def java_round2(x):
    """Serializer's salary rounding: Math.round(x * 100.0) / 100.0."""
    return math.floor(x * 100.0 + 0.5) / 100.0


class Expected:
    """An answer computed apart from the engine.

    rows: every row that satisfies the question, in the question's order and
    without its LIMIT; key: index of the ORDER BY column (None for a single
    row); limit: the row cap the question implies.
    """

    def __init__(self, columns, rows, key=None, limit=None):
        self.columns = list(columns)
        rows = [tuple(r) for r in rows]
        if key is not None and limit is not None and len(rows) > limit:
            # rows past the LIMIT matter only where they tie with the last kept row
            end = limit
            while end < len(rows) and rows[end][key] == rows[limit - 1][key]:
                end += 1
            rows = rows[:end]
        self.rows = rows
        self.key = key
        self.limit = limit
        self._groups = None

    def group(self, key):
        """Every expected row whose ORDER BY value is `key`, as a multiset."""
        if self._groups is None:
            self._groups = {}
            for r in self.rows:
                self._groups.setdefault(r[self.key], Counter())[r] += 1
        return self._groups.get(key, Counter())


def compare_rows(got, exp):
    """Ordered comparison where ORDER BY keys are unique, set comparison within
    ties; the tie group cut by the LIMIT only has to be a subset of its
    candidates."""
    n = len(exp.rows) if exp.limit is None else min(exp.limit, len(exp.rows))
    if len(got) != n:
        return f"{len(got)} rows, expected {n}"
    if exp.key is None:
        return None if list(got) == exp.rows else f"rows differ: {got[:3]} vs {exp.rows[:3]}"
    keys = [r[exp.key] for r in got]
    if keys != [r[exp.key] for r in exp.rows[:n]]:
        return "ORDER BY keys differ from the expected order"
    start = 0
    while start < n:
        end = start
        while end < n and keys[end] == keys[start]:
            end += 1
        group = Counter(got[start:end])
        cand = exp.group(keys[start])
        cut = end == n and sum(cand.values()) > end - start
        if (cut and group - cand) or (not cut and group != cand):
            return f"rows with key {keys[start]!r} differ"
        start = end
    return None


def check_answer(question, body, exp):
    """One served answer body against the expected answer."""
    try:
        doc = json.loads(body)
    except ValueError as e:
        return f"body is not JSON: {e}"
    if doc.get("success") is not True:
        return f"not successful: {doc.get('error')}"
    if doc.get("original_query") != question:
        return "original_query differs from the question sent"
    if doc.get("columns") != exp.columns:
        return f"columns {doc.get('columns')} != {exp.columns}"
    data = doc.get("data")
    if not isinstance(data, list) or doc.get("row_count") != len(data):
        return "row_count does not match data"
    got = []
    for m in data:
        row = []
        for c in exp.columns:
            v = m.get(c)
            row.append(float(v) if c == "salary" and v is not None else v)
        got.append(tuple(row))
    return compare_rows(got, exp)


def check_serve(workload, requests, bodies, run, questions, expected):
    """requests: dicts with phase, q, status, success, cached; bodies: question
    index -> distinct bodies; run: the JVM's run.json; questions: texts;
    expected: question index -> Expected."""
    problems = []
    timed = [r for r in requests if r["phase"] == "timed"]
    if not timed:
        problems.append("no timed requests")
    misses = sum(1 for r in timed if not r["cached"])
    added = run["log_entries_after"] - run["log_entries_before"]
    if workload == "serve_hit":
        if misses:
            problems.append(f"{misses} timed responses were not served from the cache")
        if added:
            problems.append(f"the query log gained {added} entries during the window")
    else:
        if len(timed) - misses:
            problems.append(f"{len(timed) - misses} timed responses were cache hits")
        if added != misses:
            problems.append(f"the query log gained {added} entries for {misses} misses")
    for k in ("cache_max_size", "cache_entries_end"):
        if run[k] > CACHE_MAX_ENTRIES:
            problems.append(f"{k} = {run[k]} exceeds {CACHE_MAX_ENTRIES}")
    ok_questions = {r["q"] for r in requests if r["status"] == 200 and r["success"]}
    for q in sorted(ok_questions):
        for body in bodies.get(q, []):
            if not body.startswith('{"success":true'):
                continue  # a failed answer is counted as a failed operation
            why = check_answer(questions[q], body, expected[q])
            if why:
                problems.append(f"question {q} ({questions[q]!r}): {why}")
                break
    return problems


def norm_cell(v):
    """Oracle comparison rule (as tools/compare_oracle.py): floats at 6
    places, containers element-wise, everything else as its string."""
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(norm_cell(x) for x in v.values())
    return str(v)


def frame_key(columns, rows):
    """Columns sorted by name, rows in order, cells normalized."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            [tuple(norm_cell(row[i]) for i in order) for row in rows])


def check_registry(results, expected):
    """results: dicts with pass, query, columns, rows (one per successful query
    of a timed pass); expected: query -> (columns, rows) from the oracle."""
    problems = []
    for r in results:
        exp_cols, exp_rows = expected[r["query"]]
        got = frame_key(r["columns"], r["rows"])
        want = frame_key(exp_cols, exp_rows)
        if got[0] != want[0]:
            problems.append(f"pass {r['pass']} {r['query']}: columns {got[0]} != {want[0]}")
        elif len(got[1]) != len(want[1]):
            problems.append(f"pass {r['pass']} {r['query']}: {len(got[1])} rows, expected {len(want[1])}")
        elif got[1] != want[1]:
            i = next(i for i, (a, b) in enumerate(zip(got[1], want[1])) if a != b)
            problems.append(f"pass {r['pass']} {r['query']}: row {i} {got[1][i]} != {want[1][i]}")
    return problems
