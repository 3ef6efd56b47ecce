#!/usr/bin/env python3
"""End-to-end benchmark of the engine's two faces: the HTTP serving path and
the SparkEntry registry.

    python3 e2ebench/run.py --workload serve_miss --seed 1 --seconds 6 --trace 0

Builds the engine and this harness once per checkout (sbt, offline), makes the
run's inputs from --seed, runs one JVM for the workload, checks its outputs
against answers computed apart from the engine, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of BENCHMARK.json.
See README.md for the workloads and what each metric means.
"""
import argparse
import bisect
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import checks

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
RUNS = HERE / ".runs"

JVM_LIMIT_S = 170  # a run, build aside, must end within 180 s

# Registry queries of registry_mix, one per line of the README's table.
REGISTRY = [
    ("graph_widest_paths", "graph"),
    ("doc_logreg_cv", "doc"),
    ("emb_lloyd_ivf_topk", "emb"),
    ("agg_approx_percentile", "agg"),
    ("q1_lineitem_agg", "tpch"),
    ("events_funnel", "events"),
    ("stats_moments", "stats"),
    ("emp_salary_gt", "emp"),
]
FAMILIES = ["graph", "doc", "emb", "tpch", "events", "agg", "stats", "emp"]

# Untimed work before the window: requests for the serve workloads, passes
# for registry_mix.
WARMUP = {"serve_miss": 200, "serve_hit": 100, "registry_mix": 1}

DEPARTMENTS = ["IT", "HR", "Sales", "Marketing", "Finance", "Engineering", "Operations"]

# (template, text), one per compiler branch of NlCompiler that succeeds over
# `employees`. The repo holds no traffic data, so every branch gets the same
# share. No text contains a digit before the salary threshold, and none
# carries a department name (or "it"/"hr" inside a word) unless it means it.
TEMPLATES = [
    ("salary_gt", "Show me employees with salary greater than {t}"),
    ("dept_list", "Find employees in the {d} department"),
    ("dept_count", "How many employees work in the {d} department?"),
    ("count_by_dept", "Count of employees in each department"),
    ("all_employees", "Show me all employees in the company"),
    ("email", "Show the email of each employee"),
    ("position", "List each employee's job title"),
    ("default", "Find all software engineers"),
]
HIT_WORKING_SET = 16  # distinct questions of serve_hit, against 1,000 cache entries

JVM_OPTS = [
    "-Xmx4g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted((HERE / "src").rglob("*"))
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = BUILD / f"classpath-{stamp}.txt"
    if cp_file.exists():
        return cp_file.read_text().strip(), stamp
    BUILD.mkdir(parents=True, exist_ok=True)
    (BUILD / "tmp").mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
                       f" -XX:-UsePerfData -Djava.io.tmpdir={BUILD / 'tmp'}").strip()
    log(f"building ({stamp}) ...")
    with open(BUILD / "sbt.log", "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            stdin=subprocess.DEVNULL, timeout=800)
    (BUILD / "sbt.out").write_text(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {BUILD / 'sbt.out'})")
    cp_file.write_text(lines[-1])
    return lines[-1], stamp


def sf_dir():
    """The sf0.1 dataset graft.Bench reads: SPARK_GRAFT_SF_DIR, else Bench's default."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    src = (ROOT / "src/main/scala/graft/Bench.scala").read_text()
    return re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)', src).group(1)


def jvm(cp, args, run_dir, deadline, env_extra=None):
    """Run the harness JVM to completion (or kill it at `deadline`)."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, **(env_extra or {}))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "e2ebench.Main",
           *args, "--out", str(run_dir)]
    t0 = time.monotonic()
    with open(run_dir / "jvm.log", "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"JVM exceeded its time limit (see {run_dir / 'jvm.log'})")
    log(f"jvm {args[1]} finished in {time.monotonic() - t0:.1f} s")
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise SystemExit(f"JVM exited with {rc}:\n{tail}")


# ---------------------------------------------------------------- oracle

def duck(sf):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        if Path(f"{sf}/{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    # FIXTURES.md section 3, the employees bridge view (DuckDB flavour), less
    # date_of_join, which no template asks for
    con.execute("""
        CREATE VIEW employees AS SELECT
          c_custkey AS id, c_name AS name,
          CASE CAST(c_nationkey % 7 AS INT)
            WHEN 0 THEN 'IT' WHEN 1 THEN 'HR' WHEN 2 THEN 'Sales'
            WHEN 3 THEN 'Marketing' WHEN 4 THEN 'Finance'
            WHEN 5 THEN 'Engineering' ELSE 'Operations' END AS department,
          30000 + c_acctbal * 10 AS salary,
          lower(replace(c_name, '#', '')) || '@example.com' AS email,
          CASE CAST(c_custkey % 3 AS INT)
            WHEN 0 THEN 'Software Engineer' WHEN 1 THEN 'Analyst'
            ELSE 'Manager' END AS position
        FROM customer""")
    return con


def plain(v):
    """DuckDB value -> the JSON form the harness writes for Spark's value."""
    import datetime
    import decimal
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, dict):
        return [plain(x) for x in v.values()]
    return v


def registry_expected(cp, stamp, sf, deadline):
    """Oracle answers of the registry list, computed once per build and dataset."""
    names = [q for q, _ in REGISTRY]
    data = hashlib.sha256(json.dumps(sorted(
        (p.name, p.stat().st_size) for p in Path(sf).iterdir())).encode()).hexdigest()[:8]
    key = hashlib.sha256(f"{stamp}{data}{names}".encode()).hexdigest()[:16]
    cached = BUILD / f"expected-{key}.json"
    if cached.exists():
        return json.loads(cached.read_text())
    work = RUNS / f"oracle-{os.getpid()}"
    try:
        jvm(cp, ["--mode", "oracle_sql", "--sf-dir", sf, "--queries", ",".join(names)],
            work, deadline)
        sqls = json.loads((work / "oracle_sql.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    con = duck(sf)
    expected = {}
    for q in names:
        if not sqls.get(q):
            raise SystemExit(f"registry query {q} has no oracle SQL")
        cur = con.execute(sqls[q])
        cols = [d[0] for d in cur.description]
        expected[q] = [cols, [[plain(v) for v in row] for row in cur.fetchall()]]
    cached.write_text(json.dumps(expected))
    return expected


# ---------------------------------------------------------------- serve inputs

def draw_params(rng, name):
    if name == "salary_gt":
        return {"t": rng.randint(30000, 129999)}
    if name in ("dept_list", "dept_count"):
        return {"d": rng.choice(DEPARTMENTS)}
    return {}


def question_pool(rng, n, unique):
    """n (template, params, text). Questions come in shuffled decks that hold
    each template once, so every stretch of a run has the same mix whatever
    the seed. With `unique`, a request number after the text keeps every
    question distinct; it follows the salary threshold, so the threshold
    stays the first number."""
    deck = list(TEMPLATES)
    out = []
    while len(out) < n:
        rng.shuffle(deck)
        for name, text in deck[:n - len(out)]:
            params = draw_params(rng, name)
            text = text.format(**params)
            out.append((name, params, f"{text} #{len(out)}" if unique else text))
    return out


def repeated_sql_share(pool, sent):
    """Share of the questions `sent` (indices into `pool`, whose earlier
    questions were all sent before) whose SQL an earlier question already
    produced. Each branch's SQL depends only on the template's parameters,
    so (template, params) stands for the SQL string."""
    key = lambda i: (pool[i][0], tuple(sorted(pool[i][1].items())))
    first = {}
    for i in range(len(pool)):
        first.setdefault(key(i), i)
    return sum(first[key(i)] < i for i in sent) / max(1, len(sent))


def hit_working_set(rng):
    """HIT_WORKING_SET distinct questions of a fixed composition: each template
    without parameters once, the rest salary thresholds and departments drawn
    from the seed."""
    fixed = [(n, {}, t) for n, t in TEMPLATES if "{" not in t]
    texts = dict(TEMPLATES)
    out, seen = list(fixed), set()
    for name, count in (("salary_gt", 5), ("dept_list", 3), ("dept_count", 3)):
        while sum(1 for o in out if o[0] == name) < count:
            params = draw_params(rng, name)
            text = texts[name].format(**params)
            if text not in seen:
                seen.add(text)
                out.append((name, params, text))
    assert len(out) == HIT_WORKING_SET
    return out


class ServeOracle:
    """Answers computed from each question's template and parameters (its
    intent), never from the SQL the engine generated."""

    def __init__(self, sf):
        self.con = duck(sf)
        self.memo = {}
        by_salary = self.con.execute(
            "SELECT name, salary FROM employees ORDER BY salary DESC").fetchall()
        self.by_salary = [(n, checks.java_round2(s)) for n, s in by_salary]
        self.neg_salaries = [-s for _, s in by_salary]  # ascending, for bisect

    def rows(self, sql, *params):
        return self.con.execute(sql, list(params)).fetchall()

    def expected(self, name, params):
        key = (name, tuple(sorted(params.items())))
        if key not in self.memo:
            self.memo[key] = self._expected(name, params)
        return self.memo[key]

    def _expected(self, name, p):
        E = checks.Expected
        if name == "salary_gt":
            # salaries carry at most 2 decimals, so rounding keeps the order
            above = bisect.bisect_left(self.neg_salaries, -p["t"])  # salary > t
            return E(["name", "salary"], self.by_salary[:above], key=1, limit=50)
        if name == "dept_list":
            return E(["name", "department"], self.rows(
                "SELECT name, department FROM employees WHERE department = ? ORDER BY name",
                p["d"]), key=0, limit=50)
        if name == "dept_count":
            n = self.rows("SELECT count(*) FROM employees WHERE department = ?", p["d"])[0][0]
            return E(["count"], [(str(n),)])
        if name == "count_by_dept":
            return E(["department", "count"], [(d, str(n)) for d, n in self.rows(
                "SELECT department, count(*) AS n FROM employees GROUP BY department "
                "ORDER BY n DESC")], key=1)
        cols, limit = {
            "all_employees": (["name"], 100),
            "email": (["name", "email", "department"], 100),
            "position": (["name", "position", "department"], 100),
            "default": (["name"], 20),
        }[name]
        return E(cols, self.rows(f"SELECT {', '.join(cols)} FROM employees ORDER BY name"),
                 key=0, limit=limit)


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    """Percentile with linear interpolation between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(xs):
    return pct(xs, 50)


def read_requests(run_dir):
    out = []
    for line in (run_dir / "requests.tsv").read_text().splitlines():
        c, ph, q, k, t0, t1, st, ok, cached = line.split("\t")
        out.append({"client": int(c), "phase": ph, "q": int(q), "k": int(k),
                    "t0": int(t0), "t1": int(t1), "status": int(st),
                    "success": ok == "1", "cached": cached == "1"})
    return out


ROUND = 4  # requests per client round (Serve.RoundSize)


def serve_end_to_end(requests, run):
    timed = [r for r in requests if r["phase"] == "timed"]
    lat = [(r["t1"] - r["t0"]) / 1e6 for r in timed]
    window = (run["window_end_ns"] - run["window_start_ns"]) / 1e9
    # a pass: one client's round of consecutive timed requests
    rounds = []
    for c in sorted({r["client"] for r in timed}):
        mine = [r for r in timed if r["client"] == c]
        for i in range(0, len(mine) - ROUND + 1, ROUND):
            rounds.append((mine[i + ROUND - 1]["t1"] - mine[i]["t0"]) / 1e9)
    return {
        "requests_per_s": len(timed) / window,
        "latency_p50_ms": median(lat),
        "latency_p90_ms": pct(lat, 90),
        "pass_s": median(rounds),
    }



def registry_end_to_end(run):
    # Single registry queries move by up to 40% between JVMs, so latency here
    # is that of a whole pass, never of one query.
    passes = [(p["end_ns"] - p["start_ns"]) / 1e9 for p in run["passes"]]
    window = (run["window_end_ns"] - run["window_start_ns"]) / 1e9
    return {
        "requests_per_s": len(run["ops"]) / window,
        "latency_p50_ms": median(passes) * 1e3,
        "latency_p90_ms": pct(passes, 90) * 1e3,
        "pass_s": median(passes),
    }


def declared(kind):
    """(name, unit) of every `kind` metric BENCHMARK.json declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[kind]]


def sql_phases(q):
    """(analysis, optimization, planning, execution) ms of one query execution.
    The listener's duration covers the action, which also runs optimization
    and planning; execution is what remains."""
    ph = q["phases"]
    opt, plan = ph.get("optimization", 0), ph.get("planning", 0)
    return (ph.get("parsing", 0) + ph.get("analysis", 0), opt, plan,
            max(0.0, q["duration_ns"] / 1e6 - opt - plan))


def stage_totals(spark, job_ids):
    by_job = {j["job"]: j for j in spark["jobs"]}
    stage_ids = {s for j in job_ids for s in by_job[j]["stages"]}
    st = [s for s in spark["stages"] if s["stage"] in stage_ids]
    return {
        "spark.jobs": len(job_ids), "spark.stages": len(st),
        "spark.tasks": sum(s["tasks"] for s in st),
        "spark.input_bytes": sum(s["input_bytes"] for s in st),
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st),
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in st),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in st),
    }


def serve_per_layer(requests, run, spans, spark):
    timed = {f'{r["q"]}.{r["k"]}': r for r in requests if r["phase"] == "timed"}
    by = {}
    for s in spans:
        if s["id"] in timed:
            by.setdefault(s["name"], {}).setdefault(s["id"], []).append((s["t1"] - s["t0"]) / 1e6)
    per = lambda name: [sum(v) for v in by.get(name, {}).values()]
    process = by.get("service.process", {})
    # Query executions are tied to the window by when the listener saw them:
    # public listener events carry no handle back to the request.
    sql = [sql_phases(q) for q in spark["queries"]
           if q["seen_ms"] >= run["window_start_epoch_ms"]]
    m = {}
    m["http.self_ms"] = median([(r["t1"] - r["t0"]) / 1e6 - sum(process[i])
                                for i, r in timed.items() if i in process])
    m["service.process_ms"] = median(per("service.process"))
    # mean self time: process minus its timed children and Spark's phases
    children = sum(sum(per(c)) for c in ("cache.get", "compile", "cache.put", "log.append"))
    m["service.self_ms"] = (sum(per("service.process")) - children
                            - sum(sum(q) for q in sql)) / max(1, len(process))
    m["cache.get_us"] = median(per("cache.get")) * 1e3
    m["cache.put_us"] = median(per("cache.put")) * 1e3
    m["cache.hits"] = run["cache_hits"] - run["cache_hits_before"]
    m["cache.misses"] = run["cache_misses"] - run["cache_misses_before"]
    m["cache.evictions"] = run["cache_puts_window"] - (run["cache_entries_end"] - run["cache_entries_before"])
    m["cache.entries_end"] = run["cache_entries_end"]
    m["compile.us"] = median(per("compile")) * 1e3
    m["guard.us"] = median(per("guard")) * 1e3
    for k, idx in (("sql.analysis_ms", 0), ("sql.optimization_ms", 1),
                   ("sql.planning_ms", 2), ("sql.execution_ms", 3)):
        m[k] = median([v[idx] for v in sql]) if sql else 0.0
    # jobs carry the id of the request whose handler thread submitted them
    counts = stage_totals(spark, [j["job"] for j in spark["jobs"] if j["id"] in timed])
    for k, v in counts.items():
        m[k] = v / len(timed)
    m["serialize.to_json_us"] = median(per("serialize.to_json")) * 1e3
    m["log.append_us"] = median(per("log.append")) * 1e3
    m["log.entries_end"] = run["log_entries_after"]
    return m


def registry_per_layer(run, spark):
    fam = dict(REGISTRY)
    ops = run["ops"]
    passes = sorted({o["pass"] for o in ops})
    m = {}
    per_pass = lambda f: median([f([o for o in ops if o["pass"] == p]) for p in passes])
    m["registry.build_ms"] = per_pass(lambda os_: sum(o["build_ns"] for o in os_) / 1e6)
    m["registry.exec_ms"] = per_pass(lambda os_: sum(o["exec_ns"] for o in os_) / 1e6)
    for f in FAMILIES:
        m[f"registry.{f}.build_ms"] = per_pass(
            lambda os_: sum(o["build_ns"] for o in os_ if fam[o["query"]] == f) / 1e6)
        m[f"registry.{f}.exec_ms"] = per_pass(
            lambda os_: sum(o["exec_ns"] for o in os_ if fam[o["query"]] == f) / 1e6)
    # A job belongs to the query running when it was submitted (epoch ms):
    # [start, built) to its builder, [built, end] to its action.
    def jobs(os_, inside):
        return [j["job"] for j in spark["jobs"] if any(inside(o, j["time_ms"]) for o in os_)]
    building = lambda o, t: o["start_ms"] <= t < o["built_ms"]
    acting = lambda o, t: o["built_ms"] <= t <= o["end_ms"]
    anywhere = lambda o, t: o["start_ms"] <= t <= o["end_ms"]
    m["registry.build.jobs"] = per_pass(lambda os_: len(jobs(os_, building)))
    m["registry.exec.jobs"] = per_pass(lambda os_: len(jobs(os_, acting)))
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.input_bytes",
              "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes"):
        m[k] = per_pass(lambda os_: stage_totals(spark, jobs(os_, anywhere))[k])
    # query executions by the time the listener saw them, up to the next pass
    starts = [min(o["start_ms"] for o in ops if o["pass"] == p) for p in passes] + [float("inf")]
    sums = []
    for i, _ in enumerate(passes):
        qs = [sql_phases(q) for q in spark["queries"] if starts[i] <= q["seen_ms"] < starts[i + 1]]
        sums.append([sum(x) for x in zip(*qs)] if qs else [0.0] * 4)
    for k, idx in (("sql.analysis_ms", 0), ("sql.optimization_ms", 1),
                   ("sql.planning_ms", 2), ("sql.execution_ms", 3)):
        m[k] = median([s[idx] for s in sums])
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    deadline = started + JVM_LIMIT_S

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main/scala/graft").is_dir():
        raise SystemExit("the engine's sources are not next to the benchmark; run from a checkout")
    cp, stamp = build()
    # the build may take long on a fresh checkout; the run's own limit starts now
    deadline = time.monotonic() + JVM_LIMIT_S
    sf = sf_dir()
    rng = random.Random(a.seed)
    run_dir = RUNS / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        common = ["--sf-dir", sf, "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--warmup", str(WARMUP[a.workload])]
        if a.workload == "registry_mix":
            expected = registry_expected(cp, stamp, sf, deadline)
            names = [q for q, _ in REGISTRY]
            launched = time.time_ns()
            # graph queries read an edge index from /tmp only when one exists;
            # force the derive path so no run depends on files others left there
            jvm(cp, ["--mode", a.workload, "--queries", ",".join(names),
                     "--launched-ns", str(launched), *common], run_dir, deadline,
                {"SPARK_GRAFT_NO_EDGE_IDX": "1"})
            run = json.loads((run_dir / "run.json").read_text())
            results = [json.loads(l) for l in (run_dir / "results.jsonl").read_text().splitlines()]
            problems = checks.check_registry(results, expected)
            attempted = len(run["ops"])
            failed = sum(1 for o in run["ops"] if o["error"] is not None)
            end_to_end = registry_end_to_end(run)
            if a.trace:
                layers = registry_per_layer(run, json.loads((run_dir / "spark.json").read_text()))
        else:
            if a.workload == "serve_hit":
                pool = hit_working_set(rng)
            else:
                pool = question_pool(rng, WARMUP["serve_miss"] + int(a.seconds * 2000) + 1000,
                                     unique=True)
            qfile = run_dir / "questions.txt"
            qfile.write_text("".join(t + "\n" for _, _, t in pool))
            launched = time.time_ns()
            jvm(cp, ["--mode", a.workload, "--input", str(qfile),
                     "--launched-ns", str(launched), *common], run_dir, deadline)
            run = json.loads((run_dir / "run.json").read_text())
            requests = read_requests(run_dir)
            bodies = {int(k): v for k, v in json.loads((run_dir / "bodies.json").read_text()).items()}
            oracle = ServeOracle(sf)
            used = sorted({r["q"] for r in requests})
            expected = {q: oracle.expected(pool[q][0], pool[q][1]) for q in used}
            problems = checks.check_serve(a.workload, requests, bodies, run,
                                          [t for _, _, t in pool], expected)
            timed = [r for r in requests if r["phase"] == "timed"]
            attempted = len(timed)
            failed = sum(1 for r in timed if r["status"] != 200 or not r["success"])
            end_to_end = serve_end_to_end(requests, run)
            if a.workload == "serve_miss":
                log("repeated SQL: %.3f of all, %.3f of timed requests" % (
                    repeated_sql_share(pool, [r["q"] for r in requests]),
                    repeated_sql_share(pool, [r["q"] for r in timed])))
            if a.trace:
                layers = serve_per_layer(requests, run,
                                         json.loads((run_dir / "spans.json").read_text()),
                                         json.loads((run_dir / "spark.json").read_text()))
        log(f"checked in {time.monotonic() - started:.1f} s since start")
        for p in problems[:20]:
            log("CHECK FAILED:", p)
        end_to_end.update(setup_s=run["setup_s"], heap_retained_mb=run["heap_retained_mb"])
        if a.trace:
            # a layer the workload does not reach reads 0
            layers = {**{n: 0 for n, _ in declared("per_layer")}, **layers,
                      "jvm.gc_ms": run["gc_ms"], "jvm.jit_ms": run["jit_ms"]}
            out = {n: {"value": layers[n], "unit": u} for n, u in declared("per_layer")}
            # the traced run's own end-to-end figures give the tracing overhead
            log("end-to-end under tracing:", json.dumps(end_to_end))
        else:
            out = {n: {"value": end_to_end[n], "unit": u} for n, u in declared("end_to_end")}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
