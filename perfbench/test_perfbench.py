"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the checkout root. The attribution test builds the program (as a
benchmark run would) and starts one short JVM.
"""
import json
import os
import shutil
import unittest

import build
import check
import datagen
import run

ROOT = os.getcwd()


class PercentileRule(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(check.percentile(xs, 0.5), 50)
        self.assertEqual(check.percentile(xs, 0.75), 75)
        self.assertEqual(check.percentile([7.0], 0.75), 7.0)
        self.assertEqual(check.percentile([3, 1, 2, 4], 0.75), 3)

    def test_sample_count(self):
        self.assertEqual(check.beyond(40, 0.75), 10)
        self.assertEqual(check.beyond(39, 0.75), 9)
        self.assertFalse(check.gated(list(range(39)), 0.75)[2])
        self.assertTrue(check.gated(list(range(40)), 0.75)[2])

    def test_failed_requests_miss_every_limit(self):
        lat = [10.0] * 30 + [float("inf")] * 10
        self.assertEqual(check.percentile(lat, 0.75), 10.0)
        self.assertEqual(check.percentile(lat + [float("inf")], 0.75), float("inf"))


def envelope(rows, total, **extra):
    env = {"ok": True, "mongo_query": {}, "total_matching": total, "results": rows,
           "result_count": len(rows), "execution_time": 0.1,
           "query_generation_time": 0.0, "db_execution_time": 0.1,
           "timeout_used": 30, "count_degraded": False}
    env.update(extra)
    return json.dumps(env)


class Checker(unittest.TestCase):
    terms = [("salary", "gt", 100), ("department", "regex_i", "eng")]
    fields = frozenset(["name", "salary", "department"])
    rows = [{"name": "a", "salary": 150.0, "department": "Engineering"},
            {"name": "b", "salary": 101.0, "department": "platform engineering"}]

    def verdict(self, body, total=7, limit=2):
        return check.check_response(200, body, self.terms, self.fields, limit, total)

    def test_accepts_a_correct_response(self):
        self.assertIsNone(self.verdict(envelope(self.rows, 7)))

    def test_rejects_wrong_total_matching(self):
        self.assertIn("total_matching", self.verdict(envelope(self.rows, 8)))

    def test_rejects_an_extra_field(self):
        rows = [dict(self.rows[0], age=30.0), self.rows[1]]
        self.assertIn("fields", self.verdict(envelope(rows, 7)))

    def test_rejects_a_row_outside_the_filter(self):
        rows = [self.rows[0], dict(self.rows[1], salary=99.0)]
        self.assertIn("filter", self.verdict(envelope(rows, 7)))

    def test_rejects_a_short_result(self):
        self.assertIn("result_count", self.verdict(envelope(self.rows[:1], 7)))

    def test_rejects_errors(self):
        self.assertEqual(check.check_response(500, "{}", [], self.fields, 1, 0), "HTTP 500")

    def test_sql_and_python_semantics_agree(self):
        con = datagen.connect()
        rows = con.sql(datagen.employees_sql(500, 0, 3, 1)).fetchall()
        cols = datagen.COLUMNS
        for terms in [[("department", "regex_i", "eng")],
                      [("department", "ne", "sales"), ("age", "gte", 30)],
                      [("emp_id", "in", [1, 5, 9])], [("salary", "lt", 60000)]]:
            want = con.sql(f"SELECT count(*) FROM ({datagen.employees_sql(500, 0, 3, 1)}) "
                           f"WHERE {check.where_sql(terms)}").fetchone()[0]
            got = sum(check.row_matches(terms, dict(zip(cols, r))) for r in rows)
            self.assertEqual(got, want, terms)


class Attribution(unittest.TestCase):

    def test_concurrent_requests_get_disjoint_job_sets(self):
        cp = build.build(ROOT)
        work = os.path.join(ROOT, build.BUILD, "runs", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        try:
            con = datagen.connect()
            datagen.collection(con, f"{work}/sources/bench/staff.parquet", 2, 5000, 1, 1)
            out = run.run_jvm(cp, work, {
                "mode": "selftest", "tmp": f"{work}/tmp", "sources": f"{work}/sources",
                "collection": "staff",
                "inputs": ["Find employees earning more than 140000",
                           "Show employees whose age is over 60"]})
        finally:
            shutil.rmtree(work, ignore_errors=True)
        groups = run.attribute(out["jobs"])
        self.assertEqual(len(groups), 2)
        ids = [{j["id"] for j in g} for g in groups.values()]
        self.assertFalse(ids[0] & ids[1])
        for g in groups.values():
            kinds = sorted(run.job_kind(j) for j in g)
            self.assertEqual(kinds, ["collect", "collect", "count", "count", "resolve"])


class Definition(unittest.TestCase):

    def test_benchmark_json_names_what_run_reports(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json in the working directory")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
