"""Tests of the benchmark's own accounting. Run from the repository root:
  python3 -m unittest discover perfbench/tests
"""
import csv
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import accounting  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(accounting.tail_percentile(99))
        self.assertEqual(accounting.tail_percentile(100), 90.0)
        self.assertEqual(accounting.tail_percentile(999), 90.0)
        self.assertEqual(accounting.tail_percentile(1000), 99.0)
        self.assertEqual(accounting.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(accounting.percentile(xs, 90), 90)
        self.assertEqual(accounting.percentile(xs, 50), 50)
        self.assertEqual(accounting.percentile([5.0], 99.9), 5.0)
        self.assertEqual(accounting.percentile(list(range(1, 11)), 91), 10)

    def test_report_drops_unsupported_tail(self):
        rep = accounting.latency_report([float(x) for x in range(75)])
        self.assertEqual(rep["n"], 75)
        self.assertNotIn("tail", rep)
        rep = accounting.latency_report([float(x) for x in range(100)])
        self.assertEqual((rep["tail_p"], rep["tail"]), (90.0, 89.0))
        self.assertEqual(rep["p50"], 49.5)


class IntervalUnion(unittest.TestCase):
    def test_union(self):
        self.assertEqual(accounting.union_length([]), 0.0)
        self.assertEqual(accounting.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(accounting.union_length([(0, 4), (1, 2), (3, 6)]), 6)
        self.assertEqual(accounting.union_length([(3, 6), (0, 3)]), 6)
        # unfinished (end before start) and empty intervals cover nothing
        self.assertEqual(accounting.union_length([(0, 1), (5, -1), (2, 2)]), 1)

    def test_driver_gap_is_wall_minus_union(self):
        jobs = [(10, 20), (15, 30), (40, 50)]
        self.assertEqual(100 - accounting.union_length(jobs), 70)

    def test_self_times_sum_to_root(self):
        spans = [
            {"id": 0, "parent": -1, "start_ms": 0, "end_ms": 100},
            {"id": 1, "parent": 0, "start_ms": 10, "end_ms": 40},
            {"id": 2, "parent": 0, "start_ms": 50, "end_ms": 90},
            {"id": 3, "parent": 2, "start_ms": 60, "end_ms": 70},
        ]
        st = accounting.self_times(spans)
        self.assertEqual(st, {0: 30, 1: 30, 2: 30, 3: 10})
        self.assertEqual(sum(st.values()), 100)
        self.assertEqual(accounting.innermost(spans, 65)["id"], 3)
        self.assertEqual(accounting.innermost(spans, 45)["id"], 0)
        self.assertIsNone(accounting.innermost(spans, 150))


class QuerySpans(unittest.TestCase):
    def test_query_spans_map_to_group_and_key(self):
        import run
        self.assertEqual(run.span_metrics("query.q01_scan_filter.plan"), ["query.b3.plan_s"])
        self.assertEqual(run.span_metrics("query.q54_tfidf.construct"),
                         ["query.heavy.construct_s", "query.q54_tfidf.construct_s"])
        self.assertEqual(run.span_metrics("query.q54_tfidf.plan"), ["query.heavy.plan_s"])
        self.assertEqual(run.span_metrics("etl.read"), ["etl.read_s"])
        self.assertEqual(run.span_metrics("pass"), [])
        for name in ("query.q54_tfidf.construct", "query.q01_scan_filter.exec"):
            for m in run.span_metrics(name):
                self.assertIn(m, run.LAYER_UNITS)


class FailRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(accounting.fail_ratio(200, 0), 0.0)
        self.assertEqual(accounting.fail_ratio(8, 2), 0.25)
        with self.assertRaises(ValueError):
            accounting.fail_ratio(0, 0)

    def txlog_pass(self):
        rows, commits = 10, 4
        total = rows * commits
        return {
            "versions": list(range(commits)),
            "read_counts": [2 * rows, 4 * rows],
            "points": [{"key": 7, "ids": [7]}, {"key": 31, "ids": [31]}],
            "final_count": total, "final_sum": total * (total - 1) // 2,
            "head_version": commits - 1,
        }

    def test_txlog_counts_each_wrong_operation(self):
        rec = self.txlog_pass()
        self.assertEqual(checks.check_txlog_pass(rec, 10, 2)[:2], (9, 0))
        rec["points"][1]["ids"] = []
        rec["versions"][2] = 5
        attempted, failed, problems = checks.check_txlog_pass(rec, 10, 2)
        self.assertEqual((attempted, failed, len(problems)), (9, 2, 2))

    def test_txlog_wrong_expected_value_fails(self):
        # a deliberately wrong expectation (9 rows per commit, not 10)
        # fails both reads and the final-table check
        self.assertEqual(checks.check_txlog_pass(self.txlog_pass(), 9, 2)[1], 3)


def write_parts(d, header, rows, parts=2):
    """A scale-mode sink: rows split over part files, each with a header."""
    os.makedirs(d)
    for k in range(parts):
        with open(os.path.join(d, f"part-{k:05d}-x.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows[k::parts])


def write_scale_outputs(d, truth):
    """The outputs a correct scale-mode pass leaves, built from truth: part
    files under <sink>.d, quarantined copies, and the error log's parts."""
    os.makedirs(d)
    meta = []
    for ent in ("users", "cards"):
        rows = [[str(i)] + ["x"] * (len(gen.HEADERS[ent]) - 1)
                for i in truth[ent]["emitted_ids"]]
        write_parts(os.path.join(d, f"{ent}.csv.d"), gen.HEADERS[ent], rows)
        meta += [[ent, "2023-01-01 00:00:00", r[0]] for r in rows]
        q = os.path.join(d, f"{ent}_schema_mismatches")
        os.makedirs(q)
        for n in truth[ent]["quarantined"]:
            open(os.path.join(q, n), "w").close()
    write_parts(os.path.join(d, "metadata.csv.d"), gen.HEADERS["metadata"], meta)
    log = os.path.join(d, "errors.log.d")
    os.makedirs(log)
    n_log = truth["users"]["invalid"] + truth["cards"]["invalid"]
    for k, n in enumerate((n_log // 2, n_log - n_log // 2)):
        with open(os.path.join(log, f"part-{k:05d}"), "w") as f:
            f.write("ERROR\n" * n)
    return {"dir": d, "counters": {
        e: {k: truth[e][k] for k in ("files", "valid", "invalid")} for e in ("users", "cards")}}


class EtlChecks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.truth = gen.generate(os.path.join(self.tmp.name, "corpus"), 3, 40, 0.2, 0.1)

    def tearDown(self):
        self.tmp.cleanup()

    def test_correct_pass_has_no_failures(self):
        rec = write_scale_outputs(os.path.join(self.tmp.name, "p0"), self.truth)
        digests = {}
        self.assertEqual(checks.check_etl_pass(rec, self.truth, digests)[:2], (2, 0))
        self.assertEqual(sorted(digests), ["cards", "metadata", "users"])

    def test_wrong_counter_fails_one_entity(self):
        rec = write_scale_outputs(os.path.join(self.tmp.name, "p0"), self.truth)
        rec["counters"]["cards"]["valid"] += 1
        attempted, failed, problems = checks.check_etl_pass(rec, self.truth, {})
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn("cards counter valid", problems[0])

    def test_wrong_shared_output_fails_both(self):
        rec = write_scale_outputs(os.path.join(self.tmp.name, "p0"), self.truth)
        with open(os.path.join(rec["dir"], "errors.log.d", "part-00001"), "a") as f:
            f.write("ERROR\n")
        self.assertEqual(checks.check_etl_pass(rec, self.truth, {})[1], 2)

    def test_digest_must_repeat_across_passes(self):
        first = write_scale_outputs(os.path.join(self.tmp.name, "p0"), self.truth)
        second = write_scale_outputs(os.path.join(self.tmp.name, "p1"), self.truth)
        path = os.path.join(second["dir"], "users.csv.d", "part-00001-x.csv")
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace(",x", ",y", 1))  # same ids and row count
        digests = {}
        self.assertEqual(checks.check_etl_pass(first, self.truth, digests)[1], 0)
        attempted, failed, problems = checks.check_etl_pass(second, self.truth, digests)
        self.assertEqual((failed, problems), (2, ["users digest differs from the first pass"]))


    def test_digest_ignores_part_order(self):
        first = write_scale_outputs(os.path.join(self.tmp.name, "p0"), self.truth)
        second = write_scale_outputs(os.path.join(self.tmp.name, "p1"), self.truth)
        d = os.path.join(second["dir"], "users.csv.d")
        a, b = sorted(os.listdir(d))
        os.rename(os.path.join(d, a), os.path.join(d, "tmp"))
        os.rename(os.path.join(d, b), os.path.join(d, a))
        os.rename(os.path.join(d, "tmp"), os.path.join(d, b))
        digests = {}
        checks.check_etl_pass(first, self.truth, digests)
        self.assertEqual(checks.check_etl_pass(second, self.truth, digests)[1], 0)

    def test_missing_quarantine_copy_fails_its_entity(self):
        rec = write_scale_outputs(os.path.join(self.tmp.name, "p0"), self.truth)
        q = os.path.join(rec["dir"], "users_schema_mismatches")
        os.remove(os.path.join(q, sorted(os.listdir(q))[0]))
        attempted, failed, problems = checks.check_etl_pass(rec, self.truth, {})
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn("users quarantined", problems[0])


class QueryChecks(unittest.TestCase):
    def setUp(self):
        import pandas as pd
        self.pd = pd
        self.exp = pd.DataFrame({"a": [1, 2], "b": ["x", None]})

    def test_frames_compare_by_column_name_and_null(self):
        got = self.pd.DataFrame({"b": ["x", float("nan")], "a": [1, 2]})
        self.assertIsNone(checks.frame_mismatch(self.exp, got))
        got = self.pd.DataFrame({"a": [1, 3], "b": ["x", None]})
        self.assertIn("col=a row=1", checks.frame_mismatch(self.exp, got))
        got = self.pd.DataFrame({"a": [1], "b": ["x"]})
        self.assertEqual(checks.frame_mismatch(self.exp, got), "rows=1 want 2")

    def test_pass_counts_against_oracle_rows(self):
        rec = {"queries": [{"key": "k1", "rows": 2}, {"key": "k2", "rows": 5},
                           {"key": "k3", "rows": 1}]}
        oracles = {"k1": self.exp, "k2": self.exp, "k3": "oracle error: boom"}
        attempted, failed, problems = checks.check_query_pass(rec, oracles)
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(problems[0], "k2 count=5 want 2")

    def test_dump_matches_oracle(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as tmp:
            sf = os.path.join(tmp, "sf")
            gen.generate_tables(sf, 1, 0.0001)
            oracles = checks.query_oracles(sf, {
                "k": "SELECT n_regionkey AS a, count(*) AS n FROM nation "
                     "GROUP BY 1 ORDER BY 1",
                "bad": "SELECT nope FROM nation"})
            self.assertIsInstance(oracles["bad"], str)
            os.makedirs(os.path.join(tmp, "dump", "k"))
            pq.write_table(pa.table({"n": pa.array([5] * 5, pa.int64()),
                                     "a": pa.array(range(5), pa.int32())}),
                           os.path.join(tmp, "dump", "k", "part-00000.parquet"))
            self.assertEqual(checks.check_query_dump(
                os.path.join(tmp, "dump"), ["k"], oracles)[:2], (1, 0))
            attempted, failed, problems = checks.check_query_dump(
                os.path.join(tmp, "dump"), ["k", "bad", "gone"], oracles)
            self.assertEqual((attempted, failed), (3, 2))


class Generator(unittest.TestCase):
    def test_ground_truth_counts_for_a_fixed_seed(self):
        with tempfile.TemporaryDirectory() as tmp:
            truth = gen.generate(tmp, 42, 200, 0.2, 0.1)
            for ent, field in (("users", "score"), ("cards", "user_id")):
                t = truth[ent]
                self.assertEqual((t["files"], t["valid"], t["invalid"]), (200, 140, 60))
                self.assertEqual(len(t["emitted_ids"]), 180)
                self.assertEqual(len(set(t["emitted_ids"])), 180)
                self.assertEqual(len(t["quarantined"]), 60)
                names = sorted(os.listdir(os.path.join(tmp, ent)))
                self.assertEqual(len(names), 200)
                missing = mistyped = 0
                for n in names:
                    with open(os.path.join(tmp, ent, n)) as f:
                        payload = json.load(f)["payload"]
                    bad_field, bad_value = gen.BAD_VALUE[ent]
                    if field not in payload:
                        missing += 1
                    elif payload.get(bad_field) == bad_value:
                        mistyped += 1
                    self.assertEqual(n in t["quarantined"],
                                     field not in payload or payload.get(bad_field) == bad_value)
                self.assertEqual((missing, mistyped), (40, 20))

    def test_same_seed_same_bytes(self):
        def digest(seed):
            with tempfile.TemporaryDirectory() as tmp:
                gen.generate(tmp, seed, 30, 0.1, 0.1)
                h = hashlib.sha256()
                for root, _, files in sorted(os.walk(tmp)):
                    for n in sorted(files):
                        with open(os.path.join(root, n), "rb") as f:
                            h.update(n.encode() + f.read())
                return h.hexdigest()
        self.assertEqual(digest(5), digest(5))
        self.assertNotEqual(digest(5), digest(6))


    def test_tables_for_a_fixed_seed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as tmp:
            rows = gen.generate_tables(os.path.join(tmp, "a"), 7, 0.001)
            self.assertEqual(rows["lineitem"], 6000)
            self.assertEqual(rows["documents"], gen.DOCUMENTS)
            gen.generate_tables(os.path.join(tmp, "b"), 7, 0.001)
            for t in rows:
                a = pq.read_table(os.path.join(tmp, "a", f"{t}.parquet"))
                b = pq.read_table(os.path.join(tmp, "b", f"{t}.parquet"))
                self.assertTrue(a.equals(b), t)
                self.assertEqual(a.num_rows, rows[t])


if __name__ == "__main__":
    unittest.main()
