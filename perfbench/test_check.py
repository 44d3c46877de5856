"""Tests of the checkers: each accepts a right answer and rejects a wrong
value, a missing row, an extra row and a wrong column type.

    python3 perfbench/test_check.py
"""
import json
import os
import shutil
import sqlite3
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402

ROWS = [("k1", "https://a/1", "2024-01-01T00:00:00Z", "u1", 200),
        ("k2", "https://a/2", "2024-02-01T00:00:00Z", None, 404),
        ("k3", "https://b/3", "2024-03-01T00:00:00Z", "u3", None)]


def body(rows, cols):
    return "[" + ",\n".join(json.dumps(dict(zip(cols, r))) for r in rows) + "]\n"


class Fixture(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        os.makedirs(os.path.join(self.dir, "segments"))
        gen.write_segment(os.path.join(self.dir, "segments", "s1.sqlite"), ROWS)

    def tearDown(self):
        shutil.rmtree(self.dir)


class ReadAnswerCheck(Fixture):
    """compare_json, the check of every serve_mixed read, against sqlite3."""
    SQL = "SELECT digest_key, status_code FROM dedup WHERE digest_key <> 'k2'"
    COLS = ["digest_key", "status_code"]
    RIGHT = [("k1", 200), ("k3", None)]

    def problem(self, rows, sql=SQL):
        con = check.connect(os.path.join(self.dir, "segments", "s1.sqlite"))
        cols, exp = check.expected(con, sql)
        con.close()
        return check.compare_json(cols, exp, body(rows, self.COLS), check.is_ordered(sql))

    def test_accepts_right_answer_in_any_order(self):
        self.assertIsNone(self.problem(self.RIGHT[::-1]))

    def test_rejects_wrong_value(self):
        self.assertTrue(self.problem([("k1", 201), ("k3", None)]))

    def test_rejects_missing_row(self):
        self.assertTrue(self.problem(self.RIGHT[:1]))

    def test_rejects_extra_row(self):
        self.assertTrue(self.problem(self.RIGHT + [("k2", 404)]))

    def test_rejects_wrong_column_type(self):
        self.assertTrue(self.problem([("k1", "200"), ("k3", None)]))

    def test_rejects_wrong_order_when_ordered(self):
        self.assertTrue(self.problem(self.RIGHT[::-1], self.SQL + " ORDER BY digest_key"))

    def test_trough_functions_match_the_reference(self):
        sql = "SELECT SEEDCRAWLEDSTATUS(status_code) AS s FROM dedup ORDER BY digest_key"
        con = check.connect(os.path.join(self.dir, "segments", "s1.sqlite"))
        cols, exp = check.expected(con, sql)
        con.close()
        self.assertIsNone(check.compare_json(cols, exp, body(
            [("Crawled",), ("Crawled (HTTP error 404)",), ("Not crawled (None)",)], ["s"]), True))


class ServeMixedChecker(Fixture):
    WRITE = "INSERT OR IGNORE INTO dedup VALUES ('k1', 'x', 'x', NULL, 1), ('k4', 'https://c/4', " \
            "'2024-04-01T00:00:00Z', 'u4', 200)"
    READ = "SELECT digest_key, status_code FROM dedup WHERE digest_key IN ('k1', 'k4')"
    COLS = ["digest_key", "status_code"]
    RIGHT = [("k1", 200), ("k4", 200)]

    def records(self, rows):
        return [
            {"client": 0, "idx": 0, "kind": "write", "seg": "s1", "sql": self.WRITE,
             "status": 200, "body": "OK\n", "warm": False},
            {"client": 0, "idx": 1, "kind": "read", "seg": "s1", "sql": self.READ,
             "status": 200, "body": body(rows, self.COLS), "warm": False},
        ]

    def export(self, rows):
        d = os.path.join(self.dir, "export")
        os.makedirs(d, exist_ok=True)
        gen.write_segment(os.path.join(d, "s1.sqlite"), rows)
        return d

    def problems(self, read_rows, export_rows):
        return check.check_serve_mixed(self.dir, self.records(read_rows),
                                       self.export(export_rows))[0]

    FINAL = ROWS + [("k4", "https://c/4", "2024-04-01T00:00:00Z", "u4", 200)]

    def test_accepts_read_your_writes(self):
        problems, held, written = check.check_serve_mixed(
            self.dir, self.records(self.RIGHT), self.export(self.FINAL))
        self.assertEqual(problems, [])
        self.assertEqual(held, sum(check.row_bytes(r) for r in self.FINAL))
        # both rows of the INSERT count, also the one OR IGNORE drops
        self.assertEqual(written, check.row_bytes(("k1", "x", "x", None, 1))
                         + check.row_bytes(self.FINAL[-1]))

    def test_script_bytes_of_an_update_are_its_new_values(self):
        self.assertEqual(check.script_bytes(
            "UPDATE dedup SET status_code = 404, date = '2024-01-01T00:00:00Z' "
            "WHERE digest_key = 'k1'"), 8 + len("2024-01-01T00:00:00Z"))

    def test_rejects_read_with_wrong_value(self):
        self.assertTrue(self.problems([("k1", 1), ("k4", 200)], self.FINAL))

    def test_rejects_read_missing_the_write(self):
        self.assertTrue(self.problems([("k1", 200)], self.FINAL))

    def test_rejects_read_with_extra_row(self):
        self.assertTrue(self.problems(self.RIGHT + [("k2", 404)], self.FINAL))

    def test_rejects_read_with_wrong_type(self):
        self.assertTrue(self.problems([("k1", 200.0), ("k4", 200)], self.FINAL))

    def test_rejects_export_missing_row(self):
        self.assertTrue(self.problems(self.RIGHT, self.FINAL[:-1]))

    def test_rejects_export_extra_row(self):
        self.assertTrue(self.problems(self.RIGHT, self.FINAL + [("k9", "u", "d", None, 1)]))

    def test_rejects_export_wrong_value(self):
        self.assertTrue(self.problems(self.RIGHT, self.FINAL[:-1] + [
            ("k4", "https://c/4", "2024-04-01T00:00:00Z", "u4", 500)]))

    def test_rejects_export_wrong_type(self):
        # a TEXT column keeps '200' a string (an INTEGER one would convert it)
        d = os.path.join(self.dir, "export")
        os.makedirs(d)
        con = sqlite3.connect(os.path.join(d, "s1.sqlite"))
        con.execute(gen.DEDUP_DDL.replace("status_code INTEGER", "status_code TEXT"))
        con.executemany("INSERT INTO dedup VALUES (?, ?, ?, ?, ?)", self.FINAL[:-1] + [
            ("k4", "https://c/4", "2024-04-01T00:00:00Z", "u4", "200")])
        con.commit()
        con.close()
        self.assertTrue(check.check_serve_mixed(self.dir, self.records(self.RIGHT), d)[0])

    def test_rejects_corrupt_export(self):
        d = self.export(self.FINAL)
        path = os.path.join(d, "s1.sqlite")
        with open(path, "r+b") as f:
            f.seek(4096 + 8)
            f.write(b"\xff" * 64)
        self.assertTrue(check.check_serve_mixed(self.dir, self.records(self.RIGHT), d)[0])


class AnalyticsChecker(unittest.TestCase):
    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.dir = tempfile.mkdtemp()
        self.corpus = os.path.join(self.dir, "corpus")
        os.makedirs(self.corpus)
        pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                                 "r_name": ["AFRICA", "AMERICA", "ASIA"]}),
                       os.path.join(self.corpus, "region.parquet"))
        self.sql = {"q": "SELECT r_regionkey, r_name, CAST(r_regionkey AS BIGINT) * 2 AS k2, "
                         "r_regionkey / 4 AS f FROM region"}
        self.expected = check.oracle_answers(self.corpus, self.sql)
        self.results = os.path.join(self.dir, "results")
        os.makedirs(self.results)

    def tearDown(self):
        shutil.rmtree(self.dir)

    COLUMNS = [["r_regionkey", "INTEGER"], ["r_name", "VARCHAR"], ["k2", "BIGINT"],
               ["f", "DOUBLE"]]
    RIGHT = [[2, "ASIA", 4, 0.5], [0, "AFRICA", 0, 0.0], [1, "AMERICA", 2, 0.25]]

    def problems(self, rows, columns=None):
        with open(os.path.join(self.results, "q.json"), "w") as f:
            json.dump({"columns": columns or self.COLUMNS, "rows": rows}, f)
        return check.check_analytics(self.expected, self.results)

    def test_accepts_right_answer_in_any_order(self):
        self.assertEqual(self.problems(self.RIGHT), [])

    def test_rejects_wrong_value(self):
        self.assertTrue(self.problems(self.RIGHT[:2] + [[1, "AMERICA", 2, 0.26]]))

    def test_rejects_missing_row(self):
        self.assertTrue(self.problems(self.RIGHT[:2]))

    def test_rejects_extra_row(self):
        self.assertTrue(self.problems(self.RIGHT + [[3, "EUROPE", 6, 0.75]]))

    def test_rejects_wrong_column_type(self):
        cols = [["r_regionkey", "BIGINT"]] + self.COLUMNS[1:]
        self.assertTrue(self.problems(self.RIGHT, cols))

    def test_rejects_missing_answer(self):
        self.assertTrue(check.check_analytics(self.expected, self.results))

    def test_tagged_values_decode_as_duckdb_gives_them(self):
        import datetime
        import decimal
        self.assertEqual(check.from_json({"$d": "1.50"}), decimal.Decimal("1.50"))
        self.assertEqual(check.from_json({"$ts": "2024-01-02T03:04:05.000006"}),
                         datetime.datetime(2024, 1, 2, 3, 4, 5, 6))
        self.assertEqual(check.from_json([{"$date": "2024-01-02"}]), [datetime.date(2024, 1, 2)])
        self.assertEqual(check.from_json({"a": {"$f": "NaN"}})["a"] != 0, True)


if __name__ == "__main__":
    unittest.main()
