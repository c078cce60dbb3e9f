"""Each output check, shown a correct output and a deliberately wrong
one: a dropped frame, a perturbed panel value, a duplicated window.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import checks  # noqa: E402


def workdir():
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(HERE, "work"))


def write(con, sql, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")


class IngestCheck(unittest.TestCase):
    # MNT01: 3 frames, 4 observation cells, 1 coordinate frame
    EXPECTED = {"MNT01": {"frames": 3, "bytes": 300, "obs": 4, "coords": 1}}

    def land(self, dir, package_ids):
        con = duckdb.connect()
        ids = ", ".join(f"({i})" for i in package_ids)
        write(con, f"SELECT 'MNT01' AS mountpoint, i AS rtcm_package_id FROM (VALUES {ids}) t(i)",
              f"{dir}/rtcm_packages/part-0.parquet")
        write(con, "SELECT 'MNT01' AS mountpoint, 1 AS rtcm_package_id FROM range(4)",
              f"{dir}/observations/constellation=GPS/part-0.parquet")
        write(con, "SELECT 'MNT01' AS mountpoint, 3 AS rtcm_package_id",
              f"{dir}/coordinates_log/part-0.parquet")
        con.close()

    def test_correct_landing_passes(self):
        with workdir() as d:
            self.land(d, [1, 2, 3])
            self.assertEqual(checks.check_ingest(d, self.EXPECTED), [])

    def test_dropped_frame_fails(self):
        with workdir() as d:
            self.land(d, [1, 2])
            problems = checks.check_ingest(d, self.EXPECTED)
            self.assertTrue(any("2 package rows for 3 frames" in p for p in problems), problems)

    def test_repeated_package_id_fails(self):
        with workdir() as d:
            self.land(d, [1, 2, 2])
            problems = checks.check_ingest(d, self.EXPECTED)
            self.assertTrue(any("repeated package ids" in p for p in problems), problems)


class DashboardCheck(unittest.TestCase):
    SQL = ("SELECT user_id, count(*) AS n, CAST(sum(value) AS DOUBLE) AS total "
           "FROM events GROUP BY user_id")

    def run_check(self, result_sql):
        with workdir() as d:
            con = duckdb.connect()
            write(con, "SELECT i % 3 AS user_id, i * 0.5 AS value FROM range(10) t(i)",
                  f"{d}/data/events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/data/events.parquet'")
            write(con, result_sql.format(oracle=self.SQL), f"{d}/panels/p1/part-0.parquet")
            con.close()
            finish = {"panels": ["p1"], "written": ["p1"], "results": f"{d}/panels",
                      "oracle_sql": {"p1": self.SQL}, "tables": ["events"],
                      "data": f"{d}/data"}
            return checks.check_dashboard(finish)["p1"]

    def test_equal_result_passes(self):
        self.assertEqual(self.run_check("SELECT * FROM ({oracle})"), [])

    def test_perturbed_value_fails(self):
        problems = self.run_check(
            "SELECT user_id, n, CASE WHEN user_id = 1 THEN total + 0.01 ELSE total END AS total "
            "FROM ({oracle})")
        self.assertTrue(any("first difference" in p for p in problems), problems)

    def test_decimal_output_fails(self):
        problems = self.run_check(
            "SELECT user_id, n, CAST(total AS DECIMAL(18, 2)) AS total FROM ({oracle})")
        self.assertTrue(any("decimal" in p for p in problems), problems)


class StreamCheck(unittest.TestCase):
    EXPECTED = {"MNT01": {"bytes": 300}, "MNT02": {"bytes": 50}}
    WINDOWS = [[0, "MNT01", 100], [30, "MNT01", 200], [0, "MNT02", 50], [600, "ZZFLUSH", 90]]

    def test_conserving_output_passes(self):
        info = {"windows": self.WINDOWS, "dropped_by_watermark": [0, 0, 0]}
        self.assertEqual(checks.check_stream(info, self.EXPECTED, "ZZFLUSH"), [])

    def test_duplicated_window_fails(self):
        info = {"windows": self.WINDOWS + [[30, "MNT01", 200]], "dropped_by_watermark": [0]}
        problems = checks.check_stream(info, self.EXPECTED, "ZZFLUSH")
        self.assertTrue(any("emitted twice" in p for p in problems), problems)

    def test_watermark_drop_fails(self):
        info = {"windows": self.WINDOWS, "dropped_by_watermark": [0, 3]}
        problems = checks.check_stream(info, self.EXPECTED, "ZZFLUSH")
        self.assertTrue(any("dropped by the watermark" in p for p in problems), problems)


if __name__ == "__main__":
    unittest.main()
