"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py

run from the root of a graft checkout. The smoke test builds the
program and runs every workload on small inputs (a few minutes); it is
skipped outside a checkout.
"""
import contextlib
import datetime
import io
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def read(path):
    with open(path, "rb") as f:
        return f.read()


class SeededInputs(unittest.TestCase):

    def test_same_seed_same_sqlite_bytes_and_checksums(self):
        scale = gen.SQLITE_SCALE["smoke"]
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ea = gen.make_sqlite(7, a, scale)
            eb = gen.make_sqlite(7, b, scale)
            self.assertEqual(ea, eb)
            for name in ("catalog.db", "catalog.db-wal", "expected.json"):
                self.assertEqual(read(os.path.join(a, name)), read(os.path.join(b, name)), name)
            self.assertGreater(os.path.getsize(os.path.join(a, "catalog.db-wal")), 32)
            ec = gen.make_sqlite(8, b, scale)
            self.assertNotEqual(ea["tables"]["orders"]["checksum"],
                                ec["tables"]["orders"]["checksum"])

    def test_same_seed_same_parquet_bytes(self):
        scale = gen.TABLE_SCALE["smoke"]
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.make_tables(3, a, scale)
            gen.make_tables(3, b, scale)
            for name in sorted(os.listdir(a)):
                self.assertEqual(read(os.path.join(a, name)), read(os.path.join(b, name)), name)

    def test_wal_reseal_keeps_sqlite_readable(self):
        import shutil
        import sqlite3
        with tempfile.TemporaryDirectory() as d:
            exp = gen.make_sqlite(5, d, gen.SQLITE_SCALE["smoke"])
            copy = os.path.join(d, "copy.db")
            shutil.copyfile(os.path.join(d, "catalog.db"), copy)
            shutil.copyfile(os.path.join(d, "catalog.db-wal"), copy + "-wal")
            con = sqlite3.connect(copy)
            # rows only the WAL holds are visible: the frames validated
            n = con.execute("SELECT count(*) FROM events").fetchone()[0]
            con.close()
            self.assertEqual(n, exp["tables"]["events"]["rows"])

    def test_reference_coercion_rules(self):
        self.assertEqual(gen.coerce(None, "INTEGER"), "0")
        self.assertEqual(gen.coerce(None, "REAL"), "0.0")
        self.assertEqual(gen.coerce(None, "TEXT"), "")
        self.assertEqual(gen.coerce(1, "BOOLEAN"), "1")
        self.assertEqual(gen.coerce(b"ab", "BLOB"), "ab")
        self.assertEqual(gen.coerce("2024-01-02 03:04:05.123456", "DATETIME"), "1704164645")
        self.assertEqual(gen.coerce("2024-02-30 10:00:00", "DATETIME"), gen.NULL)
        self.assertEqual(gen.coerce(" 1999-01-02 ", "DATE"), "1999-01-02")
        self.assertEqual(gen.coerce("1999-02-29", "DATE"), gen.NULL)
        self.assertEqual(gen.coerce(None, "DATE", parse_temporal=False), "")


class StagedCheck(unittest.TestCase):
    """The staged-output check accepts both a reference-parity migration
    (temporal columns parsed) and one that stages them as text."""

    def staged(self, d, parse):
        import sqlite3
        import pyarrow as pa
        import pyarrow.parquet as pq
        exp = gen.make_sqlite(9, d, gen.SQLITE_SCALE["smoke"])
        staged = os.path.join(d, "staged")
        con = sqlite3.connect(os.path.join(d, "catalog.db"))
        for name in exp["tables"]:
            decls = [(c[1], c[2].upper()) for c in con.execute(f"PRAGMA table_info({name})")]
            rows = con.execute(f"SELECT * FROM {name}").fetchall()
            cols = {}
            for i, (c, decl) in enumerate(decls):
                vals = [r[i] for r in rows]
                if decl == "INTEGER":
                    cols[c] = pa.array([v or 0 for v in vals], pa.int64())
                elif decl == "REAL":
                    cols[c] = pa.array([float(v or 0) for v in vals], pa.float64())
                elif parse and decl == "DATETIME":
                    cols[c] = pa.array([gen.parse_datetime(v) for v in vals],
                                       pa.int64()).cast(pa.timestamp("s")).cast(pa.timestamp("us"))
                elif parse and decl == "DATE":
                    days = [gen.parse_date(v) for v in vals]
                    cols[c] = pa.array([d and datetime.date.fromisoformat(d) for d in days],
                                       pa.date32())
                else:
                    cols[c] = pa.array([gen.coerce(v, decl, parse_temporal=False) for v in vals],
                                       pa.string())
            os.makedirs(os.path.join(staged, name))
            pq.write_table(pa.table(cols), os.path.join(staged, name, "part-0.parquet"))
        con.close()
        return exp, staged

    def test_parsed_and_text_temporal_both_pass(self):
        for parse in (True, False):
            with tempfile.TemporaryDirectory() as d:
                exp, staged = self.staged(d, parse)
                result = {"ops": [], "check": {"rows": {t: v["rows"] for t, v in
                                                        exp["tables"].items()}},
                          "finish": {"staged": staged}}
                failed, problems, unparsed = run.check_migrate(result, exp)
                self.assertEqual((failed, problems), (0, []))
                self.assertEqual(bool(unparsed), not parse)


class Percentile(unittest.TestCase):

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.p90_or_none([]))
        self.assertIsNone(run.p90_or_none(list(range(99))))
        xs = list(range(1, 101))
        p = run.p90_or_none(xs)
        self.assertEqual(p, 90)
        self.assertEqual(sum(1 for x in xs if x > p), 10)
        self.assertEqual(run.p90_or_none(list(range(1, 201))), 180)


@unittest.skipUnless(os.path.exists("build.sbt") and os.path.isdir("perfbench"),
                     "run from the root of a graft checkout")
class Smoke(unittest.TestCase):

    def summary(self, *argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run.main(list(argv))
        self.assertEqual(rc, 0)
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def test_every_metric_with_its_unit(self):
        for workload in run.WORKLOADS:
            for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
                with self.subTest(workload=workload, trace=trace):
                    s = self.summary("--workload", workload, "--seed", "1", "--seconds", "1",
                                     "--trace", str(trace), "--scale", "smoke")
                    self.assertEqual(set(s), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(s["correct"])
                    self.assertEqual(s["failed"], 0)
                    self.assertEqual({k: v["unit"] for k, v in s["metrics"].items()}, names)


if __name__ == "__main__":
    unittest.main()
