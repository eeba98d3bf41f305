"""Tests for the DuckDB checker: correct outputs pass, planted faults fail.

Outputs are written here by DuckDB itself in the layouts the three sinks
produce (ParquetSink directories, a SqlTextSink dump, a Derby CSV dump), so
the checker is tested without Spark.

Run: python3 -m unittest discover -s stealbench -p 'test_*.py'
"""
import os
import random
import shutil
import tempfile
import unittest

import check
import lake
import spec

SEGMENT = "HOUSEHOLD"


class CheckerTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="stealbench_check_")
        cls.lake = os.path.join(cls.tmp, "lake")
        lake.write(cls.lake, scale=0.02)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def setUp(self):
        self.work = tempfile.mkdtemp(dir=self.tmp)
        self.con = check.connect()
        check.source_views(self.con, self.lake)

    # ------------------------------------------------------------ writers

    def subset_select(self, table, salt="a", whole=()):
        """DuckDB SELECT of the correct subset output of `table`; tables in
        `whole` are planted as unfiltered, un-anonymised copies."""
        tail, anon, ignore = spec.expect(SEGMENT)[table]
        if table in whole:
            return f"SELECT * FROM src_{table}"
        cols = []
        for c, _ in lake.SCHEMAS[table]:
            how = anon.get(c)
            if how is None:
                cols.append(f'"{c}"')
            elif how.startswith("literal:"):
                cols.append(f"'{how[len('literal:'):]}' AS \"{c}\"")
            else:
                cols.append(f"'fake-{salt}-' || hash(\"{c}\") AS \"{c}\"")
        body = f"SELECT {', '.join(cols)} FROM src_{table} {tail}"
        return f"SELECT * FROM ({body}) LIMIT 0" if ignore else body

    def write_parquet(self, rep, **kw):
        for t in lake.TABLES:
            d = os.path.join(self.work, "out", f"rep{rep}", f"{t}.parquet")
            os.makedirs(d, exist_ok=True)
            self.con.execute(f"COPY ({self.subset_select(t, **kw)}) TO "
                             f"'{d}/part-00000.parquet' (FORMAT parquet)")

    def write_csv(self, rep, **kw):
        d = os.path.join(self.work, "out", f"rep{rep}")
        os.makedirs(d, exist_ok=True)
        for t in lake.DB_TABLES:
            self.con.execute(
                f"COPY ({self.subset_select(t, **kw)}) TO "
                f"'{d}/{t.upper()}.csv' (HEADER, FORCE_QUOTE *)")

    def write_sql_text(self, rep, drop_row_of=None):
        path = os.path.join(self.work, "out", f"rep{rep}.sql")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        order = list(lake.TABLES)
        random.Random(rep).shuffle(order)  # the sink's order is arbitrary
        with open(path, "w") as f:
            for t in order:
                schema = lake.SCHEMAS[t]
                f.write(f"CREATE TABLE {t} (...);\n")
                rows = self.con.execute(f"SELECT * FROM src_{t}").fetchall()
                if t == drop_row_of:
                    rows = rows[1:]
                cols = ", ".join(f'"{c}"' for c, _ in schema)
                for i in range(0, len(rows), 500):
                    lits = [self.sql_row(r, schema) for r in rows[i:i + 500]]
                    f.write(f"INSERT INTO {t} ({cols}) VALUES\n  ")
                    f.write(",\n  ".join(lits) + ";\n")

    @staticmethod
    def sql_row(row, schema):
        out = []
        for v, (_, kind) in zip(row, schema):
            if v is None:
                out.append("NULL")
            elif kind == "str":
                out.append("'" + v.replace("'", "''") + "'")
            elif kind == "ts":
                out.append(f"'{v:%Y-%m-%d %H:%M:%S.%f}'")
            elif kind == "vec":
                out.append("'ArraySeq(" + ", ".join(repr(x) for x in v) + ")'")
            else:
                out.append(repr(v))
        return "(" + ", ".join(out) + ")"

    def steal(self, workload, reps=(0,)):
        out = os.path.join(self.work, "out")
        suffix = ".sql" if workload == "lake_full_sqltext" else ""
        return check.check_steal(workload, SEGMENT, self.lake,
                                 [os.path.join(out, f"rep{r}{suffix}") for r in reps])

    # ------------------------------------------------------------ parquet

    def test_correct_parquet_output_passes(self):
        self.write_parquet(0)
        self.write_parquet(1)
        self.assertEqual(self.steal("lake_subset_parquet", (0, 1)), [])

    def test_configured_table_copied_whole_fails(self):
        self.write_parquet(0, whole=("customer",))
        fails = self.steal("lake_subset_parquet")
        self.assertTrue(any(f.startswith("rep0: customer: rows/hash") for f in fails),
                        fails)

    def test_ignored_table_with_rows_fails(self):
        self.write_parquet(0, whole=("documents",))
        fails = self.steal("lake_subset_parquet")
        self.assertTrue(any("documents" in f for f in fails), fails)

    def test_faker_equal_to_source_fails(self):
        self.write_parquet(0)
        d = os.path.join(self.work, "out", "rep0", "supplier.parquet")
        self.con.execute(f"COPY (SELECT * FROM src_supplier) TO "
                         f"'{d}/part-00000.parquet' (FORMAT parquet)")
        fails = self.steal("lake_subset_parquet")
        self.assertIn("rep0: supplier.s_name: faker left 0 NULLs and "
                      f"{self.con.execute('SELECT count(*) FROM src_supplier').fetchone()[0]}"
                      " source values", fails)

    def test_wrong_literal_fails(self):
        self.write_parquet(0)
        d = os.path.join(self.work, "out", "rep0", "events.parquet")
        sel = self.subset_select("events").replace("'event' AS", "'EVENT' AS")
        self.con.execute(f"COPY ({sel}) TO '{d}/part-00000.parquet' (FORMAT parquet)")
        fails = self.steal("lake_subset_parquet")
        self.assertTrue(any(f.startswith("rep0: events.event_type") for f in fails),
                        fails)

    def test_events_limit_off_by_one_fails(self):
        self.write_parquet(0)
        d = os.path.join(self.work, "out", "rep0", "events.parquet")
        self.con.execute(f"COPY ({self.subset_select('events')} OFFSET 1) TO "
                         f"'{d}/part-00000.parquet' (FORMAT parquet)")
        fails = self.steal("lake_subset_parquet")
        self.assertTrue(any(f.startswith("rep0: events: rows/hash") for f in fails),
                        fails)

    def test_repetitions_that_differ_fail(self):
        self.write_parquet(0, salt="a")
        self.write_parquet(1, salt="b")
        fails = self.steal("lake_subset_parquet", (0, 1))
        self.assertIn("customer: output differs between repetitions", fails)

    # ------------------------------------------------------------ Derby dump

    def test_correct_derby_dump_passes(self):
        self.write_csv(0)
        self.assertEqual(self.steal("db_subset_db"), [])

    def test_derby_customer_copied_whole_fails(self):
        self.write_csv(0, whole=("customer",))
        fails = self.steal("db_subset_db")
        self.assertTrue(any(f.startswith("rep0: customer: rows/hash") for f in fails),
                        fails)

    # ------------------------------------------------------------ SQL text

    def test_sql_text_in_any_table_order_passes(self):
        self.write_sql_text(0)
        self.write_sql_text(1)
        self.assertEqual(self.steal("lake_full_sqltext", (0, 1)), [])

    def test_sql_text_missing_row_fails(self):
        self.write_sql_text(0, drop_row_of="lineitem")
        fails = self.steal("lake_full_sqltext")
        self.assertTrue(any(f.startswith("rep0: lineitem: rows/hash") for f in fails),
                        fails)

    # ------------------------------------------------------------ queries

    def test_query_digest_against_pins(self):
        d = os.path.join(self.work, "out", "queries", "k1_scan_project")
        os.makedirs(d)
        self.con.execute(f"COPY (SELECT c_custkey, c_acctbal FROM src_customer) "
                         f"TO '{d}/part-0.parquet' (FORMAT parquet)")
        base = os.path.dirname(d)
        pins = check.query_digests(base)
        self.assertEqual(check.check_queries(base, pins), [])
        bad = {"k1_scan_project": [pins["k1_scan_project"][0] + 1, "0"]}
        self.assertEqual(len(check.check_queries(base, bad)), 1)


if __name__ == "__main__":
    unittest.main()
