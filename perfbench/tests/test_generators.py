"""Determinism and coverage of the benchmark's input generators.

    python3 -m unittest discover -s perfbench/tests
"""
import glob
import hashlib
import os
import sys
import tempfile
import unittest
from unittest import mock

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen_school  # noqa: E402
import gen_tpch  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, d).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SchoolGenTest(unittest.TestCase):
    def write(self, seed):
        d = tempfile.mkdtemp()
        gen_school.write(d, seed)
        return d

    def test_same_seed_same_sources(self):
        self.assertEqual(digest(self.write(3)), digest(self.write(3)))

    def test_other_seed_other_sources(self):
        self.assertNotEqual(digest(self.write(3)), digest(self.write(4)))

    def test_fixture_edge_cases_present(self):
        g = gen_school.SchoolGen(3)
        cols = {t: list(zip(*[v for _, v in g.rows[t]])) for t in g.rows}
        names = {t: list(s.names) for t, s in gen_school.SCHEMAS.items()}

        def column(t, c):
            return cols[t][names[t].index(c)]
        ev_type = column("evaluations", "type")
        self.assertEqual(set(ev_type), {"semester", "month", "subject", "custom"})
        self.assertIn("na", column("evaluations", "parentId"))
        self.assertIn(0.0, [m for m, t in zip(column("evaluations", "maxScore"), ev_type)
                            if t == "subject"])
        custom_coe = [c for c, t in zip(column("evaluations", "coe"), ev_type) if t == "custom"]
        self.assertIn(None, custom_coe)
        self.assertIn(0.0, custom_coe)
        self.assertTrue(any(c.startswith("datetime.date@version=2(")
                            for c in column("evaluations", "createdAt")))
        months = [a for a, t in zip(column("evaluations", "attendanceColumn"), ev_type)
                  if t == "month"]
        self.assertTrue(all(a is not None for a in months))
        scores = column("scores", "score")
        for case in (None, "abc", "95.5"):
            self.assertIn(case, scores)
        paths = column("scores", "structurePath")
        self.assertTrue(any(p.endswith("#undefined") for p in paths))
        self.assertTrue(any("#" not in p for p in paths))
        self.assertTrue({"Male", "M", "f", "FEMALE", "nonbinary"} <= set(column("student", "gender")))
        self.assertTrue(all("profile" in p for p in column("student", "profile")))
        keys = column("student", "uniqueKey")
        self.assertLess(len(set(keys)), len(keys))  # multi-version keys
        per_record = {}
        for r in column("subject", "structureRecordId"):
            per_record[r] = per_record.get(r, 0) + 1
        self.assertTrue(all(n >= 2 for n in per_record.values()))
        employees = column("teacher", "employeeId")
        self.assertTrue(any(e.startswith("EMP-") for e in employees))
        self.assertTrue(any(len(e) == 36 for e in employees))

    def test_slices_are_ordered_in_time(self):
        g = gen_school.SchoolGen(3)
        i = list(gen_school.SCHEMAS["student"].names).index("updatedAt")
        by_slice = {}
        for k, v in g.rows["student"]:
            by_slice.setdefault(k, []).append(v[i])
        self.assertLess(max(by_slice[0]), min(by_slice[1]))
        fresh = {v[0] for k, v in g.rows["student"] if k == 0}
        day = [v[0] for k, v in g.rows["student"] if k == 1]
        updates = sum(1 for key in day if key in fresh)
        self.assertAlmostEqual(updates / len(day), gen_school.UPDATE_SHARE, delta=0.05)

    def test_manifest_matches_rows(self):
        g = gen_school.SchoolGen(3)
        m = g.manifest()
        self.assertEqual(m["key_counts"]["student"], len({v[0] for _, v in g.rows["student"]}))
        self.assertEqual(m["key_counts"]["teacher"], len({v[0] for _, v in g.rows["teacher"]}))
        self.assertEqual(m["days"], gen_school.DAYS)


class TpchGenTest(unittest.TestCase):
    def write(self, seed):
        d = tempfile.mkdtemp()
        with mock.patch.object(gen_tpch, "SF", 0.001):  # a tenth of the run's size
            gen_tpch.write(d, seed)
        return d

    def test_same_seed_same_tables(self):
        self.assertEqual(digest(self.write(5)), digest(self.write(5)))

    def test_other_seed_other_tables(self):
        self.assertNotEqual(digest(self.write(5)), digest(self.write(6)))

    def test_tables_and_sizes(self):
        d = self.write(5)
        names = sorted(os.path.basename(f)[:-8] for f in glob.glob(os.path.join(d, "*.parquet")))
        self.assertEqual(names, sorted(["region", "nation", "customer", "supplier", "part",
                                        "orders", "lineitem", "events", "documents",
                                        "embeddings"]))
        self.assertEqual(pq.read_metadata(os.path.join(d, "lineitem.parquet")).num_rows, 6000)
        docs = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
        self.assertTrue(any(t.endswith(" dup") for t in docs))


if __name__ == "__main__":
    unittest.main()
