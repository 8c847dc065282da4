"""The generators are pure functions of (workload, seed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


def files_under(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GenTest(unittest.TestCase):
    def generate(self, workload, seed, tmp, name):
        out = os.path.join(tmp, name)
        gen.generate(workload, seed, out)
        return out

    def test_same_seed_gives_byte_identical_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as tmp:
                a = self.generate(w, 7, tmp, "a")
                b = self.generate(w, 7, tmp, "b")
                self.assertEqual(files_under(a), files_under(b))
                for f in files_under(a):
                    self.assertTrue(filecmp.cmp(os.path.join(a, f),
                                                os.path.join(b, f), shallow=False), f)

    def test_different_seed_gives_different_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as tmp:
                a = self.generate(w, 7, tmp, "a")
                b = self.generate(w, 8, tmp, "b")
                # region and nation are fixed dimension tables
                data = [f for f in files_under(a) if f not in (
                    "manifest.json", "fixture/region.parquet", "fixture/nation.parquet")]
                self.assertTrue(data)
                for f in data:
                    self.assertFalse(filecmp.cmp(os.path.join(a, f),
                                                 os.path.join(b, f), shallow=False), f)

    def test_manifest_records_params_rows_and_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            m = gen.generate("curate_docs", 1, tmp)
            self.assertEqual(m["params"], gen.PARAMS["curate_docs"])
            self.assertEqual(m["files"]["docs.parquet"]["rows"],
                             gen.PARAMS["curate_docs"]["docs"])
            self.assertGreater(m["files"]["docs.parquet"]["bytes"], 0)


if __name__ == "__main__":
    unittest.main()
