"""Generator: same seed, same bytes; different seed, different logs."""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GenTest(unittest.TestCase):

    def test_same_seed_is_byte_identical(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra = gen.generate(a, 7, 1500, 3, fleet=True)
            rb = gen.generate(b, 7, 1500, 3, fleet=True)
            self.assertEqual(ra, rb)
            self.assertEqual(_files(a), _files(b))
            for f in _files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                            shallow=False), f)

    def test_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(gen.generate(a, 1, 500, 1), gen.generate(b, 2, 500, 1))

    def test_records_describe_the_file(self):
        with tempfile.TemporaryDirectory() as d:
            recs = gen.generate(d, 3, 3000, 2, fleet=True)
            for i, r in enumerate(recs):
                self.assertTrue(r["file"].startswith("ride log %02d%s" % (i + 1, os.sep)))
                self.assertRegex(os.path.basename(r["file"]), r"^\d{4}-\d{2}-\d{2}_")
                with open(os.path.join(d, r["file"])) as f:
                    lines = f.read().splitlines()
                self.assertEqual(lines[0].split(";"), gen.CHANNELS)
                ms = [int(ln.split(";")[0]) for ln in lines[1:]]
                self.assertEqual(len(ms), r["rows"])
                self.assertEqual((ms[0], ms[-1]), (r["first_ms"], r["last_ms"]))
                steps = [b - a for a, b in zip(ms, ms[1:])]
                wide = [[a, b] for a, b in zip(ms, ms[1:]) if b - a > 250]
                self.assertEqual(wide, r["gaps"])
                self.assertTrue(wide)
                self.assertTrue(all(gen.MIN_DT_MS <= s for s in steps))


if __name__ == "__main__":
    unittest.main()
