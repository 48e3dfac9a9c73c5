"""python3 -m unittest discover -s perfbench/tests"""

import json
import os
import shutil
import struct
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402

SIZE = dict(n_samples=4, n_probes=4000)


SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                       ".bench_build")


def cohort(seed):
    os.makedirs(SCRATCH, exist_ok=True)
    d = tempfile.mkdtemp(prefix="test-gen-", dir=SCRATCH)
    return d, gen.write_methyl_cohort(d, seed, **SIZE)


class MethylCohortTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a_dir, cls.a = cohort(7)
        cls.a2_dir, cls.a2 = cohort(7)
        cls.b_dir, cls.b = cohort(8)

    @classmethod
    def tearDownClass(cls):
        for d in (cls.a_dir, cls.a2_dir, cls.b_dir):
            shutil.rmtree(d)

    def test_same_seed_is_byte_identical(self):
        self.assertEqual(self.a, self.a2)

    def test_other_seed_changes_bytes_not_sizes(self):
        # truth.json is the checker's answer key, not a program input
        fa, fb = [{k: v for k, v in r["files"].items() if k != "truth.json"}
                  for r in (self.a, self.b)]
        self.assertEqual(
            sorted(v["bytes"] for v in fa.values()),
            sorted(v["bytes"] for v in fb.values()))
        self.assertNotEqual(
            sorted(v["sha256"] for v in fa.values()),
            sorted(v["sha256"] for v in fb.values()))
        self.assertEqual(self.a["cells"], self.b["cells"])

    def test_one_grn_and_red_idat_per_sample(self):
        idats = [n for n in self.a["files"] if n.endswith(".idat")]
        self.assertEqual(len(idats), 2 * SIZE["n_samples"])
        self.assertEqual(sum(n.endswith("_Grn.idat") for n in idats),
                         SIZE["n_samples"])

    def test_idat_header_and_sections(self):
        name = sorted(n for n in self.a["files"] if n.endswith(".idat"))[0]
        with open(os.path.join(self.a_dir, name), "rb") as f:
            raw = f.read()
        self.assertEqual(raw[:4], b"IDAT")
        version, nsec = struct.unpack_from("<qi", raw, 4)
        self.assertEqual(version, 3)
        secs = dict(struct.unpack_from("<Hq", raw, 16 + 10 * i)
                    for i in range(nsec))
        self.assertLessEqual({1000, 102, 103, 104, 107}, set(secs))
        (n,) = struct.unpack_from("<i", raw, secs[1000])
        ids = struct.unpack_from("<%di" % n, raw, secs[102])
        self.assertEqual(list(ids), sorted(ids))
        means = struct.unpack_from("<%dH" % n, raw, secs[104])
        self.assertTrue(all(0 < m <= 65000 for m in means))

    def test_manifest_mix_and_planted_truth(self):
        with open(os.path.join(self.a_dir, "manifest.csv")) as f:
            rows = [l.rstrip("\n").split(",") for l in f][1:]
        probes = {r[1]: r for r in rows}
        kinds = [(r[2], r[3]) for r in probes.values() if r[4] == "cg"]
        share = {k: kinds.count(k) / len(kinds)
                 for k in [("II", ""), ("I", "R"), ("I", "G")]}
        self.assertAlmostEqual(share[("II", "")], 0.85, delta=0.03)
        self.assertAlmostEqual(share[("I", "R")], 0.10, delta=0.03)
        self.assertAlmostEqual(share[("I", "G")], 0.05, delta=0.02)
        chroms = {r[7] for r in probes.values() if r[4] == "cg"}
        self.assertEqual(chroms, set(gen.CHROMS))
        self.assertEqual(sum(r[4] == "ctl" for r in probes.values()),
                         gen.N_NEG_CONTROLS)
        with open(os.path.join(self.a_dir, "truth.json")) as f:
            truth = json.load(f)
        block = truth["dmr"]["probes"]
        self.assertEqual(len(block), gen.DMR_PROBES)
        self.assertTrue(set(block) <= set(truth["dmps"]))
        self.assertEqual(len(truth["dmps"]),
                         gen.DMR_PROBES + gen.N_SCATTERED_DMPS)
        self.assertTrue(all(probes[p][7] == gen.DMR_CHROM for p in block))


if __name__ == "__main__":
    unittest.main()
