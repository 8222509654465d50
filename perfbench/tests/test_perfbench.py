"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root. `ListenerAttributionTest` builds the runner
(sbt, offline) on first use and starts one JVM.
"""
import datetime as dt
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import sample  # noqa: E402


class PercentileSupportTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(check.percentile(list(range(19)), 0.5))
        self.assertEqual(check.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(check.percentile(list(range(99)), 0.9))
        self.assertEqual(check.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(check.percentile([], 0.5))

    def test_order_of_samples_is_irrelevant(self):
        xs = [random.Random(1).random() for _ in range(200)]
        self.assertEqual(check.percentile(xs, 0.9), check.percentile(sorted(xs), 0.9))


class DigestTest(unittest.TestCase):
    COLS = ["b", "a", "t"]
    ROWS = [[1, "x", dt.datetime(2024, 1, 1, 0, 0, 7, 179575)],
            [2, "y", None],
            [3, "z", dt.datetime(1999, 12, 31)]]

    def test_row_and_column_order_insensitive(self):
        base = check.digest(self.COLS, self.ROWS)
        rows = list(self.ROWS)
        random.Random(3).shuffle(rows)
        self.assertEqual(check.digest(self.COLS, rows), base)
        perm = [1, 2, 0]
        self.assertEqual(check.digest([self.COLS[i] for i in perm],
                                      [[r[i] for i in perm] for r in self.ROWS]), base)

    def test_content_and_multiplicity_matter(self):
        base = check.digest(self.COLS, self.ROWS)
        self.assertNotEqual(check.digest(self.COLS, self.ROWS + [self.ROWS[0]])[2], base[2])
        changed = [list(r) for r in self.ROWS]
        changed[1][1] = "w"
        self.assertNotEqual(check.digest(self.COLS, changed)[2], base[2])

    def test_floats_are_rounded_before_hashing(self):
        self.assertEqual(check.digest(["v"], [[0.1 + 0.2]]), check.digest(["v"], [[0.3]]))
        self.assertEqual(check.digest(["v"], [[3.0]]), check.digest(["v"], [[3]]))
        self.assertNotEqual(check.digest(["v"], [[0.3001]])[2], check.digest(["v"], [[0.3]])[2])

    def test_runner_json_decodes_to_the_same_digest(self):
        # how the runner writes the same rows (see Main.enc)
        us = lambda t: int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000 + t.microsecond  # noqa: E731
        js = [[1, "x", {"$ts": us(self.ROWS[0][2])}], [2, "y", None],
              [3, "z", {"$ts": us(self.ROWS[2][2])}]]
        rows = [check.decode(json.loads(json.dumps(r))) for r in js]
        self.assertEqual(check.digest(self.COLS, rows), check.digest(self.COLS, self.ROWS))
        self.assertEqual(check.canon(check.decode({"$map": [[1, [2.0]]]})), check.canon({1: [2]}))
        self.assertEqual(check.canon(check.decode({"$date": 1})), check.canon(dt.date(1970, 1, 2)))


class ExportFormatTest(unittest.TestCase):
    def test_replay_export_matches_the_reference_bytes(self):
        path = os.path.join(ROOT, "src", "test", "resources", "reference_export_fixture.json")
        with open(path) as f:
            want = f.read()
        sel = {(c, k) for k, cs in json.loads(want).items() for c in cs}
        self.assertEqual(check.export_json(sel), want.rstrip("\n"))
        self.assertEqual(check.export_json(set()), "{}")


class GeneratorDeterminismTest(unittest.TestCase):
    def setUp(self):
        bb = os.path.join(ROOT, ".bench_build")
        os.makedirs(bb, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=bb)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _dir(self, name):
        return os.path.join(self.tmp, name)

    def test_same_seed_same_bytes(self):
        gen.tables(self._dir("a"), 5, 0.001)
        gen.tables(self._dir("b"), 5, 0.001)
        gen.tables(self._dir("c"), 6, 0.001)
        self.assertEqual(gen.dir_digest(self._dir("a")), gen.dir_digest(self._dir("b")))
        self.assertNotEqual(gen.dir_digest(self._dir("a")), gen.dir_digest(self._dir("c")))

    def test_qc_inputs_and_script(self):
        pa = gen.qc_series(self._dir("qa"), 9, 3, 50)
        pb = gen.qc_series(self._dir("qb"), 9, 3, 50)
        self.assertEqual(gen.dir_digest(self._dir("qa")), gen.dir_digest(self._dir("qb")))
        self.assertEqual(gen.qc_script(pa, 9), gen.qc_script(pb, 9))
        kinds = lambda s: [st["op"] for st in s]  # noqa: E731
        pc = gen.qc_series(self._dir("qc"), 10, 3, 50)
        self.assertEqual(kinds(gen.qc_script(pa, 9)), kinds(gen.qc_script(pc, 10)))


class CatalogSampleTest(unittest.TestCase):
    def test_strata_cover_the_catalog_and_every_module(self):
        lat = {f"e{i:02d}": ("AB"[i % 2], 0.01 * i, 0.0) for i in range(10)}
        picked = sample.stratify(lat, 4)
        self.assertEqual(len(picked), 4)
        self.assertEqual(sum(picked.values()), 10)
        self.assertEqual({lat[k][0] for k in picked}, {"A", "B"})

    def test_weighted_pass_estimates_the_full_pass(self):
        op = lambda n, t: {"op": n, "construct": t, "plan": 0.0, "exec": 0.0}  # noqa: E731
        res = {"memo": {"release_s": 0.5, "build": op("memo_build", 1.0)}}
        p = {"wall_s": 9.0, "ops": [op("a", 0.25), op("b", 2.0)]}
        self.assertAlmostEqual(run.run_s(res, [p], {"a": 4, "b": 1}), 0.5 + 1.0 + 1.0 + 2.0)
        self.assertEqual(run.run_s({}, [p], {}), 9.0)
        failed = dict(p, wall_s=1.0, ops=[dict(op("a", 0.0), error="boom"), op("b", 2.0)])
        self.assertEqual(run.run_s({}, [failed, p], {}), 9.0)


class ManifestTest(unittest.TestCase):
    def test_benchmark_json_names_the_metrics_run_py_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [tuple(x) for x in run.PER_LAYER])
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))


class ListenerAttributionTest(unittest.TestCase):
    """A job launched inside the operator call is booked to construct."""

    def test_selftest(self):
        bb = os.path.join(ROOT, ".bench_build")
        os.makedirs(bb, exist_ok=True)
        cp = run.build(ROOT, bb)
        out = tempfile.mkdtemp(dir=bb)
        try:
            r = subprocess.run(["java", "-Xmx1g", *run.JAVA_OPTS,
                                f"-Djava.io.tmpdir={out}", "-cp", cp, "graft.perfbench.Main",
                                "--selftest", "1", "--out", out],
                               capture_output=True, text=True, timeout=300)
            with open(os.path.join(out, "selftest.log")) as f:
                log = f.read()
            self.assertEqual(r.returncode, 0, log)
            self.assertIn("ok=true", log)
        finally:
            shutil.rmtree(out)


if __name__ == "__main__":
    unittest.main()
