"""Tests of the benchmark itself (not of the program it measures).

    python3 -m unittest discover -s perfbench/tests -v

The checker tests compile the harness on first use (perfbench/build.py).
Set PERFBENCH_SMOKE=1 to also run one short traced benchmark run per
workload (a few minutes); without it, the names a traced run must emit
are checked against BENCHMARK.json statically, and run.py itself fails a
traced run that emits any other set.
"""
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def files_of(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for kind in gen.GENERATORS:
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                gen.generate(kind, 7, a)
                gen.generate(kind, 7, b)
                gen.generate(kind, 8, c)
                self.assertEqual(files_of(a), files_of(b))
                for f in files_of(a):
                    self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                                shallow=False), f"{kind}: {f} differs")
                parquet = [f for f in files_of(a) if f.endswith(".parquet")]
                self.assertTrue(any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f),
                                                    shallow=False) for f in parquet),
                                f"{kind}: seeds 7 and 8 gave the same inputs")

    def test_sdbm_matches_the_reference_formula(self):
        # hand-computed: h = c + (h << 6) + (h << 16) - h per UTF-16 unit
        self.assertEqual(gen.sdbm(0, ""), 0)
        self.assertEqual(gen.sdbm(0, "a"), 97)
        self.assertEqual(gen.sdbm(0, "ab"), 98 + 97 * 65599)
        self.assertEqual(gen.sdbm(1, "a"), 97 + 65599)
        # a non-BMP character hashes as its two surrogate code units
        self.assertEqual(gen.sdbm(0, "\U0001F600"), 0xDE00 + 0xD83D * 65599)


DOCSET = ('<?xml version="1.0" encoding="utf-8"?><sphinx:docset>'
          '\n<sphinx:document id="{id}"><title>{title}</title>'
          '<tags><![CDATA[<mem>1 2</mem>]]></tags></sphinx:document>'
          '\n<sphinx:document id="5"><title>plain</title><tags>x</tags></sphinx:document>'
          '\n</sphinx:docset>')


class CheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = os.pathsep.join(build.build())

    def check(self, docset):
        with tempfile.TemporaryDirectory() as t:
            expect = os.path.join(t, "expect.json")
            with open(expect, "w") as f:
                json.dump({"source_rows": 2, "fields": ["title", "tags"], "sample": [
                    {"id": gen.sdbm(3, "https://x/é"), "fields": {
                        "title": ["text", "AT&T <b> café"],
                        "tags": ["text", "<mem>1 2</mem>"]}}]}, f, ensure_ascii=False)
            path = os.path.join(t, "docset.xml")
            with open(path, "w", encoding="utf-8") as f:
                f.write(docset)
            return subprocess.run(["java", "-cp", self.cp, "perfbench.DocsetCheck",
                                   expect, path], capture_output=True, text=True)

    def good(self, **kw):
        args = {"id": gen.sdbm(3, "https://x/é"), "title": "AT&amp;T &lt;b&gt; café"}
        args.update(kw)
        return DOCSET.format(**args)

    def test_accepts_a_good_docset(self):
        res = self.check(self.good())
        self.assertEqual(res.returncode, 0, res.stderr)

    def test_rejects_a_dropped_footer(self):
        res = self.check(self.good().replace("\n</sphinx:docset>", ""))
        self.assertNotEqual(res.returncode, 0)
        self.assertIn("not a well-formed docset", res.stderr)

    def test_rejects_a_wrong_id(self):
        res = self.check(self.good(id=gen.sdbm(4, "https://x/é")))
        self.assertNotEqual(res.returncode, 0)
        self.assertIn("sampled ids not found", res.stderr)

    def test_rejects_a_mangled_entity(self):
        # double-escaped: well-formed XML, but the text is wrong
        res = self.check(self.good(title="AT&amp;amp;T &lt;b&gt; café"))
        self.assertNotEqual(res.returncode, 0)
        self.assertIn("field title", res.stderr)
        # a broken entity reference is not XML at all
        res = self.check(self.good(title="AT&am;T &lt;b&gt; café"))
        self.assertNotEqual(res.returncode, 0)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.names = [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]

    def test_names_are_well_formed_and_unique(self):
        for n in self.names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(self.names), len(set(self.names)))

    def test_end_to_end_metrics_are_the_ones_computed(self):
        rec = {"ops": [{"op_s": 2.0, "head_s": 1.0}], "setup_s": 3.0}
        values = run.e2e_metrics(rec)
        self.assertEqual(sorted(values), sorted(m["name"] for m in self.spec["end_to_end"]))
        self.assertTrue(all(v > 0 for v in values.values()))

    def test_every_per_layer_metric_is_measured_on_some_workload(self):
        per_layer = {m["name"] for m in self.spec["per_layer"]}
        workloads = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(sorted(workloads), sorted(run.WORKLOADS))
        measured = set().union(*(run.layer_names(w) for w in workloads))
        self.assertEqual(measured, per_layer)

    def test_a_traced_run_must_emit_its_layers_and_only_those(self):
        wanted = [m["name"] for m in self.spec["per_layer"]]
        own = run.layer_names("pages_stream")
        values = {n: 1.0 for n in own}
        out = run.layer_values("pages_stream", values, wanted)
        self.assertEqual(list(out), wanted)
        self.assertEqual(out["XmlPipe.shards"], 0.0)  # a typed_sharded layer
        self.assertEqual(out["XmlPipe.sink_self_s"], 1.0)
        dropped = dict(values)
        del dropped["XmlPipe.sink_self_s"]
        with self.assertRaisesRegex(ValueError, "missing.*sink_self_s"):
            run.layer_values("pages_stream", dropped, wanted)
        with self.assertRaisesRegex(ValueError, "missing.*DocId.self_s"):
            run.layer_values("pages_stream", dict(values, **{"DocId.self_s": None}), wanted)
        with self.assertRaisesRegex(ValueError, "unexpected.*XmlPipe.shards"):
            run.layer_values("pages_stream", dict(values, **{"XmlPipe.shards": 8.0}), wanted)

    @unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE"), "set PERFBENCH_SMOKE=1")
    def test_a_traced_run_of_each_workload_emits_known_names(self):
        per_layer = {m["name"] for m in self.spec["per_layer"]}
        for w in [x["name"] for x in self.spec["workloads"]]:
            res = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                                  "--workload", w, "--seed", "1", "--seconds", "1",
                                  "--trace", "1"], capture_output=True, text=True)
            self.assertEqual(res.returncode, 0, res.stderr[-2000:])
            out = json.loads(res.stdout.strip().splitlines()[-1])
            self.assertTrue(out["correct"])
            self.assertEqual(set(out["metrics"]), per_layer)


if __name__ == "__main__":
    unittest.main()
