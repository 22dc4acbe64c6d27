"""The day-load benchmark's own tests.

    python3 -m unittest discover -s loadbench/tests -v

Generation: the same seed writes byte-identical files, another seed
different ones, and the expected counts match a direct count over the
generated CSV files. Smoke: every workload at a tiny size, traced and
untraced, passes its correctness gate and prints the metrics
BENCHMARK.json declares. Runs one JVM at a time; do not run it while the
benchmark itself runs (both use `.bench_build/work`).
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402

ROOT = build.ROOT
SCRATCH = os.path.join(build.BUILD, "tests")
ROWS = 3000


def generate(workload, seed, name):
    out = os.path.join(SCRATCH, name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = run.java_cmd(build.ensure(), out, "graft.loadbench.DayGen", [
        "--workload", workload, "--seed", str(seed), "--out",
        os.path.join(out, "day"), "--rows", str(ROWS), "--cores", "2"])
    subprocess.run(cmd, cwd=out, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL, timeout=300)
    return os.path.join(out, "day")


def csv_digests(day):
    found = {}
    for d, _, files in os.walk(os.path.join(day, "csv")):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                found[os.path.relpath(p, day)] = hashlib.sha256(fh.read()).hexdigest()
    return found


def read_expected(day):
    wire, appended, seeded = 0, {}, {}
    with open(os.path.join(day, "expected.tsv")) as fh:
        for parts in (l.rstrip("\n").split("\t") for l in fh):
            if parts[0] == "wire_rows":
                wire = int(parts[1])
            else:
                (appended if parts[0] == "appended" else seeded)[parts[1]] = int(parts[2])
    return wire, appended, seeded


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.a = generate("day_fresh", 7, "a")
        cls.b = generate("day_fresh", 7, "b")
        cls.c = generate("day_fresh", 8, "c")
        cls.rerun = generate("day_rerun", 7, "rerun")

    def test_same_seed_writes_identical_files(self):
        a = csv_digests(self.a)
        self.assertGreater(len(a), 10)
        self.assertEqual(a, csv_digests(self.b))
        for f in ("expected.tsv", "seeded_uuids.txt"):
            with open(os.path.join(self.a, f), "rb") as x, \
                    open(os.path.join(self.b, f), "rb") as y:
                self.assertEqual(x.read(), y.read(), f)

    def test_other_seed_writes_different_files(self):
        a, c = csv_digests(self.a), csv_digests(self.c)
        self.assertEqual(a.keys(), c.keys())
        for f in a:
            self.assertNotEqual(a[f], c[f], f)

    def test_wire_format(self):
        path = os.path.join(self.a, "csv", "VehiclePosition")
        with open(os.path.join(path, sorted(os.listdir(path))[0]), encoding="utf-8") as fh:
            rows = [l.rstrip("\n").split(",") for l in fh]
        self.assertTrue(all(len(r) == 44 for r in rows))
        full = [r for r in rows if any(r)]
        self.assertLess(len(full), len(rows), "some all-empty lines")
        # oday, journey_type and the quirk mix in their wire columns
        self.assertTrue(all(r[22] == "2026-10-16" for r in full))
        self.assertIn("journey", {r[13] for r in full})
        self.assertGreater(len({r[13] for r in full}), 1)
        quirks = {v for r in full for v in r}
        for q in ("42px", "NaNope", "3.5e2oops"):
            self.assertIn(q, quirks)
        tst = [r[38] for r in full]
        self.assertTrue(any("T" in t for t in tst) and any(t.isdigit() for t in tst))

    def check_counts(self, day):
        with open(os.path.join(day, "seeded_uuids.txt")) as fh:
            seeded_uuids = set(fh.read().split())
        wire, appended, seeded = 0, {}, {}
        for group in ("StopEvent", "OtherEvent", "VehiclePosition"):
            d = os.path.join(day, "csv", group)
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    for line in fh:
                        wire += 1
                        r = line.rstrip("\n").split(",")
                        if not any(r) or not r[40]:
                            continue
                        table = group.lower() if group != "VehiclePosition" else (
                            "vehicleposition" if r[13] == "journey" else "unsignedevent")
                        into = seeded if r[40] in seeded_uuids else appended
                        into[table] = into.get(table, 0) + 1
        want_wire, want_appended, want_seeded = read_expected(day)
        self.assertEqual(wire, want_wire)
        for t in want_appended:
            self.assertEqual(appended.get(t, 0), want_appended[t], t)
            self.assertEqual(seeded.get(t, 0), want_seeded[t], t)
        return want_appended, want_seeded

    def test_expected_counts_match_the_files_fraction_seed(self):
        appended, seeded = self.check_counts(self.a)
        self.assertGreater(sum(appended.values()), 40 * sum(seeded.values()) // 2)

    def test_expected_counts_match_the_files_rerun_seed(self):
        appended, seeded = self.check_counts(self.rerun)
        # only the late VehiclePosition file is new
        self.assertEqual(appended["stopevent"] + appended["otherevent"], 0)
        self.assertGreater(sum(seeded.values()), 30 * sum(appended.values()))


def smoke(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--rows", str(ROWS)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    return proc


class SmokeTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.metrics = {
            0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]},
        }

    def check(self, workload, trace):
        proc = smoke(workload, trace)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], proc.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 2)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, self.metrics[trace])
        return result["metrics"]

    def test_day_fresh(self):
        m = self.check("day_fresh", 0)
        self.assertGreater(m["load_s"]["value"], 0)
        m = self.check("day_fresh", 1)
        self.assertEqual(m["keys.broadcast"]["value"], 1)
        self.assertGreater(m["stream.batches"]["value"], 0)

    def test_day_rerun(self):
        self.check("day_rerun", 0)
        m = self.check("day_rerun", 1)
        self.assertEqual(m["stream.batches"]["value"], 0)

    def test_stream_catchup(self):
        self.check("stream_catchup", 0)
        m = self.check("stream_catchup", 1)
        self.assertGreater(m["stream.batches"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
