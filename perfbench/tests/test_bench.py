"""Tests of the benchmark's own code. Run: python3 -m unittest discover perfbench/tests"""
import json
import os
import random
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen_taxi  # noqa: E402
import metrics as M  # noqa: E402


def random_split(names, rng):
    """Files in random order, cut into batches of random sizes."""
    names = list(names)
    rng.shuffle(names)
    batches, b = {}, 0
    while names:
        k = rng.randint(1, 60)
        batches[b], names = names[:k], names[k:]
        b += 1
    return batches


class GeneratorTruths(unittest.TestCase):
    manifest = gen_taxi.manifest(7)

    def test_hour_totals_hold_under_any_split(self):
        files = self.manifest["files"][:600]
        want = {}
        for f in files:
            for ts, hq, n in f["counts"]:
                want[(ts, hq)] = want.get((ts, hq), 0) + n
        rng = random.Random(1)
        for _ in range(20):
            batches = random_split([f["name"] for f in files], rng)
            got = {}
            for names in batches.values():
                for n in names:
                    f = next(x for x in files if x["name"] == n)
                    for ts, hq, c in f["counts"]:
                        got[(ts, hq)] = got.get((ts, hq), 0) + c
            self.assertEqual(got, want)

    def test_planted_windows_fire_under_any_split(self):
        files = self.manifest["files"][:600]
        names = [f["name"] for f in files]
        planted = M.planted_windows(self.manifest, set(names))
        self.assertGreaterEqual(len(planted), 10)
        rng = random.Random(2)
        for _ in range(50):
            fired = {(hq, ts) for hq, _, ts, _ in
                     M.replay_trends(self.manifest, random_split(names, rng))}
            self.assertLessEqual(planted, fired)
        # minute order, one file per batch: the hardest split
        one = {i: [n] for i, n in enumerate(names)}
        fired = {(hq, ts) for hq, _, ts, _ in M.replay_trends(self.manifest, one)}
        self.assertLessEqual(planted, fired)

    def test_file_rows_match_the_plan(self):
        entries = gen_taxi.plan(7)
        for e in entries[:30] + [x for x in entries if x["planted"]][:3]:
            lines = gen_taxi.rows(7, e)
            _, total = gen_taxi.counts(e)
            self.assertEqual(len(lines), total)
            inside = {hq: 0 for hq in gen_taxi.HQS}
            for line in lines:
                c = line.split(",")
                lon, lat = (c[10], c[11]) if c[0] == "yellow" else (c[8], c[9])
                for hq, poly in gen_taxi.HQS.items():
                    inside[hq] += gen_taxi.inside(poly, float(lon), float(lat))
                self.assertEqual(len(c), 20 if c[0] == "yellow" else 22)
            by_hq = {}
            for (_, hq), n in gen_taxi.counts(e)[0].items():
                by_hq[hq] = by_hq.get(hq, 0) + n
            for hq in gen_taxi.HQS:
                self.assertEqual(inside[hq], by_hq.get(hq, 0), e["minute"])

    def test_same_seed_same_feed(self):
        e = gen_taxi.plan(3)[500]
        self.assertEqual(gen_taxi.rows(3, e), gen_taxi.rows(3, e))
        self.assertNotEqual(gen_taxi.rows(3, e), gen_taxi.rows(4, gen_taxi.plan(4)[500]))


class Percentiles(unittest.TestCase):
    def test_tail_rule(self):
        self.assertIsNone(M.tail_percentile(19))
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertEqual(M.tail_percentile(39), 50)
        self.assertEqual(M.tail_percentile(40), 75)
        self.assertEqual(M.tail_percentile(99), 75)
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(117), 90)
        self.assertEqual(M.tail_percentile(200), 95)
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(10000), 99.9)

    def test_query_medians_over_passes(self):
        rows = [{"name": "a", "wall": 3.0}, {"name": "b", "wall": 1.0},
                {"name": "a", "wall": 1.0}, {"name": "b", "wall": None},
                {"name": "a", "wall": 2.0}, {"name": "b", "wall": 5.0}]
        self.assertEqual(M.query_medians(rows), {"a": 2.0, "b": 3.0})

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))
        self.assertEqual(M.median(xs), 5.5)
        self.assertAlmostEqual(M.percentile(xs, 90), 9.1)
        self.assertEqual(M.percentile([4.0], 90), 4.0)


class Latency(unittest.TestCase):
    def test_synthetic_progress_log(self):
        # two live triggers; the idle event repeats batch 1 with no input
        progress = [
            {"batchId": 0, "numInputRows": 500, "timestamp": "2026-01-01T00:00:00.000Z",
             "durationMs": {"triggerExecution": 900}},
            {"batchId": 1, "numInputRows": 30, "timestamp": "2026-01-01T00:00:01.000Z",
             "durationMs": {"triggerExecution": 400}},
            {"batchId": 1, "numInputRows": 0, "timestamp": "2026-01-01T00:00:09.000Z",
             "durationMs": {"triggerExecution": 2}},
        ]
        t0 = M.progress_end_ms(progress[0]) - 900
        batches = {0: ["old.csv", "a.csv"], 1: ["b.csv", "c.csv"]}
        due = {"a.csv": t0 + 100, "b.csv": t0 + 950, "c.csv": t0 + 1200}
        lat = M.file_latencies(due, batches, progress)
        self.assertEqual(lat, {"a.csv": 800, "b.csv": 450, "c.csv": 200})

    def test_source_log_parsing(self):
        text = 'v1\n{"path":"file:///x/part-2015-12-01-0001.csv","timestamp":1,"batchId":3}\n'
        self.assertEqual(M.batch_files(M.read_source_log(text)),
                         {3: ["part-2015-12-01-0001.csv"]})

    def test_printed_trends(self):
        line = "The number of arrivals to {} has doubled from 1 to 14 at 33000!\n"
        out = line.format("citigroup") + M.TIMED_MARK + "\nnoise\n" + line.format("goldman")
        # only lines after the mark count: the warm-up stream prints before it
        self.assertEqual(M.printed_trends(out), [("goldman", 14, 33000, 1)])
        with self.assertRaises(ValueError):
            M.printed_trends(line.format("goldman"))


class MetricNames(unittest.TestCase):
    def test_names_and_units(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        import run
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual(set(run.WORKLOADS), set(run.IDLE_LAYERS))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


if __name__ == "__main__":
    unittest.main()
