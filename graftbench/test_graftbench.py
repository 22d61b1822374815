"""Tests of the benchmark's Python side: the seeded feed generator, the
benchmark definition, and the refusal to run without graft's sources.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import feedgen  # noqa: E402
import run  # noqa: E402


def work_tempdir():
    os.makedirs(run.WORK, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.WORK)


class FeedgenTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_feeds(self):
        with work_tempdir() as a, work_tempdir() as b, work_tempdir() as c:
            feedgen.generate(a, seed=7, files=3, records=300)
            feedgen.generate(b, seed=7, files=3, records=300)
            feedgen.generate(c, seed=8, files=3, records=300)
            names = sorted(os.listdir(a))
            self.assertEqual(names, ["expected.json", "sync-0000.jsonl",
                                     "sync-0001.jsonl", "sync-0002.jsonl"])
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((sorted(match), mismatch, errors), (names, [], []))
            self.assertFalse(filecmp.cmp(os.path.join(a, "sync-0001.jsonl"),
                                         os.path.join(c, "sync-0001.jsonl"), shallow=False))

    def test_expected_counts_and_state_match_the_feed(self):
        with work_tempdir() as d:
            exp = feedgen.generate(d, seed=3, files=2, records=400)
            ids = {s: [] for s in feedgen.STREAMS}
            for f in exp["files"]:
                path = os.path.join(d, f["file"])
                self.assertEqual(os.path.getsize(path), f["bytes"])
                rows = {s: 0 for s in feedgen.STREAMS}
                rejected = {s: 0 for s in feedgen.STREAMS}
                states = []
                with open(path) as fh:
                    for line in fh:
                        m = json.loads(line)
                        if m["type"] == "RECORD":
                            s = m["stream"]
                            ids[s].append(m["record"]["id"])
                            bad = m["record"][feedgen.MISTYPED[s]] == "n/a"
                            (rejected if bad else rows)[s] += 1
                        elif m["type"] == "STATE":
                            states.append(m["value"])
                self.assertEqual(rows, f["rows"])
                self.assertEqual(rejected, f["rejected"])
                self.assertEqual(sum(rows.values()) + sum(rejected.values()), f["records"])
                self.assertEqual(states[-1], f["state"])
            total_rejected = sum(sum(f["rejected"].values()) for f in exp["files"])
            self.assertGreater(total_rejected, 0)
            for s in feedgen.STREAMS:  # ids continue from sync to sync
                self.assertEqual(ids[s], list(range(800)))


class DefinitionTest(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))
        self.assertEqual(b["command"], ["python3", "graftbench/run.py"])

    def test_timed_amount_depends_on_seconds_only(self):
        spec = run.WORKLOADS["singer_sync"]
        self.assertEqual(run.timed_amount(spec, 1), spec["min_timed"])
        self.assertEqual(run.timed_amount(spec, 60), int(60 // spec["unit_s"]))


class RefusalTest(unittest.TestCase):
    def test_fails_fast_without_graft_sources(self):
        with work_tempdir() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "graftbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            p = subprocess.run([sys.executable, "graftbench/run.py", "--workload",
                                "singer_sync", "--seed", "1", "--seconds", "10",
                                "--trace", "0"], cwd=d, capture_output=True,
                               text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
