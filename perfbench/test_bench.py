#!/usr/bin/env python3
"""The benchmark's own tests. Each runs perfbench/run.py for real (about a
minute per run on 4 cores).

    python3 perfbench/test_bench.py
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def git_status():
    r = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                       capture_output=True, text=True)
    return r.stdout if r.returncode == 0 else None


def tmp_entries():
    return set(os.listdir(tempfile.gettempdir()))


class InjectedFailure(unittest.TestCase):
    """An unknown gate key fails: it keeps its time, counts as failed, and
    the command exits non-zero. The run leaves `git status` and /tmp as
    they were."""

    def test_bad_gate_key(self):
        before_git, before_tmp = git_status(), tmp_entries()
        before_out = set(glob.glob(os.path.join(ROOT, ".bench_out", "*.jsonl")))
        p = subprocess.run(RUN + ["--workload", "gates_sf0.1", "--seed", "7", "--seconds", "1",
                                  "--trace", "0", "--extra-gate", "q_no_such_gate"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        # 11 gates and the bad key, in the warm-up pass and the timed pass
        self.assertFalse(last["correct"])
        self.assertEqual((last["attempted"], last["failed"]), (24, 2))

        new = set(glob.glob(os.path.join(ROOT, ".bench_out", "*.jsonl"))) - before_out
        self.assertEqual(len(new), 1)
        with open(new.pop()) as fh:
            recs = [json.loads(line) for line in fh]
        timed = [r for r in recs if r["type"] == "op" and r["passIndex"] == 0]
        bad = [o for o in timed if o["name"] == "q_no_such_gate"]
        self.assertEqual(len(bad), 1)
        self.assertFalse(bad[0]["ok"])
        # the failed operation's time is inside the pass's wall time
        wall = [r for r in recs if r["type"] == "pass"][0]["wall_s"]
        self.assertGreater(bad[0]["construct_s"] + bad[0]["action_s"], 0)
        self.assertGreaterEqual(wall, sum(o["construct_s"] + o["action_s"] for o in timed))

        self.assertEqual(before_git, git_status())
        self.assertFalse(os.path.exists(os.path.join(ROOT, ".bench_run")))
        self.assertEqual(sorted(tmp_entries() - before_tmp), [])


class OutsideCheckout(unittest.TestCase):
    """With only BENCHMARK.json and perfbench/, the command fails fast and
    prints no result."""

    def test_refuses(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "gates_sf0.1",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
