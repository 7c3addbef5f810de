"""Tests of the benchmark itself (run from the repository root):

    python3 -m unittest perfbench/test_perfbench.py

The smoke test builds the benchmark and runs all three workloads at toy
size; it takes several minutes. The Scala-side tests (percentile rule, span
self time, golden check) run with `sbt test` inside perfbench/.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r'^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$')
UNIT = re.compile(r'^[A-Za-z0-9_/%.-]{1,16}$')


def bench_json():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def run(cwd, workload, trace, toy=True, seed=3):
    cmd = [sys.executable, 'perfbench/run.py', '--workload', workload, '--seed', str(seed),
           '--seconds', '1', '--trace', str(trace)] + (['--toy'] if toy else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class BenchmarkJsonTest(unittest.TestCase):
    def test_shape_and_limits(self):
        b = bench_json()
        self.assertEqual(set(b), {'command', 'paths', 'run_seconds', 'workloads',
                                  'end_to_end', 'per_layer'})
        self.assertEqual(b['paths'], ['perfbench'])
        self.assertTrue(1 <= b['run_seconds'] <= 60)
        self.assertTrue(2 <= len(b['workloads']) <= 8)
        names = [w['name'] for w in b['workloads']] + [m['name'] for m in b['end_to_end']] + \
            [m['name'] for m in b['per_layer']]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in b['workloads']:
            self.assertEqual(set(w), {'name', 'why'})
            self.assertLessEqual(len(w['why']), 200)
        for m in b['end_to_end']:
            self.assertEqual(set(m), {'name', 'unit', 'better', 'bound'})
            self.assertRegex(m['unit'], UNIT)
            self.assertLessEqual(m['bound'], 0.25)
        setup = [m for m in b['end_to_end'] if m['name'] == 'setup_s']
        self.assertEqual(setup[0]['unit'], 's')
        self.assertEqual(setup[0]['better'], 'lower')
        self.assertEqual(setup[0]['bound'], max(m['bound'] for m in b['end_to_end']))
        for m in b['per_layer']:
            self.assertEqual(set(m), {'name', 'unit', 'better'})
            self.assertRegex(m['unit'], UNIT)


class GoldenTest(unittest.TestCase):
    """The ops_suite golden check (run.py) on the pinned facts of seed 1."""

    def test_rejects_a_perturbed_recall_digit(self):
        sys.path.insert(0, HERE)
        import run as bench
        golden = os.path.join(HERE, 'golden.txt')
        facts = dict(bench.golden_facts(golden, 'ops_suite', 1))
        self.assertIn('recall.qd_ann_lsh', facts)
        n, bad = bench.golden_mismatches(golden, 'ops_suite', 1, facts)
        self.assertEqual((n, bad), (len(facts), []))
        facts['recall.qd_ann_lsh'] = '0.1973'
        n, bad = bench.golden_mismatches(golden, 'ops_suite', 1, facts)
        self.assertEqual(bad, ['ops_suite: golden recall.qd_ann_lsh: expected 0.1972, got 0.1973'])


class NoSourcesTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as tmp:
            shutil.copy(os.path.join(ROOT, 'BENCHMARK.json'), tmp)
            shutil.copytree(HERE, os.path.join(tmp, 'perfbench'), ignore=shutil.ignore_patterns(
                '.build', '.work', '.out', 'target', '__pycache__'))
            r = run(tmp, 'crawl_tail', 0, toy=False)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


class SmokeTest(unittest.TestCase):
    """Every workload at toy size: correct, and every declared metric present."""

    def check(self, workload, trace, section):
        r = run(ROOT, workload, trace)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:] + r.stderr[-2000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {'correct', 'attempted', 'failed', 'metrics'})
        self.assertTrue(last['correct'])
        self.assertEqual(last['failed'], 0)
        self.assertGreaterEqual(last['attempted'], 1)
        want = {m['name']: m['unit'] for m in bench_json()[section]}
        got = {k: v['unit'] for k, v in last['metrics'].items()}
        self.assertEqual(got, want)
        return last

    def test_crawl_tail_traced(self):
        m = self.check('crawl_tail', 1, 'per_layer')['metrics']
        self.assertGreater(m['robots.rows']['value'], 0)
        self.assertGreater(m['store.compact_ms']['value'], 0)
        self.assertGreater(m['trace.coverage']['value'], 0)

    def test_ops_suite_traced(self):
        m = self.check('ops_suite', 1, 'per_layer')['metrics']
        self.assertGreater(m['ops.graph_s']['value'], 0)
        self.assertGreater(m['ops.crawlq_s']['value'], 0)

    def test_crawl_wave(self):
        m = self.check('crawl_wave', 0, 'end_to_end')['metrics']
        self.assertGreater(m['throughput_per_s']['value'], 0)


if __name__ == '__main__':
    unittest.main()
