"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The reduction tests are fast. The two run tests launch the benchmark on the
cheapest workload, once timed and once traced (about two minutes together,
more on the first run, which builds).
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def op(name, out="", error=""):
    return {"name": name, "out": out, "error": error}


def engine(**kw):
    e = {k: 0 for k in ("jobs", "stages", "stages_submitted", "tasks", "sched_delay_ms",
                        "run_ms", "cpu_ns", "gc_ms", "shuffle_bytes", "shuffle_records",
                        "shuffle_write_ns", "fetch_wait_ms", "spill_bytes", "scan_bytes",
                        "scan_records", "output_bytes", "plan_ms")}
    e.update(kw)
    return e


def span(id, name, parent, pass_id, start, end, **kw):
    return {"id": id, "name": name, "parent": parent, "pass": pass_id, "start_s": start,
            "end_s": end, "cpu_s": 0.5, "overhead_s": 0.01, "engine": engine(**kw)}


def passes_with_spans():
    mk = lambda i, traced, wall: {"id": i, "traced": traced, "wall_s": wall, "cpu_s": 2.0,
                                  "engine": engine(jobs=4, stages=10, stages_submitted=6,
                                                   run_ms=1000, cpu_ns=5 * 10 ** 8),
                                  "peak_exec_bytes": 7, "cached_bytes": 3,
                                  "ops": [op("ref.ingest")]}
    return {"session_s": 3.0, "setup_s": 4.0, "peak_rss_mb": 900.0, "items": 100,
            "host": {"steal_pct": 0.0, "spread_pct": 1.0},
            "passes": [mk(1, True, 3.0), mk(2, True, 2.0)],
            "spans": [span(0, "pass", -1, 2, 10.0, 12.2),
                      span(1, "ref.ingest", 0, 2, 10.0, 11.0, shuffle_bytes=5, jobs=2),
                      span(2, "ref.build", 0, 2, 11.0, 12.1)]}


class ReductionTest(unittest.TestCase):
    def test_per_layer_reports_every_listed_metric(self):
        names = [n for n, _, _ in run.per_layer(passes_with_spans())]
        self.assertEqual(names, [n for n, _ in run.per_layer_names()])
        with open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")) as f:
            declared = [m["name"] for m in json.load(f)["per_layer"]]
        self.assertEqual(names, declared)

    def test_untraced_time_is_pass_minus_child_spans(self):
        m = {n: v for n, v, _ in run.per_layer(passes_with_spans())}
        self.assertAlmostEqual(m["trace.untraced_s"], 0.1)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.03)  # three spans in the pass
        self.assertEqual(m["ref.ingest.shuffle_bytes"], 5)
        self.assertEqual(m["scheduler.stages_skipped"], 4)
        self.assertAlmostEqual(m["executor.cpu_ratio"], 0.5)
        self.assertEqual(m["cur.near.wall_s"], 0)  # another workload's span

    def test_end_to_end_takes_medians_over_passes(self):
        m = {n: v for n, v, _ in run.end_to_end(passes_with_spans(), 10, 1)}
        self.assertEqual(m["wall_s"], 2.5)  # median of 3.0 and 2.0
        self.assertAlmostEqual(m["ok_ratio"], 0.9)
        self.assertEqual(m["throughput"], 40.0)

    def test_golden_mismatch_is_a_failure(self):
        r = {"passes": [{"id": 1, "ops": [op("q.q81_pagerank", "bad"), op("q.q230_hits", "x", "boom")]}]}
        attempted, failed, errors = run.check_ops(r, 12345)
        self.assertEqual((attempted, failed), (2, 2))
        self.assertIn("golden", errors[0])

    def test_seeded_goldens_hold_for_the_default_seed_only(self):
        r = {"passes": [{"id": 1, "ops": [op("ref.build", "123"), op("cur.near", "7")]}]}
        self.assertEqual(run.check_ops(r, 12345)[:2], (2, 0))
        self.assertEqual(run.check_ops(r, 1)[:2], (2, 2))


class RunTest(unittest.TestCase):
    """Runs the benchmark itself on its cheapest workload."""

    def launch(self, trace):
        cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", "e2e_reference",
               "--seed", "7", "--seconds", "1", "--trace", str(trace)]
        p = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(p.returncode, 0)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(run.WORK, "e2e_reference-seed7-trace%d" % trace,
                               "result.json")) as f:
            return last, json.load(f)

    def test_timed_run_records_no_span(self):
        last, raw = self.launch(0)
        self.assertTrue(last["correct"])
        self.assertEqual(raw["spans"], [])
        self.assertFalse(any(p["traced"] for p in raw["passes"]))
        self.assertEqual(set(last["metrics"]),
                         {"setup_s", "wall_s", "throughput", "cpu_s", "peak_rss_mb",
                          "shuffle_bytes", "ok_ratio"})

    def test_traced_spans_cover_the_pass(self):
        last, raw = self.launch(1)
        self.assertTrue(last["correct"])
        traced = [p for p in raw["passes"] if p["traced"]]
        self.assertTrue(traced)
        for p in traced:
            names = [s["name"] for s in raw["spans"] if s["pass"] == p["id"]]
            self.assertEqual(names[-1], "pass")
            self.assertEqual(names[:-1], run.REF_SPANS)
        m = last["metrics"]
        self.assertLess(m["trace.untraced_s"]["value"], 0.05 * min(p["wall_s"] for p in traced))


if __name__ == "__main__":
    unittest.main()
