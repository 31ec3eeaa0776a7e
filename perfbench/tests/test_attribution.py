"""Self-test of the benchmark's attribution.

Runs a short traced catalog run on small tables and checks that
  - per-call job, task, task-CPU and shuffle counts add up to the run totals
    the listener kept independently, with no task left unclaimed;
  - no call's group holds a job submitted outside that call's window (a late
    listener event landing in the neighbouring call's group is the
    straggler defect of windowed counters);
  - wall_s is exactly the sum of the emitted, rounded per-query values.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402

# an eager-checkpoint query, a multi-table join with broadcasts, a plain scan
QUERIES = ["q46_dedup_clusters", "q29_gold_join", "q02_filter_project"]
SUMMED = ["jobs", "tasks", "task_cpu_ms", "task_run_ms", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes"]


class AttributionTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        out = build.build_dir()
        cp = build.build(out)
        fixture = datagen.generate(os.path.join(out, "data", "sf0.01"), 0.01)
        cls.work = os.path.join(out, "runs", "selftest")
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(cls.work)
        cls.res = run.run_harness(cp, "build_bound", fixture, cls.work, 5, 0, True, QUERIES,
                                  170, min_passes=2)
        cls.traced = [c for c in cls.res["calls"] if c["traced"]]

    def test_groups_sum_to_totals(self):
        self.assertTrue(self.traced)
        self.assertTrue(all(c["ok"] for c in self.res["calls"]))
        groups = ([c["build"] for c in self.traced] + [c["exec"] for c in self.traced]
                  + [r["counters"] for r in self.res["source_reads"]])
        totals = self.res["totals"]
        self.assertGreater(totals["jobs"], 0)
        self.assertGreater(totals["shuffle_write_bytes"], 0)
        for k in SUMMED:
            self.assertAlmostEqual(sum(g[k] for g in groups), totals[k], places=3, msg=k)
        self.assertEqual(self.res["strays"], 0)

    def test_no_job_outside_its_call(self):
        for c in self.traced:
            lo, hi = c["window_ms"]
            for phase in ("build", "exec"):
                g = c[phase]
                if g["jobs"]:
                    self.assertGreaterEqual(g["first_job_ms"], lo, f"{c['name']} {phase}")
                    self.assertLessEqual(g["last_job_ms"], hi, f"{c['name']} {phase}")
            self.assertGreater(c["exec"]["jobs"], 0, c["name"])

    def test_wall_is_sum_of_emitted_values(self):
        metrics, lat, _, _ = run.end_to_end(self.res, {}, {})
        self.assertEqual(set(lat), set(QUERIES))
        for v in lat.values():
            self.assertEqual(v, round(v, 3))
        self.assertAlmostEqual(metrics["wall_s"] * 1000.0, sum(lat.values()), places=6)


if __name__ == "__main__":
    unittest.main()
