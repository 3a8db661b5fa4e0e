"""Self-tests of the benchmark's own code; no Spark session needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import re
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
from layers import Layers  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _job(jid, start_ms, end_ms):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms, "Stage IDs": [jid]},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms},
    ]


def _task(stage, launch_ms, finish_ms, run_ms, shuffle_write=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }


class EventLogTest(unittest.TestCase):
    def log(self):
        # window [1000, 2000] ms: job 0 runs 1100-1400, jobs 1 and 2 overlap
        # (pooled fits) over 1500-1800; job 3 starts after the window
        events = _job(0, 1100, 1400) + _job(1, 1500, 1700) + _job(2, 1600, 1800) + _job(3, 2100, 2200)
        events += [_task(0, 1100, 1300, 200, shuffle_write=1024 * 1024), _task(1, 1500, 1700, 200), _task(3, 2100, 2200, 100)]
        return eventlog.parse(json.dumps(e) for e in events)

    def test_jobs_in_window(self):
        figs = eventlog.figures(self.log(), [(1.0, 2.0)], cores=4)
        self.assertEqual(figs["spark.jobs"], 3.0)
        self.assertEqual(figs["spark.tasks"], 2.0)
        self.assertEqual(figs["spark.stages"], 2.0)
        self.assertAlmostEqual(figs["spark.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(figs["spark.executor_run_s"], 0.4)

    def test_sched_gap_counts_overlapping_jobs_once(self):
        figs = eventlog.figures(self.log(), [(1.0, 2.0)], cores=4)
        # busy = 0.3 (job 0) + 0.3 (union of jobs 1 and 2) -> gap 0.4
        self.assertAlmostEqual(figs["spark.sched_gap_s"], 0.4)
        self.assertAlmostEqual(figs["spark.core_util"], 0.4 / (1.0 * 4))

    def test_covered_clips_to_window(self):
        self.assertAlmostEqual(eventlog.covered_s([(0.0, 5.0), (4.0, 12.0)], 2.0, 10.0), 8.0)
        self.assertEqual(eventlog.covered_s([], 0.0, 1.0), 0.0)


class MetricNameTest(unittest.TestCase):
    def test_names_are_well_formed(self):
        for name in [*run.END_TO_END, *run.per_layer_names()]:
            self.assertRegex(name, NAME)

    def test_benchmark_json_matches_code(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.per_layer_names())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


class _FakeFrame:
    from pyspark.storagelevel import StorageLevel as _SL

    storageLevel = _SL.NONE

    def persist(self, level):
        return self

    def unpersist(self, blocking=False):
        return self


class FailureTest(unittest.TestCase):
    def test_raising_query_is_counted_and_the_pass_continues(self):
        def ok(spark, sf):
            return _FakeFrame()

        def boom(spark, sf):
            raise RuntimeError("boom")

        def bad_check(name, df):
            if name == "c":
                raise AssertionError("mismatch")

        p = run.PassRecord(0, False)
        for name, fn in (("a", ok), ("b", boom), ("c", ok), ("d", ok)):
            p.queries.append(run.run_query(None, "", name, fn, lambda df: 1, lambda: 0.0, check=bad_check))
        self.assertEqual([q.error is None for q in p.queries], [True, False, False, True])
        self.assertIn("boom", p.queries[1].error)
        self.assertIn("check", p.queries[2].error)

        class Stub:
            trace = False

        metrics, attempted, failed = run.summarize(Stub(), [p])
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(set(metrics), set(run.END_TO_END))


class IterateWrapperTest(unittest.TestCase):
    def test_rounds_and_early_exits(self):
        def iterate(state, step, n_iter, checkpoint_every=1, early_stop=None):
            for i in range(n_iter):
                state = step(state, i)
                if early_stop is not None and early_stop(state):
                    break
            return state

        layers = Layers("t")
        wrapped = layers._wrap_iterate(iterate)
        self.assertEqual(wrapped(0, lambda s, i: s + 1, 5), 5)
        self.assertEqual(wrapped(0, lambda s, i: s + 1, n_iter=5, early_stop=lambda s: s == 2), 2)
        self.assertEqual(layers.counts["iterative.calls"], 2)
        self.assertEqual(layers.counts["iterative.rounds"], 7)
        self.assertEqual(layers.counts["iterative.early_exits"], 1)
        self.assertEqual([s["kind"] for s in layers.spans], ["iterate", "iterate"])


if __name__ == "__main__":
    unittest.main()
