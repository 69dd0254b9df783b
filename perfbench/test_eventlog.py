"""Tests of the event-log reader and the span arithmetic on a small
synthetic event log. Standard library only:

    python3 perfbench/test_eventlog.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import MB, EventLog, self_jobs, span_jobs  # noqa: E402
from spans import SPAN_TAG, self_ms, union_ms  # noqa: E402


def _task(stage, launch, finish, run, cpu_ns=0, gc=0, deser=0, ser=0,
          sh_read=0, sh_write=0, spill=0, failed=False):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed,
                          "Killed": False},
            "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc, "Executor Deserialize Time": deser,
                             "Result Serialization Time": ser, "Disk Bytes Spilled": spill,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": sh_read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sh_write}}}


def _stage(sid, start, end, n):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": f"s{sid}",
                           "Number of Tasks": n, "Submission Time": start,
                           "Completion Time": end}}


def _block(bid, mem):
    return {"Event": "SparkListenerBlockUpdated",
            "Block Updated Info": {"Block ID": bid, "Memory Size": mem, "Disk Size": 0}}


# Two spans: 0 (an op, 1000..2000 ms) and its child 1 (1100..1400 ms).
# Job 0 runs under span 1 with stages 0 and 1; job 1 under span 0 with
# stage 2; job 2 has no span. Stage 3 is listed but skipped.
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1100,
     "Stage IDs": [0, 1], "Properties": {"spark.job.description": f"{SPAN_TAG}1",
                                         "spark.jobGroup.id": "g1"}},
    _task(0, 1110, 1210, 90, cpu_ns=50_000_000, gc=5, deser=3, ser=2, sh_write=2 * MB),
    _task(0, 1110, 1160, 40, sh_write=MB),
    _stage(0, 1100, 1220, 2),
    _task(1, 1230, 1330, 95, sh_read=3 * MB, spill=MB),
    _stage(1, 1225, 1340, 1),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1340},
    _block("rdd_7_0", 4 * MB),
    _block("rdd_7_1", 2 * MB),
    _block("broadcast_3", 50 * MB),
    _block("rdd_7_0", 0),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
     "Stage IDs": [2, 3], "Properties": {"spark.job.description": f"{SPAN_TAG}0"}},
    _task(2, 1510, 1600, 80, failed=True),
    _task(2, 1600, 1700, 90),
    _stage(2, 1505, 1710, 1),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1710},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2500,
     "Stage IDs": [4], "Properties": {}},
]

SPANS = [
    {"id": 0, "name": "op", "parent": None, "start": 1000.0, "end": 2000.0},
    {"id": 1, "name": "child", "parent": 0, "start": 1100.0, "end": 1400.0},
]


class EventLogTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        path = os.path.join(cls.tmp.name, "app-1")
        with open(path, "w") as f:
            for ev in EVENTS:
                f.write(json.dumps(ev) + "\n")
        cls.log = EventLog.read(path)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_jobs_carry_their_span(self):
        self.assertEqual({j: v["span"] for j, v in self.log.jobs.items()},
                         {0: 1, 1: 0, 2: None})
        self.assertEqual(span_jobs(self.log, SPANS), {0: [0, 1], 1: [0]})
        self.assertEqual(self_jobs(self.log), {1: [0], 0: [1]})

    def test_stage_rows(self):
        rows = {r["stage"]: r for r in self.log.stage_rows()}
        self.assertEqual(sorted(rows), [0, 1, 2])       # stage 3 was skipped
        self.assertEqual(rows[0]["tasks"], 2)
        self.assertEqual(rows[0]["wall_ms"], 120)
        self.assertEqual(rows[0]["run_ms"], 130)
        self.assertAlmostEqual(rows[0]["cpu_ms"], 50.0)
        self.assertEqual(rows[0]["shuffle_write"], 3 * MB)
        # scheduler delay: duration - run - deserialize - serialize
        self.assertEqual(rows[0]["sched_delay_ms"], (100 - 90 - 3 - 2) + (50 - 40))
        self.assertEqual(rows[1]["span"], 1)
        self.assertEqual(rows[2]["failed_tasks"], 1)

    def test_totals_for_an_op(self):
        tot = self.log.totals([0, 1], 1000.0, 2000.0)
        self.assertEqual((tot["jobs"], tot["stages"], tot["tasks"]), (2, 3, 5))
        self.assertEqual(tot["failed_tasks"], 1)
        self.assertAlmostEqual(tot["shuffle_read_mb"], 3.0)
        self.assertAlmostEqual(tot["shuffle_write_mb"], 3.0)
        self.assertAlmostEqual(tot["spill_mb"], 1.0)
        self.assertAlmostEqual(tot["gc_s"], 0.005)
        # one-task stages: 1 (115 ms) and 2 (205 ms)
        self.assertAlmostEqual(tot["one_task_stage_s"], 0.320)
        # stages cover 1100..1220, 1225..1340, 1505..1710 = 440 ms of 1000
        self.assertAlmostEqual(tot["driver_gap_s"], 0.560)
        # task time 100 + 50 + 100 + 90 + 100 = 440 ms over a 1000 ms window
        self.assertAlmostEqual(tot["busy_cores"], 0.44)

    def test_cached_peak_counts_rdd_blocks_only(self):
        self.assertEqual(self.log.cached_peak_bytes, 6 * MB)


class SpanArithmeticTest(unittest.TestCase):
    def test_union_merges_and_clips(self):
        self.assertEqual(union_ms([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(union_ms([(0, 10), (5, 20)], 8, 12), 4)
        self.assertEqual(union_ms([], 0, 10), 0)

    def test_self_time_subtracts_children(self):
        self.assertEqual(self_ms(SPANS[0], [SPANS[1]]), 700)


if __name__ == "__main__":
    unittest.main()
