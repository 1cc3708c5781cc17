"""Tests for tools/batch_phases.py on a small synthetic event log.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import batch_phases  # noqa: E402

QUERY = "q-1"


def job_start(job, batch, execution, submitted, stages, description=None):
    props = {"streaming.sql.batchId": str(batch), "sql.streaming.queryId": QUERY,
             "spark.sql.execution.id": str(execution)}
    if description is not None:
        props["spark.job.description"] = description
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submitted,
            "Stage IDs": stages, "Properties": props}


def job_end(job, completed):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": completed}


def task_end(stage, launch, finish, deser, deser_cpu_ns, run, run_cpu_ns):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Deserialize Time": deser,
                             "Executor Deserialize CPU Time": deser_cpu_ns,
                             "Executor Run Time": run, "Executor CPU Time": run_cpu_ns}}


def iso(ms):
    """A progress `timestamp` for `ms` milliseconds after the epoch."""
    return f"1970-01-01T00:00:{ms // 1000:02d}.{ms % 1000:03d}Z"


def progress(batch, rows, added, start, trigger):
    return {"Event": batch_phases.PROGRESS,
            "progress": {"id": QUERY, "batchId": batch, "timestamp": iso(start),
                         "sources": [{"numInputRows": rows}],
                         "durationMs": {"latestOffset": 5, "getBatch": 2,
                                        "queryPlanning": 10, "addBatch": added,
                                        "triggerExecution": trigger}}}


EVENTS = [
    # a job outside any stream: never counted
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1,
     "Stage IDs": [0], "Properties": {}},
    task_end(0, 2, 3, 1, 1, 1, 1),
    # batch 0: one SQL execution, one job, two tasks
    {"Event": batch_phases.SQL_START, "executionId": 7, "time": 1000},
    job_start(1, 0, 7, 1060, [1]),
    task_end(1, 1085, 1150, 30, 20_000_000, 35, 25_000_000),
    task_end(1, 1090, 1160, 28, 18_000_000, 40, 30_000_000),
    progress(0, 4, 170, 990, 200),
    # batch 1: empty, skipped
    progress(1, 0, 0, 1500, 10),
    # batch 2: two jobs; the first submitted one is the phase reference
    {"Event": batch_phases.SQL_START, "executionId": 9, "time": 2000},
    # ... and, in its getBatch, a leaf-file listing job that still carries
    # batch 0's id: it is batch 2's, in its own columns
    job_start(4, 0, 9, 2010, [4], "Listing leaf files and directories for 59 paths:<br/>/s/a"),
    task_end(4, 2012, 2030, 5, 4_000_000, 10, 9_000_000),
    task_end(4, 2013, 2040, 5, 4_000_000, 20, 9_000_000),
    task_end(4, 2014, 2050, 5, 4_000_000, 30, 9_000_000),
    job_end(4, 2055),
    job_start(3, 2, 9, 2070, [3]),
    job_start(2, 2, 9, 2064, [2]),
    task_end(2, 2090, 2120, 32, 30_000_000, 10, 8_000_000),
    task_end(3, 2100, 2140, 31, 29_000_000, 20, 15_000_000),
    task_end(3, 2101, 2150, 29, 27_000_000, 30, 20_000_000),
    progress(2, 3, 190, 1995, 200),
]


class BatchPhasesTest(unittest.TestCase):
    def test_per_batch_rows(self):
        rows = batch_phases.batches(EVENTS)
        self.assertEqual([(b, n) for b, n, _ in rows], [(0, 4), (2, 3)])
        r0, r2 = rows[0][2], rows[1][2]
        self.assertEqual(r0["addBatch"], 170)
        self.assertEqual(r0["sql_to_job"], 60)
        self.assertEqual(r0["submit_to_task"], 25)
        self.assertEqual(r0["tasks"], 2)
        self.assertEqual(r0["span"], 75)
        self.assertEqual(r0["deser"], 29)
        self.assertAlmostEqual(r0["deser_cpu"], 19.0)
        self.assertEqual(r0["run"], 37.5)
        self.assertAlmostEqual(r0["run_cpu"], 27.5)
        self.assertEqual(r2["sql_to_job"], 64)
        self.assertEqual(r2["submit_to_task"], 26)
        self.assertEqual(r2["tasks"], 3)
        self.assertEqual(r2["span"], 60)
        self.assertEqual(r2["deser"], 31)
        self.assertNotIn("list_tasks", r0)

    def test_listing_job_credited_by_trigger_window(self):
        rows = dict((b, r) for b, _, r in batch_phases.batches(EVENTS))
        self.assertEqual(rows[0]["tasks"], 2)
        self.assertEqual(rows[2]["list_tasks"], 3)
        self.assertEqual(rows[2]["list_ms"], 45)
        self.assertEqual(rows[2]["tasks"], 3)
        self.assertEqual(rows[2]["span"], 60)

    def test_medians_and_output(self):
        with tempfile.TemporaryDirectory() as d:
            # a rolling log: the events split over two numbered parts
            log = os.path.join(d, "eventlog_v2_local-1")
            os.makedirs(log)
            for i, part in ((2, EVENTS[8:]), (1, EVENTS[:8])):
                with open(os.path.join(log, f"events_{i}_local-1"), "w") as fh:
                    fh.write("\n".join(json.dumps(e) for e in part) + "\n")
            out = io.StringIO()
            with redirect_stdout(out):
                self.assertEqual(batch_phases.main(["batch_phases.py", d]), 0)
        lines = out.getvalue().splitlines()
        self.assertEqual(lines[0].split("\t")[:6],
                         ["batch", "rows", "latestOffset", "getBatch", "queryPlanning", "addBatch"])
        self.assertEqual(len(lines), 4)
        median = dict(zip(lines[0].split("\t"), lines[-1].split("\t")))
        self.assertEqual(median["batch"], "median")
        self.assertEqual(median["addBatch"], "180")
        self.assertEqual(median["sql_to_job"], "62")
        self.assertEqual(median["tasks"], "2.5")
        self.assertEqual(median["list_tasks"], "3")


if __name__ == "__main__":
    unittest.main()
