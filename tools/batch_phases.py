#!/usr/bin/env python3
"""Per-micro-batch phase breakdown of a streaming run, from its Spark event log.

Usage: python3 tools/batch_phases.py <event log, or a directory of them>

For every non-empty micro-batch (a QueryProgressEvent with input rows) it
prints one row, then the median of every column over those batches:

  latestOffset, getBatch, queryPlanning, addBatch  the progress report's phases
  sql_to_job     driver time from the batch's first SQL execution start to
                 its first job's submission
  submit_to_task time from that job's submission to its first task launch
  tasks, span    the batch's task count, first launch to last finish
  deser, deser_cpu, run, run_cpu
                 per-task executor deserialize and run time, wall and CPU
                 (the median over the batch's tasks)
  list_tasks, list_ms
                 Spark's parallel leaf-file listing jobs in the batch: their
                 tasks, and submission to completion summed over the jobs

A job belongs to the batch whose trigger window (the progress `timestamp`
to `timestamp` + `triggerExecution`) holds its submission. The job's own
`streaming.sql.batchId` property is not used: a job submitted before the
batch sets it, such as the listing `InMemoryFileIndex` runs in `getBatch`
when a batch holds more than
`spark.sql.sources.parallelPartitionDiscovery.threshold` (32) files,
carries the previous batch's id. Listing jobs (job description
"Listing leaf files ...") are kept out of the other task columns.

All times are milliseconds. The log must be uncompressed JSON lines; record
one with
  JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:/tmp/ev
                     -Dspark.eventLog.compress=false"
(the directory must exist). A directory argument reads the newest log in it; a rolling log (a
directory of `events_N_*` parts, Spark's default) is read part by part.
"""
import json
import os
import statistics
import sys
from datetime import datetime, timezone

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch"]
COLUMNS = PHASES + ["sql_to_job", "submit_to_task", "tasks", "span",
                    "deser", "deser_cpu", "run", "run_cpu", "list_tasks", "list_ms"]
LISTING = "Listing leaf files"


def epoch_ms(timestamp):
    """Milliseconds since the epoch of a progress `timestamp` (UTC, ISO 8601)."""
    t = datetime.strptime(timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return round(t.replace(tzinfo=timezone.utc).timestamp() * 1000)


def log_files(path):
    """The files of one application's log: `path` itself, the `events_N_*`
    parts of a rolling log directory in order, or else the newest log in
    a directory of logs."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    parts = sorted((n for n in names if n.startswith("events_")),
                   key=lambda n: int(n.split("_")[1]))
    if parts:
        return [os.path.join(path, n) for n in parts]
    return log_files(max((os.path.join(path, n) for n in names), key=os.path.getmtime))


def read_events(path):
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def batches(events):
    """[(batch id, rows, {column: value})] for the non-empty micro-batches,
    in log order."""
    sql_start = {}       # execution id -> start time
    jobs = {}            # job id -> (query id, submission time, execution id, listing?)
    ends = {}            # job id -> completion time
    stage_job = {}       # stage id -> job id
    tasks = {}           # job id -> [task end event]
    progress = []
    for e in events:
        kind = e.get("Event")
        if kind == SQL_START:
            sql_start[e["executionId"]] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            query = props.get("sql.streaming.queryId")
            if query is None:
                continue
            exec_id = props.get("spark.sql.execution.id")
            listing = (props.get("spark.job.description") or "").startswith(LISTING)
            jobs[e["Job ID"]] = (query, e["Submission Time"],
                                 int(exec_id) if exec_id is not None else None, listing)
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            ends[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            if job is not None:
                tasks.setdefault(job, []).append(e)
        elif kind == PROGRESS:
            progress.append(e["progress"])
    out = []
    for p in progress:
        # the event log carries the input rows per source only
        rows = sum(src.get("numInputRows", 0) for src in p.get("sources", []))
        if rows <= 0:
            continue
        durations = p.get("durationMs", {})
        start = epoch_ms(p["timestamp"])
        end = start + durations["triggerExecution"]
        mine = [j for j, (q, sub, _, _) in jobs.items() if q == p["id"] and start <= sub <= end]
        row = {ph: durations.get(ph) for ph in PHASES}
        listings = [j for j in mine if jobs[j][3]]
        if listings:
            row["list_tasks"] = sum(len(tasks.get(j, [])) for j in listings)
            row["list_ms"] = sum(ends[j] - jobs[j][1] for j in listings if j in ends)
        own = sorted(((jobs[j][1], jobs[j][2], j) for j in mine if not jobs[j][3]),
                     key=lambda t: (t[0], t[2]))
        ts = [t for _, _, j in own for t in tasks.get(j, [])]
        if own:
            sub, ex, first = own[0]
            starts = [sql_start[x] for _, x, _ in own if x in sql_start]
            row["sql_to_job"] = sub - min(starts) if starts else None
            launches = [t["Task Info"]["Launch Time"] for t in ts
                        if stage_job.get(t["Stage ID"]) == first]
            row["submit_to_task"] = min(launches) - sub if launches else None
        if ts:
            info = [t["Task Info"] for t in ts]
            met = [t.get("Task Metrics") or {} for t in ts]
            row["tasks"] = len(ts)
            row["span"] = max(i["Finish Time"] for i in info) - min(i["Launch Time"] for i in info)
            row["deser"] = statistics.median(m.get("Executor Deserialize Time", 0) for m in met)
            row["deser_cpu"] = statistics.median(
                m.get("Executor Deserialize CPU Time", 0) / 1e6 for m in met)
            row["run"] = statistics.median(m.get("Executor Run Time", 0) for m in met)
            row["run_cpu"] = statistics.median(m.get("Executor CPU Time", 0) / 1e6 for m in met)
        out.append((p["batchId"], rows, row))
    return out


def medians(rows):
    """{column: median over the batches that have it}."""
    med = {}
    for c in COLUMNS:
        vals = [r[c] for _, _, r in rows if r.get(c) is not None]
        med[c] = statistics.median(vals) if vals else None
    return med


def fmt(v):
    if v is None:
        return "-"
    return f"{v:.1f}" if isinstance(v, float) and not v.is_integer() else str(int(v))


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    rows = batches(read_events(argv[1]))
    if not rows:
        print("no non-empty micro-batch in the log", file=sys.stderr)
        return 1
    print("\t".join(["batch", "rows"] + COLUMNS))
    for b, n, r in rows:
        print("\t".join([str(b), str(n)] + [fmt(r.get(c)) for c in COLUMNS]))
    med = medians(rows)
    print("\t".join(["median", fmt(statistics.median(n for _, n, _ in rows))]
                    + [fmt(med[c]) for c in COLUMNS]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
