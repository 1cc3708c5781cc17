#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

  python3 perfbench/run.py --workload <queries|ingest> --seed <n>
                           --seconds <s> --trace <0|1>

Run from the repository root. It builds the project and the harness
(perfbench/build.py), generates the seed's inputs once (GenData, cached
under the build directory), runs the workload in a fresh JVM, checks the
outputs, and prints one JSON line as the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the trace artifact). See perfbench/README.md.
"""
import argparse
import bisect
import collections
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

# The near-dup family is q37, q38, q39, q48, q50, q51, q55, q78, q84, q90,
# q124 and q131: the registered queries that build persisted dedup hubs.
# The six whose cold runs fit the run time: the prefix-hub jaccard path
# (q37, q48, q124, q131) and the pair and size paths (q50, q51).
NEARDUP = ["q37", "q48", "q50", "q51", "q124", "q131"]
# Every twelfth of the other 144 registered queries, in name order.
CATALOG = ["q01", "q103", "q114", "q126", "q138", "q149", "q18", "q30",
           "q45", "q61", "q73", "q87"]

WORKLOADS = {
    "queries": {"kind": "sweep", "queries": CATALOG + NEARDUP,
                "gen": {"times": "0.1", "dup": "300"}},
    "ingest": {"kind": "ingest", "rate": 20.0, "warmup_s": 10.0,
               "gen": {"times": "1", "tables": "documents", "dup": "300"}},
}
# A fixed heap (-Xms = -Xmx): heap resizing otherwise makes peak RSS
# depend on GC timing more than on the program.
JVM_HEAP = "2g"
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pct(values, p):
    """p-th percentile (inclusive method), p in (0, 100)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def metric(value, unit):
    return {"value": value, "unit": unit}


class Jvm:
    def __init__(self, classes):
        self.cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
        self.tmp = os.path.join(build.build_dir(), "tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def cmd(self, *args):
        opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        return (["java", *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={self.tmp}", "-Dspark.ui.enabled=false",
                 "-cp", self.cp, "perfbench.Harness", *args])


def cpus():
    return len(os.sched_getaffinity(0))


def run_checked(cmd, logfile, timeout):
    with open(logfile, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=lf, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"{cmd[-2:]} timed out; log: {logfile}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise SystemExit(f"harness exited {rc}; log: {logfile}")


def inputs(jvm, workload, seed):
    """The seed's generated tables, made once and cached."""
    gen = WORKLOADS[workload]["gen"]
    key = "-".join(f"{k}{v}" for k, v in sorted(gen.items())).replace(",", "+")
    data = os.path.join(build.build_dir(), "data", f"{key}-seed{seed}")
    if os.path.exists(os.path.join(data, "_COMPLETE")):
        return data
    shutil.rmtree(data, ignore_errors=True)
    work = data + ".gen"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = [f"data={data}", f"seed={seed}", f"work={work}", f"cpus={cpus()}"]
    args += [f"{k}={v}" for k, v in gen.items()]
    t0 = time.time()
    run_checked(jvm.cmd("gen", *args), os.path.join(work, "gen.log"), 600)
    shutil.rmtree(work, ignore_errors=True)
    open(os.path.join(data, "_COMPLETE"), "w").close()
    log(f"generated {os.path.basename(data)} in {time.time() - t0:.1f}s")
    return data


# --- catalog / neardup ------------------------------------------------------

def oracle_hashes(data, out_dir, names):
    """{query: (rows, canonical hash) or None without an oracle}, computed
    with tools/check.py's canonical form and cached per dataset and SQL."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repository's oracle compare
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    cache_file = os.path.join(data, "_oracle.json")
    cache = json.load(open(cache_file)) if os.path.exists(cache_file) else {}
    con = None
    result = {}
    for n in names:
        sql = sqls.get(n)
        if sql is None:
            result[n] = None
            continue
        if cache.get(n, {}).get("sql") != sql:
            if con is None:
                import duckdb
                con = duckdb.connect()
                con.execute("SET threads=2")
                con.execute(f"SET temp_directory='{os.path.join(data, '_duckdb_tmp')}'")
                for t in check.TABLES:
                    p = os.path.join(data, f"{t}.parquet")
                    if os.path.isdir(p):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
            exp = check.canon(con.execute(sql).fetchdf())
            cache[n] = {"sql": sql, "rows": len(exp), "hash": check.h(exp),
                        "columns": list(exp.columns)}
        result[n] = cache[n]
    if con is not None:
        with open(cache_file, "w") as fh:
            json.dump(cache, fh)
    return result


def check_sweep(data, work, names):
    """{query: None if its first-sweep output matches the oracle, else why}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    import pyarrow.parquet as pq
    out = os.path.join(work, "out")
    oracle = oracle_hashes(data, out, names)
    bad = {}
    for n in names:
        files = sorted(glob.glob(os.path.join(out, n, "*.parquet")))
        if not files:
            bad[n] = "no output"
            continue
        got = check.canon(pq.read_table(files).to_pandas())
        exp = oracle[n]
        if exp is None:  # no oracle by design: the row count is checked
            if len(got) == 0:
                bad[n] = "no rows"
        elif list(got.columns) != exp["columns"]:
            bad[n] = f"schema {list(got.columns)} != {exp['columns']}"
        elif len(got) != exp["rows"]:
            bad[n] = f"rows {len(got)} != {exp['rows']}"
        elif check.h(got) != exp["hash"]:
            bad[n] = "hash mismatch"
    return bad


def run_sweep(jvm, wl, data, work, seconds, trace):
    spec = WORKLOADS[wl]
    run_checked(jvm.cmd("sweep", f"data={data}", f"queries={','.join(spec['queries'])}",
                        f"seconds={seconds}", f"work={work}", f"trace={trace}",
                        f"cpus={cpus()}"),
                os.path.join(work, "harness.log"), RUN_TIMEOUT_S)
    h = json.load(open(os.path.join(work, "harness.json")))
    first = {q["name"]: q for q in h["sweeps"][0]["queries"]}
    names = sorted(first)
    bad = check_sweep(data, work, names)
    attempted = failed = 0
    for s in h["sweeps"]:
        for q in s["queries"]:
            attempted += 1
            why = q["err"] or bad.get(q["name"]) or (None if q["same_as_first"] else "differs from first sweep")
            if why:
                failed += 1
                log(f"{q['name']}: {why}")
    walls = [q["wall_s"] * 1e3 for s in h["sweeps"] for q in s["queries"]]
    log("query ms: " + " ".join(f"{q['name'].split('_')[0]}={q['wall_s'] * 1e3:.0f}"
                                for s in h["sweeps"] for q in s["queries"]))
    e2e = {
        "setup_s": metric(h["session_s"] + h["warmup_s"], "s"),
        "peak_rss_mb": metric(h["peak_rss_mb"], "MB"),
        "sweep_s": metric(statistics.median(s["sweep_s"] for s in h["sweeps"]), "s"),
        "latency_p50_ms": metric(statistics.median(walls), "ms"),
        "latency_p90_ms": metric(pct(walls, 90), "ms"),
    }
    layers = sweep_layers(h) if trace else {}
    rows = [dict(q, sweep=i) for i, s in enumerate(h["sweeps"]) for q in s["queries"]]
    return attempted, failed, e2e, layers, h, rows


def sweep_layers(h):
    """Per-layer metrics of a traced sweep run, per sweep."""
    qs = [q for s in h["sweeps"] for q in s["queries"]]
    k = len(h["sweeps"])

    def tot(key):
        return sum(q[key] for q in qs) / k

    m = {
        "queries.build_s": metric(tot("build_s"), "s"),
        "queries.build_jobs": metric(tot("build_jobs"), "count"),
        "queries.plan_s": metric(tot("plan_s"), "s"),
        "queries.exec_s": metric(tot("exec_s"), "s"),
        "core.release_s": metric(tot("release_s"), "s"),
        "core.cached_mb_peak": metric(max(q["cached_mb"] for q in qs), "MB"),
        "engine.jobs": metric(tot("jobs"), "count"),
        "engine.tasks": metric(tot("tasks"), "count"),
        "engine.task_wait_s": metric(tot("task_wait_s"), "s"),
        "engine.outside_jobs_s": metric(tot("outside_jobs_s"), "s"),
        "engine.executor_cpu_s": metric(tot("executor_cpu_s"), "s"),
        "engine.gc_s": metric(tot("gc_s"), "s"),
        "engine.shuffle_read_mb": metric(tot("shuffle_read_mb"), "MB"),
        "engine.shuffle_write_mb": metric(tot("shuffle_write_mb"), "MB"),
        "engine.spill_mb": metric(tot("spill_mb"), "MB"),
        "engine.single_task_stages": metric(tot("single_task_stages"), "count"),
    }
    return with_idle_layers(m)


IDLE = {  # layers a workload does not exercise report zero work
    "spec.compile_ms": "ms", "spec.first_batch_ms": "ms",
    "sources.ack_p50_ms": "ms", "sources.ack_p99_ms": "ms", "sources.rejected": "count",
    "streaming.latest_offset_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.batch_p50_ms": "ms", "streaming.batch_p90_ms": "ms",
    "streaming.backlog_max": "count", "load.late_max_ms": "ms",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.plan_s": "s",
    "queries.exec_s": "s", "core.release_s": "s", "core.cached_mb_peak": "MB",
    "engine.outside_jobs_s": "s",
}


def with_idle_layers(m):
    for name, unit in IDLE.items():
        m.setdefault(name, metric(0.0, unit))
    return m


# --- ingest -----------------------------------------------------------------

def run_ingest(jvm, wl, data, work, seconds, trace):
    import pyarrow.parquet as pq
    import sinklog
    spec = WORKLOADS[wl]
    logfile = open(os.path.join(work, "harness.log"), "ab")
    p = subprocess.Popen(jvm.cmd("ingest", f"data={data}", f"work={work}",
                                 f"trace={trace}", f"cpus={cpus()}"),
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=logfile)
    gen = None
    try:
        port = None
        deadline = time.time() + 120
        while port is None:
            line = p.stdout.readline().decode()
            if not line:
                raise SystemExit("harness ended before it was ready; log: " + logfile.name)
            if line.startswith("READY "):
                port = int(line.split()[1])
            if time.time() > deadline:
                raise SystemExit("harness not ready in time")
        records = os.path.join(work, "loadgen.json")
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"),
                                "--port", str(port), "--bodies", os.path.join(work, "bodies.jsonl"),
                                "--rate", str(spec["rate"]), "--warmup", str(spec["warmup_s"]),
                                "--seconds", str(seconds), "--out", records],
                               stdin=subprocess.DEVNULL, stdout=logfile, stderr=logfile)
        if gen.wait(timeout=spec["warmup_s"] + seconds + 60) != 0:
            raise SystemExit("load generator failed; log: " + logfile.name)
        load = json.load(open(records))
        p.stdin.write(f"DONE {len(load['docs'])}\n".encode())
        p.stdin.flush()
        p.stdin.close()
        rc = p.wait(timeout=RUN_TIMEOUT_S)
        if rc != 0:
            raise SystemExit(f"harness exited {rc}; log: {logfile.name}")
    finally:
        for proc in (gen, p):
            if proc is not None and proc.poll() is None:
                proc.kill()
                proc.wait()
        logfile.close()
    h = json.load(open(os.path.join(work, "harness.json")))
    docs = load["docs"]

    def key_of(row, cols):
        return json.dumps([str(row.get(c)) for c in cols])

    ref = pq.read_table(os.path.join(work, "reference")).to_pylist()
    cols = sorted(c for c in (ref[0].keys() if ref else []) if c != "idx")
    bodies_idx = [json.loads(line)["idx"] for line in open(os.path.join(work, "sent.jsonl"))]
    ref_key = {r["idx"]: key_of(r, cols) for r in ref}
    stream = collections.defaultdict(list)  # key -> commit times
    batches = sinklog.batches(os.path.join(work, "sink"))
    for b, (commit_ns, files) in sorted(batches.items()):
        for f in files:
            for r in pq.read_table(f).to_pylist():
                stream[key_of(r, cols)].append(commit_ns)
    expected = collections.Counter(ref_key.values())
    got = collections.Counter({k: len(v) for k, v in stream.items()})
    missing = sum((expected - got).values())
    extra = sum((got - expected).values())
    # latency: the docs of one output row, in due order, take its commits in order
    queue = {k: sorted(v) for k, v in stream.items()}
    taken = collections.Counter()
    lat = []
    last_commit = None
    for d in docs:
        k = ref_key.get(bodies_idx[d["i"]])
        if k is None:
            continue  # dropped by a filter in the reference too
        if taken[k] < len(queue.get(k, [])):
            commit = queue[k][taken[k]]
            taken[k] += 1
            if not d["warm"]:
                lat.append((commit - d["due_ns"]) / 1e6)
                last_commit = max(last_commit or commit, commit)
    measured = [d for d in docs if not d["warm"]]
    attempted = len(docs)
    failed = missing + extra
    if not h["drained"]:
        log("stream did not drain every sent document")
    if missing or extra:
        log(f"sink vs reference: {missing} missing, {extra} unexpected rows")
    first_due = measured[0]["due_ns"]
    warm_ns = first_due - docs[0]["due_ns"]
    e2e = {
        "setup_s": metric(h["session_s"] + h["index_build_s"] + h["compile_s"] + warm_ns / 1e9, "s"),
        "peak_rss_mb": metric(h["peak_rss_mb"], "MB"),
        "sweep_s": metric((last_commit - first_due) / 1e9 if last_commit else 0.0, "s"),
        "latency_p50_ms": metric(statistics.median(lat) if lat else 0.0, "ms"),
        "latency_p90_ms": metric(pct(lat, 90) if lat else 0.0, "ms"),
    }
    layers = ingest_layers(h, docs, batches, first_due) if trace else {}
    rows = h["batches"]
    return attempted, failed, e2e, layers, dict(h, load=load), rows


def ingest_layers(h, docs, batches, first_due):
    measured = [d for d in docs if not d["warm"]]
    acks = [(d["ack_ns"] - d["sent_ns"]) / 1e6 for d in measured]
    live = [b for b in h["batches"] if b["rows"] > 0 and b["timestamp_ms"] * 1e6 >= first_due]

    def mean(key):
        return statistics.fmean(b["durations_ms"].get(key, 0) for b in live) if live else 0.0

    # backlog: docs acked but not yet committed, just before each commit
    ack_times = sorted(d["ack_ns"] for d in docs if d["status"] == 202)
    rows_by_batch = {b["id"]: b["rows"] for b in h["batches"]}
    backlog, done = 0, 0
    for b, (commit_ns, _) in sorted(batches.items()):
        backlog = max(backlog, bisect.bisect_right(ack_times, commit_ns) - done)
        done += rows_by_batch.get(b, 0)
    m = {
        "spec.compile_ms": metric(h["compile_s"] * 1e3, "ms"),
        "spec.first_batch_ms": metric(float(h["first_batch_ms"] or 0), "ms"),
        "sources.ack_p50_ms": metric(statistics.median(acks), "ms"),
        "sources.ack_p99_ms": metric(pct(acks, 99), "ms"),
        "sources.rejected": metric(sum(1 for d in docs if d["status"] != 202), "count"),
        "streaming.latest_offset_ms": metric(mean("latestOffset"), "ms"),
        "streaming.get_batch_ms": metric(mean("getBatch"), "ms"),
        "streaming.add_batch_ms": metric(mean("addBatch"), "ms"),
        "streaming.commit_ms": metric(mean("commitOffsets"), "ms"),
        "streaming.batches": metric(len(live), "count"),
        "streaming.rows_per_batch_p50": metric(statistics.median(b["rows"] for b in live) if live else 0, "count"),
        "streaming.batch_p50_ms": metric(pct([b["durations_ms"]["triggerExecution"] for b in live], 50) if live else 0, "ms"),
        "streaming.batch_p90_ms": metric(pct([b["durations_ms"]["triggerExecution"] for b in live], 90) if live else 0, "ms"),
        "streaming.backlog_max": metric(backlog, "count"),
        "load.late_max_ms": metric(max((d["sent_ns"] - d["due_ns"]) / 1e6 for d in docs), "ms"),
    }
    eng = h.get("engine") or {}
    for k in ("jobs", "tasks", "single_task_stages"):
        m[f"engine.{k}"] = metric(eng.get(k, 0), "count")
    for k in ("task_wait_s", "executor_cpu_s", "gc_s"):
        m[f"engine.{k}"] = metric(eng.get(k, 0.0), "s")
    for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"engine.{k}"] = metric(eng.get(k, 0.0), "MB")
    return with_idle_layers(m)


# --- tracing ----------------------------------------------------------------

def self_times(spans):
    """Per span name: count, total and self seconds (duration minus the
    part of it that child spans cover)."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        ivs = sorted(kids.get(s["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for a, b in ivs:
            a, b = max(a, s["start_ns"]), min(b, s["end_ns"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        dur = s["end_ns"] - s["start_ns"]
        o = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        o["count"] += 1
        o["total_s"] += dur / 1e9
        o["self_s"] += (dur - covered) / 1e9
    return out


def extra_spans(wl, raw):
    """Spans measured outside the harness: generator requests and batches."""
    spans = []
    if wl != "ingest":
        return spans
    nid = 1 + max([s["id"] for s in raw["spans"]] + [0])
    for d in raw["load"]["docs"]:
        spans.append({"id": nid, "parent": -1, "name": "sources.request", "run": f"doc{d['i']}",
                      "start_ns": d["sent_ns"], "end_ns": d["ack_ns"]})
        nid += 1
    for b in raw["batches"]:
        start = int(b["timestamp_ms"] * 1e6)
        bid = nid
        spans.append({"id": bid, "parent": -1, "name": "streaming.batch", "run": f"batch{b['id']}",
                      "start_ns": start, "end_ns": start + int(b["durations_ms"].get("triggerExecution", 0) * 1e6)})
        nid += 1
        # the trigger's phases run one after another in this order
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            dur = int(b["durations_ms"].get(phase, 0) * 1e6)
            spans.append({"id": nid, "parent": bid, "name": f"streaming.{phase}", "run": f"batch{b['id']}",
                          "start_ns": t, "end_ns": t + dur})
            nid += 1
            t += dur
    return spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so that the finally blocks stop the child processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)
    classes = build.build()
    jvm = Jvm(classes)
    e2e, layers, result = measure(jvm, a.workload, a.seed, a.seconds, a.trace)
    result["metrics"] = layers if a.trace else e2e
    print(json.dumps(result))


def measure(jvm, wl, seed, seconds, trace):
    data = inputs(jvm, wl, seed)
    runs = os.path.join(build.build_dir(), "runs")
    work = os.path.join(runs, f"{wl}-seed{seed}-trace{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runner = run_sweep if WORKLOADS[wl]["kind"] == "sweep" else run_ingest
    attempted, failed, e2e, layers, raw, rows = runner(jvm, wl, data, work, seconds, trace)
    last = os.path.join(build.build_dir(), "last")
    os.makedirs(last, exist_ok=True)
    base_file = os.path.join(last, f"{wl}-seed{seed}-{seconds:g}s.json")
    if trace:
        # the untraced run to compare with: this seed's, else the workload's
        # latest, else one made now
        bases = sorted(glob.glob(os.path.join(last, f"{wl}-seed*-{seconds:g}s.json")),
                       key=os.path.getmtime)
        if not os.path.exists(base_file) and not bases:
            measure(jvm, wl, seed, seconds, 0)
        base = json.load(open(base_file if os.path.exists(base_file) else bases[-1]))
        overhead = {k: e2e[k]["value"] - base[k]["value"] for k in e2e}
        primary = "latency_p50_ms" if wl == "ingest" else "sweep_s"
        layers["trace.overhead_pct"] = metric(
            100.0 * overhead[primary] / base[primary]["value"] if base[primary]["value"] else 0.0, "%")
        spans = raw["spans"] + extra_spans(wl, raw)
        tdir = os.path.join(build.build_dir(), "trace")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{wl}-seed{seed}.json"), "w") as fh:
            json.dump({"workload": wl, "seed": seed, "seconds": seconds,
                       "end_to_end_traced": e2e, "end_to_end_untraced": base,
                       "tracing_overhead": overhead, "per_layer": layers,
                       "self_time": self_times(spans), "rows": rows, "spans": spans}, fh)
    else:
        with open(base_file, "w") as fh:
            json.dump(e2e, fh)
    shutil.rmtree(work, ignore_errors=True)
    return e2e, layers, {"correct": failed == 0, "attempted": attempted, "failed": failed}


if __name__ == "__main__":
    main()
