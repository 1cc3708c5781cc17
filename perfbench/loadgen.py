#!/usr/bin/env python3
"""Open-loop load generator for the ingest workload.

Posts documents (one JSON object per line of --bodies, field "text") to
http://127.0.0.1:<port>/post at a fixed rate over one keep-alive connection.
Document i is due at start + i / rate whether or not earlier requests have
been answered; a slow ack therefore delays later sends, and that delay is
charged to them because latency is measured from the due time. The first
--warmup seconds of documents are the warm-up window.

Writes one JSON record to --out: the start time and, per document, its due,
send and ack times (epoch ns) and HTTP status (0 when the request failed).
"""
import argparse
import http.client
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--bodies", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--warmup", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(a.bodies, encoding="utf-8") as fh:
        bodies = [json.loads(line)["text"].encode("utf-8") for line in fh if line.strip()]
    n_warm = int(a.warmup * a.rate)
    n = min(len(bodies), n_warm + int(a.seconds * a.rate))
    if n <= n_warm:
        raise SystemExit(f"loadgen: {len(bodies)} bodies cannot fill the window")
    conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
    docs = []
    start = time.time_ns() + 50_000_000
    step = 1e9 / a.rate
    for i in range(n):
        due = start + int(i * step)
        delay = (due - time.time_ns()) / 1e9
        if delay > 0:
            time.sleep(delay)
        sent = time.time_ns()
        try:
            conn.request("POST", "/post", body=bodies[i],
                         headers={"Content-Type": "text/plain"})
            resp = conn.getresponse()
            resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException):
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
            status = 0
        docs.append({"i": i, "warm": i < n_warm, "due_ns": due, "sent_ns": sent,
                     "ack_ns": time.time_ns(), "status": status})
    conn.close()
    with open(a.out, "w") as fh:
        json.dump({"start_ns": start, "rate": a.rate, "docs": docs}, fh)


if __name__ == "__main__":
    main()
