"""Reads a Structured Streaming file sink's metadata log.

The parquet sink commits micro-batch N by writing `_spark_metadata/N`, a
`v1` header followed by one JSON line per data file the batch wrote. Every
compaction interval (10 batches by default) the batch's entry is instead
`N.compact`, which lists the files of every batch up to and including N.
A batch's files are therefore the entries of its own log file that no
earlier batch listed; skipping the `.compact` entries would silently lose
every compacting batch's rows.
"""
import json
import os
import re
from urllib.parse import unquote, urlparse

_ENTRY = re.compile(r"(\d+)(\.compact)?")


def _paths(log_file):
    with open(log_file, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    if not lines or not lines[0].startswith("v"):
        raise ValueError(f"not a sink log file: {log_file}")
    out = []
    for line in lines[1:]:
        if line.strip():
            path = json.loads(line)["path"]
            out.append(unquote(urlparse(path).path) if path.startswith("file:") else path)
    return out


def batches(sink_dir):
    """{batch id: (commit time in epoch ns, [data files the batch wrote])}.

    The commit time is the modification time of the batch's log file, the
    moment its rows became visible to readers of the sink."""
    log = os.path.join(sink_dir, "_spark_metadata")
    found = {}
    for name in os.listdir(log):
        m = _ENTRY.fullmatch(name)
        if m:
            path = os.path.join(log, name)
            found[int(m.group(1))] = (os.stat(path).st_mtime_ns, _paths(path))
    seen = set()
    out = {}
    for b in sorted(found):
        mtime, paths = found[b]
        new = [p for p in paths if p not in seen]
        seen.update(new)
        out[b] = (mtime, new)
    return out
