"""Tests for the row-to-commit mapping of the ingest workload.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import sinklog


def _write(log, name, files, mtime_s):
    path = os.path.join(log, name)
    with open(path, "w") as fh:
        fh.write("v1\n")
        for f in files:
            fh.write(json.dumps({"path": "file://" + f, "size": 1, "isDir": False,
                                 "modificationTime": 0, "blockReplication": 1,
                                 "blockSize": 1, "action": "add"}) + "\n")
    os.utime(path, (mtime_s, mtime_s))


class SinkLogTest(unittest.TestCase):
    def test_compacted_batch_keeps_its_own_files(self):
        with tempfile.TemporaryDirectory() as sink:
            log = os.path.join(sink, "_spark_metadata")
            os.makedirs(log)
            files = {b: [f"{sink}/part-{b}-{k}.parquet" for k in range(2)]
                     for b in range(12)}
            for b in range(9):
                _write(log, str(b), files[b], 1000 + b)
            # batch 9 compacts: its log lists batches 0..9, no plain "9"
            _write(log, "9.compact", [f for b in range(10) for f in files[b]], 1009)
            for b in (10, 11):
                _write(log, str(b), files[b], 1000 + b)
            got = sinklog.batches(sink)
            self.assertEqual(sorted(got), list(range(12)))
            for b in range(12):
                self.assertEqual(got[b][1], files[b], f"batch {b}")
                self.assertEqual(got[b][0], (1000 + b) * 10**9)
            rows = sum(len(v[1]) for v in got.values())
            self.assertEqual(rows, 24)

    def test_skipping_compact_files_would_lose_rows(self):
        with tempfile.TemporaryDirectory() as sink:
            log = os.path.join(sink, "_spark_metadata")
            os.makedirs(log)
            _write(log, "0", [f"{sink}/a.parquet"], 1)
            _write(log, "1.compact", [f"{sink}/a.parquet", f"{sink}/b.parquet"], 2)
            got = sinklog.batches(sink)
            self.assertEqual(got[1][1], [f"{sink}/b.parquet"])

    def test_uri_paths_are_decoded(self):
        with tempfile.TemporaryDirectory() as sink:
            log = os.path.join(sink, "_spark_metadata")
            os.makedirs(log)
            _write(log, "0", [f"{sink}/with%20space.parquet"], 1)
            self.assertEqual(sinklog.batches(sink)[0][1], [f"{sink}/with space.parquet"])


if __name__ == "__main__":
    unittest.main()
