"""Tests of the JFR execution-sample summary in jfrtop.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest

import jfrtop


def frame(cls, method):
    return {"method": {"type": {"name": cls.replace(".", "/")}, "name": method,
                       "descriptor": "()V"}, "lineNumber": 1, "type": "JIT compiled"}


def sample(second, thread, *frames):
    """One jdk.ExecutionSample at 10:00:<second> UTC, frames leaf first."""
    return {"type": "jdk.ExecutionSample", "values": {
        "startTime": f"2026-01-01T10:00:{second:02d}.123456789Z",
        "sampledThread": {"javaName": thread},
        "stackTrace": {"truncated": False, "frames": [frame(*f) for f in frames]},
        "state": "STATE_RUNNABLE"}}


EXEC = "Executor task launch worker for task 3.0 in stage 7.0 (TID 41)"
PROBE = ("org.apache.spark.unsafe.array.ByteArrayMethods", "arrayEquals")
KERNEL = ("graft.queries.Graph$", "$anonfun$buildCoTradingEdges$1")
QUERY = ("graft.queries.Graph$", "g03")

DOC = {"recording": {"events": [
    sample(0, EXEC, PROBE, ("org.apache.spark.unsafe.map.BytesToBytesMap", "safeLookup"), QUERY),
    sample(1, EXEC, PROBE, KERNEL, QUERY),
    sample(2, EXEC, ("java.util.Arrays", "binarySearch"), KERNEL, QUERY),
    sample(3, "main", ("java.lang.Object", "wait"), QUERY),
    sample(4, "broadcast-exchange-0", ("java.io.ObjectOutputStream", "writeObject")),
    sample(5, "QueryStageCreator-3", ("java.lang.Thread", "run")),
    sample(6, "C2 CompilerThread0"),
    {"type": "jdk.ThreadPark", "values": {"startTime": "2026-01-01T10:00:00Z"}},
]}}


class JfrTopTest(unittest.TestCase):
    def test_thread_classes(self):
        s = jfrtop.summarize(DOC)
        self.assertEqual(s["samples"], 7)
        self.assertEqual(dict(s["by_class"]),
                         {"executor": 3, "driver-main": 1, "aqe/broadcast": 2, "other": 1})

    def test_leaf_and_innermost_graft_frames(self):
        s = jfrtop.summarize(DOC, threads="executor")
        self.assertEqual(s["kept"], 3)
        self.assertEqual(s["leaf"].most_common(1),
                         [("org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals", 2)])
        # the innermost engine frame names the kernel, not the query above it
        self.assertEqual(dict(s["graft"]), {
            "graft.queries.Graph$.$anonfun$buildCoTradingEdges$1": 2,
            "graft.queries.Graph$.g03": 1})

    def test_window_relative_and_absolute(self):
        rel = jfrtop.summarize(DOC, start="1", end="3")
        absolute = jfrtop.summarize(DOC, start="2026-01-01T10:00:01.0Z",
                                    end="2026-01-01T10:00:03.999Z")
        self.assertEqual(rel["samples"], 3)
        self.assertEqual(absolute["samples"], 3)
        self.assertEqual(rel["by_class"], absolute["by_class"])

    def test_nanosecond_instants(self):
        self.assertAlmostEqual(jfrtop.instant("2026-01-01T10:00:01.123456789Z")
                               - jfrtop.instant("2026-01-01T10:00:00Z"), 1.123456, places=5)

    def test_command_line_report(self):
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "samples.json")
            with open(path, "w") as fh:
                json.dump(DOC, fh)
            here = os.path.dirname(os.path.abspath(__file__))
            out = subprocess.run([sys.executable, os.path.join(here, "jfrtop.py"), path,
                                  "--threads", "executor", "--top", "1"],
                                 check=True, capture_output=True, text=True).stdout
        self.assertIn("samples 7", out)
        self.assertIn("executor             3   42.9%", out)
        self.assertIn("top leaf frames (executor, 3 samples)", out)
        self.assertIn("66.7%  org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals", out)
        self.assertNotIn("java.util.Arrays.binarySearch", out)


if __name__ == "__main__":
    unittest.main()
