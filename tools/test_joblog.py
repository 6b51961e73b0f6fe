"""Tests of the event-log summaries in joblog.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import joblog

SQL_START = joblog.SQL_START
SQL_END = joblog.SQL_END


def stage_info(sid, attempt=0, tasks=2, name="", details="", submitted=None):
    si = {"Stage ID": sid, "Stage Attempt ID": attempt, "Number of Tasks": tasks,
          "Stage Name": name, "Details": details}
    if submitted is not None:
        si["Submission Time"] = submitted
    return si


def task(sid, attempt, launch, cpu_ms, inp=0, sh_r=0, sh_w=0):
    return [
        {"Event": "SparkListenerTaskStart", "Stage ID": sid, "Stage Attempt ID": attempt,
         "Task Info": {"Launch Time": launch}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": attempt,
         "Task Metrics": {"Executor CPU Time": cpu_ms * 1000000,
                          "Input Metrics": {"Records Read": inp},
                          "Shuffle Read Metrics": {"Total Records Read": sh_r},
                          "Shuffle Write Metrics": {"Shuffle Records Written": sh_w}}},
    ]


MERGE_SITE = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:10)\n"
              "graft.sources.VersionedTable$.mergeOnce(VersionedTable.scala:700)\n"
              "graft.sources.VersionedTable$.merge(VersionedTable.scala:600)")


def synthetic_log():
    """One SQL execution (id 0) with a sub-execution (id 1) whose job runs
    stage 0 and stage 1, stage 1 retried once; then one RDD job (stage 2)
    outside any SQL execution."""
    evs = [
        {"Event": SQL_START, "executionId": 0, "rootExecutionId": 0,
         "description": "collect at VersionedTable.scala:700", "time": 1000},
        {"Event": SQL_START, "executionId": 1, "rootExecutionId": 0, "description": "sub", "time": 1005},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Properties": {"spark.sql.execution.id": "1"},
         "Stage Infos": [stage_info(0), stage_info(1)]},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": stage_info(0, tasks=2, name="collect at Dataset.scala:10",
                                  details=MERGE_SITE, submitted=1010)},
    ]
    evs += task(0, 0, 1015, 30, inp=100, sh_w=40)
    evs += task(0, 0, 1025, 50, inp=60, sh_w=20)
    evs += [{"Event": "SparkListenerStageSubmitted",
             "Stage Info": stage_info(1, tasks=1, name="count at Foo.scala:3\nmore",
                                      details="org.apache.spark.rdd.RDD.count(RDD.scala:1)",
                                      submitted=1100)}]
    evs += task(1, 0, 1140, 7, sh_r=60)
    evs += [{"Event": "SparkListenerStageSubmitted",
             "Stage Info": stage_info(1, attempt=1, tasks=1, name="count at Foo.scala:3",
                                      details="", submitted=1200)}]
    evs += task(1, 1, 1220, 9, sh_r=60)
    evs += [
        {"Event": SQL_END, "executionId": 1, "time": 1250},
        {"Event": SQL_END, "executionId": 0, "time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {},
         "Stage Infos": [stage_info(2)]},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": stage_info(2, tasks=4, name="listing at Bar.scala:9",
                                  details="graft.sources.Tables$.spread(Tables.scala:42)",
                                  submitted=4000)},
    ]
    evs += task(2, 0, 4002, 5)
    return evs


def shuffled(rdd_id, parent):
    return {"RDD ID": rdd_id, "Name": "ShuffledRowRDD", "Parent IDs": [parent]}


def mapped(rdd_id, parent):
    return {"RDD ID": rdd_id, "Name": "MapPartitionsRDD", "Parent IDs": [parent]}


def recompute_log():
    """Execution 5 writes shuffle A (map-side RDD 10) in stage 20; job 2
    samples the range bounds in stage 22 (reads A, writes nothing); job
    3 runs the same pipeline in stage 24 (reads A, writes the range
    shuffle, map-side RDD 13); stage 25 reads that range shuffle and
    writes nothing, but no other stage reads it; stage 26 names A in
    its lineage but reads no record of it (a persisted copy served it).
    Execution 6 reads A once (stage 30): one reader per execution is no
    recompute."""
    def submit(sid, rdds, tasks=2):
        return {"Event": "SparkListenerStageSubmitted",
                "Stage Info": dict(stage_info(sid, tasks=tasks, submitted=100), **{"RDD Info": rdds})}
    def job(jid, eid, sids):
        return {"Event": "SparkListenerJobStart", "Job ID": jid,
                "Properties": {"spark.sql.execution.id": eid}, "Stage Infos": [stage_info(s) for s in sids]}
    evs = [{"Event": SQL_START, "executionId": 5, "rootExecutionId": 5, "description": "t06", "time": 0},
           job(1, "5", [20]), submit(20, [mapped(10, 9)])]
    evs += task(20, 0, 101, 300, inp=5000, sh_w=299775)
    evs += [job(2, "5", [21, 22]), submit(22, [shuffled(11, 10), mapped(12, 11)])]
    evs += task(22, 0, 102, 1000, sh_r=150000) + task(22, 0, 102, 1016, sh_r=149775)
    evs += [job(3, "5", [23, 24]), submit(24, [shuffled(11, 10), mapped(13, 12)])]
    evs += task(24, 0, 103, 788, sh_r=299775, sh_w=14970)
    evs += [job(4, "5", [25]), submit(25, [shuffled(14, 13)])]
    evs += task(25, 0, 104, 40, sh_r=14970)
    evs += [job(5, "5", [26]), submit(26, [shuffled(11, 10), mapped(15, 11)])]
    evs += task(26, 0, 105, 20, sh_w=7)
    evs += [{"Event": SQL_END, "executionId": 5, "time": 900},
            {"Event": SQL_START, "executionId": 6, "rootExecutionId": 6, "description": "x", "time": 1000},
            job(6, "6", [30]), submit(30, [shuffled(11, 10)])]
    evs += task(30, 0, 1001, 50, sh_r=299775)
    return evs


class JobLog(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.path = os.path.join(self.tmp.name, "events.json")
        with open(self.path, "w") as fh:
            for e in synthetic_log():
                fh.write(json.dumps(e) + "\n")

    def tearDown(self):
        self.tmp.cleanup()

    def cli(self, *args):
        tool = os.path.join(os.path.dirname(os.path.abspath(__file__)), "joblog.py")
        return subprocess.run([sys.executable, tool, self.path, *args],
                              check=True, capture_output=True, text=True).stdout

    def test_per_execution_summary(self):
        rows = {r["execution"]: r for r in joblog.summarize(joblog.events(self.path))}
        self.assertEqual(set(rows), {"0", joblog.NO_EXEC})
        sql = rows["0"]
        self.assertEqual(sql["wall_s"], 2.0)
        self.assertEqual((sql["jobs"], sql["stages"], sql["tasks"]), (1, 3, 4))
        self.assertAlmostEqual(sql["task_cpu_s"], 0.096)
        # submit -> first launch: stage 0 5 ms, stage 1 40 ms then 20 ms
        self.assertEqual((sql["delay_p50_ms"], sql["delay_max_ms"]), (20, 40))
        rdd = rows[joblog.NO_EXEC]
        self.assertEqual((rdd["jobs"], rdd["stages"], rdd["tasks"], rdd["wall_s"]), (1, 1, 1, None))

    def test_stage_rows(self):
        rows = joblog.stage_rows(joblog.events(self.path))
        self.assertEqual([(r["stage"], r["attempt"]) for r in rows], [(0, 0), (1, 0), (1, 1), (2, 0)])
        s0, s1, s1b, s2 = rows
        self.assertEqual((s0["execution"], s0["tasks"], s0["cpu_ms"]), ("0", 2, 80))
        self.assertEqual((s0["input_records"], s0["shuffle_read_records"], s0["shuffle_write_records"]),
                         (160, 0, 60))
        self.assertEqual(s0["call_site"], "graft.sources.VersionedTable$.mergeOnce(VersionedTable.scala:700)")
        # no engine frame: the first line of the stage name
        self.assertEqual(s1["call_site"], "count at Foo.scala:3")
        self.assertEqual((s1["cpu_ms"], s1["shuffle_read_records"]), (7, 60))
        self.assertEqual((s1b["cpu_ms"], s1b["execution"]), (9, "0"))
        self.assertEqual((s2["execution"], s2["tasks"]), (joblog.NO_EXEC, 4))
        self.assertEqual(s2["call_site"], "graft.sources.Tables$.spread(Tables.scala:42)")

    def test_stages_cli(self):
        lines = self.cli("--stages").splitlines()
        self.assertEqual(lines[0].split()[:3], ["stage", "att", "exec"])
        self.assertEqual(len(lines), 5)
        self.assertEqual(lines[1].split()[:8], ["0", "0", "0", "2", "80", "160", "0", "60"])
        top = [json.loads(x) for x in self.cli("--stages", "--json", "--top", "1").splitlines()]
        self.assertEqual([(r["stage"], r["cpu_ms"]) for r in top], [(0, 80)])

    def test_summary_cli_total(self):
        out = [json.loads(x) for x in self.cli("--json").splitlines()]
        self.assertEqual(out[-1]["total"]["stages"], 4)
        self.assertEqual(out[-1]["total"]["jobs"], 2)

    def test_recompute_pairs_the_sampling_stage_with_the_shuffle_write(self):
        path = os.path.join(self.tmp.name, "recompute.json")
        with open(path, "w") as fh:
            for e in recompute_log():
                fh.write(json.dumps(e) + "\n")
        rows = joblog.recompute_rows(joblog.events(path))
        self.assertEqual([(r["execution"], r["stage"], r["other_stage"]) for r in rows], [("5", 22, 24)])
        r = rows[0]
        self.assertEqual((r["cpu_ms"], r["tasks"], r["shuffle_read_records"]), (2016, 2, 299775))
        self.assertEqual((r["other_cpu_ms"], r["other_shuffle_write_records"]), (788, 14970))
        out = subprocess.run([sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                           "joblog.py"), path, "--recompute"],
                             check=True, capture_output=True, text=True).stdout.splitlines()
        self.assertEqual(out[1].split()[:8], ["5", "22", "2", "2016", "299775", "24", "788", "14970"])


if __name__ == "__main__":
    unittest.main()
