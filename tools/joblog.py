#!/usr/bin/env python3
"""Summarize a Spark event log per SQL execution.

Usage: python3 tools/joblog.py <event log> [--stages | --recompute] [--json] [--top N]

The log is Spark's JSON-lines event log (spark.eventLog.enabled=true);
a `.zstd`/`.zst` file is read through `zstd -dc`. For every root SQL
execution (sub-executions such as AQE broadcasts fold into their root)
it prints: wall, jobs, submitted stages, tasks, summed task CPU, and the
delay from a stage's submission to its first task launch (median and
max over the execution's stages). Jobs outside any SQL execution
(RDD actions, listing jobs) are summed on their own line. Each stage
attempt counts once; stages a job skipped are not counted.

With --stages it prints one line per submitted stage attempt instead:
stage id, attempt, root execution, tasks, executor CPU ms, input
records, shuffle read and write records, and the first `graft` frame of
the stage's call site (the stage name when no frame names the engine).
This attributes a query's cost to the operators that paid it.

With --recompute it lists, per root execution, each stage that reads
records of a shuffle another stage of the same execution also reads
records of, and writes no shuffle output itself: the pipeline after that shuffle ran twice. The
common cause is a range-partitioned exchange (a global orderBy) whose
bounds-sampling job runs the post-shuffle pipeline once to sample it,
then again to write the range shuffle. A shuffle is identified by the
map-side RDD its shuffled RDD reads (the shuffled RDD's parent id), so
stages of different jobs that read one shuffle are matched; a stage
whose lineage names the shuffle but reads no records of it (it was
served from a persisted copy) is not a reader. One line
per (recomputing stage, other reader): both stages' CPU ms, the shuffle
records the recomputing stage read and the other stage's shuffle write.
"""
import argparse
import json
import statistics
import subprocess
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
NO_EXEC = "-"


def events(path):
    if path.endswith((".zstd", ".zst")):
        text = subprocess.run(["zstd", "-dc", path], check=True, capture_output=True).stdout.decode()
    else:
        with open(path) as fh:
            text = fh.read()
    for line in text.splitlines():
        if line.strip():
            yield json.loads(line)


def scan(evs):
    """One pass over the log: SQL executions, job and stage ownership,
    and per-stage-attempt task totals."""
    execs = {}                      # root execution id -> description, start, end
    root_of = {}                    # execution id -> root execution id
    stage_exec = {}                 # stage id (every attempt) -> root execution id
    job_exec = {}                   # job id -> root execution id
    submitted = {}                  # (stage, attempt) -> submission ms
    first_launch = {}               # (stage, attempt) -> first task launch ms
    info = {}                       # (stage, attempt) -> declared tasks, call site
    tasks = defaultdict(int)        # (stage, attempt) -> finished tasks
    cpu_ns = defaultdict(int)       # (stage, attempt) -> summed executor CPU
    records = defaultdict(lambda: [0, 0, 0])  # (stage, attempt) -> input, shuffle read, shuffle write
    reads = {}                      # (stage, attempt) -> map-side RDD ids of the shuffles it reads
    for e in evs:
        kind = e.get("Event")
        if kind == SQL_START:
            eid = str(e["executionId"])
            root = str(e.get("rootExecutionId", eid))
            root_of[eid] = root
            if root == eid:
                execs[eid] = {"description": e.get("description", ""), "start": e["time"], "end": None}
        elif kind == SQL_END:
            eid = str(e["executionId"])
            if eid in execs:
                execs[eid]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
            root = root_of.get(eid, eid) if eid is not None else NO_EXEC
            job_exec[e["Job ID"]] = root
            for si in e.get("Stage Infos", []):
                stage_exec.setdefault(si["Stage ID"], root)
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            submitted[key] = si.get("Submission Time")
            info[key] = (si.get("Number of Tasks", 0), si.get("Stage Name", ""), si.get("Details", ""))
            reads[key] = {p for r in si.get("RDD Info", []) if "Shuffled" in r.get("Name", "")
                          for p in r.get("Parent IDs", [])}
        elif kind == "SparkListenerTaskStart":
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            t = e["Task Info"]["Launch Time"]
            first_launch[key] = min(first_launch.get(key, t), t)
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            tasks[key] += 1
            m = e.get("Task Metrics") or {}
            cpu_ns[key] += m.get("Executor CPU Time", 0)
            r = records[key]
            r[0] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            r[1] += (m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0)
            r[2] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Records Written", 0)
    return dict(execs=execs, stage_exec=stage_exec, job_exec=job_exec, submitted=submitted,
                first_launch=first_launch, info=info, tasks=tasks, cpu_ns=cpu_ns, records=records,
                reads=reads)


def summarize(evs):
    st = scan(evs)
    execs, stage_exec, submitted = st["execs"], st["stage_exec"], st["submitted"]
    first_launch, tasks, cpu_ns = st["first_launch"], st["tasks"], st["cpu_ns"]
    rows = defaultdict(lambda: {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0, "delays_ms": []})
    for job, root in st["job_exec"].items():
        rows[root]["jobs"] += 1
    for key, sub in submitted.items():
        r = rows[stage_exec.get(key[0], NO_EXEC)]
        r["stages"] += 1
        r["tasks"] += tasks[key]
        r["task_cpu_s"] += cpu_ns[key] / 1e9
        if sub is not None and key in first_launch:
            r["delays_ms"].append(first_launch[key] - sub)
    out = []
    for root, r in rows.items():
        ex = execs.get(root, {})
        start, end = ex.get("start"), ex.get("end")
        d = r.pop("delays_ms")
        out.append(dict(
            execution=root, description=ex.get("description", "(no SQL execution)")[:60],
            wall_s=(end - start) / 1000 if start is not None and end is not None else None,
            task_cpu_s=round(r.pop("task_cpu_s"), 3), **r,
            delay_p50_ms=statistics.median(d) if d else None, delay_max_ms=max(d) if d else None))
    out.sort(key=lambda x: (x["execution"] == NO_EXEC, int(x["execution"]) if x["execution"].isdigit() else 0))
    return out


def call_site(name, details):
    """The first call-site frame that names the engine, else the stage name."""
    frame = next((ln for ln in details.splitlines() if "graft" in ln), None)
    return (frame or name.split("\n")[0]).strip()[:100]


def stage_rows(evs):
    st = scan(evs)
    out = []
    for key in sorted(st["submitted"]):
        n_tasks, name, details = st["info"][key]
        inp, sh_r, sh_w = st["records"][key]
        out.append(dict(stage=key[0], attempt=key[1], execution=st["stage_exec"].get(key[0], NO_EXEC),
                        tasks=n_tasks, cpu_ms=st["cpu_ns"][key] // 1000000, input_records=inp,
                        shuffle_read_records=sh_r, shuffle_write_records=sh_w,
                        call_site=call_site(name, details)))
    return out


def recompute_rows(evs):
    """Stages that re-run a pipeline another stage of their execution
    runs off the same shuffle, paired with each such other stage."""
    st = scan(evs)
    stages = defaultdict(lambda: {"cpu_ms": 0, "tasks": 0, "shuffle_read_records": 0,
                                  "shuffle_write_records": 0, "reads": set(), "call_site": ""})
    for key in sorted(st["submitted"]):
        r = stages[key[0]]
        n_tasks, name, details = st["info"][key]
        _, sh_r, sh_w = st["records"][key]
        r["cpu_ms"] += st["cpu_ns"][key] // 1000000
        r["tasks"] += n_tasks
        r["shuffle_read_records"] += sh_r
        r["shuffle_write_records"] += sh_w
        r["reads"] |= st["reads"][key]
        r["call_site"] = r["call_site"] or call_site(name, details)
    by_exec = defaultdict(list)
    for sid in sorted(stages):
        by_exec[st["stage_exec"].get(sid, NO_EXEC)].append(sid)
    out = []
    for ex, sids in by_exec.items():
        for sid in sids:
            r = stages[sid]
            if r["shuffle_write_records"] or not r["shuffle_read_records"]:
                continue
            for other in sids:
                o = stages[other]
                if other != sid and o["shuffle_read_records"] and r["reads"] & o["reads"]:
                    out.append(dict(execution=ex, stage=sid, cpu_ms=r["cpu_ms"], tasks=r["tasks"],
                                    shuffle_read_records=r["shuffle_read_records"],
                                    other_stage=other, other_cpu_ms=o["cpu_ms"],
                                    other_shuffle_write_records=o["shuffle_write_records"],
                                    call_site=r["call_site"]))
    return out


def print_recompute(rows, as_json):
    if as_json:
        for r in rows:
            print(json.dumps(r))
        return
    fmt = "{:>5} {:>5} {:>6} {:>8} {:>10}  {:>5} {:>8} {:>10}  {}"
    print(fmt.format("exec", "stage", "tasks", "cpu_ms", "sh_r_rec", "other", "o_cpu_ms", "o_sh_w_rec",
                     "call site"))
    for r in rows:
        print(fmt.format(r["execution"], r["stage"], r["tasks"], r["cpu_ms"], r["shuffle_read_records"],
                         r["other_stage"], r["other_cpu_ms"], r["other_shuffle_write_records"],
                         r["call_site"]))


def print_stages(rows, as_json):
    if as_json:
        for r in rows:
            print(json.dumps(r))
        return
    fmt = "{:>5} {:>3} {:>5} {:>6} {:>8} {:>10} {:>10} {:>10}  {}"
    print(fmt.format("stage", "att", "exec", "tasks", "cpu_ms", "in_rec", "sh_r_rec", "sh_w_rec", "call site"))
    for r in rows:
        print(fmt.format(r["stage"], r["attempt"], r["execution"], r["tasks"], r["cpu_ms"],
                         r["input_records"], r["shuffle_read_records"], r["shuffle_write_records"],
                         r["call_site"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--json", action="store_true", help="one JSON object per execution")
    ap.add_argument("--top", type=int, default=0,
                    help="only the N executions with the most jobs (with --stages: the N stages with the most CPU)")
    ap.add_argument("--stages", action="store_true", help="one line per stage attempt")
    ap.add_argument("--recompute", action="store_true",
                    help="stages that re-run a pipeline another stage of their execution runs off one shuffle")
    a = ap.parse_args()
    if a.recompute:
        print_recompute(recompute_rows(events(a.log)), a.json)
        return
    if a.stages:
        rows = stage_rows(events(a.log))
        if a.top:
            rows = sorted(rows, key=lambda r: -r["cpu_ms"])[:a.top]
        print_stages(rows, a.json)
        return
    rows = summarize(events(a.log))
    total = {k: sum(r[k] for r in rows) for k in ("jobs", "stages", "tasks", "task_cpu_s")}
    delays = [r["delay_p50_ms"] for r in rows if r["delay_p50_ms"] is not None]
    if a.top:
        rows = sorted(rows, key=lambda r: -r["jobs"])[:a.top]
    if a.json:
        for r in rows:
            print(json.dumps(r))
        print(json.dumps({"total": total}))
        return
    fmt = "{:>5} {:>7} {:>5} {:>6} {:>6} {:>8} {:>9} {:>9}  {}"
    print(fmt.format("exec", "wall_s", "jobs", "stages", "tasks", "cpu_s", "delay_p50", "delay_max", "description"))
    for r in rows:
        print(fmt.format(r["execution"], "-" if r["wall_s"] is None else f"{r['wall_s']:.2f}",
                         r["jobs"], r["stages"], r["tasks"], f"{r['task_cpu_s']:.2f}",
                         "-" if r["delay_p50_ms"] is None else f"{r['delay_p50_ms']:.0f}ms",
                         "-" if r["delay_max_ms"] is None else f"{r['delay_max_ms']:.0f}ms",
                         r["description"]))
    print(f"total: {total['jobs']} jobs, {total['stages']} stages, {total['tasks']} tasks, "
          f"{total['task_cpu_s']:.2f} s task CPU, {len(rows)} executions shown"
          + (f", median of per-execution delay medians {statistics.median(delays):.0f} ms" if delays else ""),
          file=sys.stdout)


if __name__ == "__main__":
    main()
