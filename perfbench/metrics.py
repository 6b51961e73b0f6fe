"""Turns the harness's raw run record into the benchmark's metrics.

Kept apart from run.py so the rules (tail percentile, self time,
driver-only time) are plain functions the self-tests exercise directly.
Times in the raw record are epoch milliseconds; metrics are seconds.
"""
import math
import statistics

FAMILIES = ["a", "d", "g", "s", "t", "x", "e", "v"]

STREAM_PARTS = ["queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets"]

LAYER_SPANS = {
    "sources.xlsx.read_s": "sources.xlsx.read",
    "sources.pdf.read_s": "sources.pdf.read",
    "plans.fact_pipeline_s": "plans.fact_pipeline",
    "plans.notes_enrichment_s": "plans.notes_enrichment",
    "plans.calk_parser_s": "plans.calk_parser",
    "versioned.read_s": "versioned.read",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values):
    """Latency at the highest whole percentile with at least ten samples
    beyond it, as (value, percentile, n). With ten samples or fewer no
    percentile qualifies and the maximum is reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n <= 10:
        return xs[-1], 100, n
    p = (100 * (n - 10)) // n
    rank = max(1, math.ceil(p * n / 100))
    return xs[rank - 1], p, n


def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval its children cover. spans: [id, parent, name, start, end]."""
    kids = {}
    for sid, parent, _, s, e in spans:
        kids.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - union_ms(kids.get(sid, []), s, e)
            for sid, _, _, s, e in spans}


def driver_only_ms(op_start, op_end, task_intervals):
    """Op wall minus the time during which any task ran."""
    return (op_end - op_start) - union_ms(task_intervals, op_start, op_end)


def end_to_end(raw):
    ops = raw["ops"]
    lat = [(o["end"] - o["start"]) / 1000.0 for o in ops]
    t, p, n = tail(lat)
    return {
        "setup_s": raw["setup_s"],
        "wall_s": median(raw["pass_wall_s"]),
        "cpu_s": median(raw["pass_cpu_s"]),
        "op_p50_s": median(lat),
        "op_tail_s": t,
        "retained_heap_mb": raw["retained_heap_bytes"] / 1e6,
        "stored_mb": raw["stored_bytes"] / 1e6,
    }, {"op_tail_percentile": p, "op_n": n}


def per_layer(raw):
    """Per-layer metrics of a traced run: each is the median over the ops
    that call the layer (0 where the workload bypasses it), except the
    merge latencies, taken over merge calls, and the table counters."""
    tr = raw["trace_data"]
    spans = tr["spans"]
    by_id = {s[0]: s for s in spans}
    selfs = self_times(spans)

    op_spans = [s for s in spans if s[2].startswith("op:")]
    jobs_by_span = {}
    unattributed = []
    for job_id, span, submit, stages in tr["jobs"]:
        # a thread the program created inherits the span that was open when
        # it started; a job it submits after that span closed is not the
        # span's work
        if span in by_id and by_id[span][3] - 1 <= submit <= by_id[span][4] + 1:
            jobs_by_span.setdefault(span, []).append((job_id, submit, stages))
        else:
            unattributed.append((job_id, submit, stages))
    tasks_by_stage = {}
    for t in tr["tasks"]:
        tasks_by_stage.setdefault(t[0], []).append(t)

    def tasks_of(sids, lo, hi):
        """Tasks launched in [lo, hi] by stages of the spans' jobs; a stage
        a later job lists again (skipped, its shuffle reused) counts once."""
        sts = {st for sid in sids for _, _, stages in jobs_by_span.get(sid, []) for st in stages}
        return [t for st in sts for t in tasks_by_stage.get(st, []) if lo <= t[1] <= hi]

    children = {}
    for s in spans:
        children.setdefault(s[1], []).append(s)
    counters = {}
    for sid, key, val in tr["counters"]:
        counters.setdefault((sid, key), 0.0)
        counters[(sid, key)] += val

    per_op = []
    merges, noop_merge = [], []
    for op in op_spans:
        sid, _, name, s, e = op
        subtree = [sid] + [c[0] for c in children.get(sid, [])]
        layer = {}
        for c in children.get(sid, []):
            layer[c[2]] = layer.get(c[2], 0.0) + (c[4] - c[3]) / 1000.0
        tasks = tasks_of(subtree, s, e)
        own_jobs = [j for x in subtree for j in jobs_by_span.get(x, [])]
        stages = {t[0] for t in tasks}
        un_jobs = [j for j in unattributed if s <= j[1] <= e]
        un_tasks = [t for st in {st for _, _, sts in un_jobs for st in sts}
                    for t in tasks_by_stage.get(st, []) if s <= t[1] <= e]
        all_tasks = [t for st_tasks in tasks_by_stage.values() for t in st_tasks
                     if t[2] >= s and t[1] <= e]
        src = [c[0] for c in children.get(sid, []) if c[2].startswith("sources.")]
        src_tasks = tasks_of(src, s, e)
        src_cpu = sum(t[3] for t in src_tasks) / 1e9
        batch_mb = raw.get("batch_bytes", {}).get(name[3:], 0) / 1e6
        progress = [b for b in tr["progress"] if s <= b["ts"] <= e]
        for c in children.get(sid, []):
            if c[2] == "versioned.merge":
                d = (c[4] - c[3]) / 1000.0
                if name == "op:resubmit":
                    noop_merge.append(d)
                else:
                    n_jobs = len(jobs_by_span.get(c[0], [])) + \
                        len([j for j in unattributed if c[3] <= j[1] <= c[4]])
                    merges.append((d, n_jobs))
        rows = counters.get((sid, "merge_rows"), 0.0)
        worst = None
        for st in stages:
            ts = [t for t in tasks if t[0] == st]
            span_ms = max(t[2] for t in ts) - min(t[1] for t in ts)
            if worst is None or span_ms > worst[0]:
                durs = [max(1, t[2] - t[1]) for t in ts]
                worst = (span_ms, max(durs) / statistics.median(durs))
        plan_ms = sum(d for st, d in tr["plans"] if s <= st <= e)
        per_op.append({
            "name": name[3:],
            "family": name[3:4],
            "wall_s": (e - s) / 1000.0,
            "self": layer,
            "glue_s": selfs[sid] / 1000.0,
            "src_rows": sum(counters.get((c, "rows"), 0.0) for c in src),
            "src_tasks": len(src_tasks),
            "src_mb_per_cpu_s": batch_mb / src_cpu if src_cpu > 0 else 0.0,
            "merge_bytes_per_row": counters.get((sid, "merge_bytes"), 0.0) / rows if rows else None,
            "queries_s": sum(v for k, v in layer.items() if k.startswith("queries.")),
            "cpu_s": sum(t[3] for t in tasks) / 1e9,
            "run_s": sum(t[4] for t in tasks) / 1000.0,
            "gc_s": sum(t[5] for t in tasks) / 1000.0,
            "shuffle_write_mb": sum(t[6] for t in tasks) / 1e6,
            "shuffle_read_mb": sum(t[7] for t in tasks) / 1e6,
            "spill_mb": sum(t[8] for t in tasks) / 1e6,
            "input_mb": sum(t[9] for t in tasks) / 1e6,
            "jobs": len(own_jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "unattributed_jobs": len(un_jobs),
            "unattributed_task_s": sum(t[4] for t in un_tasks) / 1000.0,
            "driver_only_s": driver_only_ms(s, e, [(t[1], t[2]) for t in all_tasks]) / 1000.0,
            "plan_s": plan_ms / 1000.0,
            "skew": worst[1] if worst else 0.0,
            "stream_batches": len(progress),
            "stream": {k: sum(b.get(k, 0) for b in progress) / 1000.0
                       for k in STREAM_PARTS + ["triggerExecution"]},
        })

    def med(key, pred=lambda o: True):
        return median([o[key] for o in per_op if pred(o) and o[key] is not None])

    m = {
        "session.build_s": raw["session_build_s"],
        "session.warmup_s": raw["session_warmup_s"],
        "trace.wall_s": median(raw["pass_wall_s"]),
        "trace.glue_self_s": med("glue_s"),
    }
    for metric, span in LAYER_SPANS.items():
        m[metric] = median([o["self"][span] for o in per_op if span in o["self"]])
    is_batch = lambda o: "sources.xlsx.read" in o["self"]
    m["sources.parse_mb_per_cpu_s"] = med("src_mb_per_cpu_s", is_batch)
    m["sources.rows_out"] = med("src_rows", is_batch)
    m["sources.parse_tasks"] = med("src_tasks", is_batch)
    m["plans.notes_linked_frac"] = raw.get("notes_linked_frac", 0.0)
    mt, _, _ = tail([d for d, _ in merges])
    m["versioned.merge_p50_s"] = median([d for d, _ in merges])
    m["versioned.merge_tail_s"] = mt
    m["versioned.noop_merge_s"] = median(noop_merge)
    m["versioned.jobs_per_merge"] = median([j for _, j in merges])
    m["versioned.bytes_written_per_row"] = med("merge_bytes_per_row", is_batch)
    m["versioned.files"] = sum(v for (sid, k), v in counters.items() if k == "versioned.files")
    streaming = [o for o in per_op if o["stream_batches"] > 0]
    m["streaming.batches"] = median([o["stream_batches"] for o in streaming])
    m["streaming.trigger_s"] = median([o["stream"]["triggerExecution"] for o in streaming])
    for part in STREAM_PARTS:
        m[f"streaming.{part}_s"] = median([o["stream"][part] for o in streaming])
    for f in FAMILIES:
        fam = lambda o, f=f: o["queries_s"] > 0 and o["family"] == f
        m[f"queries.{f}.wall_s"] = med("queries_s", fam)
        m[f"queries.{f}.cpu_s"] = med("cpu_s", fam)
        m[f"queries.{f}.stages"] = med("stages", fam)
    for key in ["plan_s", "driver_only_s", "jobs", "stages", "tasks", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
                "unattributed_jobs", "unattributed_task_s"]:
        m[f"spark.{key}"] = med(key)
    m["spark.task_cpu_s"] = med("cpu_s")
    m["spark.task_run_s"] = med("run_s")
    m["spark.task_skew"] = med("skew")
    return m, per_op
