#!/usr/bin/env python3
"""Summarize the CPU samples of a Java Flight Recorder recording.

Usage:
    jfr print --json --events jdk.ExecutionSample rec.jfr > samples.json
    python3 tools/jfrtop.py samples.json [--top N] [--threads CLASS]
                            [--from T] [--to T]

It prints the number of samples per thread class (Spark executor task
threads, the driver's main thread, the AQE / broadcast / subquery pools,
everything else), then the top leaf frames (where the CPU was) and the
top `graft.*` frames (the innermost engine frame of each sample, i.e.
which engine operator paid for it). Shares are of the samples counted.

--threads keeps only one thread class for the frame tables. --from and
--to bound a wall-clock window: either seconds after the first sample
(e.g. `--from 12.5`) or an ISO-8601 instant (e.g.
`--from 2026-01-01T10:00:03Z`), so a window read off a Spark event log
or a trace can be cut out of a whole-run recording.
"""
import argparse
import json
import sys
from collections import Counter
from datetime import datetime, timezone

# (class, predicate on the sampled thread's Java name), first match wins
THREAD_CLASSES = [
    ("executor", lambda n: n.startswith("Executor task launch worker")),
    ("driver-main", lambda n: n == "main"),
    ("aqe/broadcast", lambda n: any(p in n for p in (
        "broadcast-exchange", "QueryStageCreator", "adaptive", "subquery",
        "shuffle-exchange"))),
]
OTHER = "other"


def thread_class(name):
    for cls, match in THREAD_CLASSES:
        if match(name or ""):
            return cls
    return OTHER


def instant(text):
    """Epoch seconds of an ISO-8601 instant with up to nanosecond digits."""
    text = text.replace("Z", "+00:00")
    head, _, rest = text.partition(".")
    if rest:
        digits = "".join(c for c in rest if c.isdigit())
        zone = rest[len(digits):]
        text = f"{head}.{digits[:6]}{zone}"
    t = datetime.fromisoformat(text)
    if t.tzinfo is None:
        t = t.replace(tzinfo=timezone.utc)
    return t.timestamp()


def frame_name(frame):
    """`pkg.Class.method` of one stack frame."""
    method = frame.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "?").replace("/", ".")
    return f"{cls}.{method.get('name', '?')}"


def samples(doc):
    """(time, thread name, frame names leaf first) per execution sample."""
    for e in doc.get("recording", {}).get("events", []):
        if e.get("type") != "jdk.ExecutionSample":
            continue
        v = e.get("values", {})
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
        yield instant(v["startTime"]), thread, frames


def bound(arg, t0):
    if arg is None:
        return None
    return instant(arg) if "T" in arg else t0 + float(arg)


def summarize(doc, threads=None, start=None, end=None):
    """Counts for the report: samples per thread class in the window, and
    leaf and innermost graft.* frames of the samples of `threads` (all
    classes when None)."""
    rows = list(samples(doc))
    t0 = min((t for t, _, _ in rows), default=0.0)
    lo, hi = bound(start, t0), bound(end, t0)
    rows = [r for r in rows if (lo is None or r[0] >= lo) and (hi is None or r[0] <= hi)]
    by_class = Counter(thread_class(name) for _, name, _ in rows)
    leaf, graft = Counter(), Counter()
    kept = 0
    for _, name, frames in rows:
        if threads is not None and thread_class(name) != threads:
            continue
        kept += 1
        if frames:
            leaf[frames[0]] += 1
        inner = next((f for f in frames if f.startswith("graft.")), None)
        if inner is not None:
            graft[inner] += 1
    return {"samples": len(rows), "by_class": by_class, "kept": kept,
            "leaf": leaf, "graft": graft}


def report(s, top, threads, out=sys.stdout):
    def pct(n, base):
        return 100.0 * n / base if base else 0.0
    print(f"samples {s['samples']}", file=out)
    for cls in [c for c, _ in THREAD_CLASSES] + [OTHER]:
        n = s["by_class"].get(cls, 0)
        print(f"  {cls:<14}{n:>8}  {pct(n, s['samples']):5.1f}%", file=out)
    scope = threads or "all threads"
    for title, counts in (("leaf frames", s["leaf"]), ("graft.* frames", s["graft"])):
        print(f"top {title} ({scope}, {s['kept']} samples)", file=out)
        for frame, n in counts.most_common(top):
            print(f"  {n:>8}  {pct(n, s['kept']):5.1f}%  {frame}", file=out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("json", help="output of `jfr print --json --events jdk.ExecutionSample`")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--threads", choices=[c for c, _ in THREAD_CLASSES] + [OTHER])
    ap.add_argument("--from", dest="start", help="window start: seconds after the first sample, or ISO-8601")
    ap.add_argument("--to", dest="end", help="window end: seconds after the first sample, or ISO-8601")
    a = ap.parse_args(argv)
    with open(a.json) as fh:
        doc = json.load(fh)
    report(summarize(doc, a.threads, a.start, a.end), a.top, a.threads)


if __name__ == "__main__":
    main()
