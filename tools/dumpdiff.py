#!/usr/bin/env python3
"""Compare two graft.Verify output dirs, e.g. a parent tree's and a change's.

Usage: python3 tools/dumpdiff.py <dumpA> <dumpB>

Checks, in order:
  * every query result dir (<dump>/<name>/*.parquet): same column names
    and types, and the same rows as a MULTISET (DuckDB EXCEPT ALL both
    ways), so a change in row order alone is not a difference;
  * oracle_sql.json, key by key, after mapping each dump's own
    fixture dir (<dump>_fixtures) back to __FIXTURES__ and the engine's
    per-JVM scratch root (/tmp/graft_scratch_<random>, which v11's
    oracle names) to one placeholder;
  * _errors.json;
  * every table in the sibling <dump>_fixtures dir: parquet tables as
    multisets like the results, any other files (csv_raw) as multisets
    of text lines.

Prints one line per difference and a summary; exits 1 if anything
differs, 0 if the dumps are identical.
"""
import glob
import json
import os
import re
import sys
from collections import Counter

import duckdb


def _quote(name):
    return '"' + name.replace('"', '""') + '"'


def _relation(files):
    return f"read_parquet({sorted(files)!r})"


def _schema(con, rel):
    return con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()


def compare_parquet(con, files_a, files_b):
    """None if the two parquet file sets hold the same typed columns and
    the same multiset of rows, else a short reason."""
    if not files_a or not files_b:
        if not files_a and not files_b:
            return None
        return "no parquet files in " + ("A" if not files_a else "B")
    ra, rb = _relation(files_a), _relation(files_b)
    sa = sorted((c[0], c[1]) for c in _schema(con, ra))
    sb = sorted((c[0], c[1]) for c in _schema(con, rb))
    if sa != sb:
        return f"schema {sa} != {sb}"
    cols = ", ".join(_quote(c) for c, _ in sa)
    na = con.execute(f"SELECT count(*) FROM {ra}").fetchone()[0]
    nb = con.execute(f"SELECT count(*) FROM {rb}").fetchone()[0]
    only_a = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {ra} "
        f"EXCEPT ALL SELECT {cols} FROM {rb})").fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {rb} "
        f"EXCEPT ALL SELECT {cols} FROM {ra})").fetchone()[0]
    if na != nb or only_a or only_b:
        return f"rows {na} vs {nb}; {only_a} only in A, {only_b} only in B"
    return None


def _subdirs(path):
    if not os.path.isdir(path):
        return set()
    return {d for d in os.listdir(path)
            if os.path.isdir(os.path.join(path, d))}


def _parquet_files(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def _text_lines(path):
    lines = Counter()
    for f in sorted(glob.glob(os.path.join(path, "*"))):
        name = os.path.basename(f)
        if os.path.isfile(f) and not name.startswith((".", "_")):
            with open(f, encoding="utf-8", errors="surrogateescape") as fh:
                lines.update(fh.read().splitlines())
    return lines


def _load_json(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _fixture_root(dump):
    return os.path.abspath(dump) + "_fixtures"


def _oracle_text(sql, fixture_root):
    sql = sql.replace(fixture_root, "__FIXTURES__")
    return re.sub(r"graft_scratch_\d+", "graft_scratch_<root>", sql)


def diff_dumps(dump_a, dump_b, con=None):
    """(diffs, counts): one string per difference, and how many results,
    oracle entries and fixture tables were compared."""
    con = con or duckdb.connect()
    diffs = []
    counts = Counter()

    for name in sorted(_subdirs(dump_a) | _subdirs(dump_b)):
        counts["results"] += 1
        pa, pb = os.path.join(dump_a, name), os.path.join(dump_b, name)
        if not os.path.isdir(pa) or not os.path.isdir(pb):
            diffs.append(f"result {name}: only in {'B' if os.path.isdir(pb) else 'A'}")
            continue
        why = compare_parquet(con, _parquet_files(pa), _parquet_files(pb))
        if why:
            diffs.append(f"result {name}: {why}")

    oa = _load_json(os.path.join(dump_a, "oracle_sql.json")) or {}
    ob = _load_json(os.path.join(dump_b, "oracle_sql.json")) or {}
    fa, fb = _fixture_root(dump_a), _fixture_root(dump_b)
    for key in sorted(set(oa) | set(ob)):
        counts["oracle_sql"] += 1
        if key not in oa or key not in ob:
            diffs.append(f"oracle_sql {key}: only in {'B' if key in ob else 'A'}")
        elif _oracle_text(oa[key], fa) != _oracle_text(ob[key], fb):
            diffs.append(f"oracle_sql {key}: SQL differs")

    ea = _load_json(os.path.join(dump_a, "_errors.json"))
    eb = _load_json(os.path.join(dump_b, "_errors.json"))
    if ea != eb:
        diffs.append(f"_errors.json: {ea} != {eb}")

    for name in sorted(_subdirs(fa) | _subdirs(fb)):
        counts["fixtures"] += 1
        pa, pb = os.path.join(fa, name), os.path.join(fb, name)
        if not os.path.isdir(pa) or not os.path.isdir(pb):
            diffs.append(f"fixture {name}: only in {'B' if os.path.isdir(pb) else 'A'}")
            continue
        qa, qb = _parquet_files(pa), _parquet_files(pb)
        if qa or qb:
            why = compare_parquet(con, qa, qb)
        else:
            la, lb = _text_lines(pa), _text_lines(pb)
            why = None if la == lb else (
                f"text lines: {sum((la - lb).values())} only in A, "
                f"{sum((lb - la).values())} only in B")
        if why:
            diffs.append(f"fixture {name}: {why}")
    return diffs, counts


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    diffs, counts = diff_dumps(argv[1], argv[2])
    for d in diffs:
        print("DIFF  " + d)
    print(f"compared {counts['results']} results, {counts['oracle_sql']} "
          f"oracle_sql entries, _errors.json, {counts['fixtures']} fixture "
          f"tables: {'identical' if not diffs else f'{len(diffs)} differences'}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
