#!/usr/bin/env python3
"""Diff two graft.Verify dumps, e.g. the parent commit's and a change's.

Usage: python3 tools/dump_diff.py PARENT_OUT CHANGE_OUT

Compares
  * every query's parquet dump, row for row after sorting (schema too),
    and the set of dumped queries;
  * oracle_sql.json, key for key and string for string.

Prints one line per difference and a summary; exits 1 on any difference,
0 when the dumps are identical. A refactor that claims "same results"
runs Verify at sf0.01 on both commits and expects this to exit 0 (or to
list only the oracle rows it meant to re-render).
"""
import json
import sys
from pathlib import Path

import pyarrow.parquet as pq


def queries(out):
    return {p.name for p in out.iterdir() if p.is_dir()}


def table(qdir):
    t = pq.read_table(qdir)
    cols = [t.column(i).to_pylist() for i in range(t.num_columns)]
    # compared as repr strings: NaN != NaN would flag identical dumps
    rows = sorted(map(repr, zip(*cols))) if cols else []
    return [f"{f.name}:{f.type}" for f in t.schema], rows


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = Path(argv[1]), Path(argv[2])
    diffs = []

    qa, qb = queries(a), queries(b)
    for q in sorted(qa - qb):
        diffs.append(f"parquet {q}: only in {a}")
    for q in sorted(qb - qa):
        diffs.append(f"parquet {q}: only in {b}")
    same = 0
    for q in sorted(qa & qb):
        sa, ra = table(a / q)
        sb, rb = table(b / q)
        if sa != sb:
            diffs.append(f"parquet {q}: schema {sa} != {sb}")
        elif ra != rb:
            diff_rows = sum(1 for x, y in zip(ra, rb) if x != y)
            diffs.append(f"parquet {q}: {len(ra)} vs {len(rb)} rows, "
                         f"{diff_rows + abs(len(ra) - len(rb))} differ")
        else:
            same += 1

    oa = json.loads((a / "oracle_sql.json").read_text())
    ob = json.loads((b / "oracle_sql.json").read_text())
    for k in sorted(set(oa) | set(ob)):
        if k not in oa or k not in ob:
            diffs.append(f"oracle {k}: only in {a if k in oa else b}")
        elif oa[k] != ob[k]:
            diffs.append(f"oracle {k}: SQL text differs")
    same_sql = sum(1 for k in oa if k in ob and oa[k] == ob[k])

    for d in diffs:
        print(d)
    print(f"parquet: {same}/{len(qa | qb)} equal; "
          f"oracle_sql.json: {same_sql}/{len(set(oa) | set(ob))} equal")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
