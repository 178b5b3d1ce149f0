#!/usr/bin/env python3
"""Compare two Verify dumps cell by cell — the check for a change that
must leave every query output and every oracle exactly as it was.

    python3 tools/samedump.py <outA> <outB>

Each query output directory in either dump is loaded and stringified
the way tools/check.py reads Spark's side (`spark_df`, `to_strings`:
columns by name, rows sorted by their full string tuple), its parquet
schema is compared, and every cell must match. `oracle_sql.json` must
be byte-identical. No oracle is evaluated, so this also judges outputs
whose DuckDB oracle cannot run on the host (q122_descent_recall runs
DuckDB out of memory on a 4-core / 15 GiB machine). Exit code 0 when
everything matches.
"""
import glob
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import spark_df, to_strings  # noqa: E402


def outputs(out_dir: str) -> set:
    return {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}


def schema(path: str):
    parts = sorted(glob.glob(f"{path}/*.parquet"))
    return pq.read_schema(parts[0]) if parts else None


def compare(a: str, b: str) -> str:
    """'' when the two output dirs match, else the first difference."""
    sa, sb = schema(a), schema(b)
    if sa is None or sb is None:
        return "no parquet part files"
    if not sa.equals(sb, check_metadata=False):
        return f"schema {sa} vs {sb}"
    x, y = to_strings(spark_df(a)), to_strings(spark_df(b))
    if len(x) != len(y):
        return f"rows {len(x)} vs {len(y)}"
    for c in x.columns:
        neq = x[c] != y[c]
        if neq.any():
            i = neq.idxmax()
            return (f"{c}: {int(neq.sum())} cells differ, first@{i} "
                    f"{x[c][i]!r} vs {y[c][i]!r}")
    return ""


def main(a: str, b: str) -> int:
    n_diff = 0
    oa, ob = outputs(a), outputs(b)
    for name in sorted(oa ^ ob):
        print(f"DIFF {name}: only in {a if name in oa else b}")
        n_diff += 1
    common = sorted(oa & ob)
    n_same = 0
    for name in common:
        why = compare(f"{a}/{name}", f"{b}/{name}")
        if why:
            print(f"DIFF {name}: {why}")
            n_diff += 1
        else:
            n_same += 1
    print(f"{n_same} of {len(common)} common outputs identical")
    with open(f"{a}/oracle_sql.json", "rb") as fa, \
            open(f"{b}/oracle_sql.json", "rb") as fb:
        if fa.read() == fb.read():
            print("oracle_sql.json byte-identical")
        else:
            print("DIFF oracle_sql.json")
            n_diff += 1
    print("SAME" if n_diff == 0 else f"{n_diff} DIFFERENCES")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
