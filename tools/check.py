#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate — repr-faithful.

The driver reads the ORACLE side via DuckDB `.df()` (DECIMAL -> float64,
shortest repr "0.9") and the SPARK side via pyarrow/pandas.read_parquet
(DECIMAL -> decimal.Decimal, scale-preserving "0.9000"), stringifies
cells, and hashes. Round 1 and 2 both shipped "ALL GREEN locally" with a
red driver gate because this script used to load BOTH sides through
DuckDB, collapsing the two representations. It now mirrors the driver:

  * oracle  = duckdb.execute(sql).df()
  * spark   = pandas.read_parquet(outdir)   (pyarrow types preserved)
  * compare = per-cell str() equality after sorting columns by name and
              rows by their full string tuple

It also lints the output contract: any DECIMAL column in an
oracle-checked output, or any float column not allowlisted as a
bit-identical source pass-through, is an error even if today's values
happen to stringify identically.

    python3 tools/check.py <sfDir> <verifyOutDir>
"""
import glob
import json
import math
import os
import sys
import tempfile

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# (query, column) pairs allowed to be float64: bit-identical pass-throughs
# of source doubles only (no arithmetic on the value on either side).
# Floats load as float64 on BOTH driver paths (pyarrow and duckdb.df())
# so bit-identical values stringify identically — the hazard is value
# drift (order-dependent summation), not representation, hence computed
# doubles stay banned while untouched source columns are allowed.
FLOAT_PASSTHROUGH = {
    ("q01_scan_project", "l_extendedprice"),
    ("q01_scan_project", "l_discount"),
    ("q01_scan_project", "l_quantity"),
    ("q02_filter_pred", "l_quantity"),
    ("q02_filter_pred", "l_discount"),
    ("q11_window_dedup_latest", "value"),
    ("q36_merge_upsert", "o_totalprice"),
    ("q43_asof_join", "last_purchase_value"),
}


def cell_str(x) -> str:
    """Stringify one cell the way a repr-sensitive hasher would."""
    if x is None:
        return "<null>"
    if isinstance(x, float) and math.isnan(x):
        return "<null>"
    if isinstance(x, (list, tuple)) or type(x).__name__ == "ndarray":
        return "[" + ",".join(cell_str(v) for v in x) + "]"
    return str(x)


def norm_datetimes(df: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize date/datetime columns on both sides.

    DuckDB `.df()` yields datetime64 for DATE (midnight timestamps) while
    pyarrow yields datetime.date objects; the driver matches these (q05,
    q64, q85 are driver-green), so the local gate canonicalizes both to
    pandas Timestamps before stringifying.
    """
    import datetime
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object and any(
                isinstance(v, (datetime.date, datetime.datetime))
                for v in df[c] if v is not None):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df


def to_strings(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    out = pd.DataFrame({c: [cell_str(v) for v in df[c]] for c in df.columns})
    if len(out) and len(out.columns):
        out = out.sort_values(list(out.columns), kind="mergesort")
    return out.reset_index(drop=True)


def spark_df(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(f"{path}/*.parquet"))
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def lint(name: str, path: str) -> list:
    """Reject repr-fragile output columns (DECIMAL, non-passthrough float).

    Inspects the parquet SCHEMA (not pandas dtypes): a nullable BIGINT
    loads as float64 in pandas but is repr-safe, while a true double
    column is only safe as a bit-identical source pass-through.
    """
    import pyarrow.parquet as pq
    schema = pq.read_schema(sorted(glob.glob(f"{path}/*.parquet"))[0])
    bad = []
    for field in schema:
        t = str(field.type)
        if t.startswith("decimal"):
            bad.append(f"{field.name}: DECIMAL output column (driver hash "
                       f"is repr-sensitive; emit BIGINT units or VARCHAR)")
        elif t in ("float", "double", "halffloat") \
                and (name, field.name) not in FLOAT_PASSTHROUGH:
            bad.append(f"{field.name}: float output column not in "
                       f"FLOAT_PASSTHROUGH allowlist (computed doubles are "
                       f"repr-fragile)")
    return bad


def main(sf_dir: str, out_dir: str) -> int:
    with tempfile.TemporaryDirectory(prefix="check-duckdb-") as spill:
        return check(duckdb.connect(), spill, sf_dir, out_dir)


def check(con, spill: str, sf_dir: str, out_dir: str) -> int:
    # DuckDB spills past its memory limit; by default into `.tmp` under
    # the working directory, here into a directory removed afterwards.
    # Row order is never compared (to_strings sorts both sides), so
    # insertion order need not be kept, which lets DuckDB use less
    # memory on some plans.
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute("SET preserve_insertion_order = false")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Spark-written tables (e.g. tools/ScaleUp output) are
        # DIRECTORIES of part files; shipped testdata is single files
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    n_fail = 0
    # completeness: every query Verify was responsible for must have
    # produced an output dir — a thrown query must fail the gate, not
    # silently shrink the artifact (the round-4 94->91 regression).
    manifest_path = f"{out_dir}/_manifest.json"
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            for name in json.load(f):
                if not os.path.isdir(f"{out_dir}/{name}"):
                    print(f"FAIL {name}: registered in Verify but no "
                          f"output dumped (query threw?)")
                    n_fail += 1
    # rows-only queries (no oracle): must exist and be non-empty
    for d in sorted(os.listdir(out_dir)):
        if d in oracles or not os.path.isdir(f"{out_dir}/{d}"):
            continue
        try:
            n = len(spark_df(f"{out_dir}/{d}"))
            status = "OK  " if n > 0 else "FAIL"
            if n == 0:
                n_fail += 1
            print(f"{status} {d} (rows-only, {n} rows)")
        except Exception as e:
            print(f"FAIL {d} (rows-only): {e}")
            n_fail += 1
    for name in sorted(oracles):
        # subset dumps ship the FULL oracle map (so other dirs keep
        # their strong checks) — oracle entries with no dumped output
        # are simply not checked this run, not failures
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"SKIP {name} (not dumped)")
            continue
        try:
            exp_raw = con.execute(oracles[name]).df()
            got_raw = spark_df(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: load error: {e}")
            n_fail += 1
            continue
        lint_bad = lint(name, f"{out_dir}/{name}")
        if lint_bad:
            print(f"FAIL {name} [lint]: " + "; ".join(lint_bad[:4]))
            n_fail += 1
            continue
        if sorted(exp_raw.columns) != sorted(got_raw.columns):
            print(f"FAIL {name}: columns exp={sorted(exp_raw.columns)} "
                  f"got={sorted(got_raw.columns)}")
            n_fail += 1
            continue
        if len(exp_raw) != len(got_raw):
            print(f"FAIL {name}: rows exp={len(exp_raw)} got={len(got_raw)}")
            n_fail += 1
            continue
        exp, got = (to_strings(norm_datetimes(exp_raw)),
                    to_strings(norm_datetimes(got_raw)))
        bad = []
        for c in exp.columns:
            neq = exp[c] != got[c]
            if neq.any():
                i = neq.idxmax()
                bad.append(f"{c}: {int(neq.sum())} diffs, first@{i} "
                           f"exp={exp[c][i]!r} got={got[c][i]!r}")
        if bad:
            print(f"FAIL {name}: " + "; ".join(bad[:4]))
            n_fail += 1
        else:
            print(f"OK   {name} ({len(exp)} rows)")
    print(f"{'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
