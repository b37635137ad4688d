#!/usr/bin/env python3
"""Local pre-validation of SparkEntry.oracleSql against Verify output.

Mimics the driver's t2 gate: for each query, load the Spark parquet dump
and run the oracle SQL in DuckDB over the same testdata tables, sort
columns by name, and compare row-for-row with exact value equality.

With `--against <otherVerifyOutDir>` (e.g. the parent commit's Verify
output), every rows-only query's dump is also compared with the other
run's dump, row for row, by the same compare: SAME, DIFF (first
differing row) or MISSING per query; any DIFF fails the run.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [--against <otherVerifyOutDir>]
"""
import argparse
import json
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both canonical frames are equal, else what differs."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    diff_cols = []
    for c in got.columns:
        a, b = got[c], want[c]
        # The driver hashes BIT PATTERNS: compare floats bitwise so
        # +0.0 vs -0.0 (and NaN boxing) fail here like they fail there.
        # Pandas `==` equates ±0.0, which let a signed-zero mismatch
        # ship red two rounds running (r13/r14 q_emb_covariance).
        if str(a.dtype) in ("float64", "float32") and str(a.dtype) == str(b.dtype):
            u = "u8" if str(a.dtype) == "float64" else "u4"
            eq = pd.Series(a.to_numpy().view(u) == b.to_numpy().view(u))
        else:
            eq = pd.Series([_same(x, y) for x, y in zip(a, b)])
        if not bool(eq.all()):
            idx = int((~eq).idxmax())
            diff_cols.append(f"{c}[row {idx}: {a[idx]!r} != {b[idx]!r}, "
                             f"dtypes {a.dtype}/{b.dtype}]")
    return f"value diffs: {'; '.join(diff_cols[:3])}" if diff_cols else None


def _same(x, y) -> bool:
    """Cell equality for non-float columns; array cells compare
    element-wise, floats inside them bitwise."""
    if isinstance(x, np.ndarray) or isinstance(y, np.ndarray):
        xa, ya = np.asarray(x), np.asarray(y)
        if xa.shape != ya.shape or xa.dtype != ya.dtype:
            return False
        if xa.dtype.kind == "f":
            return bool((xa.view(f"u{xa.dtype.itemsize}") ==
                         ya.view(f"u{ya.dtype.itemsize}")).all())
        return all(_same(p, q) for p, q in zip(xa.tolist(), ya.tolist()))
    if x is None or y is None or (isinstance(x, float) and np.isnan(x)):
        return pd.isna(x) and pd.isna(y)
    return bool(x == y)


def dump(con, out_dir: str, name: str) -> pd.DataFrame:
    return canon(con.execute(f"SELECT * FROM '{Path(out_dir) / name}/*.parquet'").df())


def main(sf_dir: str, out_dir: str, against: str | None = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())

    n_pass = n_fail = 0
    for name in sorted(oracle):
        sql = oracle[name]
        res_dir = Path(out_dir) / name
        if not res_dir.exists():
            print(f"FAIL {name}: no Spark result dumped")
            n_fail += 1
            continue
        try:
            got = dump(con, out_dir, name)
            want = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        why = compare(got, want)
        if why:
            print(f"FAIL {name}: {why}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1

    # queries without an oracle: row counts, or the compare against the
    # other run's dump of the same query
    dumped = {p.name for p in Path(out_dir).iterdir() if p.is_dir()}
    rows_only = dumped - set(oracle)
    n_same = n_diff = n_missing = 0
    if against:
        other = {p.name for p in Path(against).iterdir() if p.is_dir()}
        other_oracle = json.loads((Path(against) / "oracle_sql.json").read_text())
        for name in sorted(rows_only | (other - set(other_oracle))):
            try:
                why = compare(dump(con, out_dir, name), dump(con, against, name))
            except Exception as e:  # noqa: BLE001
                print(f"MISSING {name}: {e}")
                n_missing += 1
                continue
            if why:
                print(f"DIFF {name}: {why}")
                n_diff += 1
            else:
                print(f"SAME {name}")
                n_same += 1
    else:
        for name in sorted(rows_only):
            try:
                print(f"ROWS-ONLY {name}: {len(dump(con, out_dir, name))} rows")
            except Exception as e:  # noqa: BLE001
                print(f"ROWS-ONLY {name}: unreadable ({e})")
    print(f"\n{n_pass} pass, {n_fail} fail, {len(rows_only)} rows-only")
    if against:
        print(f"against {against}: {n_same} same, {n_diff} diff, {n_missing} missing")
    return 1 if n_fail or n_diff else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--against", help="another Verify output dir to compare "
                    "every rows-only dump with, row for row")
    a = ap.parse_args()
    sys.exit(main(a.sf_dir, a.out_dir, a.against))
