"""Correctness gate over the verify-pass outputs.

The oracle comparison is the project's own: `tools/check.py` runs each
query's oracle SQL in DuckDB over the same input tables and compares column
names, row count and exact values in row order. The harness writes the
`oracle_sql.json` and `declared.json` files it reads, as `graft.Verify`
does. This module adds what that script leaves out: the rows-only check (a
query without oracle SQL must return at least one row) and an
order-insensitive digest of each output, so two runs (traced and untraced,
or two seeds) can be compared for identical outputs.
"""
import glob
import os
import subprocess
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKER = os.path.join("tools", "check.py")


def digest(df):
    df = df[sorted(df.columns)]
    try:
        h = int(pd.util.hash_pandas_object(df.astype(str), index=False).sum())
    except TypeError:
        h = 0
    return f"{len(df)}:{h & 0xFFFFFFFFFFFF:012x}"


def run_checker(data_dir, verify_dir):
    """{name: (status, detail)} from tools/check.py's report lines:
    `OK <name> ...`, `NOOR <name> ...` (no oracle SQL) and
    `FAIL <name>: <detail>`."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, CHECKER), data_dir, verify_dir],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=120)
    if r.returncode not in (0, 1):
        sys.stderr.write(r.stderr[-2000:])
    status = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word == "OK":
            status[rest.split()[0]] = ("ok", "")
        elif word == "NOOR":
            status[rest.split()[0]] = ("rows-only", "")
        elif word == "FAIL":
            name, _, detail = rest.partition(": ")
            status[name] = ("mismatch", detail)
    return status


def check(data_dir, verify_dir, names):
    """Returns {name: (status, rows, detail, digest)}; status is "ok",
    "rows-only" or "mismatch". A query the checker does not report on is a
    mismatch."""
    status = run_checker(data_dir, verify_dir)
    out = {}
    for name in names:
        files = sorted(glob.glob(os.path.join(verify_dir, name, "*.parquet")))
        if not files:
            out[name] = ("mismatch", 0, "no output: the query failed in the verify pass", "")
            continue
        df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        st, detail = status.get(name, ("mismatch", "not reported by " + CHECKER))
        if st == "rows-only" and len(df) == 0:
            st, detail = "mismatch", "rows-only check: empty output"
        out[name] = (st, len(df), detail, digest(df))
    return out
