"""Output checks. Every check returns a list of problems; each problem
counts once in wrong_outputs.

- catalog queries: the warm-up output's row count and column hash (see
  fingerprint) against expected.json; queries whose DuckDB oracle is cheap
  at this scale are also compared with the oracle over the same tables,
  canonicalised as tools/check.py does (expected.py compares all the
  others once, when it records their fingerprints);
- lake marts: row count and column hash against expected.json, with the
  clock-stamped and floating columns left out;
- store ops: verdict and receipt counts of every op, and the index row
  counts after every pass, against the counts that workloads.StoreModel
  derives while generating the batches."""
import glob
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "tools"))
from check import TABLES, canon  # noqa: E402  (the repo's oracle canonicalisation)

LAKE_MARTS = ["interim/mes_geo", "analytics/user_city", "analytics/zone_report",
              "analytics/recommendations"]
# columns that are not stable facts of the input: a refresh-date stamp and
# a float distance
UNSTABLE_COLUMNS = {"processed_dttm", "dist_km"}
BANDS_PER_DOC = 16


def load_expected(path=os.path.join(HERE, "expected.json")):
    with open(path) as f:
        return json.load(f)


def read_output(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    return canon(pd.concat([pd.read_parquet(f) for f in files]))


def compare_frames(got, want):
    """tools/check.py's comparison: column set, row count, then values."""
    if list(got.columns) != list(want.columns):
        return f"schema spark={list(got.columns)} duck={list(want.columns)}"
    if len(got) != len(want):
        return f"rows spark={len(got)} duck={len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            eq = ((a.isna() & b.isna()) | (a == b)).all()
        except (TypeError, ValueError):
            eq = list(map(str, a)) == list(map(str, b))
        if not eq:
            return f"values differ in column {c}"
    return None


def check_catalog(out_dir, queries, oracles, data_dir, expected):
    """Each query's output must match its committed fingerprint (row count
    and column hash); a query whose DuckDB oracle is cheap at this scale
    (listed in expected["live_oracle"]) is also compared with the oracle."""
    live = [q for q in queries if q in oracles and q in expected.get("live_oracle", [])]
    con = None
    if live:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems = []
    for q in queries:
        got = read_output(os.path.join(out_dir, q))
        want = expected["outputs"].get(q)
        if got is None:
            problems.append(f"{q}: no output")
            continue
        if want is None:
            problems.append(f"{q}: no expected fingerprint")
        elif list(fingerprint(got)) != [want["rows"], want["hash"]]:
            problems.append(f"{q}: rows/hash {fingerprint(got)}, expected {want['rows']}/{want['hash']}")
        if q in live:
            err = compare_frames(got, canon(con.sql(oracles[q]).df()))
            if err:
                problems.append(f"{q}: oracle mismatch: {err}")
    return problems


def fingerprint(df):
    """(rows, hash) of a frame: the hash is order-independent, the sum of
    per-row hashes of the integer, string, boolean and timestamp columns,
    with nested values and timestamps rendered as text. Floating columns
    are left out: their low bits depend on summation order."""
    keep = sorted(c for c in df.columns if c not in UNSTABLE_COLUMNS and df[c].dtype.kind not in "fc")
    part = df[keep].copy()
    for c in keep:
        if part[c].dtype == object or part[c].dtype.kind == "M" or str(part[c].dtype) == "category":
            part[c] = part[c].map(lambda v: str(v.tolist() if isinstance(v, np.ndarray) else v))
    h = int(pd.util.hash_pandas_object(part, index=False).sum()) & (2**64 - 1)
    return len(df), f"{h:016x}"


def mart_fingerprint(path):
    """fingerprint() of a mart directory (hive partition columns included)."""
    return fingerprint(ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas())


def check_lake(lake_dir, expected_lake):
    problems = []
    for mart in LAKE_MARTS:
        want = expected_lake.get(mart)
        rows, h = mart_fingerprint(os.path.join(lake_dir, mart))
        if want is None:
            problems.append(f"{mart}: no expected fingerprint")
        elif [rows, h] != [want["rows"], want["hash"]]:
            problems.append(f"{mart} in {os.path.basename(lake_dir)}: rows={rows} hash={h}, "
                            f"expected rows={want['rows']} hash={want['hash']}")
    return problems


def check_store(record_checks, expect):
    """Compares every verdict/receipt and index count the run recorded with
    the model's expectations (one dict per pass)."""
    problems = []

    def same(label, got, want):
        if got != want:
            problems.append(f"{label}: got {got}, expected {want}")

    for c in record_checks:
        p, kind, e = c["pass"], c["kind"], expect[c["pass"]]
        if kind == "index":
            same(f"pass {p} index sigs rows", c["sigs"], e["index_docs"])
            same(f"pass {p} index bands rows", c["bands"], BANDS_PER_DOC * e["index_docs"])
        else:
            same(f"pass {p} {kind}", c["counts"], e[kind])
    return problems
