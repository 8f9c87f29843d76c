#!/usr/bin/env python3
"""Regenerates perfbench/expected.json, the committed values the output
checks compare against:

- `outputs`: row count and column hash (checks.fingerprint) of every
  stratum query's output;
- `live_oracle`: the queries whose DuckDB oracle runs within
  LIVE_ORACLE_S here and agrees, which every run also compares with DuckDB;
- `oracle_disagrees`: queries whose oracle gave a different result here
  (reported, so that the disagreement is investigated, not hidden);
- `lake`: row count and column hash of each lake mart after one refresh.

Every query with an oracle is compared with DuckDB here (each given
ORACLE_LIMIT_S); the script reports those that disagree or time out. Run
it from the root of a checkout, after a deliberate change to the input
tables or to what a query returns:

    python3 perfbench/expected.py
"""
import json
import os
import shutil
import sys
import time

import threading

import duckdb

import run
import checks
import workloads

LIVE_ORACLE_S = 1.0
ORACLE_LIMIT_S = 5.0


def run_once(name, ops, work):
    os.makedirs(work)
    conf = {"workload": name, "trace": 0, "cpus": run.cpus(),
            "data": run.input_tables(), "work": work, "out": os.path.join(work, "record.json"),
            "setup_reps": 1, "warmup_passes": 1, "timed_passes": 0,
            "state": run.STATE[name]}
    plan = os.path.join(work, "plan.tsv")
    run.write_plan(plan, conf, [ops])
    if run.run_jvm(run.build(), plan, work, time.time() + 3600) != 0:
        raise SystemExit(f"{name}: harness JVM failed")
    with open(conf["out"]) as f:
        record = json.load(f)
    for o in record["ops"]:
        if not o["ok"]:
            print(f"FAILED {o['name']}: {o['error']}", file=sys.stderr)
    return record, conf["data"]


def main():
    base = os.path.join(run.BUILD, "work", f"expected-{os.getpid()}")
    try:
        queries = sorted({q for s in ("floor", "heavy") for q, _ in workloads.read_stratum(s)})
        record, data = run_once("catalog_floor", [("query", q) for q in queries],
                                os.path.join(base, "catalog"))
        out = os.path.join(base, "catalog", "out")
        outputs, live, report, disagrees = {}, [], [], {}
        con = duckdb.connect()
        for t in checks.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for q in queries:
            got = checks.read_output(os.path.join(out, q))
            if got is None:
                report.append(f"{q}: no output")
                continue
            outputs[q] = dict(zip(["rows", "hash"], checks.fingerprint(got)))
            if q not in record["oracles"]:
                continue
            timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
            t0 = time.time()
            timer.start()
            try:
                want = checks.canon(con.sql(record["oracles"][q]).df())
            except duckdb.Error as e:
                report.append(f"{q}: oracle not run ({str(e)[:60]})")
                continue
            finally:
                timer.cancel()
            fast = time.time() - t0 <= LIVE_ORACLE_S
            err = checks.compare_frames(got, want)
            if err:
                report.append(f"{q}: oracle mismatch: {err}")
                disagrees[q] = err
            elif fast:
                live.append(q)
        for line in report:
            print(line, file=sys.stderr)
        run_once("lake_cycle", [("stage", str(k)) for k in range(1, 5)],
                 os.path.join(base, "lake"))
        lake = {}
        for mart in checks.LAKE_MARTS:
            n, h = checks.mart_fingerprint(os.path.join(base, "lake", "lake", "p0", mart))
            lake[mart] = {"rows": n, "hash": h}
        with open(os.path.join(run.HERE, "expected.json"), "w") as f:
            json.dump({"outputs": outputs, "live_oracle": live, "oracle_disagrees": disagrees,
                       "lake": lake}, f,
                      indent=1, sort_keys=True)
            f.write("\n")
        print(f"{len(outputs)} outputs, {len(live)} live oracles, {len(report)} problems, "
              f"{len(lake)} marts")
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
