#!/usr/bin/env python3
"""Regenerates the committed query strata, strata/floor.tsv and
strata/heavy.tsv, from a profile of the whole catalog on the benchmark's
input tables (graftbench.Profile: warm, noop sink, faster of two passes,
local[N] with N as in run.py). Run it from the root of a checkout:

    python3 perfbench/profile_catalog.py

It runs graftbench.Profile twice, in `time` and in `staging` mode.

Cuts: floor = queries at most FLOOR_MAX_S; heavy = queries from HEAVY_MIN_S
to HEAVY_MAX_S. Queries that failed, or that stage data under the system
temp root (they would write outside the checkout), are left out of both.
"""
import json
import os
import shutil
import time

import run

FLOOR_MAX_S = 0.8
HEAVY_MIN_S, HEAVY_MAX_S = 1.5, 5.0


def write_stratum(name, rows, cut, n_cpus):
    with open(os.path.join(run.HERE, "strata", f"{name}.tsv"), "w") as f:
        f.write(f"# {name}: {len(rows)} catalog queries with {cut}; warm seconds, "
                f"noop sink, faster of two passes, local[{n_cpus}]. Regenerate: "
                "python3 perfbench/profile_catalog.py\n")
        for r in sorted(rows, key=lambda r: r["name"]):
            f.write(f"{r['name']}\t{r['seconds']:.3f}\n")


def profile(mode):
    """Runs graftbench.Profile in one mode; returns its output."""
    work = os.path.join(run.BUILD, "work", f"profile-{mode}-{os.getpid()}")
    os.makedirs(work)
    try:
        out = os.path.join(work, "profile.json")
        code = run.run_jvm(run.build(), str(run.cpus()), work, time.time() + 7200,
                           main=("graftbench.Profile", mode, run.input_tables(), work, out))
        if code != 0:
            raise SystemExit(f"profile JVM failed (exit {code})")
        shutil.copy(out, os.path.join(run.BUILD, f"profile-{mode}.json"))
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    outputs = [profile("time"), profile("staging")]
    n = outputs[0]["cpus"]
    merged = {}
    for o in outputs:
        for r in o["queries"]:
            m = merged.setdefault(r["name"], {"name": r["name"], "seconds": None, "staged": False})
            if "seconds" in r:
                m["seconds"] = r["seconds"]
            m["staged"] = m["staged"] or r.get("staged", False)
    rows = list(merged.values())
    ok = [r for r in rows if r["seconds"] is not None and not r["staged"]]
    floor = [r for r in ok if r["seconds"] <= FLOOR_MAX_S]
    heavy = [r for r in ok if HEAVY_MIN_S <= r["seconds"] <= HEAVY_MAX_S]
    write_stratum("floor", floor, f"t <= {FLOOR_MAX_S} s", n)
    write_stratum("heavy", heavy, f"{HEAVY_MIN_S} s <= t <= {HEAVY_MAX_S} s", n)
    print(f"{len(rows)} queries: {len(floor)} floor, {len(heavy)} heavy, "
          f"{sum(1 for r in rows if r['staged'])} staged, "
          f"{sum(1 for r in rows if r['seconds'] is None)} failed")


if __name__ == "__main__":
    main()
