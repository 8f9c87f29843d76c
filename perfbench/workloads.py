"""Turns a workload name and a seed into a run plan: the ops of each pass,
plus, for lake_cycle, the seeded document batches and the verdicts they
must produce. Everything here is a pure function of (workload, seed)."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["catalog_floor", "catalog_heavy", "lake_cycle"]

# Size of each catalog workload's panel: the stratum list, sorted by
# profiled cost, is cut into this many strata and the middle query of each
# is the stratum's representative. A pass runs the whole panel in a seeded
# order. Seeded samples of the list made the pass time depend on the seed
# far more than run-to-run noise does: over 10 seeds on 4 cores the pass
# time spread (interquartile range / median) was 0.17-0.21 when one panel
# query sat out per seed and ~0.2 for stratified samples of the full list,
# so the seed varies the order only.
PANEL = {"catalog_floor": 6, "catalog_heavy": 3}
# Untimed passes before the timed ones. A floor pass is a few short
# queries and the JIT needs several passes to finish: on 4 cores the
# process CPU time of passes 1, 2, 3, 4, 5 after one warm-up pass was
# 12.2, 8.5, 7.3, 5.6, 5.3 s in one run and 10.4, 7.7, 5.8, 5.7, 5.8 s in
# another, flat from the fourth pass on. A lake pass runs each op for
# seconds, yet its first timed pass still took 52 s of CPU against 37 s for
# the next; a second lake warm-up pass (about 20 s a run) does not fit the
# benchmark's time budget. catalog_heavy's values here and in PASS_S are
# estimates from its profiled query times, not measured.
WARMUP_PASSES = {"catalog_floor": 4, "catalog_heavy": 2, "lake_cycle": 1}
# Warm pass time on a 4-core host, in seconds. A run times as many whole
# passes as fit in --seconds at this speed, at least one. The count is fixed
# so that every run does the same work: a count that followed the measured
# speed moved the median over passes with the host's load (a floor run
# timed 2 or 3 passes, and its CPU time per pass was 4.4-4.6 s with 3
# and 4.9-5.5 s with 2, the JIT still speeding up later passes).
PASS_S = {"catalog_floor": 2.8, "catalog_heavy": 9.0, "lake_cycle": 19.5}


def timed_passes(workload, seconds):
    return max(1, int(seconds / PASS_S[workload]))


# store churn sizes: 500-doc ingest batches, 20-id forget batches
INGEST_DOCS, INGEST_NEAR_DUPS = 500, 50
FORGET_IDS = 20
STORE_FIRST_ID = 10_000_000


def read_stratum(name):
    """[(query, profiled seconds)] from strata/<name>.tsv, cheapest first."""
    rows = []
    with open(os.path.join(HERE, "strata", f"{name}.tsv")) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                q, s = line.split("\t")[:2]
                rows.append((q, float(s)))
    return sorted(rows, key=lambda r: (r[1], r[0]))


def panel(items, k):
    """The middle item of each of k contiguous strata of `items`."""
    bounds = np.linspace(0, len(items), k + 1).round().astype(int)
    return [items[(lo + hi) // 2] for lo, hi in zip(bounds[:-1], bounds[1:])]


def catalog_queries(workload, seed):
    """The workload's panel in a seeded order."""
    queries = [q for q, _ in panel(read_stratum(workload.split("_", 1)[1]), PANEL[workload])]
    rng = np.random.default_rng([seed, 1])
    return [queries[i] for i in rng.permutation(len(queries))]


class StoreModel:
    """Generates store churn batches and tracks which documents the index
    must hold, so every verdict count is known before the engine runs."""

    def __init__(self, seed, out_dir):
        self.rng = np.random.default_rng([seed, 2])
        self.out = out_dir
        self.next_id = STORE_FIRST_ID
        self.present = []  # ids of indexed, not forgotten documents
        self.texts = {}

    def _docs(self, n, near_dups, sources):
        """n new docs; `near_dups` of them copy a text from `sources`
        (callable giving an id) and append "dup"."""
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        dup_pos = set(self.rng.choice(np.arange(1, n), near_dups, replace=False).tolist())
        texts, fresh = [], []
        for i, d in enumerate(ids):
            if i in dup_pos:
                texts.append(self.texts[sources(fresh)] + " dup")
            else:
                texts.append(datagen.random_text(self.rng, int(self.rng.integers(10, 101))))
                fresh.append(d)
            self.texts[d] = texts[-1]
        return ids, texts, fresh

    def _write(self, name, table):
        path = os.path.join(self.out, f"{name}.parquet")
        pq.write_table(table, path)
        return path

    def _pick_present(self, k):
        idx = sorted(self.rng.choice(len(self.present), k, replace=False).tolist(), reverse=True)
        return [self.present.pop(i) for i in idx]

    def churn_pass(self, p):
        """Ops and expected counts for one pass: ingest, logical forget,
        physical forget, compaction. The first ingest bootstraps the index;
        its near-dups copy an earlier doc of the same batch, later ones copy
        an indexed doc."""
        pres = list(self.present)
        pick = lambda fr: (pres or fr)[int(self.rng.integers(0, len(pres or fr)))]
        ids, texts, fresh = self._docs(INGEST_DOCS, INGEST_NEAR_DUPS, pick)
        self.present += fresh
        ingest = self._write(f"ingest{p}", pa.table({"doc_id": ids, "text": texts}))
        logical = self._write(f"forget_logical{p}",
                              pa.table({"doc_id": self._pick_present(FORGET_IDS)}))
        physical = self._write(f"forget{p}", pa.table({"doc_id": self._pick_present(FORGET_IDS)}))
        ops = [("ingest", ingest), ("forget_logical", logical), ("forget", physical),
               ("compact", "-")]
        expect = {"ingest": {"keep": len(fresh), "drop": len(ids) - len(fresh)},
                  "forget_logical": {"true": FORGET_IDS}, "forget": {"true": FORGET_IDS},
                  "index_docs": len(self.present)}
        return ops, expect


def plan(workload, seed, work, n_passes):
    """Returns (passes, store expectations per pass) for n_passes passes,
    warm-up passes included. A lake_cycle pass is one lake refresh
    followed by one store churn pass."""
    if workload in PANEL:
        ops = [("query", q) for q in catalog_queries(workload, seed)]
        return [ops] * n_passes, []
    if workload != "lake_cycle":
        raise ValueError(f"unknown workload {workload}; known: {', '.join(WORKLOADS)}")
    # the input tables do not depend on the seed, so neither does a refresh
    refresh = [("stage", str(k)) for k in range(1, 5)]
    store = os.path.join(work, "store_input")
    os.makedirs(store, exist_ok=True)
    m = StoreModel(seed, store)
    passes, expect = [], []
    for p in range(n_passes):
        ops, e = m.churn_pass(p)
        passes.append(refresh + ops)
        expect.append(e)
    return passes, expect
