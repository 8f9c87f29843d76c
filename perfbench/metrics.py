"""Derives the benchmark's metrics from a run record written by
graftbench.Main: end-to-end metrics from the untraced passes, per-layer
metrics and span self times from the traced ones."""
import statistics

# name -> unit, in the order they are printed
END_TO_END = {
    "setup_s": "s", "setup_wall_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "write_amp": "ratio", "space_amp": "ratio",
    "failed_frac": "ratio", "wrong_outputs": "count",
}

LAYERS = ["tables", "queries", "plans", "ops", "sinks", "pipeline", "stores", "bench"]
STORE_OPS = ["ingest", "forget_logical", "forget", "compact"]

PER_LAYER = {
    "tables.resolve_s": "s", "tables.scans": "count",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.leftover_cached": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "ops.jobs": "count", "ops.stages": "count", "ops.tasks": "count",
    "ops.sched_delay_s": "s", "ops.exec_s": "s", "ops.run_s": "s", "ops.cpu_s": "s",
    "ops.gc_s": "s", "ops.task_failures": "count", "ops.core_util": "ratio",
    "ops.input_bytes": "bytes", "ops.shuffle_write_bytes": "bytes",
    "ops.shuffle_read_bytes": "bytes", "ops.spill_bytes": "bytes",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.records_written": "count",
    **{f"pipeline.stage{k}_s": "s" for k in range(1, 5)},
    **{f"stores.{o}_s": "s" for o in STORE_OPS},
    "stores.read_bytes": "bytes", "stores.write_bytes": "bytes",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The latency at the highest percentile with at least `beyond` samples
    above it: the k-th smallest of n with k = n - beyond. With fewer than
    beyond + 1 samples no percentile qualifies and the smallest sample is
    used. Returns (value, percentile, samples beyond it, n)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0, 0
    k = max(1, n - beyond)
    return xs[k - 1], 100.0 * k / n, n - k, n


def op_accounting(record):
    """(attempted, failed, names of failed ops) over every op the run
    attempted, warm-up included."""
    failed = [o["name"] for o in record["ops"] if not o["ok"]]
    return len(record["ops"]), len(failed), failed


def end_to_end(record, input_bytes, wrong_outputs):
    timed = [p for p in record["passes"]
             if p["pass"] >= record["warmup_passes"] and not p["traced"]]
    tpass = {p["pass"] for p in timed}
    # failed ops are counted, never timed: a failure must not read as a fast op
    lat = [o["wall_s"] for o in record["ops"] if o["pass"] in tpass and o["ok"]]
    attempted, failed, _ = op_accounting(record)
    session_s = (record["session_ready_ms"] - record["jvm_start_ms"]) / 1e3
    t, pct, beyond, n = tail(lat)
    last = timed[-1] if timed else {"state_bytes": 0}
    m = {
        # set-up in process CPU seconds: the work set-up does, which the
        # load of other tenants of a shared host moves far less than the
        # wall time of set-up's one cold pass through the JVM
        "setup_s": record["session_cpu_s"] + median(record["prep_cpu_s"]) + record["warmup_cpu_s"],
        "setup_wall_s": session_s + median(record["prep_s"]) + record["warmup_s"],
        # the fastest timed pass: the host's transient load only slows passes
        "pass_s": min([p["wall_s"] for p in timed], default=0.0),
        "op_p50_s": median(lat),
        "op_tail_s": t,
        "cpu_s": median([p["cpu_s"] for p in timed]),
        "peak_rss_mb": record["peak_rss_kb"] / 1024.0,
        "write_amp": median([p["wchar"] for p in timed]) / input_bytes,
        "space_amp": last["state_bytes"] / input_bytes,
        "failed_frac": failed / attempted if attempted else 1.0,
        "wrong_outputs": wrong_outputs,
    }
    notes = {"op_tail_s": f"p{pct:.0f}, n={n}, {beyond} beyond", "pass_s": f"{len(timed)} passes",
             "setup_s": f"CPU: session {record['session_cpu_s']:.2f} + input check "
                        f"{median(record['prep_cpu_s']):.2f} (median of {len(record['prep_cpu_s'])}) "
                        f"+ warm-up {record['warmup_cpu_s']:.2f}",
             "setup_wall_s": f"session {session_s:.2f} + input check {median(record['prep_s']):.2f} "
                             f"(median of {len(record['prep_s'])}) + warm-up {record['warmup_s']:.2f}"}
    return m, notes


# ---------------------------------------------------------------- tracing

def layer_of(name):
    head = name.split(".", 1)[0]
    return head if head in LAYERS else "bench"


def self_times(nodes, start, end):
    """Splits [start, end] among nested, possibly overlapping intervals:
    each instant goes to the active interval that started last (the
    innermost one), else to the root. Returns {node index: self ms} and the
    root's own share under key None. The shares sum to end - start."""
    cuts = sorted({start, end, *(max(start, min(end, x)) for n in nodes for x in (n[0], n[1]))})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = [i for i, n in enumerate(nodes) if n[0] <= mid < n[1]]
        # latest start wins; of equal starts the shorter one is inner
        i = max(active, key=lambda j: (nodes[j][0], -nodes[j][1]), default=None)
        out[i] = out.get(i, 0.0) + (b - a)
    return out


def trace_ops(record):
    """Per traced op: its spans, with self time per span and per layer. The
    harness's spans nest under the op; jobs (ops layer), planning phases
    (plans layer) and file-write executions (sinks layer) from the
    listeners are placed by time inside the op that ran them."""
    spans = record["spans"]
    traced_ops = [o for o in record["ops"] if o["traced"]]
    jobs = record.get("jobs", [])
    phases = [(s, e, f"plans.{k}") for x in record.get("executions", [])
              for k, (s, e) in x["phases"].items()]
    writes = [(s, e, "sinks.write") for s, e in record.get("writes", [])]
    result = []
    for o in traced_ops:
        s0, s1 = o["start"], o["end"]
        inside = lambda a: s0 <= a < s1
        nodes = [(s["start"], s["end"], s["name"]) for s in spans
                 if s["op"] == o["id"] and s["parent"] != -1 and s["name"] != o["name"]]
        nodes += [(j["start"], j["end"] if j["end"] >= 0 else s1, "ops.job") for j in jobs
                  if j["group"] == f"op-{o['id']}" or (j["group"] == "" and inside(j["start"]))]
        nodes += [n for n in phases + writes if inside(n[0])]
        shares = self_times(nodes, s0, s1)
        by_layer = {}
        out_spans = [{"name": o["name"], "layer": layer_of(o["name"]), "start": s0,
                      "end": s1, "self_ms": shares.get(None, 0.0)}]
        for i, (a, b, name) in enumerate(nodes):
            out_spans.append({"name": name, "layer": layer_of(name), "start": a, "end": b,
                              "self_ms": shares.get(i, 0.0)})
        for sp in out_spans:
            by_layer[sp["layer"]] = by_layer.get(sp["layer"], 0.0) + sp["self_ms"]
        result.append({"op": o, "spans": out_spans, "self_ms": by_layer, "nodes": nodes})
    return result


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def per_layer(record, cpus):
    traced = trace_ops(record)
    ops = [t["op"] for t in traced]
    counters = record.get("counters", {})
    execs = record.get("executions", [])
    probes = [s for s in record["spans"] if s["name"] == "tables.resolve"]
    m = {k: 0.0 for k in PER_LAYER}
    m["tables.resolve_s"] = median([(s["end"] - s["start"]) / 1e3 for s in probes])

    def c(o, k):
        return counters.get(f"op-{o['id']}", {}).get(k, 0)

    for k in ["jobs", "stages", "tasks", "task_failures", "input_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"]:
        m[f"ops.{k}"] = mean([c(o, k) for o in ops])
    m["ops.sched_delay_s"] = mean([c(o, "sched_delay_ms") / 1e3 for o in ops])
    m["ops.run_s"] = mean([c(o, "run_ms") / 1e3 for o in ops])
    m["ops.cpu_s"] = mean([c(o, "cpu_ns") / 1e9 for o in ops])
    m["ops.gc_s"] = mean([c(o, "gc_ms") / 1e3 for o in ops])
    exec_s = [union_ms([(a, b) for a, b, n in t["nodes"] if n == "ops.job"]) / 1e3 for t in traced]
    m["ops.exec_s"] = mean(exec_s)
    m["ops.core_util"] = m["ops.run_s"] / (m["ops.exec_s"] * cpus) if m["ops.exec_s"] else 0.0

    def in_op(o, t):
        return o["start"] <= t < o["end"]

    op_execs = [[x for x in execs if x["phases"] and in_op(o, min(s for s, _ in x["phases"].values()))]
                for o in ops]
    m["tables.scans"] = mean([sum(x["scans"] for x in xs) for xs in op_execs])
    for ph in ["analysis", "optimization", "planning"]:
        m[f"plans.{ph}_s"] = mean([sum((x["phases"][ph][1] - x["phases"][ph][0]) / 1e3
                                       for x in xs if ph in x["phases"]) for xs in op_execs])
    traced_passes = {o["pass"] for o in ops}
    per_pass = lambda key: mean([sum(x[key] for xs, o in zip(op_execs, ops) if o["pass"] == p
                                     for x in xs) for p in traced_passes])
    m["sinks.bytes_written"] = per_pass("sink_bytes")
    m["sinks.files_written"] = per_pass("sink_files")
    m["sinks.records_written"] = per_pass("sink_records")

    queries = [t for t in traced if t["op"]["kind"] == "query"]
    builds = [[n for n in t["nodes"] if n[2] == "queries.build"] for t in queries]
    m["queries.build_s"] = mean([sum(b - a for a, b, _ in bs) / 1e3 for bs in builds])
    m["queries.build_jobs"] = mean([
        sum(1 for a, _, n in t["nodes"] if n == "ops.job" and any(s <= a < e for s, e, _ in bs))
        for t, bs in zip(queries, builds)])
    m["queries.leftover_cached"] = mean([o["leftover_cached"] for o in ops])
    for k in range(1, 5):
        m[f"pipeline.stage{k}_s"] = median([o["wall_s"] for o in ops if o["name"] == f"pipeline.stage{k}"])
    stores = [o for o in ops if o["kind"] in STORE_OPS]
    for k in STORE_OPS:
        m[f"stores.{k}_s"] = median([o["wall_s"] for o in stores if o["kind"] == k])
    m["stores.read_bytes"] = mean([o["rchar"] for o in stores])
    m["stores.write_bytes"] = mean([o["wchar"] for o in stores])
    for layer in LAYERS:
        m[f"self.{layer}_s"] = mean([t["self_ms"].get(layer, 0.0) / 1e3 for t in traced])
    timed = [p for p in record["passes"] if p["pass"] >= record["warmup_passes"]]
    m["trace.pass_s"] = median([p["wall_s"] for p in timed if p["traced"]])
    m["trace.untraced_pass_s"] = median([p["wall_s"] for p in timed if not p["traced"]])
    m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
    return m, traced
