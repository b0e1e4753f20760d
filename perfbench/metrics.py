"""Turns a harness record into the benchmark's metrics.

Every function here is pure: it reads the raw record the JVM harness
wrote (plus, for ingest, facts read from the streaming logs) and returns
numbers. run.py does the I/O; tests/test_metrics.py checks the rules.
"""
import statistics

# End-to-end metrics, measured with tracing off. Each workload fills each
# one from its own unit of work (see README.md): a pass over the query
# surface, a round of the iterative operators, or an ingested file.
E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "heap_live_mb": "MB",
}

# Per-layer metrics, from the traced half of a --trace 1 run. Values are
# per operation of the workload unless the name says otherwise.
LAYER_UNITS = {
    "sources.load_ms": "ms",
    "sources.load_jobs": "count",
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.task_deser_ms": "ms",
    "scheduler.delay_ms": "ms",
    "executor.task_run_ms": "ms",
    "executor.task_cpu_ms": "ms",
    "executor.cpu_per_run": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "rows",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.wait_ms": "ms",
    "sink.files": "count",
    "sink.bytes_per_row": "bytes",
    "reader.files_scanned": "count",
    "reader.build_ms": "ms",
    "reader.jobs": "count",
    "generator.late_ms": "ms",
    "trace.overhead_frac": "ratio",
    "trace.reconcile_err_frac": "ratio",
}

# A tail percentile is reported only with at least this many samples
# beyond it.
MIN_BEYOND = 10
TAILS = (0.99, 0.95, 0.90, 0.75)
# The open-loop generator may run at most this late; later, the offered
# load was not what the run claims, and the run fails.
GENERATOR_LATE_LIMIT_MS = 500.0
CATALYST = {"parsing": "analysis", "analysis": "analysis",
            "optimization": "optimization", "planning": "planning"}


def percentile(xs, q):
    """Linear-interpolated percentile of xs, q in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supports(n, q):
    """True when n samples leave at least MIN_BEYOND beyond percentile q."""
    return round(n * (1.0 - q), 9) >= MIN_BEYOND


def timing(prefix, xs, unit="ms", scale=1.0):
    """Median and the highest tail percentile the sample supports, with
    the sample count, as report entries."""
    out = {f"{prefix}_n": (len(xs), "count")}
    if not xs:
        return out
    out[f"{prefix}_p50_{unit}"] = (percentile(xs, 0.5) * scale, unit)
    for q in TAILS:
        if supports(len(xs), q):
            out[f"{prefix}_p{round(q * 100)}_{unit}"] = (percentile(xs, q) * scale, unit)
            break
    return out


def self_times(spans):
    """Self time of each span: its duration minus the part of it covered
    by its children (overlapping children are counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                             for c in kids.get(s["id"], [])):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def attach_phases(spans, phases):
    """Catalyst phases become child spans of the innermost harness span
    that contains them, clamped to it. Phases outside every span (other
    threads' queries) are dropped."""
    out = list(spans)
    next_id = max((s["id"] for s in spans), default=0) + 1
    for q in phases:
        for phase, t in q["phases"].items():
            if phase not in CATALYST:
                continue
            mid = (t["start"] + t["end"]) / 2.0
            holders = [s for s in spans if s["start"] <= mid <= s["end"]]
            if not holders:
                continue
            parent = min(holders, key=lambda s: s["end"] - s["start"])
            out.append({"id": next_id, "op": parent["op"], "parent": parent["id"],
                        "name": "catalyst." + CATALYST[phase],
                        "start": max(t["start"], parent["start"]),
                        "end": min(t["end"], parent["end"])})
            next_id += 1
    return out


def reconcile(spans):
    """For each operation root span: |sum of self times in its tree - wall|
    as a share of wall."""
    selfs = self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    errs = {}
    for op, ss in by_op.items():
        roots = [s for s in ss if s["parent"] == 0]
        if len(roots) != 1:
            continue
        wall = roots[0]["end"] - roots[0]["start"]
        if wall > 0:
            errs[op] = abs(sum(selfs[s["id"]] for s in ss) - wall) / wall
    return errs


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def dur(op):
    return op["end"] - op["due"]


# The closed loops' unit of work (one pass over the query surface, one
# round of the iterative operators) and the operation the per-layer
# metrics are given per (a query, a round, a reader query).
UNIT_KIND = {"athena_surface": "pass", "iterative_rebuild": "round"}
LAYER_KIND = {"athena_surface": "query", "iterative_rebuild": "round",
              "ingest_query_mix": "read"}


def ops_of(raw, kind, window):
    return [o for o in raw["ops"] if o["kind"] == kind and o["window"] == window]


def layer_metrics(raw, ingest=None):
    """Per-layer metrics over the traced window. For the closed loops an
    operation is a query or a round; for ingest, the per-query layers are
    the reader's queries and the streaming layers are the micro-batches."""
    ops = ops_of(raw, LAYER_KIND[raw["workload"]], "traced")
    by_id = {o["id"]: o for o in raw["ops"]}
    counters = {int(k): v for k, v in raw.get("op_counters", {}).items()}
    spans = attach_phases(raw.get("spans", []), raw.get("query_phases", []))

    def members(op):
        return [by_id[c] for c in op["calls"]] if "calls" in op else [op]

    def counter(op, key):
        return sum(counters.get(m["id"], {}).get(key, 0.0) for m in members(op))

    def span_sum(op, name):
        ids = {m["id"] for m in members(op)}
        return sum(s["end"] - s["start"] for s in spans
                   if s["op"] in ids and s["name"] == name)

    def per_op(f):
        return mean([f(o) for o in ops])

    loads = lambda o: [l for m in members(o) for l in m.get("loads", [])]
    m = {
        "sources.load_ms": per_op(lambda o: sum(l["ms"] for l in loads(o))),
        "sources.load_jobs": per_op(lambda o: sum(
            counters.get(l["id"], {}).get("jobs", 0.0) for l in loads(o))),
        "operators.build_ms": per_op(lambda o: span_sum(o, "operators.build")),
        "operators.build_jobs": per_op(lambda o: counter(o, "build_jobs")),
        "codegen.compiles": per_op(lambda o: sum(x["compiles"] for x in members(o))),
        "codegen.compile_ms": per_op(lambda o: sum(x["compile_ms"] for x in members(o))),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = per_op(lambda o: span_sum(o, f"catalyst.{phase}"))
    for name, key in (("scheduler.jobs", "jobs"), ("scheduler.stages", "stages"),
                      ("scheduler.tasks", "tasks"), ("scheduler.task_deser_ms", "task_deser_ms"),
                      ("scheduler.delay_ms", "delay_ms"), ("executor.task_run_ms", "task_run_ms"),
                      ("executor.task_cpu_ms", "task_cpu_ms"),
                      ("shuffle.write_bytes", "shuffle_write_bytes"),
                      ("shuffle.read_bytes", "shuffle_read_bytes"),
                      ("shuffle.fetch_wait_ms", "fetch_wait_ms")):
        m[name] = per_op(lambda o: counter(o, key))
    run = sum(counter(o, "task_run_ms") for o in ops)
    m["executor.cpu_per_run"] = sum(counter(o, "task_cpu_ms") for o in ops) / run if run else 0.0

    reads = ops if raw["workload"] == "ingest_query_mix" else []
    m["reader.build_ms"] = mean([span_sum(o, "operators.build") for o in reads])
    m["reader.jobs"] = mean([counter(o, "jobs") for o in reads])
    m["reader.files_scanned"] = mean([files_scanned(o, raw.get("query_phases", []))
                                      for o in reads])
    m.update(streaming_metrics(raw, ingest) if ingest else
             {k: 0.0 for k in LAYER_UNITS if k.startswith(("streaming.", "sink."))})
    m["generator.late_ms"] = generator_late_ms(raw)

    kind = UNIT_KIND.get(raw["workload"])
    untraced = [dur(o) for o in ops_of(raw, kind, "untraced")]
    traced = [dur(o) for o in ops_of(raw, kind, "traced")]
    if ingest:
        untraced = ingest["latency_by_window"].get("untraced", [])
        traced = ingest["latency_by_window"].get("traced", [])
    m["trace.overhead_frac"] = (percentile(traced, 0.5) / percentile(untraced, 0.5) - 1.0
                                if traced and untraced else 0.0)
    op_ids = {m_["id"] for o in ops for m_ in members(o)}
    errs = [e for op, e in reconcile(spans).items() if op in op_ids]
    m["trace.reconcile_err_frac"] = max(errs) if errs else 0.0
    return m


def files_scanned(op, phases):
    """Files read by the scans of the queries planned during `op`."""
    return sum(q["files"] for q in phases
               if q["phases"] and op["start"] <= max(t["end"] for t in q["phases"].values())
               <= op["end"])


def streaming_metrics(raw, ingest):
    """Micro-batch phases from the streaming progress of batches that took
    in files during the traced window, plus what the sink wrote."""
    batches = ingest["traced_batches"]
    prog = {p["batch"]: p for p in raw.get("progress", []) if p["batch"] in batches}
    dur_key = {"streaming.trigger_ms": "triggerExecution", "streaming.add_batch_ms": "addBatch",
               "streaming.latest_offset_ms": "latestOffset",
               "streaming.planning_ms": "queryPlanning", "streaming.wal_commit_ms": "walCommit",
               "streaming.commit_offsets_ms": "commitOffsets"}
    m = {k: mean([p["duration"].get(v, 0) for p in prog.values()]) for k, v in dur_key.items()}
    m["streaming.batches"] = float(len(prog))
    m["streaming.rows_per_batch"] = mean([p["rows"] for p in prog.values()])
    m["streaming.wait_ms"] = mean([prog[b]["start"] - due for b, due in ingest["traced_waits"]
                                   if b in prog])
    m["sink.files"] = float(ingest["sink_files"])
    m["sink.bytes_per_row"] = ingest["sink_bytes"] / ingest["sink_rows"] if ingest["sink_rows"] else 0.0
    return m


def generator_late_ms(raw):
    late = [f["moved"] - f["due"] for f in raw.get("files", []) if f["window"] != "setup"]
    return max(late) if late else 0.0


def generator_ok(raw):
    return generator_late_ms(raw) <= GENERATOR_LATE_LIMIT_MS


def e2e_metrics(raw, ingest=None):
    """End-to-end metrics of the untraced window, plus the report: every
    metric the workload defines, by name with its unit."""
    w = raw["workload"]
    rep = {"setup_s": (statistics.median(raw["setup_s"]), "s"),
           "heap_live_mb": (raw["heap_live_mb"], "MB")}
    if w == "athena_surface":
        rep.update(timing("query", [dur(o) for o in ops_of(raw, "query", "untraced")]))
        primary = [dur(o) for o in ops_of(raw, "pass", "untraced")]
        rep.update(timing("pass", primary))
    elif w == "iterative_rebuild":
        primary = [dur(o) for o in ops_of(raw, "round", "untraced")]
        rep.update(timing("round", primary, unit="s", scale=1e-3))
    else:
        primary = ingest["latency_by_window"].get("untraced", [])
        rep.update(timing("ingest_latency", primary))
        rep["ingest_drain_s"] = (ingest["drain_ms"] / 1000.0, "s")
        rep.update(timing("reader", [dur(o) for o in ops_of(raw, "read", "untraced")]))
        rep["generator_late_ms"] = (generator_late_ms(raw), "ms")
    # process CPU (task threads, JIT and GC) per unit of work: reported,
    # not gated, as it spread up to 18 % between runs on athena_surface
    rep["cpu_ms_per_op"] = (raw["process_cpu_ms"] / len(primary) if primary else 0.0, "ms")
    metrics = {
        "setup_s": rep["setup_s"][0],
        "latency_p50_ms": percentile(primary, 0.5) if primary else 0.0,
        "heap_live_mb": raw["heap_live_mb"],
    }
    return metrics, rep
