"""Correctness checks and the ingest facts read from the streaming logs.

Query results are compared by the canonical hash of tools/oracle_check.py
(the JVM harness computes the same hash over the rows it fetched).
"""
import glob
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
from oracle_check import canon, hash_df  # noqa: E402

EXPECTED = Path(__file__).resolve().parent / "expected_hashes.json"
NAMES_COLUMNS = {"name": "VARCHAR", "gender": "VARCHAR", "address": "VARCHAR",
                 "city": "VARCHAR", "nation": "VARCHAR", "zip": "VARCHAR",
                 "latitude": "DOUBLE", "longitude": "DOUBLE", "email": "VARCHAR"}


def _log_entries(log_dir):
    """Batch id -> (commit time in epoch ms, entries) of a streaming
    metadata log (source or sink). A compacted file holds every earlier
    entry; a batch's own file, when present, gives its commit time."""
    out = {}
    for p in sorted(glob.glob(os.path.join(log_dir, "[0-9]*"))):
        base = os.path.basename(p)
        if base.endswith(".tmp") or base.startswith("."):
            continue
        batch = int(base.split(".")[0])
        with open(p) as f:
            lines = f.read().splitlines()[1:]
        out[batch] = (os.stat(p).st_mtime_ns / 1e6, [json.loads(l) for l in lines if l])
    return out


def ingest_facts(raw):
    """Per-file latency (due time -> its batch committed in the sink log),
    drain time, and what the sink holds."""
    src_log = _log_entries(os.path.join(raw["checkpoint_dir"], "sources", "0"))
    sink_log = _log_entries(os.path.join(raw["landed_dir"], "_spark_metadata"))
    batch_of = {}
    for _, (_, entries) in src_log.items():
        for e in entries:
            batch_of[os.path.basename(e["path"])] = e["batchId"]
    commit = {b: t for b, (t, _) in sink_log.items()}
    sink_files = {}
    for _, (_, entries) in sink_log.items():
        for e in entries:
            if e.get("action", "add") == "add":
                sink_files[e["path"]] = e["size"]
    latency, traced_batches, traced_waits, missing = {}, set(), [], []
    for f in raw["files"]:
        b = batch_of.get(f["file"])
        if b is None or b not in commit:
            missing.append(f["file"])
            continue
        latency.setdefault(f["window"], []).append(commit[b] - f["due"])
        if f["window"] == "traced":
            traced_batches.add(b)
            traced_waits.append((b, f["due"]))
    measured = [f for f in raw["files"] if f["window"] in ("untraced", "traced")]
    last_due = max(f["due"] for f in measured)
    done = max(commit[batch_of[f["file"]]] for f in raw["files"] if f["file"] not in missing)
    return {
        "latency_by_window": latency, "drain_ms": done - last_due,
        "traced_batches": traced_batches, "traced_waits": traced_waits,
        "missing": missing, "sink_paths": [p.replace("file://", "", 1) for p in sink_files],
        "sink_files": len(sink_files), "sink_bytes": sum(sink_files.values()),
        "sink_rows": raw["records_per_file"] * (len(raw["files"]) - len(missing)),
    }


def query_failures(raw):
    """Operations that failed or whose result hash differs from the pinned
    one. Ingest's reader passes are checked in `ingest_failures`."""
    expected = json.loads(EXPECTED.read_text())
    bad = []
    for o in raw["ops"]:
        if o["kind"] in ("query", "call"):
            want = expected[o["name"]]["hash"]
            if not o["ok"] or o.get("hash") != want:
                bad.append(f"{o['name']}#{o['id']}: {o.get('error', 'hash mismatch')}")
        elif o["kind"] == "read" and not o["ok"]:
            bad.append(f"{o['name']}#{o['id']}: {o.get('error')}")
    return bad


def ingest_failures(raw, facts):
    """Every generated record landed exactly once, and the last reader
    pass equals DuckDB's answer over the landed files."""
    import duckdb
    bad = [f"{f}: never landed" for f in facts["missing"]]
    con = duckdb.connect()
    cols = ", ".join(f"'{k}': '{v}'" for k, v in NAMES_COLUMNS.items())
    sources = [os.path.join(raw["source_dir"], f["file"]) for f in raw["files"]]
    con.execute(f"CREATE VIEW generated AS SELECT * FROM read_json({sources!r}, "
                f"columns={{{cols}}}, format='newline_delimited')")
    con.execute(f"CREATE VIEW names AS SELECT * FROM read_parquet({facts['sink_paths']!r})")
    gen = con.execute("SELECT * FROM generated").df()
    got = con.execute(f"SELECT {', '.join(NAMES_COLUMNS)} FROM names").df()
    if len(gen) != len(got):
        bad.append(f"landed {len(got)} rows, generated {len(gen)}")
    elif hash_df(canon(gen)) != hash_df(canon(got)):
        bad.append("landed rows differ from the generated records")
    finals = {o["name"]: o for o in raw["ops"] if o["window"] == "final"}
    for name, sql in raw["reader_sql"].items():
        want = hash_df(canon(con.execute(sql.replace("graft.names", "names")).df()))
        o = finals.get(name)
        if o is None or not o["ok"] or o.get("hash") != want:
            bad.append(f"final {name}: {o.get('error', 'differs from DuckDB') if o else 'missing'}")
    return bad


def problems(raw, facts=None):
    """Everything wrong with a run: failed or wrong operations, records
    lost or duplicated by ingest, and a generator that ran too late to
    have offered the stated load."""
    import metrics
    bad = query_failures(raw)
    if facts is not None:
        bad += ingest_failures(raw, facts)
    if not metrics.generator_ok(raw):
        bad.append(f"generator ran {metrics.generator_late_ms(raw):.1f} ms late "
                   f"(limit {metrics.GENERATOR_LATE_LIMIT_MS} ms)")
    return bad
