#!/usr/bin/env python3
"""Summarize a Spark event log: one line per job with wall time and the
job description / first stage name, so bench wall-clock can be attributed
to the operator's individual jobs while optimizing.

Usage: python3 tools/joblog.py <event-log-file> [min_sec]
"""
import json
import sys


def main() -> None:
    path = sys.argv[1]
    min_sec = float(sys.argv[2]) if len(sys.argv) > 2 else 0.0
    jobs = {}
    order = []
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if not isinstance(ev, dict):
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                stages = ev.get("Stage Infos") or []
                name = stages[-1]["Stage Name"] if stages else ""
                jobs[jid] = {"start": ev["Submission Time"], "desc": desc,
                             "name": name, "end": None}
                order.append(jid)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]
    total = 0.0
    for jid in order:
        j = jobs[jid]
        if j["end"] is None:
            continue
        sec = (j["end"] - j["start"]) / 1000.0
        total += sec
        if sec >= min_sec:
            label = j["desc"] or j["name"]
            print(f"job {jid:4d}  {sec:8.3f}s  {label[:110]}")
    print(f"total job wall (sum, overlaps double-counted): {total:.2f}s "
          f"over {len(order)} jobs")


if __name__ == "__main__":
    main()
