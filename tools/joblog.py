#!/usr/bin/env python3
"""Parse a Spark event log into per-query / per-job wall times.

Usage: python3 tools/joblog.py <event-log file or dir> [query-substring]

Groups jobs by spark.job.description (set per bench query by
graft.Bench.timeOnce), or, for a job without one, by its stream query
and micro-batch (tools/eventlog.py reads the log). Per query: total wall window, then each job's
duration, submission offset and its last stage's name — so per-leg
cost inside a multi-action query is visible. Jobs submitted
concurrently (AQE fans out independent subtrees) overlap; the offset
column makes that visible.
"""
import sys, collections

from eventlog import events, job_label

path = sys.argv[1]
want = sys.argv[2] if len(sys.argv) > 2 else None

jobs = {}
for e in events(path):
    t = e.get("Event")
    if t == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        stages = e.get("Stage Infos") or []
        name = stages[-1]["Stage Name"] if stages else ""
        nstage = len(stages)
        jobs[e["Job ID"]] = {
            "desc": job_label(props),
            "site": f"{name} ({nstage} stages)",
            "t0": e.get("Submission Time", 0),
        }
    elif t == "SparkListenerJobEnd":
        j = jobs.get(e["Job ID"])
        if j is not None:
            j["t1"] = e.get("Completion Time", 0)

if not jobs:
    sys.exit(f"{path}: no Spark job in this log")

per = collections.defaultdict(list)
for jid, j in sorted(jobs.items()):
    if "t1" not in j:
        continue
    per[j["desc"]].append((jid, j["t0"], j["t1"], j["site"]))

def wall(js):
    return (max(t1 for _, _, t1, _ in js) - min(t0 for _, t0, _, _ in js)) / 1000.0

order = sorted(per.items(), key=lambda kv: -wall(kv[1]))
for desc, js in order:
    if want and want not in desc:
        continue
    base = min(t0 for _, t0, _, _ in js)
    print(f"\n== {desc}  wall {wall(js):.2f}s over {len(js)} jobs ==")
    for jid, t0, t1, site in js:
        d = (t1 - t0) / 1000.0
        if d < 0.05:
            continue
        print(f"  job {jid:4d}  +{(t0-base)/1000.0:7.2f}  {d:7.3f}s  {site[:110]}")
