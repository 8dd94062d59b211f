#!/usr/bin/env python3
"""Per-stage breakdown from a Spark event log: for each job description
(bench query), the top stages by wall time with task count and summed
executor run time — shows whether a slow stage is low-parallelism CPU,
task-launch overhead, or skew.

Usage: python3 tools/stagelog.py <event-log file or dir> [query-substring]

Jobs group as in tools/joblog.py.
"""
import sys, collections

from eventlog import events, job_label

path = sys.argv[1]
want = sys.argv[2] if len(sys.argv) > 2 else None

stage_desc = {}
stages = {}
tasks = collections.defaultdict(lambda: [0.0, 0])  # stage -> [sum run ms, n]
for e in events(path):
    t = e.get("Event")
    if t == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        d = job_label(props)
        for si in e.get("Stage Infos") or []:
            stage_desc[si["Stage ID"]] = d
    elif t == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        sub = si.get("Submission Time")
        if sub:
            stages[si["Stage ID"]] = (
                (si.get("Completion Time", sub) - sub) / 1000.0,
                si["Number of Tasks"])
    elif t == "SparkListenerTaskEnd":
        sid = e["Stage ID"]
        m = e.get("Task Metrics") or {}
        tasks[sid][0] += m.get("Executor Run Time", 0)
        tasks[sid][1] += 1

if not stage_desc:
    sys.exit(f"{path}: no Spark job in this log")

per = collections.defaultdict(list)
for sid, (wall, ntask) in stages.items():
    per[stage_desc.get(sid, "<unlabeled>")].append((wall, sid, ntask))

for desc, ss in sorted(per.items(), key=lambda kv: -sum(w for w, _, _ in kv[1])):
    if want and want not in desc:
        continue
    print(f"\n== {desc}  stage-wall sum {sum(w for w,_,_ in ss):.2f}s, {len(ss)} stages ==")
    for wall, sid, ntask in sorted(ss, reverse=True)[:12]:
        run, n = tasks.get(sid, [0.0, 0])
        print(f"  stage {sid:5d}  wall {wall:7.3f}s  tasks {ntask:4d}  "
              f"exec-run {run/1000.0:7.2f}s  avg {run/max(1,n):6.0f}ms/task")
