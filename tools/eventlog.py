"""Spark event-log reading shared by tools/joblog.py and tools/stagelog.py.

A log is one file, plain or `.zstd`, or a directory holding one (Spark
4.1's default rolling `eventlog_v2_<app>/events_<n>_<app>.zstd`). A
`.zstd` file is read through `zstd -dc`.
"""
import json, os, re, shutil, subprocess, sys


def _files(path):
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    if not names:
        sys.exit(f"{path}: no events_* file in this directory")
    # events_<n>_<app>: in roll order
    idx = lambda n: int(m.group(1)) if (m := re.match(r"events_(\d+)_", n)) else 0
    return [os.path.join(path, n) for n in sorted(names, key=idx)]


def _lines(f):
    if not f.endswith(".zstd"):
        with open(f, errors="replace") as fh:
            yield from fh
        return
    if shutil.which("zstd") is None:
        sys.exit(f"{f}: zstd is not on PATH; rerun with "
                 "spark.eventLog.compress=false for a plain-text log")
    p = subprocess.Popen(["zstd", "-dc", f], stdout=subprocess.PIPE,
                         text=True, errors="replace")
    yield from p.stdout
    if p.wait() != 0:
        sys.exit(f"{f}: zstd -dc failed")


def events(path):
    """Every JSON-object line of the log, in order; other lines are skipped."""
    for f in _files(path):
        for line in _lines(f):
            try:
                e = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(e, dict):
                yield e


def job_label(props):
    """A job's group: its description on one line (graft.Bench.timeOnce
    sets one per bench query; a stream sets `id = … runId = … batch = …`),
    else its stream query and micro-batch."""
    if props.get("spark.job.description"):
        return " ".join(props["spark.job.description"].split())
    q, b = props.get("sql.streaming.queryId"), props.get("streaming.sql.batchId")
    if q is not None and b is not None:
        return f"query {q} batch {b}"
    return "<unlabeled>"
