#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The first run builds the benchmark
program (``perfbench/build.sbt``, which compiles the library through the
repository's own build) and later runs reuse the build while the sources
are unchanged.  Everything a run writes goes under ``.perfbench/`` in the
checkout.  The last line of stdout is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``).  The full record of the run, including
the per-query or per-trigger breakdown, goes to
``.perfbench/artifacts/<workload>-seed<seed>-trace<t>.json``.

``--make-reference`` instead runs the query slice once, writes each
result as parquet plus the oracle SQL for ``tools/check.py``, and
rewrites ``perfbench/reference/sf0.01.json`` from the digests.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_events  # noqa: E402

BENCH_DIR = "perfbench"
WORK = ".perfbench"
REFERENCE = os.path.join(BENCH_DIR, "reference", "sf0.01.json")
DATA = os.path.join(BENCH_DIR, "data", "sf0.01")

WORKLOADS = ("ingest_drain", "queries_analytics")
# ingest_drain: backlog size per second of --seconds, drained in three
# equal micro-batches (create tables / ADD COLUMN / widen, see gen_events)
DRAIN_EVENTS_PER_SECOND = 200
DRAIN_TRIGGERS = 3
# a small warm-up stream through the whole pipeline, over a few types
WARM_EVENTS = 400
WARM_TYPES = gen_events.TYPE_NAMES[:4]
# queries_analytics: the untimed warm-up query (not in the slice)
QUERY_WARMUP = ["a2_route_counts"]

# a run must end within 180 s of its start (the build aside); the JVM
# gets what is left of RUN_LIMIT_S once the inputs are written
RUN_LIMIT_S = 176
BUILD_TIMEOUT_S = 850
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_proc(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def sources_fingerprint():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties")]
    for root in ("src/main", os.path.join(BENCH_DIR, "src")):
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the benchmark (and through it the library); return the
    runtime classpath.  Skipped while the sources are unchanged."""
    os.makedirs(WORK, exist_ok=True)
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    fp = sources_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log = os.path.join(WORK, "build.log")
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.override.build.repos=true"
                       + f" -Djava.io.tmpdir={tmp}")
    with open(log, "w") as out:
        code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"],
                        BUILD_TIMEOUT_S, cwd=BENCH_DIR, stdout=out, stderr=subprocess.STDOUT,
                        stdin=subprocess.DEVNULL, env=env)
    lines = open(log).read().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    if "graft-perfbench" not in cp and "perfbench" not in cp:
        die(f"could not read the classpath from the build; see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


def jvm(cp, run_dir, args, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    log = os.path.join(run_dir, "jvm.log")
    timeout = max(1.0, deadline - time.time())
    with open(log, "w") as out:
        try:
            code = run_proc(cmd, timeout, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env)
        except subprocess.TimeoutExpired:
            code = f"timeout after {timeout:.0f} s"
    if code != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"benchmark program failed (exit {code})", 1)


def write_jobs(path, jobs):
    with open(path, "w") as f:
        for j in jobs:
            f.write(j + "\n")


def check_ingest(out, exp, meta):
    """Compare what landed with what the generator designed.  A published
    event fails if it is missing, duplicated, in another type's table,
    or (for an invalid job) present in any table; a table whose schema
    or read-back aggregates differ fails all its events.  The read-back
    must agree with the rows the table holds, planted invalid jobs that
    landed in it included."""
    checks = out["checks"]
    seen = {}
    for t, ids in checks["landed"]["ids"].items():
        for eid in ids:
            seen.setdefault(eid, []).append(t)
    want = {eid: t for t, v in exp["types"].items() for eid in v["ids"]}
    invalid = set(exp["invalid_ids"])
    failed, problems = set(), []
    for eid, t in want.items():
        if seen.get(eid) != [t]:
            failed.add(eid)
    landed_invalid = sorted(eid for eid in invalid if eid in seen)
    if landed_invalid:
        failed.update(landed_invalid)
        problems.append("planted invalid jobs landed as events: " + ", ".join(
            f"{eid} in {'/'.join(seen[eid])}" for eid in landed_invalid))
    stray = [eid for eid in seen if eid not in want and eid not in invalid]
    failed.update(stray)
    ts_of = {eid: ts for _, eid, ts, _ in meta}
    for t, v in exp["types"].items():
        schema = checks["schemas"].get(t)
        if schema is None:
            problems.append(f"{t}: no table")
            failed.update(v["ids"])
            continue
        bad = []
        if schema != exp["schema"]:
            diff = sorted(set(schema.items()) ^ set(exp["schema"].items()))
            bad.append(f"schema differs: {diff[:6]}")
        rb = checks["readback"].get(t)
        extra = [eid for eid in checks["landed"]["ids"].get(t, []) if eid in invalid]
        n = len(v["ids"]) + len(extra)
        hours = {str(h): c for h, c in v["hours"].items()}
        for eid in extra:  # received_at is the job's ts, parsed before the cut
            h = str(ts_of[eid] // (3600 * 10**9))
            hours[h] = hours.get(h, 0) + 1
        if rb is not None:
            if rb["count"] != n or rb["distinct_message_ids"] != n:
                bad.append(f"read-back count {rb['count']} / distinct {rb['distinct_message_ids']} != {n}")
            if rb["hours"] != hours:
                bad.append("hourly counts differ")
            if rb["screen_width_sum"] != v["screen_width_sum"]:
                bad.append(f"screen width sum {rb['screen_width_sum']} != {v['screen_width_sum']}")
        if bad:
            problems.append(f"{t}: " + "; ".join(bad))
            failed.update(v["ids"])
    extra = sorted(set(checks["schemas"]) - set(exp["types"]))
    if extra:
        problems.append(f"unexpected tables: {extra}")
    if checks["landed"]["dlq_rows"]:
        problems.append(f"{checks['landed']['dlq_rows']} rows dead-lettered")
    if checks["consumed"] != exp["n_jobs"]:
        problems.append(f"consumed {checks['consumed']} of {exp['n_jobs']} jobs")
        failed.update(range(1, exp["n_jobs"] + 1))
    layers = out.get("layers") or {}
    if out["traced"] and out["workload"] == "ingest_drain":
        n_types = len(exp["types"])
        want_added = n_types * exp["columns_added_per_table"]
        want_widened = n_types * exp["columns_widened_per_table"]
        if (layers.get("operators.columns_added"), layers.get("operators.columns_widened")) != \
                (want_added, want_widened):
            problems.append(
                f"replay counted {layers.get('operators.columns_added')} added / "
                f"{layers.get('operators.columns_widened')} widened columns, design says "
                f"{want_added} / {want_widened}")
    return {"attempted": exp["n_jobs"], "failed": len(failed),
            "failed_ids": sorted(failed)[:50], "problems": problems}


def load_reference():
    with open(REFERENCE) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (one workload, one seed)")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-reference", action="store_true")
    a = ap.parse_args()
    if not a.make_reference and a.workload is None:
        die("--workload is required")
    for need in ("build.sbt", "src/main/scala/graft", os.path.join(BENCH_DIR, "build.sbt"), DATA,
                 "BENCHMARK.json"):
        if not os.path.exists(need):
            die(f"run from the root of a graft checkout: {need} is missing")

    cp = build()
    t0 = time.time()  # set-up starts here: the build is not part of it
    run_dir = os.path.abspath(os.path.join(WORK, f"run-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    out_file = os.path.join(run_dir, "out.json")
    ref = load_reference()

    if a.make_reference:
        return make_reference(cp, run_dir, out_file, ref)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--t0-ms", str(int(t0 * 1000)), "--work", os.path.join(run_dir, "work"),
            "--out", out_file, "--data", os.path.abspath(DATA)]
    exp = None
    if a.workload == "ingest_drain":
        n = max(4 * gen_events.N_TYPES, DRAIN_EVENTS_PER_SECOND * a.seconds)
        jobs, meta = gen_events.generate(a.seed, n)
        exp = gen_events.expectation(meta, n)
        write_jobs(os.path.join(run_dir, "jobs.jsonl"), jobs)
        warm, warm_meta = gen_events.generate(a.seed + 1_000_003, WARM_EVENTS)
        write_jobs(os.path.join(run_dir, "warm.jsonl"),
                   [j for j, m in zip(warm, warm_meta) if m[0] in WARM_TYPES])
        args += ["--jobs", os.path.join(run_dir, "jobs.jsonl"),
                 "--warm-jobs", os.path.join(run_dir, "warm.jsonl"),
                 "--max-per-trigger", str(-(-n // DRAIN_TRIGGERS))]
    else:
        args += ["--names", ",".join(ref["slices"][a.workload]),
                 "--warm", ",".join(QUERY_WARMUP),
                 "--reference", os.path.abspath(REFERENCE)]
    jvm(cp, run_dir, args, t0 + RUN_LIMIT_S)
    with open(out_file) as f:
        out = json.load(f)

    if exp is not None:
        verdict = check_ingest(out, exp, meta)
        out["checks"]["landed"] = {"tables": sorted(out["checks"]["landed"]["ids"]),
                                   "dlq_rows": out["checks"]["landed"]["dlq_rows"]}
    else:
        c = out["checks"]
        verdict = {"attempted": c["attempted"], "failed": c["failed"],
                   "problems": [f"{k}: {v}" for k, v in sorted(c["failures"].items())]}
    for p in verdict["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    measured = out["layers"] if a.trace else dict(out["metrics"], setup_s=out["setup_s"])
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    correct = verdict["failed"] == 0 and not verdict["problems"]
    artifact = dict(out, verdict=verdict, seconds=a.seconds)
    untraced = os.path.join(WORK, "artifacts", f"{a.workload}-seed{a.seed}-trace0.json")
    if a.trace and os.path.exists(untraced):
        base = json.load(open(untraced))
        artifact["trace_overhead"] = {
            k: {"traced": out["metrics"][k], "untraced": base["metrics"][k],
                "ratio": out["metrics"][k] / base["metrics"][k] if base["metrics"][k] else None}
            for k in out["metrics"]}
        artifact["trace_overhead"]["setup_s"] = {"traced": out["setup_s"], "untraced": base["setup_s"]}
        print("perfbench: tracing overhead (traced / untraced): " + ", ".join(
            f"{k} {v['ratio']:.3f}" for k, v in artifact["trace_overhead"].items() if v.get("ratio")),
            file=sys.stderr)
    with open(os.path.join(WORK, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    shutil.copy(os.path.join(run_dir, "jvm.log"),
                os.path.join(WORK, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": verdict["attempted"],
                      "failed": verdict["failed"], "metrics": metrics}))


def make_reference(cp, run_dir, out_file, ref):
    """Run the slice once, emit results for tools/check.py, and record
    its digests as the reference."""
    emit = os.path.join(run_dir, "results")
    names = ref["slices"]["queries_analytics"]
    jvm(cp, run_dir, ["--workload", "queries_analytics", "--seed", "0", "--trace", "0",
                      "--t0-ms", str(int(time.time() * 1000)), "--work", os.path.join(run_dir, "work"),
                      "--out", out_file, "--data", os.path.abspath(DATA),
                      "--names", ",".join(names), "--emit", emit], time.time() + RUN_LIMIT_S)
    out = json.load(open(out_file))
    if out["checks"]["failed"]:
        die(f"queries failed: {out['checks']['failures']}", 1)
    ref["queries"] = out["checks"]["digests"]
    with open(REFERENCE, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {REFERENCE}; results for tools/check.py are in {emit}")


if __name__ == "__main__":
    main()
