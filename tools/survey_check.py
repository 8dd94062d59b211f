#!/usr/bin/env python3
"""Zero-drift check between SURVEY.md §2 and the registered queries.

Every round the judge reconciles §2's inventory against the driver's
query map by hand; this makes it a command:

  1. every name in `SparkEntry.registry` (read from a Verify dump's
     oracle_sql.json) must be mentioned somewhere in SURVEY.md — an
     implemented-but-undocumented query is coverage the judge can't see;
  2. every backticked query-shaped token in SURVEY §2 must exist in the
     queries map — a documented-but-unregistered name is a phantom
     claim.

Usage: python3 tools/survey_check.py [verify_outdir]
(default /tmp/gv01 — run graft.Verify first)
"""
import json, re, sys

outdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/gv01"
oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# every registered query carries its oracle, so the oracle keys are
# exactly the registry's names
registered = set(oracle)

survey = open("SURVEY.md").read()
sec2 = survey.split("## §2", 1)[1].split("\n## §", 1)[0]

# query-shaped tokens: a1_..., b12b_..., c65b_... inside backticks
QUERY_RE = re.compile(r"`([abc]\d+[a-z]?_[a-z0-9_]+)`")
mentioned = set(QUERY_RE.findall(sec2))

phantom = sorted(mentioned - registered)
undocumented = sorted(registered - set(QUERY_RE.findall(survey)))

ok = True
if phantom:
    ok = False
    print(f"PHANTOM (in SURVEY §2, not registered): {phantom}")
if undocumented:
    ok = False
    print(f"UNDOCUMENTED (registered, absent from SURVEY): {undocumented}")
print(f"registered={len(registered)} mentioned_in_s2={len(mentioned)}")
print("DRIFT CHECK " + ("OK" if ok else "FAILED"))
sys.exit(0 if ok else 1)
