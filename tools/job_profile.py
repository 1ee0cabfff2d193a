#!/usr/bin/env python3
"""Attribute a query's wall time to Spark jobs from an event log.

Usage:
  JAVA_EXTRA="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/evlog" \
    tools/run.sh graft.TimeQuery <sfDir> q_ann_beam 1
  python3 tools/job_profile.py /tmp/evlog/<app-id>

Prints every job (submit->end wall ms, call site) in order, then a
rollup by call site: job count, total ms. The gaps between jobs are
driver-side time (planning/analysis/collects outside jobs) — reported
as 'driver gap'. This is the r15 optimization round's measurement
harness for job-floor-dominated queries (guide §1/§7.3).
"""
import json, sys, os, glob

path = sys.argv[1]
if os.path.isdir(path):
    files = sorted(glob.glob(path + "/*"), key=os.path.getmtime)
    path = files[-1]
if os.path.isdir(path):  # Spark 4 rolling (v2) layout: a dir per app
    path = sorted(glob.glob(path + "/events_*"))[-1]


def lines(p):
    if p.endswith(".zstd"):
        import subprocess
        out = subprocess.run(["zstd", "-dc", p], capture_output=True)
        for ln in out.stdout.decode(errors="replace").splitlines():
            yield ln
    else:
        yield from open(p, errors="replace")

jobs = {}      # id -> dict(site, submit, end)
order = []
stages = {}    # stageId -> dict(name, submit, complete, tasks, taskTime)
for line in lines(path):
    try:
        e = json.loads(line)
    except json.JSONDecodeError:
        continue
    ev = e.get("Event")
    if ev == "SparkListenerJobStart":
        jid = e["Job ID"]
        props = e.get("Properties") or {}
        site = props.get("callSite.short") or ""
        if not site:
            infos = e.get("Stage Infos") or []
            if infos:
                site = max(infos, key=lambda si: si["Stage ID"])["Stage Name"]
        jobs[jid] = {"site": site, "submit": e["Submission Time"], "end": None}
        order.append(jid)
    elif ev == "SparkListenerJobEnd":
        jid = e["Job ID"]
        if jid in jobs:
            jobs[jid]["end"] = e["Completion Time"]
    elif ev == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        stages[si["Stage ID"]] = {
            "name": si["Stage Name"],
            "submit": si.get("Submission Time"),
            "complete": si.get("Completion Time"),
            "tasks": si.get("Number of Tasks"),
        }

if not order:
    sys.exit("no jobs found in " + path)

t0 = jobs[order[0]]["submit"]
prev_end = t0
rollup = {}
print(f"{'job':>4} {'start_ms':>9} {'dur_ms':>8} {'gap_ms':>7}  call site")
total_gap = 0
for jid in order:
    j = jobs[jid]
    if j["end"] is None:
        continue
    gap = j["submit"] - prev_end
    total_gap += max(0, gap)
    print(f"{jid:>4} {j['submit']-t0:>9} {j['end']-j['submit']:>8} {gap:>7}  {j['site']}")
    prev_end = max(prev_end, j["end"])
    r = rollup.setdefault(j["site"], [0, 0])
    r[0] += 1
    r[1] += j["end"] - j["submit"]

print("\nrollup by call site (count, total ms):")
for site, (n, ms) in sorted(rollup.items(), key=lambda kv: -kv[1][1]):
    print(f"{ms:>8} ms  x{n:<3} {site}")
print(f"\njobs total: {sum(ms for _, ms in rollup.values())} ms   "
      f"driver gaps between jobs: {total_gap} ms   "
      f"wall (first submit -> last end): {prev_end - t0} ms")
