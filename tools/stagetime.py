#!/usr/bin/env python3
"""Stage-level wall attribution from a Spark event log directory.

Usage: python3 tools/stagetime.py /tmp/evlog [topN]

Pairs with: run a main via tools/run.sh with
  -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/evlog
and setJobDescription labels (PlanTime sets <query>:exec / :construct),
then read where the wall time went per stage — the UI's Stages tab for
a UI-less container (the event log is the same data).
"""
import io
import json
import subprocess
import sys


def lines(path):
    if path.endswith(".zstd"):
        p = subprocess.Popen(["zstd", "-dc", path], stdout=subprocess.PIPE)
        return io.TextIOWrapper(p.stdout, encoding="utf-8")
    return open(path, encoding="utf-8")


def main():
    import glob
    import os
    d = sys.argv[1]
    topn = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    # rolling logs: eventlog_v2_<app>/events_<n>_<app>[.zstd]; the
    # default (spark.eventLog.rolling.enabled=false) writes one file per
    # app, <app>[.zstd], straight into the directory
    fs = glob.glob(f"{d}/events_*") + glob.glob(f"{d}/*/events_*") + \
        [f for f in glob.glob(f"{d}/*") if os.path.isfile(f)
         and not os.path.basename(f).startswith(("events_", "eventlog", "appstatus"))
         and not f.endswith(".inprogress")]
    stages, props = {}, {}
    for f in fs:
        for line in lines(f):
            try:
                e = json.loads(line)
            except ValueError:
                continue
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                desc = e.get("Properties", {}).get("spark.job.description", "")
                for sid in e.get("Stage IDs", []):
                    props[sid] = desc
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000
                stages[si["Stage ID"]] = (
                    dur, si["Number of Tasks"], si["Stage Name"].split("\n")[0][:60])
    for sid, (dur, n, name) in sorted(stages.items(), key=lambda kv: -kv[1][0])[:topn]:
        print(f"stage {sid:3d} {dur:7.2f}s {n:5d} tasks  "
              f"{props.get(sid, '')[:30]:30s} {name}")
    print(f"total stage wall {sum(v[0] for v in stages.values()):.2f}s over "
          f"{len(stages)} stages")


if __name__ == "__main__":
    main()
