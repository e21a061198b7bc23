#!/usr/bin/env python3
"""Where a live micro-batch's time goes, from a traced trend_live span file.

    python3 tools/trigger_anatomy.py .bench_build/perfbench/traces/trend_live-seed1.jsonl

`perfbench/run.py --workload trend_live --trace 1` writes one span per line.
A trigger span (kind "trigger") has its progress-report parts (kind
"trigger.part": latestOffset, walCommit, getBatch, queryPlanning, addBatch,
commitOffsets) and the micro-batch's Spark jobs (kind "job") as children. The
parts carry the trigger's start time, not their own, but they run in that
order, so a part ends at the trigger start plus the durations up to it.

For each trigger that ran a job (a data trigger, or a no-data one that
evicted state; the span file does not tell them apart) this prints, in ms:
  planning  queryPlanning;
  pre_job   from the end of queryPlanning to the first job: driver planning
            of the physical plan (source partitions, reader factories,
            state-store RDDs, codegen), none of it inside a job;
  jobs      the job count, and job_ms from the first job's start to the last
            job's end;
  post_job  from the last job's end to the end of addBatch: the sink commit;
and the median of each over all such triggers.
"""
import json
import statistics
import sys

BEFORE_ADD = ("latestOffset", "walCommit", "getBatch", "queryPlanning")


def main(path):
    spans = [json.loads(line) for line in open(path)]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    rows = []
    for t in sorted((s for s in spans if s["kind"] == "trigger"), key=lambda s: s["start_ms"]):
        kids = children.get(t["id"], [])
        parts = {k["name"]: k["dur_ms"] for k in kids if k["kind"] == "trigger.part"}
        jobs = sorted((k for k in kids if k["kind"] == "job"), key=lambda j: j["start_ms"])
        if not jobs or not parts.get("addBatch"):
            continue
        plan_end = t["start_ms"] + sum(parts.get(p, 0.0) for p in BEFORE_ADD)
        last_end = max(j["start_ms"] + j["dur_ms"] for j in jobs)
        rows.append({
            "trigger": t["dur_ms"],
            "planning": parts.get("queryPlanning", 0.0),
            "pre_job": jobs[0]["start_ms"] - plan_end,
            "jobs": len(jobs),
            "job_ms": last_end - jobs[0]["start_ms"],
            "post_job": plan_end + parts["addBatch"] - last_end,
        })
    print(f"{len(rows)} trigger(s) with jobs in {path}")
    for k in ("trigger", "planning", "pre_job", "jobs", "job_ms", "post_job"):
        vals = [r[k] for r in rows]
        if vals:
            print(f"{k:9s} p50 {statistics.median(vals):7.0f}   " +
                  " ".join(f"{v:.0f}" for v in vals))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
