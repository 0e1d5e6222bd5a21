#!/usr/bin/env python3
"""Per-op wall time, Spark jobs and the gaps between them, from a perfbench trace.

    python3 tools/trace_ops.py perfbench/out/trace-llm_curation-11.json

Reads the `trace_records` of a `--trace 1` run of perfbench/run.py and
changes nothing. Each traced op run has an `op` span; its jobs are the
ones whose span is `<op id>:build` or `<op id>:action`. Per op name, over
its traced runs, the table prints the median of:

    wall    the op span, start to end (ms)
    jobs    the number of jobs the op ran
    busy    the time at least one of its jobs was running (ms)
    lead    op start to the first job's start: query build and planning
    between the gaps between one job's end and the next job's start
    tail    the last job's end to the op's end
    max_gap the longest single gap of the run

so wall = busy + lead + between + tail, and a saving shows as fewer jobs,
less busy time or shorter gaps. A last line sums the medians over ops.
"""
import json
import statistics
import sys
from collections import defaultdict


def op_runs(records):
    """(op name, wall, jobs, busy, lead, between, tail, max gap) per run."""
    jobs_by_op = defaultdict(list)
    for j in records.get("jobs", []):
        op_id = str(j.get("span", "")).split(":", 1)[0]
        if "end" in j:
            jobs_by_op[op_id].append((j["start"], j["end"]))
    for span in records.get("spans", []):
        if span.get("kind") != "op":
            continue
        start, end = span["start"], span["end"]
        jobs = sorted(jobs_by_op.get(span["id"], []))
        busy, lead, between, tail, max_gap = 0.0, end - start, 0.0, 0.0, 0.0
        if jobs:
            lead = max(0.0, jobs[0][0] - start)
            max_gap = lead
            cur_s, cur_e = jobs[0]
            for s, e in jobs[1:]:
                if s > cur_e:
                    busy += cur_e - cur_s
                    between += s - cur_e
                    max_gap = max(max_gap, s - cur_e)
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            busy += cur_e - cur_s
            tail = max(0.0, end - cur_e)
            max_gap = max(max_gap, tail)
        yield (span["op"], end - start, len(jobs), busy, lead, between, tail,
               max_gap)


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    with open(argv[1]) as f:
        rec = json.load(f)
    records = rec.get("trace_records") or {}
    if not records.get("spans"):
        sys.exit(f"{argv[1]}: no trace records (was it a --trace 1 run?)")
    by_op = defaultdict(list)
    for run in op_runs(records):
        by_op[run[0]].append(run[1:])
    cols = ("wall", "jobs", "busy", "lead", "between", "tail", "max_gap")
    print(f"{'op':<28} {'runs':>4} " + " ".join(f"{c:>8}" for c in cols))
    rows = []
    for op, runs in by_op.items():
        med = [statistics.median(r[i] for r in runs) for i in range(len(cols))]
        rows.append((op, len(runs), med))
    rows.sort(key=lambda r: -r[2][0])
    for op, n, med in rows:
        print(f"{op:<28} {n:>4} " + " ".join(f"{v:>8.1f}" for v in med))
    total = [sum(r[2][i] for r in rows) for i in range(len(cols))]
    print(f"{'sum of medians':<28} {'':>4} " +
          " ".join(f"{v:>8.1f}" for v in total))
    for key in ("setup_s", "warmup_s"):
        if key in rec:
            print(f"{key}: {rec[key]:.3f}")


if __name__ == "__main__":
    main(sys.argv)
