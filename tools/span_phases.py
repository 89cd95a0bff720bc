#!/usr/bin/env python3
"""Split each operation of a traced perfbench run into phases, per statement kind.

Usage: tools/span_phases.py RUN.spans.jsonl [RUN2.spans.jsonl ...]

Reads the span file a `--trace 1` perfbench run writes next to its result
(`.bench_build/perfbench/results/<workload>-seed<n>-trace1.spans.jsonl`).
An operation is the benchmark's own span (`statement` for wire_mix, `op`
for llm_pipeline); the jobs and SQL executions it caused carry its
`/* pb:<op> */` tag in their description. Each operation's wall time is
tiled into six phases, in ms:

  pre_sql    op start -> first SQL execution start (parse, analysis, and
             for wire_mix the Thrift round trip in)
  to_job     first SQL execution start -> first job start (planning,
             codegen, AQE set-up)
  job        time some job of the op is running (union of job intervals)
  gaps       time between the op's first job start and last job end with
             no job running (AQE stage turnover, broadcast builds)
  sql_tail   last job end -> last SQL execution end, when the execution
             ends last
  after      max(last SQL end, last job end) -> op end (result fetch,
             commit, the Thrift round trip out)

With incremental collect (the wire server's fetch path) the fetch job
runs after its SQL execution has ended; that overrun is counted in `job`
and `gaps`, not twice, and is also printed as `overrun`. Phases are
medians over the operations of a kind, so their sum need not equal the
median wall. The kind is the SQL text of the op's executions with
numbers replaced by `?`; ops whose executions carry no SQL text (catalog
rows and pipeline ops tag the description only) are grouped by the names
of their child spans.
"""
import json
import re
import statistics
import sys
from collections import defaultdict

TAG = re.compile(r"/\* pb:(\d+) \*/")
NUM = re.compile(r"\b\d+(\.\d+)?\b")
OP_SPANS = ("statement", "op")
PHASES = ("pre_sql", "to_job", "job", "gaps", "sql_tail", "after", "overrun")


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def load(path):
    ops, children = {}, defaultdict(set)
    jobs, execs = defaultdict(list), defaultdict(list)
    untagged = 0
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            kind = r["kind"]
            if kind == "span":
                if r["name"] in OP_SPANS and r["op"] not in ops:
                    ops[r["op"]] = (r["start"], r["end"], r["id"])
                else:
                    children[r["op"]].add(r["name"])
            elif kind in ("job", "sql_execution"):
                m = TAG.search(r.get("description") or "")
                if not m:
                    untagged += kind == "job"
                    continue
                # a job or execution still running at window close has end -1
                if r["end"] < r["start"]:
                    continue
                (jobs if kind == "job" else execs)[int(m.group(1))].append(r)
    return ops, children, jobs, execs, untagged


def kind_of(op, children, execs):
    for x in execs:
        sql = TAG.sub("", x.get("description") or "").strip()
        if sql:
            return " ".join(NUM.sub("?", sql).split())
    return "+".join(sorted(children.get(op, ()))) or "(no child spans)"


def phases(op_span, jobs, execs):
    s0, s1, _ = op_span
    j = [(r["start"], r["end"]) for r in jobs]
    x = [(r["start"], r["end"]) for r in execs]
    first_x, last_x = min(s for s, _ in x), max(e for _, e in x)
    job_ms = union_ms(j)
    if j:
        first_j, last_j = min(s for s, _ in j), max(e for _, e in j)
        to_job = first_j - first_x
        gaps = (last_j - first_j) - job_ms
    else:
        first_j = last_j = first_x
        to_job = gaps = 0.0
    return {
        "wall": s1 - s0,
        "pre_sql": first_x - s0,
        "to_job": to_job,
        "job": job_ms,
        "gaps": gaps,
        "sql_tail": max(0.0, last_x - last_j),
        "after": s1 - max(last_x, last_j),
        "overrun": max(0.0, last_j - last_x),
        "jobs": float(len(j)),
    }


def report(path):
    ops, children, jobs, execs, untagged = load(path)
    by_kind = defaultdict(list)
    no_sql = 0
    for op, span in ops.items():
        if not execs.get(op):
            no_sql += 1
            continue
        by_kind[kind_of(op, children, execs[op])].append(phases(span, jobs[op], execs[op]))
    cols = ("n", "wall") + PHASES + ("jobs",)
    print(path)
    print("  " + " ".join(f"{c:>8}" for c in cols) + "  kind")
    rows = sorted(by_kind.items(), key=lambda kv: -len(kv[1]))
    rows.append(("(all)", [p for _, ps in rows for p in ps]))
    for kind, ps in rows:
        med = {c: statistics.median(p[c] for p in ps) for c in cols[1:]}
        cells = [f"{len(ps):>8}"] + [f"{med[c]:>8.1f}" for c in cols[1:]]
        print("  " + " ".join(cells) + "  " + (kind if len(kind) <= 70 else kind[:67] + "..."))
    print(f"  medians in ms (jobs: count); {no_sql} ops without a tagged SQL execution, "
          f"{untagged} untagged jobs left out")


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    for path in sys.argv[1:]:
        report(path)


if __name__ == "__main__":
    main()
