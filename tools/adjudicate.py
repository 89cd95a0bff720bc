#!/usr/bin/env python3
"""Append a solo quiet re-bench as the adjudication record of a gate
bench's >2x flags (round-16 verdict item #3: the REAL?-flag loop ran
by hand three times in round 16 — once for an 8.8x phantom — and works;
this automates it).

Usage: tools/adjudicate.py BENCH_rNN.json SOLO_DUMP [--threshold 2.0]

SOLO_DUMP is the bench_scratch.json dump of the flagged-queries-only run
  SPARK_GRAFT_ONLY=<names> SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_BENCH_RUNS=1 \
      tools/run_verify.sh graft.Bench
(one timed run per query, as tools/round_close.sh runs it; a subset run
writes its full record, per-query map included, there; its stdout
carries only the contract scalars).

Each flagged query's verdict, written into the bench JSON under
"adjudication" and printed:
  - "load"      — quiet reading <= threshold x baseline: the gate flag
                  was co-run box load, machine-acquitted;
  - "regressed" — quiet reading still > threshold x baseline: a real
                  regression; exit 1 so round_close fails loudly.
"""
import json
import sys

from bench_flags import baseline_walls


def main():
    bench_path, solo_path = sys.argv[1], sys.argv[2]
    thr = 2.0
    if "--threshold" in sys.argv:
        thr = float(sys.argv[sys.argv.index("--threshold") + 1])
    solo = json.load(open(solo_path))
    if "queries" not in solo:
        sys.exit(f"{solo_path}: no per-query map in the bench dump")
    walls = baseline_walls()
    verdicts = {}
    regressed = 0
    for name, quiet in solo["queries"].items():
        base = walls.get(name)
        if quiet < 0:
            verdicts[name] = {"quiet_sec": quiet, "verdict": "errored"}
            regressed += 1
            print(f"ERRORED   {name}: solo re-run failed")
        elif base is None or base <= 0:
            verdicts[name] = {"quiet_sec": quiet, "verdict": "no-baseline"}
            print(f"NO-BASE   {name}: quiet {quiet:.2f}s, no baseline row")
        elif quiet <= thr * base:
            verdicts[name] = {"quiet_sec": quiet, "baseline_sec": base,
                              "verdict": "load"}
            print(f"LOAD      {name}: quiet {quiet:.2f}s vs baseline "
                  f"{base:.2f}s ({quiet / base:.1f}x) — gate flag acquitted")
        else:
            verdicts[name] = {"quiet_sec": quiet, "baseline_sec": base,
                              "verdict": "regressed"}
            regressed += 1
            print(f"REGRESSED {name}: quiet {quiet:.2f}s vs baseline "
                  f"{base:.2f}s ({quiet / base:.1f}x) — real, fix or re-record")
    bench = json.load(open(bench_path))
    bench["adjudication"] = {"threshold": thr, "queries": verdicts}
    with open(bench_path, "w") as fh:
        json.dump(bench, fh)
    print(f"adjudication record written to {bench_path} "
          f"({len(verdicts)} queries, {regressed} regressed)")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
