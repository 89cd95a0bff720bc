#!/usr/bin/env python3
"""Machine adjudication of bench >2x flags via the interleaved load sentinel.

Rounds 2, 8/9, and 14 each burned manual adjudication time on phantom
>2x-vs-baseline flags that were co-run box load, not code (every one
reproduced at <=2x on a quiet box). graft.Bench now re-times one fixed
cheap query (the sentinel) every N queries and emits the series in the
JSON line; this script joins the flags against the sentinel windows:

  - a query flagged in a window where the sentinel ITSELF read >2x its
    own series minimum is annotated LOAD (machine-attributable: the box
    was slow for everything, including a query whose plan cannot have
    changed);
  - a flag in a quiet window is annotated REAL? and deserves a plan look.

Usage: tools/bench_flags.py BENCH_rNN.json [--threshold 2.0]
                                           [--emit-flags FILE]
Exit status: 0 if no flags at all; 1 if any REAL? flag; 2 if every flag
is LOAD-attributed (not green — a mandatory quiet-box re-run is printed:
a genuine regression co-occurring with box load would otherwise pass).

--emit-flags FILE (round-16 verdict item #3) writes the flag lists as
JSON ({"real": [...], "load": [...], "errored": [...]}) so
tools/round_close.sh can auto-re-bench the flagged queries solo and
append the adjudication record without a human in the loop.
"""
import json
import re
import sys

BASELINE = "BASELINE.md"


def baseline_walls():
    walls = {}
    lines = open(BASELINE).read().split("\n")
    try:
        start = next(i for i, l in enumerate(lines) if l.startswith("| query | sf |"))
    except StopIteration:
        sys.exit(f"{BASELINE}: no '| query | sf |' table header found — "
                 "the baseline table marker was renamed or removed")
    try:
        end = next(i for i in range(start, len(lines)) if lines[i].startswith("###"))
    except StopIteration:
        sys.exit(f"{BASELINE}: no '###' heading terminates the baseline "
                 "table — the section structure changed")
    for l in lines[start + 2:end]:
        m = re.match(r"\| (q[\w]*) \| [\d.]+ \| ([\d.]+) \|", l)
        if m:
            walls[m.group(1)] = float(m.group(2))
    return walls


def main():
    path = sys.argv[1]
    thr = 2.0
    if "--threshold" in sys.argv:
        thr = float(sys.argv[sys.argv.index("--threshold") + 1])
    emit = None
    if "--emit-flags" in sys.argv:
        emit = sys.argv[sys.argv.index("--emit-flags") + 1]
    bench = json.load(open(path))
    if "queries" not in bench and "parsed" in bench:
        bench = bench["parsed"]  # driver-written BENCH_rNN.json wrapper
        if bench is None or "queries" not in bench:
            sys.exit(f"{path}: the parsed stdout line has no per-query map — "
                     "run this on the committed bench_last.json instead")
    walls = baseline_walls()
    queries = bench["queries"]
    sent = bench.get("sentinel")
    if not sent:
        print(f"{path} has no sentinel series (pre-round-15 bench); "
              "flags cannot be machine-adjudicated", file=sys.stderr)
    # sentinel window w spans catalog indexes [w*every, (w+1)*every);
    # readings times[w] (before) and times[w+1] (after) bound it.
    # Prefer the explicit run-order array (round-16 bench JSON) over
    # assuming the queries object's key order survived parsing.
    names = bench.get("order") or list(queries)
    loads = {}
    if sent:
        times = [t for t in sent["times"] if t >= 0]
        ref = min(times) if times else 0
        for i, n in enumerate(names):
            w = i // sent["every"]
            window = [t for t in sent["times"][w:w + 2] if t >= 0]
            loads[n] = (max(window) / ref) if window and ref > 0 else float("nan")

    real = 0
    load_flags = 0
    flag_lists = {"real": [], "load": [], "errored": []}
    for n in names:
        v = queries[n]
        base = walls.get(n)
        if v < 0:
            print(f"FAIL  {n}: errored run")
            flag_lists["errored"].append(n)
            real += 1
            continue
        if base is None or base <= 0 or v <= thr * base:
            continue
        load = loads.get(n)
        if load is not None and load > thr:
            print(f"LOAD  {n}: {v:.2f}s vs baseline {base:.2f}s "
                  f"({v / base:.1f}x) — sentinel window at {load:.1f}x its minimum")
            flag_lists["load"].append(n)
            load_flags += 1
        else:
            tag = f"sentinel window quiet ({load:.1f}x)" if load is not None \
                else "no sentinel data"
            print(f"REAL? {n}: {v:.2f}s vs baseline {base:.2f}s "
                  f"({v / base:.1f}x) — {tag}")
            flag_lists["real"].append(n)
            real += 1
    if emit:
        with open(emit, "w") as fh:
            json.dump(flag_lists, fh)
    if real == 0 and load_flags == 0:
        print("bench_flags: clean — no flags")
        sys.exit(0)
    if real == 0:
        # LOAD is an attribution, not an acquittal: the box was loaded, so
        # the readings say nothing either way about the flagged plans.
        print(f"bench_flags: {load_flags} LOAD-attributed flag(s), none REAL? — "
              "MANDATORY: re-run the flagged queries on a quiet box "
              "(SPARK_GRAFT_BENCH_ONLY=<names> tools/run_verify.sh graft.Bench) "
              "before treating this bench as green")
        sys.exit(2)
    sys.exit(1)


if __name__ == "__main__":
    main()
