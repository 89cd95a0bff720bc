#!/usr/bin/env python3
"""Re-record BASELINE.md's main per-query table from co-run bench output.

Round-10 fix for the recurring solo-vs-co-run measurement skew (rounds
8-9 verdicts): BASELINE.md rows were historically a mix of solo
fresh-JVM records and co-run readings, while the driver's gate measures
a full-catalog co-run — so every round re-litigated phantom >2x flags.
This script makes the recording convention IDENTICAL to the gate's
measurement: per-query wall = max over the supplied co-run bench JSONs
(each produced by `sbt "runMain graft.Bench"` at sf0.1, the exact
driver invocation), and the solo-record caveats are stripped.

Usage: tools/rebaseline.py corun1.json [corun2.json ...]
       tools/rebaseline.py --quiet-rerecord [--deflate-below X] q1.json q2.json
       tools/rebaseline.py --only qa,qb [...] run1.json [run2.json ...]

--only qa,qb (round-16 verdict item #4): restrict the re-record to the
named queries — the surgical mode for folding a KNOWN structural drift
(a deliberate plan rework whose honest gate-SF wall moved) without
touching any other row. Max-fold convention over the supplied runs,
like the default mode.

--quiet-rerecord (round-14 verdict item #8): the max-fold convention
only ever RATCHETS rows UP — a co-run load spike permanently inflates
its row, and after three phantom-flag episodes (rounds 2, 8/9, 14) the
>2x gate has lost teeth on the inflated rows. This mode re-records DOWN:
any row where BOTH supplied quiet readings sit below --deflate-below
(default 0.6) times the recorded baseline is reset to the max of the
quiet readings (still the co-run max-fold convention, just fed honest
inputs); all other rows are kept untouched. Run it on two quiet-box
full benches after a round's flags are adjudicated.

--deflate-below 1.0 (round-15 verdict item #3) re-records EVERY row
where both quiet readings sit below the recorded value — the full
teeth-restoration pass. Safe now that the interleaved sentinel + the
bench_flags LOAD protocol machine-adjudicate co-run inflation at gate
time instead of the baseline absorbing it forever.
"""
import json
import re
import sys

FILE = "BASELINE.md"
CONFIG = "local[32], AQE on, shuffle.partitions=32"

# caveat fragments that described the old solo-record convention;
# they are obsolete once the number itself is a co-run reading
STRIP = [
    "; solo fresh-JVM record",
    " — re-record from the next quiet full bench",
]

NEW_ROWS = {
    "q_mm_decode_real": "round 10: REAL image decode — deterministic pixels -> real PNG encode -> real ImageIO decode -> integer channel sums, all partition-local (payloads never shuffle); oracle is the closed-form pixel formula, so the hash match certifies the codec round-trip",
    "q_mm_resize_real": "round 10: REAL image resize — decode -> nearest-neighbor 2x -> re-encode -> decode again; stats survive two full codec round-trips; same map-only shape as q_mm_decode_real",
    "q_mm_audio_decode_real": "round 10: REAL audio decode — deterministic PCM -> real WAV encode -> real AudioSystem decode -> integer sample stats, partition-local; oracle is the closed-form sample formula, so the hash match certifies the codec round-trip",
    "q_mm_audio_resample_real": "round 10: REAL audio resample — decode -> 2x decimate -> re-encode at 4 kHz -> decode again; sample stats and the rate header survive two full codec round-trips",
    "q_mm_video_frames_real": "round 11: REAL multi-frame video decode — deterministic gray frames -> real animated-GIF encode (writeToSequence) -> real per-frame ImageReader decode -> per-frame pixel stats; hash match certifies frame count + dims + pixels",
    "q_mm_video_sample_real": "round 11: REAL video frame sampling — decode -> keep every 2nd frame -> re-encode as a new animated GIF -> decode again; frame count/order/pixels survive two container round-trips",
    "q_cur_pack_sequences": "round 11: sequence packing (concat-and-chunk into 256-token windows) — one distributed two-pass prefix sum over doc_id order, the q_cur_token_budget machinery",
    "q_cur_pack_stats": "round 11: packed-window manifest — per-window doc counts / segment resets / gap-free certification; per-doc explode into only overlapped windows + one seq_id agg",
    "q_cur_mad_outliers": "round 11: robust median/MAD outlier gate — exact integer order-stats on the value-distinct frame, one corpus count pass",
    "q_text_psi_bysource": "round 11: PSI drift matrix vs the reference source — hashed-256-bucket features, nano fixed-point terms on the model grid",
    "q_window_groups_sql": "round 13: GROUPS frame in literal SQL text — since round 17 the peer-group cells form (per-(status, day) partial aggregate, dense_rank + RANGE windows over the cells, null-safe join back), the plan q_window_groups_emul hand-builds, reached by a Catalyst rule on the marked Window",
    "q_text_heavy_hitters_scaled": "round 13: self-sizing MG top-20 — escalates m ×4 until the bound certifies (log₄ bounded sketch passes, never a vocab shuffle); certifies at m₀=100 here, at m=400 on the 10× sf1 corpus where the fixed-m row refuses",
}


def main():
    args = sys.argv[1:]
    quiet = "--quiet-rerecord" in args
    deflate_below = 0.6
    if "--deflate-below" in args:
        # round-16 ADVICE: --deflate-below only has meaning in
        # --quiet-rerecord mode (silently ignoring it elsewhere hides a
        # typo'd invocation), and a value > 1.0 would rewrite rows whose
        # quiet readings are HIGHER than the record — inflation under
        # the 'deflate' banner.
        if not quiet:
            sys.exit("--deflate-below requires --quiet-rerecord")
        i = args.index("--deflate-below")
        deflate_below = float(args[i + 1])
        if not (0 < deflate_below <= 1.0):
            sys.exit(f"--deflate-below must be in (0, 1.0], got {deflate_below}")
        del args[i:i + 2]
    if quiet:
        args = [a for a in args if a != "--quiet-rerecord"]
        assert len(args) >= 2, "--quiet-rerecord needs two quiet bench jsons"
    only = None
    if "--only" in args:
        i = args.index("--only")
        assert not quiet, "--only and --quiet-rerecord are separate modes"
        only = set(args[i + 1].split(","))
        del args[i:i + 2]
    runs = [json.load(open(p))["queries"] for p in args]
    assert runs, "need at least one co-run bench json"
    wall = {}
    # union of keys across ALL runs: a query present only in later
    # co-runs (added mid-round) must still get a row
    for q in sorted(set().union(*[set(r) for r in runs])):
        vals = [r[q] for r in runs if q in r and r[q] >= 0]
        if not vals:
            # same keep-as-is convention as a missing bench reading —
            # don't abort the whole rewrite over one errored query
            print(f"WARNING: no valid reading for {q} in any run; skipped")
            continue
        if quiet and len(vals) < 2:
            continue  # down-rerecord needs BOTH quiet readings to agree
        if only is not None and q not in only:
            continue
        wall[q] = max(vals)
    if only is not None:
        for q in sorted(only - set(wall)):
            print(f"WARNING: --only {q} has no reading in the supplied runs")

    lines = open(FILE).read().split("\n")
    # main table: starts after the '| query | sf |' header, ends at first '###'
    start = next(i for i, l in enumerate(lines) if l.startswith("| query | sf |"))
    end = next(i for i in range(start, len(lines)) if lines[i].startswith("###"))

    seen = set()
    out = lines[: start + 2]  # header + separator
    for i in range(start + 2, end):
        l = lines[i]
        # note cell may be empty ("| |") — allow zero-width notes
        m = re.match(r"\| (q[\w]*) \| ([\d.]+) \| ([\d.]+) \| ([^|]*?) \| ?(.*?) ?\|$", l)
        if not m:
            out.append(l)
            continue
        name, sf, _old, cfg, notes = m.groups()
        for s in STRIP:
            notes = notes.replace(s, "")
        if quiet:
            # only deflate rows that BOTH quiet readings call inflated
            old = float(_old)
            if name in wall and wall[name] < deflate_below * old:
                seen.add(name)
                print(f"deflated: {name} {old:.2f} -> {wall[name]:.2f}")
                out.append(f"| {name} | {sf} | {wall[name]:.2f} | {cfg} | {notes} |")
            else:
                out.append(l)
            continue
        if name in wall:
            seen.add(name)
            out.append(f"| {name} | {sf} | {wall[name]:.2f} | {cfg} | {notes} |")
        else:
            print(f"WARNING: {name} has a baseline row but no bench reading; kept as-is")
            out.append(l)
    # new queries get fresh rows (alphabetical insertion not required; append)
    missing = [] if quiet or only is not None else sorted(set(wall) - seen)
    for name in missing:
        note = NEW_ROWS.get(name, "new query, co-run record")
        out.append(f"| {name} | 0.1 | {wall[name]:.2f} | {CONFIG} | {note} |")
        print(f"added row: {name} = {wall[name]:.2f}")
    out.extend(lines[end:])
    open(FILE, "w").write("\n".join(out))
    print(f"re-recorded {len(seen)} rows, added {len(missing)}, from {len(runs)} co-runs")


if __name__ == "__main__":
    main()
