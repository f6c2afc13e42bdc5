#!/usr/bin/env python3
"""Scale regression gate: compare a fresh Bench board against a recorded
prior and fail on unexplained per-query blowups.

Usage:
  # 1) run the board (sf1 example; add SPARK_GRAFT_ONLY=a,b,c for a subset)
  SPARK_GRAFT_SF_DIR=/root/repo/.scale/sf1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_WARMUP=0 sbt -batch "runMain graft.Bench" 2>&1 | tee /tmp/b.log
  # 2) extract the BENCH_DETAIL line into JSON and gate it
  python3 tools/sf_gate.py /tmp/b.log BENCH_sf1.json --factor 3

The first argument may be either a Bench log (the BENCH_DETAIL line is
parsed out of it) or a JSON file holding {"queries": {name: sec}} /
a flat {name: sec} map. The prior is BENCH_sf1.json-shaped. A query is
flagged when new > factor * prior AND new - prior > abs_floor (default
2 s — sub-second queries bounce multiples on host noise; see SURVEY §7's
variance note). Exit code 1 when anything is flagged, so a round cannot
close on a silent sf1 regression without an explanation row in SURVEY.
A board with failed queries (Bench's BENCH_FAILED line, or n_failed on
its final line) also exits 1: a query that throws is timed like any
other, so its row alone does not show the failure.

--floors floors.json adds a per-query STEADY-STATE floor map (RunOne-
isolated seconds, e.g. tools/floors_sf10.json): a query whose new time
is within --floor-margin (default 2.0) x its recorded floor is never
flagged, even if the prior board got a lucky run. That is what lets
--factor drop below 3 for the known GC-heavy swingers (in-board swings
reach ~3.5x with ZERO code change — measured r8) without false alarms:
the floor, not the previous board's luck, is the reference for "this is
just noise".

AMBIENT CONTROL (r11): cross-round boards carry up to ~1.6x host-day
drift on code that did not change (measured r7-r10; the r10 verdict
hand-adjudicated it twice). --controls (default
q1_agg,q3_shipping,q_window_rank — untouched TPC-H shapes) names
queries whose new/prior ratio estimates that drift; the gate divides
every comparison by the MEDIAN control ratio before flagging. A
deliberately slow host then produces zero false flags at --factor 2
because every ratio is normalized by the controls' shared slowdown.
--controls= (empty) disables normalization. Controls present in only
one board are skipped; with zero usable controls the gate runs
un-normalized and says so.

DRIFT GUARDRAILS (r12, per r11 advice): normalization can MASK a
code-caused global slowdown — an engine-wide change (session config,
a shared operator) slows the controls too and the gate would divide
it away as "host drift". Two defenses:
  1. --drift-cap (default 1.6, the measured ambient band): a median
     control ratio outside [1/cap, cap] is CLAMPED to the band edge
     and loudly flagged — beyond the band, "the host is slow" is no
     longer the default explanation and the controls themselves must
     be adjudicated (RunOne them; check they still sit within
     --floor-margin of their isolated floors).
  2. If the floors file carries a "_controls" stamp (control-query
     seconds measured on the floor-probe host-day), each control's
     new time is cross-checked against floor_margin x its own stamp
     x the stamp-relative drift: a control that regressed in absolute
     terms is reported even when the board-to-board ratio looks flat.
FLOOR DRIFT (r12): the floor excuse previously scaled floors by the
drift measured against the PRIOR BOARD's host-day, but floors were
probed on a different host-day. With "_controls" in the floors file
the gate now scales floors by new/floor-stamp drift (the floor-probe's
own host-day); without stamps it falls back to board drift and says so.
"""
import json
import re
import sys


def load_queries(path):
    text = open(path, encoding="utf-8").read()
    m = re.findall(r"BENCH_DETAIL (\{.*\})", text)
    if m:
        return json.loads(m[-1])
    d = json.loads(text)
    if isinstance(d, dict) and "queries" in d:
        return d["queries"]
    return d


def load_failures(path):
    """A board's failed queries as printable rows: the BENCH_FAILED map
    (name -> exception class) of a Bench log, else the n_failed count of
    a Bench final line (bench.json), which names none."""
    text = open(path, encoding="utf-8").read()
    m = re.findall(r"BENCH_FAILED (\{.*\})", text)
    if m:
        return [f"{k}: {v}" for k, v in json.loads(m[-1]).items()]
    m = re.findall(r'"n_failed":\s*(\d+)', text)
    return [f"{m[-1]} queries (n_failed)"] if m and int(m[-1]) else []


def main():
    # Accept both --opt=value and --opt value.
    args, opts = [], {}
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--"):
            if "=" in a:
                k, v = a[2:].split("=", 1)
                opts[k] = v
            else:
                k = a[2:]
                if i + 1 < len(argv) and not argv[i + 1].startswith("--"):
                    opts[k] = argv[i + 1]
                    i += 1
                else:
                    opts[k] = None
        else:
            args.append(a)
        i += 1
    factor = float(opts.get("factor") or 3.0)
    abs_floor = float(opts.get("floor") or 2.0)
    floors = json.load(open(opts["floors"])) if opts.get("floors") else {}
    floor_margin = float(opts.get("floor-margin") or 2.0)
    drift_cap = float(opts.get("drift-cap") or 1.6)
    floor_stamps = floors.get("_controls") or {}
    new_path, prior_path = args[0], args[1]
    new = load_queries(new_path)
    prior = load_queries(prior_path)
    failures = [(p, f) for p in (new_path, prior_path) for f in load_failures(p)]

    def median(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2] if len(xs) % 2 else \
            (xs[len(xs) // 2 - 1] + xs[len(xs) // 2]) / 2

    controls_opt = opts.get("controls", "q1_agg,q3_shipping,q_window_rank")
    controls = [c for c in (controls_opt or "").split(",") if c]
    ratios = sorted(
        new[c] / prior[c]
        for c in controls
        if c in new and c in prior and prior[c] > 0 and new[c] > 0)
    suspect_drift = False
    if ratios:
        drift = median(ratios)
        print(f"== ambient control drift {drift:.2f}x "
              f"(median of {len(ratios)} controls: "
              + ", ".join(f"{r:.2f}" for r in ratios) + ") ==")
        if drift > drift_cap or drift < 1.0 / drift_cap:
            clamped = min(max(drift, 1.0 / drift_cap), drift_cap)
            print(f"WARN  control drift {drift:.2f}x is OUTSIDE the "
                  f"~{drift_cap}x ambient band — clamping normalization "
                  f"to {clamped:.2f}x. Beyond the band this may be a "
                  f"CODE-CAUSED global slowdown hiding behind the "
                  f"controls; RunOne-isolate the controls and check them "
                  f"against their isolated floors before trusting this "
                  f"board.")
            drift = clamped
            suspect_drift = True
    else:
        drift = 1.0
        if controls:
            print("== no usable control queries in both boards — "
                  "gating un-normalized ==")

    # Floor-probe host-day drift: scale the floor excuse by the drift
    # vs the floors' OWN control stamps, not the prior board's host-day.
    stamp_ratios = [new[c] / floor_stamps[c] for c in controls
                    if c in new and c in floor_stamps
                    and floor_stamps[c] > 0 and new[c] > 0]
    if stamp_ratios:
        floor_drift = min(max(median(stamp_ratios), 1.0 / drift_cap),
                          drift_cap)
        print(f"== floor-stamp drift {floor_drift:.2f}x (vs the floor-"
              f"probe host-day, {len(stamp_ratios)} stamped controls, "
              f"clamped to the {drift_cap}x band) ==")
    else:
        floor_drift = drift
        if floors:
            print("== floors file has no _controls stamp — floor excuse "
                  "falls back to board drift (re-stamp on next floor "
                  "probe) ==")

    # Absolute control cross-check: a control that regressed vs its own
    # isolated floor is evidence the "drift" is not ambient.
    for c in controls:
        if c in new and c in floor_stamps and floor_stamps[c] > 0:
            if new[c] > floor_margin * drift_cap * floor_stamps[c]:
                print(f"WARN  control {c}: {new[c]:.2f}s exceeds "
                      f"{floor_margin}x{drift_cap}x its floor-day stamp "
                      f"{floor_stamps[c]:.2f}s — the control itself "
                      f"regressed; normalization is suspect.")
                suspect_drift = True

    flagged, missing, excused = [], [], []
    for name, sec in sorted(new.items()):
        if name.startswith("_"):
            continue
        if name not in prior:
            missing.append(name)
            continue
        p = prior[name] * drift
        if p > 0 and sec > factor * p and sec - p > abs_floor:
            fl = floors.get(name)
            if fl is not None and sec <= floor_margin * fl * floor_drift:
                excused.append((name, p, sec, fl))
                continue
            flagged.append((name, p, sec, sec / p))
    for name in missing:
        print(f"NEW   {name}: no prior — record it in the prior board")
    for name, p, sec, fl in excused:
        print(f"NOISE {name}: {p:.2f}s (drift-adj prior) -> {sec:.2f}s but "
              f"within {floor_margin}x isolated floor {fl:.2f}s x drift")
    for name, p, sec, r in flagged:
        print(f"FLAG  {name}: {p:.2f}s (drift-adj prior) -> {sec:.2f}s "
              f"({r:.1f}x > {factor}x)")
    kept = [n for n in new if n in prior and not n.startswith("_")]
    print(f"== {len(kept)} compared, {len(flagged)} flagged, "
          f"{len(excused)} excused by floors, {len(missing)} without prior ==")
    for path, f in failures:
        print(f"FAIL  {path}: {f}")
    if failures:
        print("== exit 1: a board with failed queries is not a timing "
              "board ==")
    if suspect_drift:
        print("== exit 1: drift outside the ambient band / control "
              "regression — adjudicate the controls before accepting "
              "this board ==")
    sys.exit(1 if flagged or suspect_drift or failures else 0)


if __name__ == "__main__":
    main()
