#!/usr/bin/env python3
"""Mechanical bench regression diff: compare a new Bench JSON line
(the `total_detail` line graft.Bench prints and writes to
BENCH_DETAIL.json, or a driver record wrapping it under "parsed")
against a baseline one, flagging per-query regressions. Judged on MIN times
when both sides carry `queries_min` (steady-state, what a long-lived
cluster job sees); falls back to the median map otherwise. The bar
mirrors the round-8 A/B protocol: a regression is BOTH >1.3x AND
>0.3 s absolute — below that is this box's documented cold-JIT /
ambient variance, not a plan change.

When BOTH artifacts carry a `calibration` stamp (Bench's pinned-seed
no-IO probe, r12 ask #5), the new side's times are pre-scaled by the
box-speed ratio (baseline par16 / new par16, start/end averaged)
before the bar is applied, so a boot-to-boot box swing no longer
reads as a build change; pass --no-calibrate for raw walls.

Usage: tools/bench_diff.py [--no-calibrate] [--movers N] BASELINE.json NEW.json [ratio] [abs_s]
Exit 1 iff any regression is flagged.
"""
import json
import sys


def _is_num(a):
    try:
        float(a)
        return True
    except ValueError:
        return False


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]  # a driver record wraps the bench line
    return d


def cal_speed(d):
    """One number per artifact from the calibration stamp: the mean of
    the start/end 16-way-parallel probe seconds (the contention regime
    the query medians run in). None when the artifact predates the
    stamp (<= r12) or carries a partial one."""
    c = d.get("calibration")
    try:
        return (c["start"]["par16"] + c["end"]["par16"]) / 2.0
    except (TypeError, KeyError):
        return None


def main():
    # --movers N: print ONLY a csv of the top-N shared queries by
    # absolute min-time delta (machine-readable, for the end-of-round
    # interleaved A/B that attributes drift vs build cost).
    movers_n = None
    argv = sys.argv[1:]
    no_calibrate = "--no-calibrate" in argv
    if no_calibrate:
        argv.remove("--no-calibrate")
    if "--movers" in argv:
        i = argv.index("--movers")
        movers_n = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    files = [a for a in argv if not _is_num(a)]
    nums = [a for a in argv if _is_num(a)]
    if len(files) != 2:
        raise SystemExit(
            "usage: tools/bench_diff.py [--no-calibrate] [--movers N] "
            "BASELINE.json NEW.json [ratio] [abs_s]")
    bp, np_ = files
    if movers_n is None:
        print(f"baseline: {bp}\nnew:      {np_}")
    sys.argv = [sys.argv[0], bp, np_] + nums
    bd = load(sys.argv[1])
    nd = load(sys.argv[2])
    # min-vs-min only when BOTH sides carry queries_min: a per-file
    # fallback would silently diff one side's mins against the other's
    # medians, and the median/min gap alone can cross the bar.
    if "queries_min" in bd and "queries_min" in nd:
        base, new = bd["queries_min"], nd["queries_min"]
    else:
        base, new = bd["queries"], nd["queries"]
    # box-speed pre-scale: NEW walls are normalized onto the baseline
    # box's speed before the bar applies. scale<1 means the new run's
    # box was slower, so its raw walls are shrunk accordingly.
    scale = 1.0
    bs, ns = cal_speed(bd), cal_speed(nd)
    if not no_calibrate and bs and ns:
        scale = bs / ns  # probe SECONDS: baseline faster => bs<ns => <1
        if movers_n is None:
            print(f"calibration: baseline probe {bs:.3f}s, new {ns:.3f}s "
                  f"-> new walls x{scale:.3f}")
        new = {q: t * scale for q, t in new.items()}
    elif movers_n is None and not no_calibrate:
        print("calibration: stamp missing on one side, raw walls compared")
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    abs_s = float(sys.argv[4]) if len(sys.argv) > 4 else 0.3
    shared = sorted(set(base) & set(new))
    if movers_n is not None:
        top = sorted(shared, key=lambda q: -abs(new[q] - base[q]))
        print(",".join(top[:movers_n]))
        return
    only_b = sorted(set(base) - set(new))
    only_n = sorted(set(new) - set(base))
    regressed = [(q, base[q], new[q]) for q in shared
                 if new[q] > base[q] * ratio and new[q] - base[q] > abs_s]
    improved = [(q, base[q], new[q]) for q in shared
                if base[q] > new[q] * ratio and base[q] - new[q] > abs_s]
    tb = sum(base[q] for q in shared)
    tn = sum(new[q] for q in shared)
    print(f"shared {len(shared)} queries: baseline {tb:.1f}s -> "
          f"new {tn:.1f}s ({(tn - tb) / tb:+.1%} vs baseline)")
    if only_b:
        print(f"dropped ({len(only_b)}): {', '.join(only_b)}")
    if only_n:
        t = sum(new[q] for q in only_n)
        print(f"added ({len(only_n)}, {t:.1f}s): {', '.join(only_n)}")
    for q, b, n in sorted(regressed, key=lambda t: t[1] - t[2]):
        print(f"REGRESSED {q}: {b:.2f}s -> {n:.2f}s ({n / b:.2f}x)")
    for q, b, n in sorted(improved, key=lambda t: t[2] - t[1]):
        print(f"improved  {q}: {b:.2f}s -> {n:.2f}s ({n / b:.2f}x)")
    if not regressed:
        print("no regressions over the bar "
              f"(>{ratio}x and >{abs_s}s on min times)")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
