#!/usr/bin/env python3
"""Diff two graft.Bench per-query records.

Usage: python3 dev/diff_runs.py OLD.json NEW.json [--top N]

Each file is either an archived round record (bench/history/rNN.json, the
flat {"<sf>|<query>": seconds, "_calib": c, ...} map) or the record a fresh
run writes to target/bench.json ({"sf": dir, "calib": c, "queries":
{query: seconds}, ...}), whose keys are read as "<last segment of sf>|<query>".
The comparison is HOST-NORMALIZED by each run's calibration: ratio =
(new / new_calib) / (old / old_calib), so a uniformly slower window cancels
out and a genuine per-query change stands alone. Prints the worst
regressions and best improvements plus the median, and exits non-zero only
on parse problems — the >1.5x rule is a per-query signal for a reader, not
a gate (contended windows flag broadly; check the median + flag breadth
before believing any single flag). Regressions are judged by paired
perfbench runs (python3 perfbench/run.py), not by this diff.
"""
import json
import os
import statistics
import sys


def load(path):
    with open(path) as fh:
        d = json.load(fh)
    if "queries" in d:
        tag = os.path.basename(d["sf"].rstrip("/"))
        calib = d.get("calib")
        d = {f"{tag}|{k}": v for k, v in d["queries"].items()}
    else:
        calib = d.get("_calib")
    queries = {k: v for k, v in d.items() if not k.startswith("_") and v >= 0}
    if not queries:
        sys.exit(f"{path}: no per-query entries")
    return calib, queries


def main():
    argv = sys.argv[1:]
    top = 10
    if "--top" in argv:
        i = argv.index("--top")
        try:
            top = int(argv[i + 1])
        except (IndexError, ValueError):
            sys.exit(__doc__)
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        sys.exit(__doc__)
    old_calib, old = load(args[0])
    new_calib, new = load(args[1])
    norm = (old_calib and new_calib) or None
    shared = sorted(set(old) & set(new))
    if not shared:
        sys.exit("no shared query keys between the two runs — were they at "
                 "different scale factors? (keys are '<sf>|<query>')")
    only_old = set(old) - set(new)
    only_new = set(new) - set(old)
    ratios = {}
    for k in shared:
        r = new[k] / old[k]
        if norm:
            r = (new[k] / new_calib) / (old[k] / old_calib)
        ratios[k] = r
    med = statistics.median(ratios.values())
    tag = "normalized" if norm else "RAW (a file lacks _calib)"
    print(f"n={len(shared)} shared  old_calib={old_calib}  new_calib={new_calib}  "
          f"median_{'norm' if norm else 'raw'}={med:.3f}  [{tag}]")
    if only_old:
        print(f"only in OLD ({len(only_old)}): {', '.join(sorted(only_old))}")
    if only_new:
        print(f"only in NEW ({len(only_new)}): {', '.join(sorted(only_new))}")
    ranked = sorted(ratios.items(), key=lambda kv: -kv[1])
    print(f"\nworst {top} (new/old, {tag}):")
    for k, r in ranked[:top]:
        print(f"  {r:6.2f}  {k:40s} old={old[k]:8.3f}s new={new[k]:8.3f}s")
    print(f"\nbest {top}:")
    for k, r in ranked[-top:][::-1]:
        print(f"  {r:6.2f}  {k:40s} old={old[k]:8.3f}s new={new[k]:8.3f}s")
    flagged = [k for k, r in ratios.items() if r > 1.5]
    print(f"\nflagged >1.5x: {len(flagged)}", end="")
    print(" -> " + ", ".join(sorted(flagged)) if flagged else "")
    # Breadth alone is not contention — contention also moves the MEDIAN
    # (uniform inflation). Broad flags on a flat median are per-query
    # regressions and must not be waved off.
    if len(flagged) > 0.1 * len(shared) and med > 1.25:
        print("ADVISORY: >10% of the suite moved together with an elevated "
              "median — pattern matches window contention, not per-query "
              "regressions; re-run before acting on any flag")
    elif len(flagged) > 0.1 * len(shared):
        print("NOTE: broad flags on a ~flat median — NOT the contention "
              "signature; treat these as real per-query regressions")


if __name__ == "__main__":
    main()
