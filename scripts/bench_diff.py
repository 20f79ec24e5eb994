#!/usr/bin/env python3
"""Compare two graft.Bench artifacts entry by entry (dev tool).

Usage: python3 scripts/bench_diff.py OLD.json NEW.json [--threshold=1.5]

Each entry is judged from its own samples (`samples`: wall seconds per
round) and its process CPU seconds (`cpu_s`, same shape):
  - REGRESSION: new min wall > threshold x old min wall, and either
    both sides carry `cpu_s` and the min CPU grew past the threshold
    too, or every new wall sample is above every old wall sample;
  - SUSPECT: slower past threshold, but the CPU did not grow and the
    old and new wall samples overlap -> re-measure before believing it;
  - improved: new min wall < old min wall / threshold.
An entry without a `samples` array (artifacts from before the
three-round protocol) counts as one sample, its number of record.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def entries(art):
    """name -> (wall samples, cpu samples or None) for every good entry."""
    out = {}
    for name, v in art["queries"].items():
        if v < 0:
            continue
        wall = [s for s in art.get("samples", {}).get(name, [v]) if s >= 0]
        cpu = [s for s in art.get("cpu_s", {}).get(name, []) if s >= 0]
        out[name] = (wall or [v], cpu or None)
    return out


def describe(label, art, es):
    cpus = [min(c) for _, c in es.values() if c]
    cpu = f", cpu {sum(cpus):.1f}s" if len(cpus) == len(es) else ""
    print(f"{label}: {art['value']:.1f}s over {len(art['queries'])} entries{cpu}")


def main(old_path, new_path, threshold=1.5):
    old, new = load(old_path), load(new_path)
    oe, ne = entries(old), entries(new)
    describe("old", old, oe)
    describe("new", new, ne)

    added = sorted(set(new["queries"]) - set(old["queries"]))
    removed = sorted(set(old["queries"]) - set(new["queries"]))
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    for name in sorted(set(new.get("failed", [])) & set(old["queries"])):
        print(f"FAILED in new run: {name}")

    regressions, suspects, improved = [], [], []
    for name in sorted(set(oe) & set(ne)):
        (ow, oc), (nw, nc) = oe[name], ne[name]
        o, n = min(ow), min(nw)
        if o <= 0.05:  # too fast to trend
            continue
        ratio = n / o
        row = (ratio, name, o, n, nw, nc)
        if ratio > threshold:
            cpu_grew = bool(oc and nc) and min(nc) > threshold * max(min(oc), 1e-3)
            apart = n > max(ow)
            (regressions if cpu_grew or apart else suspects).append(row)
        elif ratio < 1 / threshold:
            improved.append(row)

    for tag, rows in (("REGRESSION", regressions), ("SUSPECT", suspects),
                      ("improved", improved)):
        for ratio, name, o, n, nw, nc in sorted(rows, reverse=tag != "improved"):
            cpu = f" cpu={nc}" if nc else ""
            print(f"{tag} {name}: {o:.2f}s -> {n:.2f}s ({ratio:.2f}x) samples={nw}{cpu}")
    print(f"\n{len(regressions)} regressions, {len(suspects)} suspects, "
          f"{len(improved)} improved")
    return 1 if regressions else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thr = 1.5
    for a in sys.argv[1:]:
        if a.startswith("--threshold="):
            thr = float(a.split("=", 1)[1])
    sys.exit(main(args[0], args[1], thr))
