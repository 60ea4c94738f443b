#!/usr/bin/env python3
"""Compare two Bench outputs, per query.

Wall time: two Bench JSON lines (raw {"metric":...} lines, BENCH_out.json,
or a BENCH_r{N}.json wrapper holding the end of the line in its "tail"
field, of which only the whole "q_...":seconds pairs are used): per-query
deltas, regressions first, with the number of queries compared and
skipped.

Structure: two files Bench's structural pass wrote under bench-structure/:
per-query deltas in jobs, stages, exchanges and shuffle bytes, increases
first. A query whose job or exchange count rose (or that newly fails) is
flagged, and the exit status is 1 when any query is flagged.

Usage: python3 tools/bench_diff.py OLD NEW [--threshold 0.15]
"""
import argparse
import json
import re
import sys


STRUCTURE_KIND = "bench_structure"


def load(path):
    text = open(path).read()
    if STRUCTURE_KIND in text[:100]:
        return json.loads(text)
    m = re.search(r'\{"metric".*', text)
    if m:
        try:
            return json.loads(m.group(0))["queries"]
        except json.JSONDecodeError:
            pass
    d = json.loads(text)
    if "queries" in d:
        return d["queries"]
    # driver wrapper: the "tail" field is the last characters of the run's
    # output and usually starts mid-line, so keep the whole
    # "q_...":seconds pairs it does hold
    pairs = re.findall(r'"(q_\w+)":(-?[0-9][0-9.eE+-]*)[,}]', d.get("tail", ""))
    if not pairs:
        sys.exit(f"no queries found in {path}")
    print(f"{path}: tail holds {len(pairs)} whole query timings")
    return {q: float(v) for q, v in pairs}


def diff_structure(a, old, new):
    oq, nq = old["queries"], new["queries"]
    print(f"structure: old {a.old} (sf {old['sf']}, {old['cpus']} cpus)  "
          f"new {a.new} (sf {new['sf']}, {new['cpus']} cpus)")
    print(f"common {len(set(oq) & set(nq))}  only-old {len(set(oq) - set(nq))}"
          f"  only-new {len(set(nq) - set(oq))}")
    keys = ("jobs", "stages", "exchanges", "shuffle_read_bytes",
            "shuffle_write_bytes")
    rows = []
    for q in set(oq) & set(nq):
        o, n = oq[q], nq[q]
        failed = n["exchanges"] is None and o["exchanges"] is not None
        d = {k: (n[k] or 0) - (o[k] or 0) for k in keys}
        if failed or any(d.values()):
            flag = failed or d["jobs"] > 0 or d["exchanges"] > 0
            rows.append((flag, q, o, n, d))
    rows.sort(key=lambda r: (not r[0], *(-r[4][k] for k in keys), r[1]))
    for k in ("jobs", "stages", "exchanges"):
        print(f"totals {k}: {sum(oq[q][k] or 0 for q in oq)} -> "
              f"{sum(nq[q][k] or 0 for q in nq)}")
    for flag, q, o, n, d in rows:
        cols = "  ".join(f"{k} {o[k]}->{n[k]} ({d[k]:+d})"
                         for k in ("jobs", "stages", "exchanges"))
        mb = lambda k: f"{(n[k] or 0) / 1e6:.2f} MB ({d[k]:+d} B)"
        print(f"  {q:30s} {cols}  shuffle read {mb('shuffle_read_bytes')} "
              f"write {mb('shuffle_write_bytes')}"
              + ("  FLAG" if flag else ""))
    flagged = sum(r[0] for r in rows)
    print(f"flagged {flagged} (job or exchange count rose, or newly failed)")
    return 1 if flagged else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=0.15,
                    help="seconds of delta worth printing (wall time only)")
    a = ap.parse_args()
    old, new = load(a.old), load(a.new)
    kinds = {isinstance(x, dict) and x.get("kind") == STRUCTURE_KIND
             for x in (old, new)}
    if len(kinds) > 1:
        sys.exit("cannot compare a structure file with a wall-time file")
    if kinds == {True}:
        sys.exit(diff_structure(a, old, new))
    common = sorted(set(old) & set(new), key=lambda k: old[k] - new[k])
    print(f"compared {len(common)} queries, skipped "
          f"{len(set(old) ^ set(new))} (only-old {len(set(old)-set(new))}  "
          f"only-new {len(set(new)-set(old))})")
    print(f"totals: old={sum(old.values()):.1f}s new={sum(new.values()):.1f}s "
          f"(common subset: {sum(old[k] for k in common):.1f} -> "
          f"{sum(new[k] for k in common):.1f})")
    for k in reversed(common):
        d = new[k] - old[k]
        if abs(d) >= a.threshold:
            tag = "REGRESSION" if d > 0 else "improved"
            print(f"  {k:30s} {old[k]:6.2f} -> {new[k]:6.2f}  "
                  f"({d:+.2f}) {tag}")
    for k in sorted(set(new) - set(old)):
        print(f"  {k:30s}    new -> {new[k]:6.2f}")


if __name__ == "__main__":
    main()
