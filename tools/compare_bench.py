#!/usr/bin/env python3
"""Diff two graft.Bench outputs with the host-load protocol applied.

Usage: python3 tools/compare_bench.py <benchA.json> <benchB.json> [topN]

Each file is one of Bench's own encodings: its BENCH_OUT.json (a
"queries" map of seconds) or its stdout, whose last line carries the
same map as paired "qid"/"qcs" (or "qds") arrays. Query names are
compared on their qNN prefix, so cosmetic renames don't break the diff.
Prints: shared-sum delta, the largest per-query deltas, added/removed
queries, and a LOAD VERDICT — a run whose load at start exceeded ~3
(load1) or ~2.5 (load5) is flagged non-comparable (the same HEAD has
measured 69 s idle vs 86 s at load ~2.4).

Cross-commit performance comparisons use perfbench (BENCHMARK.json);
this tool only reads Bench's per-query seconds. The Scala engine does
not depend on it.
"""
import json
import sys


def extract(path):
    lines = [l for l in open(path).read().splitlines() if l.strip()]
    d = json.loads(lines[-1])
    if "queries" in d:
        qs = {k.split("_")[0]: v for k, v in d["queries"].items()}
    else:
        # the compact encoding: paired arrays qid (numeric query ids)
        # + qcs (centiseconds) or qds (deciseconds) — the full query
        # map re-shaped so a 2000-char tail window always holds one
        # complete, parseable line
        vals, scale = (d["qcs"], 100.0) if "qcs" in d else (d["qds"], 10.0)
        qs = {f"q{i}": v / scale for i, v in zip(d["qid"], vals)}
    load = d.get("loadavg_start", [None]), d.get("loadavg_end", [None])
    return qs, load


def load_verdict(load):
    start, end = load
    if start[0] is None or end[0] is None:
        return "load unrecorded — treat with care"
    # the bench's own burst inflates load1/load5 at END; the
    # comparable-run signal is the EXTERNAL load, best read from the
    # START snapshot — and load5 there matters as much as load1 (a
    # run at load1 1.1 / load5 3.4 measured ~30% slower across the
    # board than the same HEAD idle)
    if start[0] > 3 or (len(start) > 1 and start[1] > 2.5):
        return (f"NON-COMPARABLE: external load at start "
                f"(load1 {start[0]}, load5 {start[1]})")
    return f"ok (start load1/5 {start[0]}/{start[1] if len(start) > 1 else '?'})"


def main(a_path, b_path, top=15):
    a, la = extract(a_path)
    b, lb = extract(b_path)
    print(f"A = {a_path}: {len(a)} queries, {load_verdict(la)}")
    print(f"B = {b_path}: {len(b)} queries, {load_verdict(lb)}")
    shared = sorted(set(a) & set(b))
    sa, sb = sum(a[q] for q in shared), sum(b[q] for q in shared)
    pct = (sb - sa) / sa * 100 if sa else 0
    print(f"shared ({len(shared)}): A {sa:.1f} s -> B {sb:.1f} s "
          f"({pct:+.1f}%)")
    deltas = sorted(((q, b[q] - a[q]) for q in shared),
                    key=lambda kv: -abs(kv[1]))
    print(f"largest deltas (top {top}):")
    for q, dv in deltas[:top]:
        print(f"  {q:8s}{dv:+6.2f}  (A {a[q]:5.2f} / B {b[q]:5.2f})")
    # the per-query regression gate: flag every
    # shared query that moved > 15% AND > 0.2 s (the absolute floor
    # keeps sub-second queries' scheduling jitter out of the list)
    moves = [(q, b[q] - a[q], (b[q] - a[q]) / a[q] * 100)
             for q in shared
             if a[q] > 0 and abs(b[q] - a[q]) > 0.2
             and abs(b[q] - a[q]) / a[q] > 0.15]
    moves.sort(key=lambda kv: -abs(kv[2]))
    print(f"moves > 15% and > 0.2 s: {len(moves)}")
    for q, dv, pc in moves:
        print(f"  {q:8s}{dv:+6.2f} ({pc:+5.0f}%)  "
              f"(A {a[q]:5.2f} / B {b[q]:5.2f})")
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    if added:
        print("only in B:", ", ".join(f"{q} ({b[q]:.2f}s)" for q in added))
    if removed:
        print("only in A:", ", ".join(f"{q} ({a[q]:.2f}s)" for q in removed))
    # one machine-grep-able verdict line: the comparable-subset delta
    # is meaningful only when BOTH runs pass the load gate
    gates_ok = all(not load_verdict(l).startswith("NON-COMPARABLE")
                   and "unrecorded" not in load_verdict(l)
                   for l in (la, lb))
    print(f"VERDICT: comparable-subset ({len(shared)} queries) "
          f"{pct:+.1f}%, {len(moves)} flagged moves, "
          f"load-gate {'OK' if gates_ok else 'FAILED — delta unreliable'}")
    return 0


if __name__ == "__main__":
    top = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    sys.exit(main(sys.argv[1], sys.argv[2], top))
