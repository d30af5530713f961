"""Mechanical BENCH_FULL mover diff (VERDICT r11 task 4).

The r10/r11 round notes built the "every >2x and >0.5 s mover" table
by hand from two BENCH_FULL_r*.json files; this tool makes the
candidate list repeatable and un-fudgeable. Warm adjudication stays
manual — the tool only says WHICH keys moved, never whether a move is
real (the standing rule: single-shot sweep numbers carry no
conclusions; only warm best-of-3 re-measures on a quiet box do).

Usage:
    python tools/bench_diff.py BENCH_FULL_r10.json BENCH_FULL_r11.json

Prints a header (totals, key counts, load stamps — start stamp first
where present, it is the one that adjudicates contention) followed by
a markdown mover table sorted by absolute delta, ready to paste into
ROUND{N}_NOTES.md with a "warm b-o-3" column appended by hand.

Exit 0 normally (an empty mover list is a finding, not a failure);
exit 1 when the artifacts' timing protocols differ (warm vs cold walls
are not comparable — a missing 'protocol' field reads as the pre-r12
'cold-single-shot' default), with the table still printed for context.
Keys timed at 0.0 in either run print as explicit anomalies instead of
silently dropping from the mover table (ADVICE r12).
"""

from __future__ import annotations

import json
import os
import signal
import sys

# `bench_diff ... | head` must not traceback on the closed pipe
if hasattr(signal, "SIGPIPE"):
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)

# A mover is a key whose time changed by MORE THAN 2x in either
# direction AND by more than 0.5 s absolute — the same thresholds the
# r10/r11 hand-built tables used (ratio-only flags sub-100 ms noise;
# delta-only flags every heavy key's normal variance).
RATIO = 2.0
ABS_SEC = 0.5


def movers(
    old: dict[str, float], new: dict[str, float]
) -> tuple[list[tuple[str, float, float]], list[tuple[str, float | None, float | None]]]:
    """(movers, anomalies): movers are keys in BOTH runs whose
    (old, new) pair crosses both thresholds, sorted by absolute delta
    descending; anomalies are keys whose recorded time in either run
    is 0.0/negative (ADVICE r12: a key that collapsed to ~0 s must be
    a reported line, not an invisible skip)."""
    out, anomalies = [], []
    for k, t in new.items():
        p = old.get(k)
        if p is None:
            continue
        if p <= 0 or t <= 0:
            anomalies.append((k, p, t))
            continue
        if (t / p > RATIO or p / t > RATIO) and abs(t - p) > ABS_SEC:
            out.append((k, p, t))
    return sorted(out, key=lambda m: -abs(m[2] - m[1])), anomalies


def print_diff(old_path: str, new_path: str) -> bool:
    """Print the diff; returns True when the two artifacts share a
    timing protocol (a missing field reads as the pre-r12
    'cold-single-shot' default). ADVICE r12: warm and cold walls are
    not comparable — bench_full's filename filtering enforced this,
    but the CLI could silently diff across protocols."""
    a = json.load(open(old_path))
    b = json.load(open(new_path))
    oq, nq = a["queries"], b["queries"]
    on, nn = os.path.basename(old_path), os.path.basename(new_path)

    def stamp(d: dict) -> str:
        s, e = d.get("load_avg_start"), d.get("load_avg")
        return f"load start={s} end={e}"

    print(f"old: {on}  total={a['value']}s  keys={len(oq)}  "
          f"errors={a.get('n_errors', 0)}  {stamp(a)}")
    print(f"new: {nn}  total={b['value']}s  keys={len(nq)}  "
          f"errors={b.get('n_errors', 0)}  {stamp(b)}")
    proto_a = a.get("protocol", "cold-single-shot")
    proto_b = b.get("protocol", "cold-single-shot")
    proto_ok = proto_a == proto_b
    if not proto_ok:
        print(f"WARNING: protocol mismatch ({proto_a} vs {proto_b}) — "
              "warm and cold walls are not comparable; this mover "
              "table is not citable")
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    if only_old:
        print(f"only in old ({len(only_old)}): {only_old}")
    if only_new:
        print(f"only in new ({len(only_new)}): {only_new}")

    mv, anomalies = movers(oq, nq)
    if anomalies:
        print(f"zero/negative-time anomalies ({len(anomalies)}): "
              + ", ".join(f"{k} old={p} new={t}" for k, p, t in anomalies))
    print(f"\nmovers (> {RATIO}x and > {ABS_SEC}s, by |delta|): {len(mv)}")
    print(f"| Key | {on.replace('BENCH_FULL_', '').replace('.json', '')} "
          f"sweep | {nn.replace('BENCH_FULL_', '').replace('.json', '')} "
          f"sweep | warm b-o-3 | verdict |")
    print("| --- | --- | --- | --- | --- |")
    for k, p, t in mv:
        print(f"| {k} | {p:.2f} | {t:.2f} |  |  |")
    if not mv:
        print("| (none) |  |  |  |  |")
    return proto_ok


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    # exit 1 on protocol mismatch (an empty mover list stays exit 0 —
    # a finding, not a failure)
    return 0 if print_diff(sys.argv[1], sys.argv[2]) else 1


if __name__ == "__main__":
    sys.exit(main())
