#!/usr/bin/env python
"""Combine two DRIVER_SIM_TIMINGS dumps (sf0.1 and sf1) into the
order-of-magnitude scale-replay table (r5 VERDICT #3): per-query wall
ratio at 10x data, flagging anything super-linear (>12x).

Usage: python bench/sf_replay.py /tmp/gate_sf01.json /tmp/gate_sf1.json
Writes BENCH/sf_scale_replay.json and appends the table to
BENCH/BASELINE_EXTRA.md (replacing a prior replay section).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARK = "## Order-of-magnitude scale replay (sf0.1 -> sf1)"


def main(p01: str, p1: str) -> None:
    a = json.load(open(p01))
    b = json.load(open(p1))
    t0, t1 = a["spark_wall_s"], b["spark_wall_s"]
    rows = []
    for q in t0:
        if q in t1 and t0[q] > 0:
            rows.append((q, t0[q], t1[q], round(t1[q] / t0[q], 2)))
    rows.sort(key=lambda r: -r[3])
    flagged = [r for r in rows if r[3] > 12.0]
    out = {
        "sf01_dir": a["sf_dir"], "sf1_dir": b["sf_dir"],
        "gate_sf01": {k: a[k] for k in ("pass", "rows_only", "failures")},
        "gate_sf1": {k: b[k] for k in ("pass", "rows_only", "failures")},
        "ratios": {q: {"sf01_s": w0, "sf1_s": w1, "ratio": r}
                   for q, w0, w1, r in rows},
        "super_linear_over_12x": [q for q, *_ in flagged],
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "sf_scale_replay.json"), "w") as f:
        json.dump(out, f, indent=2)

    md = [MARK, "",
          "Full oracle gate replayed on a deterministic 10x key-shifted",
          "replica of sf0.1 (bench/make_sf.py; 6M lineitem / 1.5M orders).",
          "Gate results: "
          f"sf0.1 {a['pass']} oracled pass / {a['failures']} failures; "
          f"sf1 {b['pass']} oracled pass / {b['failures']} failures.",
          "Spark-side wall per query (driver_sim, local[16]); ratio is",
          "sf1/sf0.1 at 10x data — sub-linear ratios are fixed-overhead",
          "amortization, >12x would flag a scale defect:", "",
          "| query | sf0.1 s | sf1 s | ratio |", "|---|---|---|---|"]
    for q, w0, w1, r in rows[:15]:
        md.append(f"| {q} | {w0} | {w1} | {r} |")
    md.append(f"| ... ({len(rows)} total, "
              f"median ratio {sorted(r for *_x, r in rows)[len(rows)//2]}) "
              f"| | | |")
    if flagged:
        md.append("")
        md.append("**Super-linear (>12x): " +
                  ", ".join(q for q, *_ in flagged) + "**")
    else:
        md.append("")
        md.append("No query exceeded 12x at 10x data.")
    md.append("")

    extra = os.path.join(REPO, "BENCH", "BASELINE_EXTRA.md")
    text = open(extra).read() if os.path.exists(extra) else ""
    if MARK in text:
        text = text.split(MARK)[0].rstrip() + "\n\n"
    with open(extra, "w") as f:
        f.write(text + "\n".join(md))
    print(json.dumps({"flagged": out["super_linear_over_12x"],
                      "n": len(rows)}))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
