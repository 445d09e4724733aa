#!/usr/bin/env python3
"""Render the traced per-layer table from the traced runs' records.

    for w in curation_x4 lakehouse_dml; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 20 --trace 1
    done
    python3 perfbench/report.py

Each ``--trace 1`` run leaves ``.perfbench_traces/trace-<workload>.json``;
this copies those records (spans included) into ``perfbench/results/``
and writes ``perfbench/results/TRACED.md``.
"""

from __future__ import annotations

import json
import os
import shutil

from run import PER_LAYER, ROOT, TRACES, WORKLOADS

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")


def fmt(v: float, unit: str) -> str:
    if unit in ("bytes", "count") and float(v).is_integer():
        return f"{int(v):,}"
    return f"{v:.4g}"


def main() -> None:
    os.makedirs(RESULTS, exist_ok=True)
    recs = {}
    for w in WORKLOADS:
        src = os.path.join(TRACES, f"trace-{w}.json")
        dst = os.path.join(RESULTS, f"trace-{w}.json")
        shutil.copyfile(src, dst)
        with open(dst) as f:
            recs[w] = json.load(f)
    names = list(WORKLOADS)
    lines = [
        "# Traced per-layer run",
        "",
        "Generated by `perfbench/report.py` from one `--trace 1` run per workload",
        "(records with every span: `trace-<workload>.json`). Per-layer values are",
        "medians over the traced passes; 0 means the workload does not call that",
        "layer. `trace.overhead_s` is the traced minus the untraced `pass_s` of",
        "the same run.",
        "",
        "## Run sizes",
        "",
        "| | " + " | ".join(names) + " |",
        "|---|" + "---|" * len(names),
    ]
    rows = {
        "seed": lambda r: str(r["seed"]),
        "cores": lambda r: str(r["cores"]),
        "driver memory": lambda r: r["driver_memory"],
        "untraced passes (s)": lambda r: ", ".join(f"{x:.3f}" for x in r["passes"]["untraced"]),
        "traced passes (s)": lambda r: ", ".join(f"{x:.3f}" for x in r["passes"]["traced"]),
        "pass_s untraced / traced": lambda r: "{untraced:.4f} / {traced:.4f}".format(**r["pass_s"]),
        "inputs": lambda r: json.dumps(r["sizes"], sort_keys=True).replace("|", "/"),
    }
    for label, get in rows.items():
        lines.append(f"| {label} | " + " | ".join(get(recs[w]) for w in names) + " |")
    lines += [
        "",
        "## Per-layer metrics",
        "",
        "| metric | unit | " + " | ".join(names) + " |",
        "|---|---|" + "---|" * len(names),
    ]
    for name, unit in PER_LAYER.items():
        vals = " | ".join(fmt(recs[w]["metrics"][name], unit) for w in names)
        lines.append(f"| `{name}` | {unit} | {vals} |")
    with open(os.path.join(RESULTS, "TRACED.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(os.path.relpath(os.path.join(RESULTS, "TRACED.md"), ROOT))


if __name__ == "__main__":
    main()
