"""Render a traced run's trace file as a per-layer table.

    python3 perfbench/report.py .perfbench/traces/tail_freshness-seed1.json \\
        [--untraced result.json]

The trace file is what ``run.py --trace 1`` writes. ``--untraced`` takes the
JSON object an untraced run (``--trace 0``) of the same workload and seed
printed as its last line; the report then adds the tracing overhead: the
traced run's end-to-end metrics minus the untraced run's.
"""

from __future__ import annotations

import argparse
import json

from spans import DERIVED, QUERY_FIELDS, SPAN_FIELDS, SPANS


def render(doc: dict, untraced: dict | None = None) -> str:
    pl = doc["per_layer"]
    lines = [
        f"## {doc['workload']} (seed {doc['seed']}, {doc['cores']} cores, "
        f"timed operations: {len(doc['op_s'])})",
        "",
        "| span | " + " | ".join(SPAN_FIELDS) + " |",
        "|---" * (len(SPAN_FIELDS) + 1) + "|",
    ]
    names = SPANS + sorted({s["name"] for s in doc["spans"]} - set(SPANS))
    for name in names:
        fields = SPAN_FIELDS if name in SPANS else QUERY_FIELDS
        if not pl.get(f"{name}.wall_s"):
            continue
        cells = [
            f"{pl[f'{name}.{f}']:.3f}" if f in fields else ""
            for f in SPAN_FIELDS
        ]
        cells[0] = str(sum(s["name"] == name for s in doc["spans"]))
        lines.append(f"| {name} | " + " | ".join(cells) + " |")
    lines.append("")
    for name in DERIVED:
        lines.append(f"- `{name}` = {pl[name]:.4g}")
    apply_wall = pl.get("streaming.apply_batch.wall_s", 0.0)
    if apply_wall:
        covered = 1.0 - pl["streaming.apply_batch.self_s"] / apply_wall
        lines.append(f"- child spans cover {covered:.1%} of `streaming.apply_batch` wall time")
    lines.append("")
    lines.append("| end-to-end | traced | untraced | overhead |")
    lines.append("|---|---|---|---|")
    for k, v in doc["end_to_end"].items():
        if untraced:
            u = untraced["metrics"][k]["value"]
            lines.append(f"| {k} | {v:.4g} | {u:.4g} | {v - u:+.4g} |")
        else:
            lines.append(f"| {k} | {v:.4g} | | |")
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("trace")
    ap.add_argument("--untraced")
    args = ap.parse_args()
    with open(args.trace) as f:
        doc = json.load(f)
    untraced = None
    if args.untraced:
        with open(args.untraced) as f:
            untraced = json.loads(f.read().strip().splitlines()[-1])
    print(render(doc, untraced))


if __name__ == "__main__":
    main()
