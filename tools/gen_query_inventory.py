#!/usr/bin/env python
"""Regenerate QUERIES.md — the full query-catalog inventory, grouped by
tag, with each entry's verification mode (DuckDB oracle vs rows-only),
its driver-row status (first green round from the CORRECTNESS records,
in the current 50-slot window, or queued behind it), and bench
membership. Run after adding catalog entries or a CORRECTNESS file:

    python tools/gen_query_inventory.py
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from politicamente_etl_spark.plans.catalog import CATALOG  # noqa: E402
from __spark_entry__ import _ordered_names, verified  # noqa: E402

GROUPS = [
    ("Reference surface (SURVEY.md §2)", lambda tags: not any(t.startswith("ext-") for t in tags)),
    ("Text analysis", lambda tags: "ext-text" in tags),
    ("Deduplication", lambda tags: "ext-dedup" in tags),
    ("Sampling / dataset splits", lambda tags: "ext-sampling" in tags),
    ("Similarity search", lambda tags: "ext-sim" in tags),
    ("Temporal joins", lambda tags: "ext-temporal" in tags),
    ("Relational analytics (TPC-H-style)", lambda tags: "ext-rel" in tags),
    ("Join variants (skew / semi / outer)", lambda tags: "ext-join" in tags),
    ("OLAP / set ops / windows", lambda tags: any(t in tags for t in ("ext-olap", "ext-setop", "ext-window", "ext-subquery", "ext-datemath", "ext-profile"))),
    ("JSON / events", lambda tags: any(t in tags for t in ("ext-json", "ext-events"))),
    ("Multimodal", lambda tags: "ext-multimodal" in tags),
    ("Streaming", lambda tags: "ext-stream" in tags),
    ("Approximate sketches", lambda tags: "ext-approx" in tags),
    ("Data quality / CDC / statistics", lambda tags: any(t in tags for t in ("ext-quality", "ext-cdc", "ext-stats", "ext-agg"))),
]

# Per-query caveats appended to the verification cell — keep scale warnings
# visible in the inventory (survives regeneration, unlike hand edits).
NOTES = {
    "embedding_cosine_near_dup": (
        "VERIFIER-ONLY: quadratic exact all-pairs; refuses >100k rows via "
        "`max_rows` guard — the 100 TB path is the `_lsh` twin"
    ),
}

HEADER = "| query | oracle SQL | driver row | bench | tags |"
RULE = "|---|---|---|---|---|"


def main() -> None:
    window = set(_ordered_names()[:50])
    lines = [
        "# QUERIES — catalog inventory",
        "",
        "Auto-generated by `tools/gen_query_inventory.py` — do not edit by hand.",
        "",
        f"{len(CATALOG)} registered queries. Two verification signals, tracked",
        "separately:",
        "",
        "- **oracle SQL**: *oracle* = a paired DuckDB SQL exists; the driver",
        "  runs both at sf0.01 and compares row count + schema + every value.",
        "  *rows-only* = no SQL equivalent exists (engine-seeded randomness /",
        "  streaming state) and the driver checks execution + row count only.",
        "- **driver row**: *green rN* = the latest CORRECTNESS_r{N}.json row",
        "  passes and the first passing row is from round N (the independent",
        "  driver run, not local tests). *window* = no passing latest row; the",
        "  query sits in the current round's 50-slot driver window. *queued* =",
        "  no passing latest row, behind the window.",
        "",
    ]
    green = verified()

    def driver_status(name: str) -> str:
        if name in green:
            return f"green r{green[name][0]}"
        return "window" if name in window else "queued"

    seen: set[str] = set()
    for title, pred in GROUPS:
        rows = [
            q for name, q in sorted(CATALOG.items())
            if name not in seen and pred(q.tags)
        ]
        if not rows:
            continue
        lines += [f"## {title}", "", HEADER, RULE]
        for q in rows:
            seen.add(q.name)
            ver = "oracle" if q.sql else "rows-only"
            if q.name in NOTES:
                ver = f"{ver} ({NOTES[q.name]})"
            lines.append(
                f"| `{q.name}` | {ver} | {driver_status(q.name)} |"
                f" {'✓' if q.bench else ''} | {', '.join(q.tags)} |"
            )
        lines.append("")
    missing = set(CATALOG) - seen
    if missing:
        lines += ["## Other", "", HEADER, RULE]
        for name in sorted(missing):
            q = CATALOG[name]
            ver = "oracle" if q.sql else "rows-only"
            lines.append(
                f"| `{q.name}` | {ver} | {driver_status(q.name)} |"
                f" {'✓' if q.bench else ''} | {', '.join(q.tags)} |"
            )
        lines.append("")
    n_oracle = sum(1 for q in CATALOG.values() if q.sql)
    n_green = sum(1 for name in CATALOG if name in green)
    n_window = sum(1 for name in CATALOG if name not in green)
    n_covered = sum(1 for name in CATALOG if name in green or name in window)
    lines += [
        "## Totals",
        "",
        f"- has oracle SQL: {n_oracle} (rows-only: {len(CATALOG) - n_oracle})",
        f"- green driver row from a past round: {n_green}",
        f"- awaiting a passing driver row: {n_window}",
        f"- covered this round (green or in window): {n_covered} / {len(CATALOG)}",
        f"- bench headline: {sum(1 for q in CATALOG.values() if q.bench)}",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(
        f"wrote {out}: {len(CATALOG)} queries, {n_oracle} with oracle SQL, "
        f"{n_green} driver-green, {n_window} awaiting a row"
    )


if __name__ == "__main__":
    main()
