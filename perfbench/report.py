"""Layer-share table from a traced run's span file.

    python3 perfbench/report.py .perfbench_out/trace-<workload>-seed<n>.json

Over all sync calls of the timed phase together it prints a markdown table
of the self time the driver thread spent in each span and its share of the
calls' wall time; ``unattributed`` is driver time outside every layer span.
Spans of other threads (the multi-table fan-out) overlap the driver's wait
and are listed without a share. ``task_s`` is the executor run time of the
Spark stages each span launched. Rows under 0.5% of the wall (driver) or
0.05 s (fan-out threads) are left out.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def table(trace: dict) -> str:
    spans = trace["spans"]
    calls = [s for s in spans if s["name"] == "sync"]
    wall = sum(c["end"] - c["start"] for c in calls)

    def in_call(start: float, end: float) -> bool:
        return any(c["start"] <= start and end <= c["end"] for c in calls)

    driver, pool, task = defaultdict(float), defaultdict(float), defaultdict(float)
    for s in spans:
        if not in_call(s["start"], s["end"]):
            continue
        if s["name"] == "sync":
            driver["unattributed"] += s["self_s"]
        elif s["thread"] == "driver":
            driver[s["name"]] += s["self_s"]
        else:
            pool[s["name"]] += s["self_s"]
    for st in trace["stages"]:
        if in_call(st["start_ms"] / 1000, st["start_ms"] / 1000):
            task[st["group"]] += st["task_s"]
    out = [f"{len(calls)} sync calls: wall {wall:.2f} s", "", "| span | self_s | share | task_s |", "|---|---|---|---|"]
    for name, v in sorted(driver.items(), key=lambda kv: -kv[1]):
        if v >= 0.005 * wall:
            out.append(f"| `{name}` | {v:.2f} | {v / wall:.1%} | {task[name]:.2f} |")
    for name, v in sorted(pool.items(), key=lambda kv: -kv[1]):
        if v >= 0.05:
            out.append(f"| `{name}` (fan-out threads) | {v:.2f} | | {task[name]:.2f} |")
    return "\n".join(out)


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        print(table(json.load(fh)))
