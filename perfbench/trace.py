"""Spans recorded by the benchmark around its calls into each layer, and
the arithmetic of the per-layer table built from them.

A span is (name, start, end, parent, run id) plus the counts recorded at
the same boundary.  Spans stay in memory and are written out once, when
the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# the flag threshold of the layer table: parts must explain the stage to
# within this share of its wall time
UNATTRIBUTED_LIMIT = 0.10


class Tracer:
    """Collects spans; ``span`` nests by call order."""

    def __init__(self, run_id: str, clock=time.perf_counter):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._clock = clock
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": self._clock(),
            "end": None,
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = self._clock()
            self._stack.pop()

    def total(self, name: str) -> float:
        """Summed duration of every finished span called ``name``."""
        return sum(duration(s) for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def count(self, name: str, key: str) -> float:
        """Summed count ``key`` over the spans called ``name``."""
        return sum(s["counts"].get(key, 0) for s in self.spans
                   if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def layer_table(stage_wall: float, stage_task_s: float,
                parts: list[tuple[str, float, float]]) -> dict:
    """Split a stage into layer parts.

    ``parts`` holds (layer, wall seconds, task seconds).  Returns rows
    with each part's share of the stage on both bases, and the signed
    residual ``unattributed_frac`` = (stage wall - sum of part walls) /
    stage wall; ``flagged`` is set when the residual exceeds
    ``UNATTRIBUTED_LIMIT`` either way."""
    if stage_wall <= 0:
        raise ValueError("stage wall time must be positive")
    rows = []
    for name, wall, task in parts:
        rows.append({
            "layer": name,
            "wall_s": wall,
            "task_s": task,
            "wall_share": wall / stage_wall,
            "task_share": task / stage_task_s if stage_task_s > 0 else 0.0,
        })
    unattributed = stage_wall - sum(wall for _, wall, _ in parts)
    frac = unattributed / stage_wall
    return {
        "stage_wall_s": stage_wall,
        "stage_task_s": stage_task_s,
        "rows": rows,
        "unattributed_s": unattributed,
        "unattributed_frac": frac,
        "flagged": abs(frac) > UNATTRIBUTED_LIMIT,
    }


def format_table(title: str, table: dict) -> str:
    lines = [
        f"{title}: stage {table['stage_wall_s']:.3f} s wall, "
        f"{table['stage_task_s']:.3f} task-s",
        f"  {'layer':<36} {'wall_s':>9} {'wall%':>7} {'task_s':>9} {'task%':>7}",
    ]
    for r in table["rows"]:
        lines.append(
            f"  {r['layer']:<36} {r['wall_s']:>9.3f} {100 * r['wall_share']:>6.1f}%"
            f" {r['task_s']:>9.3f} {100 * r['task_share']:>6.1f}%"
        )
    lines.append(
        f"  {'unattributed':<36} {table['unattributed_s']:>9.3f}"
        f" {100 * table['unattributed_frac']:>6.1f}%"
        + ("   <-- FLAG: parts leave more than "
           f"{100 * UNATTRIBUTED_LIMIT:.0f}% of the stage unexplained"
           if table["flagged"] else "")
    )
    return "\n".join(lines)
