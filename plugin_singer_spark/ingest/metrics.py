"""Metrics + lineage: the engine's analog of Singer METRIC parsing.

Reference: ``METRIC: {json}`` stderr lines become counters/timers with
lowercased tag values and ``[_-] → .`` name mangling, emitted under the
``singer.`` prefix (AbstractPythonSinger.java:307-357; prefix match at
:327-331, tag mangling :216-228, counter/timer switch :229-236).

Engine side: every merge already writes a lineage record into the snapshot
manifest (source offset range → snapshot version → row counts); this module
adds the Singer METRIC line parser for JSONL passthrough parity.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any

METRIC_PREFIX = "METRIC: "  # AbstractPythonSinger.java:327-331


@dataclass
class Metric:
    """models/Metric.java:10-22."""

    type: str  # counter | timer
    metric: str
    value: float
    tags: dict[str, Any] = field(default_factory=dict)

    @property
    def qualified_name(self) -> str:
        """``singer.`` prefix + ``[_-]→.`` mangling (AbstractPythonSinger.java:217)."""
        return "singer." + re.sub(r"[_-]", ".", self.metric)

    def mangled_tags(self) -> dict[str, str]:
        """Tag values lowercased, keys mangled (AbstractPythonSinger.java:216-228)."""
        return {
            re.sub(r"[_-]", ".", str(k)): str(v).lower()
            for k, v in self.tags.items()
            if v is not None
        }


def parse_metric_line(line: str) -> Metric | None:
    """Parse one stderr line; None when it isn't a METRIC line."""
    if not line.startswith(METRIC_PREFIX):
        return None
    try:
        d = json.loads(line[len(METRIC_PREFIX):])
        return Metric(
            type=str(d.get("type", "counter")),
            metric=str(d.get("metric", "")),
            value=float(d.get("value", 0)),
            tags=dict(d.get("tags") or {}),
        )
    except (json.JSONDecodeError, TypeError, ValueError):
        return None


def parse_metric_lines(lines: list[str]) -> list[Metric]:
    return [m for m in (parse_metric_line(x) for x in lines) if m is not None]

