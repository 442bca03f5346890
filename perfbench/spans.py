"""Outside-in tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: each public function of
a layer is wrapped where its caller looks it up (module attribute or class
attribute), so no program file changes. A span holds its name, start, end
and parent; its Spark jobs are tagged with a job group unique to the span,
so job/stage/task counts come from the StatusTracker and shuffle, spill and
input-row volumes from the Spark event log, both attributable to the span
that ran them.

Everything stays in memory until :func:`layer_report` runs at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: the same API, no spans, no job groups."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._jvm_bus = self.sc._jsc.sc().listenerBus()

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        g = self._group(span)
        if g is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(g, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, None if parent is None else parent.id, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s.counts
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._spark_counts(s)

    def _spark_counts(self, s: Span) -> None:
        """Jobs, stages run and tasks completed under this span's own group
        (children have their own groups). Waits for the listener bus so the
        status store has seen every job the span's actions ran."""
        self._jvm_bus.waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self._group(s))
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        s.counts.update(jobs=len(jobs), stages=stages, tasks=tasks)


# ----------------------------------------------------------------- patching


def _wrap(tracer: Tracer, name: str, fn, counter=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name) as counts:
            out = fn(*args, **kwargs)
            if counter is not None:
                counter(counts, args, kwargs, out)
            return out

    return traced


def _count_write(counts, args, kwargs, files):
    import pyarrow.parquet as pq

    table = args[0]
    paths = [table._abs(p) for fs in files.values() for p in fs]
    counts["files"] = len(paths)
    counts["bytes"] = sum(os.path.getsize(p) for p in paths)
    counts["rows"] = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _count_commit(counts, args, kwargs, snap):
    counts["manifest_bytes"] = os.path.getsize(args[0]._manifest_path(snap.version))


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Wrap each layer's public functions at the name its caller uses;
    restore every original on exit."""
    from plugin_singer_spark import messages
    from plugin_singer_spark.ingest import pipeline, streaming
    from plugin_singer_spark.lake import merge, table
    from plugin_singer_spark.operators import incremental_dedup as incdedup

    targets = [
        # (owner, attribute, span name, counter); a function another module
        # bound at import is wrapped in that module, once per caller
        (messages, "parse_records_lean", "messages.parse_records_lean", None),
        (streaming, "replay_files", "ingest.streaming.replay_files", None),
        (streaming, "replay_cdc", "ingest.pipeline.replay_cdc", None),
        (pipeline, "replay_cdc", "ingest.pipeline.replay_cdc", None),
        (pipeline, "merge_append", "lake.merge.merge_append", None),
        (incdedup, "merge_append", "lake.merge.merge_append", None),
        # callers import compact inside the function: the module attribute
        (merge, "compact", "lake.merge.compact", None),
        (table.LakeTable, "write_buckets", "lake.table.write_buckets", _count_write),
        (table.LakeTable, "commit", "lake.table.commit", _count_commit),
        (table.LakeTable, "read", "lake.table.read", None),
        (incdedup.MinHashIndex, "update", "operators.incremental_dedup.update", None),
        (incdedup.MinHashIndex, "candidates", "operators.incremental_dedup.candidates", None),
        (incdedup.MinHashIndex, "neardup_pairs", "operators.incremental_dedup.neardup_pairs", None),
        (incdedup, "jaccard_verify", "operators.dedup.jaccard_verify", None),
        (incdedup, "banded_buckets", "operators.dedup.banded_buckets", None),
    ]
    saved = []
    for owner, attr, name, counter in targets:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig, attr in vars(owner)))
        setattr(owner, attr, _wrap(tracer, name, orig, counter))
    try:
        yield
    finally:
        for owner, attr, orig, own in reversed(saved):
            if own:
                setattr(owner, attr, orig)
            else:  # inherited: drop the wrapper, the base class's shows again
                delattr(owner, attr)


def write_spans(spans: list[Span], path: str) -> None:
    """The run's spans, written once at the end (start/end in seconds on the
    run's perf_counter clock)."""
    with open(path, "w") as f:
        json.dump([s.__dict__ for s in spans], f)


# ------------------------------------------------------------ event log


def event_log_volumes(event_dir: str) -> dict[str, dict[str, int]]:
    """Per job group: shuffle bytes written, bytes spilled (memory + disk),
    input records read and executor run time (ms), summed over the tasks of
    the group's jobs.
    Read after the SparkContext stopped (the log is complete then)."""
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                if g is None or not m:
                    continue
                v = out[g]
                v["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                v["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                v["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                v["task_run_ms"] += m.get("Executor Run Time", 0)
    return out


# ------------------------------------------------------------ the report


def _self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its direct children cover (children run
    sequentially on the one driver thread, inside their parent)."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return {s.id: max(s.dur - child[s.id], 0.0) for s in spans}


def _inclusive(spans: list[Span], key: str) -> dict[int, float]:
    """A span's count plus all its descendants' (spans are recorded in start
    order, so a reverse pass folds children before parents)."""
    tot = {s.id: float(s.counts.get(key, 0)) for s in spans}
    for s in reversed(spans):
        if s.parent is not None:
            tot[s.parent] += tot[s.id]
    return tot


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


EPOCH_SPANS = ("ingest.pipeline.replay_cdc", "operators.incremental_dedup.update")


def layer_report(
    spans: list[Span], volumes: dict[str, dict[str, int]], events: int, cores: int
) -> tuple[dict, list[str]]:
    """Per-layer metrics (0 for a layer the workload leaves idle) and a
    printable per-layer table. ``events`` is the rows the timed rounds
    ingested (change events, or documents for the index)."""
    for s in spans:
        for k, v in volumes.get(f"perfbench-{s.id}", {}).items():
            s.counts[k] = v
    self_t = _self_times(spans)
    by = defaultdict(list)
    for s in spans:
        by[s.name].append(s)
    inc = {k: _inclusive(spans, k) for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                                             "input_rows", "files", "rows", "task_run_ms")}

    def incl(name):
        return [s.dur for s in by[name]]

    def cnt(name, key, inclusive=False):
        return [inc[key][s.id] if inclusive else s.counts.get(key, 0) for s in by[name]]

    epochs = [s for n in EPOCH_SPANS for s in by[n]]
    compact_rows = cnt("lake.merge.compact", "rows", inclusive=True)
    cand = sum(s.counts.get("pairs", 0) for s in by["probe.candidates"])
    verified = sum(s.counts.get("pairs", 0) for s in by["probe.verify"])
    written = sum(s.counts.get("bytes", 0) for s in by["lake.table.write_buckets"])
    m = {
        "messages.parse_s": _median(incl("probe.parse")),
        "lake.merge.merge_append_s": _median(self_t[s.id] for s in by["lake.merge.merge_append"]),
        "lake.table.write_buckets_s": _median(incl("lake.table.write_buckets")),
        "lake.merge.compact_s": _median(incl("lake.merge.compact")),
        "lake.merge.compact_rows_rewritten": _median(compact_rows),
        "lake.table.commit_s": _median(incl("lake.table.commit")),
        "lake.table.manifest_bytes": _median(cnt("lake.table.commit", "manifest_bytes")),
        "lake.table.files_written": _median(cnt("lake.table.write_buckets", "files")),
        "lake.table.bytes_written_per_event": written / events if events else 0.0,
        "ingest.streaming.driver_gap_s": _median(
            s.counts.get("driver_gap_s", 0.0) for s in by["perfbench.replay"]
        ),
        "ingest.pipeline.replay_cdc_s": _median(incl("ingest.pipeline.replay_cdc")),
        "lake.table.files_per_commit": _median(inc["files"][s.id] for s in epochs),
        "lake.table.read_plan_s": _median(incl("lake.table.read")),
        "operators.dedup.banded_buckets_s": _median(incl("probe.banded_buckets")),
        "operators.incremental_dedup.update_s": _median(incl("operators.incremental_dedup.update")),
        "operators.incremental_dedup.candidates_s": _median(incl("probe.candidates")),
        "operators.incremental_dedup.verify_s": _median(incl("probe.verify")),
        "index.candidate_pairs": _median(cnt("probe.candidates", "pairs")),
        "index.verified_pairs": _median(cnt("probe.verify", "pairs")),
        "index.verify_yield": verified / cand if cand else 0.0,
        "spark.input_rows_per_verify": _median(cnt("probe.verify", "input_rows", inclusive=True)),
        "spark.jobs_per_epoch": _median(inc["jobs"][s.id] for s in epochs),
        "spark.stages_per_epoch": _median(inc["stages"][s.id] for s in epochs),
        "spark.shuffle_write_bytes_per_epoch": _median(
            inc["shuffle_write_bytes"][s.id] for s in epochs
        ),
        "spark.task_s_per_epoch": _median(inc["task_run_ms"][s.id] / 1000 for s in epochs),
        "spark.spill_bytes": float(sum(s.counts.get("spill_bytes", 0) for s in spans)),
    }
    bases = {
        "lake.table.bytes_written_per_event": f"{written} B written / {events} events",
        "index.verify_yield": f"{verified} verified / {cand} candidate pairs",
    }
    # own counts per span name (a child's jobs are in the child's row)
    lines = [
        f"{'span':44s} {'calls':>5s} {'self_s':>9s} {'incl_s':>9s} {'jobs':>5s} "
        f"{'stages':>6s} {'tasks':>6s} {'task_s':>8s} {'shuffle_B':>11s} {'spill_B':>9s}"
    ]
    for name in sorted(n for n, ss in by.items() if ss):
        ss = by[name]
        lines.append(
            f"{name:44s} {len(ss):5d} {sum(self_t[s.id] for s in ss):9.3f} "
            f"{sum(s.dur for s in ss):9.3f} {sum(s.counts.get('jobs', 0) for s in ss):5d} "
            f"{sum(s.counts.get('stages', 0) for s in ss):6d} "
            f"{sum(s.counts.get('tasks', 0) for s in ss):6d} "
            f"{sum(s.counts.get('task_run_ms', 0) for s in ss) / 1000:8.3f} "
            f"{sum(s.counts.get('shuffle_write_bytes', 0) for s in ss):11d} "
            f"{sum(s.counts.get('spill_bytes', 0) for s in ss):9d}"
        )
    lines += [f"ratio {k} = {v:.6g} ({bases[k]})" for k, v in m.items() if k in bases and v]
    lines += _shares(by, self_t, inc, epochs, cores)
    return m, lines


def _within(by, outer: Span, name: str, self_t=None) -> float:
    """Seconds the spans called ``name`` took inside ``outer`` (their self
    time when ``self_t`` is given)."""
    ids = {s.id: s for ss in by.values() for s in ss}

    def inside(s):
        while s.parent is not None:
            if s.parent == outer.id:
                return True
            s = ids[s.parent]
        return False

    return sum(self_t[s.id] if self_t else s.dur for s in by[name] if inside(s))


def _shares(by, self_t, inc, epochs, cores) -> list[str]:
    """Where one epoch's and one read's wall time goes (medians per call).
    ``task busy`` is the executor run time of the span's tasks over
    ``cores`` × its wall time: the rest is job scheduling, planning and
    driver work, the fixed cost of a Spark action."""
    out = []

    def share(label, part, whole):
        return f"{label} {part:.3f} s = {100 * part / whole:.0f}%" if whole else f"{label} -"

    if epochs:
        wall = _median(s.dur for s in epochs)
        busy = _median(inc["task_run_ms"][s.id] / 1000 for s in epochs)
        parts = [
            share("parse (probe, outside the epoch)", _median(s.dur for s in by["probe.parse"]),
                  wall),
            share("merge_append self", _median(_within(by, e, "lake.merge.merge_append", self_t)
                                               for e in epochs), wall),
            share("write_buckets", _median(_within(by, e, "lake.table.write_buckets")
                                           for e in epochs), wall),
            share("commit", _median(_within(by, e, "lake.table.commit") for e in epochs), wall),
        ]
        out.append(f"share of one epoch ({wall:.3f} s): " + "; ".join(parts)
                   + f"; task busy {busy:.3f} task-s / ({cores} cores × {wall:.3f} s) = "
                   f"{100 * busy / (cores * wall):.0f}%")
    for read in ("perfbench.scan_s", "perfbench.pairs_s"):
        if by[read]:
            wall = _median(s.dur for s in by[read])
            busy = _median(inc["task_run_ms"][s.id] / 1000 for s in by[read])
            parts = [share("read plan", _median(s.dur for s in by["lake.table.read"]), wall)]
            if read == "perfbench.pairs_s":
                parts += [
                    share("candidates (probe)", _median(s.dur for s in by["probe.candidates"]), wall),
                    share("verify (probe)", _median(s.dur for s in by["probe.verify"]), wall),
                ]
            out.append(f"share of one read ({read}, {wall:.3f} s): " + "; ".join(parts)
                       + f"; task busy {100 * busy / (cores * wall):.0f}%")
    return out
