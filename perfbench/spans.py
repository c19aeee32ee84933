"""Spans around calls into the engine's modules, and the Spark event-log
fold that gives each span its task counters.

A span is opened by the benchmark around one call into a package module
(``sources.extract.corpus_graph``, ``graph.bsp.SuperstepLoop.materialize``,
...). Entering a span sets the Spark job group to the span's own id, so every
job the call launches carries that id in its ``SparkListenerJobStart``
properties; leaving it restores the parent's group. Spans stay in memory.
After ``SparkSession.stop()`` has flushed the event log, ``fold_event_log``
sums the task metrics of each job group, ``span_metrics`` turns spans plus
the fold into per-span figures, and ``layer_rollup`` sums those per layer.

Counters of a span include the jobs of its child spans; ``self_s`` is the
span's wall time minus the part its children cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

COUNTERS = (
    "jobs",
    "tasks",
    "run_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_write_records",
    "shuffle_read_bytes",
    "shuffle_read_records",
    "spill_bytes",
    "failed_tasks",
)


@dataclass
class Span:
    id: int
    layer: str  # package module, e.g. "sources.extract"
    call: str  # public call into it, e.g. "corpus_graph"
    parent: int | None
    group: str  # Spark job-group id of the jobs launched inside the span
    start: float
    end: float = 0.0

    @property
    def name(self) -> str:
        return f"{self.layer}.{self.call}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans while ``enabled``; a disabled tracer adds no job group
    and no span, so untraced iterations run exactly the untraced code."""

    run_id: str
    sc: object | None = None  # SparkContext, attached once the session exists
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _open: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, call: str):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        s = Span(
            id=len(self.spans),
            layer=layer,
            call=call,
            parent=parent.id if parent else None,
            group=f"{self.run_id}-{len(self.spans)}",
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def wrap(self, fn, layer: str, call: str):
        """``fn`` with every call inside a span."""

        def traced(*args, **kwargs):
            with self.span(layer, call):
                return fn(*args, **kwargs)

        return traced


# ------------------------------------------------------------ event log fold
def event_files(log_root: str | os.PathLike) -> list[Path]:
    """Every ``events_<n>_<app>`` file of the one application under
    ``log_root`` (Spark 4 rolls the log into an ``eventlog_v2_<app>``
    directory), in roll order."""
    dirs = sorted(Path(log_root).glob("eventlog_v2_*"))
    if len(dirs) != 1:
        raise RuntimeError(f"expected one rolling event-log dir in {log_root}, found {dirs}")
    files = list(dirs[0].glob("events_*"))
    if not files:
        raise RuntimeError(f"no events_* files in {dirs[0]}")
    return sorted(files, key=lambda p: int(p.name.split("_")[1]))


@dataclass
class GroupFold:
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    # stage id -> [(launch ms, finish ms)] of its successful tasks
    stages: dict = field(default_factory=lambda: defaultdict(list))


def fold_event_log(log_root: str | os.PathLike) -> dict[str | None, GroupFold]:
    """Sum task metrics per job group. A stage is owned by the first job
    that lists it (later jobs list reused stages as skipped); jobs without a
    group fold under ``None``."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupFold] = defaultdict(GroupFold)
    for path in event_files(log_root):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    out[group].counters["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    _fold_task(out[stage_group.get(e["Stage ID"])], e)
    return dict(out)


def _fold_task(g: GroupFold, e: dict) -> None:
    c = g.counters
    info = e["Task Info"]
    c["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        c["failed_tasks"] += 1
        return
    m = e.get("Task Metrics") or {}
    c["run_ms"] += m.get("Executor Run Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    w = m.get("Shuffle Write Metrics") or {}
    c["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
    c["shuffle_write_records"] += w.get("Shuffle Records Written", 0)
    r = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    c["shuffle_read_records"] += r.get("Total Records Read", 0)
    g.stages[e["Stage ID"]].append((info["Launch Time"], info["Finish Time"]))


def task_skew(stages: dict) -> float:
    """max/median task time of the slowest stage (largest first-launch to
    last-finish span); 0.0 when no task ran."""
    if not stages:
        return 0.0
    slowest = max(
        stages.values(), key=lambda ts: max(f for _, f in ts) - min(s for s, _ in ts)
    )
    durations = [f - s for s, f in slowest]
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


# ------------------------------------------------------------ span figures
def self_seconds(span: Span, children: list[Span]) -> float:
    """Wall time of ``span`` not covered by any child interval."""
    covered = 0.0
    cur_s = cur_e = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.wall_s - covered


def _descendants(spans: list[Span]) -> tuple[dict, dict]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    desc: dict[int, list[Span]] = {}

    def walk(sid: int) -> list[Span]:
        if sid not in desc:
            desc[sid] = [d for k in kids[sid] for d in [k, *walk(k.id)]]
        return desc[sid]

    for s in spans:
        walk(s.id)
    return desc, kids


def span_metrics(spans: list[Span], fold: dict, cores: int) -> list[dict]:
    """One record per span: name, ids, wall/self time and the counters of
    its own and its descendants' job groups."""
    desc, kids = _descendants(spans)
    out = []
    for s in spans:
        groups = [s.group] + [d.group for d in desc[s.id]]
        rec = {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
               "group": s.group, "start": s.start, "end": s.end,
               "wall_s": s.wall_s, "self_s": self_seconds(s, kids[s.id])}
        stages = {}
        for key in COUNTERS:
            rec[key] = sum(fold[g].counters[key] for g in groups if g in fold)
        for g in groups:
            if g in fold:
                stages.update(fold[g].stages)
        rec["task_skew"] = task_skew(stages)
        rec["busy_frac"] = busy_frac(rec["run_ms"], s.wall_s, cores)
        out.append(rec)
    return out


def busy_frac(run_ms: float, wall_s: float, cores: int) -> float:
    return run_ms / 1000.0 / (wall_s * cores) if wall_s > 0 else 0.0


def in_layer(layer: str, prefix: str) -> bool:
    return layer == prefix or layer.startswith(prefix + ".")


def layer_rollup(records: list[dict], prefix: str, cores: int) -> dict:
    """Figures of one layer (a module, or a package such as ``operators``):
    counters and wall time summed over its outermost spans, so a span nested
    in another span of the same layer is not counted twice; ``self_s``
    summed over all of its spans."""
    by_id = {r["id"]: r for r in records}
    mine = [r for r in records if in_layer(r["layer"], prefix)]

    def nested(r: dict) -> bool:
        p = r["parent"]
        while p is not None:
            if in_layer(by_id[p]["layer"], prefix):
                return True
            p = by_id[p]["parent"]
        return False

    top = [r for r in mine if not nested(r)]
    out = {"spans": len(mine), "wall_s": sum(r["wall_s"] for r in top),
           "self_s": sum(r["self_s"] for r in mine)}
    for key in COUNTERS:
        out[key] = sum(r[key] for r in top)
    # GC as a share of run time: small layers often spend 0 ms in GC, and a
    # time that reads 0 on every run says nothing
    out["gc_frac"] = out["gc_ms"] / out["run_ms"] if out["run_ms"] else 0.0
    out["task_skew"] = max((r["task_skew"] for r in top), default=0.0)
    out["busy_frac"] = busy_frac(out["run_ms"], out["wall_s"], cores)
    return out


# ------------------------------------------------------------ repeat check
REPEAT_KEYS = ("shuffle_write_records", "shuffle_read_records")


def repeat_mismatches(a: dict, b: dict, prefix: str = "operators") -> list[str]:
    """Compare two trace files of the same workload and seed: every span of
    layer ``prefix`` (matched by name and order of appearance) must have
    identical shuffle record counts. Returns the differences found."""

    def keyed(trace: dict) -> dict:
        seen: dict[str, int] = defaultdict(int)
        out = {}
        for r in trace["records"]:
            if in_layer(r["layer"], prefix):
                out[(r["name"], seen[r["name"]])] = r
                seen[r["name"]] += 1
        return out

    ka, kb = keyed(a), keyed(b)
    diffs = [f"{k[0]}#{k[1]} only in one trace" for k in sorted(set(ka) ^ set(kb))]
    if not ka:
        diffs.append(f"no {prefix} spans in the traces")
    for k in sorted(set(ka) & set(kb)):
        for key in REPEAT_KEYS:
            if ka[k][key] != kb[k][key]:
                diffs.append(f"{k[0]}#{k[1]} {key}: {ka[k][key]} != {kb[k][key]}")
    return diffs
