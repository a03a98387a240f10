"""Tracing for the benchmark's traced runs: stage spans, Spark event-log
counters and process-tree memory.

Spans are recorded from outside the program: `TracedStageStore` wraps
`StageStore.materialize`, so every pipeline stage becomes one span, and it
tags the Spark jobs the stage launches with the stage name through a
thread-local Spark property. The event log of the traced session is parsed
afterwards into per-stage task counters.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from procs import parent_pids

from lsh_cascade_poc_spark.checkpoint import StageStore

# Spark local properties (thread-local in the JVM; copied into the
# pipeline's chain threads by inheritable_thread_target)
STAGE_PROP = "perfbench.stage"
RUN_PROP = "perfbench.run"

SIG_CHAIN = ("signatures", "pairs_minhash", "pairs_simhash", "hot_band_drops")
OVERLAP_CHAIN = ("overlap_fps", "pairs_overlap")


@dataclass(frozen=True)
class Span:
    name: str
    thread: int
    start: float
    end: float
    parent: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(parent: Span, children: list[Span]) -> float:
    """The parent's duration minus the part of it its children cover."""
    covered = union_length(
        (max(c.start, parent.start), min(c.end, parent.end))
        for c in children if c.end > parent.start and c.start < parent.end
    )
    return parent.duration - covered


def critical_path(stage_s: dict[str, float]) -> float:
    """docs + max(signature chain, overlap chain) + dup_pairs + clusters:
    the two candidate chains run concurrently, everything else in series."""
    sig = sum(stage_s.get(s, 0.0) for s in SIG_CHAIN)
    ov = sum(stage_s.get(s, 0.0) for s in OVERLAP_CHAIN)
    return (stage_s.get("docs", 0.0) + max(sig, ov)
            + stage_s.get("dup_pairs", 0.0) + stage_s.get("clusters", 0.0))


def pipeline_layer(run: Span, spans: list[Span]) -> dict[str, float]:
    """Pipeline-layer figures of one traced run from its stage spans."""
    stage_s = {s.name: s.duration for s in spans}
    covered = union_length((s.start, s.end) for s in spans)
    return {
        "critical_path_s": critical_path(stage_s),
        "outside_stages_s": self_time(run, spans),
        # summed stage time over wall time the stages cover: 1.0 means the
        # stages ran strictly one after another
        "concurrency": sum(stage_s.values()) / covered if covered else 0.0,
    }


@dataclass
class TracedStageStore(StageStore):
    """StageStore that records one span per materialize call and tags the
    Spark jobs launched inside it with the stage name."""

    spans: list = field(default_factory=list)
    parent: str = "run"

    def materialize(self, stage, df_factory, *args, **kwargs):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(STAGE_PROP)
        sc.setLocalProperty(STAGE_PROP, stage)
        start = time.perf_counter()
        try:
            return super().materialize(stage, df_factory, *args, **kwargs)
        finally:
            end = time.perf_counter()
            sc.setLocalProperty(STAGE_PROP, prev)
            self.spans.append(Span(stage, threading.get_ident(), start, end,
                                   self.parent))


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

@dataclass
class StageCounters:
    tasks: int = 0
    jobs: int = 0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # per Spark stage: executor run times (ms) of its tasks
    task_ms: dict = field(default_factory=dict)

    @property
    def skew(self) -> float:
        """Largest max/median task run time over the Spark stages with at
        least two tasks (1.0 = perfectly even)."""
        worst = 1.0
        for times in self.task_ms.values():
            if len(times) >= 2:
                med = statistics.median(times)
                if med > 0:
                    worst = max(worst, max(times) / med)
        return worst


def parse_event_log(lines, run_tag: str) -> dict[str, StageCounters]:
    """Event-log JSON lines -> {stage tag: counters} over the jobs whose
    RUN_PROP equals `run_tag`. Jobs with no stage tag are keyed ""."""
    stage_of: dict[int, str] = {}
    out: dict[str, StageCounters] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get(RUN_PROP) != run_tag:
                continue
            tag = props.get(STAGE_PROP) or ""
            out.setdefault(tag, StageCounters()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_of[sid] = tag
        elif kind == "SparkListenerTaskEnd":
            tag = stage_of.get(ev.get("Stage ID"))
            if tag is None:
                continue
            c = out.setdefault(tag, StageCounters())
            m = ev.get("Task Metrics") or {}
            c.tasks += 1
            c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            c.task_ms.setdefault(ev["Stage ID"], []).append(
                m.get("Executor Run Time", 0))
    return out


def read_event_logs(log_dir: str, run_tag: str) -> dict[str, StageCounters]:
    """Parse every event-log file under `log_dir`: one directory per
    application, holding `events_<n>_<app>` files next to a status marker
    and checksum files."""
    lines: list[str] = []
    for root, dirs, files in os.walk(log_dir):
        dirs.sort()
        for name in sorted(files):
            if not name.startswith("events_"):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as f:
                lines.extend(f)
    return parse_event_log(lines, run_tag)


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------

def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for pid, ppid in parent_pids().items():
        children.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (driver,
    JVM, Python workers) on a background thread; `peak` is the maximum."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
