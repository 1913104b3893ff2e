"""Spans around the engine's layers, and a Spark event-log reader that credits
task work to them.

``TracingStageStore`` is passed to ``run_dedup`` as ``store=``. Each
``materialize`` call is one child span (stage name, start, end, thread), and
the Spark jobs it launches carry the stage name as their job description, so
the event log attributes their tasks even while the two stage chains run at
once. After a stage, its thread's later jobs carry ``<stage>+`` until the
next stage starts: the work a chain runs between its stages (eager counts
while a stage's plan is built) is credited to that chain. Spans stay in
memory; the caller reads them when the run has ended.

``read_event_log`` needs the session started with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``, and
reads the log after ``spark.stop()`` has flushed it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

from lsh_cascade_poc_spark.checkpoint import StageStore

# the stages run_dedup materializes through its store, in dependency order
STAGES = ("docs", "signatures", "pairs_minhash", "pairs_simhash",
          "hot_band_drops", "overlap_fps", "pairs_overlap", "dup_pairs",
          "clusters")
# the two chains run_dedup runs side by side, each in its own thread
CHAINS = {
    "signature": ("signatures", "pairs_minhash", "pairs_simhash",
                  "hot_band_drops"),
    "overlap": ("overlap_fps", "pairs_overlap"),
}
# suffix of the job description a thread carries after a stage
AFTER = "+"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the event log's clock
    end: float
    thread: int


@dataclass
class TracingStageStore(StageStore):
    spans: list = field(default_factory=list)

    def materialize(self, stage, df_factory, **kw):
        sc = self.spark.sparkContext
        sc.setJobDescription(stage)
        start = time.time()
        try:
            return super().materialize(stage, df_factory, **kw)
        finally:
            self.spans.append(Span(stage, start, time.time(),
                                   threading.get_ident()))
            sc.setJobDescription(stage + AFTER)


@dataclass
class TaskWork:
    cpu_s: float = 0.0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    tasks: int = 0


@dataclass
class GroupLog:
    """What the event log holds for one job group."""
    jobs: list = field(default_factory=list)  # (description, start_s, end_s)
    work: dict = field(default_factory=dict)  # description -> TaskWork


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: a single file per app, or the rolling
    ``eventlog_v2_*/events_<n>_*`` layout."""
    files = []
    for dirpath, _, names in os.walk(log_dir):
        for name in names:
            if name.startswith(("appstatus_", ".")) or name.endswith(".crc"):
                continue
            key = (0, name)
            if name.startswith("events_"):
                key = (int(name.split("_")[1]), name)
            files.append((dirpath, key, os.path.join(dirpath, name)))
    return [p for _, _, p in sorted(files)]


_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerStageSubmitted", "SparkListenerTaskEnd")


def read_event_log(log_dir: str) -> dict[str, GroupLog]:
    """{job group id: GroupLog}. Tasks are credited to the description of the
    stage that ran them, which is the description of the job that launched
    the stage; an unlabelled job's work is credited to ""."""
    job_props: dict[int, tuple[str, str, float]] = {}
    stage_label: dict[int, tuple[str, str]] = {}
    groups: dict[str, GroupLog] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if not any(w in line[:60] for w in _WANTED):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job_props[ev["Job ID"]] = (
                        props.get("spark.jobGroup.id", ""),
                        props.get("spark.job.description", ""),
                        ev["Submission Time"] / 1000.0,
                    )
                elif kind == "SparkListenerJobEnd":
                    got = job_props.get(ev["Job ID"])
                    if got is not None:
                        group, desc, start = got
                        groups.setdefault(group, GroupLog()).jobs.append(
                            (desc, start, ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_label[ev["Stage Info"]["Stage ID"]] = (
                        props.get("spark.jobGroup.id", ""),
                        props.get("spark.job.description", ""),
                    )
                else:
                    group, desc = stage_label.get(ev["Stage ID"], ("", ""))
                    m = ev.get("Task Metrics") or {}
                    w = groups.setdefault(group, GroupLog()).work \
                        .setdefault(desc, TaskWork())
                    w.tasks += 1
                    w.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    w.task_s += m.get("Executor Run Time", 0) / 1e3
                    w.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}) \
                        .get("Shuffle Bytes Written", 0) / 2**20
                    w.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return groups


def covered(intervals, lo: float = float("-inf"),
            hi: float = float("inf")) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def overlapped(intervals) -> float:
    """Time during which at least two of the intervals are open."""
    edges = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    total, depth, last = 0.0, 0, None
    for t, step in edges:
        if depth >= 2:
            total += t - last
        depth += step
        last = t
    return total


def stage_metrics(spans: list, wall: float, log: GroupLog) -> dict[str, float]:
    """Per-stage span, task and driver figures plus the pipeline-level
    timeline for one traced run_dedup call of the given wall. The staged
    and unstaged time add up to the wall."""
    out: dict[str, float] = {}
    by_name = {s.name: s for s in spans}
    for name in STAGES:
        span = by_name.get(name)
        w = log.work.get(name, TaskWork())
        span_s = span.end - span.start if span else 0.0
        jobs = [(start, end) for desc, start, end in log.jobs if desc == name]
        busy = covered(jobs, span.start, span.end) if span else 0.0
        out.update({
            f"{name}.wall_s": span_s,
            f"{name}.cpu_s": w.cpu_s,
            f"{name}.task_s": w.task_s,
            # span time in which none of the stage's Spark jobs ran
            f"{name}.driver_s": span_s - busy,
            f"{name}.shuffle_write_mb": w.shuffle_write_mb,
            f"{name}.spill_mb": w.spill_mb,
            f"{name}.tasks": float(w.tasks),
        })

    # a chain's length is its extent, first stage start to last stage end:
    # the eager jobs that build a stage's plan run in the chain's thread
    # between its spans, and they delay the chain as much as a stage does
    extent = {}
    for chain, names in CHAINS.items():
        own = [by_name[n] for n in names if n in by_name]
        extent[chain] = (max(s.end for s in own) - min(s.start for s in own)
                         if own else 0.0)
        gap = [log.work.get(n + AFTER, TaskWork()) for n in names[:-1]]
        out[f"pipeline.{chain}_chain_s"] = extent[chain]
        out[f"pipeline.{chain}_chain_gap_s"] = extent[chain] - covered(
            (s.start, s.end) for s in own)
        out[f"pipeline.{chain}_chain_gap_task_s"] = sum(w.task_s for w in gap)
    out["pipeline.critical_path_s"] = (
        out["docs.wall_s"] + max(extent.values())
        + out["dup_pairs.wall_s"] + out["clusters.wall_s"]
    )
    intervals = [(s.start, s.end) for s in spans]
    out["pipeline.wall_s"] = wall
    out["pipeline.unstaged_s"] = wall - covered(intervals)
    out["pipeline.chain_overlap_s"] = overlapped(intervals)
    # every job no stage span launched: the doc_id collision check and the
    # plan building in and between the chains
    unstaged = [w for desc, w in log.work.items() if desc not in STAGES]
    out["pipeline.unstaged_tasks"] = float(sum(w.tasks for w in unstaged))
    out["pipeline.unstaged_task_s"] = sum(w.task_s for w in unstaged)
    return out
