"""Measurement helpers that need no Spark: percentiles, spans and
self time, the streaming checkpoint's per-file latency, the event log,
and the process tree's memory.

Everything here reads records the engine already writes (checkpoint
logs, the uncompressed event log, ``/proc``) or times calls from the
outside, so the package under test is never modified.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import time

#: samples a reported percentile must leave beyond it
TAIL_SAMPLES = 10


def percentile(values, q: float) -> tuple[float, float]:
    """Nearest-rank percentile ``q`` (0-1) of ``values``, lowered to the
    highest percentile that still has at least ``TAIL_SAMPLES`` samples
    above it.  Returns ``(value, percentile actually reported)``."""
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("percentile of no samples")
    rank = max(1, min(math.ceil(q * n), n - TAIL_SAMPLES))
    return xs[rank - 1], rank / n


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    once when the run ends.  Times are epoch seconds so they line up
    with the event log and checkpoint file times."""

    def __init__(self, trace_id: str, enabled: bool = True) -> None:
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        #: attributes stamped on every new span (e.g. the run phase)
        self.tags: dict = {}
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace_id": self.trace_id,
            "start": time.time(),
            "end": None,
            **self.tags,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Seconds each span spent outside its direct children."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


# --------------------------------------------------------------------------
# streaming checkpoint → per-file latency


def _log_entries(path: str) -> list[str]:
    """Lines of one metadata-log file after its version header."""
    with open(path) as f:
        lines = f.read().splitlines()
    return [ln for ln in lines[1:] if ln.strip()]


def source_ids(checkpoint: str) -> dict[str, int]:
    """File name → the file source's own log id for the listing that
    found it (``sources/0/<id>`` and its ``.compact`` files).  This id
    is the source offset, not the micro-batch id."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        for ln in _log_entries(os.path.join(d, name)):
            e = json.loads(ln)
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def end_offsets(checkpoint: str) -> dict[int, int]:
    """Micro-batch id → the file source's end offset for that batch,
    from the offset log (``offsets/<batch>``: a version line, the batch
    metadata, then the one source's offset)."""
    d = os.path.join(checkpoint, "offsets")
    out: dict[int, int] = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.isdigit():
            with open(os.path.join(d, name)) as f:
                lines = f.read().splitlines()
            out[int(name)] = int(json.loads(lines[2])["logOffset"])
    return out


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name → id of the micro-batch that read it: the first batch
    whose end offset reaches the file's source id (batches that only
    advance the watermark keep the previous end offset)."""
    ends = sorted(end_offsets(checkpoint).items())
    out = {}
    for name, sid in source_ids(checkpoint).items():
        hit = next((b for b, end in ends if end >= sid), None)
        if hit is not None:
            out[name] = hit
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id → epoch time its commit-log entry was written."""
    d = os.path.join(checkpoint, "commits")
    out: dict[int, float] = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def committed_watermark_ms(checkpoint: str) -> int | None:
    """Event-time watermark (epoch ms) the last committed batch ran
    with, from its offset-log entry; ``None`` before the first commit."""
    done = commit_times(checkpoint)
    if not done:
        return None
    with open(os.path.join(checkpoint, "offsets", str(max(done)))) as f:
        return int(json.loads(f.read().splitlines()[1])["batchWatermarkMs"])


def file_latencies(
    checkpoint: str, due: dict[str, float]
) -> tuple[dict[str, float], list[str]]:
    """Seconds from each file's scheduled landing time to the commit of
    the batch that consumed it (source log → offset log → commit log).
    Returns ``(latency by file, files never committed)``."""
    batches = file_batches(checkpoint)
    commits = commit_times(checkpoint)
    lat, missing = {}, []
    for name, t_due in due.items():
        b = batches.get(name)
        if b is None or b not in commits:
            missing.append(name)
        else:
            lat[name] = commits[b] - t_due
    return lat, missing


# --------------------------------------------------------------------------
# event log


def read_event_log(log_dir: str) -> dict:
    """Jobs and completed stages from an uncompressed event log
    directory (plain or rolling ``eventlog_v2_*`` layout).

    Returns ``{"jobs": {job_id: {"props", "stages", "start", "end"}},
    "stages": {stage_id: {"tasks", "start", "end", "shuffle_write"}}}``
    with times in epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    written: dict[int, int] = {}
    files = sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(log_dir)
        for f in names
        if not f.startswith(".") and not f.startswith("appstatus")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "props": ev.get("Properties") or {},
                        "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    sid = ev["Stage ID"]
                    written[sid] = written.get(sid, 0) + sw.get("Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" not in info:
                        continue
                    stages[info["Stage ID"]] = {
                        "tasks": info["Number of Tasks"],
                        "start": info["Submission Time"] / 1000,
                        "end": info["Completion Time"] / 1000,
                    }
    for sid, st in stages.items():
        st["shuffle_write"] = written.get(sid, 0)
    return {"jobs": jobs, "stages": stages}


def group_jobs(log: dict, key) -> dict:
    """Job-group key → ``{"jobs", "stages"}`` where ``key(props)``
    names a job's group (``None`` drops the job)."""
    out: dict = {}
    for job in log["jobs"].values():
        k = key(job["props"])
        if k is None:
            continue
        g = out.setdefault(k, {"jobs": 0, "stages": set()})
        g["jobs"] += 1
        g["stages"].update(s for s in job["stages"] if s in log["stages"])
    return out


def stage_stats(log: dict, stage_ids, wall_start: float, wall_end: float) -> dict:
    """Stage, task and shuffle-write totals for one group of stages,
    the share of stage time spent in single-task stages, and the
    driver gap: the part of ``[wall_start, wall_end]`` in which none of
    the stages was running."""
    sts = [log["stages"][s] for s in stage_ids]
    busy = sum(st["end"] - st["start"] for st in sts)
    single = sum(st["end"] - st["start"] for st in sts if st["tasks"] == 1)
    covered, cursor = 0.0, wall_start
    for st in sorted(sts, key=lambda s: s["start"]):
        lo, hi = max(st["start"], cursor), min(st["end"], wall_end)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return {
        "stages": len(sts),
        "tasks": sum(st["tasks"] for st in sts),
        "shuffle_bytes": sum(st["shuffle_write"] for st in sts),
        "single_task_frac": single / busy if busy > 0 else 0.0,
        "driver_gap_s": max(0.0, (wall_end - wall_start) - covered),
    }


# --------------------------------------------------------------------------
# process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident
    set (``VmHWM``), in MiB."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
