"""Per-job-group layer metrics from an uncompressed Spark event log.

Reads the ``SparkListener{JobStart,JobEnd,StageSubmitted,StageCompleted,
TaskEnd}`` events and folds them into one :class:`GroupStats` per job
group. The benchmark sets a job group per timed operation; jobs that
carry no group (streaming micro-batches run on their own threads) are
attributed to the operation whose wall-clock interval contains their
submission time.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

UNGROUPED = ""


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_intervals_ms: list[tuple[int, int]] = field(default_factory=list)
    reading_tasks: int = 0
    sched_delay_ms: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    deser_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0

    @property
    def first_job_submit_ms(self) -> int | None:
        return min((s for s, _ in self.job_intervals_ms), default=None)

    def busy_ms(self) -> int:
        """Length of the union of this group's job intervals."""
        total, end = 0, None
        for s, e in sorted(self.job_intervals_ms):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total

    def job_durations_ms(self) -> list[int]:
        return sorted(e - s for s, e in self.job_intervals_ms)


def _group_of(job_start: dict, intervals: dict[str, tuple[int, int]]) -> str:
    props = job_start.get("Properties") or {}
    group = props.get("spark.jobGroup.id")
    if group:
        return group
    t = job_start["Submission Time"]
    for name, (lo, hi) in intervals.items():
        if lo <= t <= hi:
            return name
    return UNGROUPED


def parse(
    path: str, intervals: dict[str, tuple[int, int]] | None = None
) -> dict[str, GroupStats]:
    """Fold the event log at ``path`` into per-group stats.

    ``intervals`` maps a group name to its operation's (start, end)
    epoch milliseconds, used only for jobs submitted without a group.
    """
    intervals = intervals or {}
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    stage_first_launch: dict[tuple[int, int], int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = _group_of(ev, intervals)
                jid = ev["Job ID"]
                job_group[jid] = g
                job_submit[jid] = ev["Submission Time"]
                st = groups.setdefault(g, GroupStats())
                st.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                groups[job_group[jid]].job_intervals_ms.append(
                    (job_submit[jid], ev["Completion Time"]))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                if info.get("Submission Time") is not None:
                    stage_submit[key] = info["Submission Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                key = (sid, info["Stage Attempt ID"])
                st = groups.setdefault(stage_group.get(sid, UNGROUPED), GroupStats())
                st.stages += 1
                submit = info.get("Submission Time", stage_submit.get(key))
                if submit is not None and key in stage_first_launch:
                    st.sched_delay_ms += max(stage_first_launch[key] - submit, 0)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                key = (sid, ev["Stage Attempt ID"])
                st = groups.setdefault(stage_group.get(sid, UNGROUPED), GroupStats())
                info = ev["Task Info"]
                launch = info["Launch Time"]
                if key not in stage_first_launch or launch < stage_first_launch[key]:
                    stage_first_launch[key] = launch
                st.tasks += 1
                if info.get("Failed") or info.get("Killed"):
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.task_run_ms += m.get("Executor Run Time", 0)
                st.task_cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.deser_ms += m.get("Executor Deserialize Time", 0)
                st.result_bytes += m.get("Result Size", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.reading_tasks += (m.get("Input Metrics") or {}).get(
                    "Records Read", 0) > 0
    return groups
