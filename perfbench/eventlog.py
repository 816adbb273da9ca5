"""Reader for Spark's JSON event log, summed per job label.

The traced run labels every call into a layer with
``SparkContext.setJobDescription(label)``. Spark copies the label into
the ``Properties`` of each ``SparkListenerJobStart`` event, but not into
the stage events, so stages are mapped to labels through the job that
listed them first. Task metrics come from the ``internal.metrics.*``
accumulables of ``SparkListenerStageCompleted``; the Python-worker
counters are SQL metrics carried in the same list.

The log must be written uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

#: stage accumulable name -> StageStats attribute it is summed into
_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.read.recordsRead": "shuffle_read_records",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.write.recordsWritten": "shuffle_write_records",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to run Python workers": "python_run_ms",
}

COUNTERS = sorted(set(_ACCUMS.values()))


@dataclass
class StageStats:
    stage_id: int
    label: str | None
    task_ms: list[int] = field(default_factory=list)
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_read_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    spill_bytes: int = 0
    python_bytes_sent: int = 0
    python_bytes_returned: int = 0
    python_run_ms: int = 0

    @property
    def task_skew(self) -> float:
        """Longest task over the median task; 1.0 for an even stage."""
        if not self.task_ms:
            return 1.0
        return max(self.task_ms) / max(statistics.median(self.task_ms), 1)


def log_files(log_dir: str, app_id: str) -> list[str]:
    """Event files of one application, in write order: the rolling
    layout (``eventlog_v2_<app>/events_<n>_<app>``) or a single file."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        names = [n for n in os.listdir(rolled) if n.startswith("events_")]
        names.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(rolled, n) for n in names]
    single = os.path.join(log_dir, app_id)
    if os.path.exists(single):
        return [single]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


class EventLog:
    """Stages and jobs of one application, keyed by job label."""

    def __init__(self, paths: list[str]):
        self.job_labels: dict[int, str | None] = {}
        self.stages: list[StageStats] = []  # completion order
        stage_label: dict[int, str | None] = {}
        tasks: dict[int, list[int]] = {}
        for path in paths:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        label = (ev.get("Properties") or {}).get(
                            "spark.job.description")
                        self.job_labels[ev["Job ID"]] = label
                        for sid in ev["Stage IDs"]:
                            stage_label.setdefault(sid, label)
                    elif kind == "SparkListenerTaskEnd":
                        info = ev["Task Info"]
                        if ev["Task End Reason"].get("Reason") == "Success":
                            tasks.setdefault(ev["Stage ID"], []).append(
                                info["Finish Time"] - info["Launch Time"])
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        sid = info["Stage ID"]
                        st = StageStats(sid, stage_label.get(sid),
                                        tasks.pop(sid, []))
                        for acc in info.get("Accumulables", ()):
                            attr = _ACCUMS.get(acc.get("Name"))
                            if attr is not None:
                                setattr(st, attr, getattr(st, attr)
                                        + int(acc["Value"]))
                        self.stages.append(st)

    @classmethod
    def load(cls, log_dir: str, app_id: str) -> "EventLog":
        return cls(log_files(log_dir, app_id))

    def jobs(self, label: str) -> int:
        return sum(1 for v in self.job_labels.values() if v == label)

    def stages_of(self, label: str) -> list[StageStats]:
        return [s for s in self.stages if s.label == label]

    def totals(self, label: str) -> dict[str, int]:
        """Every counter in COUNTERS summed over the label's stages."""
        stages = self.stages_of(label)
        return {c: sum(getattr(s, c) for s in stages) for c in COUNTERS}

    def reduce_stage(self, label: str, skip: int = 0) -> StageStats | None:
        """The stage that read the most shuffle records among the
        label's stages after the first `skip` (which a cumulative prefix
        shares with the prefix before it); if none read a shuffle, the
        one that ran longest."""
        stages = self.stages_of(label)[skip:]
        if not stages:
            return None
        return max(stages, key=lambda s: (s.shuffle_read_records, s.run_ms))
