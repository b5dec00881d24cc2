"""Layer spans for the CLI-path benchmark, recorded from outside the engine.

Every call into an engine layer runs under its own Spark job group
(``<layer>#<n>``), so the jobs it launches can be counted with
``statusTracker().getJobIdsForGroup`` and, in a traced run, its stages and
tasks can be attributed from Spark's JSON event log. Spans stay in memory
and are folded into metrics when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    layer: str
    group: str
    seconds: float
    jobs: int
    cpu_s: float
    timed: bool
    ok: bool = True
    info: dict = field(default_factory=dict)


class Spans:
    """Runs calls into engine layers, each under its own job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._n = 0
        self.jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        self._jvm_stat = f"/proc/{self.jvm_pid}/stat"

    def jvm_cpu_seconds(self) -> float:
        """User + system CPU time of the driver JVM since it started, all
        threads. Time the hypervisor stole from the VM is not in it."""
        with open(self._jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / CLK_TCK

    def cpu_seconds(self) -> float:
        """CPU time of the driver JVM and of this process, all threads."""
        return self.jvm_cpu_seconds() + time.process_time()

    def call(self, layer: str, fn, *args, timed: bool = True, **kwargs):
        """Run ``fn`` as one op of ``layer``; returns (result, span). The
        span holds its wall time and the CPU time the JVM and this process
        spent in it.

        The plan cache is cleared first so no op is served from data an
        earlier op persisted. Exceptions propagate; the span is recorded
        with ok=False before they do."""
        self._n += 1
        group = f"{layer}#{self._n}"
        self.spark.catalog.clearCache()
        self.sc.setJobGroup(group, layer)
        span = Span(layer, group, 0.0, 0, 0.0, timed)
        c0 = self.cpu_seconds()
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs), span
        except Exception:
            span.ok = False
            raise
        finally:
            span.seconds = time.perf_counter() - t0
            span.cpu_s = self.cpu_seconds() - c0
            # jobs are counted before any other group is set
            span.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.sc.setJobGroup(f"check#{self._n}", "check")
            self.spans.append(span)

    def of(self, layer: str, timed: bool | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and (timed is None or s.timed == timed)
        ]


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executed stages, tasks, shuffle bytes written, bytes
    spilled to disk and output bytes written."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # one application, rolling disabled: one file
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g or "")
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev.get("Stage ID"), "")]
                    tm = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    g["bytes_out"] += (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
    return out


def per_op(folded, spans: list[Span], key: str) -> float:
    """Mean of an event-log quantity over the ops in ``spans``."""
    if not spans:
        return 0.0
    return sum(folded.get(s.group, {}).get(key, 0.0) for s in spans) / len(spans)
