"""In-memory spans around the benchmark's calls into the program.

Untraced, a span records only its name and wall-clock interval, which is
what the end-to-end metrics are computed from. Traced, each leaf span
also runs its Spark jobs under a job group of its own and counts the
py4j commands the driver sends while it is open; ``resolve`` then reads
the jobs, stages, tasks and bytes of every group from the status store
once, after the timed work, so the reads never land inside a span.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

import py4j.clientserver

IDLE_GROUP = "perfbench-idle"


class SendCounter:
    """Counts ``ClientServerConnection.send_command`` calls (one per
    Python→JVM command) while installed."""

    def __init__(self) -> None:
        self.count = 0
        self._orig = None

    def install(self) -> None:
        cls = py4j.clientserver.ClientServerConnection
        self._orig = orig = cls.send_command

        def counted(conn, command, *args, **kwargs):
            self.count += 1
            return orig(conn, command, *args, **kwargs)

        cls.send_command = counted

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None


class Tracer:
    def __init__(self, traced: bool) -> None:
        self.traced = traced
        self.spans: list[dict] = []
        self.sends = SendCounter()
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self.spark = None
        if traced:
            self.sends.install()

    def close(self) -> None:
        self.sends.uninstall()

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, group: bool = True):
        """One span; ``group`` gives a traced leaf span its own job group."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "trace_id": trace_id or (parent["trace_id"] if parent else name),
            "parent": parent["id"] if parent else None,
        }
        sc = self.spark.sparkContext if self.traced and self.spark else None
        if sc is not None and group:
            rec["group"] = f"{rec['trace_id']}/{name}/{rec['id']}"
            sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        sends0 = self.sends.count
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["sends"] = self.sends.count - sends0
            self._stack.pop()
            if sc is not None and group:
                sc.setJobGroup(
                    parent["group"] if parent and "group" in parent else IDLE_GROUP,
                    "perfbench",
                )
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, **fields) -> dict:
        """A span measured elsewhere (e.g. a micro-batch's progress)."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "trace_id": fields.pop("trace_id", name),
            "parent": parent["id"] if parent else None,
            "start": start,
            "end": end,
            **fields,
        }
        self.spans.append(rec)
        return rec

    def counts(self, group: str) -> dict:
        """Job/stage/task/byte counts of one job group; empty untraced."""
        if not self.traced:
            return {}
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        return group_counts(self.spark.sparkContext.statusTracker(), jsc.statusStore(), group)

    def resolve(self) -> None:
        """Attach job/stage/task/byte counts to every span with a group."""
        if not self.traced:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        for rec in self.spans:
            if "group" in rec:
                rec.update(group_counts(tracker, store, rec["group"]))


def group_counts(tracker, store, group: str) -> dict:
    """Jobs of one job group, the stages they ran (skipped stages are not
    counted), their tasks and bytes."""
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(
        ("stages", "single_task_stages", "tasks", "input_bytes",
         "output_bytes", "shuffle_write_bytes"),
        0,
    )
    out["jobs"] = len(jobs)
    for s in stage_ids:
        sd = store.lastStageAttempt(s)
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["single_task_stages"] += sd.numTasks() == 1
        out["tasks"] += sd.numTasks()
        out["input_bytes"] += sd.inputBytes()
        out["output_bytes"] += sd.outputBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out


def duration(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)
