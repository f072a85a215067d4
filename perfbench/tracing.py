"""Tracing from outside the program: spans around calls into each
layer, py4j round-trip counts, and per-operation engine metrics read
from Spark's status store.

Nothing here edits the program. Layer functions are wrapped by
replacing the module attribute the caller looks up, and restored on
``close()``. Spans (name, start, end, parent, operation id) stay in
memory until ``dump()``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Span recorder; a disabled tracer records nothing and wraps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.op_id: str | None = None
        self.py4j_calls = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name, on_call=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper. ``name`` is a
        span name or a function of (args, kwargs) giving one;
        ``on_call`` sees (args, kwargs, result) after each call."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            with self.span(label):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out)
            return out

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def count_py4j(self, gateway_client) -> None:
        """Count every py4j command the driver sends to the JVM."""
        if not self.enabled:
            return
        orig = gateway_client.send_command

        def send_command(*args, **kwargs):
            self.py4j_calls += 1
            return orig(*args, **kwargs)

        gateway_client.send_command = send_command
        self._restore.append((gateway_client, "send_command", orig))

    def total(self, name: str, op: str | None = None) -> float:
        """Summed duration of the closed spans called ``name``
        (optionally only those of operation ``op``)."""
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (op is None or s["op"] == op)
        )

    def count(self, name: str, op: str | None = None) -> int:
        """Number of spans called ``name`` (optionally of ``op``)."""
        return sum(
            1 for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        )

    def close(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()

    def dump(self, path: str, ops: list[dict]) -> None:
        """Write the spans and the per-operation records as JSON."""
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "operations": ops}, fh)


def stage_metrics(spark, group: str) -> dict:
    """Engine counters for every job tagged with job group ``group``,
    read from the status store (works with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    no_status = jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(jvm.double, 0)
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0, "run_s": 0.0,
    }
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else []):
            if stage_id in seen:
                continue
            seen.add(stage_id)
            attempts = store.stageData(
                stage_id, False, no_status, False, no_quantiles
            )
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += sd.diskBytesSpilled() / MB
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["run_s"] += sd.executorRunTime() / 1000.0
    return out


def cached_mb(spark) -> float:
    """Memory + disk held by persisted RDDs and cached frames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / MB


def drop_caches(spark) -> None:
    """Unpersist everything, so a persist leaked by one operation
    cannot serve the next."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS counter of this process tree
    (driver Python, the Spark JVM and its Python workers)."""
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS since the
    last ``reset_peak_rss``."""
    total_kb = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
