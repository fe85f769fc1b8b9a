"""Traced-run instruments, all driven from outside the engine.

- ``Tracer`` keeps spans in memory (name, start, end, parent, op id)
  and writes them as JSONL when the run ends.
- ``JobGroups`` runs each op under its own Spark job group and reads
  its jobs, stages, tasks, task time and I/O bytes back from the
  driver's status store (works with the Spark UI off).
- ``StreamRecorder`` is a ``StreamingQueryListener``: micro-batch jobs
  run on the stream's own thread, outside the caller's job group, so
  stream-side work is read from progress events instead.
- ``gc_seconds`` sums the JVM's garbage-collector MXBeans.
- ``scratch_files`` snapshots the run's scratch directories, so the
  bytes an op wrote can be told from those it found.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self.spans[self._stack[-1]] if self._stack else None
        rec = {
            "record": "span",
            "id": len(self.spans),
            "name": name,
            "parent": parent and parent["id"],
            "op": op if parent is None else parent["op"],
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str, extra: list[dict] = ()) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in [*self.spans, *extra]:
                f.write(json.dumps(rec) + "\n")


#: stage-metric name in the report → StageData accessor
STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class JobGroups:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    @contextlib.contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._bus.waitUntilEmpty()

    def metrics(self, name: str) -> dict:
        """Counts and sums over the jobs of group ``name``."""
        self.drain()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}
        for job_id in tracker.getJobIdsForGroup(name):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = self._store.lastStageAttempt(stage_id)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, getter in STAGE_FIELDS.items():
                    out[key] += int(getattr(stage, getter)())
        return out


class StreamRecorder(StreamingQueryListener):
    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "stream": str(p.name or p.id),
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0


def scratch_dirs(app_id: str) -> list[str]:
    """The engine's ``/tmp/wds_*`` scratch dirs of one Spark application."""
    return glob.glob(f"/tmp/wds_*_{app_id.replace('-', '_')}")


def scratch_files(spark) -> dict[tuple, int]:
    """``{(path, inode, mtime_ns): size}`` of every file in the scratch dirs."""
    out = {}
    for top in scratch_dirs(spark.sparkContext.applicationId):
        for dirpath, _, names in os.walk(top):
            for n in names:
                path = os.path.join(dirpath, n)
                with contextlib.suppress(OSError):
                    st = os.stat(path)
                    out[(path, st.st_ino, st.st_mtime_ns)] = st.st_size
    return out
