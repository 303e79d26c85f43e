"""Readers for Spark's own status surfaces: a StreamingQueryListener
that keeps every micro-batch progress event, and per-stage task
metrics from the application status store, attributed to queries by
stage-id interval (micro-batch jobs run on the stream's own thread, so
job groups set by the caller do not reach them)."""

from __future__ import annotations

import threading
import time

from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch",
          "addBatch", "triggerExecution")


def _epoch_record(p) -> dict:
    dur = dict(p.durationMs or {})
    ops = list(p.stateOperators or [])
    ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return {
        "query_id": str(p.id),
        "batch": p.batchId,
        "rows": int(p.numInputRows or 0),
        "trigger_ms": float(dur.get("triggerExecution", 0)),
        "phases": {k: float(dur.get(k, 0)) for k in PHASES},
        "end": ts + float(dur.get("triggerExecution", 0)) / 1000.0,
        "state_rows_total": sum(int(o.numRowsTotal) for o in ops),
        "state_rows_updated": sum(int(o.numRowsUpdated) for o in ops),
        "state_commit_ms": sum(float(o.commitTimeMs) for o in ops),
        "state_memory_bytes": sum(int(o.memoryUsedBytes) for o in ops),
    }


class EpochListener(StreamingQueryListener):
    """Keeps started / terminated query ids and one record per epoch."""

    def __init__(self):
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.epochs: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.id))

    def onQueryProgress(self, event):
        rec = _epoch_record(event.progress)
        with self._cv:
            self.epochs.append(rec)

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.add(str(event.id))
            self._cv.notify_all()

    def mark(self) -> int:
        with self._cv:
            return len(self.started)

    def close(self, mark: int, timeout: float = 15.0) -> tuple[list[str], bool]:
        """Wait until every query started since ``mark`` has delivered its
        terminated event (progress events come before it on the bus), and
        return (those ids, whether all terminated in time)."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                ids = self.started[mark:]
                if all(i in self.terminated for i in ids):
                    return ids, True
                left = deadline - time.monotonic()
                if left <= 0:
                    return ids, False
                self._cv.wait(left)

    def epochs_of(self, ids) -> list[dict]:
        wanted = set(ids)
        with self._cv:
            return [e for e in self.epochs if e["query_id"] in wanted]


class StageReader:
    """Stage-id interval attribution over ``sc.statusTracker()`` and the
    status store (both work with the UI disabled)."""

    FIELDS = ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
              "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
              "diskBytesSpilled")

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()

    def last_stage_id(self) -> int:
        """Highest stage id of the newest job (jobs of every group,
        stream threads included; the store lists newest first)."""
        jobs = self.store.jobsList(None)
        if jobs.isEmpty():
            return -1
        ids = jobs.head().stageIds()
        return max((ids.apply(i) for i in range(ids.length())), default=-1)

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until no stage is active, so completed-stage metrics are in."""
        deadline = time.monotonic() + timeout
        while self.tracker.getActiveStageIds() and time.monotonic() < deadline:
            time.sleep(0.05)

    def stages(self, first: int, last: int) -> tuple[dict[str, float], int]:
        """Summed task metrics of stages ``first..last`` and the number of
        ids whose record the store no longer (or never) held."""
        tot = {f: 0.0 for f in self.FIELDS}
        tot["stages"] = 0
        missing = 0
        for sid in range(first, last + 1):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # evicted, or never submitted (skipped)
                missing += 1
                continue
            tot["stages"] += 1
            for f in self.FIELDS:
                tot[f] += float(getattr(sd, f)())
        return tot, missing

    def pinned_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())
