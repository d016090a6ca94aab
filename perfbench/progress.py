"""Every epoch's StreamingQueryProgress, captured by a listener.

`query.recentProgress` keeps only the last 100 epochs
(spark.sql.streaming.numRecentProgressUpdates); a listener sees all of
them. Events arrive asynchronously on Spark's listener bus, so callers
wait for the records they need with `wait_for`.
"""

from __future__ import annotations

import json
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# the durationMs parts of one micro-batch, in MicroBatchExecution's order
EPOCH_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
               "addBatch", "commitOffsets")


def epoch_start_s(p: dict) -> float:
    """Trigger start of a progress record, as time.time() seconds."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")) \
        .timestamp()


def epoch_end_s(p: dict) -> float:
    return epoch_start_s(p) + p["durationMs"]["triggerExecution"] / 1000.0


class ProgressLog(StreamingQueryListener):
    def __init__(self):
        self._lock = threading.Condition()
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.id))
            self._lock.notify_all()

    def onQueryProgress(self, event) -> None:
        rec = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(rec)
            self._lock.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.id))
            self._lock.notify_all()

    def for_query(self, query_id: str) -> list[dict]:
        with self._lock:
            recs = [p for p in self.progress if p["id"] == query_id]
        return sorted(recs, key=lambda p: p["batchId"])

    def wait_for(self, pred, timeout_s: float) -> bool:
        """Block until pred(self) holds or timeout; returns pred's value."""
        deadline = time.monotonic() + timeout_s
        with self._lock:
            while not pred(self):
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._lock.wait(min(left, 0.5))
            return True
