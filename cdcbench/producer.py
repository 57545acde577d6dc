"""Open-loop producer for the live-tail workload.

A thread appends immutable segments to the fake broker's
``log/partition=N/*.parquet`` layout on a fixed tick. Each segment is
written under a temporary name and published with `os.replace`, so the
broker's readers never see a partial file. The schedule is fixed before
the thread starts: a slow consumer never slows it, and every record's
Kafka timestamp is the time it was due, so freshness is measured from the
due time and includes any stall.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Segment:
    partition: int
    first_offset: int
    count: int
    due: float  # epoch seconds the segment was scheduled for


class Producer(threading.Thread):
    """Writes ``schedule`` — a list of (due epoch seconds, record count) —
    taking records in order from the pre-encoded pool. ``next_offset`` is
    each partition's log-end offset when the producer starts."""

    def __init__(
        self,
        broker_dir: str,
        values: list[bytes],
        partitions: list[int],
        next_offset: dict[int, int],
        schedule: list[tuple[float, int]],
    ):
        super().__init__(name="open-loop-producer", daemon=True)
        self.log_dir = os.path.join(broker_dir, "log")
        self.values, self.partitions = values, partitions
        self.next_offset = dict(next_offset)
        self.schedule = schedule
        self.segments: list[Segment] = []
        self.late_s: list[float] = []
        self.produced = 0
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def stop(self) -> None:
        self._halt.set()

    def run(self) -> None:
        try:
            for due, count in self.schedule:
                delay = due - time.time()
                if delay > 0 and self._halt.wait(delay):
                    return
                self._append(due, count)
                self.late_s.append(time.time() - due)
        except BaseException as exc:  # reported by the caller after join()
            self.error = exc

    def _append(self, due: float, count: int) -> None:
        lo = self.produced
        by_part: dict[int, list[bytes]] = {}
        for i in range(lo, lo + count):
            by_part.setdefault(self.partitions[i], []).append(self.values[i])
        due_ms = int(due * 1000)
        for p, vals in sorted(by_part.items()):
            first = self.next_offset[p]
            table = pa.table(
                {
                    "value": pa.array(vals, pa.binary()),
                    "ts_ms": pa.array([due_ms] * len(vals), pa.int64()),
                    "offset": pa.array(range(first, first + len(vals)), pa.int64()),
                }
            )
            part_dir = os.path.join(self.log_dir, f"partition={p}")
            tmp = os.path.join(part_dir, f".seg-{first:012d}.tmp")
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(part_dir, f"seg-{first:012d}.parquet"))
            self.next_offset[p] = first + len(vals)
            self.segments.append(Segment(p, first, len(vals), due))
        self.produced += count

    def produced_by(self, t: float) -> int:
        """Records the schedule had due by epoch time ``t``."""
        return sum(c for due, c in self.schedule if due <= t)
