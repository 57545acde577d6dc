"""`dts` Python Data Source — `'connector'='dts'` parity on Spark's Data
Source API (the SQL-surface equivalent of the reference's
`DtsDynamicTableFactory`, `table/DtsDynamicTableFactory.java:27-92` +
META-INF service registration).

After `register_dts_source(spark)`:

    spark.read.format("dts")
         .option("path", "<dir of wire-bytes parquet>")
         .option("tables", "dts_demo.orders")     # optional db.tbl filter
         .option("ops", "INSERT,UPDATE,DELETE")   # optional op filter
         .load()

yields the generic envelope rows (SURVEY.md §1.1) — decode + filters run
inside each DataSource partition (one per raw file), preserving the
header-first laziness and the source's parallelism.

A Kafka-backed variant would swap the file enumeration for offset ranges;
the decode/filter body is identical (`formats/decoder.py` is shared).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from flink_dts_connector_spark.datamodel.envelope import ENVELOPE_SCHEMA


@dataclass
class _FilePartition(InputPartition):
    path: str


class DtsDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dts source requires option 'path'")
        tables = options.get("tables")
        self.tables = frozenset(t.strip() for t in tables.split(",")) if tables else None
        ops = options.get("ops")
        self.ops = frozenset(o.strip() for o in ops.split(",")) if ops else None

    def partitions(self):
        files = sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )
        if not files:
            raise ValueError(f"no parquet files under {self.path}")
        return [_FilePartition(p) for p in files]

    def read(self, partition: _FilePartition) -> Iterator[pa.RecordBatch]:
        # executor-side: read one raw file, decode with the shared pipeline
        import pyarrow.parquet as pq

        from flink_dts_connector_spark.formats.decoder import decode_arrow

        for batch in pq.read_table(partition.path).to_batches():
            yield decode_arrow(batch, self.tables, self.ops)


class DtsPartitionedStreamReader(DataSourceStreamReader):
    """Executor-parallel streaming reader — the scale path for
    `readStream.format("dts")`.

    DECODE runs on executors: `partitions()` maps each newly-discovered
    file to an input partition and `read()` executes remotely — one task
    per file, like Spark's own FileStreamSource.

    **Compact offsets** (not a manifest of every consumed file, which
    grows without bound on a long-lived stream): an offset is

        {"wm": <mtime watermark>, "recent": [paths with mtime >= wm]}

    and a file counts as consumed iff its mtime is below ``wm`` or it is
    listed in ``recent``. ``wm`` trails the newest file's mtime by
    ``maxFileAgeSec`` (default 3600) and only moves forward, so ``recent``
    holds just the files that landed within the trailing window — O(churn
    window), not O(stream lifetime). The trade-off is Spark
    FileStreamSource's own `maxFileAge` semantic, adopted deliberately: a
    file that first appears with an mtime already older than the watermark
    is treated as consumed and never read. Files are assumed immutable
    once landed (same assumption the batch reader makes).

    Replay is deterministic: `partitions(start, end)` derives the batch
    purely from the two offsets (``end.recent`` minus files consumed by
    ``start``); the only stat() is a guard re-checking mtimes against
    ``start.wm`` after a restart, and mtimes of immutable files are
    stable."""

    def __init__(self, options: dict):
        self._batch = DtsDataSourceReader(options)
        self._max_age = float(options.get("maxfileagesec", 3600))
        self._wm = 0.0

    def _scan(self) -> dict[str, float]:
        # tolerate an empty/not-yet-created dir: a stream may start before
        # the first file lands (unlike a batch read, where that's an error)
        try:
            paths = [p.path for p in self._batch.partitions()]
        except (ValueError, FileNotFoundError):
            return {}
        out = {}
        for p in paths:
            try:
                out[p] = os.path.getmtime(p)
            except OSError:
                continue  # deleted between listdir and stat
        return out

    def initialOffset(self) -> dict:
        return {"wm": 0.0, "recent": []}

    def latestOffset(self) -> dict:
        scan = self._scan()
        if scan:
            # monotone: the watermark never retreats within a run; across a
            # restart partitions() re-syncs it from the checkpointed start
            self._wm = max(self._wm, max(scan.values()) - self._max_age)
        recent = sorted(p for p, m in scan.items() if m >= self._wm)
        return {"wm": self._wm, "recent": recent}

    def partitions(self, start: dict, end: dict):
        self._wm = max(self._wm, start["wm"], end["wm"])  # restart re-sync
        consumed = set(start["recent"])
        new = []
        for p in sorted(set(end["recent"]) - consumed):
            try:
                m = os.path.getmtime(p)
            except OSError:
                continue  # deleted since the offset was taken
            # guard: after a restart the fresh reader's watermark may lag the
            # checkpointed one — anything below start.wm is already consumed
            if m >= start["wm"]:
                new.append(p)
        return [_FilePartition(p) for p in new]

    def read(self, partition: _FilePartition) -> Iterator[pa.RecordBatch]:
        # executor-side: identical decode body as the batch reader
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # progress lives in the query's checkpoint WAL


class DtsDataSource(DataSource):
    """`format("dts")` — envelope rows from a directory of raw-record
    parquet files (value/partition/offset columns); batch and streaming
    (executor-parallel partitioned reader)."""

    @classmethod
    def name(cls) -> str:
        return "dts"

    def schema(self):
        return ENVELOPE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return DtsDataSourceReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return DtsPartitionedStreamReader(self.options)


def register_dts_source(spark) -> None:
    """Equivalent of the reference's META-INF/services factory registration
    (`src/main/resources/META-INF/services/...Factory:16-17`)."""
    spark.dataSource.register(DtsDataSource)
