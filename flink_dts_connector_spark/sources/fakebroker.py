"""In-process wire-level Kafka stand-in — closes the "no live broker"
testing gap (SURVEY.md §2.1, VERDICT r9 missing #1).

`sources/kafka.py` builds real Spark-Kafka options; until now those
options were only contract-tested (string assertions). This module is a
file-backed fake CLUSTER that *executes* them: a Spark Python DataSource
(`format("kafka_fake")`) that exposes the Kafka source's exact schema and
honors the startup/auth option surface the reference consumer exercises —

* ``startingOffsetsByTimestamp`` (per-partition offsetsForTimes re-seek,
  full-coverage required — `FlinkDtsKafkaConsumer.java:303-333,412-470`),
* ``startingTimestamp`` + ``startingOffsetsByTimestampStrategy``,
* ``startingOffsets`` earliest/latest/explicit per-partition JSON,
* SASL PLAIN credential check of the ``user-sid`` login contract
  (`fetcher/DtsKafkaUtil.java:53-64`) against the broker's user list,
* ``kafka.enable.auto.commit`` must be "false" (the checkpoint owns
  progress — starting a consumer with auto-commit on is a config bug the
  fake rejects, as the reference's property builder prevents),
* consumer-group offset commits on micro-batch completion
  (``kafka.commit.offsets.on.checkpoint`` — Flink's
  setCommitOffsetsOnCheckpoints, which the reference consumer inherits)
  and GROUP_OFFSETS startup via the broker-side group store
  (`FlinkDtsKafkaConsumer.java:412-470`; `starting_offsets_from_group`
  resolves committed offsets into explicit ``startingOffsets`` JSON, the
  one startup mode that survives losing the engine checkpoint).

A "DStore failover" (`fetcher/ClusterSwitchListener.java:32-50`) is
modeled by `create_broker`-ing a SECOND directory holding the same
(value, timestamp) log under a new ``cluster_id`` with shifted offsets:
offsets stored from cluster A are meaningless on B, timestamps are not —
exactly the situation the reference's offset@timestamp checkpoint exists
for. `streaming/failover.py` detects the switch and re-seeks by
timestamp; the fake proves end-to-end that the union of pre- and
post-switch reads has no gaps (duplicates allowed, README.md:26-28).

The broker's "bootstrap address" IS its directory path, so
`dts_kafka_options` output is consumed byte-identically. Each partition's
log is a directory of parquet segments, ``log/partition=N/*.parquet``,
with columns (value, ts_ms, offset). `create_broker` writes them with
Spark (row_number per partition assigns dense offsets); a live producer
appends more, continuing the partition's dense offsets, so segments hold
disjoint offset ranges. **Segments are immutable once published**: each
is written once, under a name that does not end in ``.parquet`` (Spark's
``_temporary`` dir, a producer's temp file), then renamed into place —
producers use `os.replace`. The reader's segment index relies on that:
it reads a segment's first and last offset the first time it lists the
segment and never again, so a trigger costs a directory listing plus the
segments published since the previous one. Fetches are executor-parallel
pyarrow scans of only the segments that overlap their [start, end) offset
range, mirroring a real consumer's fetch.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
from dataclasses import dataclass
from typing import Iterator

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

#: the Spark Kafka source's output schema (includeHeaders=true shape)
KAFKA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField("value", T.BinaryType()),
                    ]
                )
            ),
        ),
    ]
)

_META_FILE = "broker_meta.json"


def create_broker(
    spark: SparkSession,
    records: DataFrame,
    broker_dir: str,
    cluster_id: str,
    topic: str,
    users: list[tuple[str, str]] | None = None,
    offset_base: int = 0,
) -> str:
    """Materialize a fake cluster: ``records`` must carry (value binary,
    partition int, ts_ms long). Offsets are assigned densely per partition
    in timestamp order (row_number — Kafka's append order), starting at
    ``offset_base`` (two brokers built from the same records with
    different bases model the DStore failover's offset discontinuity).
    ``users`` are the SASL PLAIN logins the broker accepts; empty = no
    auth (PLAINTEXT)."""
    from pyspark.sql.window import Window

    log_dir = os.path.join(broker_dir, "log")
    w = Window.partitionBy("partition").orderBy("ts_ms", F.xxhash64("value"))
    (
        records.select("value", "partition", "ts_ms")
        .withColumn("offset", (F.row_number().over(w) - 1 + F.lit(offset_base)).cast("long"))
        .write.mode("overwrite")
        .partitionBy("partition")
        .parquet(log_dir)
    )
    parts = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(log_dir)
        if d.startswith("partition=")
    )
    meta = {
        "cluster_id": cluster_id,
        "topic": topic,
        "partitions": parts,
        "users": [{"username": u, "password": p} for u, p in (users or [])],
    }
    with open(os.path.join(broker_dir, _META_FILE), "w") as fh:
        json.dump(meta, fh)
    return broker_dir


def broker_cluster_id(broker_dir: str) -> str:
    """What a real consumer learns from cluster metadata — feeds
    `DtsProgressTracker.cluster_switched`."""
    with open(os.path.join(broker_dir, _META_FILE)) as fh:
        return json.load(fh)["cluster_id"]


# -- consumer-group offset store (the broker's __consumer_offsets surface) ----
#
# The reference consumer COMMITS offsets back to the group on checkpoint
# completion (Flink's setCommitOffsetsOnCheckpoints — the DTS consumer
# inherits it) and can START from them (StartupMode.GROUP_OFFSETS,
# `FlinkDtsKafkaConsumer.java:412-470`): the one startup mode that survives
# losing the engine checkpoint, because progress also lives broker-side.
# Spark's Kafka source neither commits nor starts from group offsets, so the
# Spark translation is: the fake's reader commits on micro-batch completion
# when `kafka.commit.offsets.on.checkpoint` is "true" (a kafka.*-namespaced
# option — the real Spark source passes unknown kafka.* configs through to
# the client, so the option dict stays valid for a real cluster), and
# startup reads the store driver-side via `group_committed_offsets` →
# explicit `startingOffsets` JSON (the same coordinator lookup the
# reference's fetcher performs at startup).


def _group_path(broker_dir: str, group: str) -> str:
    safe = re.sub(r"[^A-Za-z0-9._-]", "_", group)
    return os.path.join(broker_dir, "groups", f"{safe}.json")


def commit_group_offsets(
    broker_dir: str, group: str, topic: str, offsets: dict[int, int]
) -> None:
    """Commit per-partition NEXT-offsets (Kafka commit semantics: the offset
    of the next record to consume) for ``group``. Monotonic per partition —
    a stale commit never moves the group backwards, like the coordinator."""
    path = _group_path(broker_dir, group)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cur: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            cur = json.load(fh)
    tp = cur.setdefault(topic, {})
    for p, off in offsets.items():
        tp[str(p)] = max(int(off), int(tp.get(str(p), 0)))
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cur, fh)
    os.replace(tmp, path)  # atomic: a concurrent reader never sees a torn file


def group_committed_offsets(
    broker_dir: str, group: str, topic: str
) -> dict[int, int] | None:
    """Committed offsets for (group, topic), or None when the group has
    never committed — callers fall back to ``auto.offset.reset`` (earliest,
    `DtsKafkaUtil.java:44`), exactly the reference's GROUP_OFFSETS
    fallback."""
    path = _group_path(broker_dir, group)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        data = json.load(fh)
    tp = data.get(topic)
    if not tp:
        return None
    return {int(p): int(off) for p, off in tp.items()}


def starting_offsets_from_group(
    broker_dir: str, group: str, topic: str, partitions: list[int] | None = None
) -> str | None:
    """GROUP_OFFSETS startup as Spark options: the committed offsets as an
    explicit ``startingOffsets`` JSON (partitions the group never committed
    start at -2 = earliest, Kafka-source convention), or None when nothing
    is committed (caller starts earliest)."""
    committed = group_committed_offsets(broker_dir, group, topic)
    if committed is None:
        return None
    if partitions is None:
        with open(os.path.join(broker_dir, _META_FILE)) as fh:
            partitions = json.load(fh)["partitions"]
    return json.dumps(
        {topic: {str(p): committed.get(p, -2) for p in partitions}}
    )


@dataclass
class _FetchPartition(InputPartition):
    files: list[str]
    partition: int
    start: int
    end: int
    topic: str


class _FakeKafkaStreamReader(DataSourceStreamReader):
    """Offset-range streaming reader over the broker's per-partition logs.

    Contract enforcement happens HERE (at consumer construction, like a
    real client): auth, auto-commit, subscription. Log positions come from
    one segment index (``_segments``, the only reader of log metadata) and
    one start resolver (``initialOffset``): every startup option becomes a
    per-partition spec (``_start_specs``) resolved in one loop, once per
    query, with offsetsForTimes semantics (first offset whose timestamp >=
    the target).

    With ``maxRecordsPerTrigger`` each ``latestOffset`` advances a cursor
    by at most max/partitions offsets per partition, clamped to the log
    end. The cursor starts at the query's start and every planned batch's
    end raises it (a query restarted from its checkpoint re-plans its last
    batch first), so an end offset is never below the start it is paired
    with."""

    def __init__(self, options: dict):
        opts = {k.lower(): v for k, v in options.items()}
        self.broker_dir = opts.get("kafka.bootstrap.servers")
        if not self.broker_dir or not os.path.isdir(self.broker_dir):
            raise ValueError(
                f"fake broker 'bootstrap servers' must be a broker dir: {self.broker_dir!r}"
            )
        with open(os.path.join(self.broker_dir, _META_FILE)) as fh:
            self.meta = json.load(fh)
        self.topic = opts.get("subscribe")
        if self.topic != self.meta["topic"]:
            raise ValueError(
                f"unknown topic {self.topic!r} (broker serves {self.meta['topic']!r})"
            )
        if not opts.get("kafka.group.id"):
            raise ValueError("group.id required (reference: group or sid — DtsKafkaUtil.java:30-34)")
        if opts.get("kafka.enable.auto.commit", "false").lower() != "false":
            raise ValueError(
                "enable.auto.commit must be false: the checkpoint owns progress"
            )
        self._check_auth(opts)
        self._opts = opts
        self._max_per_trigger = (
            int(opts["maxrecordspertrigger"]) if "maxrecordspertrigger" in opts else None
        )
        #: segment path -> (first, last) offset, or None for an empty segment
        self._bounds: dict[str, tuple[int, int] | None] = {}
        self._start: dict[str, int] | None = None
        self._cursor: dict[str, int] | None = None

    # -- auth ---------------------------------------------------------------

    def _check_auth(self, opts: dict) -> None:
        users = self.meta.get("users") or []
        proto = opts.get("kafka.security.protocol")
        if not users:
            return  # PLAINTEXT broker
        if proto != "SASL_PLAINTEXT":
            raise ValueError("broker requires SASL_PLAINTEXT")
        if opts.get("kafka.sasl.mechanism") != "PLAIN":
            raise ValueError("broker requires SASL mechanism PLAIN")
        jaas = opts.get("kafka.sasl.jaas.config", "")
        m = re.search(r'username="([^"]*)"\s+password="([^"]*)"', jaas)
        if not m:
            raise ValueError("malformed JAAS config")
        if not any(
            u["username"] == m.group(1) and u["password"] == m.group(2) for u in users
        ):
            raise ValueError(f"authentication failed for {m.group(1)!r}")

    # -- segment index (driver-side) -----------------------------------------

    def _segments(self, p: int) -> list[tuple[str, int, int]]:
        """(path, first offset, last offset) of each non-empty segment of
        partition ``p``, in offset order. A segment never changes once
        published, so its offsets are read the first time it is listed."""
        d = os.path.join(self.broker_dir, "log", f"partition={p}")
        names = os.listdir(d) if os.path.isdir(d) else []
        segs = []
        for path in (os.path.join(d, f) for f in names if f.endswith(".parquet")):
            if path not in self._bounds:
                mm = pc.min_max(pq.read_table(path, columns=["offset"])["offset"])
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                self._bounds[path] = None if lo is None else (lo, hi)
            if self._bounds[path] is not None:
                segs.append((path, *self._bounds[path]))
        return sorted(segs, key=lambda s: s[1])

    @staticmethod
    def _log_end(segs: list[tuple[str, int, int]]) -> int:
        """Kafka's log-end offset: last offset + 1 (0 for an empty log)."""
        return segs[-1][2] + 1 if segs else 0

    @staticmethod
    def _offset_for_time(segs: list[tuple[str, int, int]], ts_ms: int) -> int | None:
        """Kafka offsetsForTimes: earliest offset whose timestamp >= ts_ms.
        Segments hold disjoint offset ranges in order, so the first segment
        with a hit holds the answer."""
        for path, _, _ in segs:
            t = pq.read_table(path, columns=["offset", "ts_ms"])
            hits = t.filter(pc.greater_equal(t["ts_ms"], ts_ms))["offset"]
            if len(hits):
                return pc.min(hits).as_py()
        return None

    # -- startup position ----------------------------------------------------

    def _start_specs(self) -> dict[int, tuple[str, int]]:
        """Every startup option as one spec per partition: ("offset", n),
        ("earliest", 0), ("latest", 0) or ("timestamp", ms)."""
        opts, parts = self._opts, self.meta["partitions"]
        if "startingoffsetsbytimestamp" in opts:
            m = json.loads(opts["startingoffsetsbytimestamp"]).get(self.topic, {})
            missing = [p for p in parts if str(p) not in m]
            if missing:
                # Spark's Kafka source requires full partition coverage
                raise ValueError(
                    f"startingOffsetsByTimestamp missing partitions {missing} of {self.topic}"
                )
            return {p: ("timestamp", int(m[str(p)])) for p in parts}
        if "startingtimestamp" in opts:
            return {p: ("timestamp", int(opts["startingtimestamp"])) for p in parts}
        pos = opts.get("startingoffsets", "earliest")
        if pos in ("earliest", "latest"):
            return {p: (pos, 0) for p in parts}
        # explicit per-partition JSON, Kafka-source style; honors the -2
        # (earliest) / -1 (latest) specials so a GROUP_OFFSETS map with
        # never-committed partitions resolves like the real source would
        m = json.loads(pos).get(self.topic, {})
        specs = {}
        for p in parts:
            if str(p) not in m:
                raise ValueError(f"startingOffsets missing partition {p}")
            off = int(m[str(p)])
            specs[p] = {-2: ("earliest", 0), -1: ("latest", 0)}.get(off, ("offset", off))
        return specs

    def initialOffset(self) -> dict:
        # resolved once: with a rate limit the first latestOffset already
        # seeded its cursor from it, and a "latest" start moves with the log
        if self._start is None:
            strategy = self._opts.get("startingoffsetsbytimestampstrategy", "error")
            start = {}
            for p, (kind, value) in self._start_specs().items():
                segs = self._segments(p)
                if kind == "timestamp":
                    value = self._offset_for_time(segs, value)
                    if value is None:
                        if strategy != "latest":
                            raise ValueError(
                                f"no offset at/after ts for partition {p} (strategy=error)"
                            )
                        kind = "latest"
                if kind == "earliest":
                    value = segs[0][1] if segs else 0
                elif kind == "latest":
                    value = self._log_end(segs)
                start[str(p)] = value
            self._start = start
        return {"offsets": dict(self._start)}

    def latestOffset(self) -> dict:
        ends = {str(p): self._log_end(self._segments(p)) for p in self.meta["partitions"]}
        if self._max_per_trigger is None:
            return {"offsets": ends}
        if self._cursor is None:
            # a new query asks for its first end before its start
            self._cursor = self.initialOffset()["offsets"]
        step = max(1, self._max_per_trigger // max(1, len(ends)))
        self._cursor = {
            p: max(c, min(ends[p], c + step)) for p, c in self._cursor.items()
        }
        return {"offsets": dict(self._cursor)}

    # -- fetch ----------------------------------------------------------------

    def partitions(self, start: dict, end: dict):
        if self._max_per_trigger is not None:
            # the next batch starts at this one's end
            cur = self._cursor or end["offsets"]
            self._cursor = {p: max(int(o), int(cur[p])) for p, o in end["offsets"].items()}
        out = []
        for p in self.meta["partitions"]:
            s, e = int(start["offsets"][str(p)]), int(end["offsets"][str(p)])
            if e > s:
                files = [f for f, lo, hi in self._segments(p) if lo < e and hi >= s]
                out.append(_FetchPartition(files, p, s, e, self.topic))
        # Spark requires >=1 partition; an all-drained batch yields none —
        # return an empty fetch of partition 0 to represent the empty batch
        if not out:
            p0 = self.meta["partitions"][0]
            out.append(_FetchPartition([], p0, 0, 0, self.topic))
        return out

    def read(self, partition: _FetchPartition) -> Iterator[tuple]:
        rows = []
        for f in partition.files:
            t = pq.read_table(f, columns=["offset", "ts_ms", "value"])
            t = t.filter(pc.and_(
                pc.greater_equal(t["offset"], partition.start), pc.less(t["offset"], partition.end)
            ))
            for off, ts, val in zip(*(t[c].to_pylist() for c in ("offset", "ts_ms", "value"))):
                ts = dt.datetime.fromtimestamp(ts / 1000.0, dt.timezone.utc).replace(tzinfo=None)
                # key, value, topic, partition, offset, timestamp, CreateTime, headers
                rows.append((None, val, partition.topic, partition.partition, off, ts, 0, None))
        rows.sort(key=lambda r: r[4])
        return iter(rows)

    def commit(self, end: dict) -> None:
        # Progress lives in the query's checkpoint WAL; additionally, when
        # `kafka.commit.offsets.on.checkpoint` is "true", mirror the
        # reference consumer's commit-on-checkpoint into the broker's group
        # store so a checkpoint-less restart can resume via GROUP_OFFSETS
        # (`FlinkDtsKafkaConsumer.java:412-470`). Spark calls commit() only
        # after the batch is durably in the WAL — same ordering Flink gives
        # notifyCheckpointComplete.
        if self._opts.get("kafka.commit.offsets.on.checkpoint", "false").lower() == "true":
            commit_group_offsets(
                self.broker_dir,
                self._opts["kafka.group.id"],
                self.topic,
                {int(p): int(off) for p, off in end["offsets"].items()},
            )


class FakeKafkaDataSource(DataSource):
    """`format("kafka_fake")` — a Kafka-source-shaped stream over a
    directory broker; consumes `dts_kafka_options` output unchanged."""

    @classmethod
    def name(cls) -> str:
        return "kafka_fake"

    def schema(self):
        return KAFKA_SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _FakeKafkaStreamReader(self.options)


def register_fake_broker(spark: SparkSession) -> None:
    spark.dataSource.register(FakeKafkaDataSource)
