"""Wire-level Kafka e2e over the in-process fake broker
(`sources/fakebroker.py`): the options `sources/kafka.py` builds are
EXECUTED (auth, auto-commit, startup position, offsetsForTimes), and the
reference's failover contract — kill mid-stream, DStore cluster switch,
timestamp re-seek, no gaps with duplicates allowed (README.md:26-28) —
runs end-to-end through `streaming/failover.py`."""

import pytest

from pyspark.sql import functions as F

from flink_dts_connector_spark.sources.fakebroker import (
    broker_cluster_id,
    create_broker,
    register_fake_broker,
)
from flink_dts_connector_spark.sources.kafka import dts_kafka_options, read_stream
from flink_dts_connector_spark.streaming.failover import DtsProgressTracker

TOPIC = "dts-demo-topic"
USERS = [("alice-SID42", "s3cret")]
BASE_MS = 1_500_000_000_000


def _mk_records(spark, n=24, parts=3):
    """n records, value = b'rec-<i>', partition = i % parts, ts second-spaced."""
    rows = [(f"rec-{i}".encode(), i % parts, BASE_MS + i * 1000) for i in range(n)]
    return spark.createDataFrame(rows, "value binary, partition int, ts_ms long")


def _drain(spark, env_df, ckpt, batches=None, trigger_once=True):
    """Run the stream collecting decoded/raw rows; returns list of Rows."""
    out = []

    def sink(batch_df, epoch_id):
        out.extend(batch_df.collect())

    writer = env_df.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
    if trigger_once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.trigger(processingTime="0 seconds").start()
        import time

        deadline = time.time() + 60
        while len(out) < batches and time.time() < deadline and q.isActive:
            time.sleep(0.1)
        q.stop()
        q.awaitTermination()
    return out


def _raw_stream(spark, broker_dir, **kw):
    reader = spark.readStream.format("kafka_fake")
    for k, v in dts_kafka_options(
        broker_dir, TOPIC, kw.pop("sid", "SID42"), kw.pop("group", None),
        kw.pop("user", "alice"), kw.pop("password", "s3cret"),
        kw.pop("checkpoint_ts", None), kw.pop("offsets_by_timestamp", None),
        kw.pop("group_starting_offsets", None),
        extra=kw.pop("extra", None),
    ).items():
        reader = reader.option(k, v)
    return reader.load()


@pytest.fixture()
def broker(spark, tmp_path):
    register_fake_broker(spark)
    d = str(tmp_path / "brokerA")
    # base 5000: the original DStore's log does not start at 0 — the
    # replacement cluster (a fresh reload) WILL, which is exactly why
    # stored offsets skip data after a switch
    create_broker(
        spark, _mk_records(spark), d, "dstore-cluster-A", TOPIC,
        users=USERS, offset_base=5000,
    )
    return d


def test_earliest_reads_everything_with_kafka_schema(spark, broker, tmp_path):
    rows = _drain(spark, _raw_stream(spark, broker), str(tmp_path / "ck1"))
    assert {bytes(r["value"]).decode() for r in rows} == {f"rec-{i}" for i in range(24)}
    # dense per-partition offsets in timestamp order, Kafka schema columns
    r0 = rows[0]
    assert set(r0.asDict()) == {
        "key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType", "headers",
    }
    per_part = {}
    for r in rows:
        per_part.setdefault(r["partition"], []).append((r["offset"], r["timestamp"]))
    for offs in per_part.values():
        offs.sort()
        assert [o for o, _ in offs] == list(range(5000, 5000 + len(offs)))  # dense from base
        assert [t for _, t in offs] == sorted(t for _, t in offs)


def test_start_by_timestamp_prefix_skipped(spark, broker, tmp_path):
    # checkpoint_ts is SECONDS in the option builder (×1000 inside)
    cut_sec = (BASE_MS + 12 * 1000) // 1000
    rows = _drain(
        spark,
        _raw_stream(spark, broker, checkpoint_ts=cut_sec),
        str(tmp_path / "ck2"),
    )
    got = sorted(int(bytes(r["value"]).decode().split("-")[1]) for r in rows)
    assert got == list(range(12, 24))  # offsetsForTimes: first ts >= cut


def test_contract_violations_rejected(spark, broker, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    def start(df, name):
        q = (
            df.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # wrong password → SASL failure at consumer construction
    with pytest.raises(StreamingQueryException, match="authentication failed"):
        start(_raw_stream(spark, broker, password="wrong"), "ckw")
    # auto-commit on → rejected (checkpoint owns progress)
    with pytest.raises(StreamingQueryException, match="auto.commit"):
        start(
            _raw_stream(spark, broker, extra={"kafka.enable.auto.commit": "true"}),
            "cka",
        )
    # per-partition timestamp map must cover every partition
    import json as _json

    with pytest.raises(StreamingQueryException, match="missing partitions"):
        start(
            _raw_stream(
                spark, broker,
                offsets_by_timestamp=_json.dumps({TOPIC: {"0": BASE_MS}}),
            ),
            "ckm",
        )
    # no group and no sid → group.id empty → rejected
    with pytest.raises(StreamingQueryException, match="group.id required"):
        start(_raw_stream(spark, broker, sid=None, user=None, password=None), "ckg")


def test_kill_switch_reseek_no_gaps_dupes_allowed(spark, broker, tmp_path):
    """The reference's signature flow end-to-end: consume A rate-limited,
    KILL mid-stream (progress = offset@timestamp per partition), the
    DStore fails over to cluster B (same data+timestamps, new cluster id,
    offsets shifted +5000), detection via cluster id, re-seek BY TIMESTAMP
    → union has no gaps; duplicates allowed and actually present. A
    negative control shows offset-restore WOULD lose data."""
    register_fake_broker(spark)
    seen_a = []
    tracker = DtsProgressTracker(state_path=str(tmp_path / "progress.json"))
    tracker.cluster_id = broker_cluster_id(broker)

    def sink_a(batch_df, epoch_id):
        rows = batch_df.collect()
        seen_a.extend(rows)
        tracker.update_from_batch(
            (r["partition"], r["offset"], int(r["timestamp"].timestamp()))
            for r in rows
        )
        tracker.save()

    qa = (
        _raw_stream(spark, broker, extra={"maxRecordsPerTrigger": "6"})
        .writeStream.foreachBatch(sink_a)
        .option("checkpointLocation", str(tmp_path / "cka"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while len(seen_a) < 10 and time.time() < deadline and qa.isActive:
        time.sleep(0.1)
    qa.stop()  # kill mid-stream
    qa.awaitTermination()
    assert 0 < len(seen_a) < 24, "must die mid-stream for the test to mean anything"

    # ---- DStore failover: cluster B, new id, shifted offsets -------------
    broker_b = str(tmp_path / "brokerB")
    create_broker(
        spark, _mk_records(spark), broker_b, "dstore-cluster-B", TOPIC,
        users=USERS, offset_base=0,  # fresh reload: offsets restart at zero
    )
    restored = DtsProgressTracker.load(str(tmp_path / "progress.json"))
    assert restored.cluster_switched(broker_cluster_id(broker_b))

    by_ts = restored.starting_offsets_by_timestamp(TOPIC)
    assert by_ts is not None
    rows_b = _drain(
        spark,
        _raw_stream(spark, broker_b, offsets_by_timestamp=by_ts),
        str(tmp_path / "ckb"),
    )

    ids_a = [int(bytes(r["value"]).decode().split("-")[1]) for r in seen_a]
    ids_b = [int(bytes(r["value"]).decode().split("-")[1]) for r in rows_b]
    # NO GAPS: every record appears in the union
    assert set(ids_a) | set(ids_b) == set(range(24))
    # duplicates allowed AND present: the per-partition boundary record
    # (its exact timestamp is the re-seek point) is re-read
    assert set(ids_a) & set(ids_b), "timestamp re-seek must re-read the boundary"

    # ---- negative control: restoring by OFFSET on the new cluster --------
    import json as _json

    stored_offsets = {str(p): off for p, (off, _) in restored.partitions.items()}
    gap_rows = _drain(
        spark,
        _raw_stream(
            spark, broker_b,
            extra={"startingOffsets": _json.dumps({TOPIC: stored_offsets})},
        ),
        str(tmp_path / "ckneg"),
    )
    ids_gap = [int(bytes(r["value"]).decode().split("-")[1]) for r in gap_rows]
    assert set(ids_a) | set(ids_gap) != set(range(24)), (
        "offset restore across a cluster switch must lose data — "
        "that loss is why the reference re-seeks by timestamp"
    )


def test_group_offsets_commit_and_checkpointless_resume(spark, broker, tmp_path):
    """StartupMode.GROUP_OFFSETS end-to-end (`FlinkDtsKafkaConsumer.java:
    412-470`) — the one startup mode that survives LOSING the engine
    checkpoint, because progress also lives broker-side:

    phase 1 consumes rate-limited with commit-on-checkpoint (Flink's
    setCommitOffsetsOnCheckpoints, which the reference consumer inherits)
    and is KILLED mid-stream; phase 2 starts with a FRESH checkpoint dir —
    the Spark WAL is gone — resolving its start from the broker's group
    store. Exactly-once across the union: committed offsets are exact
    (unlike the timestamp re-seek, which re-reads the boundary)."""
    import time

    from flink_dts_connector_spark.sources.fakebroker import (
        group_committed_offsets,
        starting_offsets_from_group,
    )

    group = "g-resume"
    seen_1 = []

    def sink_1(batch_df, epoch_id):
        seen_1.extend(batch_df.collect())

    q1 = (
        _raw_stream(
            spark, broker, group=group,
            extra={
                "maxRecordsPerTrigger": "6",
                "kafka.commit.offsets.on.checkpoint": "true",
            },
        )
        .writeStream.foreachBatch(sink_1)
        .option("checkpointLocation", str(tmp_path / "ckg1"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while len(seen_1) < 10 and time.time() < deadline and q1.isActive:
        time.sleep(0.1)
    q1.stop()  # kill mid-stream; the checkpoint dir is then thrown away
    q1.awaitTermination()
    assert 0 < len(seen_1) < 24, "must die mid-stream for the test to mean anything"

    # the broker-side group store holds NEXT-offsets exactly one past what
    # phase 1 durably consumed (commit() fires only for WAL-complete batches,
    # so committed <= seen — Spark may have collected a batch whose commit
    # never ran; those records will be re-read, at-least-once, never skipped)
    committed = group_committed_offsets(broker, group, TOPIC)
    assert committed is not None and set(committed) <= {0, 1, 2}
    seen_max = {}
    for r in seen_1:
        seen_max[r["partition"]] = max(seen_max.get(r["partition"], -1), r["offset"])
    for p, nxt in committed.items():
        assert 5000 <= nxt <= seen_max.get(p, -1) + 1

    # phase 2: FRESH checkpoint dir; startup = committed group offsets
    start_json = starting_offsets_from_group(broker, group, TOPIC)
    assert start_json is not None
    rows_2 = _drain(
        spark,
        _raw_stream(spark, broker, group=group, group_starting_offsets=start_json),
        str(tmp_path / "ckg2"),
    )
    ids_1 = [int(bytes(r["value"]).decode().split("-")[1]) for r in seen_1]
    ids_2 = [int(bytes(r["value"]).decode().split("-")[1]) for r in rows_2]
    # no gaps: the union is the whole log
    assert set(ids_1) | set(ids_2) == set(range(24))
    # at-least-once with exact offsets: phase 2 re-reads ONLY records whose
    # batch was collected but not yet committed (kill between sink and
    # commit); committed records never reappear
    committed_ids = {
        i for i in ids_1
        if (i % 3) in committed and 5000 + sorted(
            j for j in range(24) if j % 3 == i % 3
        ).index(i) < committed[i % 3]
    }
    assert not committed_ids & set(ids_2), "committed records must not be re-read"


def test_group_offsets_unknown_group_falls_back_earliest(spark, broker, tmp_path):
    """A group that never committed resolves to None — the caller starts
    earliest (auto.offset.reset parity, DtsKafkaUtil.java:44)."""
    from flink_dts_connector_spark.sources.fakebroker import (
        starting_offsets_from_group,
    )

    assert starting_offsets_from_group(broker, "never-seen", TOPIC) is None
    # and a partial commit resolves uncommitted partitions to -2 (earliest)
    from flink_dts_connector_spark.sources.fakebroker import commit_group_offsets
    import json as _json

    commit_group_offsets(broker, "g-partial", TOPIC, {0: 5004})
    m = _json.loads(starting_offsets_from_group(broker, "g-partial", TOPIC))[TOPIC]
    assert m["0"] == 5004 and m["1"] == -2 and m["2"] == -2
    rows = _drain(
        spark,
        _raw_stream(
            spark, broker, group="g-partial",
            group_starting_offsets=_json.dumps({TOPIC: m}),
        ),
        str(tmp_path / "ckgp"),
    )
    ids = sorted(int(bytes(r["value"]).decode().split("-")[1]) for r in rows)
    # partition 0 (ids 0,3,6,...) starts at its 5th record (offset 5004 →
    # id 12); partitions 1 and 2 start earliest
    want = [i for i in range(24) if i % 3 != 0] + [12, 15, 18, 21]
    assert ids == sorted(want)


def test_group_commits_are_monotonic(spark, broker):
    """A stale commit never moves the group backwards — coordinator parity."""
    from flink_dts_connector_spark.sources.fakebroker import (
        commit_group_offsets,
        group_committed_offsets,
    )

    commit_group_offsets(broker, "g-mono", TOPIC, {0: 5010, 1: 5008})
    commit_group_offsets(broker, "g-mono", TOPIC, {0: 5006, 1: 5009, 2: 5001})
    assert group_committed_offsets(broker, "g-mono", TOPIC) == {
        0: 5010, 1: 5009, 2: 5001,
    }


def test_cdc_decode_rides_the_fake_broker(spark, sf_dir, tmp_path):
    """read_stream(source_format='kafka_fake') end-to-end: wire bytes from
    the CDC generator land on the broker, the stream decodes through the
    SAME decode_cdc as the real Kafka path, and the envelope matches the
    batch decode (ids + kafka metadata columns populated)."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes

    register_fake_broker(spark)
    # 1 ms per record id: heartbeat/DDL ids are ~1e10, so second-spacing
    # would overflow pandas' ns timestamps inside the decoder
    recs = generate_cdc_bytes(spark, sf_dir).select(
        "value", "partition", (F.lit(BASE_MS) + F.col("offset")).alias("ts_ms")
    )
    d = str(tmp_path / "brokerCDC")
    create_broker(spark, recs, d, "dstore-cdc", TOPIC, users=USERS)

    env = read_stream(
        spark, d, TOPIC, sid="SID42", user="alice", password="s3cret",
        source_format="kafka_fake",
    )
    out = []

    def sink(batch_df, epoch_id):
        out.extend(
            batch_df.select(
                "id", "operation", "kafka_partition", "kafka_offset", "kafka_timestamp_type"
            ).collect()
        )

    q = (
        env.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckcdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    want = {
        (r["id"], r["operation"])
        for r in decode_cdc(generate_cdc_bytes(spark, sf_dir)).select("id", "operation").collect()
    }
    got = {(r["id"], r["operation"]) for r in out}
    assert got == want and len(got) > 0
    assert all(r["kafka_partition"] is not None and r["kafka_offset"] is not None for r in out)
    # the broker stamps Kafka's CreateTime id (0), as a real cluster does
    assert {r["kafka_timestamp_type"] for r in out} == {"CreateTime"}


# -- driver-side reader contract (no streaming query) -------------------------


def _reader(broker_dir, **kw):
    from flink_dts_connector_spark.sources.fakebroker import (
        KAFKA_SCHEMA,
        FakeKafkaDataSource,
    )

    opts = dts_kafka_options(
        broker_dir, TOPIC, "SID42", None, "alice", "s3cret",
        kw.pop("checkpoint_ts", None), kw.pop("offsets_by_timestamp", None),
        kw.pop("group_starting_offsets", None), extra=kw.pop("extra", None),
    )
    return FakeKafkaDataSource(opts).streamReader(KAFKA_SCHEMA)


def _start(broker_dir, **kw):
    return {int(p): o for p, o in _reader(broker_dir, **kw).initialOffset()["offsets"].items()}


def test_start_position_resolution(spark, broker):
    """Every startup mode resolves to per-partition offsets on the driver.
    The fixture's partitions hold 8 records each at offsets 5000..5007,
    partition p holding rec-(3k + p) at offset 5000 + k."""
    import json as _json

    def ts(i):
        return BASE_MS + i * 1000

    assert _start(broker) == {0: 5000, 1: 5000, 2: 5000}
    assert _start(broker, extra={"startingOffsets": "latest"}) == {0: 5008, 1: 5008, 2: 5008}
    explicit = _json.dumps({TOPIC: {"0": 5003, "1": -2, "2": -1}})
    assert _start(broker, group_starting_offsets=explicit) == {0: 5003, 1: 5000, 2: 5008}
    with pytest.raises(ValueError, match="startingOffsets missing partition 2"):
        _start(broker, group_starting_offsets=_json.dumps({TOPIC: {"0": 5003, "1": 5001}}))

    # offsetsForTimes: first offset whose timestamp >= the target
    by_ts = {"0": ts(3), "1": ts(5), "2": ts(22)}
    assert _start(broker, offsets_by_timestamp=_json.dumps({TOPIC: by_ts})) == {
        0: 5001, 1: 5002, 2: 5007,
    }
    with pytest.raises(ValueError, match=r"missing partitions \[1\]"):
        _start(broker, offsets_by_timestamp=_json.dumps({TOPIC: {"0": ts(0), "2": ts(0)}}))

    # a global timestamp past the log: "latest" gives the log end, the
    # default strategy ("error") refuses to start
    past_s = (BASE_MS + 60_000) // 1000
    assert _start(broker, checkpoint_ts=past_s) == {0: 5008, 1: 5008, 2: 5008}
    with pytest.raises(ValueError, match="strategy=error"):
        _start(broker, extra={"startingTimestamp": str(past_s * 1000)})


def test_live_append_is_seen_and_fetch_names_only_overlapping_segments(spark, broker):
    """A segment published after the reader's first ``latestOffset`` (temp
    name + ``os.replace``, as a producer does) extends the next
    ``latestOffset``; a fetch range inside one segment names only it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    reader = _reader(broker)
    assert reader.latestOffset()["offsets"] == {"0": 5008, "1": 5008, "2": 5008}
    part_dir = os.path.join(broker, "log", "partition=0")
    (old_seg,) = [os.path.join(part_dir, f) for f in os.listdir(part_dir) if f.endswith(".parquet")]
    tmp = os.path.join(part_dir, ".seg-5008.tmp")
    pq.write_table(
        pa.table({
            "value": pa.array([b"rec-24", b"rec-27"], pa.binary()),
            "ts_ms": pa.array([BASE_MS + 24_000, BASE_MS + 27_000], pa.int64()),
            "offset": pa.array([5008, 5009], pa.int64()),
        }),
        tmp,
    )
    new_seg = os.path.join(part_dir, "seg-5008.parquet")
    os.replace(tmp, new_seg)
    assert reader.latestOffset()["offsets"] == {"0": 5010, "1": 5008, "2": 5008}

    def fetch(lo, hi):
        start = {"offsets": {"0": lo, "1": 5008, "2": 5008}}
        end = {"offsets": {"0": hi, "1": 5008, "2": 5008}}
        (part,) = reader.partitions(start, end)
        return part

    tail = fetch(5008, 5010)
    assert tail.files == [new_seg]
    assert [(r[1], r[4]) for r in reader.read(tail)] == [(b"rec-24", 5008), (b"rec-27", 5009)]
    head = fetch(5001, 5003)
    assert head.files == [old_seg]
    assert [(r[1], r[4]) for r in reader.read(head)] == [(b"rec-3", 5001), (b"rec-6", 5002)]


def _run_limited(df, ckpt, want):
    """Run ``df`` rate-limited until ``want`` records arrived in total;
    returns the record ids of each non-empty micro-batch."""
    import time

    batches = []

    def sink(batch_df, epoch_id):
        ids = [int(bytes(r["value"]).decode().split("-")[1]) for r in batch_df.collect()]
        if ids:
            batches.append(ids)

    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while sum(map(len, batches)) < want and time.time() < deadline and q.isActive:
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    return batches


@pytest.fixture()
def broker0(spark, tmp_path):
    """The 24-record log with offsets from 0."""
    register_fake_broker(spark)
    d = str(tmp_path / "broker0")
    create_broker(spark, _mk_records(spark), d, "dstore-cluster-0", TOPIC, users=USERS, offset_base=0)
    return d


def test_rate_limit_starts_at_the_query_start(spark, broker0, tmp_path):
    """``maxRecordsPerTrigger`` throttles from where the query starts: a
    timestamp re-seek to rec-12 never rewinds to earlier records, and the
    12 remaining records take more than one micro-batch."""
    df = _raw_stream(
        spark, broker0, checkpoint_ts=(BASE_MS + 12 * 1000) // 1000,
        extra={"maxRecordsPerTrigger": "6"},
    )
    batches = _run_limited(df, str(tmp_path / "ckr"), 12)
    got = [i for ids in batches for i in ids]
    assert min(got) >= 12, f"records before the start were delivered: {sorted(got)}"
    assert sorted(got) == list(range(12, 24))
    assert len(batches) >= 2


def test_rate_limit_resumes_from_the_checkpoint(spark, broker0, tmp_path):
    """A rate-limited query restarted from its checkpoint continues where
    it stopped: only its last batch may be delivered again (stopped
    between sink and commit), never anything older."""
    ckpt = str(tmp_path / "ckrr")
    limited = {"maxRecordsPerTrigger": "3"}
    first = _run_limited(_raw_stream(spark, broker0, extra=limited), ckpt, 9)
    assert len(first) >= 3 and sum(map(len, first)) < 24
    seen = {i for ids in first for i in ids}
    rest = _run_limited(_raw_stream(spark, broker0, extra=limited), ckpt, 24 - len(seen))
    again = {i for ids in rest for i in ids} & seen
    assert again <= set(first[-1]), f"rewound past the checkpoint: {sorted(again)}"
    assert seen | {i for ids in rest for i in ids} == set(range(24))
