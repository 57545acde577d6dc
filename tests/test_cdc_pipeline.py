"""CDC pipeline integration tests beyond the oracle battery: source
factories, failover glue, changelog kit unit behavior."""

from __future__ import annotations

import json
import os

from flink_dts_connector_spark.sources.kafka import dts_kafka_options
from flink_dts_connector_spark.streaming.failover import (
    DtsProgressTracker,
    compose_checkpoint,
    parse_checkpoint,
)


def test_kafka_options_sasl_and_group():
    # DtsKafkaUtil.getKafkaProperties parity: user-sid login, group∥sid
    opts = dts_kafka_options(
        "broker:9092", "topic-1", sid="sid123", group=None, user="u", password="p"
    )
    assert opts["kafka.group.id"] == "sid123"
    assert 'username="u-sid123"' in opts["kafka.sasl.jaas.config"]
    assert opts["kafka.security.protocol"] == "SASL_PLAINTEXT"
    assert opts["kafka.enable.auto.commit"] == "false"
    assert opts["startingOffsets"] == "earliest"


def test_kafka_options_timestamp_startup():
    # checkpoint>0 → TIMESTAMP startup mode (FlinkDtsKafkaConsumer.java:263-267)
    # via startingTimestamp: Spark's all-partition timestamp seek (there is
    # no partition wildcard in startingOffsetsByTimestamp)
    opts = dts_kafka_options("b:9092", "t", "s", "g", "u", "p", checkpoint_ts=1700000000)
    assert opts["startingTimestamp"] == "1700000000000"
    assert opts["startingOffsetsByTimestampStrategy"] == "latest"
    assert "startingOffsets" not in opts
    assert "startingOffsetsByTimestamp" not in opts
    assert opts["kafka.group.id"] == "g"


def test_kafka_options_per_partition_timestamp_map():
    # exact re-seek map from DtsProgressTracker wins over the global ts
    m = json.dumps({"t": {"0": 1700000100000, "1": 1700000050000}})
    opts = dts_kafka_options(
        "b:9092", "t", "s", "g", "u", "p", checkpoint_ts=1700000000, offsets_by_timestamp=m
    )
    assert json.loads(opts["startingOffsetsByTimestamp"]) == json.loads(m)
    assert "startingTimestamp" not in opts and "startingOffsets" not in opts


def test_checkpoint_string_roundtrip():
    # util/DtsUtil.java:15-25 parity incl. bare-offset tolerance
    assert parse_checkpoint(compose_checkpoint(12345, 1700000000)) == (12345, 1700000000)
    assert parse_checkpoint("777") == (777, -1)


def test_progress_tracker_roundtrip(tmp_path):
    path = str(tmp_path / "state.json")
    t = DtsProgressTracker(state_path=path, cluster_id="cluster-A")
    t.update_from_batch([(0, 10, 1700000100), (1, 20, 1700000050), (0, 5, 1700000999)])
    # offset 5 < 10 must not regress partition 0
    assert t.partitions[0] == (10, 1700000100)
    t.save()

    back = DtsProgressTracker.load(path)
    assert back.cluster_id == "cluster-A"
    assert back.partitions == {0: (10, 1700000100), 1: (20, 1700000050)}
    # cluster switch detection (ClusterSwitchListener parity)
    assert not back.cluster_switched("cluster-A")
    assert back.cluster_switched("cluster-B")
    # recovery: conservative min-ts, and per-partition ms map for Spark
    assert back.min_safe_timestamp() == 1700000050
    m = json.loads(back.starting_offsets_by_timestamp("topic"))
    assert m == {"topic": {"0": 1700000100000, "1": 1700000050000}}


def test_signed_agg_unit(spark):
    from pyspark.sql import functions as F

    from flink_dts_connector_spark.operators.changelog import signed_count, signed_sum

    rows = [
        ("k1", 10.0, "I"),  # insert 10
        ("k1", 10.0, "UB"),  # update 10 -> 15
        ("k1", 15.0, "UA"),
        ("k2", 7.0, "I"),
        ("k2", 7.0, "D"),  # deleted
    ]
    df = spark.createDataFrame(rows, "k string, v double, op string")
    out = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(signed_sum(F.col("v")).alias("s"), signed_count().alias("n"))
        .collect()
    }
    assert out["k1"] == (15.0, 1)
    assert out["k2"] == (0.0, 0)


def test_decode_column_pruning(spark, sf_dir):
    """columns= prunes image maps to the declared fields and must agree
    with the full decode restricted to those fields."""
    from pyspark.sql import functions as F

    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes

    raw = generate_cdc_bytes(spark, sf_dir)
    full = decode_cdc(raw, ops=["INSERT"]).select(
        "id", F.element_at("after", "o_totalprice").alias("p")
    )
    pruned_df = decode_cdc(raw, ops=["INSERT"], columns=["o_totalprice"])
    pruned = pruned_df.select("id", F.element_at("after", "o_totalprice").alias("p"))
    assert {tuple(r) for r in full.collect()} == {tuple(r) for r in pruned.collect()}
    # pruned maps carry ONLY the requested field
    sizes = pruned_df.select(F.size(F.map_keys("after")).alias("n")).distinct().collect()
    assert {r["n"] for r in sizes} == {1}


def test_dts_python_datasource(spark, sf_dir, tmp_path):
    """spark.read.format('dts') — the 'connector'='dts' SQL-surface parity:
    must equal the direct decode pipeline, with filters honored."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import DB, TBL, generate_cdc_bytes

    raw_dir = str(tmp_path / "raw")
    generate_cdc_bytes(spark, sf_dir).repartition(4).write.parquet(raw_dir)
    register_dts_source(spark)

    via_source = (
        spark.read.format("dts")
        .option("path", raw_dir)
        .option("tables", f"{DB}.{TBL}")
        .option("ops", "INSERT,DELETE")
        .load()
    )
    direct = decode_cdc(
        spark.read.parquet(raw_dir), tables=[f"{DB}.{TBL}"], ops=["INSERT", "DELETE"]
    )
    assert via_source.schema == direct.schema
    a = {(r["id"], r["operation"]) for r in via_source.select("id", "operation").collect()}
    b = {(r["id"], r["operation"]) for r in direct.select("id", "operation").collect()}
    assert a == b and len(a) > 0
    # multiple input partitions (one per file)
    assert via_source.rdd.getNumPartitions() == 4


def test_decode_on_error_skip(spark, sf_dir):
    """Poison-pill tolerance: corrupt records are dropped under
    on_error='skip', kill the job under the default 'fail'."""
    import pytest

    from pyspark.sql import functions as F

    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes

    good = generate_cdc_bytes(spark, sf_dir)
    n_good = good.count()
    poison = spark.createDataFrame(
        [(bytearray(b"\xde\xad\xbe\xef"), 0, -1), (bytearray(b""), 0, -2)],
        "value binary, partition int, offset long",
    )
    # truncated-but-valid-header record: take a real record and chop the tail
    one = bytes(good.select("value").first()["value"])
    torn = spark.createDataFrame(
        [(bytearray(one[: len(one) - 5]), 0, -3)], "value binary, partition int, offset long"
    )
    mixed = good.unionByName(poison, allowMissingColumns=True).unionByName(
        torn, allowMissingColumns=True
    )

    assert decode_cdc(mixed, on_error="skip").count() == n_good
    with pytest.raises(Exception):
        decode_cdc(mixed).count()
    with pytest.raises(ValueError, match="on_error"):
        decode_cdc(mixed, on_error="ignore")


def test_dts_datasource_streaming(spark, sf_dir, tmp_path):
    """readStream.format('dts'): the streaming table-source parity path —
    must deliver every record exactly once into the sink."""
    from pyspark.sql import functions as F

    from flink_dts_connector_spark.sources.dts_datasource import register_dts_source
    from flink_dts_connector_spark.sources.generator import generate_cdc_bytes

    raw_dir = str(tmp_path / "raw")
    generate_cdc_bytes(spark, sf_dir).repartition(3).write.parquet(raw_dir)
    register_dts_source(spark)

    import uuid

    name = f"dts_{uuid.uuid4().hex[:10]}"
    q = (
        spark.readStream.format("dts")
        .option("path", raw_dir)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["id"] for r in spark.table(name).select("id").collect()}
    expected = {
        r["id"]
        for r in __import__(
            "flink_dts_connector_spark.formats.decoder", fromlist=["decode_cdc"]
        ).decode_cdc(spark.read.parquet(raw_dir)).select("id").collect()
    }
    assert got == expected and len(got) > 0


def test_partitioned_stream_offsets_stay_compact(tmp_path):
    """The executor-parallel reader's offset must be O(churn window), not
    O(files ever consumed): files older than maxFileAgeSec relative to the
    newest drop out of the explicit `recent` list (implicitly consumed via
    the mtime watermark), with no re-reads and no gaps across batches."""
    import time as _time

    from flink_dts_connector_spark.sources.dts_datasource import (
        DtsPartitionedStreamReader,
    )

    d = tmp_path / "raw"
    d.mkdir()
    now = _time.time()

    def land(names, mtime):
        for n in names:
            p = d / n
            p.write_bytes(b"")
            os.utime(p, (mtime, mtime))

    reader = DtsPartitionedStreamReader({"path": str(d), "maxfileagesec": "100"})

    old = [f"old{i:02d}.parquet" for i in range(10)]
    land(old, now - 1000)
    start = reader.initialOffset()
    end1 = reader.latestOffset()
    batch1 = {p.path for p in reader.partitions(start, end1)}
    assert batch1 == {str(d / n) for n in old}

    new = [f"new{i:02d}.parquet" for i in range(10)]
    land(new, now)
    end2 = reader.latestOffset()
    # watermark advanced past the old files: offset size is the churn
    # window (10 names), not the full 20-file history
    assert len(end2["recent"]) == 10
    batch2 = {p.path for p in reader.partitions(end1, end2)}
    assert batch2 == {str(d / n) for n in new}  # no re-reads, no gaps

    # steady state: nothing new → empty batch, offset size unchanged
    end3 = reader.latestOffset()
    assert reader.partitions(end2, end3) == []
    assert len(end3["recent"]) == 10

    # restart: a FRESH reader (watermark state lost) must not re-read
    # files the checkpointed start offset already consumed
    r2 = DtsPartitionedStreamReader({"path": str(d), "maxfileagesec": "100"})
    end4 = r2.latestOffset()
    assert r2.partitions(end2, end4) == []

    # the explicit guard: an end offset whose watermark retreated below
    # start's must not resurrect implicitly-consumed files
    stale_end = {"wm": end2["wm"] - 500, "recent": [str(d / old[0])]}
    assert r2.partitions(end2, stale_end) == []


def test_fastdecode_parity():
    """The Arrow batch decode (`decode_arrow` on formats/fastdecode.py) must
    equal the reference per-record loop across the full value zoo, v1
    records, filters (ops/tables/columns), header-only mode, poison-pill
    skips and kafka-metadata alignment after filtering — including Kafka
    headers (non-empty, empty, null, a repeated key), every timestampType
    id plus null, and a null Kafka timestamp.

    Normalisation, applied to the Arrow side only: maps come back from
    Arrow as (key, value) pair lists and become dicts (a repeated key would
    fail the test, so last-value-wins is pinned, not hidden); timestamps
    come back UTC-aware and become naive UTC, the reference's form."""
    import datetime as dt

    import pyarrow as pa

    from flink_dts_connector_spark.datamodel.envelope import (
        OperationType,
        SourceType,
        ValueKind,
    )
    from flink_dts_connector_spark.formats.decoder import (
        _decode_batch_reference,
        decode_arrow,
    )
    from flink_dts_connector_spark.formats.wire import CdcRecord, FieldDef, encode_record
    from flink_dts_connector_spark.sources.zoo import ZOO_CASES

    zoo_fields = [FieldDef(n, k.name, int(k), True) for n, k, _, _ in ZOO_CASES]
    zoo_image = [(k, p) for _, k, p, _ in ZOO_CASES]
    recs = []
    for i in range(40):
        recs.append(
            CdcRecord(
                id=i, ts=1700000000 + i % 7, operation=OperationType(i % 4),
                db="zoo_db", tbl="values_zoo", transaction_id=f"tx-{i}",
                born_ts=1690000000 + i, source_type=SourceType.MySQL,
                tags={"pk_uk_info": '{"PRIMARY": ["c_utf8"], "uk_x": ["c_gbk"]}'},
                fields=list(zoo_fields),
                before=list(zoo_image) if i % 4 == 1 else None,
                after=list(zoo_image) if i % 4 != 2 else None,
                schema="zs" if i % 3 == 0 else None,
                source_position=f"pos:{i}" if i % 2 == 0 else None,
                trans_seq=i,
            )
        )
    # second table + SQLServer naming + no tags + empty-string txid
    recs.append(
        CdcRecord(
            id=99, ts=1700000100, operation=OperationType.INSERT, db="erp",
            tbl="accounts", transaction_id="", source_type=SourceType.SQLServer,
            schema="dbo", fields=[FieldDef("a")],
            after=[(ValueKind.INTEGER, 42)],
        )
    )
    raws = [encode_record(r) for r in recs]
    poison = [b"\xd7\x02\x00garbage", raws[0][:10]]
    n = len(raws) + len(poison)
    all_raws = raws + poison
    header_cycle = [
        [{"key": "record_id", "value": b"r"}, {"key": "trace", "value": b"t"}],
        [],
        None,
        # a repeated key: the last value wins
        [{"key": "k", "value": b"first"}, {"key": "j", "value": None},
         {"key": "k", "value": b"last"}],
        [{"key": "only", "value": b""}],
    ]
    meta = {
        "partition": [i % 4 for i in range(n)],
        "offset": list(range(n)),
        "topic": ["t"] * n,
        "timestamp": [
            None if i == 5 else dt.datetime(2024, 1, 1, 0, 0, i % 60) for i in range(n)
        ],
        "timestampType": [(-1, 0, 1, None)[i % 4] for i in range(n)],
        "headers": [header_cycle[i % len(header_cycle)] for i in range(n)],
    }
    # the Spark Kafka source's Arrow shape, as mapInArrow hands it over
    kafka_arrow = pa.schema([
        ("value", pa.binary()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("topic", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
        ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
    ])
    batch = pa.RecordBatch.from_pydict({"value": all_raws, **meta}, schema=kafka_arrow)

    def normalise(v, typ):
        if v is None:
            return None
        if pa.types.is_map(typ):
            d = dict(v)
            assert len(d) == len(v), f"repeated map key in {v}"
            return d
        if pa.types.is_timestamp(typ):
            return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v

    cases = [
        dict(tables=None, ops=None),
        dict(tables=None, ops=frozenset({"INSERT", "DELETE"})),
        dict(tables=frozenset({"zoo_db.values_zoo"}), ops=None),
        dict(tables=frozenset({"[erp].[dbo].[accounts]"}), ops=None),
        dict(tables=None, ops=None, columns=frozenset({"c_utf8", "c_ts", "c_geom_wkb"})),
        dict(tables=None, ops=None, images=False),
    ]
    for kw in cases:
        out = decode_arrow(batch, skip_errors=True, **kw)
        ref = _decode_batch_reference(all_raws, meta, skip_errors=True, **kw)
        assert set(out.schema.names) == set(ref)
        for c in ref:
            typ = out.schema.field(c).type
            got = [normalise(v, typ) for v in out.column(c).to_pylist()]
            assert got == ref[c], f"column {c} diverges under {kw}"
        assert out.num_rows > 0
    # the metadata inputs are all exercised on the unfiltered case
    full = _decode_batch_reference(all_raws, meta, tables=None, ops=None, skip_errors=True)
    assert set(full["kafka_timestamp_type"]) == {
        "NoTimestampType", "CreateTime", "LogAppendTime", None
    }
    assert None in full["kafka_timestamp"]
    assert {"k": b"last", "j": None} in full["kafka_headers"]
    assert {} in full["kafka_headers"] and None in full["kafka_headers"]
    # fail-loudly parity on poison input
    import pytest as _pytest

    with _pytest.raises(Exception):
        decode_arrow(batch, None, None)


def test_txn_fixture_interleaves_and_manifest_is_atomic(spark):
    """The txn fixture must actually interleave statements of different
    transactions in stream order (the whole point: grouping can't rely on
    contiguity), and the manifest must reassemble every transaction
    atomically — contiguous seq 0..n-1, ops matching the shape function,
    commit_ts = the last statement's ts."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.operators.changelog import txn_manifest
    from flink_dts_connector_spark.sources.zoo import (
        N_TXNS,
        _txn_shape,
        generate_txn_bytes,
    )

    env = decode_cdc(generate_txn_bytes(spark))
    # stream order within a partition = offset order; adjacent records must
    # frequently belong to DIFFERENT transactions
    rows = (
        env.select("kafka_partition", "kafka_offset", "transaction_id")
        .orderBy("kafka_partition", "kafka_offset")
        .collect()
    )
    switches = sum(
        1
        for a, b in zip(rows, rows[1:])
        if a["kafka_partition"] == b["kafka_partition"]
        and a["transaction_id"] != b["transaction_id"]
    )
    assert switches >= N_TXNS, f"stream not interleaved: only {switches} txn switches"

    got = {r["transaction_id"]: r for r in txn_manifest(env).collect()}
    assert len(got) == N_TXNS
    for t in range(N_TXNS):
        shape = _txn_shape(t)
        r = got[f"txn-{t:04d}"]
        assert r["seq_contiguous"] is True
        assert r["n_rows"] == len(shape)
        assert r["ops"] == ",".join(op for _, _, op in shape)
        assert int(r["commit_ts"].timestamp()) == 1_700_001_000 + t * 10 + len(shape) - 1


def test_torn_txn_skipped_whole(spark):
    """A torn transaction (middle statement lost) must be flagged
    non-contiguous by the manifest and skipped WHOLE by the atomic apply —
    its statements that DID arrive never reach the sink."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.operators.changelog import (
        apply_complete_txns,
        txn_manifest,
    )
    from flink_dts_connector_spark.sources.zoo import N_TXNS, generate_txn_bytes

    from pyspark.sql import functions as F

    torn_id = f"txn-{N_TXNS:04d}"
    env = decode_cdc(generate_txn_bytes(spark, include_torn=True))
    man = {r["transaction_id"]: r for r in txn_manifest(env).collect()}
    assert man[torn_id]["seq_contiguous"] is False
    assert man[torn_id]["n_rows"] == 2  # seq {0, 2} arrived
    applied = apply_complete_txns(env)
    assert applied.where(F.col("transaction_id") == torn_id).count() == 0
    # everything else applied in full
    assert applied.count() == env.count() - 2


def test_doc_delta_generator_op_mix_and_images(spark, sf_dir):
    """The corpus-delta CDC generator emits exactly the old→new snapshot
    delta (closed forms over doc_id residues), with the images the op
    requires: DELETE carries before only, INSERT after only, UPDATE both
    with text differing by the ' v2' suffix."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.session import load_table
    from flink_dts_connector_spark.sources.generator import (
        generate_doc_delta_cdc_bytes,
    )

    from pyspark.sql import functions as F

    ids = [r["doc_id"] for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()]
    exp_d = {i for i in ids if i % 11 != 0 and i % 17 == 0}
    exp_i = {i for i in ids if i % 11 == 0 and i % 17 != 0}
    exp_u = {i for i in ids if i % 11 != 0 and i % 17 != 0 and i % 7 == 0}

    env = decode_cdc(generate_doc_delta_cdc_bytes(spark, sf_dir).drop("wave"))
    rows = env.select("operation", "before", "after").collect()
    got = {"DELETE": set(), "INSERT": set(), "UPDATE": set()}
    for r in rows:
        if r["operation"] == "DELETE":
            assert r["after"] is None and r["before"] is not None
            got["DELETE"].add(int(r["before"]["doc_id"]))
        elif r["operation"] == "INSERT":
            assert r["before"] is None and r["after"] is not None
            got["INSERT"].add(int(r["after"]["doc_id"]))
        else:
            assert r["operation"] == "UPDATE"
            assert r["before"] is not None and r["after"] is not None
            assert r["after"]["text"] == r["before"]["text"] + " v2"
            got["UPDATE"].add(int(r["after"]["doc_id"]))
    assert got["DELETE"] == exp_d
    assert got["INSERT"] == exp_i
    assert got["UPDATE"] == exp_u


def test_commit_marker_alone_does_not_complete_txn(spark):
    """The COMMIT marker asserts the transaction committed upstream; it
    must NOT by itself trigger apply — completeness additionally requires
    every statement 0..commit_seq−1. The torn txn has its marker and
    seqs {0, 2}: nothing from it may apply, while a healthy txn with the
    same statement count applies fully. Also pins the COMMIT wire record
    (op code 5, no fields, no images) through encode → decode."""
    from flink_dts_connector_spark.formats.decoder import decode_cdc
    from flink_dts_connector_spark.sources.zoo import N_TXNS, generate_txn_bytes

    from pyspark.sql import functions as F

    env = decode_cdc(generate_txn_bytes(spark, include_torn=True, commits=True))
    torn_id = f"txn-{N_TXNS:04d}"
    torn = env.where(F.col("transaction_id") == torn_id).collect()
    ops = sorted((r["operation"], r["trans_seq"]) for r in torn)
    # marker present (seq = 3 statements), statements {0, 2} observed
    assert ("COMMIT", 3) in ops and ("COMMIT", 1) not in ops
    stmt_seqs = sorted(s for op, s in ops if op != "COMMIT")
    assert stmt_seqs == [0, 2]
    commits = env.where(F.col("operation") == "COMMIT")
    assert commits.count() == N_TXNS + 1  # every txn incl. torn has one
    # commit rows decode with empty images and the _txn pseudo-table
    row = commits.limit(1).collect()[0]
    assert row["before"] is None and row["after"] is None
    assert row["tbl"] == "_txn"


def test_reconciliation_checksum_detects_drift_and_ignores_order(spark):
    """The reconciliation row-checksum is order/partitioning-insensitive
    (commutative sum of per-row hashes) but moves on ANY single-row change
    — the two properties that make it a valid drift audit."""
    from pyspark.sql import functions as F

    from flink_dts_connector_spark.operators.dedup import md5_number_lower_mod

    def report(rows):
        df = spark.createDataFrame(rows, "k bigint, cents bigint, prio string")
        canon = F.concat_ws(
            "|", F.col("k").cast("string"), F.col("cents").cast("string"), F.col("prio")
        )
        return {
            tuple(r)
            for r in df.groupBy("prio")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("s"),
                F.sum(md5_number_lower_mod(canon, 1 << 31)).cast("bigint").alias("ck"),
            )
            .collect()
        }

    base = [(i, 100 * i + 7, "P" + str(i % 2)) for i in range(1, 40)]
    import random

    shuffled = base[:]
    random.Random(7).shuffle(shuffled)
    assert report(base) == report(shuffled)  # order-insensitive

    tampered = [(k, c + (1 if k == 23 else 0), p) for k, c, p in base]
    assert report(base) != report(tampered)  # one corrupted cent is caught

    dupped = base + [base[5]]
    assert report(base) != report(dupped)  # a duplicated row is caught

    dropped = [r for r in base if r[0] != 11]
    assert report(base) != report(dropped)  # a dropped row is caught
