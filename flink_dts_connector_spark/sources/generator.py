"""Deterministic CDC stream generator over the driver's `orders` table.

Turns each order row into a reproducible little change history, encoded with
the wire codec — giving the decode → project → changelog pipeline an
end-to-end DuckDB oracle (the expected outputs are pure SQL over `orders`):

  every order            → INSERT  (id = orderkey*4+0, ts = epoch(orderdate))
  orderkey % 10 == 0     → UPDATE  price := cents + cents//10   (+1 h)
  orderkey %  7 == 0     → UPDATE  priority := '9-RUSH'         (+2 h)
  orderkey % 97 == 0     → DELETE                               (+3 h)
  every 50th order       → HEARTBEAT (no table, no images)
  orderkey % 200 == 0    → DDL (ALTER TABLE text in the after image)

Prices are carried as exact cent integers (cents = round(price*100)) so both
engines derive identical decimal text / doubles.

Runs as mapInPandas over `orders` — the generator scales with the source's
partitioning like any other operator (no driver-side loop).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from flink_dts_connector_spark.datamodel.envelope import (
    ObjectType,
    OperationType,
    SourceType,
    ValueKind,
)
from flink_dts_connector_spark.formats.wire import CdcRecord, FieldDef, encode_record
from flink_dts_connector_spark.session import load_table

ORDERS_FIELDS = [
    FieldDef("o_orderkey", "BIGINT", 8, False),
    FieldDef("o_custkey", "BIGINT", 8, True),
    FieldDef("o_orderstatus", "VARCHAR", 12, True),
    FieldDef("o_totalprice", "DECIMAL", 0, True),
    FieldDef("o_orderdate", "DATETIME", 10, True),
    FieldDef("o_orderpriority", "VARCHAR", 12, True),
]

PK_TAG = json.dumps({"PRIMARY": ["o_orderkey"]})
DB, TBL = "dts_demo", "orders"


def order_cents(price: float) -> int:
    return int(round(price * 100))


def ddl_statement(okey: int) -> str:
    """Deterministic DDL text for the okey%200 schema-change events —
    reconstructable verbatim in oracle SQL."""
    return f"ALTER TABLE orders ADD COLUMN note_{okey} VARCHAR(32)"


def _image(okey: int, ckey: int, status: str, cents: int, odate, priority: str):
    return [
        (ValueKind.INTEGER, okey),
        (ValueKind.INTEGER, ckey),
        (ValueKind.CHARACTER, ("utf8", status.encode())),
        (ValueKind.DECIMAL, f"{cents // 100}.{cents % 100:02d}"),
        (
            ValueKind.DATETIME,
            {
                "y": odate.year,
                "mo": odate.month,
                "d": odate.day,
                "h": odate.hour,
                "mi": odate.minute,
                "s": odate.second,
            },
        ),
        (ValueKind.TEXT_OBJECT, (ObjectType.TEXT, priority)),
    ]


def _records_for_order(row) -> Iterator[CdcRecord]:
    okey = int(row.o_orderkey)
    odate = row.o_orderdate
    ts0 = int(odate.timestamp())
    cents0 = order_cents(row.o_totalprice)
    def base(n: int) -> dict:
        # v2 provenance: binlog-ish source position keyed on the record id
        # (oracle-able), trans_seq = ordinal within the order's transaction
        rid = okey * 4 + n
        return dict(
            db=DB,
            tbl=TBL,
            transaction_id=f"tx-{okey}",
            source_type=SourceType.MySQL,
            source_version="5.7.0",
            tags={"pk_uk_info": PK_TAG},
            fields=list(ORDERS_FIELDS),
            source_position=f"mysql-bin.000001:{rid}",
            trans_seq=n,
        )

    img0 = _image(okey, int(row.o_custkey), row.o_orderstatus, cents0, odate, row.o_orderpriority)
    yield CdcRecord(id=okey * 4, ts=ts0, operation=OperationType.INSERT, after=img0, **base(0))

    cents1, prio1 = cents0, row.o_orderpriority
    if okey % 10 == 0:
        cents1 = cents0 + cents0 // 10
        img1 = _image(okey, int(row.o_custkey), row.o_orderstatus, cents1, odate, prio1)
        yield CdcRecord(
            id=okey * 4 + 1,
            ts=ts0 + 3600,
            operation=OperationType.UPDATE,
            before=img0,
            after=img1,
            **base(1),
        )
    if okey % 7 == 0:
        prev = _image(okey, int(row.o_custkey), row.o_orderstatus, cents1, odate, prio1)
        prio1 = "9-RUSH"
        img2 = _image(okey, int(row.o_custkey), row.o_orderstatus, cents1, odate, prio1)
        yield CdcRecord(
            id=okey * 4 + 2,
            ts=ts0 + 7200,
            operation=OperationType.UPDATE,
            before=prev,
            after=img2,
            **base(2),
        )
    if okey % 97 == 0:
        final = _image(okey, int(row.o_custkey), row.o_orderstatus, cents1, odate, prio1)
        yield CdcRecord(
            id=okey * 4 + 3,
            ts=ts0 + 10800,
            operation=OperationType.DELETE,
            before=final,
            **base(3),
        )
    if okey % 50 == 0:  # stream-level heartbeat: no table, no images
        # disjoint id space — okey*4+3 would collide with the DELETE id
        # when okey % (97*50) == 0 (sparse orderkeys do reach that)
        yield CdcRecord(
            id=10_000_000_000 + okey,
            ts=ts0,
            operation=OperationType.HEARTBEAT,
            db="",
            tbl="",
            transaction_id=None,
            source_type=SourceType.MySQL,
            source_version="5.7.0",
        )
    if okey % 200 == 0:  # schema-change event: DDL text rides the after image
        yield CdcRecord(
            id=20_000_000_000 + okey,
            ts=ts0,
            operation=OperationType.DDL,
            db=DB,
            tbl=TBL,
            transaction_id=None,
            source_type=SourceType.MySQL,
            source_version="5.7.0",
            source_position=f"mysql-bin.000001:ddl-{okey}",
            fields=[FieldDef("ddl_statement", "TEXT", 245)],
            after=[(ValueKind.TEXT_OBJECT, (ObjectType.TEXT, ddl_statement(okey)))],
        )


# ---------------------------------------------------------------------------
# r13 optimization-round fast path for the orders stream (guide §4.2: the
# generator is the Python-side cost every cdc_* bench query pays first, and
# profiling showed ~70% of it is CdcRecord/dict/image OBJECT CONSTRUCTION,
# not byte encoding). `_fast_order_records` emits bytes that are IDENTICAL
# to encode_record(_records_for_order(row)) — the constant fragments below
# are produced by the reference writers themselves at import time, variable
# fields reuse the same write_long/write_str primitives, and
# tests/test_generator_fastpath.py asserts byte equality over every
# branch combination (INSERT/UPDATE×2/DELETE/HEARTBEAT/DDL overlaps).
# HEARTBEAT and DDL records (~2.5% of rows) still go through the reference
# encoder — they are rare enough that clarity wins.
# ---------------------------------------------------------------------------

from flink_dts_connector_spark.formats.wire import (  # noqa: E402
    MAGIC,
    VERSION,
    write_long,
    write_str,
)


def _b_long(n: int) -> bytes:
    b = bytearray()
    write_long(b, n)
    return bytes(b)


def _b_str(s: str | None) -> bytes:
    b = bytearray()
    write_str(b, s)
    return bytes(b)


def _b_fields_block(fields: list[FieldDef]) -> bytes:
    b = bytearray()
    write_long(b, len(fields))
    for f in fields:
        write_str(b, f.name)
        write_str(b, f.type_name)
        write_long(b, f.type_id)
        b.append(1 if f.nullable else 0)
        write_str(b, f.encoding)
    return bytes(b)


_MAGVER = bytes([MAGIC, VERSION])
_NONE_STR = _b_str(None)  # str-union null tag
_NO_BORN = b"\x00"  # born_ts-absent flag
_K_INT = _b_long(int(ValueKind.INTEGER))
_K_CHAR_UTF8 = _b_long(int(ValueKind.CHARACTER)) + _b_str("utf8")
_K_DEC = _b_long(int(ValueKind.DECIMAL))
#: DATETIME with bitmap y|mo|d|time = 15 (exactly what `_image` emits)
_K_DT15 = _b_long(int(ValueKind.DATETIME)) + _b_long(15)
_K_TXT = _b_long(int(ValueKind.TEXT_OBJECT)) + _b_long(int(ObjectType.TEXT))
_ORDERS_FIELDS_BLOCK = _b_fields_block(ORDERS_FIELDS)
#: header run source_type..schema(None) — constant for every orders record
_HDR_CONST = (
    _b_long(int(SourceType.MySQL)) + _b_str("5.7.0") + _b_str(DB) + _b_str(TBL) + _NONE_STR
)
_TAGS_CONST = _b_long(1) + _b_str("pk_uk_info") + _b_str(PK_TAG)
_OPS = {n: _b_long(int(OperationType(n))) for n in (0, 1, 2)}
_TSEQ = {n: _b_long(n) for n in range(4)}

_DT_CACHE: dict[object, tuple[bytes, int]] = {}
_TS_CACHE: dict[int, bytes] = {}
_STATUS_CACHE: dict[str, bytes] = {}
_PRIO_CACHE: dict[str, bytes] = {}
_CKEY_CACHE: dict[int, bytes] = {}


def _dt_frag(odate) -> tuple[bytes, int]:
    """(DATETIME y/mo/d/h/mi/s segment bytes, epoch seconds) per distinct
    order date — ~2.4k distinct values over 150k orders."""
    hit = _DT_CACHE.get(odate)
    if hit is None:
        b = bytearray()
        for seg in (odate.year, odate.month, odate.day, odate.hour, odate.minute, odate.second):
            write_long(b, seg)
        hit = (bytes(b), int(odate.timestamp()))
        _DT_CACHE[odate] = hit
    return hit


def _status_frag(status: str) -> bytes:
    hit = _STATUS_CACHE.get(status)
    if hit is None:
        hit = _K_CHAR_UTF8 + _b_str(status)  # CHARACTER payload: charset + len-bytes
        _STATUS_CACHE[status] = hit
    return hit


def _prio_frag(prio: str) -> bytes:
    hit = _PRIO_CACHE.get(prio)
    if hit is None:
        hit = _K_TXT + _b_str(prio)
        _PRIO_CACHE[prio] = hit
    return hit


def _ts_frag(ts: int) -> bytes:
    hit = _TS_CACHE.get(ts)
    if hit is None:
        hit = _b_long(ts)
        _TS_CACHE[ts] = hit
    return hit


def _ckey_frag(ckey: int) -> bytes:
    hit = _CKEY_CACHE.get(ckey)
    if hit is None:
        hit = _K_INT + _b_str(str(ckey))
        _CKEY_CACHE[ckey] = hit
    return hit


def _fast_order_records(row) -> list[tuple[int, int, bytes]]:
    """[(record_id, commit_ts, wire_bytes)] for one orders row — the fused
    twin of ``[encode_record(r) for r in _records_for_order(row)]``."""
    okey = int(row.o_orderkey)
    odate = row.o_orderdate
    dt_b, ts0 = _dt_frag(odate)
    cents0 = order_cents(row.o_totalprice)
    status_b = _status_frag(row.o_orderstatus)
    ckey_b = _ckey_frag(int(row.o_custkey))
    prio0_b = _prio_frag(row.o_orderpriority)
    okey_b = _K_INT + _b_str(str(okey))
    txid_b = _b_str(f"tx-{okey}")

    def img(cents: int, prio_b: bytes) -> bytes:
        return b"".join(
            (
                okey_b,
                ckey_b,
                status_b,
                _K_DEC,
                _b_str(f"{cents // 100}.{cents % 100:02d}"),
                _K_DT15,
                dt_b,
                prio_b,
            )
        )

    def rec(n: int, ts: int, op: int, before: bytes | None, after: bytes | None) -> tuple[int, int, bytes]:
        rid = okey * 4 + n
        payload_parts = [_ORDERS_FIELDS_BLOCK]
        for image in (before, after):
            if image is None:
                payload_parts.append(b"\x00")
            else:
                payload_parts.append(b"\x01")
                payload_parts.append(image)
        payload = b"".join(payload_parts)
        head = b"".join(
            (
                _MAGVER,
                _b_long(rid),
                txid_b,
                _ts_frag(ts),
                _NO_BORN,
                _OPS[op],
                _HDR_CONST,
                _b_str(f"mysql-bin.000001:{rid}"),
                _NONE_STR,
                _TSEQ[n],
                _TAGS_CONST,
                _b_long(len(payload)),
            )
        )
        return rid, ts, head + payload

    img0 = img(cents0, prio0_b)
    out = [rec(0, ts0, 0, None, img0)]

    cents1, prio1_b, prio1 = cents0, prio0_b, row.o_orderpriority
    if okey % 10 == 0:
        cents1 = cents0 + cents0 // 10
        out.append(rec(1, ts0 + 3600, 1, img0, img(cents1, prio1_b)))
    if okey % 7 == 0:
        prev = img(cents1, prio1_b)
        prio1_b, prio1 = _prio_frag("9-RUSH"), "9-RUSH"
        out.append(rec(2, ts0 + 7200, 1, prev, img(cents1, prio1_b)))
    if okey % 97 == 0:
        out.append(rec(3, ts0 + 10800, 2, img(cents1, prio1_b), None))
    if okey % 50 == 0:  # heartbeat: rare — reference encoder (disjoint ids)
        hb = CdcRecord(
            id=10_000_000_000 + okey,
            ts=ts0,
            operation=OperationType.HEARTBEAT,
            db="",
            tbl="",
            transaction_id=None,
            source_type=SourceType.MySQL,
            source_version="5.7.0",
        )
        out.append((hb.id, hb.ts, encode_record(hb)))
    if okey % 200 == 0:  # DDL: rare — reference encoder
        ddl = CdcRecord(
            id=20_000_000_000 + okey,
            ts=ts0,
            operation=OperationType.DDL,
            db=DB,
            tbl=TBL,
            transaction_id=None,
            source_type=SourceType.MySQL,
            source_version="5.7.0",
            source_position=f"mysql-bin.000001:ddl-{okey}",
            fields=[FieldDef("ddl_statement", "TEXT", 245)],
            after=[(ValueKind.TEXT_OBJECT, (ObjectType.TEXT, ddl_statement(okey)))],
        )
        out.append((ddl.id, ddl.ts, encode_record(ddl)))
    return out


DOC_DB, DOC_TBL = "corpus", "documents"

#: the documents stream's declared wire schema — module-level so the JVM
#: typed decode can anchor on its exact field-def bytes (`cdc_jvm_doc_changelog`)
DOC_FIELDS = [
    FieldDef("doc_id", "BIGINT", 8, False),
    FieldDef("text", "VARCHAR", 252, True),
    FieldDef("source", "VARCHAR", 12, True),
    FieldDef("n_chars", "BIGINT", 8, True),
]


def generate_doc_cdc_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `documents` table as a CDC INSERT stream — the ingestion feed of
    a streaming corpus pipeline. Commit ts is deterministic
    (1.7e9 + doc_id); every 5th document is delivered TWICE with identical
    bytes (at-least-once delivery, the repair case streaming dedup exists
    for). Same wire codec and partition/offset shape as the orders
    generator."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    fields = DOC_FIELDS

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            values, parts, offs = [], [], []
            for row in pdf.itertuples(index=False):
                did = int(row.doc_id)
                rec = CdcRecord(
                    id=did,
                    ts=1_700_000_000 + did,
                    operation=OperationType.INSERT,
                    db=DOC_DB,
                    tbl=DOC_TBL,
                    transaction_id=f"doc-{did}",
                    source_type=SourceType.MySQL,
                    source_version="5.7.0",
                    fields=list(fields),
                    after=[
                        (ValueKind.INTEGER, did),
                        (ValueKind.CHARACTER, ("utf8", str(row.text).encode())),
                        (ValueKind.CHARACTER, ("utf8", str(row.source).encode())),
                        (ValueKind.INTEGER, int(row.n_chars)),
                    ],
                )
                payload = encode_record(rec)
                for r in range(2 if did % 5 == 0 else 1):
                    values.append(payload)
                    parts.append(did % 4)
                    offs.append(did * 2 + r)
            yield pd.DataFrame({"value": values, "partition": parts, "offset": offs})

    return docs.mapInPandas(fn, schema="value binary, partition int, offset long")


def generate_doc_delta_cdc_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus delta old→new as a CDC op stream — the nightly-delta feed
    of an incremental curation pipeline. Snapshot construction matches
    `curate_incremental_pipeline` / `curate_snapshot_diff`:

        old = documents where doc_id % 11 != 0
        new = documents where doc_id % 17 != 0,
              text || ' v2' where doc_id % 7 == 0

    so the delta ops are (each doc carries at most ONE op):

        DELETE  doc_id % 11 != 0 and doc_id % 17 == 0      (before image)
        INSERT  doc_id % 11 == 0 and doc_id % 17 != 0      (after image)
        UPDATE  in both, text changed (% 7 == 0)           (before + after)

    Output adds a ``wave`` column (doc_id % 3) so callers can land the
    delta in several files/batches and exercise multi-batch incremental
    maintenance. Same wire codec and partition/offset shape as the other
    generators; commit ts deterministic."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    fields = DOC_FIELDS

    def image(did: int, text: str, source: str, n_chars: int) -> list:
        return [
            (ValueKind.INTEGER, did),
            (ValueKind.CHARACTER, ("utf8", text.encode())),
            (ValueKind.CHARACTER, ("utf8", source.encode())),
            (ValueKind.INTEGER, n_chars),
        ]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            values, parts, offs, waves = [], [], [], []
            for row in pdf.itertuples(index=False):
                did = int(row.doc_id)
                in_old, in_new = did % 11 != 0, did % 17 != 0
                text, source, n_chars = str(row.text), str(row.source), int(row.n_chars)
                new_text = text + " v2" if did % 7 == 0 else text
                if in_old and not in_new:
                    op, before, after = OperationType.DELETE, image(did, text, source, n_chars), None
                elif in_new and not in_old:
                    op, before, after = OperationType.INSERT, None, image(did, new_text, source, n_chars)
                elif in_old and in_new and new_text != text:
                    op = OperationType.UPDATE
                    before = image(did, text, source, n_chars)
                    after = image(did, new_text, source, n_chars)
                else:
                    continue  # unchanged (or in neither snapshot): no op
                rec = CdcRecord(
                    id=did,
                    ts=1_710_000_000 + did,
                    operation=op,
                    db=DOC_DB,
                    tbl=DOC_TBL,
                    transaction_id=f"delta-{did}",
                    source_type=SourceType.MySQL,
                    source_version="5.7.0",
                    fields=list(fields),
                    before=before,
                    after=after,
                )
                values.append(encode_record(rec))
                parts.append(did % 4)
                offs.append(did)
                waves.append(did % 3)
            yield pd.DataFrame(
                {"value": values, "partition": parts, "offset": offs, "wave": waves}
            )

    return docs.mapInPandas(
        fn, schema="value binary, partition int, offset long, wave int"
    )


#: Kafka-shaped metadata the generator stamps on every raw record, mirroring
#: what the real Kafka source yields (topic/timestamp/timestampType/headers —
#: `table/DtsDynamicSource.java:268-345`).
TOPIC = "cdc-orders"


def generate_cdc_bytes(
    spark: SparkSession, sf_dir: str, kafka_meta: bool = False
) -> DataFrame:
    """orders → raw-record DataFrame [value binary, partition int, offset
    long]; with ``kafka_meta=True``, shaped like the Spark Kafka source's
    full output (plus topic, timestamp = commit ts / CreateTime, and one
    deterministic header carrying the record id). Metadata is opt-in: the
    per-record datetime/header-struct construction and its Arrow transfer
    measurably slow every consumer that doesn't read them.

    partition = orderkey % 4 (≥3 partitions per FIXTURES.md F1), offset =
    record id (dense ascending per partition is not required by the decoder).
    """
    import datetime as dt

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    # the source is one small parquet file (one split) — spread the Python
    # encode work across all cores; the shuffle of the narrow projection is
    # far cheaper than serializing the codec on one task
    orders = orders.repartition(spark.sparkContext.defaultParallelism)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            values, parts, offs = [], [], []
            ktss, hdrs = [], []
            for row in pdf.itertuples(index=False):
                # r13: fused fast encoder — byte-identical to
                # encode_record(_records_for_order(row)) (pytest-pinned)
                for rid, rts, payload in _fast_order_records(row):
                    values.append(payload)
                    parts.append(int(rid % 4))
                    offs.append(int(rid))
                    if kafka_meta:
                        ktss.append(
                            dt.datetime.fromtimestamp(rts, dt.timezone.utc).replace(
                                tzinfo=None
                            )
                        )
                        hdrs.append([{"key": "record_id", "value": str(rid).encode()}])
            cols = {"value": values, "partition": parts, "offset": offs}
            if kafka_meta:
                cols.update(
                    topic=[TOPIC] * len(values),
                    timestamp=ktss,
                    timestampType=[0] * len(values),  # CreateTime
                    headers=hdrs,
                )
            yield pd.DataFrame(cols)

    schema = "value binary, partition int, offset long"
    if kafka_meta:
        schema += (
            ", topic string, timestamp timestamp, timestampType int"
            ", headers array<struct<key: string, value: binary>>"
        )
    return orders.mapInPandas(fn, schema=schema)
