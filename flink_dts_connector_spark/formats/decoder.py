"""Spark decode pipeline: DataFrame[value: binary] → envelope DataFrame.

Equivalent of the reference's deserializer chain
(`formats/raw/DtsRecordDeserializationSchema.java:11-16` for the generic
layer, `DTSSubscribeRowDataDeserializationSchema.java:65-93` for the
filtered layer) re-expressed as `mapInArrow` over `decode_arrow`: the
engine's Arrow batches stay columnar across the Python boundary, one Python
worker per partition, no per-row Python UDF overhead. The `dts` data source
yields the same function's batches.

Laziness parity: `decode_cdc(..., tables=, ops=)` runs the cheap header
decode first and only parses the payload for records that survive the
op-type/table filters — same cost model as the reference's two-phase lazy
parse (`impl/LazyParseRecordImpl.java:53-84`,
`DTSSubscribeRowDataDeserializationSchema.java:68-74`).

Scale: decode parallelism = source partitions (Kafka partitions or file
splits). The UDF is stateless per batch, so 1000 executors decode 1000
partitions independently; no shuffle is introduced.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from flink_dts_connector_spark.datamodel.envelope import (
    ENVELOPE_SCHEMA,
    KAFKA_TIMESTAMP_TYPES,
    OperationType,
)
from flink_dts_connector_spark.formats.fastdecode import CORE_COLS, decode_batch_core
from flink_dts_connector_spark.formats.wire import (
    decode_header,
    decode_payload,
    render_object_names,
    render_value,
)

_ENVELOPE_COLS = [f.name for f in ENVELOPE_SCHEMA.fields]
_ARROW_SCHEMA = to_arrow_schema(ENVELOPE_SCHEMA)

#: Kafka metadata columns carried through from the raw source when present —
#: the Spark Kafka source's own names (table/DtsDynamicSource.java:268-345
#: readable-metadata parity; `headers` needs .option("includeHeaders", true))
#: → their envelope columns.
_META_COLS = {
    "partition": "kafka_partition",
    "offset": "kafka_offset",
    "topic": "kafka_topic",
    "timestamp": "kafka_timestamp",
    "timestampType": "kafka_timestamp_type",
    "headers": "kafka_headers",
}


def _headers_map(h: pa.ListArray) -> pa.MapArray:
    """Kafka headers array<struct<key,value>> → MAP<STRING, BYTES> from the
    list's entries and struct fields. Kafka allows a repeated header key and
    a map does not: the last value wins, as in `_headers_to_map`."""
    entries, parents = h.flatten(), pc.list_parent_indices(h)
    keys = entries.field("key")
    last = (
        pa.table({"p": parents, "k": keys, "i": np.arange(len(keys))})
        .group_by(["p", "k"], use_threads=False)
        .aggregate([("i", "max")])["i_max"]
    )
    pos = np.sort(last.to_numpy())
    lengths = np.bincount(parents.to_numpy()[pos], minlength=len(h))
    offsets = pa.array(
        np.concatenate(([0], np.cumsum(lengths))), pa.int32(),
        mask=np.append(h.is_null().to_numpy(zero_copy_only=False), False),
    )
    return pa.MapArray.from_arrays(offsets, keys.take(pos), entries.field("value").take(pos))


def decode_arrow(
    batch: pa.RecordBatch,
    tables: frozenset[str] | None,
    ops: frozenset[str] | None,
    columns: frozenset[str] | None = None,
    skip_errors: bool = False,
    images: bool = True,
) -> pa.RecordBatch:
    """Decode one Arrow batch of raw records into an envelope batch: the
    fused decode+render core (formats/fastdecode.py) runs on the ``value``
    column, and the Kafka metadata columns ride through as ``take(kept)``
    of the survivor indices. Output is pinned equal to
    `_decode_batch_reference` by
    tests/test_cdc_pipeline.py::test_fastdecode_parity."""
    out, kept = decode_batch_core(
        batch.column("value").to_pylist(), tables, ops, columns,
        skip_errors=skip_errors, images=images,
    )
    cols = [pa.array(out[c], _ARROW_SCHEMA.field(c).type) for c in CORE_COLS]
    kept = pa.array(kept, pa.int64())
    for src, dst in _META_COLS.items():
        typ = _ARROW_SCHEMA.field(dst).type
        if src not in batch.schema.names:
            cols.append(pa.nulls(len(kept), typ))
            continue
        col = batch.column(src).take(kept)
        if src == "timestampType":
            codes, col = col, col.cast(pa.string())
            for code, name in KAFKA_TIMESTAMP_TYPES.items():
                col = pc.if_else(pc.equal(codes, code), name, col)
        elif src == "headers":
            col = _headers_map(col)
        cols.append(col.cast(typ))
    return pa.RecordBatch.from_arrays(cols, schema=_ARROW_SCHEMA)


def _headers_to_map(h) -> dict[str, bytes] | None:
    """Kafka headers array<struct<key,value>> → MAP<STRING, BYTES> (the
    reference's HEADERS metadata shape, DtsDynamicSource.java:294-310)."""
    if h is None:
        return None
    try:
        if len(h) == 0:
            return {}
    except TypeError:
        return None
    out = {}
    for item in h:
        if isinstance(item, dict):
            out[item.get("key")] = item.get("value")
        else:  # pyspark Row
            out[item["key"]] = item["value"]
    return out


def _opt_int(v) -> int | None:
    return None if v is None or pd.isna(v) else int(v)


def _decode_batch_reference(
    raw_values: Sequence[bytes],
    meta: dict[str, Sequence],
    tables: frozenset[str] | None,
    ops: frozenset[str] | None,
    columns: frozenset[str] | None = None,
    skip_errors: bool = False,
    images: bool = True,
) -> dict[str, list]:
    import datetime as dt
    import json

    out: dict[str, list] = {c: [] for c in _ENVELOPE_COLS}
    fielddef_cache: dict = {}  # per-batch schema cache (decode_payload docstring)
    pk_cache: dict[str, tuple] = {}  # pk_uk_info json text → parsed (pk, uk)
    n = len(raw_values)
    none_col = [None] * n
    parts = meta.get("partition", none_col)
    offs = meta.get("offset", none_col)
    topics = meta.get("topic", none_col)
    ktss = meta.get("timestamp", none_col)
    kts_types = meta.get("timestampType", none_col)
    headers = meta.get("headers", none_col)
    for i, raw in enumerate(raw_values):
        # All parsing happens before any column append, so a 'skip' on a
        # poison pill can never leave the column lists misaligned.
        try:
            h = decode_header(raw)
            op_name = h.operation.name
            # Phase-1 filters: never touch payload bytes for dropped records.
            if ops is not None and op_name not in ops:
                continue
            # object-name rendering: schema defaulting + SQLServer brackets
            # (LazyRecordDeserializer.java:292-306,346-365)
            r_db, r_schema, r_tbl = render_object_names(
                h.source_type, h.db, h.schema, h.tbl
            )
            if tables is not None:
                # logical name overrides via tags (LazyRecordDeserializer.java:319-322)
                db = h.tags.get("l_db_name", r_db)
                tbl = h.tags.get("l_tb_name", r_tbl)
                if f"{db}.{tbl}" not in tables:
                    continue
            if images:
                fields, before, after = decode_payload(raw, h, fielddef_cache)
                names = [f.name for f in fields]
                # column pruning into the decoder (SURVEY.md §4): fields
                # outside the declared projection skip rendering entirely
                keep_set = set(names) if columns is None else columns
                before_map = (
                    {n: render_value(k, v) for n, (k, v) in zip(names, before) if n in keep_set}
                    if before
                    else None
                )
                after_map = (
                    {n: render_value(k, v) for n, (k, v) in zip(names, after) if n in keep_set}
                    if after
                    else None
                )
            else:
                # header-only consumer: the payload bytes are never parsed —
                # the lazy contract's fast path (~10× per SCALING.md)
                before_map = after_map = None
            pk_uk = h.tags.get("pk_uk_info")
            pk_cols, uk_info = None, None
            if pk_uk:
                cached = pk_cache.get(pk_uk)
                if cached is None:
                    info = json.loads(pk_uk)
                    cached = (
                        info.get("PRIMARY", []),
                        {k: v for k, v in info.items() if k != "PRIMARY"},
                    )
                    pk_cache[pk_uk] = cached
                pk_cols, uk_info = cached
        except Exception:
            if skip_errors:
                continue
            raise
        out["id"].append(h.id)
        out["transaction_id"].append(h.transaction_id)
        out["ts"].append(dt.datetime.fromtimestamp(h.ts, dt.timezone.utc).replace(tzinfo=None))
        out["born_ts"].append(
            dt.datetime.fromtimestamp(h.born_ts, dt.timezone.utc).replace(tzinfo=None)
        )
        out["operation"].append(op_name)
        out["source_type"].append(h.source_type.name)
        out["source_version"].append(h.source_version)
        out["db"].append(r_db)
        out["schema_name"].append(r_schema)
        out["tbl"].append(r_tbl)
        out["before"].append(before_map)
        out["after"].append(after_map)
        out["pk_cols"].append(pk_cols)
        out["uk_info"].append(uk_info)
        out["tags"].append(h.tags or None)
        out["source_position"].append(h.source_position)
        out["checkpoint"].append(h.checkpoint())
        out["trans_seq"].append(h.trans_seq)
        out["record_size"].append(len(raw))  # DtsRecord.size() (DtsRecord.java:62-65)
        out["kafka_partition"].append(_opt_int(parts[i]))
        out["kafka_offset"].append(_opt_int(offs[i]))
        topic = topics[i]
        out["kafka_topic"].append(None if topic is None or (isinstance(topic, float) and pd.isna(topic)) else str(topic))
        kts = ktss[i]
        if kts is None or pd.isna(kts):
            kts = None
        else:
            if isinstance(kts, pd.Timestamp):
                # plain datetime — the Python DataSource row path can't
                # convert pandas Timestamps for TimestampType columns
                kts = kts.to_pydatetime()
            if kts.tzinfo is not None:
                # naive UTC: pyarrow hands tz-aware datetimes for
                # adjusted-to-UTC parquet, Arrow batches hand naive ones
                kts = kts.astimezone(dt.timezone.utc).replace(tzinfo=None)
        out["kafka_timestamp"].append(kts)
        ktt = _opt_int(kts_types[i])
        out["kafka_timestamp_type"].append(
            None if ktt is None else KAFKA_TIMESTAMP_TYPES.get(ktt, str(ktt))
        )
        out["kafka_headers"].append(_headers_to_map(headers[i]))
    return out


def decode_cdc(
    raw_df: DataFrame,
    tables: Sequence[str] | None = None,
    ops: Sequence[str | OperationType] | None = None,
    columns: Sequence[str] | None = None,
    on_error: str = "fail",
    images: bool = True,
) -> DataFrame:
    """Decode a binary CDC stream/batch into the generic envelope.

    ``raw_df`` needs a ``value: binary`` column; ``partition``/``offset``/
    ``topic``/``timestamp``/``timestampType``/``headers`` columns are carried
    through as kafka metadata when present. ``tables`` filters on qualified
    names (``db.tbl``; for SQLServer sources the rendered
    ``[db].[schema].[tbl]`` form), ``ops`` on operation names — both applied
    header-only, before payload decode. ``columns`` prunes image rendering to
    the named fields (the declared-schema fast path). ``on_error``: 'fail'
    (default — a corrupt record kills the job loudly) or 'skip' (poison-pill
    tolerance: drop undecodable records, the production CDC posture when a
    topic may carry foreign garbage). ``images=False`` is the header-only
    fast path: payload bytes are never parsed, ``before``/``after`` come
    back null — use for provenance/metadata consumers (~10× cheaper).
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
    table_set = frozenset(tables) if tables is not None else None
    op_set = (
        frozenset(o.name if isinstance(o, OperationType) else str(o) for o in ops)
        if ops is not None
        else None
    )
    col_set = frozenset(columns) if columns is not None else None
    present = [c for c in _META_COLS if c in raw_df.columns]
    skip_errors = on_error == "skip"

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield decode_arrow(batch, table_set, op_set, col_set, skip_errors, images)

    return raw_df.select("value", *present).mapInArrow(fn, schema=ENVELOPE_SCHEMA)


def decode_cdc_prefiltered(
    raw_df: DataFrame,
    tables: Sequence[str] | None = None,
    ops: Sequence[str | OperationType] | None = None,
    **kwargs,
) -> DataFrame:
    """`decode_cdc` with a JVM header pre-filter in front: op/table
    filtering runs as pure column expressions (`formats/jvmheader.py`), so
    records dropped by the filters never cross the Arrow boundary into a
    Python worker at all — the 100 TB multi-tenant-topic ingest path, where
    one table's consumer shouldn't pay Python time for the other 99%.

    The Python layer re-applies the exact filters on the (few) survivors,
    so semantics — including logical `l_db_name`/`l_tb_name` renames the
    JVM pass only approximates — are identical to `decode_cdc`.
    """
    from flink_dts_connector_spark.formats.jvmheader import prefilter

    pre = prefilter(
        raw_df,
        tables=list(tables) if tables is not None else None,
        ops=list(ops) if ops is not None else None,
        drop_invalid=(kwargs.get("on_error") == "skip"),
    )
    return decode_cdc(pre, tables=tables, ops=ops, **kwargs)
