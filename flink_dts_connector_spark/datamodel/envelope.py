"""CDC record envelope: the decoded form of one DTS change event.

Mirrors the reference's `DtsRecord` accessor surface
(`src/main/java/com/alibaba/flink/connectors/dts/formats/internal/record/DtsRecord.java:9-91`)
as a fixed Spark StructType (SURVEY.md §1.1). The generic layer keeps row
images as MAP<STRING,STRING> (schemas are per-record and self-describing in
the wire format); the typed layer (`formats/typed.py`) projects images into a
declared StructType, which is what the reference's `dts-cdc` format does with
the user's CREATE TABLE column list (`table/DtsDynamicTableFactory.java:76-77`).
"""

from __future__ import annotations

import enum

from pyspark.sql import types as T


class OperationType(enum.IntEnum):
    """Change-event operation kinds — 20 values, codes 0–16 wired to the
    decoder, parity with `record/OperationType.java:4-27` and
    `impl/LazyRecordDeserializer.java:25-79`."""

    INSERT = 0
    UPDATE = 1
    DELETE = 2
    DDL = 3
    BEGIN = 4
    COMMIT = 5
    ROLLBACK = 6
    ABORT = 7
    HEARTBEAT = 8
    CHECKPOINT = 9
    COMMAND = 10
    FILL = 11
    FINISH = 12
    CONTROL = 13
    RDB = 14
    NOOP = 15
    INIT = 16
    # Not wire-encoded by the reference decoder:
    EOF = 17
    MANUAL_GENERATED = 18
    UNKNOWN = 19


#: Ops the SQL `dts-cdc` format keeps
#: (`DTSSubscribeRowDataDeserializationSchema.java:68-70`).
DATA_OPERATIONS = (OperationType.INSERT, OperationType.UPDATE, OperationType.DELETE)


class SourceType(enum.IntEnum):
    """Source database kinds (`record/impl/SourceType.java:4-27`)."""

    MySQL = 0
    Oracle = 1
    SQLServer = 2
    PostgreSQL = 3
    MongoDB = 4
    Redis = 5
    DB2 = 6
    PPAS = 7
    DRDS = 8
    HBASE = 9
    HDFS = 10
    FILE = 11
    TIDB = 12
    OTHER = 13


class ValueKind(enum.IntEnum):
    """The 13-branch value union of the wire format
    (`impl/LazyRecordDeserializer.java:152-260`, SURVEY.md §1.3)."""

    NULL = 0
    INTEGER = 1  # arbitrary-precision integer (BigInteger in the reference)
    CHARACTER = 2  # bytes + source charset name
    DECIMAL = 3  # decimal text (may be NaN/Infinity/'~' special forms)
    FLOAT = 4  # IEEE double
    TIMESTAMP = 5  # epoch seconds + micro fraction
    DATETIME = 6  # segment-bitmap civil datetime (partial dates allowed)
    TIMESTAMP_TZ = 7  # DATETIME + tz offset string
    BINARY_GEOMETRY = 8  # WKB bytes
    TEXT_GEOMETRY = 9  # WKT string
    BINARY_OBJECT = 10  # (object_type, bytes)
    TEXT_OBJECT = 11  # (object_type, string) — JSON/XML/ENUM/SET/…
    EMPTY = 12
    BIT = 13  # bit-string bytes, rendered as UTF-8 (`value/BitValue.java:7-47`)


class ObjectType(enum.IntEnum):
    """LOB object subtypes for BINARY_OBJECT/TEXT_OBJECT
    (`record/value/ObjectType.java:4-37`)."""

    BINARY = 0
    BOOL = 1
    BLOB = 2
    XML = 3
    JSON = 4
    TEXT = 5
    BFILE = 6
    RAW = 7
    LONG_RAW = 8
    ROWID = 9
    UROWID = 10
    ENUM = 11
    SET = 12
    BYTEA = 13
    GEOMETRY = 14
    XTYPE = 15


#: MySQL → Python codec map, mirroring `common/JDKCharsetMapper.java:9-57`
#: (JDK charset names transposed to their Python codec equivalents). Note
#: the reference maps 'binary' to ISO-8859-1 (a decoded string, not hex) and
#: koi8u to KOI8-R; eucjpms (EUC-JP + MS extensions) has no exact Python
#: codec — euc_jp is the nearest, a pinned divergence.
MYSQL_CHARSET_MAP = {
    "armscii8": "cp1252",
    "ascii": "ascii",
    "big5": "big5",
    "binary": "latin-1",
    "cp1250": "cp1250",
    "cp1251": "cp1251",
    "cp1256": "cp1256",
    "cp1257": "cp1257",
    "cp850": "cp850",
    "cp852": "cp852",
    "cp866": "cp866",
    "cp932": "cp932",
    "dec8": "cp1252",
    "eucjpms": "euc_jp",
    "euckr": "euc_kr",
    "gb2312": "gb2312",
    "gbk": "gbk",
    "geostd8": "cp1252",
    "greek": "iso8859_7",
    "hebrew": "iso8859_8",
    "hp8": "cp1252",
    "keybcs2": "cp852",
    "koi8r": "koi8_r",
    "koi8u": "koi8_r",
    "latin1": "cp1252",
    "latin2": "iso8859_2",
    "latin5": "iso8859_9",
    "latin7": "iso8859_13",
    "macce": "mac_latin2",
    "macroman": "mac_roman",
    "sjis": "shift_jis",
    "swe7": "cp1252",
    "tis620": "tis_620",
    "ujis": "euc_jp",
    "utf16": "utf_16",
    "utf16le": "utf_16_le",
    "utf32": "utf_32",
    "utf8": "utf-8",
    "utf8mb4": "utf-8",
    "ucs2": "utf_16_be",
}

#: Deterministic pins for BOM-less multi-byte charsets: Java defaults UTF-16
#: (and UnicodeBig for ucs2) to big-endian when no BOM is present; Python's
#: utf-16 codec defaults little-endian. Resolved FIRST so both engines and
#: all Spark partitions render identically.
_CHARSET_PINS = {"utf16": "utf-16-be", "ucs2": "utf-16-be", "utf32": "utf-32-be"}

_CODEC_CACHE: dict[str, str | None] = {}


def resolve_charset(charset: str) -> str | None:
    """Reference charset resolution (`value/StringValue.java:50-73`): try the
    raw name in the codec registry first (Java `Charset.forName(name)` — this
    is why `latin1` decodes as ISO-8859-1, not the mapper's Cp1252), then the
    MySQL→JDK alias map; ``None`` means unresolvable → the caller renders
    ``charset_'hex'``."""
    import codecs

    key = charset.lower()
    if key in _CODEC_CACHE:
        return _CODEC_CACHE[key]
    resolved: str | None = _CHARSET_PINS.get(key)
    if resolved is None:
        try:
            codecs.lookup(charset)
            resolved = charset
        except LookupError:
            mapped = MYSQL_CHARSET_MAP.get(key)
            if mapped is not None:
                try:
                    codecs.lookup(mapped)
                    resolved = mapped
                except LookupError:  # pragma: no cover
                    resolved = None
    _CODEC_CACHE[key] = resolved
    return resolved


ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("transaction_id", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),  # commit time (epoch sec)
        T.StructField("born_ts", T.TimestampType(), True),  # defaults to ts
        T.StructField("operation", T.StringType(), False),
        T.StructField("source_type", T.StringType(), True),
        T.StructField("source_version", T.StringType(), True),
        T.StructField("db", T.StringType(), True),
        T.StructField("schema_name", T.StringType(), True),  # name-triple middle
        T.StructField("tbl", T.StringType(), True),
        T.StructField("before", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("after", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("pk_cols", T.ArrayType(T.StringType()), True),
        T.StructField("uk_info", T.MapType(T.StringType(), T.ArrayType(T.StringType())), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        # record-level provenance (DtsRecord.java:27-29,62-65,84-90)
        T.StructField("source_position", T.StringType(), True),
        T.StructField("checkpoint", T.StringType(), True),  # "0@idLow31@pos@tsMillis"
        T.StructField("trans_seq", T.LongType(), True),  # seq within transaction
        T.StructField("record_size", T.LongType(), True),  # wire bytes (size())
        # Kafka readable metadata (table/DtsDynamicSource.java:268-345)
        T.StructField("kafka_partition", T.IntegerType(), True),
        T.StructField("kafka_offset", T.LongType(), True),
        T.StructField("kafka_topic", T.StringType(), True),
        T.StructField("kafka_timestamp", T.TimestampType(), True),
        T.StructField("kafka_timestamp_type", T.StringType(), True),
        T.StructField("kafka_headers", T.MapType(T.StringType(), T.BinaryType()), True),
    ]
)

#: Kafka record timestampType id → name (`timestamp-type` metadata column):
#: org.apache.kafka.common.record.TimestampType, whose ids Spark's Kafka
#: source emits in `timestampType`.
KAFKA_TIMESTAMP_TYPES = {-1: "NoTimestampType", 0: "CreateTime", 1: "LogAppendTime"}

#: Raw pre-decode batch: what the Kafka (or file) source hands the decoder.
RAW_SCHEMA = T.StructType(
    [
        T.StructField("value", T.BinaryType(), False),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
    ]
)


def full_table_name(db: str | None, schema: str | None, tbl: str | None) -> str:
    """Dotted qualified name with `.` escaping in segments — parity with
    `utils/ObjectNameUtils.java:64-112` (reference escapes embedded dots so
    the joined name is unambiguous)."""
    parts = [p for p in (db, schema, tbl) if p is not None]
    return ".".join(p.replace(".", "\\.") for p in parts)


def split_table_name(name: str) -> list[str]:
    """Inverse of :func:`full_table_name`."""
    out, cur, i = [], [], 0
    while i < len(name):
        ch = name[i]
        if ch == "\\" and i + 1 < len(name) and name[i + 1] == ".":
            cur.append(".")
            i += 2
            continue
        if ch == ".":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    out.append("".join(cur))
    return out
