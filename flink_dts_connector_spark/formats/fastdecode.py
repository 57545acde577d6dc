"""Fused wire decode+render — the measured fast path behind
`decoder.decode_arrow`.

Same wire format, same outputs, bit-for-bit (pinned against the reference
implementation by `tests/test_cdc_pipeline.py::test_fastdecode_parity`);
this module exists purely to raise the per-core decode ceiling
(SCALING.md "wire-decode ceiling"). The profile of the reference decoder
is flat per-record Python — no single hotspot — so the win here is
architectural, not spot fixes:

  * header, payload and string rendering are ONE function with the zigzag
    varint and length-prefixed string reads inlined (the reference path
    spends ~35% of wall time on `read_long`/`read_str` call+tuple
    overhead alone);
  * decode and render are fused: a value goes wire-bytes → final rendered
    string directly, with no intermediate `(ValueKind, payload)` tuples,
    no Enum lookups, and no `render_value` dispatch on the hot kinds
    (NULL/INTEGER/CHARACTER/DECIMAL/FLOAT/TIMESTAMP/DATETIME); rare kinds
    (geometry/objects/BIT) delegate to the reference codec for exact
    parity;
  * the tags section is cached by byte equality exactly like the
    field-def section — CDC streams repeat one tag layout per table, so
    after the first record the tag map, pk/uk parse and their JSON cost
    are one slice compare;
  * values pruned by a declared column projection are SKIPPED
    byte-structurally (lengths only — no UTF-8 decode, no int parse, no
    render), where the reference path still fully decoded them;
  * epoch→datetime conversions are memoized (commit timestamps repeat
    heavily within a transaction).

Decode stays stateless per batch and Arrow-batched via `mapInArrow` over
`decoder.decode_arrow`, which the `dts` data source also yields — this
changes per-core throughput only, not the scale-out story.
"""

from __future__ import annotations

import datetime as dt
import json
import struct
from typing import Sequence

from flink_dts_connector_spark.datamodel.envelope import resolve_charset
from flink_dts_connector_spark.formats.wire import (
    _OP_TYPES,
    _SRC_TYPES,
    MAGIC,
    VERSION,
    decode_value,
    render_object_names,
    render_value,
)

_UTC = dt.timezone.utc
_UNPACK_D = struct.Struct(">d").unpack_from

# ValueKind wire codes, fixed by the format (envelope.ValueKind)
_K_NULL, _K_INTEGER, _K_CHARACTER, _K_DECIMAL, _K_FLOAT = 0, 1, 2, 3, 4
_K_TIMESTAMP, _K_DATETIME, _K_TIMESTAMP_TZ, _K_EMPTY = 5, 6, 7, 12
_K_TEXT_GEOMETRY, _K_BINARY_OBJECT, _K_TEXT_OBJECT, _K_BIT = 9, 10, 11, 13

#: record-derived envelope columns produced here, in ENVELOPE_SCHEMA order
#: (kafka metadata columns are appended by the caller from `kept` indices)
CORE_COLS = (
    "id", "transaction_id", "ts", "born_ts", "operation", "source_type",
    "source_version", "db", "schema_name", "tbl", "before", "after",
    "pk_cols", "uk_info", "tags", "source_position", "checkpoint",
    "trans_seq", "record_size",
)


def _canonical_int_text(s: str) -> bool:
    """True iff ``s`` is already `str(int(s))` — the encoder always writes
    canonical digit text, so this avoids an int round-trip per value."""
    if not s:
        return False  # → int('') raises, the reference's loud-fail path
    if s == "0":
        return True
    if s[0] == "-":
        return len(s) > 1 and s[1] != "0" and s[1:].isdigit()
    return s[0] != "0" and s.isdigit()


def decode_batch_core(
    raw_values: Sequence[bytes],
    tables: frozenset[str] | None,
    ops: frozenset[str] | None,
    columns: frozenset[str] | None = None,
    skip_errors: bool = False,
    images: bool = True,
) -> tuple[dict[str, list], list[int]]:
    """Decode a batch of wire records into envelope column lists.

    Returns ``(columns_dict, kept)`` where ``kept[j]`` is the input index
    of output row j (for aligning per-record kafka metadata). Filters and
    laziness semantics are identical to the reference path: op/table
    filters run header-only; ``images=False`` never touches payload bytes.
    """
    out: dict[str, list] = {c: [] for c in CORE_COLS}
    kept: list[int] = []
    appends = [out[c].append for c in CORE_COLS]
    (ap_id, ap_txid, ap_ts, ap_born, ap_op, ap_st, ap_sv, ap_db, ap_schema,
     ap_tbl, ap_before, ap_after, ap_pk, ap_uk, ap_tags, ap_srcpos, ap_ckpt,
     ap_seq, ap_size) = appends
    kept_append = kept.append

    tag_cache: list = []  # (bytes, len, tags, pk_cols, uk_info)
    field_cache: list = []  # (bytes, len, names)
    codec_cache: dict[str, str | None] = {}
    ts_cache: dict[int, dt.datetime] = {}
    op_names = [o.name for o in _OP_TYPES]
    n_ops = len(op_names)

    def epoch_dt(sec: int) -> dt.datetime:
        v = ts_cache.get(sec)
        if v is None:
            v = dt.datetime.fromtimestamp(sec, _UTC).replace(tzinfo=None)
            if len(ts_cache) < 1 << 16:
                ts_cache[sec] = v
        return v

    for i, data in enumerate(raw_values):
        try:
            if data[0] != MAGIC or data[1] not in (1, VERSION):
                raise ValueError(f"bad magic/version: {data[:2].hex()}")
            version = data[1]
            pos = 2

            # --- inlined header: zigzag varints + len-prefixed strings ---
            acc = 0
            shift = 0
            while True:
                b = data[pos]; pos += 1
                acc |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            rid = (acc >> 1) ^ -(acc & 1)

            acc = 0; shift = 0
            while True:
                b = data[pos]; pos += 1
                acc |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            n = (acc >> 1) ^ -(acc & 1)
            if n < 0:
                txid = None
            else:
                txid = data[pos:pos + n].decode("utf-8"); pos += n

            acc = 0; shift = 0
            while True:
                b = data[pos]; pos += 1
                acc |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            ts = (acc >> 1) ^ -(acc & 1)

            if data[pos]:
                pos += 1
                acc = 0; shift = 0
                while True:
                    b = data[pos]; pos += 1
                    acc |= (b & 0x7F) << shift
                    if b < 0x80:
                        break
                    shift += 7
                born = (acc >> 1) ^ -(acc & 1)
            else:
                pos += 1
                born = ts  # born falls back to commit ts

            acc = 0; shift = 0
            while True:
                b = data[pos]; pos += 1
                acc |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            opc = (acc >> 1) ^ -(acc & 1)

            # phase-1 op filter: drop before parsing anything further
            op_name = op_names[opc] if 0 <= opc < n_ops else _OP_TYPES[0].__class__(opc).name
            if ops is not None and op_name not in ops:
                continue

            acc = 0; shift = 0
            while True:
                b = data[pos]; pos += 1
                acc |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            stc = (acc >> 1) ^ -(acc & 1)

            strs = []
            n_strs = 3 if version < 2 else 6  # sv db tbl [schema srcpos safepos]
            for _ in range(n_strs):
                acc = 0; shift = 0
                while True:
                    b = data[pos]; pos += 1
                    acc |= (b & 0x7F) << shift
                    if b < 0x80:
                        break
                    shift += 7
                n = (acc >> 1) ^ -(acc & 1)
                if n < 0:
                    strs.append(None)
                else:
                    strs.append(data[pos:pos + n].decode("utf-8")); pos += n
            if version >= 2:
                sv, db, tbl, schema, src_pos, _safe_pos = strs
                acc = 0; shift = 0
                while True:
                    b = data[pos]; pos += 1
                    acc |= (b & 0x7F) << shift
                    if b < 0x80:
                        break
                    shift += 7
                trans_seq = (acc >> 1) ^ -(acc & 1)
            else:
                sv, db, tbl = strs
                schema = src_pos = None
                trans_seq = 0

            # --- tags section: byte-equality cache (one layout per table) ---
            tags = pk_cols = uk_info = None
            for cb, cl, c_tags, c_pk, c_uk in tag_cache:
                if data[pos:pos + cl] == cb:
                    tags, pk_cols, uk_info = c_tags, c_pk, c_uk
                    pos += cl
                    break
            else:
                tag_start = pos
                acc = 0; shift = 0
                while True:
                    b = data[pos]; pos += 1
                    acc |= (b & 0x7F) << shift
                    if b < 0x80:
                        break
                    shift += 7
                ntags = (acc >> 1) ^ -(acc & 1)
                tags = {}
                for _ in range(ntags):
                    acc = 0; shift = 0
                    while True:
                        b = data[pos]; pos += 1
                        acc |= (b & 0x7F) << shift
                        if b < 0x80:
                            break
                        shift += 7
                    n = (acc >> 1) ^ -(acc & 1)
                    k = data[pos:pos + n].decode("utf-8") if n >= 0 else None
                    if n > 0:
                        pos += n
                    acc = 0; shift = 0
                    while True:
                        b = data[pos]; pos += 1
                        acc |= (b & 0x7F) << shift
                        if b < 0x80:
                            break
                        shift += 7
                    n = (acc >> 1) ^ -(acc & 1)
                    v = data[pos:pos + n].decode("utf-8") if n >= 0 else None
                    if n > 0:
                        pos += n
                    tags[k] = v
                pk_uk = tags.get("pk_uk_info")
                if pk_uk:
                    info = json.loads(pk_uk)
                    pk_cols = info.get("PRIMARY", [])
                    uk_info = {k: v for k, v in info.items() if k != "PRIMARY"}
                if len(tag_cache) < 64:
                    tag_cache.append(
                        (bytes(data[tag_start:pos]), pos - tag_start, tags, pk_cols, uk_info)
                    )

            acc = 0; shift = 0
            while True:
                b = data[pos]; pos += 1
                acc |= (b & 0x7F) << shift
                if b < 0x80:
                    break
                shift += 7
            plen = (acc >> 1) ^ -(acc & 1)
            if pos + plen != len(data):
                raise ValueError(
                    f"truncated/oversized record: declared payload {plen}B at {pos}, "
                    f"buffer {len(data)}B"
                )

            st = _SRC_TYPES[stc] if 0 <= stc < len(_SRC_TYPES) else _SRC_TYPES[0].__class__(stc)
            r_db, r_schema, r_tbl = render_object_names(st, db, schema, tbl)
            if tables is not None:
                eff_db = tags.get("l_db_name", r_db)
                eff_tbl = tags.get("l_tb_name", r_tbl)
                if f"{eff_db}.{eff_tbl}" not in tables:
                    continue

            before_map = after_map = None
            if images:
                # --- field defs: byte-equality cache ---
                names = None
                for cb, cl, c_names in field_cache:
                    if data[pos:pos + cl] == cb:
                        names = c_names
                        pos += cl
                        break
                else:
                    def_start = pos
                    acc = 0; shift = 0
                    while True:
                        b = data[pos]; pos += 1
                        acc |= (b & 0x7F) << shift
                        if b < 0x80:
                            break
                        shift += 7
                    nfields = (acc >> 1) ^ -(acc & 1)
                    names = []
                    for _ in range(nfields):
                        # name
                        acc = 0; shift = 0
                        while True:
                            b = data[pos]; pos += 1
                            acc |= (b & 0x7F) << shift
                            if b < 0x80:
                                break
                            shift += 7
                        n = (acc >> 1) ^ -(acc & 1)
                        names.append(data[pos:pos + n].decode("utf-8") if n >= 0 else None)
                        if n > 0:
                            pos += n
                        # type_name
                        acc = 0; shift = 0
                        while True:
                            b = data[pos]; pos += 1
                            acc |= (b & 0x7F) << shift
                            if b < 0x80:
                                break
                            shift += 7
                        n = (acc >> 1) ^ -(acc & 1)
                        if n > 0:
                            pos += n
                        # type_id
                        acc = 0; shift = 0
                        while True:
                            b = data[pos]; pos += 1
                            acc |= (b & 0x7F) << shift
                            if b < 0x80:
                                break
                            shift += 7
                        pos += 1  # nullable u8
                        # encoding
                        acc = 0; shift = 0
                        while True:
                            b = data[pos]; pos += 1
                            acc |= (b & 0x7F) << shift
                            if b < 0x80:
                                break
                            shift += 7
                        n = (acc >> 1) ^ -(acc & 1)
                        if n > 0:
                            pos += n
                    if len(field_cache) < 64:
                        field_cache.append(
                            (bytes(data[def_start:pos]), pos - def_start, names)
                        )

                # --- images: fused decode+render, two passes (before, after) ---
                imgs: list[dict | None] = [None, None]
                for img_i in (0, 1):
                    present = data[pos]; pos += 1
                    if not present:
                        continue
                    m: dict[str, str | None] = {}
                    for fname in names:
                        want = columns is None or fname in columns
                        acc = 0; shift = 0
                        while True:
                            b = data[pos]; pos += 1
                            acc |= (b & 0x7F) << shift
                            if b < 0x80:
                                break
                            shift += 7
                        k = (acc >> 1) ^ -(acc & 1)
                        if k == _K_NULL or k == _K_EMPTY:
                            if want:
                                m[fname] = None
                            continue
                        if k == _K_CHARACTER:
                            # charset str + raw bytes
                            acc = 0; shift = 0
                            while True:
                                b = data[pos]; pos += 1
                                acc |= (b & 0x7F) << shift
                                if b < 0x80:
                                    break
                                shift += 7
                            n = (acc >> 1) ^ -(acc & 1)
                            charset = data[pos:pos + n].decode("utf-8") if n >= 0 else None
                            if n > 0:
                                pos += n
                            acc = 0; shift = 0
                            while True:
                                b = data[pos]; pos += 1
                                acc |= (b & 0x7F) << shift
                                if b < 0x80:
                                    break
                                shift += 7
                            n = (acc >> 1) ^ -(acc & 1)
                            if not want:
                                if n > 0:
                                    pos += n
                                continue
                            if n < 0:
                                m[fname] = None
                                continue
                            raw = data[pos:pos + n]; pos += n
                            if not charset:
                                m[fname] = raw.hex()
                                continue
                            if charset in codec_cache:
                                codec = codec_cache[charset]
                            else:
                                codec = resolve_charset(charset)
                                codec_cache[charset] = codec
                            m[fname] = (
                                raw.decode(codec, errors="replace")
                                if codec is not None
                                else f"{charset}_'{raw.hex()}'"
                            )
                            continue
                        if k == _K_INTEGER or k == _K_DECIMAL:
                            acc = 0; shift = 0
                            while True:
                                b = data[pos]; pos += 1
                                acc |= (b & 0x7F) << shift
                                if b < 0x80:
                                    break
                                shift += 7
                            n = (acc >> 1) ^ -(acc & 1)
                            if not want:
                                if n > 0:
                                    pos += n
                                continue
                            if n < 0:
                                m[fname] = None
                                continue
                            s = data[pos:pos + n].decode("utf-8"); pos += n
                            if k == _K_INTEGER and not _canonical_int_text(s):
                                s = str(int(s))
                            m[fname] = s
                            continue
                        if k == _K_FLOAT:
                            if want:
                                m[fname] = repr(_UNPACK_D(data, pos)[0])
                            pos += 8
                            continue
                        if k == _K_TIMESTAMP:
                            acc = 0; shift = 0
                            while True:
                                b = data[pos]; pos += 1
                                acc |= (b & 0x7F) << shift
                                if b < 0x80:
                                    break
                                shift += 7
                            sec = (acc >> 1) ^ -(acc & 1)
                            acc = 0; shift = 0
                            while True:
                                b = data[pos]; pos += 1
                                acc |= (b & 0x7F) << shift
                                if b < 0x80:
                                    break
                                shift += 7
                            micros = (acc >> 1) ^ -(acc & 1)
                            if want:
                                base = epoch_dt(sec)
                                if micros:
                                    base = base + dt.timedelta(microseconds=micros)
                                m[fname] = base.isoformat(sep=" ")
                            continue
                        if k == _K_DATETIME or k == _K_TIMESTAMP_TZ:
                            acc = 0; shift = 0
                            while True:
                                b = data[pos]; pos += 1
                                acc |= (b & 0x7F) << shift
                                if b < 0x80:
                                    break
                                shift += 7
                            bitmap = (acc >> 1) ^ -(acc & 1)
                            segs = [None] * 8  # y mo d h mi s ns tz
                            si = 0
                            for bit, cnt in ((1, 1), (2, 1), (4, 1), (8, 3), (16, 1)):
                                if bitmap & bit:
                                    for j in range(cnt):
                                        acc = 0; shift = 0
                                        while True:
                                            b = data[pos]; pos += 1
                                            acc |= (b & 0x7F) << shift
                                            if b < 0x80:
                                                break
                                            shift += 7
                                        segs[si + j] = (acc >> 1) ^ -(acc & 1)
                                si += cnt
                            if bitmap & 32:
                                acc = 0; shift = 0
                                while True:
                                    b = data[pos]; pos += 1
                                    acc |= (b & 0x7F) << shift
                                    if b < 0x80:
                                        break
                                    shift += 7
                                n = (acc >> 1) ^ -(acc & 1)
                                if n >= 0:
                                    segs[7] = data[pos:pos + n].decode("utf-8"); pos += n
                            if not want:
                                continue
                            y, mo, d, h, mi, s_, ns, tz = segs
                            if y == 0 or mo == 0 or d == 0:
                                m[fname] = None  # zero-date → null
                                continue
                            parts = []
                            if y is not None:
                                date = f"{y:04d}"
                                if mo is not None:
                                    date += f"-{mo:02d}"
                                    if d is not None:
                                        date += f"-{d:02d}"
                                parts.append(date)
                            if bitmap & 8:
                                frac = f".{ns // 1000:06d}" if bitmap & 16 else ""
                                parts.append(f"{h:02d}:{mi:02d}:{s_:02d}{frac}")
                            r = " ".join(parts)
                            if bitmap & 32 and tz is not None:
                                r += f" {tz}"
                            m[fname] = r
                            continue
                        if k == _K_TEXT_OBJECT or k == _K_TEXT_GEOMETRY:
                            if k == _K_TEXT_OBJECT:
                                # object-type varint: render ignores it
                                acc = 0; shift = 0
                                while True:
                                    b = data[pos]; pos += 1
                                    acc |= (b & 0x7F) << shift
                                    if b < 0x80:
                                        break
                                    shift += 7
                            acc = 0; shift = 0
                            while True:
                                b = data[pos]; pos += 1
                                acc |= (b & 0x7F) << shift
                                if b < 0x80:
                                    break
                                shift += 7
                            n = (acc >> 1) ^ -(acc & 1)
                            if want:
                                m[fname] = data[pos:pos + n].decode("utf-8") if n >= 0 else None
                            if n > 0:
                                pos += n
                            continue
                        if k == _K_BINARY_OBJECT or k == _K_BIT:
                            if k == _K_BINARY_OBJECT:
                                acc = 0; shift = 0
                                while True:
                                    b = data[pos]; pos += 1
                                    acc |= (b & 0x7F) << shift
                                    if b < 0x80:
                                        break
                                    shift += 7
                            acc = 0; shift = 0
                            while True:
                                b = data[pos]; pos += 1
                                acc |= (b & 0x7F) << shift
                                if b < 0x80:
                                    break
                                shift += 7
                            n = (acc >> 1) ^ -(acc & 1)
                            if want:
                                if n < 0:
                                    m[fname] = None
                                elif k == _K_BIT:
                                    m[fname] = data[pos:pos + n].decode("utf-8", errors="replace")
                                else:
                                    m[fname] = data[pos:pos + n].hex()
                            if n > 0:
                                pos += n
                            continue
                        # BINARY_GEOMETRY / unknown kinds: reference codec
                        (vk, payload), pos = decode_value(data, pos - _vlen(acc))
                        if want:
                            m[fname] = render_value(vk, payload)
                    imgs[img_i] = m
                before_map, after_map = imgs
        except Exception:
            if skip_errors:
                continue
            raise

        kept_append(i)
        ap_id(rid)
        ap_txid(txid)
        ap_ts(epoch_dt(ts))
        ap_born(epoch_dt(born))
        ap_op(op_name)
        ap_st(st.name)
        ap_sv(sv)
        ap_db(r_db)
        ap_schema(r_schema)
        ap_tbl(r_tbl)
        ap_before(before_map)
        ap_after(after_map)
        ap_pk(pk_cols)
        ap_uk(uk_info)
        ap_tags(tags or None)
        ap_srcpos(src_pos)
        src = src_pos if src_pos is not None else "null"
        ap_ckpt(f"0@{rid & 0x7FFFFFFF}@{src}@{ts * 1000}")
        ap_seq(trans_seq)
        ap_size(len(data))
    return out, kept


def _vlen(zigzagged: int) -> int:
    """Byte length of the varint whose DEcoded accumulator is ``zigzagged``
    (used to rewind to the kind byte before delegating rare kinds)."""
    n = 1
    z = zigzagged >> 7
    while z:
        n += 1
        z >>= 7
    return n
