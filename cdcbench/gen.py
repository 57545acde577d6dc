"""Seeded CDC workload generator for the consumer benchmark.

A workload is generated in two steps:

1. ``*_plan(seed, n)`` walks the change sequence on the driver (pure
   Python, no encoding): which key each record touches, its operation, its
   before/after row images, partition and Kafka timestamp. Walking the
   sequence also yields what a correct consumer must produce — the current
   state per key after deletes, the selected-row count and the typed
   changelog size — so every run can be checked against the generator and
   never against the program under test.
2. :func:`encode_plan` turns plan rows into wire records with the public
   codec (`formats.wire.CdcRecord` / `FieldDef` / `encode_record`). It is a
   ``mapInPandas`` body, so set-up encodes on every core.

The same seed always gives the same plan and the same bytes.
"""

from __future__ import annotations

import json
import random
from collections.abc import Iterator
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pandas as pd

from flink_dts_connector_spark.datamodel.envelope import ObjectType, OperationType, ValueKind
from flink_dts_connector_spark.formats.wire import CdcRecord, FieldDef, encode_record

TOPIC = "bench-cdc"
PARTITIONS = 4
TARGET_DB, TARGET_TBL = "shop", "orders"
TARGET = f"{TARGET_DB}.{TARGET_TBL}"
#: the subscribed table's declared columns, in typed-row order
COLUMNS = ("id", "customer", "status", "amount", "note")
FIELDS = [
    FieldDef("id", "BIGINT", 8, False),
    FieldDef("customer", "BIGINT", 8),
    FieldDef("status", "VARCHAR", 253),
    FieldDef("amount", "DECIMAL", 246),
    FieldDef("note", "VARCHAR", 253),
]
STATUSES = ("NEW", "PAID", "PACKED", "SHIPPED", "DONE", "HOLD")
#: multitenant: tables sharing the topic with the subscribed one
N_OTHER_TABLES = 20
OTHER_FIELDS = [FieldDef("id", "BIGINT", 8, False), FieldDef("tenant", "BIGINT", 8)] + [
    FieldDef(f"{kind}{i}", tname, tid)
    for i in range(4)
    for kind, tname, tid in (("s", "VARCHAR", 253), ("d", "DECIMAL", 246))
]
BASE_MS = 1_700_000_000_000

# plan op codes (OperationType wire values)
OP_I, OP_U, OP_D = int(OperationType.INSERT), int(OperationType.UPDATE), int(OperationType.DELETE)
OP_DDL, OP_HB = int(OperationType.DDL), int(OperationType.HEARTBEAT)
#: plan ``tbl`` codes: the subscribed table, or 1..N_OTHER_TABLES, or none
TBL_TARGET, TBL_NONE = 0, -1

PLAN_COLS = (
    "rid", "ts_ms", "partition", "op", "tbl", "key",
    "b_customer", "b_status", "b_amount", "b_note",
    "a_customer", "a_status", "a_amount", "a_note",
)


@dataclass
class Plan:
    """A generated change sequence plus the outputs a correct consumer
    produces from it. ``rows`` holds one tuple per record in `PLAN_COLS`
    order, in log (timestamp) order."""

    rows: list[tuple]
    #: live key -> typed row (id, customer, status, amount, note)
    state: dict[int, tuple] = field(default_factory=dict)
    #: typed changelog rows the whole log projects to (I=1, UPDATE=2, D=1)
    changelog_rows: int = 0
    #: records the workload's consumer filter selects
    selected: int = 0

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(self.rows, columns=list(PLAN_COLS))


def _image(rng: random.Random, key: int) -> tuple:
    cents = rng.randrange(100, 10_000_000)
    return (
        rng.randrange(1, 50_000),
        rng.choice(STATUSES),
        f"{cents // 100}.{cents % 100:02d}",
        rng.randbytes(rng.randrange(4, 24)).hex(),
    )


def typed_row(key: int, img: tuple) -> tuple:
    """The typed row a plan image projects to (amount as DECIMAL(12,2))."""
    customer, status, amount, note = img
    return (key, customer, status, Decimal(amount), note)


class _TableWalk:
    """Key choice and state for the subscribed table: INSERT creates a key,
    UPDATE picks a live key Zipf-skewed toward recent inserts, DELETE picks a
    live key uniformly."""

    def __init__(self, rng: random.Random, zipf: Iterator[int]):
        self.rng, self.zipf = rng, zipf
        self.live: list[int] = []
        self.where: dict[int, int] = {}
        self.img: dict[int, tuple] = {}
        self.next_key = 1

    def step(self, op: int) -> tuple[int, tuple | None, tuple | None]:
        """-> (key, before image, after image)"""
        if op == OP_I or not self.live:
            key = self.next_key
            self.next_key += 1
            after = _image(self.rng, key)
            self.where[key] = len(self.live)
            self.live.append(key)
            self.img[key] = after
            return key, None, after
        if op == OP_U:
            key = self.live[len(self.live) - 1 - (next(self.zipf) - 1) % len(self.live)]
            before, after = self.img[key], _image(self.rng, key)
            self.img[key] = after
            return key, before, after
        key = self.live[self.rng.randrange(len(self.live))]
        last = self.live.pop()
        if last != key:  # swap-remove
            self.live[self.where[key]] = last
            self.where[last] = self.where[key]
        del self.where[key]
        return key, self.img.pop(key), None

    def state(self) -> dict[int, tuple]:
        return {k: typed_row(k, v) for k, v in self.img.items()}


def _row(rid, ts_ms, part, op, tbl, key, before, after) -> tuple:
    b = before or (None, None, None, None)
    a = after or (None, None, None, None)
    return (rid, ts_ms, part, op, tbl, key, *b, *a)


def _zipf(seed: int, n: int) -> Iterator[int]:
    return iter(np.random.default_rng(seed).zipf(1.3, size=max(1, n)).tolist())


def _clock(rng: random.Random) -> Iterator[int]:
    """Strictly increasing Kafka timestamps, ~500 records per second of
    event time, so a re-seek by second rewinds a few hundred records."""
    ts = BASE_MS
    while True:
        ts += rng.randint(1, 3)
        yield ts


def changelog_size(op: int) -> int:
    """Typed changelog rows one record projects to (UPDATE -> UB + UA)."""
    return 2 if op == OP_U else 1 if op in (OP_I, OP_D) else 0


def backfill_plan(seed: int, n: int) -> Plan:
    """Single-table log: ~58% INSERT, ~31% UPDATE (Zipf keys), ~5% DELETE,
    3% HEARTBEAT and 2% DDL noise. Data records of a key share a partition
    (key % partitions), like a keyed Kafka producer."""
    rng = random.Random(seed)
    walk = _TableWalk(rng, _zipf(seed, n))
    clock = _clock(rng)
    rows = []
    changelog = 0
    for rid in range(1, n + 1):
        ts = next(clock)
        u = rng.random()
        if u < 0.03:
            rows.append(_row(rid, ts, rid % PARTITIONS, OP_HB, TBL_NONE, None, None, None))
            continue
        if u < 0.05:
            rows.append(_row(rid, ts, rid % PARTITIONS, OP_DDL, TBL_TARGET, None, None, None))
            continue
        v = rng.random()
        op = OP_I if v < 0.61 else OP_U if v < 0.95 else OP_D
        key, before, after = walk.step(op)
        op = OP_I if before is None else OP_U if after is not None else OP_D
        changelog += changelog_size(op)
        rows.append(_row(rid, ts, key % PARTITIONS, op, TBL_TARGET, key, before, after))
    return Plan(rows, walk.state(), changelog, selected=n)


def multitenant_plan(seed: int, n: int) -> Plan:
    """Mixed topic: the subscribed table is ~2% of records (I/U/D like
    `backfill_plan`); ~96% are I/U/D on 20 other tables with wider rows;
    the rest is HEARTBEAT/DDL noise. The consumer selects the subscribed
    table's INSERTs, so the expected state is every inserted image."""
    rng = random.Random(seed)
    walk = _TableWalk(rng, _zipf(seed, n))
    clock = _clock(rng)
    other_keys = [0] * (N_OTHER_TABLES + 1)
    rows = []
    inserted: dict[int, tuple] = {}
    for rid in range(1, n + 1):
        ts = next(clock)
        part = rid % PARTITIONS
        u = rng.random()
        if u < 0.02:
            v = rng.random()
            key, before, after = walk.step(OP_I if v < 0.61 else OP_U if v < 0.95 else OP_D)
            op = OP_I if before is None else OP_U if after is not None else OP_D
            if op == OP_I:
                inserted[key] = typed_row(key, after)
            rows.append(_row(rid, ts, key % PARTITIONS, op, TBL_TARGET, key, before, after))
        elif u < 0.03:
            rows.append(_row(rid, ts, part, OP_HB, TBL_NONE, None, None, None))
        elif u < 0.035:
            rows.append(_row(rid, ts, part, OP_DDL, 1 + rng.randrange(N_OTHER_TABLES), None, None, None))
        else:
            tbl = 1 + rng.randrange(N_OTHER_TABLES)
            v = rng.random()
            if other_keys[tbl] == 0 or v < 0.7:
                other_keys[tbl] += 1
                op, key = OP_I, other_keys[tbl]
            else:
                op = OP_U if v < 0.95 else OP_D
                key = 1 + rng.randrange(other_keys[tbl])
            rows.append(_row(rid, ts, part, op, tbl, key, None, None))
    changelog = len(inserted)
    return Plan(rows, inserted, changelog, selected=len(inserted))


def state_after(plan: Plan, upto: int) -> dict[int, tuple]:
    """Expected current state after the first ``upto`` plan rows."""
    state: dict[int, tuple] = {}
    for row in plan.rows[:upto]:
        op, tbl, key = row[3], row[4], row[5]
        if tbl != TBL_TARGET or op not in (OP_I, OP_U, OP_D):
            continue
        if op == OP_D:
            state.pop(key, None)
        else:
            state[key] = typed_row(key, row[10:14])
    return state


def changelog_rows(plan: Plan, upto: int) -> int:
    return sum(
        changelog_size(r[3]) for r in plan.rows[:upto] if r[4] == TBL_TARGET
    )


# ---------------------------------------------------------------------------
# Encoding (runs inside Spark Python workers)
# ---------------------------------------------------------------------------

_PK_TAGS = {"pk_uk_info": json.dumps({"PRIMARY": ["id"]})}


def _target_image(customer, status, amount, note, key) -> list:
    return [
        (ValueKind.INTEGER, key),
        (ValueKind.INTEGER, int(customer)),
        (ValueKind.CHARACTER, ("utf8", status.encode())),
        (ValueKind.DECIMAL, amount),
        (ValueKind.CHARACTER, ("utf8", note.encode())),
    ]


def _other_image(rng: random.Random, key: int, tbl: int) -> list:
    img = [(ValueKind.INTEGER, key), (ValueKind.INTEGER, tbl * 1000 + rng.randrange(1000))]
    for _ in range(4):
        img.append((ValueKind.CHARACTER, ("utf8", rng.randbytes(rng.randrange(8, 20)).hex().encode())))
        cents = rng.randrange(0, 10_000_000)
        img.append((ValueKind.DECIMAL, f"{cents // 100}.{cents % 100:02d}"))
    return img


def encode_row(row) -> bytes:
    """One plan row (attribute access by `PLAN_COLS` name) -> wire bytes."""
    rid, op, tbl = int(row.rid), int(row.op), int(row.tbl)
    ts = int(row.ts_ms) // 1000
    if op == OP_HB:
        return encode_record(
            CdcRecord(id=rid, ts=ts, operation=OperationType.HEARTBEAT, db="", tbl="")
        )
    db, name = (TARGET_DB, TARGET_TBL) if tbl == TBL_TARGET else (f"tenant{tbl:02d}", "events")
    if op == OP_DDL:
        return encode_record(
            CdcRecord(
                id=rid, ts=ts, operation=OperationType.DDL, db=db, tbl=name,
                fields=[FieldDef("ddl_statement", "TEXT", 245)],
                after=[(ValueKind.TEXT_OBJECT, (ObjectType.TEXT, f"ALTER TABLE {name} ADD c{rid} INT"))],
            )
        )
    key = int(row.key)
    if tbl == TBL_TARGET:
        fields = FIELDS
        before = (
            _target_image(row.b_customer, row.b_status, row.b_amount, row.b_note, key)
            if op != OP_I else None
        )
        after = (
            _target_image(row.a_customer, row.a_status, row.a_amount, row.a_note, key)
            if op != OP_D else None
        )
    else:
        fields = OTHER_FIELDS
        rng = random.Random(rid)
        before = _other_image(rng, key, tbl) if op != OP_I else None
        after = _other_image(rng, key, tbl) if op != OP_D else None
    return encode_record(
        CdcRecord(
            id=rid, ts=ts, operation=OperationType(op), db=db, tbl=name,
            transaction_id=f"tx-{rid}", tags=_PK_TAGS, fields=fields,
            before=before, after=after, source_position=f"mysql-bin.000001:{rid}",
        )
    )


ENCODED_SCHEMA = "value binary, partition int, ts_ms long"


def encode_plan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body: plan rows -> (value, partition, ts_ms), the
    record shape `sources.fakebroker.create_broker` takes."""
    for pdf in batches:
        values = [encode_row(r) for r in pdf.itertuples(index=False)]
        yield pd.DataFrame(
            {"value": values, "partition": pdf["partition"], "ts_ms": pdf["ts_ms"]}
        )
