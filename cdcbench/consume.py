"""The consumer pipelines the benchmark drives, one per workload.

Every run goes through the engine's public entry points:
`sources.kafka.read_stream(source_format="kafka_fake")` (fetch +
`formats.decoder.decode_cdc`) -> `formats.typed.project_table` -> a
parquet changelog sink -> `operators.changelog.materialize_upsert`, with
`streaming.failover.DtsProgressTracker` across the backfill's cluster
switch. Each round checks its output against what the generator produced
and counts every mismatch as a failure.

In a traced run the same pipeline is split at the layer boundaries — the
raw fetch and the decode are materialised on their own inside the sink —
so each layer gets its own span; the extra materialisation is the tracing
overhead, measured as traced minus untraced wall time.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdcbench import gen
from cdcbench.producer import Producer
from cdcbench.trace import Tracer, epoch
from flink_dts_connector_spark.formats.decoder import decode_cdc
from flink_dts_connector_spark.formats.typed import project_table
from flink_dts_connector_spark.operators.changelog import materialize_upsert
from flink_dts_connector_spark.sources.fakebroker import broker_cluster_id, create_broker
from flink_dts_connector_spark.sources.kafka import dts_kafka_options, read_stream
from flink_dts_connector_spark.streaming.failover import DtsProgressTracker

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("customer", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount", T.DecimalType(12, 2)),
        T.StructField("note", T.StringType()),
    ]
)
SID, USER, PASSWORD = "SID1", "bench", "pw"
USERS = [(f"{USER}-{SID}", PASSWORD)]
PLAN_SCHEMA = (
    "rid long, ts_ms long, partition int, op int, tbl int, key long, "
    "b_customer long, b_status string, b_amount string, b_note string, "
    "a_customer long, a_status string, a_amount string, a_note string"
)
#: offset base of the backfill's first cluster; the failover cluster
#: starts at 0, like a DStore reload (tests/test_fake_broker.py does too)
BASE_A = 5000
DRAIN_TIMEOUT_S = 120


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    tracer: Tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Batch:
    epoch: int
    t_end: float
    #: partition -> (first offset, last offset, records, max Kafka ts ms)
    stats: dict[int, tuple[int, int, int, int]]
    rows_out: int


def encode(spark: SparkSession, plan: gen.Plan) -> DataFrame:
    """Plan rows -> wire records, encoded on every core."""
    return spark.createDataFrame(plan.frame(), PLAN_SCHEMA).mapInPandas(
        gen.encode_plan, gen.ENCODED_SCHEMA
    )


def build_broker(spark, records: DataFrame, broker_dir: str, cluster_id: str, base: int = 0) -> str:
    return create_broker(spark, records, broker_dir, cluster_id, gen.TOPIC, users=USERS, offset_base=base)


def _partition_aggs(p_col: str, o_col: str, ts_col: str) -> list:
    aggs = []
    for p in range(gen.PARTITIONS):
        m = F.col(p_col) == p
        aggs += [
            F.min(F.when(m, F.col(o_col))).alias(f"lo{p}"),
            F.max(F.when(m, F.col(o_col))).alias(f"hi{p}"),
            F.count(F.when(m, 1)).alias(f"n{p}"),
            F.max(F.when(m, F.unix_millis(F.col(ts_col)))).alias(f"ts{p}"),
        ]
    return aggs


class Sink:
    """``foreachBatch`` target: projects the envelope batch to the typed
    changelog, appends it to parquet and notes per-partition delivery (and,
    when given a tracker, the batch's offset@timestamp progress)."""

    def __init__(self, ctx: Ctx, out_dir: str, trace_id: str, tables=None, ops=None,
                 tracker: DtsProgressTracker | None = None):
        self.ctx, self.out_dir, self.trace_id = ctx, out_dir, trace_id
        self.tables, self.ops, self.tracker = tables, ops, tracker
        self.batches: list[Batch] = []
        self.tracker_s: list[float] = []
        self.ends: dict[int, int] = {}  # partition -> last delivered offset + 1
        self._delivered = threading.Condition()

    def wait_delivered(self, ends: dict[int, int], timeout_s: float) -> bool:
        """True once every offset below ``ends`` reached the sink."""
        with self._delivered:
            return self._delivered.wait_for(
                lambda: all(self.ends.get(p, 0) >= e for p, e in ends.items()), timeout_s
            )

    def envelope(self, env: DataFrame, epoch: int) -> None:
        self._write(env, epoch)

    def raw(self, raw: DataFrame, epoch: int) -> None:
        tr, tid = self.ctx.tracer, self.trace_id
        with tr.span("sink.batch", tid):
            with tr.span("fakebroker.fetch", tid):
                raw = raw.persist()
                raw.count()
            with tr.span("decoder.decode", tid):
                env = decode_cdc(raw, tables=self.tables, ops=self.ops).persist()
                env.count()
            self._write(env, epoch)
            env.unpersist()
            raw.unpersist()

    def _write(self, env: DataFrame, epoch: int) -> None:
        tr, tid = self.ctx.tracer, self.trace_id
        seen, out = Observation(), Observation()
        with tr.span("typed.project", tid):
            typed = project_table(
                env.observe(seen, *_partition_aggs("kafka_partition", "kafka_offset", "kafka_timestamp")),
                SCHEMA,
                table=gen.TARGET,
            )
            typed.observe(out, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(self.out_dir)
        s = seen.get
        stats = {
            p: (s[f"lo{p}"], s[f"hi{p}"], s[f"n{p}"], s[f"ts{p}"])
            for p in range(gen.PARTITIONS)
            if s[f"n{p}"]
        }
        if self.tracker is not None and stats:
            t = time.perf_counter()
            with tr.span("failover.tracker", tid):
                self.tracker.update_from_batch((p, v[1], v[3] // 1000) for p, v in stats.items())
                self.tracker.save()
            self.tracker_s.append(time.perf_counter() - t)
        with self._delivered:
            self.batches.append(Batch(epoch, time.time(), stats, out.get["n"]))
            for p, v in stats.items():
                self.ends[p] = max(self.ends.get(p, 0), v[1] + 1)
            self._delivered.notify_all()


def start_query(ctx: Ctx, broker_dir: str, ckpt: str, sink: Sink, *, by_ts: str | None = None,
                extra: dict | None = None, available_now: bool = False):
    if ctx.tracer.enabled:
        # read_stream's own fetch, minus the decode (the sink decodes, so
        # fetch and decode get separate spans)
        reader = ctx.spark.readStream.format("kafka_fake")
        opts = dts_kafka_options(broker_dir, gen.TOPIC, SID, None, USER, PASSWORD,
                                 offsets_by_timestamp=by_ts, extra=extra)
        for k, v in opts.items():
            reader = reader.option(k, v)
        df = reader.option("includeHeaders", "true").load().select(
            "value", "partition", "offset", "topic", "timestamp", "timestampType", "headers"
        )
        fn = sink.raw
    else:
        df = read_stream(
            ctx.spark, broker_dir, gen.TOPIC, sid=SID, user=USER, password=PASSWORD,
            offsets_by_timestamp=by_ts, tables=sink.tables, ops=sink.ops,
            source_format="kafka_fake", extra=extra,
        )
        fn = sink.envelope
    writer = df.writeStream.foreachBatch(fn).option("checkpointLocation", ckpt)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _end_offsets(progress) -> dict[int, int]:
    raw = progress["sources"][0]["endOffset"]
    # progress rebuilt from JSON carries the offset as a Python dict repr
    end = (json.loads(raw) if raw.startswith('{"') else ast.literal_eval(raw))["offsets"]
    return {int(p): int(o) for p, o in end.items()}


def wait_drained(q, ends: dict[int, int], sink: Sink | None = None,
                 timeout_s: float = DRAIN_TIMEOUT_S) -> None:
    """Block until the query has committed every offset below ``ends``.
    Given a sink that sees every record (no decode filter), wait on the sink
    and ask the engine only for the final commit: each ``lastProgress`` call
    is dozens of JVM round trips that compete with the query itself."""
    deadline = time.time() + timeout_s

    def check() -> None:
        if q.exception() is not None:
            raise RuntimeError(f"query failed: {q.exception()}")
        if not q.isActive:
            raise RuntimeError("query stopped before draining")
        if time.time() > deadline:
            raise TimeoutError(f"not drained within {timeout_s}s: {ends}")

    if sink is not None:
        while not sink.wait_delivered(ends, 0.5):
            check()
    while True:
        lp = q.lastProgress
        if lp is not None and lp["sources"]:
            got = _end_offsets(lp)
            if all(got.get(p, 0) >= e for p, e in ends.items()):
                return
        check()
        time.sleep(0.01 if sink is not None else 0.05)


def stop(ctx: Ctx, q, trace_id: str, started: float) -> list:
    """Stop ``q`` (started at epoch ``started``); returns its progress and
    records its engine spans in a traced run."""
    with ctx.tracer.span("engine.stop", trace_id):
        q.stop()
        q.awaitTermination(30)
    progress = list(q.recentProgress)
    ctx.tracer.add_query(progress, trace_id, started)
    return progress


def first_commit(progress: list) -> float:
    """Epoch time the first data batch of a query committed."""
    for p in progress:
        if p["numInputRows"]:
            return epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
    raise RuntimeError("no data batch committed")


def current_state(ctx: Ctx, out_dir: str, trace_id: str) -> dict[int, tuple]:
    """The sink's changelog reduced to current state, on the driver."""
    with ctx.tracer.span("changelog.upsert", trace_id):
        changelog = ctx.spark.read.parquet(out_dir)
        rows = materialize_upsert(changelog, ["id"]).select(*gen.COLUMNS).toArrow().to_pylist()
    return {r["id"]: tuple(r[c] for c in gen.COLUMNS) for r in rows}


def state_mismatches(got: dict, want: dict) -> int:
    return sum(1 for k in got.keys() | want.keys() if got.get(k) != want.get(k))


def _positions(intervals: list[tuple[int, int]]) -> tuple[int, int]:
    """(distinct positions covered, positions delivered more than once)"""
    covered = dup = 0
    last = -1
    for lo, hi in sorted(intervals):
        if hi > last:
            covered += hi - max(lo, last + 1) + 1
        dup += min(hi, last) - lo + 1 if lo <= last else 0
        last = max(last, hi)
    return covered, dup


def percentiles(values: np.ndarray, weights: np.ndarray) -> tuple[float, float]:
    """(p50, p99) of ``values`` with integer sample ``weights``."""
    samples = np.repeat(values, weights.astype(np.int64))
    if samples.size == 0:
        raise RuntimeError("no samples")
    return float(np.percentile(samples, 50)), float(np.percentile(samples, 99))


@dataclass
class Round:
    """One measured round. ``records`` counts every input record offered
    (the ``attempted`` base); ``failed`` every record, row or key whose
    output disagreed with the generator."""

    records: int
    rps: float
    wall_s: float
    p50_s: float
    p99_s: float
    restart_s: float
    failed: int
    broker: str  # the (final) log the round read, for the layer probes
    progress: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# backfill: drain cluster A in bounded micro-batches, fail over to B
# ---------------------------------------------------------------------------


@dataclass
class BackfillInput:
    plan: gen.Plan
    broker_a: str
    broker_b: str
    a_count: dict[int, int]  # prefix records per partition
    n_count: dict[int, int]  # all records per partition
    seek: dict[int, int]  # expected re-seek position per partition on B
    redelivered: int
    changelog_rows: int  # expected typed rows in the sink, redelivery included
    max_per_trigger: int


def setup_backfill(ctx: Ctx, seed: int, n: int, d: str) -> BackfillInput:
    plan = gen.backfill_plan(seed, n)
    cut = int(n * 0.85)  # cluster A holds the prefix; B the whole log
    records = encode(ctx.spark, plan).persist()
    cut_ts = plan.rows[cut - 1][1]
    broker_a = build_broker(ctx.spark, records.where(F.col("ts_ms") <= cut_ts), os.path.join(d, "A"), "dstore-A", BASE_A)
    broker_b = build_broker(ctx.spark, records, os.path.join(d, "B"), "dstore-B", 0)
    records.unpersist()

    by_part: dict[int, list[tuple]] = {p: [] for p in range(gen.PARTITIONS)}
    for row in plan.rows:
        by_part[row[2]].append(row)
    a_count, n_count, seek = {}, {}, {}
    redelivered = extra_rows = 0
    for p, rows in by_part.items():
        a = sum(1 for r in rows if r[1] <= cut_ts)  # each partition's log is in ts order
        a_count[p], n_count[p] = a, len(rows)
        # the tracker stores whole seconds; the re-seek starts at the first
        # record at or after that second, so the rest of it is redelivered
        seek_ms = rows[a - 1][1] // 1000 * 1000
        seek[p] = next(i for i, r in enumerate(rows) if r[1] >= seek_ms)
        redelivered += a - seek[p]
        extra_rows += sum(gen.changelog_size(r[3]) for r in rows[seek[p]:a] if r[4] == gen.TBL_TARGET)
    return BackfillInput(
        plan, broker_a, broker_b, a_count, n_count, seek, redelivered,
        plan.changelog_rows + extra_rows, max_per_trigger=max(1000, cut // 3),
    )


def run_backfill(ctx: Ctx, inp: BackfillInput, d: str) -> Round:
    tr, tid = ctx.tracer, f"backfill-{os.path.basename(d)}"
    out = os.path.join(d, "changelog")
    state_path = os.path.join(d, "progress.json")
    failed = 0
    t0 = time.time()
    with tr.span("round", tid):
        tracker = DtsProgressTracker(state_path=state_path, cluster_id=broker_cluster_id(inp.broker_a))
        sink_a = Sink(ctx, out, tid, tracker=tracker)
        started = time.time()
        qa = start_query(ctx, inp.broker_a, os.path.join(d, "ck-a"), sink_a,
                         extra={"maxRecordsPerTrigger": str(inp.max_per_trigger)})
        wait_drained(qa, {p: BASE_A + c for p, c in inp.a_count.items()}, sink_a)
        prog_a = stop(ctx, qa, tid, started)

        # DStore failover: the restarted consumer finds a new cluster id
        t_detect = time.time()
        with tr.span("failover.restore", tid):
            restored = DtsProgressTracker.load(state_path)
            if not restored.cluster_switched(broker_cluster_id(inp.broker_b)):
                raise RuntimeError("cluster switch not detected")
            by_ts = restored.starting_offsets_by_timestamp(gen.TOPIC)
        sink_b = Sink(ctx, out, tid)
        started = time.time()
        qb = start_query(ctx, inp.broker_b, os.path.join(d, "ck-b"), sink_b, by_ts=by_ts, available_now=True)
        qb.awaitTermination(DRAIN_TIMEOUT_S)
        prog_b = stop(ctx, qb, tid, started)
        restart_s = first_commit(prog_b) - t_detect

        state = current_state(ctx, out, tid)
    wall = time.time() - t0

    # delivery: gap-free per partition across the switch, exact redelivery
    redelivered = 0
    for p in range(gen.PARTITIONS):
        spans = []
        for b, base in [(b, BASE_A) for b in sink_a.batches] + [(b, 0) for b in sink_b.batches]:
            if p in b.stats:
                lo, hi, cnt, _ = b.stats[p]
                failed += abs(cnt - (hi - lo + 1))
                spans.append((lo - base, hi - base))
        covered, dup = _positions(spans)
        failed += inp.n_count[p] - covered
        redelivered += dup
        if not any(b.stats.get(p, (None,))[0] == inp.seek[p] for b in sink_b.batches):
            failed += 1  # B did not re-seek where the timestamps say
    failed += abs(redelivered - inp.redelivered)
    rows_out = sum(b.rows_out for b in sink_a.batches + sink_b.batches)
    failed += abs(rows_out - inp.changelog_rows)
    failed += state_mismatches(state, inp.plan.state)

    # freshness: every record was available when the consumer started;
    # a redelivered record counts at its first delivery
    times = [b.t_end - t0 for b in sink_a.batches + sink_b.batches]
    weights = [sum(v[2] for v in b.stats.values()) for b in sink_a.batches]
    weights += [sum(v[2] for v in b.stats.values()) for b in sink_b.batches]
    if sink_b.batches:
        weights[len(sink_a.batches)] -= redelivered
    p50, p99 = percentiles(np.array(times), np.array(weights).clip(0))
    n = len(inp.plan.rows)
    return Round(
        n, n / wall, wall, p50, p99, restart_s, failed, inp.broker_b, prog_a + prog_b,
        {"redelivered": redelivered, "rows_out": rows_out, "state_rows": len(state),
         "rows_in": sum(sum(v[2] for v in b.stats.values()) for b in sink_a.batches + sink_b.batches),
         "lags": [BASE_A * gen.PARTITIONS + sum(inp.a_count.values()) - sum(_end_offsets(p).values())
                  for p in prog_a if p["numInputRows"]]},
    )


# ---------------------------------------------------------------------------
# multitenant: one table's INSERTs out of a mixed topic
# ---------------------------------------------------------------------------


@dataclass
class MultitenantInput:
    plan: gen.Plan
    broker: str
    n_count: dict[int, int]
    max_per_trigger: int


TENANT_TABLES = [gen.TARGET]
TENANT_OPS = ["INSERT"]


def setup_multitenant(ctx: Ctx, seed: int, n: int, d: str) -> MultitenantInput:
    plan = gen.multitenant_plan(seed, n)
    broker = build_broker(ctx.spark, encode(ctx.spark, plan), os.path.join(d, "broker"), "dstore-M")
    n_count = {p: 0 for p in range(gen.PARTITIONS)}
    for row in plan.rows:
        n_count[row[2]] += 1
    return MultitenantInput(plan, broker, n_count, max_per_trigger=max(1000, n // 6))


def run_multitenant(ctx: Ctx, inp: MultitenantInput, d: str) -> Round:
    tid = f"multitenant-{os.path.basename(d)}"
    out = os.path.join(d, "changelog")
    t0 = time.time()
    with ctx.tracer.span("round", tid):
        sink = Sink(ctx, out, tid, tables=TENANT_TABLES, ops=TENANT_OPS)
        t_start = time.time()
        q = start_query(ctx, inp.broker, os.path.join(d, "ck"), sink,
                        extra={"maxRecordsPerTrigger": str(inp.max_per_trigger)})
        wait_drained(q, inp.n_count)
        progress = stop(ctx, q, tid, t_start)
        state = current_state(ctx, out, tid)
    wall = time.time() - t0

    failed = abs(sum(p["numInputRows"] for p in progress) - len(inp.plan.rows))
    rows_out = sum(b.rows_out for b in sink.batches)
    failed += abs(rows_out - inp.plan.selected)
    failed += state_mismatches(state, inp.plan.state)
    p50, p99 = percentiles(
        np.array([b.t_end - t0 for b in sink.batches]),
        np.array([b.rows_out for b in sink.batches]),
    )
    n = len(inp.plan.rows)
    return Round(
        n, n / wall, wall, p50, p99, first_commit(progress) - t_start, failed, inp.broker, progress,
        {"rows_out": rows_out, "rows_in": n, "state_rows": len(state),
         "lags": [n - sum(_end_offsets(p).values()) for p in progress if p["numInputRows"]]},
    )


# ---------------------------------------------------------------------------
# live_tail: open-loop producer, default trigger
# ---------------------------------------------------------------------------

TICK_S = 0.25
HI_WINDOWS = 3
RATE_LO, RATE_HI = 500, 2000  # records per second
WARM_RECORDS = 2000


@dataclass
class TailInput:
    plan: gen.Plan
    broker: str
    values: list[bytes]  # pre-encoded pool, plan order
    partitions: list[int]
    warm_count: dict[int, int]


def _lo_ticks(ticks: int) -> int:
    return ticks // 3


def tail_schedule(t0: float, seconds: float) -> list[tuple[float, int]]:
    """Fixed ticks: the low rate for the first third, the high rate for
    the rest (the high rate is what the end-to-end metrics report, so it
    gets the most triggers; the low-rate phase also warms the query)."""
    ticks = int(round(seconds / TICK_S))
    return [
        (t0 + k * TICK_S, int((RATE_LO if k < _lo_ticks(ticks) else RATE_HI) * TICK_S))
        for k in range(ticks)
    ]


def tail_pool_size(seconds: float) -> int:
    return WARM_RECORDS + sum(c for _, c in tail_schedule(0.0, seconds))


def setup_tail(ctx: Ctx, seed: int, seconds: float, d: str) -> TailInput:
    # the backfill mix; the producer stamps Kafka timestamps as it appends,
    # so the plan's ``ts_ms`` only orders the pool
    plan = gen.backfill_plan(seed, tail_pool_size(seconds))
    encoded = encode(ctx.spark, plan).persist()
    pool = encoded.select("value", "partition").toArrow()
    warm = encoded.where(F.col("ts_ms") <= plan.rows[WARM_RECORDS - 1][1])
    broker = build_broker(ctx.spark, warm, os.path.join(d, "broker"), "dstore-T")
    encoded.unpersist()
    # mapInPandas keeps plan order within and across its input slices
    values = pool.column("value").to_pylist()
    parts = pool.column("partition").to_pylist()
    warm_count = {p: 0 for p in range(gen.PARTITIONS)}
    for p in parts[:WARM_RECORDS]:
        warm_count[p] += 1
    return TailInput(plan, broker, values, parts, warm_count)


def run_tail(ctx: Ctx, inp: TailInput, d: str, seconds: float) -> Round:
    tid = f"live_tail-{os.path.basename(d)}"
    out = os.path.join(d, "changelog")
    broker = shutil.copytree(inp.broker, os.path.join(d, "broker"))  # the producer appends to it
    failed = 0
    with ctx.tracer.span("round", tid):
        sink = Sink(ctx, out, tid)
        t_start = time.time()
        q = start_query(ctx, broker, os.path.join(d, "ck"), sink)
        # warm-up: the pre-built prefix drains before the clock starts
        wait_drained(q, inp.warm_count, sink)
        t0 = time.time() + TICK_S
        schedule = tail_schedule(t0, seconds)
        producer = Producer(
            broker, inp.values[WARM_RECORDS:], inp.partitions[WARM_RECORDS:],
            inp.warm_count, schedule,
        )
        producer.start()
        producer.join(seconds + 60)
        if producer.is_alive() or producer.error is not None:
            producer.stop()
            producer.join(10)
            raise RuntimeError(f"producer failed: {producer.error}")
        wait_drained(q, producer.next_offset, sink)
        progress = stop(ctx, q, tid, t_start)
        state = current_state(ctx, out, tid)

    produced = producer.produced
    total = WARM_RECORDS + produced
    failed += abs(sum(p["numInputRows"] for p in progress) - total)
    for p in range(gen.PARTITIONS):
        spans = []
        for b in sink.batches:
            if p in b.stats:
                lo, hi, cnt, _ = b.stats[p]
                failed += abs(cnt - (hi - lo + 1))
                spans.append((lo, hi))
        covered, dup = _positions(spans)
        failed += (producer.next_offset[p] - covered) + dup
    failed += abs(sum(b.rows_out for b in sink.batches) - gen.changelog_rows(inp.plan, total))
    failed += state_mismatches(state, gen.state_after(inp.plan, total))

    # freshness: each segment landed whole in one batch; due -> batch end
    lo_end = t0 + _lo_ticks(len(schedule)) * TICK_S
    end = t0 + len(schedule) * TICK_S
    samples = []  # (due, latency, records)
    hi_last = 0.0
    for s in producer.segments:
        b = _batch_holding(sink.batches, s)
        if b is None:
            failed += s.count
            continue
        samples.append((s.due, b.t_end - s.due, s.count))
        if s.due >= lo_end:
            hi_last = max(hi_last, b.t_end)
    lo = percentiles(*_due_within(samples, t0, lo_end))
    # the high-rate phase in HI_WINDOWS equal windows of due time: the
    # median window's percentiles, so one slow trigger moves them little
    width = (end - lo_end) / HI_WINDOWS
    windows = [
        percentiles(*_due_within(samples, lo_end + i * width, lo_end + (i + 1) * width))
        for i in range(HI_WINDOWS)
    ]
    hi = (float(np.median([w[0] for w in windows])), float(np.median([w[1] for w in windows])))
    hi_n = sum(n for due, _, n in samples if due >= lo_end)
    hi_wall = hi_last - lo_end
    lags = [
        producer.produced_by(_trigger_end(p)) + WARM_RECORDS
        - sum(_end_offsets(p).values())
        for p in progress if p["numInputRows"] and _trigger_end(p) >= t0
    ]
    return Round(
        total, hi_n / hi_wall, hi_wall, hi[0], hi[1],
        first_commit(progress) - t_start, failed, broker, progress,
        {
            "lo": lo, "hi": hi, "late_s": producer.late_s, "lags": lags,
            "rows_out": sum(b.rows_out for b in sink.batches), "rows_in": total, "state_rows": len(state),
        },
    )


def _due_within(samples: list[tuple], lo: float, hi: float) -> tuple[np.ndarray, np.ndarray]:
    """(latencies, record counts) of the segments due in [lo, hi)."""
    sel = [(lat, n) for due, lat, n in samples if lo <= due < hi]
    return np.array([x[0] for x in sel]), np.array([x[1] for x in sel])


def _batch_holding(batches: list[Batch], seg) -> Batch | None:
    for b in batches:
        st = b.stats.get(seg.partition)
        if st is not None and st[0] <= seg.first_offset <= st[1]:
            return b
    return None


def _trigger_end(p) -> float:
    return epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
