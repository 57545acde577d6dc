"""Per-layer metrics of the traced run, and the ``--workload all`` summary.

Three sources feed them:

* the engine's own per-trigger progress of the untraced rounds
  (`StreamingQueryProgress.durationMs`), for the micro-batch engine and
  the broker's ``latestOffset``;
* the spans of the traced rounds, for self times of fetch, decode,
  projection, upsert and failover;
* direct probes of one layer's public function at a time, on the log the
  workload's last untraced round read.

Each metric's purpose — which end-to-end metric it should move, on which
workload — is in NOTES.md.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from cdcbench import consume, gen
from flink_dts_connector_spark.formats.decoder import decode_cdc
from flink_dts_connector_spark.formats.fastdecode import decode_batch_core
from flink_dts_connector_spark.formats.jvmheader import prefilter
from flink_dts_connector_spark.sources.fakebroker import KAFKA_SCHEMA, FakeKafkaDataSource
from flink_dts_connector_spark.sources.kafka import dts_kafka_options
from flink_dts_connector_spark.streaming.failover import DtsProgressTracker

#: (tables, ops) each workload's consumer filters on
FILTERS = {
    "backfill": (None, None),
    "live_tail": (None, None),
    "multitenant": (consume.TENANT_TABLES, consume.TENANT_OPS),
}
#: every per-layer metric a traced run reports, in report order
PER_LAYER = (
    "fakebroker.latest_offset_ms", "fakebroker.latest_offset_ms_p90", "fakebroker.read_rps",
    "fakebroker.offsets_for_time_ms", "fakebroker.segments", "fastdecode.core_rps",
    "fastdecode.header_only_rps", "decoder.df_rps", "decoder.kept_frac", "decoder.payload_frac",
    "jvmheader.prefilter_rps", "typed.project_s", "typed.rows_out_per_in", "changelog.upsert_s",
    "changelog.state_rows", "failover.tracker_ms", "failover.redelivered", "failover.recovery_s",
    "engine.trigger_ms", "engine.query_planning_ms", "engine.wal_commit_ms", "engine.add_batch_ms",
    "engine.batches",
    "engine.lag_records", "gen.late_s_p99", "trace.fetch_s", "trace.decode_s",
    "trace.failover_s", "trace.engine_s", "trace.round_s", "trace.overhead_s",
    "trace.unattributed_s", "trace.accounted", "mem.peak_rss_mb",
)
SAMPLE_MAX = 20_000
PROBE_REPEATS = 5
#: the layers' own spans, around calls into their public functions
ACCOUNTED_SPANS = (
    "fakebroker.fetch", "decoder.decode", "typed.project", "changelog.upsert",
    "failover.tracker", "failover.restore",
)
#: the micro-batch engine's own time: query start and stop, each trigger's
#: phases, and what addBatch and the sink spend outside the layer calls
ENGINE_SPANS = (
    "engine.startup", "engine.stop", "engine.trigger", "engine.latestOffset",
    "engine.queryPlanning", "engine.getBatch", "engine.addBatch", "engine.walCommit",
    "engine.commitOffsets", "sink.batch",
)


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _median_time(fn, repeats: int = PROBE_REPEATS) -> float:
    """Median wall seconds of ``fn()`` over ``repeats`` calls."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _log_files(broker: str) -> dict[int, list[str]]:
    out = {}
    for p in range(gen.PARTITIONS):
        d = os.path.join(broker, "log", f"partition={p}")
        out[p] = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    return out


def _reader(broker: str, **kw):
    opts = dts_kafka_options(broker, gen.TOPIC, consume.SID, None, consume.USER, consume.PASSWORD, **kw)
    return FakeKafkaDataSource(opts).streamReader(KAFKA_SCHEMA)


def broker_probes(broker: str) -> dict:
    files = _log_files(broker)
    reader = _reader(broker)
    start, end = reader.initialOffset(), reader.latestOffset()
    parts = reader.partitions(start, end)
    t = time.perf_counter()
    n = sum(sum(1 for _ in reader.read(p)) for p in parts)
    read_s = time.perf_counter() - t
    # re-seek to each partition's median timestamp, as a failover does
    mid = {}
    for p, fs in files.items():
        ts = np.concatenate([pq.read_table(f, columns=["ts_ms"])["ts_ms"].to_numpy() for f in fs])
        mid[str(p)] = int(np.median(ts))
    by_ts = json.dumps({gen.TOPIC: mid})
    seek = _median_time(lambda: _reader(broker, offsets_by_timestamp=by_ts).initialOffset())
    return {
        "fakebroker.read_rps": (n / read_s, "1/s"),
        "fakebroker.offsets_for_time_ms": (seek * 1e3, "ms"),
        "fakebroker.segments": (float(max(len(fs) for fs in files.values())), "count"),
    }


def decode_probes(ctx, broker: str, workload: str) -> dict:
    tables, ops = FILTERS[workload]
    values = []
    for fs in _log_files(broker).values():
        for f in fs:
            values.extend(pq.read_table(f, columns=["value"])["value"].to_pylist())
    sample = values[:: max(1, len(values) // SAMPLE_MAX)][:SAMPLE_MAX]
    n = len(sample)
    core_s = _median_time(lambda: decode_batch_core(sample, None, None), 3)
    absent = frozenset({"bench.absent_table"})
    header_s = _median_time(lambda: decode_batch_core(sample, absent, None), 3)
    out, kept = decode_batch_core(
        sample, frozenset(tables) if tables else None, frozenset(ops) if ops else None
    )
    payload = sum(1 for b, a in zip(out["before"], out["after"]) if b is not None or a is not None)

    spark = ctx.spark
    raw = spark.read.parquet(os.path.join(broker, "log")).select("value", "partition", "offset").persist()
    total = raw.count()
    df_s = _median_time(lambda: decode_cdc(raw, tables=tables, ops=ops).write.format("noop").mode("overwrite").save(), 3)
    pre_s = _median_time(
        lambda: prefilter(raw, tables=[gen.TARGET], ops=consume.TENANT_OPS)
        .write.format("noop").mode("overwrite").save(),
        3,
    )
    raw.unpersist()
    return {
        "fastdecode.core_rps": (n / core_s, "1/s"),
        "fastdecode.header_only_rps": (n / header_s, "1/s"),
        "decoder.df_rps": (total / df_s, "1/s"),
        "decoder.kept_frac": (len(kept) / n, "ratio"),
        "decoder.payload_frac": (payload / n, "ratio"),
        "jvmheader.prefilter_rps": (total / pre_s, "1/s"),
    }


def tracker_probe(work: str) -> dict:
    """update + save + starting_offsets_by_timestamp, the per-batch and
    per-restart work of the offset@timestamp checkpoint."""
    tracker = DtsProgressTracker(state_path=os.path.join(work, "tracker-probe.json"), cluster_id="probe")
    times = []
    for i in range(50):
        t = time.perf_counter()
        tracker.update_from_batch((p, 1000 * i + p, 1_700_000_000 + i) for p in range(gen.PARTITIONS))
        tracker.save()
        tracker.starting_offsets_by_timestamp(gen.TOPIC)
        times.append(time.perf_counter() - t)
    return {"failover.tracker_ms": (_med(times) * 1e3, "ms")}


def engine_metrics(rounds: list) -> dict:
    data = [p for r in rounds for p in r.progress if p["numInputRows"]]
    d = [p["durationMs"] for p in data]
    latest = [x.get("latestOffset", 0) for x in d]
    return {
        "fakebroker.latest_offset_ms": (_med(latest), "ms"),
        "fakebroker.latest_offset_ms_p90": (float(np.percentile(latest, 90)) if latest else 0.0, "ms"),
        "engine.trigger_ms": (_med([x.get("triggerExecution", 0) for x in d]), "ms"),
        "engine.query_planning_ms": (_med([x.get("queryPlanning", 0) for x in d]), "ms"),
        "engine.wal_commit_ms": (_med([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]), "ms"),
        "engine.add_batch_ms": (_med([x.get("addBatch", 0) for x in d]), "ms"),
        "engine.batches": (_med([sum(1 for p in r.progress if p["numInputRows"]) for r in rounds]), "count"),
        "engine.lag_records": (_med([x for r in rounds for x in r.extra["lags"]]), "count"),
    }


def trace_metrics(rounds: list, traced: list, tracer) -> dict:
    """Self times per traced round. The span tree nests (sink spans sit
    under the trigger's addBatch), so the round's own self time is the
    wall time no layer span covers."""
    k = len(traced)
    own = {name: tracer.self_time(name) / k for name in ACCOUNTED_SPANS + ENGINE_SPANS + ("round",)}
    round_s = tracer.total("round") / k
    overhead = _med([r.wall_s for r in traced]) - _med([r.wall_s for r in rounds])
    unattributed = own["round"]
    return {
        "trace.fetch_s": (own["fakebroker.fetch"], "s"),
        "trace.decode_s": (own["decoder.decode"], "s"),
        "typed.project_s": (own["typed.project"], "s"),
        "changelog.upsert_s": (own["changelog.upsert"], "s"),
        "trace.failover_s": (own["failover.tracker"] + own["failover.restore"], "s"),
        "trace.engine_s": (sum(own[n] for n in ENGINE_SPANS), "s"),
        "trace.round_s": (round_s, "s"),
        "trace.overhead_s": (overhead, "s"),
        "trace.unattributed_s": (unattributed, "s"),
        # the layers' self times account for the round within the overhead
        "trace.accounted": (float(abs(unattributed) <= max(overhead, 0.0)), "bool"),
    }


def per_layer(ctx, workload: str, rounds: list, traced: list, tracer, peak_rss_mb: float) -> dict:
    last = rounds[-1]
    metrics = {}
    metrics.update(engine_metrics(rounds))
    metrics.update(broker_probes(last.broker))
    metrics.update(decode_probes(ctx, last.broker, workload))
    metrics.update(tracker_probe(ctx.work))
    metrics.update(trace_metrics(rounds, traced, tracer))
    metrics.update({
        "mem.peak_rss_mb": (peak_rss_mb, "MB"),
        "typed.rows_out_per_in": (_med([r.extra["rows_out"] / r.extra["rows_in"] for r in rounds]), "ratio"),
        "changelog.state_rows": (_med([r.extra["state_rows"] for r in rounds]), "count"),
        "failover.redelivered": (_med([r.extra.get("redelivered", 0) for r in rounds]), "count"),
        # backfill: cluster-switch detection -> first committed post-switch
        # batch; live_tail: query start -> first committed batch
        "failover.recovery_s": (_med([r.restart_s for r in rounds]), "s"),
        "gen.late_s_p99": (
            float(np.percentile([x for r in rounds for x in r.extra.get("late_s", [0.0])], 99)), "s"
        ),
    })
    if set(metrics) != set(PER_LAYER):
        raise RuntimeError(f"per-layer metrics drifted: {sorted(set(metrics) ^ set(PER_LAYER))}")
    return {k: metrics[k] for k in PER_LAYER}


#: the latency limit a live-tail rate must meet to count as sustained
TAIL_P99_LIMIT_S = 5.0


def all_summary(results: dict, session_s: float, peak_mb: float, attempted: int, failed: int) -> dict:
    """``--workload all``: every workload in one session, reported under
    the workload-prefixed names the benchmark's first design fixed."""
    bf = results["backfill"][1]
    mt = results["multitenant"][1]
    tail = results["live_tail"][1]
    setup = sum(statistics.median(b.setup_times) for b, *_ in results.values())
    lo = [r.extra["lo"] for r in tail]
    hi = [r.extra["hi"] for r in tail]
    sustained = 0.0
    for rate, stats in ((consume.RATE_LO, lo), (consume.RATE_HI, hi)):
        if _med([s[1] for s in stats]) <= TAIL_P99_LIMIT_S:
            sustained = float(rate)
    return {
        "setup_s": (session_s + setup, "s"),
        "backfill.rps": (_med([r.rps for r in bf]), "1/s"),
        "backfill.recovery_s": (_med([r.restart_s for r in bf]), "s"),
        "backfill.redelivered_frac": (_med([r.extra["redelivered"] / r.records for r in bf]), "ratio"),
        "multitenant.rps": (_med([r.rps for r in mt]), "1/s"),
        "tail.lo.p50_s": (_med([s[0] for s in lo]), "s"),
        "tail.lo.p99_s": (_med([s[1] for s in lo]), "s"),
        "tail.hi.p50_s": (_med([s[0] for s in hi]), "s"),
        "tail.hi.p99_s": (_med([s[1] for s in hi]), "s"),
        "tail.sustained_rps": (sustained, "1/s"),
        "failed_frac": (failed / max(1, attempted), "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
