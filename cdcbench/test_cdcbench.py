"""Self-tests of the benchmark (no Spark session needed):

    python -m pytest cdcbench -q
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq

from cdcbench import consume, gen, layers, run
from cdcbench.producer import Producer
from flink_dts_connector_spark.formats.fastdecode import decode_batch_core

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def _encode(plan: gen.Plan) -> list[bytes]:
    return [gen.encode_row(r) for r in plan.frame().itertuples(index=False)]


def test_same_seed_same_inputs():
    for make in (gen.backfill_plan, gen.multitenant_plan):
        a, b = make(7, 3000), make(7, 3000)
        assert a.rows == b.rows and a.state == b.state and a.selected == b.selected
        assert _encode(a) == _encode(b)
        assert make(8, 3000).rows != a.rows


def test_encoded_records_decode_to_plan_images():
    plan = gen.backfill_plan(3, 2000)
    out, kept = decode_batch_core(_encode(plan), None, None)
    assert kept == list(range(len(plan.rows)))
    for j, row in enumerate(plan.rows):
        op, tbl, key = row[3], row[4], row[5]
        assert out["id"][j] == row[0]
        if tbl == gen.TBL_TARGET and op in (gen.OP_I, gen.OP_U):
            want = dict(zip(gen.COLUMNS, map(str, (key, *row[10:14]))))
            assert out["after"][j] == want


def test_expected_state_on_hand_built_case():
    img = {k: (k * 10, "NEW", f"{k}.50", f"n{k}") for k in (1, 2, 3)}
    upd = (99, "DONE", "7.25", "changed")
    rows = [
        gen._row(1, 1000, 1, gen.OP_I, gen.TBL_TARGET, 1, None, img[1]),
        gen._row(2, 1001, 2, gen.OP_I, gen.TBL_TARGET, 2, None, img[2]),
        gen._row(3, 1002, 0, gen.OP_HB, gen.TBL_NONE, None, None, None),
        gen._row(4, 1003, 1, gen.OP_U, gen.TBL_TARGET, 1, img[1], upd),
        gen._row(5, 1004, 2, gen.OP_D, gen.TBL_TARGET, 2, img[2], None),
        gen._row(6, 1005, 3, gen.OP_I, gen.TBL_TARGET, 3, None, img[3]),
    ]
    plan = gen.Plan(rows)
    want = gen.state_after(plan, len(rows))
    assert want == {1: gen.typed_row(1, upd), 3: gen.typed_row(3, img[3])}
    assert gen.changelog_rows(plan, len(rows)) == 1 + 1 + 2 + 1 + 1
    assert consume.state_mismatches(dict(want), want) == 0
    stale = {**want, 1: gen.typed_row(1, img[1])}  # the update was lost
    resurrected = {**want, 2: gen.typed_row(2, img[2])}  # the delete was lost
    assert consume.state_mismatches(stale, want) == 1
    assert consume.state_mismatches(resurrected, want) == 1
    assert consume.state_mismatches({}, want) == 2


def test_generator_state_matches_replay():
    plan = gen.backfill_plan(5, 5000)
    assert plan.state == gen.state_after(plan, len(plan.rows))
    assert plan.changelog_rows == gen.changelog_rows(plan, len(plan.rows))
    mt = gen.multitenant_plan(5, 5000)
    inserts = [r for r in mt.rows if r[4] == gen.TBL_TARGET and r[3] == gen.OP_I]
    assert mt.selected == len(inserts) == len(mt.state)


def test_delivery_positions():
    assert consume._positions([(0, 4), (5, 9)]) == (10, 0)
    assert consume._positions([(3, 9), (0, 4)]) == (10, 2)  # redelivered 3, 4
    assert consume._positions([(0, 4), (7, 9)]) == (8, 0)  # 5, 6 missing


def test_metric_names_match_benchmark_json():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    r = consume.Round(10, 1.0, 1.0, 0.5, 0.9, 0.1, 0, "broker")
    e2e = run.e2e_metrics([r], 1.0)
    assert list(e2e) == [m["name"] for m in spec["end_to_end"]]
    assert [u for _, u in e2e.values()] == [m["unit"] for m in spec["end_to_end"]]
    assert list(layers.PER_LAYER) == [m["name"] for m in spec["per_layer"]]
    assert [w["name"] for w in spec["workloads"]] == [w for w in run.WORKLOADS if w != "multitenant"]


def test_open_loop_schedule_and_atomic_segments(tmp_path):
    sched = consume.tail_schedule(100.0, 2)  # 8 ticks: a third low, the rest high
    assert [c for _, c in sched] == [125] * 2 + [500] * 6
    assert [t for t, _ in sched] == [100.0 + k * consume.TICK_S for k in range(8)]

    broker = tmp_path / "broker"
    for p in range(gen.PARTITIONS):
        (broker / "log" / f"partition={p}").mkdir(parents=True)
    now = time.time()
    values = [f"v{i}".encode() for i in range(40)]
    parts = [i % gen.PARTITIONS for i in range(40)]
    prod = Producer(str(broker), values, parts, {p: 5 for p in range(4)}, [(now, 12), (now + 0.05, 28)])
    prod.start()
    prod.join(10)
    assert not prod.is_alive() and prod.error is None
    assert prod.produced == 40 and len(prod.late_s) == 2
    for p in range(gen.PARTITIONS):
        d = broker / "log" / f"partition={p}"
        names = sorted(os.listdir(d))
        assert all(n.endswith(".parquet") for n in names)  # no temp file left
        offs = [o for n in names for o in pq.read_table(d / n)["offset"].to_pylist()]
        assert offs == list(range(5, 15))
    assert prod.produced_by(now) == 12
