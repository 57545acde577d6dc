"""CDC consumer benchmark — one command, three seeded workloads.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

``--workload`` is ``backfill``, ``multitenant``, ``live_tail`` or ``all``
(every workload in one session, reported under workload-prefixed names).
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics of `BENCHMARK.json`; ``--trace 1`` runs the workload
untraced and traced and reports the per-layer metrics, and writes the spans
to ``.bench_work/spans-<workload>-<seed>.jsonl``.

Everything the run writes stays under ``.bench_work/`` in the current
directory (Spark scratch space, brokers, checkpoints, temp files).
See NOTES.md for why each workload exists and which layer metric should
move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("backfill", "multitenant", "live_tail")
SETUP_REPEATS = 3
BACKFILL_N = 30_000
MULTITENANT_N = 120_000
CORES = 4


def _log(msg: str) -> None:
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def _environment(work: str) -> str:
    """Point every scratch path of this process and its children (Python
    temp files, Spark's launcher and driver JVMs, the Python workers) into
    ``work``; returns the temp directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    # HotSpot writes /tmp/hsperfdata_<user> unless perf data is off
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    # Spark's Python workers import the engine and the plan encoder
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return tmp


def _session(work: str, tmp: str):
    """The engine's own session factory on local[4], with every scratch
    path inside ``work``."""
    from flink_dts_connector_spark.session import get_spark
    from flink_dts_connector_spark.sources.fakebroker import register_fake_broker

    spark = get_spark(
        app_name="cdcbench",
        cpus=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_fake_broker(spark)
    return spark


def _shutdown(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: it exits
    when its stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


class Bench:
    def __init__(self, ctx, workload: str, seed: int, seconds: int):
        self.ctx, self.workload, self.seed, self.seconds = ctx, workload, seed, seconds
        self.setup_times: list[float] = []
        self.inp = None
        self.checked: list = []  # every round whose output was checked
        self._n = 0

    def _dir(self, kind: str) -> str:
        self._n += 1
        d = self.ctx.path(f"{self.workload}-{kind}-{self._n}")
        os.makedirs(d)
        return d

    def setup(self):
        from cdcbench import consume

        d = self._dir("in")
        if self.workload == "backfill":
            return consume.setup_backfill(self.ctx, self.seed, BACKFILL_N, d)
        if self.workload == "multitenant":
            return consume.setup_multitenant(self.ctx, self.seed, MULTITENANT_N, d)
        return consume.setup_tail(self.ctx, self.seed, self.seconds, d)

    def timed_setup(self) -> None:
        """Set up ``SETUP_REPEATS`` times; the first repeat also pays the
        session's cold start, which the median leaves out."""
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            inp = self.setup()
            self.setup_times.append(time.perf_counter() - t)
            self.inp = inp

    def round(self, inp):
        from cdcbench import consume

        d = self._dir("run")
        if self.workload == "backfill":
            return consume.run_backfill(self.ctx, inp, d)
        if self.workload == "multitenant":
            return consume.run_multitenant(self.ctx, inp, d)
        return consume.run_tail(self.ctx, inp, d, self.seconds)

    def measure(self) -> list:
        """Rounds on the set-up input until ``seconds`` are used (at least
        one); the live tail is one round that lasts ``seconds``. Nothing
        warms the streaming path first: the set-ups have warmed Spark's
        batch path, and a backfill consumer pays its streaming cold start on
        every run. The live tail's prefix drain and low-rate phase come
        before the high-rate phase its end-to-end metrics report."""
        rounds, t0 = [], time.time()
        while True:
            r = self.round(self.inp)
            rounds.append(r)
            self.checked.append(r)
            _log(f"{self.workload} round: {r.records} rec in {r.wall_s:.2f}s "
                 f"p50={r.p50_s:.3f} p99={r.p99_s:.3f} restart={r.restart_s:.3f} failed={r.failed}")
            if self.workload == "live_tail" or time.time() - t0 + r.wall_s > self.seconds:
                return rounds


def e2e_metrics(rounds: list, setup_s: float) -> dict:
    med = statistics.median
    return {
        "setup_s": (setup_s, "s"),
        "rps": (med([r.rps for r in rounds]), "1/s"),
        "fresh_p50_s": (med([r.p50_s for r in rounds]), "s"),
        "fresh_p99_s": (med([r.p99_s for r in rounds]), "s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any work, when the engine is not beside us
    import flink_dts_connector_spark.sources.fakebroker  # noqa: F401
    from cdcbench import consume, layers
    from cdcbench.trace import RssSampler, Tracer

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = _environment(work)
    rss = RssSampler().start()
    spark = None
    try:
        t = time.perf_counter()
        spark = _session(work, tmp)
        session_s = time.perf_counter() - t
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        results = {}
        for name in names:
            ctx = consume.Ctx(spark, work, Tracer(False))
            bench = Bench(ctx, name, args.seed, args.seconds)
            bench.timed_setup()
            _log(f"session {session_s:.1f}s, set-ups {[round(x, 2) for x in bench.setup_times]}")
            rounds = bench.measure()
            traced = None
            if args.trace:
                # the first rounds pay the streaming cold start; untraced
                # rounds after them are the baseline the traced rounds are
                # compared with
                base = bench.measure()
                tctx = consume.Ctx(spark, work, Tracer(True))
                tbench = Bench(tctx, name, args.seed, args.seconds)
                tbench.inp = bench.inp
                traced = tbench.measure()
                bench.checked += tbench.checked
                tctx.tracer.write(os.path.join(os.getcwd(), ".bench_work", f"spans-{name}-{args.seed}.jsonl"))
                results[name] = (bench, rounds, traced, layers.per_layer(ctx, name, base, traced, tctx.tracer, rss.peak_mb))
            else:
                results[name] = (bench, rounds, None, None)
    finally:
        if spark is not None:
            _shutdown(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    checked = [r for bench, *_ in results.values() for r in bench.checked]
    attempted = sum(r.records for r in checked)
    failed = sum(r.failed for r in checked)
    if args.trace:
        metrics = {}
        for name, (_, _, _, per_layer) in results.items():
            prefix = "" if args.workload != "all" else f"{name}."
            metrics.update({prefix + k: v for k, v in per_layer.items()})
    elif args.workload == "all":
        metrics = layers.all_summary(results, session_s, peak_mb, attempted, failed)
    else:
        bench, rounds, _, _ = results[args.workload]
        setup_s = session_s + statistics.median(bench.setup_times)
        metrics = e2e_metrics(rounds, setup_s)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
