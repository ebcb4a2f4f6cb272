"""The repository's benchmark: SIRI ingest as the daemon and the backfill run it.

Run from the root of a checkout:

    python3 perfbench/run.py --workload daemon_tick --seed 1 --seconds 20 --trace 0

Workloads (one closed-loop client, Spark ``local[min(2, cpus)]``):

- ``daemon_tick``: set-up loads the first two minutes of the feed with a
  daemon tick each, which warms the tick's code path and fills the
  dimensions, so novelty is at its steady state.  Each ingest operation
  then lands the next minute and runs one daemon tick,
  ``streaming.incremental.process_new_snapshots(now=<that minute>)``.  One
  minute in three lands as ``.json.br``, the reference's native format.
- ``backfill_read``: set-up drains a few minutes through the backfill path
  to warm it.  Each ingest operation then registers a landed hour
  (``control.register_pending``) and drains it with
  ``backfill.run_backfill``: one hourly batch.

The feed is generated while the JVM starts (perfbench/siri_gen.py).  Each
workload runs read cycles over the warehouse it wrote: the health-style
control reads and the facts-ride_stop-ride-route rollup, one after each
tick on ``daemon_tick`` and three after the batch on ``backfill_read``,
which then runs ``validate_snapshots`` once, over a random window.
``--seconds`` sizes this plan (see ``plan``), so the same arguments always
run the same operations.

The driver JVM loads its classes from a class-data archive,
``.perfbench_cache/spark-classes.jsa``, which the first run in a checkout
writes when its JVM exits; later runs start faster.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1`` puts spans
around the program's layers (perfbench/layers.py) and reports the per-layer
metrics.  Operations and spans are also written to
``.perfbench_out/<workload>-seed<seed>-trace<k>.json``.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import random
import shutil
import sys
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("daemon_tick", "backfill_read")
CACHE = os.path.join(ROOT, ".perfbench_cache")
ARCHIVE = os.path.join(CACHE, "spark-classes.jsa")

# Plan sizes: assumptions of the benchmark (see NOTES.md); the feed's own
# shape is in siri_gen.py.
BATCH_MINUTES = 60  # backfill.DEFAULT_BATCH_MINUTES: the reference's hourly batch
WARMUP_MINUTES = 3  # backfill_read: a small batch drained during set-up
PRESEED_MINUTES = 2  # daemon_tick: minutes loaded by ticks during set-up
READ_CYCLES = 3  # backfill_read: read cycles after each batch; read_cycle_s is the fastest
VALIDATE_MINUTES = 2  # backfill_read: width of the random validate window
START = datetime.datetime(2024, 3, 4, 5, 0)


def plan(workload: str, seconds: float) -> dict:
    """Operations a run measures: one unit per 20 s of ``--seconds``."""
    n = max(1, int(seconds // 20))
    if workload == "daemon_tick":
        # a .json minute, a .json.br minute, a .json minute; a read cycle
        # after each
        return {"ticks": 3 * n}
    return {"batches": n, "read_cycles": READ_CYCLES * n}


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _minute(snapshot_id: str) -> datetime.datetime:
    return datetime.datetime.strptime(snapshot_id, "%Y/%m/%d/%H/%M")


class Bench:
    """One run: the session, the generated feed, the warehouse and the log
    of measured operations."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.plan = plan(args.workload, args.seconds)
        self.rng = random.Random(args.seed)
        self.ops: list[dict] = []
        self.expected: dict[str, dict] = {}  # snapshot_id -> generator counts
        self.landed: dict[str, bool] = {}  # snapshot_id -> landed as .json.br
        self.rollup_rows: list = []
        self.validated: list[tuple[list[str], int]] = []  # (window, mismatches)
        self.failed = 0
        self.notes: list[str] = []
        self.new_archive = None  # set when this run writes the class-data archive

    # -- set-up -----------------------------------------------------------

    def start_spark(self) -> None:
        from open_bus_siri_etl_spark.session import get_spark

        # two task threads: the other cores go to the threads the short jobs
        # wait on (Spark's scheduler, Python, JIT, GC); on a shared 4-core
        # host the read cycles were steadier than with three (see NOTES.md)
        cpus = min(2, os.cpu_count() or 1)
        tmp = os.environ["TMPDIR"]
        if os.path.isfile(ARCHIVE):
            archive = f"-XX:SharedArchiveFile={ARCHIVE}"
        else:
            self.new_archive = os.path.join(self.work, "spark-classes.jsa")
            archive = f"-XX:ArchiveClassesAtExit={self.new_archive}"
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                # the JVM's warnings (classes it cannot archive) would mix
                # with the result on standard output
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"{archive} -Xlog:disable -Xlog:all=error:stderr",
                "spark.ui.showConsoleProgress": "false",
                # keep every job of the run in the status store for the
                # job and stage counts read when the run ends
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    def trace(self) -> None:
        from spans import Tracer

        self.tracer = Tracer(self.sc)
        if self.args.trace:
            import layers

            self.undo_instrument = layers.instrument(self.tracer)

    def minutes(self, feed, n: int, brotli: bool = False) -> list[tuple[str, bytes, bool]]:
        """Generate the next ``n`` minutes: (snapshot_id, file bytes, brotli)."""
        import siri_gen

        out = []
        for _ in range(n):
            sid, doc, expected = feed.next_minute()
            self.expected[sid] = expected
            out.append((sid, siri_gen.encode(doc, brotli), brotli))
        return out

    def land(self, landing: str, minute) -> str:
        import siri_gen

        sid, payload, brotli = minute
        siri_gen.land(landing, sid, payload, brotli=brotli)
        self.landed[sid] = brotli
        return sid

    # -- measured operations ------------------------------------------------

    def op(self, kind: str, span_name: str, fn, loads=None):
        """Run one operation inside a span; ``loads(result)`` is the number
        of snapshots it loaded.  An exception is counted as a failed
        operation and the run goes on."""
        with self.tracer.span(span_name) as s:
            try:
                result, ok = fn(), True
            except Exception as e:
                import traceback

                traceback.print_exc()
                self.notes.append(f"{kind} failed: {e!r}"[:300])
                result, ok = None, False
                self.failed += 1
        n = loads(result) if ok and loads is not None else 0
        self.ops.append({"kind": kind, "span": s, "ok": ok, "loads": n})
        return result

    def read_cycle(self, wh) -> None:
        """One read cycle: the health-style control reads and the rollup."""
        from open_bus_siri_etl_spark import backfill, control

        import reads

        def cycle():
            with self.tracer.span("read.control_query"):
                control.latest_loaded_snapshot_id(wh)
                control.pending_snapshot_ids(wh)
                backfill.plan_batches(wh).collect()
            with self.tracer.span("read.rollup"):
                self.rollup_rows = reads.rollup(wh).collect()

        self.op("read_cycle", "op.read_cycle", cycle)

    def validate(self, wh, landing: str) -> None:
        """``validate_snapshots`` over a random window; its mismatches are a
        correctness check."""
        from open_bus_siri_etl_spark import validate

        import reads

        ids = list(self.landed)
        i = self.rng.randrange(max(1, len(ids) - VALIDATE_MINUTES + 1))
        window = ids[i : i + VALIDATE_MINUTES]

        def run_validate():
            report = validate.validate_snapshots(self.spark, wh, landing, window)
            self.validated.append((window, reads.mismatches(report)))

        # the span covers the action that counts the lazy report's rows
        self.op("validate", "validate.validate_snapshots", run_validate)

    # -- workloads ------------------------------------------------------------

    def daemon_tick(self, t_setup0: float) -> None:
        import siri_gen

        from open_bus_siri_etl_spark.sources.tables import Warehouse
        from open_bus_siri_etl_spark.streaming import incremental

        landing = os.path.join(self.work, "landing")
        feed = siri_gen.Feed(self.args.seed, START)
        preseed, measured = [], []

        def generate():
            preseed.extend(self.minutes(feed, PRESEED_MINUTES))
            for i in range(self.plan["ticks"]):
                measured.extend(self.minutes(feed, 1, brotli=i % 3 == 1))

        _while(generate, self.start_spark)
        self.trace()
        self.wh = wh = Warehouse(self.spark, os.path.join(self.work, "warehouse"))

        def tick(sid):
            return incremental.process_new_snapshots(self.spark, wh, landing, now=_minute(sid))

        # set-up: the first tick is cold and loads the dimensions, so the
        # measured ticks see near steady-state novelty; the second is still
        # ~1 s slower than the ticks after it, and when it was measured it
        # wrote one more heartbeat (~2 s) in 4 runs of 10
        for m in preseed:
            tick(self.land(landing, m))
        self.setup_s = time.perf_counter() - t_setup0

        # a read cycle after each tick: the cycles are spread over the run,
        # so a slow phase of a shared host that lasts some seconds slows
        # only some of them, and read_cycle_s is the fastest
        for m in measured:
            sid = self.land(landing, m)
            self.op("tick", "op.tick", lambda: tick(sid), loads=lambda r: r["processed"])
            self.read_cycle(wh)

    def backfill_read(self, t_setup0: float) -> None:
        import siri_gen

        from open_bus_siri_etl_spark import backfill, control
        from open_bus_siri_etl_spark.sources.tables import Warehouse

        landing = os.path.join(self.work, "landing")
        feed = siri_gen.Feed(self.args.seed, START)
        warm = [self.land(landing, m) for m in self.minutes(feed, WARMUP_MINUTES)]
        hours = []

        def generate():
            for _ in range(self.plan["batches"]):
                hours.append([self.land(landing, m) for m in self.minutes(feed, BATCH_MINUTES)])

        def batch(ids):
            control.register_pending(self.wh, ids)
            r = backfill.run_backfill(self.spark, self.wh, landing)
            if r["processed"] != len(ids) or r["failed"]:
                raise RuntimeError(f"backfill of {len(ids)} snapshots returned {r}")
            return r

        def warm_up():
            # set-up: a small batch through the same path warms it
            self.start_spark()
            self.trace()
            self.wh = Warehouse(self.spark, os.path.join(self.work, "warehouse"))
            batch(warm)

        _while(generate, warm_up)
        self.setup_s = time.perf_counter() - t_setup0

        for ids in hours:
            self.op("batch", "op.batch", lambda: batch(ids), loads=lambda r: r["processed"])
        for _ in range(self.plan["read_cycles"]):
            self.read_cycle(self.wh)
        self.validate(self.wh, landing)


def _while(background, foreground) -> None:
    """Run ``background`` in a thread while ``foreground`` runs: the feed is
    generated while the JVM starts and warms up, which wait on another
    process, not on Python."""
    error: list[BaseException] = []

    def run():
        try:
            background()
        except BaseException as e:
            error.append(e)

    t = threading.Thread(target=run)
    t.start()
    try:
        foreground()
    finally:
        t.join()
    if error:
        raise error[0]


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, "open_bus_siri_etl_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (no open_bus_siri_etl_spark/)", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    # temporary files of Python and the JVMs stay inside the checkout
    # (spark-submit's launcher JVM takes SPARK_LAUNCHER_OPTS only)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.makedirs(os.environ["TMPDIR"])
    # A class-data archive cannot record a class path that holds a non-empty
    # directory, and Spark puts its conf directory on it.  The benchmark sets
    # its whole configuration itself, so an empty directory takes its place,
    # at a fixed path because the archive records the class path.
    os.environ["SPARK_CONF_DIR"] = os.path.join(CACHE, "conf")
    os.makedirs(os.environ["SPARK_CONF_DIR"], exist_ok=True)
    sys.path[:0] = [ROOT, HERE]

    import metrics

    bench = Bench(args, work)
    try:
        getattr(bench, args.workload)(time.perf_counter())
        if args.trace:
            bench.undo_instrument()
        bench.tracer.resolve(stage_metrics=bool(args.trace))
        checks = metrics.check(bench)
        if args.trace:
            values = metrics.per_layer(bench, checks)
            values["jvm.peak_rss_mb"] = metrics.peak_rss_mb(bench.spark)
        else:
            values = metrics.end_to_end(bench)
        metrics.dump(bench, args, checks, values, os.path.join(ROOT, ".perfbench_out"))
    finally:
        if hasattr(bench, "spark"):
            metrics.stop_spark(bench.spark)
            if bench.new_archive and os.path.isfile(bench.new_archive):
                os.replace(bench.new_archive, ARCHIVE)
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if args.trace else "end_to_end"
    missing = [m["name"] for m in spec[key] if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    for line in checks["problems"] + bench.notes:
        print(f"perfbench: {line}")
    result = {
        "correct": not checks["problems"],
        "attempted": len(bench.ops),
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[key]},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
