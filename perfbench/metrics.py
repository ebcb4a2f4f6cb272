"""Correctness checks and the metrics of one run."""

from __future__ import annotations

import json
import os
from dataclasses import asdict

from spans import median

TABLE_DIMS = ["siri_route", "siri_stop", "siri_ride", "siri_ride_stop"]


# -- correctness, outside the timed region ------------------------------------


def check(bench) -> dict:
    """Compare the warehouse with what the generator landed.

    The minutes the program loaded are read from the control table.  Every
    ``.json`` minute must be loaded; a ``.json.br`` minute left pending is
    the known defect below, and one that loads is checked like the rest.
    """
    from pyspark.sql import functions as F

    from open_bus_siri_etl_spark import control

    wh, problems = bench.wh, []
    rows = {r["snapshot_id"]: r for r in wh.read("siri_snapshot").collect()}
    loaded, br_pending = [], []
    for sid, brotli in bench.landed.items():
        r, exp = rows.get(sid), bench.expected[sid]
        status = r["etl_status"] if r is not None else "unregistered"
        if status != control.ETL_LOADED:
            if brotli and status == control.ETL_PENDING:
                br_pending.append(sid)
            else:
                problems.append(f"snapshot {sid} is {status}")
            continue
        loaded.append(sid)
        if (
            r["num_successful_parse_vehicle_locations"] != exp["num_successful"]
            or r["num_failed_parse_vehicle_locations"] != exp["num_failed"]
        ):
            problems.append(
                f"snapshot {sid}: control row {r['num_successful_parse_vehicle_locations']}/"
                f"{r['num_failed_parse_vehicle_locations']}, generated "
                f"{exp['num_successful']}/{exp['num_failed']}"
            )
    want_facts = sum(bench.expected[s]["num_successful"] for s in loaded)
    got_facts = wh.read("siri_vehicle_location").count()
    if got_facts != want_facts:
        problems.append(f"fact rows {got_facts}, generated valid visits {want_facts}")
    ids = None
    for dim in TABLE_DIMS:
        one = wh.read(dim).select(F.lit(dim).alias("dim"), "id")
        ids = one if ids is None else ids.unionByName(one)
    for r in ids.groupBy("dim", "id").count().filter("count > 1").groupBy("dim").count().collect():
        problems.append(f"{r['dim']}: {r['count']} duplicate ids")
    per_line: dict[int, int] = {}
    for sid in loaded:
        for line, n in bench.expected[sid]["per_line"].items():
            per_line[int(line)] = per_line.get(int(line), 0) + n
    if {r["line_ref"]: r["n_locations"] for r in bench.rollup_rows} != per_line:
        problems.append("rollup locations per line differ from the generated visits")
    for window, n in bench.validated:
        if n:
            problems.append(f"validate reported {n} mismatches over {window[0]}..{window[-1]}")
    if bench.failed:
        problems.append(f"{bench.failed} operations raised")

    # Known defect, reported but not counted against correctness: a minute
    # landed as .json.br is registered pending, and the daemon tick, which
    # looks for .json only, never loads it.
    if br_pending:
        n_br = sum(bench.landed.values())
        bench.notes.append(
            f"known defect: {len(br_pending)} of {n_br} minutes landed as "
            ".json.br were registered pending and never loaded by the daemon tick"
        )
    return {"problems": problems, "br_minutes_unloaded": len(br_pending)}


# -- end-to-end metrics ---------------------------------------------------------


def _ops(bench, kind):
    return [o for o in bench.ops if o["kind"] == kind and o["ok"]]


def _ingest(bench):
    return [o for o in bench.ops if o["kind"] in ("tick", "batch") and o["ok"]]


def total_jobs(tracer, span) -> int:
    return sum(s.jobs for s in tracer.subtree(span))


def end_to_end(bench) -> dict:
    ingest = _ingest(bench)
    loading = [o for o in ingest if o["loads"]]
    t = bench.tracer
    return {
        "setup_s": bench.setup_s,
        "ingest_p50_s": median(o["span"].duration_s for o in loading),
        "ingest_jobs_p50": median(total_jobs(t, o["span"]) for o in loading),
        "snapshots_per_s": sum(o["loads"] for o in ingest)
        / sum(o["span"].duration_s for o in ingest),
        # the fastest cycle: the first is cold, and a slow phase of a shared
        # host that lasts a few seconds lands on only some of them
        "read_cycle_s": min(
            (o["span"].duration_s for o in _ops(bench, "read_cycle")), default=0.0
        ),
    }


# -- per-layer metrics ------------------------------------------------------------


def per_layer(bench, checks) -> dict:
    import layers

    t = bench.tracer
    out: dict[str, float] = {}
    # spans of the measured operations only, not of the set-up
    measured = {id(s) for o in bench.ops for s in t.subtree(o["span"])}

    def spans(name):
        return [s for s in t.by_name(name) if id(s) in measured]

    for name in layers.CONTROL_SPANS + layers.OTHER_SPANS + layers.DATA_SPANS:
        ss = spans(name)
        out[f"{name}.self_s"] = median(s.self_s for s in ss)
        out[f"{name}.jobs"] = median(s.jobs for s in ss)
    for name in layers.DATA_SPANS:
        ss = spans(name)
        out[f"{name}.stages"] = median(s.stages for s in ss)
        out[f"{name}.executor_cpu_ms"] = median(s.executor_cpu_ms for s in ss)
        out[f"{name}.input_bytes"] = median(s.input_bytes for s in ss)
        out[f"{name}.shuffle_bytes"] = median(s.shuffle_bytes for s in ss)
    for dim in TABLE_DIMS:
        ss = spans(f"sources.tables.upsert_dim.{dim}")
        cand = sum(s.counts["candidate_rows"] for s in ss)
        nov = sum(s.counts["novelty_rows"] for s in ss)
        out[f"sources.tables.upsert_dim.{dim}.novelty_ratio"] = nov / cand if cand else 0.0
    ss = spans("sources.tables.write_facts")
    out["sources.tables.write_facts.files_written"] = median(s.counts["files_written"] for s in ss)
    out["sources.tables.write_facts.bytes_written"] = median(s.counts["bytes_written"] for s in ss)
    ss = spans("sources.tables.overwrite.dead_letter")
    out["sources.tables.overwrite.dead_letter.rewrite_amplification"] = median(
        s.counts["rows_written"] / max(1, s.counts["batch_rows"]) for s in ss
    )
    out["validate.validate_snapshots.mismatches"] = sum(n for _w, n in bench.validated)
    out["control.log_files"] = bench.wh.n_files("siri_snapshot")
    out["streaming.incremental.br_minutes_unloaded"] = checks["br_minutes_unloaded"]

    # Share of an ingest operation's time that the layer spans below its
    # entry point account for: 1 - (self time of the operation and of its
    # entry function) / (duration - observation time).
    entry = {"op.tick", "op.batch", "streaming.incremental.process_new_snapshots", "backfill.run_backfill"}
    loading = [o for o in _ingest(bench) if o["loads"]]
    # The split of that time between the data layers (snapshot read,
    # flatten/parse, dimension upserts, fact and dead-letter writes) and the
    # control table's bookkeeping.
    data_layers = ("pipeline.", "operators.", "sources.tables.")
    cover, data, ctrl = [], [], []
    for o in loading:
        sub = t.subtree(o["span"])
        observed = o["span"].duration_s - sum(s.aux_s for s in sub)
        unattributed = sum(s.self_s for s in sub if s.name in entry)
        cover.append(1.0 - unattributed / observed)
        data.append(sum(s.self_s for s in sub if s.name.startswith(data_layers)) / observed)
        ctrl.append(sum(s.self_s for s in sub if s.name.startswith("control.")) / observed)
    out["perfbench.ingest_coverage"] = median(cover)
    out["perfbench.ingest_data_share"] = median(data)
    out["perfbench.ingest_control_share"] = median(ctrl)
    out["perfbench.traced_ingest_p50_s"] = median(o["span"].duration_s for o in loading)
    out["perfbench.aux_s_per_ingest_op"] = median(
        sum(s.aux_s for s in t.subtree(o["span"])) for o in loading
    )
    return out


# -- process-level --------------------------------------------------------------------


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, in MiB."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        # a JVM that writes the class-data archive takes longer to exit
        proc.wait(timeout=300)


def dump(bench, args, checks, values, out_dir) -> None:
    """Write the run's operations and spans for later inspection."""
    os.makedirs(out_dir, exist_ok=True)
    t = bench.tracer
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "setup_s": bench.setup_s,
        "checks": checks,
        "notes": bench.notes,
        "metrics": values,
        "ops": [
            {
                "kind": o["kind"],
                "ok": o["ok"],
                "duration_s": o["span"].duration_s,
                "jobs": total_jobs(t, o["span"]),
                "loads": o["loads"],
            }
            for o in bench.ops
        ],
        "spans": [
            {**asdict(s), "duration_s": s.duration_s, "self_s": s.self_s}
            for s in t.spans
        ],
    }
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
