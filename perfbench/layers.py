"""Spans around the program's public functions, installed by attribute.

Each wrapper replaces a module or class attribute, so calls that look the
name up at call time (``control.heartbeat(...)``, ``wh.upsert_dim(...)``)
and names a module imported with ``from ... import`` are both covered; no
file of the program changes.  ``instrument`` returns a function that puts
every original back.

Spans are named after the module that owns the function.  Some spans also
record counts, taken under ``Tracer.aux`` so they cost the layer nothing:

- ``sources.tables.upsert_dim.<table>``: novelty rows and candidate rows;
- ``sources.tables.write_facts``: fact files and bytes the call added;
- ``sources.tables.overwrite.<table>``: rows rewritten and the rows that
  belong to the batch in progress (dead letters are rewritten whole).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from open_bus_siri_etl_spark import backfill, control, pipeline
from open_bus_siri_etl_spark.sources import tables
from open_bus_siri_etl_spark.streaming import incremental

from spans import Tracer

CONTROL_FUNCTIONS = [
    "get_control_row",
    "start_loading",
    "start_loading_bulk",
    "heartbeat",
    "heartbeat_bulk",
    "mark_loaded",
    "mark_loaded_bulk",
    "register_pending",
    "latest_loaded_snapshot_id",
    "pending_snapshot_ids",
]


def _files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def instrument(tracer: Tracer):
    restore = []

    def wrap(obj, attr, name):
        restore.append(tracer.wrap(obj, attr, name))

    for fn in CONTROL_FUNCTIONS:
        wrap(control, fn, f"control.{fn}")
    wrap(incremental, "process_new_snapshots", "streaming.incremental.process_new_snapshots")
    wrap(backfill, "run_backfill", "backfill.run_backfill")
    wrap(backfill, "plan_batches", "backfill.plan_batches")
    # bound by name in the modules that call them
    wrap(incremental, "process_snapshot", "pipeline.process_snapshot")
    wrap(backfill, "process_snapshots_bulk", "pipeline.process_snapshots_bulk")
    wrap(pipeline, "get_or_create_objects", "operators.upsert.get_or_create_objects")

    # run_core also remembers its batch, for the dead-letter counts below
    batch_ids: list[str] = []
    orig_run_core = pipeline.run_core

    def run_core(wh, snapshots_df, snapshot_ids, *args, **kwargs):
        batch_ids[:] = snapshot_ids
        with tracer.span("pipeline.run_core"):
            return orig_run_core(wh, snapshots_df, snapshot_ids, *args, **kwargs)

    pipeline.run_core = run_core
    restore.append(lambda: setattr(pipeline, "run_core", orig_run_core))

    W = tables.Warehouse
    orig_upsert_dim, orig_write_facts, orig_overwrite = W.upsert_dim, W.write_facts, W.overwrite

    def upsert_dim(self, name, candidates, key_cols):
        with tracer.span(f"sources.tables.upsert_dim.{name}") as s:
            novelty = orig_upsert_dim(self, name, candidates, key_cols)
            with tracer.aux():
                s.counts["novelty_rows"] = novelty.count()
                s.counts["candidate_rows"] = candidates.count()
        return novelty

    def write_facts(self, facts, reload_snapshot_ids):
        with tracer.span("sources.tables.write_facts") as s:
            root = self.table_path(self._FACT_TABLE)
            with tracer.aux():
                before = _files(root)
            orig_write_facts(self, facts, reload_snapshot_ids)
            with tracer.aux():
                added = {p: n for p, n in _files(root).items() if p not in before}
                s.counts["files_written"] = len(added)
                s.counts["bytes_written"] = sum(added.values())

    def overwrite(self, name, df):
        with tracer.span(f"sources.tables.overwrite.{name}") as s:
            orig_overwrite(self, name, df)
            with tracer.aux():
                s.counts["rows_written"] = df.count()
                s.counts["batch_rows"] = df.filter(
                    F.col("snapshot_id").isin(batch_ids)
                ).count()

    for attr, fn in (("upsert_dim", upsert_dim), ("write_facts", write_facts), ("overwrite", overwrite)):
        setattr(W, attr, fn)
    restore.append(lambda: setattr(W, "upsert_dim", orig_upsert_dim))
    restore.append(lambda: setattr(W, "write_facts", orig_write_facts))
    restore.append(lambda: setattr(W, "overwrite", orig_overwrite))

    def undo():
        for r in reversed(restore):
            r()

    return undo


# The benchmark's own read operations open the spans named validate.* and
# read.*: validate_snapshots returns a lazy report, so its span must cover
# the action that counts the report's mismatch rows.

# the spans whose Spark stage counters are reported, besides self_s and jobs
DATA_SPANS = [
    "pipeline.process_snapshot",
    "pipeline.process_snapshots_bulk",
    "pipeline.run_core",
    "sources.tables.upsert_dim.siri_route",
    "sources.tables.upsert_dim.siri_stop",
    "sources.tables.upsert_dim.siri_ride",
    "sources.tables.upsert_dim.siri_ride_stop",
    "sources.tables.write_facts",
    "sources.tables.overwrite.dead_letter",
    "validate.validate_snapshots",
    "read.rollup",
]

CONTROL_SPANS = [f"control.{fn}" for fn in CONTROL_FUNCTIONS]

OTHER_SPANS = [
    "streaming.incremental.process_new_snapshots",
    "backfill.run_backfill",
    "backfill.plan_batches",
    "operators.upsert.get_or_create_objects",
    "read.control_query",
]
