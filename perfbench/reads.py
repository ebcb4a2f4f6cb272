"""The read queries of the benchmark's read mix."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_bus_siri_etl_spark import schemas


def rollup(wh) -> DataFrame:
    """Locations and rides per line: the facts-ride_stop-ride-route join an
    analyst runs over the warehouse, so the fact table's file layout is on
    its scan side.  It is the plan of the day-scale ingest tool's read, kept
    here so the benchmark does not depend on a script under tools/."""
    facts = wh.read("siri_vehicle_location", schemas.SIRI_VEHICLE_LOCATION_SCHEMA)
    ride_stops = wh.read("siri_ride_stop", schemas.SIRI_RIDE_STOP_SCHEMA)
    rides = wh.read("siri_ride", schemas.SIRI_RIDE_SCHEMA)
    routes = wh.read("siri_route", schemas.SIRI_ROUTE_SCHEMA)
    return (
        facts.join(
            F.broadcast(ride_stops.withColumnRenamed("id", "rs_id")),
            facts.siri_ride_stop_id == F.col("rs_id"),
        )
        .join(
            F.broadcast(rides.withColumnRenamed("id", "ride_id")),
            F.col("siri_ride_id") == F.col("ride_id"),
        )
        .join(
            F.broadcast(routes.withColumnRenamed("id", "route_id")),
            F.col("siri_route_id") == F.col("route_id"),
        )
        .groupBy("line_ref")
        .agg(
            F.count(F.lit(1)).alias("n_locations"),
            F.countDistinct("siri_ride_id").alias("n_rides"),
        )
    )


def mismatches(report: DataFrame) -> int:
    """Rows of a validate report other than the per-snapshot 'no errors'."""
    return report.filter(F.col("expected") != "no errors").count()
