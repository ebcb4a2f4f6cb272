"""Seeded synthetic SIRI-SM snapshot feed.

One ``Feed`` models a bus network minute by minute: a route pool, a stop
pool (each route walks a fixed sequence of stops), and a fleet of vehicles.
Every active ride emits one MonitoredStopVisit per minute; a ride advances
along its route's stops, and when it passes the last stop it ends and a new
ride (new journey ref, free vehicle, random route) takes its place.  So most
rides, stops and routes recur from minute to minute, and ride and ride-stop
novelty comes from rides advancing and turning over, as in a real feed.

A share of visits lacks ``VehicleLocation`` (the parser dead-letters them),
and a share of those invalid visits is repeated verbatim, like the
duplicated invalid pair in the reference's golden fixture.  Valid visits are
never duplicated: ``validate`` reports a repeated observation key as a
mismatch by design.

The shape numbers are assumptions of the benchmark, not measured traffic.
"""

from __future__ import annotations

import datetime
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa

# Israeli SIRI feeds stamp local time with a fixed +03:00 offset in the
# reference's fixtures; the warehouse stores UTC.
_OFFSET = datetime.timedelta(hours=3)
_TS = "%Y-%m-%dT%H:%M:%S+03:00"


# The feed's shape (see NOTES.md for the table).
VISITS = 2000  # active rides, hence valid visits (plus invalid ones) per minute
ROUTES = 300
STOPS = 600  # small enough that one minute visits almost every stop
STOPS_PER_ROUTE = 30
VEHICLES = 2600
ADVANCE_PROB = 0.5  # chance a ride moves to its next stop per minute
INVALID_SHARE = 0.02  # visits without VehicleLocation
DUPLICATE_SHARE = 0.5  # invalid visits that appear twice


@dataclass
class _Ride:
    route: int
    vehicle: str
    journey: str
    scheduled: datetime.datetime
    pos: int


class Feed:
    def __init__(self, seed: int, start: datetime.datetime):
        self.rng = random.Random(seed)
        rng = self.rng
        self.now = start
        codes = rng.sample(range(10000, 99999), STOPS)
        self.route_refs = [
            (str(rng.randint(1, 40)), str(1000 + i)) for i in range(ROUTES)
        ]  # (OperatorRef, LineRef); LineRef unique per route
        self.route_stops = [
            rng.sample(codes, STOPS_PER_ROUTE) for _ in range(ROUTES)
        ]
        self.free_vehicles = [str(7000000 + i) for i in range(VEHICLES)]
        rng.shuffle(self.free_vehicles)
        self._journey_seq = rng.randint(10_000_000, 20_000_000)
        self.rides = [self._new_ride(fresh=True) for _ in range(VISITS)]

    def _new_ride(self, fresh: bool = False) -> _Ride:
        rng = self.rng
        self._journey_seq += rng.randint(1, 50)
        route = rng.randrange(ROUTES)
        pos = rng.randrange(STOPS_PER_ROUTE) if fresh else 0
        return _Ride(
            route=route,
            vehicle=self.free_vehicles.pop(),
            journey=str(self._journey_seq),
            scheduled=self.now - datetime.timedelta(minutes=2 * pos + rng.randint(0, 9)),
            pos=pos,
        )

    def _visit(self, ride: _Ride, valid: bool) -> dict:
        rng = self.rng
        local = self.now + _OFFSET
        operator_ref, line_ref = self.route_refs[ride.route]
        mvj = {
            "LineRef": line_ref,
            "FramedVehicleJourneyRef": {
                "DataFrameRef": (ride.scheduled + _OFFSET).strftime("%Y-%m-%d"),
                "DatedVehicleJourneyRef": ride.journey,
            },
            "OperatorRef": operator_ref,
            "OriginAimedDepartureTime": (ride.scheduled + _OFFSET).strftime(_TS),
            "Bearing": str(rng.randrange(360)),
            "Velocity": str(rng.randrange(90)),
            "VehicleRef": ride.vehicle,
            "MonitoredCall": {
                "StopPointRef": str(self.route_stops[ride.route][ride.pos]),
                "Order": str(ride.pos + 1),
                "DistanceFromStop": str(rng.randrange(20000)),
            },
        }
        if valid:
            mvj["VehicleLocation"] = {
                "Longitude": f"{34.6 + rng.random() * 0.6:.6f}",
                "Latitude": f"{31.6 + rng.random() * 0.8:.6f}",
            }
        return {
            "RecordedAtTime": (local + datetime.timedelta(seconds=rng.randrange(60))).strftime(_TS),
            "MonitoredVehicleJourney": mvj,
        }

    def next_minute(self) -> tuple[str, dict, dict]:
        """Advance one minute: (snapshot_id, document, expected), where
        ``expected`` holds the valid and invalid visit counts the control row
        must show and the valid visits per LineRef."""
        rng = self.rng
        visits = []
        n_valid = n_invalid = 0
        per_line: dict[str, int] = {}
        for ride in self.rides:
            valid = rng.random() >= INVALID_SHARE
            v = self._visit(ride, valid)
            visits.append(v)
            if valid:
                n_valid += 1
                line = v["MonitoredVehicleJourney"]["LineRef"]
                per_line[line] = per_line.get(line, 0) + 1
            else:
                n_invalid += 1
                if rng.random() < DUPLICATE_SHARE:
                    visits.append(json.loads(json.dumps(v)))
                    n_invalid += 1
        rng.shuffle(visits)
        sid = self.now.strftime("%Y/%m/%d/%H/%M")
        stamp = (self.now + _OFFSET + datetime.timedelta(seconds=45)).strftime(_TS)
        doc = {
            "Siri": {
                "ServiceDelivery": {
                    "ResponseTimestamp": stamp,
                    "ProducerRef": "perfbench",
                    "Status": "true",
                    "StopMonitoringDelivery": [
                        {"ResponseTimestamp": stamp, "Status": "true", "MonitoredStopVisit": visits}
                    ],
                }
            }
        }
        # move the fleet: rides advance, finished rides hand their vehicle back
        for i, ride in enumerate(self.rides):
            if rng.random() < ADVANCE_PROB:
                ride.pos += 1
            if ride.pos >= STOPS_PER_ROUTE:
                self.free_vehicles.insert(0, ride.vehicle)
                self.rides[i] = self._new_ride()
        self.now += datetime.timedelta(minutes=1)
        expected = {"num_successful": n_valid, "num_failed": n_invalid, "per_line": per_line}
        return sid, doc, expected


def encode(doc: dict, brotli: bool = False) -> bytes:
    """A document as the bytes of a landed ``.json`` or ``.json.br`` file."""
    payload = json.dumps(doc).encode("utf-8")
    return pa.compress(payload, codec="brotli", asbytes=True) if brotli else payload


def land(root: str, snapshot_id: str, payload: bytes, brotli: bool = False) -> str:
    """Write encoded bytes at ``<root>/<snapshot_id>.json[.br]``, the landing
    layout the ETL discovers; returns the path."""
    path = os.path.join(root, snapshot_id + (".json.br" if brotli else ".json"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(payload)
    return path
