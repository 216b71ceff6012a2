"""Seeded input generator for the product-pipeline benchmark.

Writes everything the program under test receives, under one directory:

- ``gtfs/``: the five GTFS static CSVs (stop_times, trips, calendar_dates,
  stops, routes) that ``pipeline.ingest_schedule`` reads;
- ``state/seed_feed.parquet``: decoded feed messages holding the
  ``trip_updates`` rows stored before the first poll;
- ``polls/poll_NNNN.pb``: one GTFS-RT FeedMessage per poll, encoded with
  ``sources.gtfs_rt_wire.encode_feed_message``;
- ``ledger.json``: the expected committed state after each number of
  polls, which the benchmark's output check compares against.

A *unit* is one (trip, service date): ``stops_per_trip`` rows of a table
share it. The seeded state covers every unit of the history dates and a
share of the last date ("today"); polls touch today only. Each poll mixes
new units (never stored), changed units (stored, every tracked time
differs) and re-delivered units (stored, sent again unchanged). Delays are
whole minutes, so the sum of ``arrival_time_diff_in_minutes`` is exact.

Run ``python3 perfbench/gen.py OUT_DIR --workload NAME --seed N`` to write
one workload's inputs.
"""

from __future__ import annotations

import argparse
import calendar
import datetime as dt
import json
import os
import sys
from dataclasses import asdict, dataclass
from zoneinfo import ZoneInfo

import numpy as np

TZ = "America/Toronto"
FIRST_DATE = dt.date(2026, 6, 1)  # a week without a DST change
#: ``created_at`` / ``poll_ts`` / ``audit_ts`` of every seeded row
SEED_TS = 1780000000
#: header timestamp of poll 0; poll k is one minute after poll k-1
POLL_TS0 = SEED_TS + 86400
MISSING = np.int16(-32768)
N_STOPS = 500
STOP_ID0 = 1000
WEATHER = (800, "clear sky", 291.15)
SEED_UNITS_PER_ROW = 200


@dataclass(frozen=True)
class Spec:
    """Size and mix of one workload's inputs."""

    trips: int
    dates: int
    #: share of today's units stored before the first poll
    seeded_today: float
    polls: int
    stops_per_trip: int = 30
    poll_units: int = 200
    #: new / changed / re-delivered shares of a poll's units
    mix: tuple[float, float, float] = (1 / 3, 1 / 3, 1 / 3)
    #: share of realtime times that are absent (stored as epoch 0)
    missing: float = 0.1


WORKLOADS = ("realtime_trickle", "freshness_cycle")
SPECS = {
    "realtime_trickle": Spec(
        trips=6000, dates=7, seeded_today=0.5, polls=18
    ),
    "freshness_cycle": Spec(
        trips=3000, dates=1, seeded_today=0.3, polls=26
    ),
    "tiny": Spec(
        trips=40, dates=2, seeded_today=0.5, polls=5, stops_per_trip=5, poll_units=9
    ),
}


def _dates(spec: Spec) -> list[dt.date]:
    return [FIRST_DATE + dt.timedelta(days=d) for d in range(spec.dates)]


def _utc_midnight_offsets(dates: list[dt.date]) -> np.ndarray:
    """Unix seconds of local midnight of each service date in ``TZ``."""
    zone = ZoneInfo(TZ)
    out = []
    for d in dates:
        local = dt.datetime(d.year, d.month, d.day, 12, tzinfo=zone)
        off = int(local.utcoffset().total_seconds())
        out.append(calendar.timegm(d.timetuple()) - off)
    return np.array(out, dtype=np.int64)


def _hms(seconds: np.ndarray) -> list[str]:
    return [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in seconds.tolist()]


class _Feed:
    """The schedule plus the simulated store, unit by unit."""

    def __init__(self, spec: Spec, rng: np.random.Generator):
        T, S = spec.trips, spec.stops_per_trip
        self.spec = spec
        self.rng = rng
        self.trip_ids = np.array([f"T{t:06d}" for t in range(T)])
        seqs = np.arange(S)
        self.stop_ids = STOP_ID0 + (np.arange(T)[:, None] * 13 + seqs[None, :] * 7) % N_STOPS
        start = 5 * 3600 + rng.integers(0, 17 * 60, size=T) * 60
        self.arr_clock = start[:, None] + seqs[None, :] * 120  # [T, S]
        self.dep_clock = self.arr_clock + 30
        self.dates = _dates(spec)
        self.midnight = _utc_midnight_offsets(self.dates)
        # realtime delay in minutes per unit (u = d * T + t) and stop
        U = spec.dates * T
        self.arr_delay = np.full((U, S), MISSING, dtype=np.int16)
        self.dep_delay = np.full((U, S), MISSING, dtype=np.int16)
        self.stored = np.zeros(U, dtype=bool)
        self.changed = np.zeros(U, dtype=bool)

    def unit(self, u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        return u // self.spec.trips, u % self.spec.trips

    def draw(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """Fresh (arrival, departure) delays for ``n`` units."""
        S, p = self.spec.stops_per_trip, self.spec.missing
        a = self.rng.integers(-2, 13, size=(n, S)).astype(np.int16)
        b = self.rng.integers(-2, 13, size=(n, S)).astype(np.int16)
        a[self.rng.random((n, S)) < p] = MISSING
        b[self.rng.random((n, S)) < p] = MISSING
        return a, b

    def change(self, u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """New delays for stored units: the arrival always differs."""
        old = self.arr_delay[u]
        a, b = self.draw(len(u))
        bump = self.rng.integers(1, 4, size=old.shape).astype(np.int16)
        a = np.where(old == MISSING, np.abs(a % 13), old + bump).astype(np.int16)
        return a, b

    def store(self, u: np.ndarray, a: np.ndarray, b: np.ndarray) -> None:
        self.arr_delay[u], self.dep_delay[u] = a, b
        self.stored[u] = True

    def unix(self, u: np.ndarray, delay: np.ndarray, clock: np.ndarray) -> np.ndarray:
        """Realtime unix seconds (0 where the time is absent) for units ``u``."""
        d, t = self.unit(u)
        sched = self.midnight[d][:, None] + clock[t]
        return np.where(delay == MISSING, 0, sched + delay.astype(np.int64) * 60)

    def expected(self) -> dict:
        S, T = self.spec.stops_per_trip, self.spec.trips
        # the static feed's calendar lists today only: older dates are
        # realtime history that the delay join does not match
        joined = np.zeros(len(self.stored), dtype=bool)
        joined[-T:] = self.stored[-T:]
        arr = self.arr_delay[joined]
        return {
            "keys": int(self.stored.sum()) * S,
            "updated_keys": int(self.changed.sum()) * S,
            "diffs_rows": int(joined.sum()) * S,
            "diffs_arrival_sum_min": int(np.where(arr == MISSING, 0, arr).astype(np.int64).sum()),
        }


def _write_schedule(feed: _Feed, out: str) -> int:
    spec = feed.spec
    os.makedirs(out, exist_ok=True)
    n_routes = max(1, spec.trips // 50)
    with open(os.path.join(out, "routes.txt"), "w") as f:
        f.write("route_id,route_long_name\n")
        f.writelines(f"R{r},Route {r}\n" for r in range(n_routes))
    with open(os.path.join(out, "trips.txt"), "w") as f:
        f.write("trip_id,service_id,route_id\n")
        f.writelines(f"{tid},WK,R{t % n_routes}\n" for t, tid in enumerate(feed.trip_ids))
    with open(os.path.join(out, "calendar_dates.txt"), "w") as f:
        f.write("service_id,date\n")
        f.write(f"WK,{feed.dates[-1]:%Y%m%d}\n")
    lat = 46.4 + feed.rng.integers(0, 20000, size=N_STOPS) / 100000
    lon = -81.1 + feed.rng.integers(0, 20000, size=N_STOPS) / 100000
    with open(os.path.join(out, "stops.txt"), "w") as f:
        f.write("stop_id,stop_name,stop_lat,stop_lon\n")
        f.writelines(
            f"{STOP_ID0 + i},Stop {i},{lat[i]:.5f},{lon[i]:.5f}\n" for i in range(N_STOPS)
        )
    arr, dep = _hms(feed.arr_clock.ravel()), _hms(feed.dep_clock.ravel())
    S = spec.stops_per_trip
    with open(os.path.join(out, "stop_times.txt"), "w") as f:
        f.write("trip_id,arrival_time,departure_time,stop_id,stop_sequence\n")
        for i, sid in enumerate(feed.stop_ids.ravel().tolist()):
            f.write(f"{feed.trip_ids[i // S]},{arr[i]},{dep[i]},{sid},{i % S + 1}\n")
    return spec.trips * S


def _write_seed_feed(feed: _Feed, units: np.ndarray, path: str) -> None:
    """The seeded rows as decoded feed messages (``schemas.REALTIME_FEED_RAW``
    in Parquet), ``SEED_UNITS_PER_ROW`` units per message, so the benchmark
    seeds ``trip_updates`` through ``pipeline.ingest_realtime`` itself."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    S = feed.spec.stops_per_trip
    d, t = feed.unit(units)
    n = len(units)

    def unix(delay: np.ndarray, clock: np.ndarray) -> pa.Array:
        sec = feed.unix(units, delay[units], clock).ravel()
        return pa.array(sec, type=pa.int64(), mask=sec == 0)

    update = pa.StructArray.from_arrays(
        [
            pa.array(np.tile(np.arange(1, S + 1, dtype=np.int32), n)),
            pa.array(feed.stop_ids[t].ravel().astype(str)),
            unix(feed.arr_delay, feed.arr_clock),
            unix(feed.dep_delay, feed.dep_clock),
        ],
        names=["stop_sequence", "stop_id", "arrival_unix", "departure_unix"],
    )
    yyyymmdd = np.array([f"{x:%Y%m%d}" for x in feed.dates])
    entity = pa.StructArray.from_arrays(
        [
            pa.array(feed.trip_ids[t]),
            pa.array(yyyymmdd[d]),
            pa.ListArray.from_arrays(pa.array(np.arange(0, n * S + 1, S, dtype=np.int32)), update),
        ],
        names=["trip_id", "start_date", "stop_time_update"],
    )
    bounds = np.append(np.arange(0, n, SEED_UNITS_PER_ROW), n).astype(np.int32)
    rows = len(bounds) - 1
    table = pa.table(
        {
            "poll_ts": pa.array(np.full(rows, SEED_TS * 1_000_000), type=pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "entity": pa.ListArray.from_arrays(pa.array(bounds), entity),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # several row groups, so the scan splits across cores
    pq.write_table(table, path, row_group_size=max(1, -(-rows // 8)))


def _encode_poll(feed: _Feed, k: int, units: np.ndarray, a: np.ndarray, b: np.ndarray) -> bytes:
    from transit_efficiency_analysis_spark.sources.gtfs_rt_wire import encode_feed_message

    d, t = feed.unit(units)
    arr = feed.unix(units, a, feed.arr_clock).tolist()
    dep = feed.unix(units, b, feed.dep_clock).tolist()
    stops = feed.stop_ids[t].astype(str).tolist()
    S = feed.spec.stops_per_trip
    trips = []
    for i in range(len(units)):
        updates = [
            (s + 1, stops[i][s], arr[i][s] or None, dep[i][s] or None) for s in range(S)
        ]
        trips.append((str(feed.trip_ids[t[i]]), f"{feed.dates[d[i]]:%Y%m%d}", updates))
    return encode_feed_message(POLL_TS0 + 60 * k, trips)


def generate(out: str, spec: Spec, seed: int) -> dict:
    """Write one workload's inputs under ``out`` and return the ledger."""
    rng = np.random.default_rng(seed)
    feed = _Feed(spec, rng)
    T = spec.trips
    today = (spec.dates - 1) * T + rng.permutation(T)
    n_seeded = int(T * spec.seeded_today)
    history = np.arange((spec.dates - 1) * T)
    seeded = np.concatenate([history, today[:n_seeded]])
    feed.store(seeded, *feed.draw(len(seeded)))
    schedule_rows = _write_schedule(feed, os.path.join(out, "gtfs"))
    _write_seed_feed(feed, seeded, os.path.join(out, "state", "seed_feed.parquet"))

    n_new = round(spec.poll_units * spec.mix[0])
    n_changed = round(spec.poll_units * spec.mix[1])
    n_same = spec.poll_units - n_new - n_changed
    unseen = list(today[n_seeded:])
    if n_new * spec.polls > len(unseen):
        raise ValueError("spec has too few unseen trips for its polls")
    os.makedirs(os.path.join(out, "polls"), exist_ok=True)
    expected = [feed.expected()]
    poll_rows = []
    for k in range(spec.polls):
        seen = today[feed.stored[today]]
        old = rng.choice(seen, size=n_changed + n_same, replace=False)
        new = np.array(unseen[k * n_new : (k + 1) * n_new], dtype=np.int64)
        changed, same = old[:n_changed], old[n_changed:]
        a_new, b_new = feed.draw(len(new))
        a_chg, b_chg = feed.change(changed)
        units = np.concatenate([new, changed, same])
        a = np.concatenate([a_new, a_chg, feed.arr_delay[same]])
        b = np.concatenate([b_new, b_chg, feed.dep_delay[same]])
        order = rng.permutation(len(units))
        payload = _encode_poll(feed, k, units[order], a[order], b[order])
        with open(os.path.join(out, "polls", f"poll_{k:04d}.pb"), "wb") as f:
            f.write(payload)
        feed.store(new, a_new, b_new)
        feed.store(changed, a_chg, b_chg)
        feed.changed[changed] = True
        poll_rows.append(len(units) * spec.stops_per_trip)
        expected.append(feed.expected())

    ledger = {
        "spec": asdict(spec),
        "seed": seed,
        "schedule_rows": schedule_rows,
        "seeded_rows": len(seeded) * spec.stops_per_trip,
        "seed_ts": SEED_TS,
        "today": f"{feed.dates[-1]:%Y-%m-%d}",
        "weather": list(WEATHER),
        "poll_rows": poll_rows,
        "expected": expected,
    }
    with open(os.path.join(out, "ledger.json"), "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    return ledger


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ledger = generate(args.out, SPECS[args.workload], args.seed)
    print(json.dumps({k: ledger[k] for k in ("schedule_rows", "seeded_rows")}))


if __name__ == "__main__":
    main()
