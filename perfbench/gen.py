"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, size)``: the same
arguments give byte-identical files. Generated trees are cached under
``<cache_root>/<kind>/s<seed>_<size>/`` and marked complete only after
every file is written, so generation time never lands in a metric and
an interrupted generation is redone instead of reused.

Two families:

* ``warehouse`` — the star-schema tables the registry queries read
  (region, nation, customer, supplier, part, orders, lineitem,
  events), with the column names and types of
  ``batch_processing_on_aws_spark.schemas.TESTDATA``. ``size`` is the
  lineitem row count; the other tables keep TPC-H's ratios to it.
* ``journey`` — the reference pipeline's raw inputs: a stations CSV, a
  396-day weather JSON envelope and weekly journey CSVs of ``size``
  rows (plus a parquet twin of each week for the stream leg). About
  1 % of rows name stations absent from the stations file, about 1 %
  of rental ids re-deliver a rental of the previous week, and start
  and end times share minute stamps.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

_COMPLETE = "_COMPLETE"


def cached(cache_root: str, kind: str, seed: int, size: int) -> str:
    """Return the directory holding ``kind`` inputs for (seed, size),
    generating it first when no complete copy exists."""
    out = os.path.join(cache_root, kind, f"s{seed}_{size}")
    if os.path.exists(os.path.join(out, _COMPLETE)):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[kind](tmp, seed, size)
    with open(os.path.join(tmp, _COMPLETE), "w") as f:
        f.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one table never
    # shifts the values of another
    key = [seed % (1 << 64)] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


def _write_parquet(table: pa.Table, path: str) -> None:
    # no pandas metadata and a fixed row-group size keep the bytes a
    # function of the values alone
    pq.write_table(
        table.replace_schema_metadata(None), path, row_group_size=1 << 20
    )


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


# ---------------------------------------------------------------------------
# warehouse tables
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


_DAY0 = np.datetime64("1995-01-01T00:00:00", "us")
_EVENT0 = np.datetime64("2024-01-01T00:00:00", "us")
_US_PER_DAY = 86_400_000_000


def warehouse_sizes(lineitem_rows: int) -> dict[str, int]:
    """Row counts per table, in TPC-H's ratios to lineitem."""
    return {
        "customer": max(lineitem_rows // 40, 50),
        "supplier": max(lineitem_rows // 600, 10),
        "part": max(lineitem_rows // 30, 50),
        "orders": max(lineitem_rows // 4, 50),
        "lineitem": lineitem_rows,
        "events": max(lineitem_rows // 6, 100),
    }


def gen_warehouse(out: str, seed: int, lineitem_rows: int) -> None:
    n = warehouse_sizes(lineitem_rows)
    _write_parquet(
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        os.path.join(out, "region.parquet"),
    )
    _write_parquet(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )

    r = _rng(seed, "customer")
    nc = n["customer"]
    _write_parquet(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
                "c_acctbal": pa.array(_money(r.uniform(-999.99, 9999.99, nc))),
                "c_mktsegment": pa.array(
                    np.array(SEGMENTS)[r.integers(0, 5, nc)]
                ),
            }
        ),
        os.path.join(out, "customer.parquet"),
    )

    r = _rng(seed, "supplier")
    ns = n["supplier"]
    _write_parquet(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
                "s_acctbal": pa.array(_money(r.uniform(-999.99, 9999.99, ns))),
            }
        ),
        os.path.join(out, "supplier.parquet"),
    )

    r = _rng(seed, "part")
    npart = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    retail = _money(900.0 + (np.arange(npart) % 1000) / 10.0)
    _write_parquet(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": pa.array(names[r.integers(0, len(names), npart)]),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in r.integers(1, 26, npart)]
                ),
                "p_type": pa.array(
                    np.array(PART_TYPES)[r.integers(0, 6, npart)]
                ),
                "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
                "p_retailprice": pa.array(retail),
            }
        ),
        os.path.join(out, "part.parquet"),
    )

    r = _rng(seed, "orders")
    no = n["orders"]
    odays = r.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write_parquet(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
                "o_orderstatus": pa.array(
                    np.array(["F", "O", "P"])[r.integers(0, 3, no)]
                ),
                "o_totalprice": pa.array(_money(r.uniform(1000.0, 500000.0, no))),
                "o_orderdate": pa.array(
                    _DAY0 + odays.astype("timedelta64[D]"), pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(
                    np.array(PRIORITIES)[r.integers(0, 5, no)]
                ),
            }
        ),
        os.path.join(out, "orders.parquet"),
    )

    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    lok = r.integers(0, no, nl)
    lpk = r.integers(0, npart, nl)
    qty = r.integers(1, 51, nl).astype(np.float64)
    ship = odays[lok] + r.integers(1, 122, nl)
    _write_parquet(
        pa.table(
            {
                "l_orderkey": pa.array(lok, pa.int64()),
                "l_partkey": pa.array(lpk, pa.int64()),
                "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(_money(qty * retail[lpk])),
                "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(
                    np.array(["A", "N", "R"])[r.integers(0, 3, nl)]
                ),
                "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
                "l_shipdate": pa.array(
                    _DAY0 + ship.astype("timedelta64[D]"), pa.timestamp("us")
                ),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )

    r = _rng(seed, "events")
    ne = n["events"]
    ts = np.sort(r.integers(0, 30 * _US_PER_DAY, ne))
    _write_parquet(
        pa.table(
            {
                "event_id": pa.array(np.arange(ne), pa.int64()),
                "ts": pa.array(
                    _EVENT0 + ts.astype("timedelta64[us]"), pa.timestamp("us")
                ),
                "user_id": pa.array(r.integers(0, max(ne // 66, 10), ne), pa.int64()),
                "event_type": pa.array(
                    np.array(EVENT_TYPES)[r.integers(0, 5, ne)]
                ),
                "value": pa.array(_money(r.uniform(0.01, 490.0, ne))),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]
                ),
            }
        ),
        os.path.join(out, "events.parquet"),
    )


# ---------------------------------------------------------------------------
# journey inputs
# ---------------------------------------------------------------------------

N_STATIONS = 800
N_WEEKS = 8
WEATHER_DAYS = 396
_WEEK0 = dt.datetime(2021, 1, 4)


def gen_journey(out: str, seed: int, rows_per_week: int) -> None:
    r = _rng(seed, "stations")
    ids = np.arange(1, N_STATIONS + 1)
    stations = pa.table(
        {
            "Station.Id": pa.array(ids, pa.int32()),
            "StationName": pa.array([f"Station {i}" for i in ids]),
            "longitude": pa.array(np.round(r.uniform(-0.25, 0.05, N_STATIONS), 6)),
            "latitude": pa.array(np.round(r.uniform(51.45, 51.55, N_STATIONS), 6)),
            "easting": pa.array(np.round(r.uniform(520000, 540000, N_STATIONS), 1)),
            "northing": pa.array(np.round(r.uniform(170000, 190000, N_STATIONS), 1)),
        }
    )
    pacsv.write_csv(stations, os.path.join(out, "stations.csv"))

    r = _rng(seed, "weather")
    days = []
    for d in range(WEATHER_DAYS):
        t = round(float(r.uniform(-2.0, 25.0)), 1)
        day = {
            "datetime": (dt.date(2020, 12, 1) + dt.timedelta(days=d)).isoformat(),
            "tempmax": t + 4.0,
            "tempmin": t - 4.0,
            "temp": t,
            "feelslike": round(t - 1.5, 1),
            "humidity": round(float(r.uniform(40.0, 100.0)), 1),
            "precip": round(float(r.uniform(0.0, 5.0)), 2),
            "windspeed": round(float(r.uniform(0.0, 40.0)), 1),
            "pressure": round(float(r.uniform(990.0, 1030.0)), 1),
            "sunrise": "07:30:00",
            "sunset": "17:00:00",
            # > 70 % null: the sparse-column drop rule removes these
            "snow": 1.0 if d % 20 == 0 else None,
            "snowdepth": None,
        }
        days.append(day)
    with open(os.path.join(out, "weather.json"), "w") as f:
        json.dump(
            {
                "latitude": 51.5,
                "longitude": -0.12,
                "timezone": "Europe/London",
                "days": days,
            },
            f,
            sort_keys=True,
        )

    prev_ids = None
    next_id = 1_000_000
    for w in range(N_WEEKS):
        week = journey_week(seed, w, rows_per_week, next_id, prev_ids)
        next_id += rows_per_week
        prev_ids = week.column("Rental Id").to_numpy()
        pacsv.write_csv(week, os.path.join(out, f"week{w}.csv"))
        os.makedirs(os.path.join(out, "weeks_parquet"), exist_ok=True)
        _write_parquet(week, os.path.join(out, "weeks_parquet", f"week{w}.parquet"))


def journey_week(
    seed: int,
    week: int,
    rows: int,
    first_id: int,
    prev_ids: np.ndarray | None,
) -> pa.Table:
    r = _rng(seed, f"week{week}")
    rental = np.arange(first_id, first_id + rows, dtype=np.int64)
    if prev_ids is not None:
        # ~1 % of rentals re-deliver a rental of the previous week
        redo = r.random(rows) < 0.01
        rental[redo] = r.choice(prev_ids, int(redo.sum()), replace=False)
    start_min = r.integers(0, 7 * 24 * 60, rows)
    dur_min = r.integers(0, 90, rows)  # 0 ⇒ start and end share a stamp
    start = _WEEK0 + dt.timedelta(weeks=week)
    start_s = np.datetime64(start, "m") + start_min.astype("timedelta64[m]")
    end_s = start_s + dur_min.astype("timedelta64[m]")

    def fmt(stamps: np.ndarray) -> list[str]:
        # 'YYYY-MM-DDTHH:MM' → the reference's 'dd/MM/yyyy HH:mm'
        return [
            f"{s[8:10]}/{s[5:7]}/{s[0:4]} {s[11:16]}"
            for s in np.datetime_as_string(stamps, unit="m")
        ]

    def station_ids() -> np.ndarray:
        # ~1 % of rows name a station the stations file does not have
        s = r.integers(1, N_STATIONS + 1, rows)
        unknown = r.random(rows) < 0.01
        s[unknown] = N_STATIONS + 1 + r.integers(0, 50, int(unknown.sum()))
        return s

    start_st = station_ids()
    end_st = station_ids()
    return pa.table(
        {
            "Rental Id": pa.array(rental, pa.int64()),
            "Duration": pa.array(dur_min * 60, pa.int32()),
            "Bike Id": pa.array(r.integers(1, 15000, rows), pa.int32()),
            "End Date": pa.array(fmt(end_s)),
            "EndStation Id": pa.array(end_st, pa.int32()),
            "EndStation Name": pa.array([f"Station {s}" for s in end_st]),
            "Start Date": pa.array(fmt(start_s)),
            "StartStation Id": pa.array(start_st, pa.int32()),
            "StartStation Name": pa.array([f"Station {s}" for s in start_st]),
        }
    )


GENERATORS = {
    "warehouse": gen_warehouse,
    "journey": gen_journey,
}
