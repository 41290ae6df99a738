"""The benchmark's workloads.

A workload is a list of operations run one after another (a closed
loop from one client). One *pass* is one run of the list; passes
repeat until the run's time is used. ``checks()`` runs after timing
and says, per check, whether the program's output was right.
"""

from __future__ import annotations

import csv
import functools
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from verify import Outcome, check_against_oracle, oracle_connection, rows_digest


@dataclass
class Op:
    name: str
    run: Callable[[], None]
    checks: tuple[str, ...] = ()


@dataclass
class Context:
    spark: object
    tracer: object
    inputs: dict[str, str]  # generator family → generated directory
    work: str  # this run's private scratch directory


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _safe(fn: Callable[[], Outcome]) -> Outcome:
    try:
        return fn()
    except Exception as e:  # a check that cannot run is a failed check
        return Outcome(False, f"{type(e).__name__}: {e}"[:300])


class Workload:
    name = ""
    # (generator family, size) pairs, see gen.GENERATORS
    inputs: tuple[tuple[str, int], ...] = ()
    # untimed passes before timing: enough to reach the plateau
    warmup_passes = 2

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def setup(self) -> None:
        """One-time work before the warm-up passes (part of set-up)."""

    def has_pass(self, k: int) -> bool:
        return True

    def pass_ops(self, k: int) -> list[Op]:
        raise NotImplementedError

    def rows_per_pass(self) -> int:
        """Input rows one pass processes."""
        raise NotImplementedError

    def input_bytes(self, k: int) -> int:
        """Raw input bytes a pass ingests (write-amplification base)."""
        return 0

    def checks(self) -> dict[str, Outcome]:
        raise NotImplementedError

    def report(self) -> dict:
        """Workload-specific figures for the human-readable summary."""
        return {}


# ---------------------------------------------------------------------------
# registry queries (warehouse reads and one iterative graph query)
# ---------------------------------------------------------------------------


def _parquet_rows(d: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


class WarehouseQueries(Workload):
    name = "warehouse_queries"
    inputs = (("warehouse", 60_000),)  # lineitem rows: the parity gate's scale
    # short operations: passes keep getting shorter until the fifth
    warmup_passes = 4
    # dashboard Q1-Q4 (plans/dashboard.py), one query each from
    # plans/tpch.py and plans/tpch_suite.py, and the hierarchy closure
    # (operators/graph.py): iterative self-join rounds, one barrier each
    queries = (
        "q1_avg_events_per_hour",
        "q2_orders_by_region",
        "q3_orders_by_weekday",
        "q4_daily_shipments_1996",
        "pricing_summary",
        "q6_forecast_revenue",
        "customer_hierarchy_closure",
    )

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        from batch_processing_on_aws_spark.plans import golden

        self.registry = golden.queries()
        self.oracles = golden.oracle_sql()
        self.data = ctx.inputs["warehouse"]
        self._rows = _parquet_rows(self.data)

    def _run(self, name: str) -> None:
        t = self.ctx.tracer
        with t.span("plans.build"):
            df = self.registry[name](self.ctx.spark, self.data)
        with t.span("plans.action"):
            _noop(df)

    def pass_ops(self, k: int) -> list[Op]:
        return [
            Op(n, functools.partial(self._run, n), checks=(n,)) for n in self.queries
        ]

    def rows_per_pass(self) -> int:
        return self._rows

    def checks(self) -> dict[str, Outcome]:
        con = oracle_connection(self.data)
        try:
            return {
                n: _safe(
                    lambda n=n: check_against_oracle(
                        self.registry[n](self.ctx.spark, self.data),
                        con,
                        self.oracles[n],
                    )
                )
                for n in self.queries
            }
        finally:
            con.close()


# ---------------------------------------------------------------------------
# journey ELT (the reference's own flow)
# ---------------------------------------------------------------------------


def _journey_transform(stream):
    """Raw week → fact columns, the same projection the batch path
    upserts (pipeline.JourneyPipeline.process_journey_batch)."""
    from batch_processing_on_aws_spark.functions.datetime_parts import parse_timestamp
    from batch_processing_on_aws_spark.operators.conformance import JOURNEY_SPEC, conform

    j = conform(stream, JOURNEY_SPEC)
    return (
        j.withColumn("start_date", parse_timestamp("start_date"))
        .withColumn("end_date", parse_timestamp("end_date"))
        .withColumn("weather_date", F.to_date("start_date"))
        .select(*FACT_COLUMNS)
    )


FACT_COLUMNS = (
    "rental_id", "bike_id", "end_date", "end_station", "start_date",
    "start_station", "weather_date",
)


def _fact_columns() -> list:
    """The fact columns as strings, in the layout ``expected_fact`` uses."""
    ts = "yyyy-MM-dd HH:mm"
    return [
        F.col("rental_id").cast("string"),
        F.col("bike_id").cast("string"),
        F.date_format("end_date", ts),
        F.col("end_station").cast("string"),
        F.date_format("start_date", ts),
        F.col("start_station").cast("string"),
        F.col("weather_date").cast("string"),
    ]


def _fact_strings(df) -> list[tuple]:
    return [tuple(r) for r in df.select(*_fact_columns()).collect()]


def _fact_digest(df) -> tuple:
    """Row count and an order-insensitive row hash, computed in Spark."""
    h = F.shiftright(F.xxhash64(*_fact_columns()), 32)
    return tuple(df.select(h.alias("h")).agg(F.count("*"), F.sum("h")).first())


def _csv_stamp(s: str) -> str:
    # 'dd/MM/yyyy HH:mm' → 'yyyy-MM-dd HH:mm'
    return f"{s[6:10]}-{s[3:5]}-{s[0:2]} {s[11:16]}"


def expected_fact(week_csvs: list[str]) -> list[tuple]:
    """The last-write-wins fact table the weeks should produce, built
    from the generated files alone."""
    latest: dict[str, tuple] = {}
    for path in week_csvs:
        with open(path, newline="") as f:
            for r in csv.DictReader(f):
                start = _csv_stamp(r["Start Date"])
                latest[r["Rental Id"]] = (
                    r["Rental Id"],
                    r["Bike Id"],
                    _csv_stamp(r["End Date"]),
                    r["EndStation Id"],
                    start,
                    r["StartStation Id"],
                    start[:10],
                )
    return list(latest.values())


class JourneyEtl(Workload):
    name = "journey_etl"
    inputs = (("journey", 20_000),)  # rows per weekly file

    def setup(self) -> None:
        from batch_processing_on_aws_spark.operators.versioned import VersionedTable
        from batch_processing_on_aws_spark.pipeline import JourneyPipeline, WarehousePaths

        c = self.ctx
        self.raw = c.inputs["journey"]
        self.wh = os.path.join(c.work, "warehouse")
        self.landing = os.path.join(c.work, "landing")
        self.vt_path = os.path.join(c.work, "versioned_fact")
        os.makedirs(self.landing)
        self.pipe = JourneyPipeline(c.spark, WarehousePaths(self.wh))
        self.vt = VersionedTable(self.vt_path, keys=["rental_id"], n_buckets=16)
        self.done: list[int] = []
        self.pipe.bootstrap_stations(os.path.join(self.raw, "stations.csv"))

    def _week_csv(self, k: int) -> str:
        return os.path.join(self.raw, f"week{k}.csv")

    def has_pass(self, k: int) -> bool:
        return k < gen.N_WEEKS

    def rows_per_pass(self) -> int:
        return self.inputs[0][1]

    def input_bytes(self, k: int) -> int:
        return os.path.getsize(self._week_csv(k))

    def _bootstrap_weather(self) -> None:
        with self.ctx.tracer.span("pipeline.bootstrap"):
            self.pipe.bootstrap_weather(os.path.join(self.raw, "weather.json"))

    def _week(self, k: int) -> None:
        with self.ctx.tracer.span("pipeline.process_journey_batch"):
            self.pipe.process_journey_batch(self._week_csv(k))
        self.done.append(k)

    def _stream(self, k: int) -> None:
        from batch_processing_on_aws_spark.schemas import JOURNEY_RAW
        from batch_processing_on_aws_spark.streaming.incremental import (
            ingest_versioned_stream,
        )

        shutil.copy(
            os.path.join(self.raw, "weeks_parquet", f"week{k}.parquet"),
            os.path.join(self.landing, f"week{k}.parquet"),
        )
        with self.ctx.tracer.span("streaming.ingest_versioned_stream"):
            ingest_versioned_stream(
                self.ctx.spark,
                self.landing,
                JOURNEY_RAW,
                self.vt_path,
                keys=["rental_id"],
                checkpoint_dir=os.path.join(self.ctx.work, "stream_checkpoint"),
                app_id="journey",
                transform=_journey_transform,
                n_buckets=16,
            )

    def _star(self) -> None:
        p = self.pipe
        with self.ctx.tracer.span("plans.action"):
            _noop(
                p.fact()
                .join(F.broadcast(p.stations()), F.col("start_station") == F.col("station_id"))
                .join(F.broadcast(p.weather()), "weather_date")
                .groupBy("station_name", "weather_date")
                .agg(F.count(F.lit(1)).alias("n"), F.avg("temp").alias("avg_temp"))
            )

    def pass_ops(self, k: int) -> list[Op]:
        return [
            Op("bootstrap_weather", self._bootstrap_weather, ("weather_dim",)),
            Op(
                "process_journey_batch",
                functools.partial(self._week, k),
                ("fact_last_write_wins", "rerun_idempotent", "stations_resolve"),
            ),
            Op(
                "ingest_versioned_stream",
                functools.partial(self._stream, k),
                ("versioned_equals_batch",),
            ),
            Op("star_join_read", self._star, ("fact_last_write_wins",)),
        ]

    def checks(self) -> dict[str, Outcome]:
        spark = self.ctx.spark
        out: dict[str, Outcome] = {}
        csvs = [self._week_csv(k) for k in self.done]
        fact = _fact_strings(self.pipe.fact())
        digest = _fact_digest(self.pipe.fact())

        def lww() -> Outcome:
            want = expected_fact(csvs)
            ok = len(fact) == len(want) and rows_digest(fact) == rows_digest(want)
            return Outcome(ok, f"{len(fact)} rows vs {len(want)} expected")

        def rerun() -> Outcome:
            self.pipe.process_journey_batch(csvs[-1])
            after = _fact_digest(self.pipe.fact())
            return Outcome(after == digest, f"{digest} -> {after}")

        def versioned() -> Outcome:
            got = _fact_digest(self.vt.read(spark))
            return Outcome(got == digest, f"{got} vs {digest}")

        def stations() -> Outcome:
            ids = {r[0] for r in self.pipe.stations().select("station_id").collect()}
            missing = {int(r[3]) for r in fact} | {int(r[5]) for r in fact}
            missing -= ids
            return Outcome(not missing, f"{len(missing)} unresolved station ids")

        def weather() -> Outcome:
            w = self.pipe.weather()
            n = w.count()
            ok = n == gen.WEATHER_DAYS and "snowdepth" not in w.columns
            return Outcome(ok, f"{n} days, columns {len(w.columns)}")

        out["fact_last_write_wins"] = _safe(lww)
        out["versioned_equals_batch"] = _safe(versioned)
        out["stations_resolve"] = _safe(stations)
        out["weather_dim"] = _safe(weather)
        out["rerun_idempotent"] = _safe(rerun)
        return out

    def report(self) -> dict:
        raw = sum(
            os.path.getsize(os.path.join(self.raw, f))
            for f in ("stations.csv", "weather.json")
        ) + sum(os.path.getsize(self._week_csv(k)) for k in sorted(set(self.done)))
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.wh)
            for f in fs
            if not f.startswith((".", "_"))
        )
        return {"stored_bytes_per_input_byte": stored / raw, "weeks": len(set(self.done))}


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (WarehouseQueries, JourneyEtl)
}
