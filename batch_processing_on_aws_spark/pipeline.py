"""End-to-end pipelines (SURVEY.md §3, M5/M6).

Two pipelines live here:

1. ``JourneyPipeline`` — the reference's exact flow over its own
   domain (stations/weather bootstrap + weekly journey increments),
   re-expressed with engine operators. The reference splits this
   across four Airflow DAGs and two EMR scripts
   (init_0/1/2, proc_0/1/2 — SURVEY.md §3.1-3.2); here each stage is
   a pure DataFrame function and the orchestration is plain Python.

2. ``build_star_schema`` — the same shapes over the driver's
   synthetic tables, used by tests/bench.

Scale design vs the reference:
- the reference re-scans ALL weekly files every week
  (``raw/cycling-journey/*/*`` glob, journey-data-transformation.py:28)
  — a scaling bug. Here each increment processes ONLY its own batch
  and merges by key, rewriting only the key buckets it touches (for
  the fact, a week of fresh rental ids touches every bucket).
- warehouse-boundary UPSERT (Redshift in the reference,
  init_2_s3_to_redshifht_dag.py:63-74) is owned in-engine by
  MergeWriter (operators/merge.py), so the processed zone itself is
  idempotent; every dimension and fact write is one atomic manifest
  commit of a retention-1 keyed table (operators/versioned.py), so a
  crashed week leaves the previous warehouse state readable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.datetime_parts import datetime_parts, parse_timestamp
from .operators.antijoin import new_keys
from .operators.conformance import JOURNEY_SPEC, STATIONS_SPEC, conform
from .operators.dedup import dedup_deterministic
from .operators.merge import MergeWriter
from .operators.setops import union_all_by_name
from .schemas import JOURNEY_RAW, STATIONS_RAW, WEATHER_ENVELOPE
from .sources.readers import read_csv, read_json


@dataclass
class WarehousePaths:
    root: str

    @property
    def dim_station(self) -> str:
        return os.path.join(self.root, "dim_station")

    @property
    def dim_weather(self) -> str:
        return os.path.join(self.root, "dim_weather")

    @property
    def dim_datetime(self) -> str:
        return os.path.join(self.root, "dim_datetime")

    @property
    def fact_journey(self) -> str:
        return os.path.join(self.root, "fact_journey")


class JourneyPipeline:
    """The reference pipeline, stage for stage.

    Bootstrap (reference init_1, init-data-transformation.py):
      stations CSV → conform → dim_station (overwrite)
      weather JSON → unnest days → conform → drop sparse → dim_weather

    Weekly increment (reference proc_1, journey-data-transformation.py):
      journey CSV → conform → parse timestamps → derive weather_date
      → discover unknown stations → pad + append to dim_station
      → datetime dim rows from start/end timestamps → dedup → upsert
      → fact rows keyed by rental_id → upsert (idempotent re-run safe)
    """

    def __init__(self, spark: SparkSession, paths: WarehousePaths):
        self.spark = spark
        self.paths = paths
        self._stations = MergeWriter(paths.dim_station, keys=["station_id"], n_buckets=4)
        self._weather = MergeWriter(paths.dim_weather, keys=["weather_date"], n_buckets=4)
        self._datetime = MergeWriter(paths.dim_datetime, keys=["datetime_id"], n_buckets=8)
        self._fact = MergeWriter(paths.fact_journey, keys=["rental_id"], n_buckets=16)

    # -- bootstrap (init_0/init_1/init_2) ---------------------------------

    def bootstrap_stations(self, stations_csv: str) -> DataFrame:
        """reference init-data-transformation.py:23-43."""
        raw = read_csv(self.spark, stations_csv, schema=STATIONS_RAW)
        dim = conform(raw, STATIONS_SPEC)
        self._stations.overwrite(dim)
        return dim

    def bootstrap_weather(self, weather_json: str, max_missing: float = 0.7) -> DataFrame:
        """reference init-data-transformation.py:48-92 + the envelope
        unnest the reference does driver-side (init_0…py:41-55)."""
        from .operators.audit import drop_sparse_columns

        days = read_json(
            self.spark, weather_json, schema=WEATHER_ENVELOPE, explode_field="days"
        )
        dim = days.withColumnRenamed("datetime", "weather_date").withColumn(
            "weather_date", F.col("weather_date").cast("date")
        )
        dim = drop_sparse_columns(dim, max_missing)
        self._weather.overwrite(dim)
        return dim

    # -- weekly increment (proc_0/proc_1/proc_2) --------------------------

    def process_journey_batch(self, journey_csv: str) -> DataFrame:
        """One weekly file through the whole flow; safe to re-run
        (merge keys make it idempotent — the §2.9 contract)."""
        raw = read_csv(self.spark, journey_csv, schema=JOURNEY_RAW)
        j = conform(raw, JOURNEY_SPEC)
        # materialized once: station discovery and the three upserts
        # below all read the conformed week instead of each re-scanning
        # and re-parsing the CSV
        j = (
            j.withColumn("start_date", parse_timestamp("start_date"))
            .withColumn("end_date", parse_timestamp("end_date"))
            .withColumn("weather_date", F.to_date("start_date"))
        ).localCheckpoint(eager=True)

        # New-station discovery (journey-data-transformation.py:65-106):
        # stations seen in the fact but absent from dim_station get
        # padded placeholder rows (the reference zero-fills lon/lat/…,
        # :95) so the FK always resolves.
        dim = self._stations.read(self.spark)
        unknown = new_keys(j, ["start_station", "end_station"], dim, "station_id")
        padded = unknown.select(
            F.col("key").cast("int").alias("station_id"),
            F.lit(None).cast("string").alias("station_name"),
            *[
                F.lit(0.0).cast("double").alias(c)
                for c in ("longitude", "latitude", "easting", "northing")
            ],
        )
        self._stations.upsert(self.spark, padded)

        # Datetime dimension from both timestamp columns
        # (journey-data-transformation.py:117-156): union (by name),
        # deterministic dedup, upsert.
        dt = union_all_by_name(
            datetime_parts(j, "start_date"), datetime_parts(j, "end_date")
        )
        dt = dedup_deterministic(dt, ["datetime_id"], [F.col("datetime_id")])
        self._datetime.upsert(self.spark, dt)

        # Fact upsert keyed on rental_id (proc_2…py:64-75). The batch
        # itself may carry duplicate rental_ids → deterministic dedup
        # first (latest start_date wins; the remaining fact columns
        # break ties, so the winner does not depend on row order).
        fact = dedup_deterministic(
            j.select(
                "rental_id", "bike_id", "end_date", "end_station",
                "start_date", "start_station", "weather_date",
            ),
            ["rental_id"],
            [
                F.col(c).desc()
                for c in (
                    "start_date", "end_date", "bike_id", "end_station",
                    "start_station",
                )
            ],
        )
        self._fact.upsert(self.spark, fact)
        return fact

    # -- serving reads ----------------------------------------------------

    def fact(self) -> DataFrame:
        return self._fact.read(self.spark)

    def stations(self) -> DataFrame:
        return self._stations.read(self.spark)

    def datetime_dim(self) -> DataFrame:
        return self._datetime.read(self.spark)

    def weather(self) -> DataFrame:
        return self._weather.read(self.spark)


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    budget: int = 256,
    scrub_pii: bool = False,
    max_dup_span_share: float | None = None,
    semantic_decontam_bench: str | None = None,
    semantic_decontam_tau: float = 0.95,
) -> DataFrame:
    """Materialize the flagship curation pipeline (plans/golden.py::
    training_corpus — quality → language → exact dedup → near-dup
    canonical → split) into a training-ready lake table:

    - joins the surviving docs back to their text/source,
    - lays them into ``budget``-token sequences per source shard
      (operators/packing.py),
    - writes parquet partitioned by ``split`` so downstream training
      readers prune to train/val/test without scanning siblings.

    Overwrite semantics: the whole corpus derives deterministically
    from the input snapshot (hash split, md5 dedup, integer packing),
    so re-running is idempotent — same input, byte-same layout.
    """
    from .operators.packing import pack_sequences
    from .operators.pii import redact
    from .operators.textstats import token_count
    from .plans import golden
    from .sources.readers import load_table

    corpus = golden.training_corpus(spark, sf_dir).select(
        "doc_id", "cluster_id", "split"
    )
    # Optional exact-substring hygiene gate (neardup.dup_span_share —
    # the RefinedWeb-style duplicated-span ratio): drop docs whose
    # 20-token spans are mostly boilerplate repeats. The share is
    # computed over the SURVIVING population (documents semi-joined to
    # the post-quality/language/dedup corpus), matching how the
    # RefinedWeb-style signal is used — a doc must not be dropped for
    # sharing spans only with docs the earlier stages already removed.
    # Off by default to keep the materialization bit-identical with
    # the training_corpus oracle contract; docs shorter than the
    # window have no spans and are never dropped.
    if max_dup_span_share is not None:
        from .operators.neardup import dup_span_share

        surviving = load_table(spark, sf_dir, "documents").join(
            corpus.select("doc_id"), "doc_id", "left_semi"
        )
        high = (
            dup_span_share(surviving)
            .where(F.col("dup_share") > max_dup_span_share)
            .select("doc_id")
        )
        corpus = corpus.join(high, "doc_id", "left_anti")
    # Optional semantic decontamination gate (the paraphrase case,
    # operators/decontam.py::remove_semantic_contaminated): drop docs
    # whose row-aligned embedding sits within cosine tau of any vector
    # in the given benchmark parquet (columns: bench_id/vec_id,
    # embedding). Doc-drop, not span excision — a paraphrased eval
    # leak is not span-localizable. Off by default to keep the
    # materialization bit-identical with the training_corpus oracle.
    if semantic_decontam_bench is not None:
        from .operators.decontam import remove_semantic_contaminated
        from .plans.golden import _deterministic_planes

        bench = spark.read.parquet(semantic_decontam_bench)
        if "bench_id" not in bench.columns:
            bench = bench.withColumnRenamed("vec_id", "bench_id")
        bench = bench.select("bench_id", "embedding")
        head = bench.select("embedding").head()  # 1 row
        if head is None or head["embedding"] is None:
            raise ValueError(
                f"semantic-decontam benchmark {semantic_decontam_bench!r} "
                "is empty or has no embedding values"
            )
        dim = len(head["embedding"])
        corpus_vecs = load_table(spark, sf_dir, "embeddings")
        corpus = remove_semantic_contaminated(
            corpus,
            corpus_vecs,
            bench,
            _deterministic_planes(n_planes=4, dim=dim),
            tau=semantic_decontam_tau,
        )
    # PII scrub (operators/pii.py) runs BEFORE token counting so the
    # packing layout reflects the text that actually ships; off by
    # default to keep the materialization bit-identical with the
    # training_corpus oracle contract
    text = redact(F.col("text")) if scrub_pii else F.col("text")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        text.alias("text"),
        token_count(text).alias("n_tokens"),
    )
    packed = pack_sequences(
        corpus.join(docs, "doc_id"),
        token_col="n_tokens",
        budget=budget,
        order_col="doc_id",
        shard_col="source",
    )
    out = os.path.join(out_root, "training_corpus")
    packed.write.mode("overwrite").partitionBy("split").parquet(out)
    return spark.read.parquet(out)


def main(argv: list[str] | None = None) -> int:
    """CLI — the reference's seven Airflow DAGs collapse to three
    cron-able commands (orchestration is idempotent stage calls, not a
    scheduler; retries are free because every write is a keyed merge):

        python -m batch_processing_on_aws_spark.pipeline \\
            --warehouse /lake/wh bootstrap-stations raw/stations.csv
        ... bootstrap-weather raw/weather.json
        ... journey-batch raw/cycling-journey/Jan2021/week1.csv

    ``journey-batch`` is what the reference's weekly cron
    (proc_0_ingestion_to_s3_dag.py:49) would invoke; re-running any
    completed week is a no-op by the §2.9 merge contract.
    """
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(prog="batch_processing_on_aws_spark.pipeline")
    ap.add_argument("--warehouse", required=True, help="warehouse root path")
    sub = ap.add_subparsers(dest="stage", required=True)
    sub.add_parser("bootstrap-stations").add_argument("csv")
    sub.add_parser("bootstrap-weather").add_argument("json")
    sub.add_parser("journey-batch").add_argument("csv")
    cur = sub.add_parser("curate-corpus")
    cur.add_argument("sf_dir", help="directory holding documents.parquet")
    cur.add_argument("--budget", type=int, default=256)
    cur.add_argument(
        "--scrub-pii",
        action="store_true",
        help="mask emails/IPs/SSNs/phones before packing (operators/pii.py)",
    )
    cur.add_argument(
        "--max-dup-span-share",
        type=float,
        default=None,
        help="drop docs whose duplicated 20-token-span ratio exceeds "
        "this (operators/neardup.py::dup_span_share)",
    )
    cur.add_argument(
        "--semantic-decontam-bench",
        default=None,
        help="parquet of benchmark embeddings (bench_id|vec_id, "
        "embedding); drops docs whose embedding is within cosine "
        "--semantic-decontam-tau of any benchmark vector "
        "(operators/decontam.py::remove_semantic_contaminated)",
    )
    cur.add_argument("--semantic-decontam-tau", type=float, default=0.95)
    args = ap.parse_args(argv)

    spark = get_spark()
    if args.stage == "curate-corpus":
        n = curate_corpus(
            spark,
            args.sf_dir,
            args.warehouse,
            budget=args.budget,
            scrub_pii=args.scrub_pii,
            max_dup_span_share=args.max_dup_span_share,
            semantic_decontam_bench=args.semantic_decontam_bench,
            semantic_decontam_tau=args.semantic_decontam_tau,
        ).count()
        print(f"{args.stage}: {n} rows")
        return 0
    pipe = JourneyPipeline(spark, WarehousePaths(args.warehouse))
    if args.stage == "bootstrap-stations":
        n = pipe.bootstrap_stations(args.csv).count()
    elif args.stage == "bootstrap-weather":
        n = pipe.bootstrap_weather(args.json).count()
    else:
        n = pipe.process_journey_batch(args.csv).count()
    print(f"{args.stage}: {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
