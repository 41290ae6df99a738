"""Merge / UPSERT writer (SURVEY.md §2.9, K4/J3; M4).

The reference gets idempotent, last-write-wins-by-key loads only at
the warehouse boundary, via Redshift's ``S3ToRedshiftOperator(
method='UPSERT', upsert_keys=[pk])``
(reference: init_2_s3_to_redshifht_dag.py:63-74;
proc_2_s3_to_redshifht_dag.py:13-39,64-75) — its own Parquet zone just
appends and hopes (journey-data-transformation.py:106,156,160). This
engine owns MERGE semantics on plain Parquet; when the target is a
catalog table whose format supports row-level operations
(Delta/Iceberg), :func:`upsert_catalog_table` delegates the same
contract to a single ``MERGE INTO`` statement instead
(:func:`merge_into_sql` renders it; probe with
:func:`supports_merge_into`). The relational definition either way:

    upsert = new ∪ (old ⟕anti new on pk)   — new rows win

Storage: :class:`MergeWriter` is a retention-1
:class:`~.versioned.VersionedTable` — the engine's one keyed
bucketed-table core. Rows are hash-bucketed on the primary key, an
increment rewrites ONLY the buckets its keys touch
(reading back just those buckets' files for the anti-join), and every
write lands as an atomic manifest commit, so a crash mid-write leaves
the previous table intact instead of half-rewritten. After each commit
the writer vacuums to the latest version, so the disk holds one
version, as an in-place rewrite would. An increment rewrites every
bucket its keys hash into, and with hash buckets that is about
min(n_buckets, distinct keys) of them: a week of 20,000 fresh
``rental_id`` keys touches all 16 fact buckets, so the merge reads
the whole stored fact table back and rewrites it. The O(touched
buckets) saving is real only for increments with fewer distinct keys
than buckets; a rewrite limited to the files that hold a matched key
(file-granular copy-on-write) is not implemented.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .versioned import VersionedTable


def upsert_frames(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Pure-frame MERGE: rows of ``new`` replace same-key rows of
    ``old``; unmatched old rows survive. The relational core of the
    writer, exposed separately so it is oracle-testable without I/O.

    ``new`` must be unique per key (enforce upstream with
    dedup_deterministic — the reference's dropDuplicates-before-write
    plays this role, journey-data-transformation.py:102,150).

    Frames are explicitly aliased: ``new`` is often derived from
    ``old`` (same lineage), and unaliased ``new[k] == old[k]`` would
    resolve both sides to the same attribute.
    """
    o = old.alias("__old")
    n = new.alias("__new")
    on = [F.col(f"__old.{k}").eqNullSafe(F.col(f"__new.{k}")) for k in keys]
    survivors = o.join(n, on=on, how="left_anti")
    return new.unionByName(survivors.select(*old.columns))


class MergeWriter(VersionedTable):
    """Idempotent keyed writer: a :class:`VersionedTable` that keeps
    only its latest version.

    ``overwrite(df)`` is K1's full refresh (reference:
    init-data-transformation.py:43,92); ``upsert(spark, new)`` is
    K4/J3's keyed merge — null-safe keys, new rows win, and running the
    same increment twice yields an identical table: the idempotency
    contract the reference delegates to Redshift. ``read(spark)``
    returns the current rows.

    ``n_buckets`` controls incremental-rewrite granularity: more
    buckets ⇒ smaller rewrites but more files. A write touches about
    min(n_buckets, distinct keys in the increment) buckets, so more
    buckets shrink the rewrite only while the increment has fewer
    distinct keys than buckets; an increment with more keys than
    buckets rewrites the whole table.
    """

    def _commit(self, *args, **kwargs) -> int:
        version = super()._commit(*args, **kwargs)
        self.vacuum(keep_last=1)
        return version


def merge_into_sql(target: str, source: str, keys: Sequence[str]) -> str:
    """Render the ``MERGE INTO`` statement equivalent to
    :func:`upsert_frames` (reference semantics:
    init_2_s3_to_redshifht_dag.py:63-74 ``method='UPSERT'``).

    ``<=>`` (null-safe equality) in the ON clause mirrors
    ``eqNullSafe`` in the frame path, so null-key rows match rather
    than duplicating on re-run. ``UPDATE SET * / INSERT *`` is the
    Spark SQL star form — same column list both sides, enforced by the
    caller aligning schemas (as ``unionByName`` does in the frame
    path)."""
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    return (
        f"MERGE INTO {target} t USING {source} s ON {on} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def supports_merge_into(spark: SparkSession, provider: str = "delta") -> bool:
    """Probe whether a row-level-operation table provider is on the
    classpath (Delta: ``io.delta.tables.DeltaTable``; Iceberg: its
    Spark catalog class; ``rowlvl``: the in-repo DSv2 catalog from
    ``jvm/SimpleRowLevelCatalog.java``, compiled and mounted by
    ``session.get_spark``). Delta/Iceberg jars are not baked into this
    container, so those probes answer False and callers fall back to
    :class:`MergeWriter`; the ``rowlvl`` probe answers True whenever
    the session was built with the JDK toolchain present — giving the
    MERGE INTO delegation a real execution path."""
    classes = {
        "delta": "io.delta.tables.DeltaTable",
        "iceberg": "org.apache.iceberg.spark.SparkCatalog",
        "rowlvl": "sparkgraft.catalog.SimpleRowLevelCatalog",
    }
    cls = classes.get(provider)
    if cls is None:
        raise ValueError(f"unknown provider {provider!r}; known: {sorted(classes)}")
    jvm = spark.sparkContext._jvm
    # Probe Spark's own classloader chain first: raw Class.forName uses
    # the py4j gateway's root loader, which cannot see jars added via
    # spark.jars.packages / session MutableURLClassLoader and would
    # false-negative. Utils.classForName(cls, initialize, noSparkClassLoader
    # =False) resolves through the context classloader like Spark itself
    # does when it loads the provider.
    try:
        jvm.org.apache.spark.util.Utils.classForName(cls, True, False)
        return True
    except Exception:
        pass
    try:
        jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def upsert_catalog_table(
    spark: SparkSession, table: str, new: DataFrame, keys: Sequence[str]
) -> None:
    """K4/J3 on a catalog table: delegate the keyed merge to the
    engine's ``MERGE INTO`` (Delta/Iceberg row-level ops) instead of
    the read-anti-join-rewrite cycle MergeWriter runs on plain
    Parquet. Same idempotency contract, with the format's own
    transaction log in place of MergeWriter's manifest commit.

    Raises the provider's AnalysisException unchanged if the table's
    format does not support row-level operations — probe with
    :func:`supports_merge_into` first."""
    # unique per call: a fixed name would let two concurrent upserts
    # on one SparkSession swap each other's source views mid-MERGE
    view = f"__merge_into_source_{uuid.uuid4().hex}"
    new.createOrReplaceTempView(view)
    try:
        spark.sql(merge_into_sql(table, view, keys))
    finally:
        spark.catalog.dropTempView(view)
