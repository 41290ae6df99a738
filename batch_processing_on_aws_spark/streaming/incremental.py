"""Incremental micro-batch processing (SURVEY.md §2.8).

The reference's "streaming" is a weekly cron DAG with backfill and
idempotent re-loads (proc_0_ingestion_to_s3_dag.py:42-53 —
``catchup=True``, ``depends_on_past``, UPSERT keys at the warehouse).
Those are exactly Structured Streaming file-source semantics with an
``availableNow`` trigger: each run drains whatever landed since the
last checkpoint, exactly once, then stops — a cron-able superset of
the reference's weekly behavior. Every drain here runs through one
epoch driver, :func:`_run_epochs`.

Exactly-once per key comes from pairing the checkpointed source with
the keyed MergeWriter in ``foreachBatch``: re-delivered records
overwrite by key instead of duplicating (the reference delegates this
to Redshift UPSERT; we own it).

At scale: the file source lists incrementally (``maxFilesPerTrigger``
bounds batch size), state lives in the checkpoint not the driver, and
the merge rewrites only touched key-buckets.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..operators.merge import MergeWriter


def _run_epochs(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    checkpoint_dir: str,
    apply: Callable[[DataFrame, int], None] | None = None,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    txn_table=None,
    app_id: str | None = None,
    sink: Callable[[DataStreamWriter], DataStreamWriter] | None = None,
) -> None:
    """The one stream-epoch driver behind every drain in this module:
    read ``input_dir`` as a checkpointed file stream (optionally
    ``transform``-ed), run ``apply(batch, epoch_id)`` on every
    non-empty micro-batch, and stop once everything that had landed is
    drained (availableNow).

    ``txn_table`` (a VersionedTable) adds the crash-replay guard for
    drains that land each epoch as ONE stamped commit: an epoch whose
    writer transaction (``app_id``, epoch) already committed there is
    skipped. Drains that commit several times per epoch keep their own
    per-commit guards inside ``apply``.

    ``sink`` replaces the foreachBatch body with a plain streaming sink
    (given the stream's writer, returns it configured); the sink's own
    commit log is then the exactly-once record."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(input_dir)
    if transform is not None:
        stream = transform(stream)
    if sink is not None:
        writer = sink(stream.writeStream)
    else:

        def _epoch(batch: DataFrame, epoch_id: int) -> None:
            if batch.isEmpty():
                return
            if txn_table is not None and txn_table.txn_applied(app_id, epoch_id):
                return  # crash-replayed epoch: already committed
            apply(batch, epoch_id)

        writer = stream.writeStream.foreachBatch(_epoch)
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_merge_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    table_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain new files from ``input_dir`` into a keyed merge table,
    then stop (availableNow). Run it from cron for the reference's
    weekly cadence, or in a loop for lower latency.
    """
    writer = MergeWriter(table_path, keys=keys)
    _run_epochs(
        spark, input_dir, schema, checkpoint_dir,
        lambda batch, _: writer.upsert(batch.sparkSession, batch),
        fmt=fmt, max_files_per_trigger=max_files_per_trigger,
        transform=transform,
    )


def ingest_versioned_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    table_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    app_id: str = "ingest",
    transform: Callable[[DataFrame], DataFrame] | None = None,
    fmt: str = "parquet",
    n_buckets: int = 32,
    commit_clock: Callable[[int], str] | None = None,
) -> None:
    """The versioned sibling of :func:`incremental_merge_stream`: each
    drained micro-batch lands as a NEW audited version of a
    :class:`~..operators.versioned.VersionedTable` — so the streaming
    table gets time travel, CDC between any two epochs, and rollback
    for free, on top of the keyed-merge semantics.

    Exactly-once is belt-and-braces: the checkpointed file source
    already delivers each file once, and every commit carries a
    writer-transaction stamp (``app_id``, epoch) — the Delta
    txn-appId protocol — so a foreachBatch epoch REPLAYED after a
    crash between the table commit and the checkpoint advance is
    detected via ``txn_applied`` and skipped instead of minting a
    duplicate (even-if-content-equal) version. Single writer per
    table, as everywhere in this family.

    ``commit_clock`` (optional, ``epoch_id -> ISO-8601 UTC string``)
    makes engine-driven commits DETERMINISTIC: by default a commit's
    ``committed_at`` is wall-clock (fine operationally, but replaying
    the same inputs mints different timestamps, and
    ``version_as_of`` tie behavior then depends on the run). Pass a
    clock derived from the data/epoch when time travel over this
    table must be reproducible.
    """
    from ..operators.versioned import VersionedTable

    vt = VersionedTable(table_path, keys=keys, n_buckets=n_buckets)

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        vt.upsert(
            batch.sparkSession, batch,
            txn={"app": app_id, "epoch": epoch_id},
            committed_at=(
                commit_clock(epoch_id) if commit_clock is not None else None
            ),
        )

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir, _merge, fmt=fmt,
        transform=transform, txn_table=vt, app_id=app_id,
    )


def ingest_ivf_index_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    index_root: str,
    checkpoint_dir: str,
    app_id: str = "ivf-ingest",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    n_train: int = 4096,
    fmt: str = "parquet",
    drift_threshold_micro: int = 250_000,
) -> None:
    """Streaming maintenance of a STANDING IVF ANN index
    (:class:`~..operators.ann_index.IVFIndex`) — the FAISS
    train-once/add-many lifecycle as a micro-batch loop: the FIRST
    delivery trains the coarse quantizer on its bounded deterministic
    sample and commits the full assignment (``build``); every later
    delivery assigns against the FROZEN centroids and upserts
    assign-only rows (``add``, O(batch) — the standing corpus is
    never rescanned), recording a PSI drift row per batch. Drifted
    batches only FLAG retrain; the quantizer never swaps mid-stream
    (a swap inside a micro-batch breaks replay idempotency) —
    ``IVFIndex.refresh`` is the explicit audited retrain.

    Exactly-once via the writer-transaction stamp (``app_id``,
    epoch): a crash-replayed epoch is detected by ``txn_applied`` and
    skipped. A replayed BUILD epoch (crash between the model write
    and the assignment commit) re-trains deterministically on the
    same batch — same model bytes, same assignments — so the retry
    converges instead of forking.

    Because assignment is a pure per-row function of the frozen
    model, the index after N deliveries equals the one-shot
    assignment of their union — pinned hash-exact against the DuckDB
    oracle by the ``incremental_ivf_topk`` golden.
    """
    from ..operators.ann_index import IVFIndex

    idx = IVFIndex(
        index_root,
        n_cells=n_cells,
        seed=seed,
        max_iter=max_iter,
        n_train=n_train,
        id_col=id_col,
        vec_col=vec_col,
        drift_threshold_micro=drift_threshold_micro,
    )

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        txn = {"app": app_id, "epoch": epoch_id}
        if idx.table.latest_version() == 0:
            idx.build(batch, txn=txn)
        else:
            idx.add(batch, txn=txn)

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir, _merge, fmt=fmt,
        txn_table=idx.table, app_id=app_id,
    )


def ingest_text_index_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    index_root: str,
    checkpoint_dir: str,
    app_id: str = "text-ingest",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
    fmt: str = "parquet",
) -> None:
    """Streaming maintenance of a STANDING BM25 index
    (:class:`~..operators.text_index.TextIndex`) — the Lucene
    index-once/search-many lifecycle as a micro-batch loop: the FIRST
    delivery indexes the corpus and computes term/corpus statistics
    full (``build``); every later delivery upserts O(batch) postings
    rows and folds the postings table's OWN change feed into the df
    stats and the N/Σlen scalars (``add`` — inserts, updates, and
    df decrements all signed-delta folds, never a corpus rescan).

    Exactly-once via per-subtable writer-transaction stamps
    (``app.p`` / ``app.s`` / ``app.m``): a crash between the postings
    commit and the stats fold replays the epoch, re-derives the SAME
    change feed from the committed version pair, and applies only the
    missing halves — the ``replicate_changes_stream`` protocol.
    Because every statistic is an exact integer fold, the index after
    N deliveries equals a from-scratch index of their merged state —
    pinned hash-exact against the DuckDB oracle by the
    ``standing_bm25_search`` golden (two deliveries plus a
    document-replacing re-delivery).
    """
    from ..operators.text_index import TextIndex

    idx = TextIndex(
        index_root,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
    )

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir,
        lambda batch, epoch_id: idx.apply(
            batch, txn={"app": app_id, "epoch": epoch_id}
        ),
        fmt=fmt,
    )


def ingest_cluster_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    index_root: str,
    checkpoint_dir: str,
    app_id: str = "cluster-ingest",
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    n_buckets: int = 32,
    fmt: str = "parquet",
) -> None:
    """Streaming maintenance of a STANDING duplicate-cluster
    assignment (:class:`~..operators.cluster_index.ClusterIndex`):
    each drained micro-batch of near-dup PAIRS contracts onto the
    existing cluster labels, closes the batch-sized contracted graph
    with min-label CC, and upserts only the touched rows — the
    O(batch + touched clusters) fold that keeps dedup clusters
    current under a daily crawl without ever re-running CC over the
    accumulated pair history.

    Exactly-once via the writer-txn stamp: each ``apply`` is ONE
    keyed commit; a crash-replayed epoch is detected by
    ``txn_applied`` and skipped. Min-label CC is confluent, so the
    assignment after N deliveries equals one-shot CC over the union
    of all pairs — pinned hash-exact by the
    ``incremental_dup_clusters`` golden.
    """
    from ..operators.cluster_index import ClusterIndex

    idx = ClusterIndex(index_root, n_buckets=n_buckets)

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir,
        lambda batch, epoch_id: idx.apply(
            batch, id_a=id_a, id_b=id_b,
            txn={"app": app_id, "epoch": epoch_id},
        ),
        fmt=fmt,
    )


def ingest_semantic_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    index_root: str,
    checkpoint_dir: str,
    app_id: str = "semdedup-ingest",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau: float = 0.92,
    seed: int = 42,
    max_iter: int = 8,
    n_train: int = 4096,
    n_buckets: int = 32,
    fmt: str = "parquet",
) -> None:
    """Streaming maintenance of a STANDING SemDeDup corpus
    (:class:`~..operators.semdedup_index.SemDedupIndex`) — the last
    ledger-dedup family member to go incremental: the FIRST delivery
    trains the quantizer on its bounded deterministic sample and
    commits the delivery's (vec_id, cell, kept) frame (``build``);
    every later delivery assigns against the FROZEN centroids and
    folds in O(batch × touched-cell density): new rows flagged
    against the union-so-far, standing survivors retracted when a
    smaller-id arrival lands inside their cosine ball (``add``).
    The standing corpus is never re-embedded, re-assigned, or
    globally re-compared.

    Exactly-once via the writer-txn stamp: each apply is ONE keyed
    commit; a crash-replayed epoch is detected by ``txn_applied``
    and skipped; a replayed BUILD epoch re-trains deterministically
    (same sample order, same seeded Lloyd) so the retry converges.
    Because the drop rule quantifies over the final union and the
    drop set is monotone, the flags after N deliveries equal the
    one-shot ``semantic_dedup`` of the union under the same frozen
    quantizer — pinned hash-exact by the ``streamed_semantic_corpus``
    golden (two real deliveries, the second carrying smaller-id
    near-dup re-embeds that retract delivery-1 survivors).
    """
    from ..operators.semdedup_index import SemDedupIndex

    idx = SemDedupIndex(
        index_root,
        n_cells=n_cells,
        tau=tau,
        seed=seed,
        max_iter=max_iter,
        n_train=n_train,
        id_col=id_col,
        vec_col=vec_col,
        n_buckets=n_buckets,
    )

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir,
        lambda batch, epoch_id: idx.apply(
            batch, txn={"app": app_id, "epoch": epoch_id}
        ),
        fmt=fmt, txn_table=idx.table, app_id=app_id,
    )


def replicate_changes_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    table_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    app_id: str = "replicate",
    fmt: str = "parquet",
    n_buckets: int = 32,
    commit_clock: Callable[[int], str] | None = None,
    change_type_col: str = "change_type",
    version_col: str = "v_to",
    max_files_per_trigger: int = 1,
) -> None:
    """CDC-fed table REPLICATION: a target
    :class:`~..operators.versioned.VersionedTable` follows a source
    table by consuming its row-level change feed
    (``VersionedTable.changes()`` output shape: the target's full row
    for inserts/updates, the key for deletes, plus ``change_type``
    and the source commit version ``v_to``) — the mini-replication /
    downstream-materialization story, composed entirely from existing
    oracled pieces (change feed → keyed upsert + keyed delete).

    Apply semantics per micro-batch: a batch may span several source
    commits, so first collapse to the LAST change per key (max
    ``version_col`` — one keyed window over the batch, O(batch)),
    then apply inserts/updates as ONE ``upsert`` commit and deletes
    as ONE ``delete_keys`` commit. Both are keyed bucket-local
    writes: touched buckets derive from the batch's keys, untouched
    buckets stay file-shared — the target pays O(delta), never a
    table rewrite, the property that makes follow-by-feed viable when
    the table is 100 TB and the feed is megabytes.

    Crash contract (two commits per epoch, individually stamped):
    upsert carries txn ``(app_id + ".u", epoch)`` and delete
    ``(app_id + ".d", epoch)``; a replayed epoch skips whichever half
    already landed (``txn_applied``), so the crash window between the
    two commits is covered — replay completes the delete half without
    re-minting the upsert. Empty halves commit nothing (no no-op
    version spam). ``commit_clock`` as in
    :func:`ingest_versioned_stream` for reproducible time travel."""
    from ..operators.versioned import VersionedTable

    vt = VersionedTable(table_path, keys=keys, n_buckets=n_buckets)
    value_cols = [
        f.name
        for f in schema.fields
        if f.name not in (change_type_col, version_col)
    ]

    def _apply(batch: DataFrame, epoch: int) -> None:
        from pyspark.sql import Window

        s = batch.sparkSession
        w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
        last = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )
        ca = commit_clock(epoch) if commit_clock is not None else None
        if not vt.txn_applied(f"{app_id}.u", epoch):
            ups = last.where(F.col(change_type_col) != "delete").select(
                *value_cols
            )
            if not ups.isEmpty():
                vt.upsert(
                    s, ups,
                    txn={"app": f"{app_id}.u", "epoch": epoch},
                    committed_at=ca,
                )
        if not vt.txn_applied(f"{app_id}.d", epoch):
            dels = last.where(F.col(change_type_col) == "delete").select(
                *keys
            )
            if not dels.isEmpty():
                vt.delete_keys(
                    s, dels,
                    txn={"app": f"{app_id}.d", "epoch": epoch},
                    committed_at=ca,
                )

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir, _apply, fmt=fmt,
        max_files_per_trigger=max_files_per_trigger,
    )


def dedup_stream(
    events: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact-dedup: keep the first arrival per key, dropping
    re-deliveries that land within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` bounds state: a key's dedup
    record is evicted once the watermark passes it, so state size
    tracks the late-data window, not the stream's lifetime key
    cardinality — the property that makes exact dedup viable on an
    unbounded 100 TB/day feed (the registry's batch exact_dup_groups
    is the bounded-corpus twin). Source-level re-delivery outside the
    horizon is the MergeWriter's job (keyed upsert), not state's.
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling/sliding-window aggregate over a stream (or
    batch — the expression is identical): count + value sum per
    (window, key). Late rows beyond the watermark are dropped, bounding
    state size on a real cluster."""
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def _read_ledger_before_epoch(spark, path: str, epoch: int):
    """Cumulative-ledger read for a foreachBatch retry loop: returns
    the ledger EXCLUDING the current epoch's own partition, or None if
    the ledger does not exist yet (first batch).

    The epoch filter is load-bearing for crash safety: a crash AFTER
    the epoch's writes but BEFORE the checkpoint commit re-runs the
    same epoch, and a retry that read its own previously-written
    partition would treat the whole batch as already-ingested —
    excising every span / dropping every doc and dynamically
    overwriting the correct corpus partition with gutted rows.

    Only a MISSING ledger means "first batch" — any other read failure
    (corrupt footer, storage error) must abort the batch, or the
    anti-join silently disappears and every previously seen document
    re-enters the corpus."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        ledger = spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return None
    return ledger.where(F.col("__epoch") != F.lit(epoch))


def _write_epoch_partitions(frames_paths, epoch: int) -> None:
    """Epoch-keyed dynamic overwrite for each (frame, path): a re-run
    of epoch N rewrites __epoch=N, never appends a duplicate copy."""
    for frame, path in frames_paths:
        (
            frame.withColumn("__epoch", F.lit(epoch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(path)
        )


def ingest_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    corpus_path: str,
    ledger_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fmt: str = "parquet",
    compact_every: int | None = None,
) -> None:
    """Streaming corpus ingest with CROSS-BATCH exact dedup: each
    micro-batch fingerprints its documents (bag-of-words md5,
    operators/dedup.py::bow_fingerprint), drops in-batch duplicates
    deterministically (smallest id wins), anti-joins the accepted
    ledger built by all PREVIOUS batches, appends the survivors to the
    corpus, and appends their fingerprints to the ledger.

    This is the ingest-time dedup loop every training-data pipeline
    runs: a document seen in any earlier delivery never re-enters the
    corpus, across arbitrarily many stream restarts
    (``availableNow`` + checkpoint = each file processed exactly
    once). The ledger must live inside ``foreachBatch`` — a
    stream-static join would freeze the static side per run, so
    batch N would not see batch N−1's fingerprints; re-reading the
    ledger per micro-batch is what makes the dedup cumulative.

    At 100 TB: the ledger is fingerprint-only (16-byte md5 + nothing),
    orders of magnitude smaller than the corpus; bucket it on the
    fingerprint so the per-batch anti-join co-locates.

    Crash safety: both writes are partitioned by the micro-batch epoch
    and use DYNAMIC partition overwrite, so a retried epoch replaces
    its own ``__epoch=N`` partition instead of appending a second copy
    — the corpus never holds duplicate rows from a crash between the
    two writes (the previously documented window). The epoch id is
    stable across restarts because it comes from the checkpoint, which
    also means corpus/ledger paths must stay paired with ONE
    checkpoint lineage — reusing them under a fresh checkpoint restarts
    epoch numbering at 0 and dynamic overwrite would clobber old
    partitions. A transactional table format (Delta/Iceberg,
    operators/merge.py delegation) is the single-atomic-commit
    upgrade.
    """
    from ..operators.dedup import (
        bow_fingerprint,
        dedup_against_ledger,
        dedup_deterministic,
    )

    def _merge(batch: DataFrame, epoch: int) -> None:
        b = dedup_deterministic(
            batch.withColumn("fingerprint", bow_fingerprint(F.col(text_col))),
            ["fingerprint"],
            [F.col(id_col).asc()],
        )
        s = batch.sparkSession
        # excluding the current epoch from the ledger read makes a
        # crashed-after-write retry idempotent instead of seeing its
        # own fingerprints and writing an empty epoch (see helper)
        ledger = _read_ledger_before_epoch(s, ledger_path, epoch)
        fresh = b if ledger is None else dedup_against_ledger(b, ledger)
        fresh.persist()
        try:
            _write_epoch_partitions(
                ((fresh, corpus_path), (fresh.select("fingerprint"), ledger_path)),
                epoch,
            )
        finally:
            fresh.unpersist()
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_ledger(s, ledger_path)

    _run_epochs(spark, input_dir, schema, checkpoint_dir, _merge, fmt=fmt)


def ingest_media_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    corpus_path: str,
    ledger_path: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    data_col: str = "data",
    fmt: str = "parquet",
    compact_every: int | None = None,
) -> None:
    """Streaming MEDIA ingest with cross-batch PERCEPTUAL dedup — the
    multimodal member of the ledger-dedup family
    (:func:`ingest_dedup_stream` exact text fingerprints,
    :func:`ingest_span_dedup_stream` exact substrings,
    :func:`ingest_neardup_stream` banded MinHash): each micro-batch
    decodes its payloads through the real codec layer
    (``operators/multimodal.py::perceptual_hash`` — Arrow-batched
    dHash), so a brightness-shifted or re-scaled copy of an image
    admitted in ANY earlier delivery never re-enters the corpus —
    the crawl-ingest case byte-level fingerprints can't see.

    Fingerprint policy (the documented split the batch operators
    use): decodable payloads dedup on ``p:<dHash>`` (perceptual);
    undecodable payloads fall back to ``s:<sha256(bytes)>`` (exact) —
    every row deduplicates on SOME key, none silently passes. The
    two namespaces are prefix-disjoint so a phash can never collide
    with a sha.

    Same loop and crash contract as :func:`ingest_dedup_stream`:
    in-batch duplicates collapse to the smallest id, the accepted
    ledger from all PREVIOUS epochs anti-joins inside ``foreachBatch``
    (a stream-static join would freeze batch N−1's fingerprints),
    both writes are epoch-partitioned with dynamic overwrite so a
    retried epoch replaces itself, and the ledger read excludes the
    current epoch for crash-retry idempotency. At 100 TB the ledger
    is fingerprint-only — orders of magnitude smaller than the media
    bytes it guards."""
    from ..operators.dedup import dedup_against_ledger, dedup_deterministic
    from ..operators.multimodal import perceptual_hash

    def _merge(batch: DataFrame, epoch: int) -> None:
        # Collapse duplicate ids BEFORE the phash join: if media_id
        # repeated within a batch, the id-equi-join below would multiply
        # rows and could pair one payload with another payload's phash
        # (fingerprint no longer describing its row's bytes). Winner is
        # deterministic: smallest payload digest per id.
        uniq = dedup_deterministic(
            batch, [id_col], [F.sha2(F.col(data_col), 256).asc()]
        )
        ph = perceptual_hash(
            uniq.select(
                F.col(id_col).alias("media_id"),
                F.col(data_col).alias("data"),
            )
        )
        keyed = uniq.join(
            ph.select(F.col("media_id").alias(id_col), "phash"), id_col
        ).withColumn(
            "fingerprint",
            F.when(
                F.col("phash").isNotNull(),
                F.concat(F.lit("p:"), F.col("phash")),
            ).otherwise(
                F.concat(F.lit("s:"), F.sha2(F.col(data_col), 256))
            ),
        ).drop("phash")
        b = dedup_deterministic(
            keyed, ["fingerprint"], [F.col(id_col).asc()]
        )
        s = batch.sparkSession
        ledger = _read_ledger_before_epoch(s, ledger_path, epoch)
        fresh = b if ledger is None else dedup_against_ledger(b, ledger)
        fresh.persist()
        try:
            _write_epoch_partitions(
                (
                    (fresh, corpus_path),
                    (fresh.select("fingerprint"), ledger_path),
                ),
                epoch,
            )
        finally:
            fresh.unpersist()
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_ledger(s, ledger_path)

    _run_epochs(spark, input_dir, schema, checkpoint_dir, _merge, fmt=fmt)


def ingest_neardup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    corpus_path: str,
    ledger_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fmt: str = "parquet",
    compact_every: int | None = None,
) -> None:
    """Streaming corpus ingest with CROSS-BATCH near-dup dedup — the
    FUZZY sibling of :func:`ingest_dedup_stream` (exact fingerprints)
    and :func:`ingest_span_dedup_stream` (exact substrings), completing
    the ledger-dedup family at the third granularity. Each micro-batch
    runs ``operators/neardup.py::dedup_against_band_ledger``: banded
    MinHash signatures of everything previously ACCEPTED form the
    ledger; a batch doc drops on any band collision with the ledger or
    with a smaller-id doc in the same batch (bucket-min, linear — a
    boilerplate template in one delivery costs O(m), never C(m,2)).

    Same crash contract as the exact loop, verbatim: epoch-keyed
    dynamic overwrite for corpus and ledger, retry excludes its own
    epoch's ledger partition (``_read_ledger_before_epoch``), the
    ledger is (band_id, band_hash) rows only (~40 B/doc·band, never
    text), in-loop ``compact_every`` folds committed epochs under the
    single-writer contract documented on :func:`compact_ledger`.

    Recall contract is the LSH one: a near-dup is caught iff it shares
    a band with an accepted doc — tune n_hashes/bands upstream in
    ``band_signatures`` defaults; exact duplicates always collide.
    """
    from ..operators.neardup import band_signatures, dedup_against_band_ledger

    def _merge(batch: DataFrame, epoch: int) -> None:
        s = batch.sparkSession
        ledger = _read_ledger_before_epoch(s, ledger_path, epoch)
        if ledger is None:
            led = band_signatures(batch.limit(0), text_col, id_col).select(
                "band_id", "band_hash"
            )
        else:
            led = ledger.select("band_id", "band_hash")
        kept, new_rows = dedup_against_band_ledger(
            batch, led, text_col=text_col, id_col=id_col
        )
        kept.persist()
        try:
            _write_epoch_partitions(
                (
                    (kept, corpus_path),
                    (new_rows.select("band_id", "band_hash"), ledger_path),
                ),
                epoch,
            )
        finally:
            kept.unpersist()
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_ledger(s, ledger_path)

    _run_epochs(spark, input_dir, schema, checkpoint_dir, _merge, fmt=fmt)


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static dimension enrichment: join a (possibly streaming)
    event frame against a BATCH dimension table. This is the streaming
    half of the reference's fact⋈dim joins (SURVEY.md §2.4 J2) — in
    Structured Streaming a stream⋈static join is stateless (the static
    side is re-read per micro-batch, picking up dim updates), so no
    watermark is needed and state stays empty.

    The dim is broadcast by default — the same "dims broadcast, facts
    stream" contract as the batch plans; pass ``broadcast_dim=False``
    for a dim too large to broadcast (the join then shuffles the
    micro-batch, which AQE sizes).

    Only stream-preserving join types are allowed: right/full joins
    would need the unmatched STATIC rows emitted, which is undefined
    for an unbounded stream (Spark rejects it at analysis; we reject
    it earlier with a clearer message).
    """
    allowed = {"inner", "left", "left_outer", "left_semi", "left_anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"enrich_stream: how={how!r} needs unmatched static-side rows, "
            f"undefined for a stream; use one of {sorted(allowed)}"
        )
    right = F.broadcast(dim) if broadcast_dim else dim
    return events.join(right, on=list(on) if not isinstance(on, str) else on, how=how)


def ingest_span_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    corpus_path: str,
    ledger_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    fmt: str = "parquet",
    compact_every: int | None = None,
) -> None:
    """Streaming ingest with cross-batch EXACT-SUBSTRING dedup — the
    passage-level sibling of :func:`ingest_dedup_stream` (which drops
    whole duplicate documents): each micro-batch excises every
    ``window``-token span already present in ANY earlier delivery (or
    earlier in the batch, keep-first) via
    ``operators/neardup.py::remove_spans_against_ledger``, appends the
    REBUILT documents to the corpus, and appends only the batch's
    novel span hashes to the ledger.

    Same cumulative-ledger discipline as the doc-level loop: the
    ledger read lives inside ``foreachBatch`` so batch N sees batch
    N−1's hashes (a stream-static join would freeze it); same
    crash-safety layout — both sinks are epoch-partitioned with
    dynamic overwrite, so a retried epoch replaces its own partition.

    At 100 TB the span ledger is larger than a doc-fingerprint ledger
    (one 16-byte hash per window position, ≈ one per token) but still
    a small fraction of raw text; bucket it on ``span_hash`` so the
    per-batch semi/anti joins co-locate, and compact old epochs
    periodically — the loop only ever reads it as one hash set
    (``compact_every=N`` does exactly that in-loop via
    :func:`compact_ledger`, same safety argument as
    :func:`ingest_dedup_stream`)."""
    from ..operators.neardup import remove_spans_against_ledger

    def _merge(batch: DataFrame, epoch: int) -> None:
        s = batch.sparkSession
        prior = _read_ledger_before_epoch(s, ledger_path, epoch)
        ledger = (
            s.createDataFrame([], "span_hash string")
            if prior is None
            else prior.select("span_hash")
        )
        cleaned, delta = remove_spans_against_ledger(
            batch, ledger, text_col=text_col, id_col=id_col, window=window
        )
        # delta derives FROM cleaned (rebuilt-text spans), so without a
        # persist the whole dedup pipeline would execute once per sink
        cleaned.persist()
        try:
            _write_epoch_partitions(
                ((cleaned, corpus_path), (delta, ledger_path)), epoch
            )
        finally:
            cleaned.unpersist()
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            compact_ledger(s, ledger_path)

    _run_epochs(spark, input_dir, schema, checkpoint_dir, _merge, fmt=fmt)


# reserved partition for folded history: real streaming epochs are
# >= 0, so a retried epoch's dynamic overwrite can never clobber it,
# and `__epoch != current` (the retry-exclusion filter) always keeps
# it visible to subsequent batches
COMPACTED_EPOCH = -1


def compact_ledger(spark: SparkSession, ledger_path: str) -> dict:
    """Fold the ledger's committed epoch partitions into the reserved
    ``__epoch=-1`` partition — the periodic maintenance both ingest
    loops' scale notes call for: the loops only ever read the ledger
    as ONE hash set, but every delivery adds a partition, so an
    unmaintained ledger accumulates epochs (and small files) linearly
    with delivery count.

    Crash-safety contract, in evaluation order:

    - The HIGHEST epoch present is never folded. foreachBatch epochs
      commit in order, so every epoch below the max is checkpoint-
      committed — but the max itself may be the write of a batch that
      crashed BEFORE its checkpoint commit, and folding it into the
      compacted partition would let that batch's RETRY see its own
      hashes (the self-read bug ``_read_ledger_before_epoch`` exists
      to prevent: the retry filter excludes ``__epoch == epoch``, and
      a fold launders those rows into ``__epoch = -1``).
    - The fold itself is write-then-delete: the distinct union of the
      folded epochs (plus any previous compacted partition) is
      dynamically overwritten into ``__epoch=-1`` FIRST, and only then
      are the folded epoch directories deleted. A crash between the
      two leaves rows duplicated across ``-1`` and their original
      epochs — harmless, because every reader treats the ledger as a
      set (distinct / semi / anti joins), and the next compaction
      folds and deletes them again.
    - Deletes go through the Hadoop FS API, so the same code runs on
      local disk and object stores.

    Returns stats: epochs folded, rows before distinct / after, and
    the max (kept) epoch. No-op (zero folded) on a missing, empty, or
    single-epoch ledger.

    SINGLE-WRITER CONTRACT (round-5 verdict task 8): one ledger tree
    has at most one writer at a time — the supported invocation is
    the in-loop ``compact_every`` hook, which runs INSIDE
    foreachBatch, strictly serialized with ingest epochs, so an
    epoch can never commit *during* a fold. Calling compact_ledger
    out-of-band against a ledger a live stream is writing is
    unsupported, for two concrete reasons: (a) the never-fold-the-max
    guard assumes epochs commit in order within ONE stream — with a
    concurrent commit the "max" this function captured is no longer
    the newest epoch, which is harmless for correctness (newly
    committed epochs are simply not folded this round) but voids the
    reasoning above only under a single epoch counter; two ingest
    STREAMS sharing a tree would collide on epoch numbers outright;
    (b) the delete phase removes directories a concurrent reader may
    have already listed — that reader's scan can fail transiently
    (set-semantics make a RETRY correct, but the failure is visible).
    Schedulers that want background maintenance should pause the
    stream (availableNow drains naturally between runs) and compact
    between drains — exactly what the in-loop hook automates.

    The CORPUS sink deliberately keeps its epoch layout: the
    write-then-delete crash window is harmless for a SET (duplicate
    hashes change no join result) but would make duplicate corpus
    ROWS visible to readers until the next fold — a plain-parquet
    corpus has no atomic swap, so bounding its file count is a job
    for a transactional format (operators/merge.py delegation) or an
    offline rewrite behind a reader barrier, not this loop.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        ledger = spark.read.parquet(ledger_path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return {"folded_epochs": 0, "rows_folded": 0, "rows_compacted": 0}
    epochs = sorted(
        r["__epoch"] for r in ledger.select("__epoch").distinct().collect()
    )
    real = [e for e in epochs if e != COMPACTED_EPOCH]
    if not real:
        return {"folded_epochs": 0, "rows_folded": 0, "rows_compacted": 0}
    max_epoch = real[-1]
    fold = [e for e in epochs if e != max_epoch]
    if fold == [] or fold == [COMPACTED_EPOCH]:
        return {
            "folded_epochs": 0,
            "rows_folded": 0,
            "rows_compacted": 0,
            "kept_epoch": max_epoch,
        }
    src = ledger.where(F.col("__epoch") != F.lit(max_epoch))
    data_cols = [c for c in ledger.columns if c != "__epoch"]
    compacted = src.select(*data_cols).dropDuplicates()
    n_before = src.count()
    # Spark (correctly) refuses to overwrite a path its own plan is
    # reading; materialize the compacted set first to cut lineage
    compacted = compacted.localCheckpoint(eager=True)
    # write first (dynamic overwrite of ONLY the -1 partition) ...
    _write_epoch_partitions(((compacted, ledger_path),), COMPACTED_EPOCH)
    n_after = spark.read.parquet(ledger_path).where(
        F.col("__epoch") == COMPACTED_EPOCH
    ).count()
    # ... then drop the folded epoch directories
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    for e in fold:
        if e == COMPACTED_EPOCH:
            continue
        p = jvm.org.apache.hadoop.fs.Path(f"{ledger_path}/__epoch={e}")
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)
    return {
        "folded_epochs": len([e for e in fold if e != COMPACTED_EPOCH]),
        "rows_folded": n_before,
        "rows_compacted": n_after,
        "kept_epoch": max_epoch,
    }


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_gap: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM interval join — the last join shape in the
    Structured Streaming matrix this module covers (stream⋈static is
    :func:`enrich_stream`): right-side events match left-side events
    with the same key whose timestamp strictly precedes them by at
    most ``max_gap`` (``l_ts < r_ts ≤ l_ts + max_gap`` — the
    click→purchase attribution window, emitting EVERY qualifying pair;
    the as-of "latest only" variant is the batch ``operators.asof``).

    Both sides carry watermarks — the state-cleanup contract: a
    buffered LEFT row is evicted once the watermark passes
    ``l_ts + max_gap`` (no future right row could match it), a RIGHT
    row once the watermark passes its own timestamp, so state is
    bounded by (watermark + gap) × arrival rate, never by stream
    length.

    ``how`` (round-9 verdict task 7): ``"inner"`` (default) emits
    matched pairs only — micro-batch-boundary-independent in the
    no-late-drop regime, the shape a batch SQL oracle replays
    verbatim. ``"left_outer"`` additionally emits each unmatched left
    row null-extended WHEN ITS STATE EVICTS — the "click with no
    purchase within the window" attribution shape. Emission is
    watermark-triggered, so the delivered set is: all matched pairs,
    plus every unmatched left row whose deadline ``l_ts + max_gap``
    fell behind the FINAL watermark (min across both streams of max
    event time, minus the delay) by the time the run drained —
    deterministic for a fixed delivery schedule, and batch-replayable
    given that final watermark (golden ``streamed_attribution_left``);
    unmatched rows still inside the watermark horizon at shutdown
    remain buffered, emitted by the NEXT run off the checkpoint.

    Column names must be disjoint apart from ``on`` (pre-alias the
    sides); the join key equality plus the two-sided time-range
    predicate is exactly the form Spark's state store optimizes.

    Operational note (measured): the event-time watermark only
    advances BETWEEN micro-batches of one run — a restart-per-delivery
    pattern (one availableNow batch per run) keeps re-reading the
    checkpointed start watermark, so state never evicts across such
    runs. Run continuously (or multi-batch via maxFilesPerTrigger,
    as the eviction test does); single-batch catch-up runs stay
    CORRECT, they just hold state longer.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(
            f"how must be 'inner' or 'left_outer', got {how!r}"
        )
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] > lw[left_ts])
        & (
            rw[right_ts]
            <= lw[left_ts] + F.expr(f"interval {max_gap}")
        )
    )
    return lw.join(rw, cond, how).drop(rw[on])


def ingest_scd2_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    table_path: str,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak: str,
    checkpoint_dir: str,
    app_id: str = "scd2",
    fmt: str = "parquet",
    n_buckets: int = 32,
    commit_clock: Callable[[int], str] | None = None,
) -> None:
    """Streaming SCD2 dimension maintenance: every drained micro-batch
    of observations merges into a VERSIONED Type-2 dimension via
    :func:`~..operators.scd.scd2_apply_changes` — touched keys only —
    and lands as an audited :class:`VersionedTable` commit, so the
    dimension gets time travel ("what did we believe the history was
    at epoch N"), CDC between epochs, and rollback on top of the
    incremental-refresh cost model.

    The dimension rows are keyed ``(key_cols…, valid_from)`` and each
    batch lands via ``replace_keys`` on the key prefix: the touched
    keys' stored runs are REPLACED wholesale by the recomputed ones in
    one commit. (Plain upsert-by-row-key is NOT enough: a
    same-timestamp re-observation with a higher tiebreak can MERGE two
    runs, removing a ``(key, valid_from)`` row — an upsert would leave
    the stale run behind, potentially two ``is_current`` rows for the
    key.) Each commit is O(touched keys' runs) written, never a table
    rewrite. Exactly-once mirrors
    :func:`ingest_versioned_stream`: checkpointed source + writer-txn
    stamp per epoch, crash-replayed epochs detected via
    ``txn_applied`` and skipped. Single writer per table.

    Observation batches must be per-key in-order (the streaming file
    source preserves arrival order; a strictly-late observation fails
    the job loudly — dead-letter upstream or rebuild the key offline,
    exactly the Delta-SCD2 operational contract).
    """
    from ..operators.scd import scd2_apply_changes, scd2_collapse
    from ..operators.versioned import VersionedTable

    keys = list(key_cols)
    vt = VersionedTable(
        table_path, keys=[*keys, "valid_from"], n_buckets=n_buckets
    )

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        s = batch.sparkSession
        if vt.latest_version() == 0:
            recomputed = scd2_collapse(
                batch, keys, attr_cols, ts_col, tiebreak,
                tiebreak_out="run_tiebreak",
            )
        else:
            touched = batch.select(*keys).distinct()
            dim_touched = vt.read(s).join(touched, keys, "left_semi")
            # dim is pre-filtered to touched keys, so apply_changes'
            # internal anti-join side is empty and the result is
            # exactly the recomputed touched-key rows.
            recomputed = scd2_apply_changes(
                dim_touched, batch, keys, attr_cols, ts_col, tiebreak
            )
        vt.replace_keys(
            s, recomputed, keys,
            txn={"app": app_id, "epoch": epoch_id},
            committed_at=(
                commit_clock(epoch_id) if commit_clock is not None else None
            ),
        )

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir, _merge, fmt=fmt,
        txn_table=vt, app_id=app_id,
    )


def stream_pit_enrich(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    intervals: DataFrame,
    on: Sequence[str],
    point_ts: str,
    start_col: str,
    end_col: str,
    out_dir: str,
    checkpoint_dir: str,
    bin_width_seconds: int = 86400,
    open_end_ts=None,
    fmt: str = "parquet",
) -> None:
    """Stream-static POINT-IN-TIME enrichment: a stream of point rows
    joins each micro-batch to the static interval table (an SCD2
    dimension) under half-open containment — the temporal sibling of
    the plain stream-static dim enrichment already in the matrix.

    The bucketized :func:`~..operators.rangejoin.interval_join` is
    streaming-compatible BY CONSTRUCTION in inner mode: the interval
    side explodes and broadcasts/shuffles as a static relation, the
    stream side maps to one bin per row, and the join is a stateless
    stream-static equi-join + filter — no watermark, no state store,
    so enrichment output is delivery-schedule-independent and a batch
    SQL oracle can replay it hash-exact. (Left mode needs a
    stream-stream anti-join and is deliberately not offered here —
    route unmatched points via a separate filter if needed.)
    """
    from ..operators.rangejoin import interval_join

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir, fmt=fmt,
        transform=lambda stream: interval_join(
            stream,
            intervals,
            on=on,
            point_ts=point_ts,
            start_col=start_col,
            end_col=end_col,
            bin_width_seconds=bin_width_seconds,
            open_end_ts=open_end_ts,
            how="inner",
        ),
        sink=lambda w: w.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
    )


def ingest_kmv_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    state_path: str,
    group_col: str,
    key_col: str,
    checkpoint_dir: str,
    k: int = 128,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming distinct-count maintenance: drain new files into a
    :class:`~..operators.sketches.KmvLedger` (availableNow, then
    stop) — per-group distinct-key sketches stay current in O(batch)
    per trigger, never re-reading history, and any pair/union/
    intersection question is answered off the state table
    (``kmv_union_estimate`` / ``kmv_intersect_estimate``).

    Exactly-once WITHOUT transaction stamps: unlike the additive
    ledgers in this family, the KMV merge is a set union —
    idempotent under re-delivery — so a foreachBatch epoch replayed
    after a crash between the state write and the checkpoint advance
    folds to the SAME state. At-least-once delivery is sufficient;
    no epoch bookkeeping exists to corrupt.
    """
    from ..operators.sketches import KmvLedger

    ledger = KmvLedger(state_path, group_col, key_col, k=k)
    _run_epochs(
        spark, input_dir, schema, checkpoint_dir,
        lambda batch, _: ledger.update(batch.sparkSession, batch),
        fmt=fmt, max_files_per_trigger=max_files_per_trigger,
        transform=transform,
    )


def ingest_quarantine_stream(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    clean_table: str,
    dlq_table: str,
    keys: Sequence[str],
    rules: dict,
    checkpoint_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming dead-letter routing: drain new files, split each
    micro-batch through
    :func:`~..operators.constraints.quarantine_split`, and MERGE the
    clean rows into the keyed clean table while the violating rows
    (tagged with every failed rule) MERGE into the dead-letter table
    — the streaming form of the constraints family's report→route
    progression, so bad records are neither silently dropped nor
    allowed to poison the clean table, and an operator can replay the
    DLQ after fixing the producer.

    Exactly-once per key: both sinks are keyed
    :class:`~..operators.merge.MergeWriter` upserts, so a
    crash-replayed epoch re-merges the same rows onto themselves.
    The split is deterministic per row (pure predicates), so replays
    route identically.
    """
    from ..operators.constraints import quarantine_split

    cw = MergeWriter(clean_table, keys=keys)
    qw = MergeWriter(dlq_table, keys=keys)

    def _route(batch: DataFrame, epoch_id: int) -> None:
        clean, bad = quarantine_split(batch, rules)
        if not clean.isEmpty():
            cw.upsert(batch.sparkSession, clean)
        if not bad.isEmpty():
            qw.upsert(batch.sparkSession, bad)

    _run_epochs(
        spark, input_dir, schema, checkpoint_dir, _route, fmt=fmt,
        max_files_per_trigger=max_files_per_trigger,
    )
