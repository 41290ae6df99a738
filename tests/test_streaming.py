import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from batch_processing_on_aws_spark.operators.merge import MergeWriter
from batch_processing_on_aws_spark.streaming import (
    dedup_stream,
    incremental_merge_stream,
    windowed_event_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def _write_batch(spark, path, rows, name):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_incremental_stream_exactly_once_per_key(spark, tmp_path):
    inp = str(tmp_path / "in")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    writer = MergeWriter(table, ["k"])
    _write_batch(spark, inp, [(1, "a"), (2, "b")], "b1")
    incremental_merge_stream(spark, inp, SCHEMA, table, ["k"], ckpt)
    got = {r["k"]: r["v"] for r in writer.read(spark).collect()}
    assert got == {1: "a", 2: "b"}

    # second run with no new files: checkpoint prevents reprocessing
    incremental_merge_stream(spark, inp, SCHEMA, table, ["k"], ckpt)
    assert writer.read(spark).count() == 2
    assert writer.versions() == [1]  # no new commit either

    # a late re-delivery of key 2 plus a new key → merge, not append
    _write_batch(spark, inp, [(2, "B"), (3, "c")], "b2")
    incremental_merge_stream(spark, inp, SCHEMA, table, ["k"], ckpt)
    got = {r["k"]: r["v"] for r in writer.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_incremental_stream_with_transform(spark, tmp_path):
    inp = str(tmp_path / "in")
    table = str(tmp_path / "t")
    _write_batch(spark, inp, [(1, "x")], "b1")
    incremental_merge_stream(
        spark, inp, SCHEMA, table, ["k"], str(tmp_path / "ck"),
        transform=lambda df: df.withColumn("v", F.upper("v")),
    )
    assert MergeWriter(table, ["k"]).read(spark).collect()[0]["v"] == "X"


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    """dropDuplicatesWithinWatermark through a real streaming query:
    duplicate keys arriving within the watermark emit once."""
    inp = str(tmp_path / "dup")
    rows = [
        ("2024-01-01 00:01:00", 1, "first"),
        ("2024-01-01 00:02:00", 1, "redelivery"),
        ("2024-01-01 00:03:00", 2, "only"),
        ("2024-01-01 00:03:30", 1, "redelivery2"),
    ]
    spark.createDataFrame(rows, "ts string, k long, v string").select(
        F.to_timestamp("ts").alias("ts"), "k", "v"
    ).coalesce(1).write.parquet(inp)

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(inp)
    q = (
        dedup_stream(stream, ["k"], watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedupstream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["k"]: r["v"] for r in spark.sql("select * from dedupstream").collect()}
    assert set(got) == {1, 2}
    assert got[2] == "only"


def test_windowed_counts_streaming_memory_sink(spark, tmp_path):
    """Drive the watermarked windowed aggregate through an actual
    streaming query (file source → memory sink, availableNow)."""
    inp = str(tmp_path / "ev")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows = [
        ("2024-01-01 00:01:00", "click", 1.0),
        ("2024-01-01 00:02:00", "click", 2.0),
        ("2024-01-01 00:07:00", "view", 3.0),
    ]
    spark.createDataFrame(rows, "ts string, event_type string, value double").select(
        F.to_timestamp("ts").alias("ts"), "event_type", "value"
    ).coalesce(1).write.parquet(inp)

    stream = spark.readStream.schema(schema).parquet(inp)
    agg = windowed_event_counts(stream, window="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wincounts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {
        (r["window_start"].minute, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from wincounts").collect()
    }
    assert out == {(0, "click"): (2, 3.0), (5, "view"): (1, 3.0)}


def test_enrich_stream_joins_static_dim(spark, tmp_path):
    """Stream-static join: events stream through a real streaming
    query enriched by a batch dim; unmatched keys keep null dim cols
    (left join), and the query plans stateless (no watermark needed)."""
    from batch_processing_on_aws_spark.streaming import enrich_stream

    inp = str(tmp_path / "ev")
    spark.createDataFrame(
        [(1, "click"), (2, "view"), (99, "click")], "k long, ev string"
    ).coalesce(1).write.parquet(inp)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "k long, tier string"
    )
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ev", T.StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(inp)
    q = (
        enrich_stream(stream, dim, on="k")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r.k: r.tier for r in spark.sql("SELECT * FROM enriched").collect()}
    assert got == {1: "gold", 2: "silver", 99: None}


def test_enrich_stream_rejects_static_preserving_joins(spark):
    from batch_processing_on_aws_spark.streaming import enrich_stream

    dim = spark.createDataFrame([(1, "x")], "k long, v string")
    ev = spark.createDataFrame([(1, "e")], "k long, ev string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unmatched static"):
        enrich_stream(ev, dim, on="k", how="right")


def test_ingest_dedup_stream_cross_batch(spark, tmp_path):
    """Cross-batch ledger dedup through a real streaming query: a doc
    re-delivered in a LATER batch (and a shuffled word-order copy) is
    dropped; restarts reprocess nothing."""
    from batch_processing_on_aws_spark.streaming import ingest_dedup_stream

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    inp = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    def land(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    land([(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "alpha beta gamma")])
    ingest_dedup_stream(spark, inp, doc_schema, corpus, ledger, ckpt)
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2}  # in-batch dup 3 lost to smaller id 1

    # batch 2: one exact re-delivery, one word-order shuffle, one new
    land([(4, "delta epsilon"), (5, "gamma beta alpha"), (6, "zeta eta")])
    ingest_dedup_stream(spark, inp, doc_schema, corpus, ledger, ckpt)
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 6}

    # restart with nothing new: checkpoint prevents reprocessing
    ingest_dedup_stream(spark, inp, doc_schema, corpus, ledger, ckpt)
    assert spark.read.parquet(corpus).count() == 3
    assert spark.read.parquet(ledger).count() == 3

    # crash-safe layout: both sinks are epoch-partitioned so a retried
    # epoch overwrites its own partition instead of appending a dup
    import os

    assert any(d.startswith("__epoch=") for d in os.listdir(corpus))
    assert any(d.startswith("__epoch=") for d in os.listdir(ledger))


def test_ingest_span_dedup_stream_cross_batch(spark, tmp_path):
    """Passage-level cross-batch dedup through a real streaming query:
    a passage delivered in batch 1 is excised from any batch-2 doc
    that repeats it, while novel text survives; restarts reprocess
    nothing."""
    from batch_processing_on_aws_spark.streaming import (
        ingest_span_dedup_stream,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    inp = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    def land(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    def run():
        ingest_span_dedup_stream(
            spark, inp, doc_schema, corpus, ledger, ckpt, window=4
        )

    boiler = "standard license header text"  # one 4-token span
    land([(1, boiler + " alpha beta"), (2, "totally different words here")])
    run()
    got = {r["doc_id"]: r for r in spark.read.parquet(corpus).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_tokens_removed"] == 0  # first sighting survives

    # batch 2: doc 3 repeats the boilerplate + new tail, doc 4 is new
    land([(3, boiler + " fresh tail words"), (4, "brand new content only")])
    run()
    got = {r["doc_id"]: r for r in spark.read.parquet(corpus).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[3]["n_tokens_removed"] >= 4  # ledger passage excised
    assert "license header" not in got[3]["text"]
    assert "fresh tail words" in got[3]["text"]
    assert got[4]["n_tokens_removed"] == 0

    # restart with nothing new: checkpoint prevents reprocessing
    run()
    assert spark.read.parquet(corpus).count() == 4

    import os

    assert any(d.startswith("__epoch=") for d in os.listdir(corpus))
    assert any(d.startswith("__epoch=") for d in os.listdir(ledger))


def test_read_ledger_excludes_current_epoch(spark, tmp_path):
    """The cumulative-ledger read must exclude the reading epoch's own
    partition: a crashed-after-write retry would otherwise see its own
    output, treat the whole batch as already-ingested, and dynamically
    overwrite the correct corpus partition with gutted rows."""
    from batch_processing_on_aws_spark.streaming.incremental import (
        _read_ledger_before_epoch,
    )

    path = str(tmp_path / "ledger")
    assert _read_ledger_before_epoch(spark, path, 0) is None  # first batch
    for epoch, h in ((0, "h0"), (1, "h1")):
        spark.createDataFrame([(h,)], "span_hash string").withColumn(
            "__epoch", F.lit(epoch)
        ).write.mode("append").partitionBy("__epoch").parquet(path)
    # retry of epoch 1 sees only epoch 0's hashes
    got = {r["span_hash"] for r in _read_ledger_before_epoch(spark, path, 1).collect()}
    assert got == {"h0"}
    # a normal epoch 2 sees both
    got = {r["span_hash"] for r in _read_ledger_before_epoch(spark, path, 2).collect()}
    assert got == {"h0", "h1"}


def test_span_ledger_delta_reflects_cleaned_text(spark):
    """The ledger delta must describe the REBUILT corpus text: a fresh
    span that lost tokens to a ledger-covered cut may not advertise its
    pre-cut hash, or a later sole copy of that passage would be
    destroyed."""
    from batch_processing_on_aws_spark.operators.neardup import (
        remove_spans_against_ledger,
        span_windows,
    )

    prior = spark.createDataFrame(
        [(0, "a b c d")], "doc_id long, text string"
    )
    ledger = span_windows(prior, window=4).select("span_hash")
    batch = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    cleaned, delta = remove_spans_against_ledger(batch, ledger, window=4)
    row = cleaned.collect()[0]
    assert row["text"] == "e" and row["n_tokens_removed"] == 4
    # pre-cut span 'b c d e' overlapped the cut region: its hash must
    # NOT be advertised (the corpus holds no copy of that passage);
    # the cleaned text 'e' is shorter than the window -> empty delta
    assert delta.count() == 0
    later = spark.createDataFrame(
        [(2, "b c d e")], "doc_id long, text string"
    )
    merged = ledger.unionByName(delta)
    cleaned2, _ = remove_spans_against_ledger(later, merged, window=4)
    assert cleaned2.collect()[0]["n_tokens_removed"] == 0  # survives


def test_compact_ledger_folds_committed_epochs(spark, tmp_path):
    """compact_ledger folds every epoch BELOW the max into the
    reserved __epoch=-1 partition (write-then-delete), the ingest loop
    keeps deduping identically afterwards, and the max epoch — which
    may be an uncommitted crash remnant — is never folded (folding it
    would let that epoch's retry see its own hashes)."""
    import os

    from batch_processing_on_aws_spark.streaming import ingest_dedup_stream
    from batch_processing_on_aws_spark.streaming.incremental import (
        COMPACTED_EPOCH,
        _read_ledger_before_epoch,
        compact_ledger,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    inp = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    def land(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    for batch in (
        [(1, "alpha beta gamma"), (2, "delta epsilon")],
        [(3, "zeta eta")],
        [(4, "theta iota")],
    ):
        land(batch)
        ingest_dedup_stream(spark, inp, doc_schema, corpus, ledger, ckpt)

    before = {r["fingerprint"] for r in spark.read.parquet(ledger).collect()}
    epochs_before = {
        d for d in os.listdir(ledger) if d.startswith("__epoch=")
    }
    assert len(epochs_before) == 3

    stats = compact_ledger(spark, ledger)
    assert stats["folded_epochs"] == 2
    after = {r["fingerprint"] for r in spark.read.parquet(ledger).collect()}
    assert after == before  # fold preserves the hash SET exactly
    epochs_after = {d for d in os.listdir(ledger) if d.startswith("__epoch=")}
    assert f"__epoch={COMPACTED_EPOCH}" in epochs_after
    assert f"__epoch={stats['kept_epoch']}" in epochs_after
    assert len(epochs_after) == 2  # -1 + the kept max

    # idempotent: nothing below the max left to fold
    assert compact_ledger(spark, ledger)["folded_epochs"] == 0

    # the loop keeps deduping against the compacted ledger: re-deliver
    # an old doc + a new one
    land([(5, "alpha beta gamma"), (6, "kappa lambda")])
    ingest_dedup_stream(spark, inp, doc_schema, corpus, ledger, ckpt)
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 2, 3, 4, 6}  # 5 deduped against folded history

    # retry-exclusion survives compaction: the (new) max epoch's own
    # rows are still invisible to its retry, while folded history is
    # visible
    max_epoch = max(
        r["__epoch"]
        for r in spark.read.parquet(ledger).select("__epoch").distinct().collect()
    )
    view = _read_ledger_before_epoch(spark, ledger, max_epoch)
    visible = {r["fingerprint"] for r in view.collect()}
    own = {
        r["fingerprint"]
        for r in spark.read.parquet(ledger)
        .where(F.col("__epoch") == max_epoch)
        .collect()
    }
    assert before <= visible
    assert not (own & visible)


def test_ingest_stream_auto_compacts(spark, tmp_path):
    """compact_every folds the ledger in-loop: after several
    deliveries the partition count stays bounded, the hash set is
    intact, and dedup still works across the fold."""
    import os

    from batch_processing_on_aws_spark.streaming import ingest_dedup_stream
    from batch_processing_on_aws_spark.streaming.incremental import (
        COMPACTED_EPOCH,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    inp = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    for i in range(4):
        spark.createDataFrame(
            [(i * 10, f"doc number {i} alpha"), (i * 10 + 1, f"doc number {i} beta")],
            doc_schema,
        ).coalesce(1).write.mode("append").parquet(inp)
        ingest_dedup_stream(
            spark, inp, doc_schema, corpus, ledger, ckpt, compact_every=2
        )

    parts = {d for d in os.listdir(ledger) if d.startswith("__epoch=")}
    # epochs 0..3 delivered; compaction ran at epoch 2 (folding 0,1
    # into -1); epoch 3 not yet compacted
    assert f"__epoch={COMPACTED_EPOCH}" in parts
    assert len(parts) <= 3
    assert spark.read.parquet(ledger).select("fingerprint").distinct().count() == 8

    # re-delivery of a doc folded long ago is still dropped
    spark.createDataFrame(
        [(99, "doc number 0 alpha")], doc_schema
    ).coalesce(1).write.mode("append").parquet(inp)
    ingest_dedup_stream(
        spark, inp, doc_schema, corpus, ledger, ckpt, compact_every=2
    )
    got = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert 99 not in got and len(got) == 8


def test_ingest_neardup_stream_cross_batch(spark, tmp_path):
    """Fuzzy cross-batch ledger dedup through a real streaming query:
    a NEAR-duplicate (one-word edit) of a batch-1 doc delivered in
    batch 2 is dropped via band collision — the case the exact
    fingerprint loop misses — while novel text survives; restarts
    reprocess nothing and both sinks stay epoch-partitioned."""
    from batch_processing_on_aws_spark.streaming import (
        ingest_neardup_stream,
    )

    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the tall green hills tonight")
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    inp = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    def land(rows):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    land([(1, base), (2, base)])  # 2 = in-batch exact dup, min id wins
    ingest_neardup_stream(spark, inp, doc_schema, corpus, ledger, ckpt)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1}

    # batch 2: a one-word near-dup of doc 1, plus genuinely new text
    land([
        (3, base.replace("quick", "swift")),
        (4, "entirely different prose about sort merge join exchange "
            "reuse in adaptive query execution layers of an engine"),
    ])
    ingest_neardup_stream(spark, inp, doc_schema, corpus, ledger, ckpt)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == {1, 4}

    # restart with nothing new: checkpoint prevents reprocessing
    ingest_neardup_stream(spark, inp, doc_schema, corpus, ledger, ckpt)
    assert spark.read.parquet(corpus).count() == 2
    # ledger holds band rows for KEPT docs only (2 docs x 4 bands)
    assert spark.read.parquet(ledger).count() == 8
    import os

    assert any(d.startswith("__epoch=") for d in os.listdir(corpus))
    assert any(d.startswith("__epoch=") for d in os.listdir(ledger))


def test_compact_ledger_interleaved_epoch_commit(spark, tmp_path, monkeypatch):
    """Round-6 verdict task 7: the single-writer contract's claimed
    failure shape, made deterministic. An epoch COMMITS in the middle
    of a fold — after compact_ledger has captured its epoch list,
    before its write+delete phases (the most adversarial point). The
    documented outcome is 'harmless for correctness: newly committed
    epochs are simply not folded this round' — this pins that: the
    mid-fold epoch survives untouched, no hash is lost or duplicated
    as a SET, and the next compaction folds it normally."""
    from batch_processing_on_aws_spark.streaming import incremental as incr

    ledger = str(tmp_path / "ledger")

    def commit(epoch, rows):
        df = spark.createDataFrame(rows, "band_id long, band_hash string")
        real_write(((df, ledger),), epoch)

    real_write = incr._write_epoch_partitions
    commit(0, [(0, "h0"), (1, "h1")])
    commit(1, [(0, "h2")])
    commit(2, [(1, "h3")])

    injected = {"done": False}

    def interleaving_write(frames_paths, epoch):
        # first write from inside compact_ledger = the fold's own
        # __epoch=-1 write; land a concurrent epoch commit first
        if not injected["done"] and epoch == incr.COMPACTED_EPOCH:
            injected["done"] = True
            commit(3, [(0, "h4"), (1, "h1")])  # h1 repeats an old hash
        real_write(frames_paths, epoch)

    monkeypatch.setattr(incr, "_write_epoch_partitions", interleaving_write)
    stats = incr.compact_ledger(spark, ledger)
    monkeypatch.undo()
    assert injected["done"], "interleaving never fired"
    # the fold saw epochs {0,1,2}: folds 0,1; keeps max 2; epoch 3
    # committed mid-fold is neither folded nor deleted
    assert stats["folded_epochs"] == 2
    led = spark.read.parquet(ledger)
    by_epoch = {
        r["__epoch"] for r in led.select("__epoch").distinct().collect()
    }
    assert by_epoch == {incr.COMPACTED_EPOCH, 2, 3}
    # no hash lost: the ledger SET equals everything ever committed
    hashes = {(r["band_id"], r["band_hash"]) for r in led.collect()}
    assert hashes == {(0, "h0"), (1, "h1"), (0, "h2"), (1, "h3"), (0, "h4")}
    # the next (un-interleaved) compaction folds the mid-fold epoch
    stats2 = incr.compact_ledger(spark, ledger)
    # folds epoch 2 (plus re-merging the -1 partition, which the
    # counter deliberately excludes); max epoch 3 kept
    assert stats2["folded_epochs"] == 1
    led2 = spark.read.parquet(ledger)
    hashes2 = {(r["band_id"], r["band_hash"]) for r in led2.collect()}
    assert hashes2 == hashes
    assert stats2["kept_epoch"] == 3


def test_versioned_stream_epoch_replay_skipped(spark, tmp_path):
    """ingest_versioned_stream: each epoch lands as an audited
    version stamped (app, epoch); a crash-REPLAYED epoch (foreachBatch
    re-invoked with the same epoch_id after the table commit but
    before the checkpoint advance) must be detected via txn_applied
    and skipped — no duplicate version, state unchanged."""
    from batch_processing_on_aws_spark.operators.versioned import (
        VersionedTable,
    )

    path = str(tmp_path / "vt")
    vt = VersionedTable(path, keys=["id"], n_buckets=4)

    def commit(epoch, rows):
        df = spark.createDataFrame(rows, "id long, val string")
        if not vt.txn_applied("app", epoch):
            vt.upsert(spark, df, txn={"app": "app", "epoch": epoch})

    commit(0, [(1, "a"), (2, "b")])
    commit(1, [(2, "B"), (3, "c")])
    assert vt.latest_version() == 2
    state = {(r["id"], r["val"]) for r in vt.read(spark).collect()}
    # the crash replay: same epoch arrives again
    commit(1, [(2, "B"), (3, "c")])
    assert vt.latest_version() == 2              # no duplicate commit
    assert {(r["id"], r["val"]) for r in vt.read(spark).collect()} == state
    # an OLDER epoch replay is also skipped (epochs are monotonic)
    commit(0, [(1, "a"), (2, "b")])
    assert vt.latest_version() == 2
    # the next real epoch still lands
    commit(2, [(4, "d")])
    assert vt.latest_version() == 3
    assert vt._manifest(3)["txn"] == {"app": "app", "epoch": 2}


def test_versioned_stream_end_to_end(spark, tmp_path):
    """Two availableNow deliveries through the real stream: two
    audited versions with txn stamps, CDC between them shows exactly
    the second delivery's effect."""
    import os

    from pyspark.sql import types as T

    from batch_processing_on_aws_spark.operators.versioned import (
        VersionedTable,
    )
    from batch_processing_on_aws_spark.streaming.incremental import (
        ingest_versioned_stream,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
    )
    inp = str(tmp_path / "in")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    d2 = spark.createDataFrame([(2, "B"), (3, "c")], schema)
    for d in (d1, d2):
        d.coalesce(1).write.mode("append").parquet(inp)
        ingest_versioned_stream(
            spark, inp, schema, table, ["id"], ckpt, app_id="t"
        )
    vt = VersionedTable(table, keys=["id"])
    assert vt.versions() == [1, 2]
    assert vt._manifest(1)["txn"]["app"] == "t"
    assert {(r["id"], r["val"]) for r in vt.read(spark).collect()} == {
        (1, "a"), (2, "B"), (3, "c"),
    }
    feed = {
        (r["id"], r["change_type"]) for r in vt.changes(spark, 1, 2).collect()
    }
    assert feed == {(2, "update"), (3, "insert")}
    assert os.path.isdir(ckpt)


def test_stream_interval_join_cross_batch_and_eviction(spark, tmp_path):
    """Stream-stream interval join, one continuous run batched file-
    at-a-time (maxFilesPerTrigger=1) so the event-time watermark
    actually advances between micro-batches: a purchase matches clicks
    buffered from EARLIER batches (cross-batch state), a same-key
    purchase beyond the 30-min gap never matches, a purchase inside
    two clicks' windows emits BOTH pairs — and once the global
    watermark (MIN across the two streams) passes the clicks'
    eviction thresholds, a later too-late purchase that would have
    matched them emits NOTHING while fresh pairs keep flowing: real
    state cleanup, observed via shrinking stateOperators rows."""
    import datetime as dt
    import time

    from batch_processing_on_aws_spark.streaming.incremental import (
        stream_interval_join,
    )

    cs = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_id", T.LongType()),
            T.StructField("click_ts", T.TimestampType()),
        ]
    )
    ps = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("purchase_id", T.LongType()),
            T.StructField("purchase_ts", T.TimestampType()),
        ]
    )

    def t(minute):
        return dt.datetime(2026, 1, 1, 12, 0) + dt.timedelta(minutes=minute)

    def w(sub, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / sub))
        time.sleep(0.05)  # distinct mtimes fix the file-source order

    # interleaved file sequence; each becomes (part of) a micro-batch
    w("c", [(1, 101, t(0)), (1, 102, t(10)), (2, 201, t(0)),
            (3, 301, t(0))], cs)
    w("p", [(3, 3001, t(5))], ps)                      # in-batch pair
    w("c", [(4, 401, t(150))], cs)
    w("p", [(1, 1001, t(20)), (2, 2001, t(120))], ps)  # cross-batch ×2;
    #   2001 is 120 min after its click (beyond gap) AND pushes the
    #   purchase-side watermark to t110
    w("c", [(5, 501, t(152))], cs)                     # click side advances
    w("p", [(5, 5001, t(153))], ps)                    # fresh pair
    w("c", [(6, 601, t(153))], cs)
    w("p", [(1, 1002, t(25)), (4, 4001, t(160))], ps)  # 1002 arrives after
    #   the user-1 clicks' state (thresholds t30/t40) was evicted

    clicks = (
        spark.readStream.schema(cs).option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "c"))
    )
    purch = (
        spark.readStream.schema(ps).option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "p"))
    )
    joined = stream_interval_join(
        clicks, purch, on="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        max_gap="30 minutes", watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {
        (3001, 301),
        (1001, 101), (1001, 102),
        (5001, 501),
        (4001, 401),
    }
    # the watermark moved and state actually SHRANK at least once
    wm = [p.eventTime.get("watermark") for p in q.recentProgress]
    assert len(set(wm)) > 1, wm
    state = [s.numRowsTotal for p in q.recentProgress
             for s in p.stateOperators]
    assert any(b < a for a, b in zip(state, state[1:])), state


def test_stream_interval_join_left_outer_unmatched_emission(
    spark, tmp_path
):
    """LEFT-OUTER stream-stream interval join (round-9 verdict task
    7): the same delivery schedule as the inner test, joined
    left_outer — every matched pair still emits exactly once, a click
    with NO purchase inside its 30-min window emits null-extended
    once the watermark passes its deadline (observed: the watermark
    advanced and the row appeared), a matched click never emits a
    null row, and a click whose deadline is still inside the final
    watermark horizon stays buffered (absent from the delivered
    set)."""
    import datetime as dt
    import time

    import pytest as _pytest

    from batch_processing_on_aws_spark.streaming.incremental import (
        stream_interval_join,
    )

    cs = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("click_id", T.LongType()),
            T.StructField("click_ts", T.TimestampType()),
        ]
    )
    ps = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("purchase_id", T.LongType()),
            T.StructField("purchase_ts", T.TimestampType()),
        ]
    )

    def t(minute):
        return dt.datetime(2026, 1, 1, 12, 0) + dt.timedelta(minutes=minute)

    def w(sub, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / sub))
        time.sleep(0.05)

    w("c", [(1, 101, t(0)), (2, 201, t(0)), (3, 301, t(0))], cs)
    w("p", [(3, 3001, t(5))], ps)
    w("c", [(4, 401, t(150))], cs)
    w("p", [(1, 1001, t(20)), (2, 2001, t(120))], ps)  # 2001 beyond gap
    w("c", [(5, 501, t(152)), (6, 601, t(153))], cs)   # 601: no purchase,
    #   deadline t183 stays inside the final watermark horizon
    w("p", [(5, 5001, t(153)), (4, 4001, t(160))], ps)

    clicks = (
        spark.readStream.schema(cs).option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "c"))
    )
    purch = (
        spark.readStream.schema(ps).option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "p"))
    )
    joined = stream_interval_join(
        clicks, purch, on="user_id",
        left_ts="click_ts", right_ts="purchase_ts",
        max_gap="30 minutes", watermark="10 minutes",
        how="left_outer",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {
        (3001, 301),
        (1001, 101),
        (5001, 501),
        (4001, 401),
        (None, 201),  # watermark-triggered unmatched emission
    }
    # the null-extension carries NULL right timestamps too
    null_row = [
        r
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
        if r["click_id"] == 201
    ][0]
    assert null_row["purchase_ts"] is None
    assert null_row["user_id"] == 2
    # watermark genuinely advanced during the run
    wm = [p.eventTime.get("watermark") for p in q.recentProgress]
    assert len(set(wm)) > 1, wm
    with _pytest.raises(ValueError, match="how"):
        stream_interval_join(
            clicks, purch, on="user_id",
            left_ts="click_ts", right_ts="purchase_ts", how="full",
        )


def test_quarantine_stream_routes_both_sides(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from batch_processing_on_aws_spark.operators.merge import MergeWriter
    from batch_processing_on_aws_spark.streaming.incremental import (
        ingest_quarantine_stream,
    )

    inp = str(tmp_path / "in")
    clean_t, dlq_t = str(tmp_path / "clean"), str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.LongType()),
        ]
    )
    rules = {"v_small": F.col("v") < 100}
    rows1 = [(1, 5), (2, 500)]
    rows2 = [(3, 7), (4, 1000), (2, 500)]  # row 2 re-delivered
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        ingest_quarantine_stream(
            spark, inp, schema, clean_t, dlq_t,
            keys=["id"], rules=rules, checkpoint_dir=ckpt,
        )
    clean = {r["id"] for r in MergeWriter(clean_t, ["id"]).read(spark).collect()}
    dlq = {
        r["id"]: r["violations"]
        for r in MergeWriter(dlq_t, ["id"]).read(spark).collect()
    }
    # deterministic routing, re-delivery merges onto itself
    assert clean == {1, 3}
    assert dlq == {2: "v_small", 4: "v_small"}


def test_ingest_media_dedup_stream_cross_batch(spark, tmp_path):
    """Cross-batch PERCEPTUAL dedup through a real streaming query: a
    brightness-shifted copy of an image admitted in an earlier
    delivery is dropped (byte-level fingerprints can't see it);
    undecodable payloads dedup in the sha256 fallback namespace."""
    from batch_processing_on_aws_spark.streaming import (
        ingest_media_dedup_stream,
    )

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
        ]
    )
    inp = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    # 9x8 P5 with a horizontal gradient capped < 192 so +64 never wraps
    base = [[(x * 13 + y * 7) % 128 for x in range(9)] for y in range(8)]
    img = b"P5 9 8 255\n" + bytes(v for row in base for v in row)
    bright = b"P5 9 8 255\n" + bytes(v + 64 for row in base for v in row)
    upscale = b"P5 18 16 255\n" + bytes(
        base[y // 2][x // 2] for y in range(16) for x in range(18)
    )
    other = [[(x * 31 + y * 3) % 128 for x in range(9)] for y in range(8)]
    img2 = b"P5 9 8 255\n" + bytes(v for row in other for v in row)

    def land(rows):
        spark.createDataFrame(rows, media_schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    # batch 1: base image, an in-batch brightness twin, one broken blob
    land([(1, img), (2, bright), (3, b"raw:zzz")])
    ingest_media_dedup_stream(spark, inp, media_schema, corpus, ledger, ckpt)
    got = {r["media_id"]: r["fingerprint"]
           for r in spark.read.parquet(corpus).collect()}
    assert set(got) == {1, 3}  # twin 2 lost to smaller id 1
    assert got[1].startswith("p:") and got[3].startswith("s:")

    # batch 2: a 2x upscale of the admitted image (dHash-identical),
    # a byte-identical re-delivery of the broken blob, and a new image
    land([(4, upscale), (5, b"raw:zzz"), (6, img2)])
    ingest_media_dedup_stream(spark, inp, media_schema, corpus, ledger, ckpt)
    got = {r["media_id"] for r in spark.read.parquet(corpus).collect()}
    assert got == {1, 3, 6}

    # restart with nothing new: checkpoint prevents reprocessing
    ingest_media_dedup_stream(spark, inp, media_schema, corpus, ledger, ckpt)
    assert spark.read.parquet(corpus).count() == 3
    assert spark.read.parquet(ledger).count() == 3


def test_replicate_changes_stream_end_to_end(spark, tmp_path):
    """replicate_changes_stream: a batch spanning two source commits
    collapses to the last change per key (max v_to), inserts/updates
    land as one upsert commit and deletes as one delete_keys commit
    (separate txn stamps), and the target converges to the source's
    final state."""
    from batch_processing_on_aws_spark.operators.versioned import (
        VersionedTable,
    )
    from batch_processing_on_aws_spark.streaming.incremental import (
        replicate_changes_stream,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
            T.StructField("change_type", T.StringType()),
            T.StructField("v_to", T.LongType()),
        ]
    )
    feed = str(tmp_path / "feed")
    target = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    # delivery 1 spans v1 (seed inserts) and v2 (update id=2, delete
    # id=1, insert id=3): last-change-wins within the batch
    d1 = spark.createDataFrame(
        [
            (1, "a", "insert", 1),
            (2, "b", "insert", 1),
            (2, "B", "update", 2),
            (1, None, "delete", 2),
            (3, "c", "insert", 2),
        ],
        schema,
    )
    # delivery 2: v3 deletes id=3, re-inserts id=1
    d2 = spark.createDataFrame(
        [(3, None, "delete", 3), (1, "A", "insert", 3)], schema
    )
    for d in (d1, d2):
        d.coalesce(1).write.mode("append").parquet(feed)
        replicate_changes_stream(
            spark, feed, schema, target, ["id"], ckpt,
            app_id="r", n_buckets=4, max_files_per_trigger=8,
        )
    vt = VersionedTable(target, keys=["id"], n_buckets=4)
    assert {(r["id"], r["val"]) for r in vt.read(spark).collect()} == {
        (2, "B"), (1, "A"),
    }
    # both halves of epoch 0 stamped; a replayed apply is detectable
    assert vt.txn_applied("r.u", 0) and vt.txn_applied("r.d", 0)
    assert vt.txn_applied("r.u", 1) and vt.txn_applied("r.d", 1)
    ops = [vt._manifest(v)["operation"] for v in vt.versions()]
    assert ops == ["overwrite", "delete_keys", "upsert", "delete_keys"]
