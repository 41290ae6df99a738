import os

from pyspark.sql import functions as F

from batch_processing_on_aws_spark.operators.merge import (
    MergeWriter,
    upsert_frames,
)


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_upsert_frames_new_wins_old_survives(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    new = spark.createDataFrame([(2, "B"), (3, "C")], ["k", "v"])
    assert _rows(upsert_frames(old, new, ["k"])) == [(1, "a"), (2, "B"), (3, "C")]


def test_upsert_frames_same_lineage(spark):
    """new derived from old (shared lineage) must not collapse the join
    condition to a trivially-true self-compare."""
    old = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["k", "v"])
    new = old.where(F.col("k") == 2).withColumn("v", F.col("v") * 100)
    assert _rows(upsert_frames(old, new, ["k"])) == [(1, 10), (2, 2000), (3, 30)]


def test_merge_writer_idempotent(spark, tmp_path):
    """The §2.9 contract: re-running an increment must not change the
    table (the reference delegates this to Redshift UPSERT)."""
    path = os.path.join(str(tmp_path), "t")
    w = MergeWriter(path, keys=["k"], n_buckets=4)
    base = spark.createDataFrame([(i, "v0") for i in range(20)], ["k", "v"])
    w.overwrite(base)
    inc = spark.createDataFrame([(5, "v1"), (21, "v1")], ["k", "v"])
    w.upsert(spark, inc)
    first = _rows(w.read(spark))
    w.upsert(spark, inc)  # idempotent re-run
    assert _rows(w.read(spark)) == first
    expected = [(i, "v1" if i == 5 else "v0") for i in range(20)] + [(21, "v1")]
    assert first == expected


def test_merge_writer_rewrites_only_touched_buckets(spark, tmp_path):
    """An upsert commits a manifest whose untouched buckets list
    exactly the parent's files (shared, not rewritten) and whose
    touched bucket lists new ones."""
    path = os.path.join(str(tmp_path), "t")
    w = MergeWriter(path, keys=["k"], n_buckets=8)
    base = spark.createDataFrame([(i, "v0") for i in range(100)], ["k", "v"])
    w.overwrite(base)
    before = w._manifest(w.latest_version())["buckets"]
    inc = spark.createDataFrame([(7, "v1")], ["k", "v"])
    (touched,) = w._buckets_of(w._bucketed(inc))
    w.upsert(spark, inc)
    after = w._manifest(w.latest_version())["buckets"]
    untouched = [b for b in before if b != str(touched)]
    assert untouched, "expected >1 bucket"
    for b in untouched:
        assert after[b] == before[b], f"bucket {b} was rewritten needlessly"
    assert after[str(touched)] != before[str(touched)]
    assert set(after) == set(before)


def test_merge_writer_keeps_one_version(spark, tmp_path):
    """Retention 1: after several upserts the table holds exactly one
    manifest, and its data files are exactly those that manifest
    references — the footprint of an in-place rewrite."""
    path = os.path.join(str(tmp_path), "t")
    w = MergeWriter(path, keys=["k"], n_buckets=4)
    w.overwrite(spark.createDataFrame([(i, "v0") for i in range(20)], ["k", "v"]))
    for n in range(1, 4):
        w.upsert(spark, spark.createDataFrame([(n, f"v{n}"), (n + 20, "x")], ["k", "v"]))
    assert w.versions() == [4]
    assert sorted(os.listdir(os.path.join(path, "_versions"))) == ["v00000004.json"]
    referenced = {
        f for fs in w._manifest(4)["buckets"].values() for f in fs
    }
    on_disk = {
        os.path.relpath(os.path.join(dp, f), path)
        for dp, _, fs in os.walk(os.path.join(path, "files"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == referenced
    # commit directories no manifest references are gone entirely
    assert set(os.listdir(os.path.join(path, "files"))) == {
        f.split("/")[1] for f in referenced
    }
    assert _rows(w.read(spark)) == sorted(
        [(i, "v0") for i in range(20) if i not in (1, 2, 3)]
        + [(n, f"v{n}") for n in (1, 2, 3)]
        + [(n + 20, "x") for n in (1, 2, 3)]
    )


def test_merge_writer_first_write_via_upsert(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    w = MergeWriter(path, keys=["k"])
    inc = spark.createDataFrame([(1, "a")], ["k", "v"])
    w.upsert(spark, inc)  # table doesn't exist yet → plain write
    assert _rows(w.read(spark)) == [(1, "a")]


def test_merge_into_sql_renders_null_safe_upsert():
    from batch_processing_on_aws_spark.operators.merge import merge_into_sql

    sql = merge_into_sql("warehouse.events", "staged", ["event_id", "ts"])
    assert sql == (
        "MERGE INTO warehouse.events t USING staged s "
        "ON t.event_id <=> s.event_id AND t.ts <=> s.ts "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def test_upsert_catalog_table_delegates_when_available(spark, tmp_path):
    """The REAL MERGE INTO path, executed end-to-end against the
    in-repo row-level DSv2 catalog (jvm/SimpleRowLevelCatalog.java,
    mounted as ``rowlvl`` by session.get_spark). Same delegation code
    a Delta/Iceberg deployment would hit; skipped only when the JDK
    toolchain is absent."""
    import pytest

    from batch_processing_on_aws_spark.operators.merge import (
        supports_merge_into,
        upsert_catalog_table,
    )

    if not supports_merge_into(spark, "rowlvl"):
        pytest.skip("row-level catalog jar not on classpath (no JDK?)")
    spark.sql("DROP TABLE IF EXISTS rowlvl.default.merge_t")
    spark.sql("CREATE TABLE rowlvl.default.merge_t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO rowlvl.default.merge_t VALUES (1,'a'),(2,'b')")
    new = spark.createDataFrame([(2, "B"), (3, "C")], ["k", "v"])
    upsert_catalog_table(spark, "rowlvl.default.merge_t", new, ["k"])
    assert _rows(spark.table("rowlvl.default.merge_t")) == [
        (1, "a"),
        (2, "B"),
        (3, "C"),
    ]
    # §2.9 idempotency contract: re-running the same increment is a no-op
    upsert_catalog_table(spark, "rowlvl.default.merge_t", new, ["k"])
    assert _rows(spark.table("rowlvl.default.merge_t")) == [
        (1, "a"),
        (2, "B"),
        (3, "C"),
    ]
    spark.sql("DROP TABLE rowlvl.default.merge_t")


def test_merge_writer_matches_merge_into(spark, tmp_path):
    """The two K4 implementations — the Parquet MergeWriter fallback
    and the engine-delegated MERGE INTO — must produce identical
    tables from the same base + increment (the reference's warehouse
    UPSERT contract, init_2_s3_to_redshifht_dag.py:63-74, has ONE
    semantics regardless of storage)."""
    import pytest

    from batch_processing_on_aws_spark.operators.merge import (
        MergeWriter,
        supports_merge_into,
        upsert_catalog_table,
    )

    if not supports_merge_into(spark, "rowlvl"):
        pytest.skip("row-level catalog jar not on classpath (no JDK?)")

    def rows3(df):
        return sorted((r["k"], r["v"], r["x"]) for r in df.collect())

    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], ["k", "v", "x"]
    )
    increment = spark.createDataFrame(
        [(2, "B", 20.0), (3, "c", 3.0), (4, "d", 4.0)], ["k", "v", "x"]
    )

    # path 1: plain-Parquet MergeWriter
    writer = MergeWriter(str(tmp_path / "t"), keys=["k"], n_buckets=4)
    writer.overwrite(base)
    writer.upsert(spark, increment)
    via_writer = rows3(writer.read(spark))

    # path 2: engine MERGE INTO against the row-level catalog
    spark.sql("DROP TABLE IF EXISTS rowlvl.default.eq_t")
    spark.sql("CREATE TABLE rowlvl.default.eq_t (k BIGINT, v STRING, x DOUBLE)")
    base.createOrReplaceTempView("__eq_base")
    spark.sql("INSERT INTO rowlvl.default.eq_t SELECT * FROM __eq_base")
    upsert_catalog_table(spark, "rowlvl.default.eq_t", increment, ["k"])
    via_merge_into = rows3(spark.table("rowlvl.default.eq_t"))
    spark.sql("DROP TABLE rowlvl.default.eq_t")
    spark.catalog.dropTempView("__eq_base")

    assert via_writer == via_merge_into == [
        (1, "a", 1.0),
        (2, "B", 20.0),
        (3, "c", 3.0),
        (4, "d", 4.0),
    ]


def test_supports_merge_into_probe(spark):
    from batch_processing_on_aws_spark.operators.merge import supports_merge_into

    # both probes answer (bool) without raising; unknown provider raises
    assert supports_merge_into(spark, "delta") in (True, False)
    assert supports_merge_into(spark, "iceberg") in (True, False)
    import pytest

    with pytest.raises(ValueError, match="unknown provider"):
        supports_merge_into(spark, "hudi")


def test_merge_into_reaches_capability_gate_without_provider(spark):
    """Without Delta/Iceberg jars the full MERGE can't run — but the
    delegation path can still be executed for real: Spark must PARSE
    our MERGE INTO text, resolve the target table and the temp-view
    source, and fail only at the v2 capability check
    (UNSUPPORTED_FEATURE.TABLE_OPERATION). A syntax or resolution bug
    in merge_into_sql/upsert_catalog_table would surface as a
    different error class. The finally-block view cleanup must run on
    that failure path too."""
    import pytest

    from batch_processing_on_aws_spark.operators.merge import (
        upsert_catalog_table,
    )

    spark.sql("DROP TABLE IF EXISTS mi_capability_probe")
    spark.createDataFrame([(1, "a")], "k long, v string").write.saveAsTable(
        "mi_capability_probe"
    )
    try:
        with pytest.raises(Exception) as exc:
            upsert_catalog_table(
                spark,
                "mi_capability_probe",
                spark.createDataFrame([(1, "b")], "k long, v string"),
                ["k"],
            )
        assert "does not support MERGE INTO" in str(exc.value)
        # the uniquely-named source view was dropped despite the raise
        leftovers = [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("__merge_into_source_")
        ]
        assert leftovers == []
    finally:
        spark.sql("DROP TABLE IF EXISTS mi_capability_probe")


def test_upsert_survives_static_overwrite_session(spark, tmp_path):
    """Foreign-session hazard (round 6): on a session whose
    partitionOverwriteMode is the Spark default (static) the untouched
    buckets still survive — MergeWriter commits a manifest that shares
    their files, so no partition overwrite mode is involved."""
    from batch_processing_on_aws_spark.operators.merge import MergeWriter

    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf, "dynamic")
    spark.conf.set(conf, "static")
    try:
        w = MergeWriter(str(tmp_path / "t"), keys=["id"], n_buckets=8)
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "id long, val string"
        )
        w.overwrite(df)
        w.upsert(spark, spark.createDataFrame([(0, "NEW")], "id long, val string"))
        got = {(r["id"], r["val"]) for r in w.read(spark).collect()}
        assert len(got) == 40                      # nothing erased
        assert (0, "NEW") in got and (1, "v1") in got
    finally:
        spark.conf.set(conf, prev)
