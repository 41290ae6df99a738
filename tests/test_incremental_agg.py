import pytest
from pyspark.sql import functions as F

from batch_processing_on_aws_spark.operators.incremental_agg import (
    IncrementalAgg,
)

AGGS = {
    "n": ("count", "id"),
    "total": ("sum", "amount"),
    "lo": ("min", "amount"),
    "hi": ("max", "amount"),
}


def _rows(spark, rows):
    return spark.createDataFrame(rows, "grp string, id long, amount long")


def _full(df):
    return {
        r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in df.groupBy("grp")
        .agg(
            F.count("id").alias("n"),
            F.sum("amount").alias("total"),
            F.min("amount").alias("lo"),
            F.max("amount").alias("hi"),
        )
        .collect()
    }


def test_any_batch_split_equals_full_recompute(spark, tmp_path):
    rows = [
        ("a", i, (i * 7) % 23 - 5) for i in range(40)
    ] + [("b", 100 + i, i * 3) for i in range(7)] + [("c", 200, -9)]
    df = _rows(spark, rows)
    want = _full(df)
    for split in (2, 3, 5):
        agg = IncrementalAgg(
            str(tmp_path / f"state{split}"), keys=["grp"], aggs=AGGS
        )
        for k in range(split):
            agg.apply_batch(spark, df.where(F.col("id") % split == k))
        got = {
            r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
            for r in agg.read(spark).collect()
        }
        assert got == want, split


def test_new_groups_and_untouched_groups_survive(spark, tmp_path):
    agg = IncrementalAgg(str(tmp_path / "s"), keys=["grp"], aggs=AGGS)
    agg.apply_batch(spark, _rows(spark, [("a", 1, 10), ("b", 2, 20)]))
    # second batch touches only 'b' and introduces 'c'
    agg.apply_batch(spark, _rows(spark, [("b", 3, 5), ("c", 4, 7)]))
    got = {
        r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in agg.read(spark).collect()
    }
    assert got == {
        "a": (1, 10, 10, 10),   # untouched group unchanged
        "b": (2, 25, 5, 20),    # merged: count 1+1, sum 20+5, min/max widen
        "c": (1, 7, 7, 7),      # new group appears
    }


def test_unknown_agg_kind_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown kind"):
        IncrementalAgg(
            str(tmp_path / "x"), keys=["grp"], aggs={"a": ("avg", "amount")}
        )


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """Round-6 verdict task 3: a refresh touching one group must leave
    every untouched bucket's parquet files byte-identical (same paths,
    same content hash) — the O(touched groups) contract the module
    docstring claims. With many groups spread over many buckets, a
    one-group batch may rewrite only that group's bucket."""
    import hashlib
    import os

    def bucket_files(path):
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[p] = hashlib.md5(fh.read()).hexdigest()
        return out

    path = str(tmp_path / "s")
    agg = IncrementalAgg(path, keys=["grp"], aggs=AGGS, n_buckets=8)
    seed = [(f"g{i}", i, i * 3) for i in range(40)]
    agg.apply_batch(spark, _rows(spark, seed))
    before = bucket_files(path)
    # one batch touching exactly one group
    agg.apply_batch(spark, _rows(spark, [("g7", 1000, 1)]))
    after = bucket_files(path)
    # a bucket's files live under files/<commit>/__bucket=N/, one
    # commit directory per write: group changes by the bucket name
    changed_buckets = {
        os.path.basename(os.path.dirname(p))
        for p in set(before) ^ set(after)
        | {p for p in before.keys() & after.keys() if before[p] != after[p]}
    }
    assert len(changed_buckets) == 1, (
        f"expected exactly one rewritten bucket, got {sorted(changed_buckets)}"
    )
    # untouched buckets: every surviving file byte-identical
    untouched = {
        p for p in before
        if os.path.basename(os.path.dirname(p)) not in changed_buckets
    }
    assert untouched, "fixture degenerate: all buckets touched"
    for p in untouched:
        assert p in after and after[p] == before[p], f"rewritten: {p}"
    # and the aggregate is still correct
    got = {
        r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in agg.read(spark).collect()
    }
    assert got["g7"] == (2, 22, 1, 21)
    assert got["g3"] == (1, 9, 9, 9)


def test_all_null_sum_group_stays_null(spark, tmp_path):
    """SQL SUM over an all-NULL group is NULL; the incremental merge
    must preserve that (NULL iff both partials NULL), not coalesce it
    to 0 — the incremental == recompute contract."""
    agg = IncrementalAgg(
        str(tmp_path / "s"),
        keys=["grp"],
        aggs={"n": ("count", "id"), "total": ("sum", "amount")},
    )
    agg.apply_batch(
        spark, _rows(spark, [("a", 1, None), ("b", 2, 5)])
    )
    agg.apply_batch(
        spark, _rows(spark, [("a", 3, None), ("b", 4, None)])
    )
    got = {r["grp"]: (r["n"], r["total"]) for r in agg.read(spark).collect()}
    assert got == {"a": (2, None), "b": (2, 5)}


INV_AGGS = {
    "n_rows": ("count", "id"),
    "n_vals": ("count", "amount"),
    "total": ("sum", "amount"),
}


def _cdc_state(spark, tmp_path, name):
    import shutil

    p = str(tmp_path / name)
    shutil.rmtree(p, ignore_errors=True)
    return IncrementalAgg(
        p, keys=["grp"], aggs=INV_AGGS, rowcount="n_rows"
    )


def _read_map(spark, agg):
    return {
        r["grp"]: (r["n_rows"], r["n_vals"], r["total"])
        for r in agg.read(spark).collect()
    }


def test_apply_changes_matches_recompute_end_to_end(spark, tmp_path):
    """CDC-driven maintenance through a REAL VersionedTable change
    feed: seed the base, apply a DML lifecycle (upsert updating +
    inserting, then a delete), feed each changes() leg into
    apply_changes — the state must equal a recompute over the FINAL
    snapshot, including a fully-retracted group disappearing."""
    from batch_processing_on_aws_spark.operators.versioned import (
        VersionedTable,
    )

    vt = VersionedTable(str(tmp_path / "facts"), keys=["id"], n_buckets=4)
    base = [
        ("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("b", 4, None),
        ("c", 5, 50),
    ]
    df = _rows(spark, [(g, i, a) for g, i, a in base]).select(
        "id", "grp", "amount"
    )
    v1 = vt.overwrite(df)
    agg = _cdc_state(spark, tmp_path, "state")
    agg.apply_batch(spark, vt.read(spark, v1))
    # upsert: update id=2 amount 20->25, MOVE id=3 from b to a,
    # insert id=6 into b
    inc = spark.createDataFrame(
        [(2, "a", 25), (3, "a", 33), (6, "b", 60)],
        "id long, grp string, amount long",
    )
    v2 = vt.upsert(spark, inc)
    agg.apply_changes(spark, vt.changes(spark, v1, v2))
    # delete ALL of group c and the null-amount row of b
    v3 = vt.delete(spark, (F.col("grp") == "c") | F.col("amount").isNull())
    agg.apply_changes(spark, vt.changes(spark, v2, v3))
    want = {
        r["grp"]: (r["n_rows"], r["n_vals"], r["total"])
        for r in vt.read(spark, v3)
        .groupBy("grp")
        .agg(
            F.count("id").alias("n_rows"),
            F.count("amount").alias("n_vals"),
            F.sum("amount").alias("total"),
        )
        .collect()
    }
    got = _read_map(spark, agg)
    assert got == want
    assert "c" not in got  # fully-retracted group hidden like a recompute


def test_apply_changes_tombstone_resurrects_on_insert(spark, tmp_path):
    """A group retracted to zero rows must come back correctly when a
    later change feed inserts into it (the tombstone is valid empty
    state, not a corpse)."""
    agg = _cdc_state(spark, tmp_path, "state2")
    agg.apply_batch(spark, _rows(spark, [("a", 1, 5), ("b", 2, 7)]))
    feed_del = spark.createDataFrame(
        [(2, "delete", "b", None, 7, None)],
        "id long, change_type string, old_grp string, new_grp string, "
        "old_amount long, new_amount long",
    )
    agg.apply_changes(spark, feed_del)
    assert set(_read_map(spark, agg)) == {"a"}
    feed_ins = spark.createDataFrame(
        [(9, "insert", None, "b", None, 40)],
        "id long, change_type string, old_grp string, new_grp string, "
        "old_amount long, new_amount long",
    )
    agg.apply_changes(spark, feed_ins)
    assert _read_map(spark, agg)["b"] == (1, 1, 40)


def test_apply_changes_sum_returns_to_null_when_values_gone(spark, tmp_path):
    """Deleting every NON-NULL value of a group (while null-value rows
    remain) must take the sum back to NULL, not 0 — SQL SUM over an
    all-NULL group is NULL and the retracted state must match a
    recompute bit-for-bit."""
    agg = _cdc_state(spark, tmp_path, "state3")
    agg.apply_batch(
        spark, _rows(spark, [("a", 1, 11), ("a", 2, None)])
    )
    feed = spark.createDataFrame(
        [(1, "delete", "a", None, 11, None)],
        "id long, change_type string, old_grp string, new_grp string, "
        "old_amount long, new_amount long",
    )
    agg.apply_changes(spark, feed)
    assert _read_map(spark, agg)["a"] == (1, 0, None)


def test_apply_changes_contract_validation(spark, tmp_path):
    """min/max specs, sums without companion counts, and missing
    rowcount are all refused loudly."""
    import shutil

    feed = spark.createDataFrame(
        [(1, "insert", None, "a", None, 1)],
        "id long, change_type string, old_grp string, new_grp string, "
        "old_amount long, new_amount long",
    )
    p = str(tmp_path / "v1")
    shutil.rmtree(p, ignore_errors=True)
    no_rowcount = IncrementalAgg(p, ["grp"], dict(INV_AGGS))
    with pytest.raises(ValueError, match="rowcount"):
        no_rowcount.apply_changes(spark, feed)
    with pytest.raises(ValueError, match="rowcount"):
        IncrementalAgg(p, ["grp"], dict(INV_AGGS), rowcount="total")
    minmax = IncrementalAgg(
        str(tmp_path / "v2"), ["grp"],
        {"n_rows": ("count", "id"), "hi": ("max", "amount")},
        rowcount="n_rows",
    )
    with pytest.raises(ValueError, match="not invertible"):
        minmax.apply_changes(spark, feed)
    no_companion = IncrementalAgg(
        str(tmp_path / "v3"), ["grp"],
        {"n_rows": ("count", "id"), "total": ("sum", "amount")},
        rowcount="n_rows",
    )
    with pytest.raises(ValueError, match="companion"):
        no_companion.apply_changes(spark, feed)


def test_minmax_recompute_touched_matches_full_recompute(spark, tmp_path):
    """r8 verdict task 3: a min/max-bearing spec under update/delete
    increments — each change feed routes to recompute_touched with the
    post-change snapshot; state must equal a one-shot recompute,
    INCLUDING days whose deleted row WAS the min/max (the case no
    signed-delta path can restore), and a fully-retracted group must
    disappear."""
    from batch_processing_on_aws_spark.operators.versioned import (
        VersionedTable,
    )

    vt = VersionedTable(str(tmp_path / "facts"), keys=["id"], n_buckets=4)
    base = [
        ("a", 1, 10), ("a", 2, 20), ("b", 3, 3), ("b", 4, 40),
        ("c", 5, 50), ("c", 6, None),
    ]
    df = _rows(spark, base).select("id", "grp", "amount")
    v1 = vt.overwrite(df)
    agg = IncrementalAgg(
        str(tmp_path / "state"), keys=["grp"], aggs=AGGS,
        rowcount="n", n_buckets=8,
    )
    agg.apply_batch(spark, vt.read(spark, v1))
    # update moves id=2 a->b and changes its amount; insert id=7 in a
    inc = spark.createDataFrame(
        [(2, "b", 2), (7, "a", 70)], "id long, grp string, amount long"
    )
    v2 = vt.upsert(spark, inc)
    agg.apply_changes(
        spark, vt.changes(spark, v1, v2), fact=vt.read(spark, v2)
    )
    # delete: b's MIN row (un-narrows min), a's MAX row, ALL of c
    v3 = vt.delete(
        spark, F.col("id").isin(2, 7) | (F.col("grp") == "c")
    )
    agg.apply_changes(
        spark, vt.changes(spark, v2, v3), fact=vt.read(spark, v3)
    )
    want = _full(vt.read(spark, v3).select("grp", "id", "amount"))
    got = {
        r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in agg.read(spark).collect()
    }
    assert got == want
    assert "c" not in got
    # b's min must have RE-WIDENED after its min row (amount=2) left
    assert got["b"] == (2, 43, 3, 40)


def test_minmax_recompute_requires_fact_snapshot(spark, tmp_path):
    feed = spark.createDataFrame(
        [(1, "insert", None, "a", None, 1)],
        "id long, change_type string, old_grp string, new_grp string, "
        "old_amount long, new_amount long",
    )
    agg = IncrementalAgg(
        str(tmp_path / "s"), ["grp"], AGGS, rowcount="n"
    )
    with pytest.raises(ValueError, match="fact"):
        agg.apply_changes(spark, feed)


def test_recompute_touched_leaves_untouched_buckets_byte_identical(
    spark, tmp_path
):
    """The recompute path keeps the O(touched groups) write contract:
    a feed touching one group rewrites exactly one state bucket;
    every other bucket's parquet files stay byte-identical."""
    import hashlib
    import os

    def bucket_files(path):
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[p] = hashlib.md5(fh.read()).hexdigest()
        return out

    path = str(tmp_path / "s")
    agg = IncrementalAgg(
        path, keys=["grp"], aggs=AGGS, rowcount="n", n_buckets=8
    )
    seed = [(f"g{i}", i, i * 3) for i in range(40)]
    fact_rows = seed + [("g7", 1000, 1)]
    agg.apply_batch(spark, _rows(spark, seed))
    before = bucket_files(path)
    feed = spark.createDataFrame(
        [(1000, "insert", None, "g7", None, 1)],
        "id long, change_type string, old_grp string, new_grp string, "
        "old_amount long, new_amount long",
    )
    agg.apply_changes(
        spark, feed,
        fact=_rows(spark, fact_rows).select(
            "id", "grp", "amount"
        ),
    )
    after = bucket_files(path)
    changed_buckets = {
        os.path.basename(os.path.dirname(p))
        for p in set(before) ^ set(after)
        | {p for p in before.keys() & after.keys() if before[p] != after[p]}
    }
    assert len(changed_buckets) == 1, sorted(changed_buckets)
    got = {
        r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
        for r in agg.read(spark).collect()
    }
    assert got["g7"] == (2, 22, 1, 21)
    assert got["g3"] == (1, 9, 9, 9)
