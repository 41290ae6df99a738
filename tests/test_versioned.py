from pyspark.sql import functions as F  # noqa: F401

from batch_processing_on_aws_spark.operators.versioned import VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, val string")


def _snap(spark, vt, version=None):
    return {
        (r["id"], r["val"]) for r in vt.read(spark, version).collect()
    }


def test_time_travel_upsert_and_rollback(spark, tmp_path):
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    v1 = vt.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    v2 = vt.upsert(spark, _df(spark, [(2, "B"), (4, "d")]))
    assert (v1, v2) == (1, 2)
    # latest sees the merge; v1 is untouched time travel
    assert _snap(spark, vt) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    assert _snap(spark, vt, 1) == {(1, "a"), (2, "b"), (3, "c")}
    # rollback restores v1's CONTENT as a new audited version
    v3 = vt.rollback(1)
    assert v3 == 3
    assert _snap(spark, vt) == _snap(spark, vt, 1)
    assert _snap(spark, vt, 2) == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_structural_file_sharing(spark, tmp_path):
    """An upsert touching one bucket must NOT rewrite the others: the
    child manifest shares the parent's files for untouched buckets —
    the Delta/Iceberg snapshot-sharing property at file granularity."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=8)
    vt.overwrite(_df(spark, [(i, f"v{i}") for i in range(40)]))
    m1 = vt._manifest(1)["buckets"]
    vt.upsert(spark, _df(spark, [(0, "NEW")]))  # touches 0's bucket only
    m2 = vt._manifest(2)["buckets"]
    shared = [b for b in m1 if m1[b] == m2.get(b)]
    changed = [b for b in m1 if m1[b] != m2.get(b)]
    assert len(changed) == 1          # exactly the touched bucket rewritten
    assert len(shared) == len(m1) - 1  # everything else file-shared


def test_upsert_idempotent_across_versions(spark, tmp_path):
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    inc = [(2, "B"), (3, "c")]
    vt.upsert(spark, _df(spark, inc))
    vt.upsert(spark, _df(spark, inc))  # re-running the same increment
    assert _snap(spark, vt) == {(1, "a"), (2, "B"), (3, "c")}
    assert vt.latest_version() == 3    # audited as a (content-equal) version
    assert _snap(spark, vt, 2) == _snap(spark, vt, 3)


def test_vacuum_keeps_recent_versions_readable(spark, tmp_path):
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    vt.upsert(spark, _df(spark, [(2, "B")]))
    vt.upsert(spark, _df(spark, [(1, "A")]))
    deleted = vt.vacuum(keep_last=2)
    assert vt.versions() == [2, 3]
    # kept versions still read correctly after the file reclaim
    assert _snap(spark, vt, 3) == {(1, "A"), (2, "B")}
    assert _snap(spark, vt, 2) == {(1, "a"), (2, "B")}
    assert deleted  # v1-only files were reclaimed


def test_full_lifecycle_over_hadoop_fs_uri(spark, tmp_path):
    """Round-6 verdict task 5: manifest/pointer/listing I/O must work
    through the JVM Hadoop FileSystem connector, not only direct os
    calls. A file:// URI routes VersionedTable metadata through
    _HadoopFS (same code path an hdfs:// or s3a:// table would take,
    locally backed) — commit, structural-shared upsert, time travel,
    rollback, and vacuum all behave identically."""
    vt = VersionedTable(
        f"file://{tmp_path}/vt", keys=["id"], n_buckets=4
    )
    from batch_processing_on_aws_spark.operators.versioned import _HadoopFS

    assert isinstance(vt._fs(), _HadoopFS)
    v1 = vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    v2 = vt.upsert(spark, _df(spark, [(2, "B"), (3, "c")]))
    assert (v1, v2) == (1, 2)
    assert _snap(spark, vt) == {(1, "a"), (2, "B"), (3, "c")}
    assert _snap(spark, vt, v1) == {(1, "a"), (2, "b")}  # time travel
    v3 = vt.rollback(v1)
    assert vt.latest_version() == v3 == 3
    assert _snap(spark, vt) == {(1, "a"), (2, "b")}
    deleted = vt.vacuum(keep_last=2)
    assert all(d.endswith(".parquet") for d in deleted)
    assert _snap(spark, vt) == {(1, "a"), (2, "b")}   # still readable
    assert vt.versions() == [2, 3]


def test_stale_latest_pointer_is_reconciled(spark, tmp_path):
    """The manifest rename is the commit; a stale/missing _latest
    pointer (crash between manifest rename and pointer refresh) must
    not hide the committed version."""
    import os

    path = str(tmp_path / "vt")
    vt = VersionedTable(path, keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a")]))
    vt.upsert(spark, _df(spark, [(2, "b")]))
    # simulate the crash: pointer still says 1 (or is gone)
    with open(os.path.join(path, "_latest"), "w") as f:
        f.write("1")
    assert vt.latest_version() == 2
    os.remove(os.path.join(path, "_latest"))
    assert vt.latest_version() == 2
    assert _snap(spark, vt) == {(1, "a"), (2, "b")}


def test_delete_semantics_and_bucket_sharing(spark, tmp_path):
    """delete(): rows where the predicate is TRUE go away, NULL-
    predicate rows are KEPT (ANSI DELETE), only buckets containing a
    match are rewritten, and a bucket whose rows are all deleted
    drops out of the manifest entirely."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=8)
    rows = [(i, f"v{i}") for i in range(40)] + [(100, None)]
    vt.overwrite(_df(spark, rows))
    m1 = vt._manifest(1)["buckets"]
    # val IS NULL makes the predicate NULL for id=100 -> kept
    v2 = vt.delete(spark, F.length("val") > 2)  # v10..v39 match
    assert v2 == 2
    kept = _snap(spark, vt)
    assert kept == {(i, f"v{i}") for i in range(10)} | {(100, None)}
    m2 = vt._manifest(2)["buckets"]
    survivor_buckets = {
        str(r["__b"]) for r in _df(spark, [(i, "") for i in list(range(10)) + [100]])
        .select(F.pmod(F.hash("id"), F.lit(8)).alias("__b")).collect()
    }
    # every bucket with no survivors is gone from the manifest
    assert set(m2) == survivor_buckets
    # no-match delete commits an audited no-op sharing every file
    v3 = vt.delete(spark, F.col("id") > 10_000)
    assert vt._manifest(3)["buckets"] == m2
    assert _snap(spark, vt, v3) == kept
    assert m1  # silence unused warning


def test_changes_classifies_and_prunes(spark, tmp_path):
    """changes(): insert/update/delete classified, value-identical
    rewrites filtered out, and two structurally identical versions
    (rollback shares every file) diff to EMPTY off the manifest alone."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    v1 = vt.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, None)]))
    # update 2, insert 5, rewrite 3 with the SAME value (no change),
    # update 4 from NULL
    v2 = vt.upsert(spark, _df(spark, [(2, "B"), (5, "e"), (3, "c"), (4, "d")]))
    feed = {
        (r["id"], r["change_type"], r["old_val"], r["new_val"])
        for r in vt.changes(spark, v1, v2).collect()
    }
    assert feed == {
        (2, "update", "b", "B"),
        (4, "update", None, "d"),
        (5, "insert", None, "e"),
    }
    v3 = vt.delete(spark, F.col("id") == 2)
    feed2 = {
        (r["id"], r["change_type"], r["old_val"], r["new_val"])
        for r in vt.changes(spark, v2, v3).collect()
    }
    assert feed2 == {(2, "delete", "B", None)}
    # rollback to v2 shares v2's files verbatim: the manifest diff is
    # empty, so the CDC read touches no data at all
    v4 = vt.rollback(v2)
    from batch_processing_on_aws_spark.operators.versioned import (
        _changed_buckets,
    )

    assert _changed_buckets(
        vt._manifest(v2)["buckets"], vt._manifest(v4)["buckets"]
    ) == []
    assert vt.changes(spark, v2, v4).count() == 0


def test_compact_merges_small_files_content_identical(spark, tmp_path):
    """Repeated upserts accrete one file per touched bucket per
    commit; compact() must fold each fat bucket to ONE file in a new
    version whose row set is byte-identical, leave single-file
    buckets shared, and leave pre-compaction versions readable."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(i, f"v{i}") for i in range(20)]))
    for rnd in range(3):  # accrete files in id=0's bucket
        vt.upsert(spark, _df(spark, [(0, f"r{rnd}")]))
    before = _snap(spark, vt)
    m = vt._manifest(vt.latest_version())["buckets"]
    fat = {b for b, fs in m.items() if len(fs) >= 2}
    assert fat, "setup should have accreted multi-file buckets"
    v = vt.compact(spark)
    m2 = vt._manifest(v)["buckets"]
    assert _snap(spark, vt) == before            # content identical
    assert all(len(fs) == 1 for fs in m2.values())
    for b in set(m) - fat:                        # thin buckets shared
        assert m2[b] == m[b]
    # idempotent: nothing left to compact
    assert vt.compact(spark) is None
    # pre-compaction version still reads its own files
    assert _snap(spark, vt, v - 1) == before


def test_schema_evolution_add_column(spark, tmp_path):
    """An increment may carry a NEW column: old rows read as NULL in
    it, old versions keep their written schema, and the CDC diff
    across the evolution boundary reports the new column."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    v1 = vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    inc = spark.createDataFrame(
        [(2, "B", "en"), (3, "c", "fr")], "id long, val string, lang string"
    )
    v2 = vt.upsert(spark, inc)
    got = {
        (r["id"], r["val"], r["lang"])
        for r in vt.read(spark).collect()
    }
    assert got == {(1, "a", None), (2, "B", "en"), (3, "c", "fr")}
    # time travel keeps the original schema
    assert "lang" not in vt.read(spark, v1).columns
    feed = {
        (r["id"], r["change_type"], r["old_lang"], r["new_lang"])
        for r in vt.changes(spark, v1, v2).collect()
    }
    assert feed == {
        (2, "update", None, "en"),
        (3, "insert", None, "fr"),
    }


def test_upsert_into_empty_bucket_never_narrows_schema(spark, tmp_path):
    """An increment that OMITS an evolved column and lands entirely in
    buckets with no existing files must not narrow the recorded read
    schema (round-15, the r14 ADVICE trap): with manifest-schema reads
    replacing mergeSchema, a narrowed record would silently drop the
    column from every older file and propagate to all descendants.
    The folded schema is parent ∪ committed, add-column-only."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=64)
    base = spark.createDataFrame(
        [(1, "a", "en")], "id long, val string, lang string"
    )
    vt.overwrite(base)
    # pick an increment key whose bucket holds no files (hash differs
    # from key 1's bucket) — the merged frame is then the increment
    # alone, the exact narrowing path
    used = set(vt._manifest(1)["buckets"])
    key = next(
        k
        for k in range(2, 200)
        if str(
            spark.range(1)
            .select(F.pmod(F.hash(F.lit(k).cast("long")), F.lit(64)))
            .first()[0]
        )
        not in used
    )
    inc = spark.createDataFrame([(key, "b")], "id long, val string")
    vt.upsert(spark, inc)
    got = {
        (r["id"], r["val"], r["lang"]) for r in vt.read(spark).collect()
    }
    assert got == {(1, "a", "en"), (key, "b", None)}
    # the narrowing must also not propagate through a descendant commit
    vt.upsert(spark, spark.createDataFrame([(key, "c")], "id long, val string"))
    got = {
        (r["id"], r["val"], r["lang"]) for r in vt.read(spark).collect()
    }
    assert got == {(1, "a", "en"), (key, "c", None)}
    # same guarantee on the replace_keys path
    vt.replace_keys(
        spark,
        spark.createDataFrame([(key, "d")], "id long, val string"),
        match_cols=["id"],
    )
    got = {
        (r["id"], r["val"], r["lang"]) for r in vt.read(spark).collect()
    }
    assert got == {(1, "a", "en"), (key, "d", None)}


def test_randomized_lifecycle_matches_model(spark, tmp_path):
    """Model-based check: a seeded random sequence of
    upsert/delete/rollback/compact ops against a plain-dict model —
    after every op the table equals the model, every historical
    version equals its model snapshot, and changes(v, v') equals the
    brute-force snapshot diff. The armor that catches interactions no
    single-feature test stages."""
    import random

    rng = random.Random(20240814)
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    model: dict[int, str] = {i: f"v{i}" for i in range(12)}

    def ts(n):
        return f"2026-02-{n:02d}T00:00:00Z"

    vt.overwrite(_df(spark, sorted(model.items())), committed_at=ts(1))
    snaps = {1: dict(model)}
    ops_log = {1: ("overwrite", ts(1))}
    step = 1
    for _ in range(10):
        op = rng.choice(["upsert", "delete", "rollback", "compact"])
        step += 1
        if op == "upsert":
            rows = [
                (rng.randrange(20), f"u{rng.randrange(1000)}")
                for _ in range(rng.randrange(1, 5))
            ]
            dedup = {k: v for k, v in rows}  # upsert: last-wins per key
            v = vt.upsert(spark, _df(spark, sorted(dedup.items())),
                          committed_at=ts(step))
            model.update(dedup)
        elif op == "delete":
            cut = rng.randrange(20)
            v = vt.delete(spark, F.col("id") >= cut, committed_at=ts(step))
            model = {k: x for k, x in model.items() if k < cut}
        elif op == "rollback":
            target = rng.choice(sorted(snaps))
            v = vt.rollback(target, committed_at=ts(step))
            model = dict(snaps[target])
        else:
            got = vt.compact(spark, committed_at=ts(step))
            if got is None:
                step -= 1
                continue
            v = got
        snaps[v] = dict(model)
        ops_log[v] = (op, ts(step))
        assert _snap(spark, vt) == set(model.items()), f"after {op}"
    # DESCRIBE HISTORY mirrors the op log (every committed version,
    # newest first, with the threaded timestamps); timestamp travel
    # resolves each commit's own timestamp to itself
    hist = {h["version"]: (h["operation"], h["committed_at"])
            for h in vt.history()}
    assert hist == ops_log
    assert [h["version"] for h in vt.history()] == sorted(ops_log)[::-1]
    for v, (_, at) in ops_log.items():
        assert vt.version_as_of(at) == v
    # every recorded version still time-travels to its snapshot
    for v, snap in snaps.items():
        if snap:
            assert _snap(spark, vt, v) == set(snap.items()), f"v{v}"
    # CDC between consecutive recorded versions == brute model diff
    vs = sorted(snaps)
    for a, b in zip(vs, vs[1:]):
        sa, sb = snaps[a], snaps[b]
        want = set()
        for k in sa.keys() | sb.keys():
            if k not in sa:
                want.add((k, "insert", None, sb[k]))
            elif k not in sb:
                want.add((k, "delete", sa[k], None))
            elif sa[k] != sb[k]:
                want.add((k, "update", sa[k], sb[k]))
        got = {
            (r["id"], r["change_type"], r["old_val"], r["new_val"])
            for r in vt.changes(spark, a, b).collect()
        }
        assert got == want, f"changes({a},{b})"


def test_crash_before_manifest_rename_preserves_parent(spark, tmp_path, monkeypatch):
    """The commit protocol's crash claim, staged: a writer dying
    AFTER data files land but BEFORE the manifest rename leaves the
    previous version fully intact (reads, latest_version) with only
    orphan files behind — and vacuum reclaims exactly those."""
    import batch_processing_on_aws_spark.operators.versioned as vmod

    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))

    real_rename = vmod._LocalFS.rename

    def crash_on_manifest(self, src, dst, overwrite=True):
        if "_versions" in dst and dst.endswith(".json"):
            raise RuntimeError("simulated crash before commit rename")
        return real_rename(self, src, dst, overwrite)

    monkeypatch.setattr(vmod._LocalFS, "rename", crash_on_manifest)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        vt.upsert(spark, _df(spark, [(2, "B")]))
    monkeypatch.undo()
    # the table is exactly the parent version
    assert vt.latest_version() == 1
    assert _snap(spark, vt) == {(1, "a"), (2, "b")}
    # the crashed commit's files are orphans; vacuum reclaims them and
    # the table still reads
    deleted = vt.vacuum(keep_last=1)
    assert deleted, "crash should have left orphan data files"
    assert _snap(spark, vt) == {(1, "a"), (2, "b")}


def test_double_writer_manifest_collision_raises(spark, tmp_path):
    """Exclusive commit rename: if a second writer races the same
    version number (single-writer contract violated), its commit must
    RAISE and the already-committed manifest must be byte-identical
    after — never silently clobbered."""
    import json

    import pytest

    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    committed = vt._fs().read_text(vt._manifest_path(1))
    # writer B holds a stale view in which no version exists yet, so
    # it computes next-version = 1 — the collision
    files = vt._write_commit(vt._bucketed(_df(spark, [(9, "CLOBBER")])))
    from unittest import mock

    with mock.patch.object(VersionedTable, "latest_version", return_value=0):
        with pytest.raises(RuntimeError, match="concurrent commit"):
            vt._commit(files, parent=0)
    assert vt._fs().read_text(vt._manifest_path(1)) == committed
    assert json.loads(committed)["buckets"]  # still the real commit
    assert _snap(spark, vt, 1) == {(1, "a"), (2, "b")}
    # no stray tmp manifests left behind by the failed commit
    leftovers = [n for n in vt._fs().listdir(vt._vdir()) if ".tmp." in n]
    assert leftovers == []


def test_double_writer_collision_over_hadoop_fs_uri(spark, tmp_path):
    """Same collision contract through the JVM Hadoop FileSystem
    path (file:// URI) — exists-check + rename-refusal instead of the
    POSIX hardlink trick."""
    import pytest

    vt = VersionedTable(f"file://{tmp_path}/t", keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a")]))
    committed = vt._fs().read_text(vt._manifest_path(1))
    files = vt._write_commit(vt._bucketed(_df(spark, [(9, "CLOBBER")])))
    from unittest import mock

    with mock.patch.object(VersionedTable, "latest_version", return_value=0):
        with pytest.raises(RuntimeError, match="concurrent commit"):
            vt._commit(files, parent=0)
    assert vt._fs().read_text(vt._manifest_path(1)) == committed
    assert _snap(spark, vt, 1) == {(1, "a")}


def test_txn_stamp_survives_vacuum_past_interleaved_commits(spark, tmp_path):
    """The ADVICE round-7 hazard: a stream stamps (app, epoch) at v2,
    then NON-txn commits (delete + compact) land, then vacuum keeps
    only the newest manifests. With stamps folded forward into every
    manifest, txn_applied must still see the epoch — a crash-replayed
    epoch must NOT be re-upserted onto newer state."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    vt.upsert(spark, _df(spark, [(2, "B")]), txn={"app": "s1", "epoch": 7})
    assert vt.txn_applied("s1", 7)
    # interleaved non-txn commits AFTER the stream's last stamped epoch
    vt.delete(spark, F.col("id") == 3)
    vt.compact(spark, min_files=1)
    deleted = vt.vacuum(keep_last=2)  # drops the stamped v2 manifest
    assert 2 not in vt.versions()
    assert deleted is not None
    # the stamp survived truncation via the fold-forward txns map
    assert vt.txn_applied("s1", 7)
    assert vt.txn_applied("s1", 6)
    assert not vt.txn_applied("s1", 8)
    assert not vt.txn_applied("other_app", 1)


def test_replace_keys_deletes_vanished_rows_in_one_commit(spark, tmp_path):
    """replace_keys drops EVERY stored row of a matched key prefix and
    inserts the new rows — the delete-then-insert upsert can't express
    (a recompute that REMOVES a (key, sub) row leaves it stale under
    plain upsert). Untouched keys are untouched; one audited commit."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id", "sub"], n_buckets=4)

    def df2(rows):
        return spark.createDataFrame(rows, "id long, sub long, val string")

    vt.overwrite(df2([(1, 1, "a"), (1, 2, "b"), (2, 1, "x"), (3, 1, "z")]))
    # key 1 recomputes to a SINGLE row (sub=1 updated, sub=2 vanishes);
    # key 2 recomputes to two rows; key 3 untouched
    v = vt.replace_keys(
        spark,
        df2([(1, 1, "A"), (2, 1, "x"), (2, 2, "y")]),
        match_cols=["id"],
        txn={"app": "s", "epoch": 5},
    )
    assert v == 2
    got = {
        (r["id"], r["sub"], r["val"]) for r in vt.read(spark).collect()
    }
    assert got == {(1, 1, "A"), (2, 1, "x"), (2, 2, "y"), (3, 1, "z")}
    assert vt.txn_applied("s", 5)
    # time travel still sees the stale row at v1
    assert (1, 2, "b") in {
        (r["id"], r["sub"], r["val"]) for r in vt.read(spark, 1).collect()
    }


def test_legacy_txn_stamps_fold_in_on_upgrade(spark, tmp_path):
    """The ADVICE round-8 hazard: a table whose manifests predate
    fold-forward carries only per-commit "txn" stamps. The FIRST new
    commit must seed its "txns" map from those legacy stamps —
    otherwise txn_applied consults the (incomplete) map, answers
    False for the legacy app, and a crash-replayed epoch re-applies
    (exactly-once broken on upgrade)."""
    import json

    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a")]))
    vt.upsert(spark, _df(spark, [(2, "b")]), txn={"app": "s1", "epoch": 3})
    vt.upsert(spark, _df(spark, [(3, "c")]), txn={"app": "s2", "epoch": 9})
    # simulate pre-fold-forward manifests: strip the txns maps, keep
    # the per-commit txn stamps
    for v in vt.versions():
        p = vt._manifest_path(v)
        m = json.loads(open(p).read())
        m.pop("txns", None)
        with open(p, "w") as f:
            f.write(json.dumps(m))
    # READ path heals immediately: map absent -> legacy scan
    assert vt.txn_applied("s1", 3) and vt.txn_applied("s2", 9)
    # first post-upgrade commit folds BOTH legacy apps into its map
    vt.upsert(spark, _df(spark, [(4, "d")]), txn={"app": "s2", "epoch": 10})
    m = vt._manifest(vt.latest_version())
    assert m["txns"] == {"s1": 3, "s2": 10}
    assert vt.txn_applied("s1", 3)
    assert not vt.txn_applied("s1", 4)
    # and a map written by a PRE-FIX writer (has txns but missing an
    # app) falls back to the legacy scan instead of answering False
    p = vt._manifest_path(vt.latest_version())
    m2 = json.loads(open(p).read())
    m2["txns"] = {"s2": 10}
    with open(p, "w") as f:
        f.write(json.dumps(m2))
    assert vt.txn_applied("s1", 3)


def test_same_timestamp_commits_resolve_to_latest_version(spark, tmp_path):
    """Two commits stamped with the SAME committed_at (a deterministic
    engine clock can produce ties): version_as_of must resolve to the
    LARGEST such version (latest-wins, the Delta convention), history
    keeps both rows, and streaming commit_clock stamps are what land
    in the manifests."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    ts = "2026-03-01T00:00:00Z"
    vt.overwrite(_df(spark, [(1, "a")]), committed_at=ts)
    vt.upsert(spark, _df(spark, [(1, "b")]), committed_at=ts)
    assert vt.version_as_of(ts) == 2
    assert _snap(spark, vt) == {(1, "b")}
    assert [
        (h["version"], h["committed_at"]) for h in vt.history()
    ] == [(2, ts), (1, ts)]
    # a later timestamp still resolves past the tie
    assert vt.version_as_of("2026-03-02T00:00:00Z") == 2


def test_ingest_stream_commit_clock_is_deterministic(spark, tmp_path):
    """ingest_versioned_stream(commit_clock=) threads an epoch-derived
    timestamp into every engine-path commit — replaying the same
    inputs into a fresh table yields IDENTICAL committed_at stamps
    (no wall-clock nondeterminism in time travel)."""
    from pyspark.sql import types as T

    from batch_processing_on_aws_spark.streaming.incremental import (
        ingest_versioned_stream,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    clock = lambda epoch: f"2026-04-0{epoch + 1}T00:00:00Z"  # noqa: E731
    stamps = []
    for run in ("r1", "r2"):
        root = tmp_path / run
        _df(spark, [(1, "a"), (2, "b")]).coalesce(1).write.parquet(
            str(root / "in")
        )
        ingest_versioned_stream(
            spark, str(root / "in"), schema, str(root / "t"), ["id"],
            str(root / "ckpt"), n_buckets=4, commit_clock=clock,
        )
        vt = VersionedTable(str(root / "t"), keys=["id"])
        stamps.append([h["committed_at"] for h in vt.history()])
    assert stamps[0] == stamps[1] == ["2026-04-01T00:00:00Z"]


def test_history_and_timestamp_travel(spark, tmp_path):
    """DESCRIBE HISTORY carries operation + caller-supplied commit
    timestamps; read(as_of=) resolves to the newest version at or
    before the timestamp."""
    import pytest

    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(1, "a")]), committed_at="2026-01-01T00:00:00Z")
    vt.upsert(spark, _df(spark, [(1, "A2")]),
              committed_at="2026-01-02T00:00:00Z")
    vt.delete(spark, F.col("id") == 99,  # audited no-op delete
              committed_at="2026-01-03T00:00:00Z")
    vt.rollback(1, committed_at="2026-01-04T00:00:00Z")
    h = vt.history()
    assert [x["version"] for x in h] == [4, 3, 2, 1]
    assert [x["operation"] for x in h] == [
        "rollback", "delete", "upsert", "overwrite"
    ]
    assert [x["committed_at"] for x in h] == [
        "2026-01-04T00:00:00Z", "2026-01-03T00:00:00Z",
        "2026-01-02T00:00:00Z", "2026-01-01T00:00:00Z",
    ]
    assert h[0]["parent"] == 3
    # timestamp travel: exact hit, between-commits, and too-early
    assert vt.version_as_of("2026-01-02T00:00:00Z") == 2
    assert vt.version_as_of("2026-01-02T12:00:00Z") == 2
    assert _snap(spark, vt.read(spark, version=None) and vt, 1) == {(1, "a")}
    assert {(r["id"], r["val"])
            for r in vt.read(spark, as_of="2026-01-01T09:00:00Z").collect()} \
        == {(1, "a")}
    assert {(r["id"], r["val"])
            for r in vt.read(spark, as_of="2026-01-05T00:00:00Z").collect()} \
        == {(1, "a")}  # latest is the rollback to v1 content
    with pytest.raises(ValueError):
        vt.version_as_of("2025-12-31T00:00:00Z")
    with pytest.raises(ValueError):
        vt.read(spark, version=1, as_of="2026-01-01T00:00:00Z")


def test_delete_keys_semantics_txn_and_sharing(spark, tmp_path):
    """delete_keys(): full-key-tuple drops (null-safe), absent keys a
    no-op, empty keys an audited no-op commit, txn stamps make a
    replayed apply detectable, untouched buckets file-shared."""
    import pytest

    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=8)
    rows = [(i, f"v{i}") for i in range(40)] + [(None, "nullkey")]
    vt.overwrite(_df(spark, rows))
    m1 = vt._manifest(1)["buckets"]

    ks = spark.createDataFrame(
        [(3,), (7,), (9999,), (None,)], "id long"
    )
    v2 = vt.delete_keys(spark, ks, txn={"app": "repl.d", "epoch": 0})
    assert v2 == 2
    kept = _snap(spark, vt)
    assert kept == {(i, f"v{i}") for i in range(40) if i not in (3, 7)}
    assert vt.txn_applied("repl.d", 0)
    # untouched buckets share files with the parent byte-for-byte
    m2 = vt._manifest(2)["buckets"]
    # touched = buckets of EVERY key in keys_df (absent keys included:
    # discovery is key-side), via the table's own bucketing
    from batch_processing_on_aws_spark.operators.versioned import BUCKET_COL

    touched = {
        str(r[BUCKET_COL])
        for r in vt._bucketed(ks).select(BUCKET_COL).distinct().collect()
    }
    for b, fs in m1.items():
        if b not in touched:
            assert m2[b] == fs

    # empty keys_df: audited no-op commit sharing every file
    v3 = vt.delete_keys(spark, spark.createDataFrame([], "id long"))
    assert vt._manifest(3)["buckets"] == m2
    assert _snap(spark, vt, v3) == kept

    with pytest.raises(ValueError, match="lacks key columns"):
        vt.delete_keys(spark, spark.createDataFrame([(1,)], "other long"))
    empty = VersionedTable(str(tmp_path / "e"), keys=["id"])
    with pytest.raises(ValueError, match="no committed version"):
        empty.delete_keys(spark, ks)


def test_empty_manifest_reads_typed_empty_frame(spark, tmp_path):
    """The round-13 empty-manifest trap (ADVICE): a version with zero
    data files — a fresh table whose first commit carried no rows, or
    a delete of every remaining row — must read back as a schema-typed
    EMPTY frame, not brick the table with ValueError. The manifest
    folds the read schema forward like the txn stamps, so the shape
    survives metadata-only commits and vacuum."""
    # (a) first commit is empty: version 1 has no files but a schema
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, []).limit(0))
    got = vt.read(spark)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "val"]
    # the table is NOT bricked: a later upsert and read work
    vt.upsert(spark, _df(spark, [(1, "a"), (2, "b")]))
    assert _snap(spark, vt) == {(1, "a"), (2, "b")}

    # (b) delete_keys of ALL remaining rows: same trap on the delete
    # surfaces of every standing index
    ks = spark.createDataFrame([(1,), (2,)], "id long")
    vt.delete_keys(spark, ks)
    got = vt.read(spark)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "val"]
    # and the table keeps working after the wipe-out
    vt.upsert(spark, _df(spark, [(3, "c")]))
    assert _snap(spark, vt) == {(3, "c")}

    # (c) the schema survives a rollback TO the empty version
    empty_v = 3  # v1 empty, v2 upsert, v3 delete-all, v4 upsert
    vt.rollback(empty_v)
    got = vt.read(spark)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["id", "val"]


def test_rollback_never_inherits_newer_schema(spark, tmp_path):
    """rollback() records the TARGET's schema, not the current
    latest's (round-14 ADVICE): after an add-column evolution, a
    rolled-back pre-evolution EMPTY version must not read with the
    evolved columns. A legacy target with no recorded schema stays
    schema-less (loud legacy error on an empty read) instead of
    silently inheriting the wrong one."""
    import json
    import os

    import pytest

    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    v1 = vt.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    # v2: delete every row -> empty manifest carrying the (id, val)
    # schema
    v2 = vt.delete_keys(spark, _df(spark, [(1, "a"), (2, "b")]).select("id"))
    # v3: add-column evolution
    v3 = vt.upsert(
        spark,
        spark.createDataFrame([(5, "e", 9)], "id long, val string, extra long"),
    )
    # rollback to the schema-carrying empty version: reads empty with
    # the PRE-evolution columns
    v4 = vt.rollback(v2)
    rolled = vt.read(spark, v4)
    assert rolled.columns == ["id", "val"]
    assert rolled.count() == 0
    # simulate a LEGACY empty target: strip the recorded schema
    mp = vt._manifest_path(v2)
    m = json.loads(open(mp).read())
    del m["schema"]
    os.chmod(mp, 0o644)
    with open(mp, "w") as f:
        f.write(json.dumps(m))
    v5 = vt.rollback(v2)
    assert "schema" not in vt._manifest(v5)
    with pytest.raises(ValueError, match="legacy manifest"):
        vt.read(spark, v5)
    # the non-empty history is untouched
    assert _snap(spark, vt, v1) == {(1, "a"), (2, "b")}
    assert {r["id"] for r in vt.read(spark, v3).collect()} == {5}


def _counting_increment(spark, rows):
    """An increment whose every evaluation adds one to the returned
    accumulator per row (a Python UDF on the key column, which bucket
    discovery and the rewrite both need)."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def seen(v):
        acc.add(1)
        return v

    return _df(spark, rows).withColumn("id", seen("id")), acc


def test_keyed_writes_evaluate_the_increment_once(spark, tmp_path):
    """upsert and replace_keys run the increment's plan exactly once:
    bucket discovery and the rewrite read one materialization of it."""
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=8)
    vt.overwrite(_df(spark, [(i, f"v{i}") for i in range(40)]))

    rows = [(i, f"u{i}") for i in range(30, 50)]
    inc, acc = _counting_increment(spark, rows)
    vt.upsert(spark, inc)
    assert acc.value == len(rows)
    assert _snap(spark, vt) == (
        {(i, f"v{i}") for i in range(30)} | set(rows)
    )

    rows = [(i, f"r{i}") for i in range(0, 10)]
    inc, acc = _counting_increment(spark, rows)
    vt.replace_keys(spark, inc, match_cols=["id"])
    assert acc.value == len(rows)
    assert {r for r in _snap(spark, vt) if r[0] < 10} == set(rows)


def test_nondeterministic_increment_never_loses_untouched_buckets(
    spark, tmp_path
):
    """Bucket discovery and the rewrite see the same rows even when the
    increment's plan is non-deterministic (a random filter): a row
    written to a bucket outside the discovered set would replace that
    bucket's files and drop its stored rows."""
    import os

    # about one row in ten, drawn afresh on every evaluation
    keep = F.udf(lambda: os.urandom(1)[0] < 26, "boolean").asNondeterministic()
    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=16)
    base = {(i, "old") for i in range(200)}
    vt.overwrite(_df(spark, sorted(base)))
    candidates = {(i, "new") for i in range(1000, 1060)}
    for _ in range(3):
        inc = _df(spark, sorted(candidates)).repartition(4).where(keep())
        vt.upsert(spark, inc)
        got = _snap(spark, vt)
        assert base <= got  # every stored row of every bucket survives
        assert got - base <= candidates


def test_empty_increment_commits_without_a_data_write(spark, tmp_path):
    """An empty upsert still commits a version (txn stamp, schema fold)
    but writes no files: the manifest shares every parent file."""
    import os

    vt = VersionedTable(str(tmp_path / "t"), keys=["id"], n_buckets=4)
    vt.overwrite(_df(spark, [(i, f"v{i}") for i in range(10)]))
    files_dir = os.path.join(vt.path, "files")
    commits = set(os.listdir(files_dir))
    parent = vt.latest_version()

    v = vt.upsert(spark, _df(spark, []), txn={"app": "a", "epoch": 7})
    assert v == parent + 1
    assert set(os.listdir(files_dir)) == commits
    assert vt._manifest(v)["buckets"] == vt._manifest(parent)["buckets"]
    assert vt.txn_applied("a", 7)
    assert _snap(spark, vt) == _snap(spark, vt, parent)

    # an empty increment that carries a new column still folds it in
    wide = spark.createDataFrame([], "id long, val string, lang string")
    v = vt.upsert(spark, wide)
    assert set(os.listdir(files_dir)) == commits
    assert vt.read(spark, v).columns == ["id", "val", "lang"]
