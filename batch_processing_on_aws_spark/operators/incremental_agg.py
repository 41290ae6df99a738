"""Incremental aggregate maintenance (materialized-view upkeep).

The reference's weekly cadence recomputes its dashboard aggregates
from the full fact table every run (journey-data-transformation.py
rebuilds, then Redshift re-aggregates per dashboard query). The
engine-grade version maintains the aggregate INCREMENTALLY: each new
batch contributes map-side partial aggregates over just the batch,
which merge into the stored per-group state by the usual monoid laws
(sum ⊕ sum, count ⊕ count, min via least, max via greatest; avg is
derived sum/count at read time, never stored). Cost per refresh is
O(batch) + a keyed merge on the touched groups — independent of the
fact table's history, which is the whole point at 100 TB where the
history is unreadable weekly.

Contract: APPEND-ONLY facts through :meth:`IncrementalAgg.apply_batch`.
min/max are not invertible — a retracted row cannot un-narrow them —
so for specs containing them, change feeds route through
:meth:`IncrementalAgg.recompute_touched`: the feed names the touched
group keys and ONLY those groups re-aggregate from the post-change
snapshot (still O(delta)-shaped — never O(state), and the semi-joined
fact scan prunes when the fact is laid out by a group-key prefix).
For the aggregates that ARE invertible (sum/count),
:meth:`IncrementalAgg.apply_changes` replays the retractions
algebraically: it consumes a row-level change feed
(:meth:`~.versioned.VersionedTable.changes` — insert/update/delete
with old_/new_ values) and folds SIGNED contributions (+new, −old)
into the state, so update- and delete-bearing increments still match
a full recompute hash-exact. Groups whose designated row count
reaches zero become tombstones: the state row stays (a later insert
merges onto it correctly) but :meth:`read` hides it, exactly as a
recompute would show no row.

Storage: the state table rides :class:`~..operators.merge.MergeWriter`
(a retention-1 keyed VersionedTable), so refresh is
idempotent per batch ONLY if the caller keys batches (exactly-once
delivery, e.g. Structured Streaming's foreachBatch epoch semantics or
file-at-a-time ingestion). Re-applying the same rows twice
double-counts — the same contract as any partial-aggregate merge.

Correctness gate: the registry query ``incremental_daily_events``
maintains the state over two disjoint halves of the events table and
the DuckDB oracle computes the SAME aggregate over the full table in
one shot — incremental == recompute, hash-exact.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import MergeWriter

# aggregate kind -> (partial expression builder, merge expression)
_KINDS = ("sum", "count", "min", "max")


class IncrementalAgg:
    """Maintain ``SELECT keys, aggs FROM fact GROUP BY keys``
    incrementally under append-only batches.

    ``aggs``: mapping output column -> ("sum"|"count"|"min"|"max",
    input column). ``count`` counts non-null values of the input
    column (use a literal ``1`` column for COUNT(*) semantics —
    :func:`apply_batch` accepts expressions).
    """

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        aggs: dict[str, tuple[str, str]],
        n_buckets: int = 32,
        rowcount: str | None = None,
    ):
        """``rowcount`` (optional) names an agg output of kind
        ``count`` whose input column is non-null on EVERY fact row
        (a key column, or a literal-1 column) — the group's row count.
        Required for :meth:`apply_changes` (it decides when a group
        has been fully retracted); when set, :meth:`read` hides
        zero-count tombstone groups."""
        for out, (kind, _) in aggs.items():
            if kind not in _KINDS:
                raise ValueError(
                    f"agg {out!r}: unknown kind {kind!r}; known: {_KINDS}"
                )
        if rowcount is not None and (
            rowcount not in aggs or aggs[rowcount][0] != "count"
        ):
            raise ValueError(
                f"rowcount {rowcount!r} must name a ('count', ...) agg"
            )
        self.keys = list(keys)
        self.aggs = dict(aggs)
        self.rowcount = rowcount
        self.writer = MergeWriter(path, keys=self.keys, n_buckets=n_buckets)

    def _partial(self, batch: DataFrame) -> DataFrame:
        """Per-group partial aggregates over ONE batch (map-side
        combine does the heavy lifting; the shuffle carries one row
        per touched group)."""
        exprs = []
        for out, (kind, col) in self.aggs.items():
            if kind == "sum":
                exprs.append(F.sum(col).alias(out))
            elif kind == "count":
                exprs.append(F.count(col).cast("long").alias(out))
            elif kind == "min":
                exprs.append(F.min(col).alias(out))
            elif kind == "max":
                exprs.append(F.max(col).alias(out))
        return batch.groupBy(*self.keys).agg(*exprs)

    def _key_cond(self, left: str, right: str):
        cond = F.col(f"{left}.{self.keys[0]}").eqNullSafe(
            F.col(f"{right}.{self.keys[0]}")
        )
        for k in self.keys[1:]:
            cond = cond & F.col(f"{left}.{k}").eqNullSafe(F.col(f"{right}.{k}"))
        return cond

    def _merge(self, old: DataFrame, part: DataFrame) -> DataFrame:
        o = old.alias("o")
        p = part.alias("p")
        # eqNullSafe: a name-list join is null-unsafe, so a NULL-key
        # group would fork into two state rows instead of merging
        joined = o.join(p, on=self._key_cond("o", "p"), how="full_outer")
        cols = [
            F.coalesce(*[F.col(f"{s}.{k}") for s in ("o", "p")]).alias(k)
            for k in self.keys
        ]
        for out, (kind, _) in self.aggs.items():
            a, b = F.col(f"o.{out}"), F.col(f"p.{out}")
            if kind == "count":
                merged = F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
            elif kind == "sum":
                # NULL iff both partials are NULL — SQL SUM over an
                # all-NULL group is NULL, and the incremental state
                # must agree with a full recompute bit-for-bit; a bare
                # coalesce-to-0 merge would yield 0 instead
                merged = F.when(
                    a.isNull() & b.isNull(), F.lit(None)
                ).otherwise(F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)))
            elif kind == "min":
                merged = F.least(F.coalesce(a, b), F.coalesce(b, a))
            else:  # max
                merged = F.greatest(F.coalesce(a, b), F.coalesce(b, a))
            cols.append(merged.alias(out))
        return joined.select(*cols)

    def _merge_retract(self, old: DataFrame, part: DataFrame) -> DataFrame:
        """Merge SIGNED partials (retraction deltas) into the state.
        Counts add (deltas may be negative); each sum goes NULL exactly
        when its companion count reaches zero — SQL's SUM over a group
        with no non-null values is NULL, and the retracted state must
        agree with a full recompute bit-for-bit (the 0-vs-NULL trap of
        invertible aggregates)."""
        o = old.alias("o")
        p = part.alias("p")
        joined = o.join(p, on=self._key_cond("o", "p"), how="full_outer")
        cols = [
            F.coalesce(*[F.col(f"{s}.{k}") for s in ("o", "p")]).alias(k)
            for k in self.keys
        ]
        cnt_for_col = {
            col: out for out, (kind, col) in self.aggs.items()
            if kind == "count"
        }
        merged_cnt = {
            out: F.coalesce(F.col(f"o.{out}"), F.lit(0))
            + F.coalesce(F.col(f"p.{out}"), F.lit(0))
            for out, (kind, _) in self.aggs.items()
            if kind == "count"
        }
        for out, (kind, col) in self.aggs.items():
            a, b = F.col(f"o.{out}"), F.col(f"p.{out}")
            if kind == "count":
                merged = merged_cnt[out]
            else:  # sum — __init__/apply_changes guarantee a companion
                merged = F.when(
                    merged_cnt[cnt_for_col[col]] == 0, F.lit(None)
                ).otherwise(
                    F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
                )
            cols.append(merged.alias(out))
        return joined.select(*cols)

    def _side_col(self, changes: DataFrame, col: str, side: str):
        """Resolve a fact column inside a change-feed row: table-key
        columns appear unprefixed (identical on both sides); value
        columns appear as old_<col> / new_<col>."""
        if col in changes.columns:
            return F.col(col)
        pref = f"{side}_{col}"
        if pref in changes.columns:
            return F.col(pref)
        raise ValueError(
            f"column {col!r} not found in the change feed "
            f"(neither {col!r} nor {pref!r})"
        )

    def _touched_group_keys(self, changes: DataFrame) -> DataFrame:
        """Distinct group keys a change feed touches — BOTH sides of
        every change (an update may move a row between groups)."""
        new_side = changes.where(
            F.col("change_type").isin("insert", "update")
        ).select(*[
            self._side_col(changes, k, "new").alias(k) for k in self.keys
        ])
        old_side = changes.where(
            F.col("change_type").isin("delete", "update")
        ).select(*[
            self._side_col(changes, k, "old").alias(k) for k in self.keys
        ])
        return new_side.unionByName(old_side).distinct()

    def recompute_touched(
        self, spark: SparkSession, changes: DataFrame, fact: DataFrame
    ) -> None:
        """Refresh the groups a change feed touches by FULL RECOMPUTE
        from the current fact snapshot — the retraction path for
        NON-INVERTIBLE specs (min/max cannot replay deletes as signed
        deltas: a retracted row cannot un-narrow them).

        ``fact`` is the post-change snapshot (e.g.
        ``VersionedTable.read()`` at the feed's ``v_to``). The feed
        still does what makes this O(delta)-shaped: it names the
        touched group keys, so only those groups' fact rows are
        re-aggregated (a semi-join the scan can push down when the
        fact is partitioned/bucketed by a group-key prefix) and only
        those groups' state rows rewrite — cost is O(touched groups'
        fact rows), never O(state) and never O(fact) when pruning
        applies. Groups with no surviving fact rows become zero-count
        tombstones, which :meth:`read` hides exactly as a recompute
        would. State rows REPLACE by key (win-by-key upsert), so the
        result is bit-identical to a from-scratch aggregate of the
        snapshot on every touched group."""
        if self.rowcount is None:
            raise ValueError(
                "recompute_touched needs rowcount= set at construction "
                "(tombstones fully-retracted groups)"
            )
        # materialize the touched keys ONCE (round-14): they sit on top
        # of the CDC diff and feed BOTH the semi-join and the
        # tombstone left join below — without this the diff executes
        # twice inside one plan. Touched keys are group-count bounded.
        touched = self._touched_group_keys(changes).localCheckpoint(
            eager=True
        )
        rows = fact.alias("f").join(
            touched.alias("t"),
            on=self._key_cond("f", "t"),
            how="left_semi",
        )
        recomputed = self._partial(rows)
        # LEFT join from the touched keys so fully-retracted groups
        # (no fact rows left) land as zero-count tombstones
        t = touched.alias("t")
        r = recomputed.alias("r")
        cols = [F.col(f"t.{k}").alias(k) for k in self.keys]
        for out, (kind, _) in self.aggs.items():
            v = F.col(f"r.{out}")
            if kind == "count":
                v = F.coalesce(v, F.lit(0)).cast("long")
            cols.append(v.alias(out))
        replaced = t.join(r, on=self._key_cond("t", "r"), how="left").select(
            *cols
        )
        if self.writer.latest_version() == 0:
            self.writer.overwrite(replaced)
        else:
            self.writer.upsert(spark, replaced.localCheckpoint())

    def apply_changes(
        self,
        spark: SparkSession,
        changes: DataFrame,
        fact: DataFrame | None = None,
    ) -> None:
        """Fold a row-level CHANGE FEED (``VersionedTable.changes``
        shape: ``change_type`` ∈ insert/update/delete, table keys
        unprefixed, values as ``old_<col>`` / ``new_<col>``) into the
        stored aggregate — the retraction path that closes the
        append-only limitation for invertible specs.

        Each change row contributes signed deltas: ``insert`` adds its
        new values to the new-side group, ``delete`` subtracts its old
        values from the old-side group, ``update`` does both (the
        group key itself may change — each side routes to its own
        group). Deltas reduce to one row per touched group (sum → sum
        of signed values, NULL iff no non-null contribution; count →
        signed non-null tally), then merge through
        :meth:`_merge_retract` with the same touched-groups-only
        pruning as :meth:`apply_batch` — cost O(changes) + the keyed
        merge, never O(state), so CDC-driven upkeep composes with
        manifest-pruned ``changes()`` into an end-to-end O(delta)
        refresh.

        Requirements (validated): every agg is sum/count — a spec with
        min/max (not invertible) routes to :meth:`recompute_touched`
        instead, which needs the post-change ``fact`` snapshot passed
        here; every sum has a companion count over the SAME column
        (decides when the sum returns to NULL); and ``rowcount`` is
        set (detects fully-retracted groups, which :meth:`read` then
        hides exactly as a recompute would)."""
        if self.rowcount is None:
            raise ValueError(
                "apply_changes needs rowcount= set at construction "
                "(a ('count', <never-null col>) agg output)"
            )
        if any(kind in ("min", "max") for kind, _ in self.aggs.values()):
            # non-invertible spec: retraction by touched-group full
            # recompute from the snapshot (exact for EVERY agg kind)
            if fact is None:
                raise ValueError(
                    "spec contains min/max (not invertible): pass the "
                    "post-change fact snapshot (fact=) so the touched "
                    "groups can be recomputed exactly"
                )
            self.recompute_touched(spark, changes, fact)
            return
        count_cols = {
            col for _, (kind, col) in self.aggs.items() if kind == "count"
        }
        for out, (kind, col) in self.aggs.items():
            if kind == "sum" and col not in count_cols:
                raise ValueError(
                    f"sum {out!r} over {col!r} needs a companion "
                    f"('count', {col!r}) agg to restore SQL's "
                    "NULL-sum-for-empty-group semantics under retraction"
                )

        def contributions(side: str, sign: int, types: tuple[str, ...]):
            rows = changes.where(F.col("change_type").isin(*types))
            cols = [
                self._side_col(changes, k, side).alias(k) for k in self.keys
            ]
            for out, (kind, col) in self.aggs.items():
                v = self._side_col(changes, col, side)
                if kind == "sum":
                    cols.append((F.lit(sign) * v).alias(out))
                else:  # count: signed tally of non-null values
                    cols.append(
                        F.when(v.isNotNull(), F.lit(sign))
                        .otherwise(F.lit(0)).cast("long").alias(out)
                    )
            return rows.select(*cols)

        deltas = contributions("new", 1, ("insert", "update")).unionByName(
            contributions("old", -1, ("delete", "update"))
        )
        part = deltas.groupBy(*self.keys).agg(
            *[F.sum(out).alias(out) for out in self.aggs]
        )
        # counts must stay integral after the signed reduce
        part = part.select(
            *self.keys,
            *[
                F.col(out).cast("long").alias(out)
                if kind == "count" else F.col(out)
                for out, (kind, _) in self.aggs.items()
            ],
        )
        self._fold(spark, part, self._merge_retract, materialize=True)

    def apply_batch(self, spark: SparkSession, batch: DataFrame) -> None:
        """Fold one append-only batch into the stored aggregate.

        Touched-groups-only (round-6 verdict task 3): the stored state
        is read from just the files of the buckets the batch's groups
        hash into, then SEMI-JOINED to the batch's group keys —
        so the merge input, the merged frame, and the upsert are all
        O(touched groups), never O(|state|). Untouched groups' parquet
        files are not read and not rewritten (byte-identical across a
        refresh — pinned by test_untouched_buckets_not_rewritten);
        per-refresh cost is O(batch) + the keyed merge on touched
        groups, which is what makes daily upkeep of a per-user/
        per-domain aggregate viable at 100 TB.
        """
        self._fold(spark, self._partial(batch), self._merge)

    def _fold(
        self,
        spark: SparkSession,
        part: DataFrame,
        merge_fn,
        materialize: bool = False,
    ) -> None:
        """Merge per-group partials into the state with touched-groups
        pruning (shared by the append and retraction paths).

        ``materialize=True`` (the retraction path): `part` sits on top
        of the CDC diff — a full-outer join over both versions'
        touched buckets — and without an eager checkpoint the
        touched-bucket collect below AND the merged-state checkpoint
        each re-execute it from scratch (measured round-14: the diff
        ran twice per fold, ~1.5 s of the 3.2 s apply_changes at
        sf0.1). Group-level partials are touched-groups-sized, so the
        checkpoint itself is tiny. The append path (apply_batch) keeps
        the default: its partial is one hash-agg over the batch, and
        an extra blocking job costs more than the recompute saves."""
        if self.writer.latest_version() == 0:
            self.writer.overwrite(part)
            return
        if materialize:
            part = part.localCheckpoint(eager=True)
        # read only the buckets the batch can touch, then keep only the
        # exact touched groups within those buckets
        old = self.writer.touched_rows(spark, part)
        old_touched = old.alias("o").join(
            part.select(*self.keys).alias("p"),
            on=self._key_cond("o", "p"),
            how="left_semi",
        )
        state = merge_fn(old_touched, part)
        # localCheckpoint cuts the state's lineage to the files the
        # writer's retention-1 vacuum removes after the commit
        self.writer.upsert(spark, state.localCheckpoint())

    def read(self, spark: SparkSession) -> DataFrame:
        out = self.writer.read(spark)
        if self.rowcount is not None:
            # zero-count tombstones (groups fully retracted by
            # apply_changes) are invisible, as in a recompute
            out = out.where(F.col(self.rowcount) > 0)
        return out
