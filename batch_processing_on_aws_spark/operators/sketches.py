"""Mergeable distinct-count sketches (extension surface; M-ops).

Incremental corpus statistics at 100 TB can't re-scan history: the
scale pattern is a MERGEABLE sketch per batch/partition — persist the
sketch, union sketches to answer "distinct across all batches so far"
in O(sketch) instead of O(data). Spark ships Apache DataSketches HLL
natively (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``, SQL functions since 3.5), so the whole path
stays JVM-side: one hash-agg producing a fixed-size binary per group,
then unions over those binaries.

vs ``approx_count_distinct``: that returns only the final number —
the sketch column is what makes the count COMPOSABLE (persist
per-source/per-day sketches, union any subset later: any
source-set × date-range distinct count without touching the data).

HLL estimates are implementation-defined (lgK-dependent), so that
golden query registers WITHOUT a DuckDB oracle (rows-only driver
check; accuracy pinned by pytest against exact counts). The KMV
sketch below is the deterministic counterpart: md5-fraction hashes
make the whole sketch SQL-replayable, so the mergeable-sketch family
also carries a hash-exact oracle row (``kmv_distinct_users``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_sketches(
    df: DataFrame,
    key_col: str,
    group_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """One row per group: (group, sketch, est_distinct). The sketch
    is the persistable artifact (write it next to the batch); the
    estimate is derived from it. ``lg_k=12`` ⇒ ~1.6 % relative
    standard error at 4 KiB per sketch."""
    return df.groupBy(group_col).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch")
    ).select(
        group_col,
        "sketch",
        F.hll_sketch_estimate("sketch").alias("est_distinct"),
    )


def union_distinct_estimate(
    sketches: DataFrame,
    sketch_col: str = "sketch",
    allow_different_lg_k: bool = True,
) -> DataFrame:
    """Merge previously materialized sketches into one global distinct
    estimate — O(#sketches × sketch size) work, zero data re-scan.
    This is the query you run over a season of persisted per-batch
    sketches. ``allow_different_lg_k`` tolerates sketches built at
    different precisions (the union downgrades to the coarsest)."""
    return sketches.agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col(sketch_col), F.lit(allow_different_lg_k))
        ).alias("est_distinct")
    )


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 128,
) -> DataFrame:
    """K-minimum-values distinct sketch per group (Bar-Yossef et al.,
    RANDOM'02) — the DETERMINISTIC, cross-engine-replayable sibling of
    :func:`distinct_sketches`: where HLL binaries are engine-internal
    (rows-only oracle), KMV is k smallest md5-derived hash fractions,
    so a SQL oracle replays hashing, ranking, and the estimator
    bit-for-bit and the sketch family gets a hash-exact correctness
    row.

    Model: md5 maps distinct keys ~uniformly onto [0, 1) (first 8 hex
    chars as a 32-bit integer fraction — the md5-portability trick the
    MinHash/sampling family already relies on). If the k-th smallest
    distinct hash is U_(k), then E[U_(k)] ≈ k/(n+1), so
    ``(k-1)/U_(k)`` is the standard (unbiased) KMV estimate; relative
    standard error ≈ 1/√(k−2) (~9 % at k=128). A group with ≤ k
    distinct keys keeps ALL its hashes and the count is exact.

    The sketch STATE is the k hashes (``kmv_hashes``, ascending) —
    persist it per batch/partition and merge with
    :func:`kmv_union_estimate`: the union of two KMV sketches is the k
    smallest of the merged hash sets, so composability costs
    O(sketches × k), zero re-scan, same as HLL.

    Plan shape: one (group, key) hash-agg dedups keys; the per-group
    k-smallest runs the partial-rank pre-prune (rank within
    (group, spark_partition_id()) ≤ k BEFORE the per-group window — the
    same bounded-window move as ``similarity._ranked_topk``), so the
    global window never sees a group's full distinct stream; exact
    per-group distinct counts ride the same dedup'd rows as a plain
    hash-agg.

    Output: (group, n_distinct_kept ≤ k, kmv_hashes array<long>,
    est_distinct double — EXACT when the group kept < k hashes).
    """
    from pyspark.sql import Window

    hashed = (
        df.select(F.col(group_col).alias("grp"), F.col(key_col).alias("key"))
        .where(F.col("key").isNotNull())
        .distinct()
        .select(
            "grp",
            F.conv(
                F.substring(F.md5(F.col("key").cast("string")), 1, 8), 16, 10
            ).cast("long").alias("h"),
        )
        # distinct keys can collide on the 32-bit fraction; KMV is
        # defined over the distinct HASH set
        .distinct()
    )
    counts = hashed.groupBy("grp").agg(F.count(F.lit(1)).alias("__n"))
    pw = Window.partitionBy("grp", "__part").orderBy("h")
    w = Window.partitionBy("grp").orderBy("h")
    kept = (
        hashed.withColumn("__part", F.spark_partition_id())
        .withColumn("__pr", F.row_number().over(pw))
        .where(F.col("__pr") <= k)
        .drop("__part", "__pr")
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
    )
    est = F.when(
        F.col("n_distinct_kept") < k,
        F.col("n_distinct_kept").cast("double"),
    ).otherwise(
        F.round(
            F.lit(float(k - 1))
            * F.lit(4294967296.0)
            / F.try_element_at("kmv_hashes", F.lit(k)),
            6,
        )
    )
    return (
        kept.groupBy("grp")
        .agg(F.sort_array(F.collect_list("h")).alias("kmv_hashes"))
        .join(counts, "grp")
        .select(
            F.col("grp").alias(group_col),
            F.least(F.col("__n"), F.lit(k)).cast("long").alias(
                "n_distinct_kept"
            ),
            "kmv_hashes",
            est.alias("est_distinct"),
        )
    )


def kmv_union_estimate(
    sketches: DataFrame,
    hashes_col: str = "kmv_hashes",
    k: int = 128,
) -> DataFrame:
    """Merge persisted KMV sketches into ONE global distinct estimate:
    the union sketch is the k smallest distinct hashes across all
    input sketches — O(#sketches × k) rows through one explode +
    bounded rank, zero re-scan of the data, and still deterministic /
    SQL-replayable. Exact when the union holds < k hashes."""
    from pyspark.sql import Window

    pw = Window.partitionBy("__part").orderBy("h")
    pooled = (
        sketches.select(F.explode(hashes_col).alias("h"))
        .distinct()
        # partial k-smallest per partition first: the one global-order
        # window then sees ≤ partitions·k rows, not #sketches·k
        .withColumn("__part", F.spark_partition_id())
        .withColumn("__pr", F.row_number().over(pw))
        .where(F.col("__pr") <= k)
        .drop("__part", "__pr")
        .withColumn("__r", F.row_number().over(Window.orderBy("h")))
        .where(F.col("__r") <= k)
    )
    n = F.max("__r")
    kth = F.max(F.when(F.col("__r") == k, F.col("h")))
    return pooled.agg(
        F.when(n < k, n.cast("double"))
        .otherwise(
            F.round(F.lit(float(k - 1)) * F.lit(4294967296.0) / kth, 6)
        )
        .alias("est_distinct")
    )


def kmv_intersect_estimate(
    sketches: DataFrame,
    group_col: str,
    hashes_col: str = "kmv_hashes",
    k: int = 128,
) -> DataFrame:
    """Pairwise SET-OPERATION estimates from persisted KMV sketches
    (Beyer et al., SIGMOD'07 §4 — "distinct-value synopses"): for
    every unordered pair of groups, merge the two sketches into the
    union's k smallest hashes, read |A∪B| off the kth value exactly as
    :func:`kmv_union_estimate` does, then scale by ρ = (fraction of
    those k hashes present in BOTH inputs). Because the k smallest
    union hashes are a uniform sample of A∪B, E[ρ] = |A∩B| / |A∪B|,
    so ρ·est_union estimates the intersection — overlap audits
    between sources / snapshots / event families without ever
    rescanning data (the reference keeps no sketch state at all;
    Redshift would re-scan, reference proc_1_spark_emr_dag.py:38-66).

    Exactness contract: every hash is an integer, ρ's numerator and K
    are integer counts, and each estimate is ONE float expression over
    those exact integers (the :func:`kmv_distinct` pattern), so a SQL
    oracle replays the estimator bit-for-bit. When the merged pair
    kept < k hashes the sketch holds the ENTIRE hash union and both
    estimates are exact counts.

    Plan shape: group pairs are a broadcast self-join of the (tiny)
    group list; per-pair membership flags come from one hash-agg over
    ≤ 2k exploded rows per pair; the ranking window partitions by
    (group_a, group_b) with ≤ 2k input rows — never a data-sized or
    global window. O(#groups² · k) total, independent of data size.

    Output: (group_a < group_b, n_union_kept ≤ k,
    est_union double, est_intersection double) — both exact when
    n_union_kept < k.
    """
    from pyspark.sql import Window

    # materialize the sketch table ONCE (round-15): it is referenced
    # three times below (both pair-join legs + the group list), and a
    # caller passing a freshly BUILT sketch — kmv_distinct over a
    # corpus tokenize, the source_vocab_overlap shape — would
    # otherwise re-execute that corpus pass per reference (24 scans /
    # 37 Exchanges in one plan), defeating this function's whole
    # "never rescan data" contract. The frame is sketch-sized
    # (groups × k rows) by construction.
    sketches = sketches.localCheckpoint(eager=True)
    ex = sketches.select(
        F.col(group_col).alias("grp"), F.explode(hashes_col).alias("h")
    )
    grps = sketches.select(F.col(group_col).alias("grp")).distinct()
    pairs = (
        grps.select(F.col("grp").alias("__ga"))
        .join(
            grps.select(F.col("grp").alias("__gb")),
            F.col("__ga") < F.col("__gb"),
        )
    )
    ea = F.broadcast(pairs).join(ex, F.col("grp") == F.col("__ga")).select(
        "__ga", "__gb", "h",
        F.lit(1).alias("__in_a"), F.lit(0).alias("__in_b"),
    )
    eb = F.broadcast(pairs).join(ex, F.col("grp") == F.col("__gb")).select(
        "__ga", "__gb", "h",
        F.lit(0).alias("__in_a"), F.lit(1).alias("__in_b"),
    )
    flagged = (
        ea.unionByName(eb)
        .groupBy("__ga", "__gb", "h")
        .agg(
            F.max("__in_a").alias("__in_a"),
            F.max("__in_b").alias("__in_b"),
        )
    )
    # bounded window: ≤ 2k rows per (pair) partition by construction
    w = Window.partitionBy("__ga", "__gb").orderBy("h")
    kept = flagged.withColumn("__r", F.row_number().over(w)).where(
        F.col("__r") <= k
    )
    agg = kept.groupBy("__ga", "__gb").agg(
        F.max("__r").cast("long").alias("n_union_kept"),
        F.max(F.when(F.col("__r") == k, F.col("h"))).alias("__kth"),
        F.sum(
            F.when((F.col("__in_a") == 1) & (F.col("__in_b") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("__both"),
    )
    est_union = F.when(
        F.col("n_union_kept") < k, F.col("n_union_kept").cast("double")
    ).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(4294967296.0) / F.col("__kth"), 6)
    )
    est_inter = F.when(
        F.col("n_union_kept") < k, F.col("__both").cast("double")
    ).otherwise(
        F.round(
            F.col("__both").cast("double")
            / F.col("n_union_kept")
            * F.round(
                F.lit(float(k - 1)) * F.lit(4294967296.0) / F.col("__kth"), 6
            ),
            6,
        )
    )
    return agg.select(
        F.col("__ga").alias("group_a"),
        F.col("__gb").alias("group_b"),
        "n_union_kept",
        est_union.alias("est_union"),
        est_inter.alias("est_intersection"),
    )


def cm_sketch(
    df: DataFrame,
    key_col: str,
    width: int = 64,
    depth: int = 4,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan '05) — frequency
    estimation in fixed space, completing the mergeable-sketch family
    next to HLL (distinct, engine-internal) and KMV (distinct,
    replayable): CM answers "how often does x occur" over a stream too
    wide for an exact histogram, with one-sided (over-)estimates
    bounded by ε·N at confidence 1−δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.

    Deterministic md5 row hashes (``md5(d || ':' || key)`` first 8 hex
    → mod width — the family's portability trick), so the whole
    matrix is integer-exact and SQL-replayable. The STATE is the
    (depth × width) counter matrix as rows ``(row_idx, col_idx, n)``
    — merging sketches is elementwise addition (a groupBy-sum over
    the union), zero re-scan.

    Plan shape: one explode of each input row into ``depth`` counter
    updates (constant fan-out), one hash-agg on the
    (depth·width)-cardinality counter key. Nothing data-sized leaves
    the executors.
    """
    d_idx = F.explode(
        F.sequence(F.lit(0), F.lit(int(depth) - 1))
    ).alias("row_idx")
    rows = df.where(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("__k"), d_idx
    )
    col_idx = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("row_idx").cast("string"),
                        F.lit(":"),
                        F.col("__k"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(int(width)),
    )
    return (
        rows.select("row_idx", col_idx.alias("col_idx"))
        .groupBy("row_idx", "col_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-query a :func:`cm_sketch`: for each item, the estimate is
    the MIN over the depth rows of the addressed counters (absent
    counter = 0). Returns ``items`` keys + ``est_n``. The estimate
    never undercounts; ``est_n - true_n ≥ 0`` always (pinned by test).

    Shape: items explode ×depth, equi-join the (row, col) counter key
    against the broadcast-sized sketch, min-agg per item.
    """
    probes = items.select(F.col(key_col)).where(
        F.col(key_col).isNotNull()
    ).distinct().select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias(
            "row_idx"
        ),
    )
    col_idx = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("row_idx").cast("string"),
                        F.lit(":"),
                        F.col(key_col).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(int(width)),
    )
    addressed = probes.select(F.col(key_col), "row_idx", col_idx.alias("col_idx"))
    joined = addressed.join(
        F.broadcast(sketch), ["row_idx", "col_idx"], "left"
    ).select(
        F.col(key_col), F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    return joined.groupBy(key_col).agg(F.min("n").cast("long").alias("est_n"))


def qhist_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    precision_bits: int = 7,
) -> DataFrame:
    """Log-linear QUANTILE histogram sketch (the HdrHistogram index) —
    the fourth mergeable sketch next to HLL/KMV (distinct) and CM
    (frequency): per group, fixed-space bucket counts from which ANY
    quantile is answered with relative error ≤ 2^-precision_bits,
    without re-scanning data. State rows are ``(group…, bucket_id,
    n)``; MERGING sketches is a groupBy-sum over their union (zero
    re-scan), so per-batch/per-partition sketches compose into
    any-subset quantiles the way the distinct sketches do.

    Bucketing is INTEGER-EXACT and engine-portable (no float log):
    for a non-negative BIGINT v with bit length e+1,

    - ``v < 2^p``: bucket_id = v (small values exact);
    - else: bucket_id = (e − p)·2^p + (v >> (e − p)) — the top p+1
      bits, so each bucket spans a 2^-p relative range.

    Ids are contiguous and disjoint across exponents; bucket count is
    bounded by ~(64 − p)·2^p regardless of data size, so the
    per-group quantile window in :func:`qhist_quantiles` is
    sketch-sized, never data-sized. Negative values FAIL LOUDLY
    (offset or split by sign upstream); NULLs are dropped like every
    SQL aggregate.
    """
    p = int(precision_bits)
    if not 1 <= p <= 20:
        raise ValueError(f"precision_bits must be in [1, 20]: {p}")
    v = F.col(value_col).cast("long")
    guarded = F.when(
        v < 0,
        F.raise_error(
            F.concat(
                F.lit(
                    f"qhist_sketch: negative {value_col} unsupported "
                    "(offset or split by sign upstream): "
                ),
                v.cast("string"),
            )
        ).cast("long"),
    ).otherwise(v)
    x = (
        df.where(v.isNotNull())
        .select(*group_cols, guarded.alias("__v"))
        .withColumn("__e", (F.length(F.bin(F.col("__v"))) - 1).cast("int"))
        .withColumn(
            "__shift", F.greatest(F.lit(0), F.col("__e") - F.lit(p))
        )
    )
    bucket = F.when(F.col("__v") < F.lit(2**p), F.col("__v")).otherwise(
        F.col("__shift").cast("long") * F.lit(2**p)
        + F.expr("shiftright(__v, __shift)")
    )
    return (
        x.select(*group_cols, bucket.alias("bucket_id"))
        .groupBy(*group_cols, "bucket_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def qhist_bucket_low(bucket_id, precision_bits: int = 7):
    """Inclusive lower bound of a :func:`qhist_sketch` bucket —
    integer-exact decode: small ids are themselves; otherwise
    ``sub << shift`` for ``shift = id div 2^p − 1`` and
    ``sub = id − shift·2^p``."""
    p = int(precision_bits)
    b = bucket_id if not isinstance(bucket_id, str) else F.col(bucket_id)
    shift = (b / F.lit(2**p)).cast("long") - 1
    sub = b - shift * F.lit(2**p)
    return F.when(b < F.lit(2**p), b).otherwise(
        sub * F.pow(F.lit(2.0), shift.cast("double")).cast("long")
    )


def qhist_quantiles(
    sketch: DataFrame,
    group_cols: tuple[str, ...] = (),
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    precision_bits: int = 7,
) -> DataFrame:
    """Per-group nearest-rank quantile estimates from a
    :func:`qhist_sketch` (or a merged union of them): for each q, the
    LOWER BOUND of the first bucket whose cumulative count reaches
    ``ceil(q·N)`` — a deterministic, integer-exact answer with
    ``(true − est)/true ≤ 2^-precision_bits`` for values ≥ 2^p.
    Output columns ``q50``-style (q·100 rounded). The cumulative
    window partitions per group over bucket ids — sketch-sized by
    construction, never data-sized."""
    from pyspark.sql import Window

    gcols = list(group_cols)
    w = (
        Window.partitionBy(*gcols)
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*gcols)
    c = sketch.select(
        *gcols,
        "bucket_id",
        F.sum("n").over(w).alias("__cum"),
        F.sum("n").over(wt).alias("__total"),
    )
    aggs = []
    for q in qs:
        rank = F.ceil(F.lit(float(q)) * F.col("__total")).cast("long")
        aggs.append(
            F.min(
                F.when(F.col("__cum") >= rank, F.col("bucket_id"))
            ).alias(f"__b{round(q * 100)}")
        )
    out = c.groupBy(*gcols).agg(*aggs)
    for q in qs:
        tag = round(q * 100)
        out = out.withColumn(
            f"q{tag}",
            qhist_bucket_low(F.col(f"__b{tag}"), precision_bits).cast(
                "long"
            ),
        ).drop(f"__b{tag}")
    return out


class KmvLedger:
    """Incrementally-maintained per-group KMV distinct sketches — the
    STATEFUL form of :func:`kmv_distinct`: each batch contributes its
    own per-group sketch, which merges into the stored state by
    ``k-smallest-of-union`` — a pure column expression
    (``slice(array_sort(array_union(new, old)), 1, k)``), so the
    merge runs JVM-side on the touched groups only, never re-scanning
    history. The streaming/weekly-cron sibling of
    :class:`~.incremental_agg.IncrementalAgg` for distinct counting
    (reference proc_1_spark_emr_dag.py re-aggregates the full table
    weekly; this folds the week's batch in O(batch)).

    Two properties worth their weight at 100 TB:

    - LOSSLESS: the k smallest of (k-min(A) ∪ k-min(B)) ARE the k
      smallest of A∪B (any of the k smallest union hashes is within
      the k smallest of the set it came from), so after ANY batch
      decomposition the state is BIT-IDENTICAL to a full-table
      :func:`kmv_distinct` — the correctness gate compares arrays,
      not estimates, and the full-table SQL oracle applies verbatim.
    - IDEMPOTENT under re-delivery: the merge is a set union, so
      re-applying the same batch is a no-op — AT-LEAST-ONCE delivery
      suffices (no epoch bookkeeping), unlike additive partials
      where a re-run double-counts.

    State rides :class:`~.merge.MergeWriter` (a retention-1 keyed
    VersionedTable): an update rewrites only the batch's groups'
    buckets. Read back with :meth:`read`, which derives
    ``n_distinct_kept``/``est_distinct`` from the stored hashes with
    the exact :func:`kmv_distinct` expressions (exact below k).
    """

    def __init__(
        self,
        path: str,
        group_col: str,
        key_col: str,
        k: int = 128,
        n_buckets: int = 32,
    ):
        from .merge import MergeWriter

        self.group_col = group_col
        self.key_col = key_col
        self.k = k
        self.writer = MergeWriter(path, keys=[group_col], n_buckets=n_buckets)

    def update(self, spark: SparkSession, batch: DataFrame) -> None:
        """Fold one batch into the state: per-group batch sketch, then
        k-smallest-of-union against the stored arrays (touched groups
        only; new groups insert as-is)."""
        sk = kmv_distinct(batch, self.key_col, self.group_col, self.k).select(
            self.group_col, "kmv_hashes"
        )
        if self.writer.latest_version() > 0:
            state = self.writer.read(spark).select(
                F.col(self.group_col),
                F.col("kmv_hashes").alias("__old"),
            )
            merged = sk.join(state, self.group_col, "left").select(
                self.group_col,
                F.slice(
                    F.array_sort(
                        F.array_union(
                            F.col("kmv_hashes"),
                            F.coalesce(
                                F.col("__old"),
                                F.array().cast("array<long>"),
                            ),
                        )
                    ),
                    1,
                    self.k,
                ).alias("kmv_hashes"),
            )
        else:
            merged = sk
        self.writer.upsert(spark, merged)

    def read(self, spark: SparkSession) -> DataFrame:
        """Current sketches + estimates, in :func:`kmv_distinct`'s
        output shape (n_distinct_kept == array size in both regimes,
        exact when < k)."""
        size = F.size("kmv_hashes").cast("long")
        est = F.when(size < self.k, size.cast("double")).otherwise(
            F.round(
                F.lit(float(self.k - 1))
                * F.lit(4294967296.0)
                / F.try_element_at("kmv_hashes", F.lit(self.k)),
                6,
            )
        )
        return self.writer.read(spark).select(
            self.group_col,
            size.alias("n_distinct_kept"),
            "kmv_hashes",
            est.alias("est_distinct"),
        )


def kmv_trailing_distinct(
    sketches: DataFrame,
    x_col: str,
    hashes_col: str = "kmv_hashes",
    window: int = 7,
    k: int = 128,
) -> DataFrame:
    """Trailing-window distinct counts from per-period KMV sketches —
    the sketch-algebra answer to "distinct users over the trailing 7
    days, for every day": the exact version re-scans ``window`` days
    of raw data PER DAY (w× read amplification, a self-join the size
    of the fact table); this merges each day's ALREADY-BUILT sketch
    into every frame it belongs to — O(days · window · k) rows total,
    independent of the fact size, and LOSSLESS w.r.t. the sketch
    definition (the k smallest of the frame's merged sketches ARE the
    k smallest of the frame's true hash union, so estimates are EXACT
    below k and SQL-replayable above it).

    ``x_col`` is an INTEGER period index (epoch-day, epoch-hour —
    integer arithmetic keeps the frame expansion cross-engine exact);
    a period with no sketch row contributes the empty set, and only
    periods PRESENT in the input appear in the output. The per-frame
    rank window partitions by the frame's period — input ≤ window·k
    rows per partition by construction.

    Output: (x_col, n_distinct_kept ≤ k, est_distinct — exact when
    the frame kept < k hashes).
    """
    from pyspark.sql import Window

    contrib = sketches.select(
        F.explode(
            F.sequence(
                F.col(x_col).cast("long"),
                F.col(x_col).cast("long") + F.lit(window - 1),
            )
        ).alias("__x"),
        F.col(hashes_col).alias("__hs"),
    )
    present = sketches.select(
        F.col(x_col).cast("long").alias("__x")
    ).distinct()
    pool = (
        contrib.join(present, "__x")
        .select("__x", F.explode("__hs").alias("h"))
        .distinct()
    )
    w = Window.partitionBy("__x").orderBy("h")
    kept = pool.withColumn("__r", F.row_number().over(w)).where(
        F.col("__r") <= k
    )
    agg = kept.groupBy("__x").agg(
        F.max("__r").cast("long").alias("n_distinct_kept"),
        F.max(F.when(F.col("__r") == k, F.col("h"))).alias("__kth"),
    )
    est = F.when(
        F.col("n_distinct_kept") < k, F.col("n_distinct_kept").cast("double")
    ).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(4294967296.0) / F.col("__kth"), 6)
    )
    return agg.select(
        F.col("__x").alias(x_col),
        "n_distinct_kept",
        est.alias("est_distinct"),
    )
