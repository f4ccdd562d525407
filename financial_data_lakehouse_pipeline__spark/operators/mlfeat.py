"""Feature-engineering operators for model-training pipelines:
leave-one-out target encoding, exact equal-frequency binning, the
feature-hashing trick, PMI co-occurrence scores, and rolling-origin
(walk-forward) cross-validation splits.

All deterministic by construction: aggregates use the exact-decimal
money/sum contract (functions.dsum), hashing is the md5-prefix-integer
idiom shared with sampling/dedup, bin edges are integer rank arithmetic
over distinct values (no interpolation), and the only inherently-
floating output (PMI's log) is rounded per the corpus convention.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.functions import dsum
from financial_data_lakehouse_pipeline__spark.materialize import barrier


def target_encode_loo(
    df: DataFrame,
    key_cols: Sequence[str],
    target_col: str,
    prior_weight: float = 0.0,
    out: str = "te",
    broadcast_stats: bool = True,
) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing:

        te_i = (sum(y in group) - y_i + w * global_mean)
               / (count(group) - 1 + w)

    The standard high-cardinality-categorical encoder that avoids
    self-leakage (each row's own target is excluded from its own
    feature). With ``prior_weight`` w > 0, singleton groups shrink to
    the global mean instead of dividing by zero; at w = 0 singletons
    get NULL.

    Plan: one groupBy over the keys (partial aggregation map-side) +
    one 1-row global aggregate, both joined back onto the fact rows —
    broadcast by default (per-key stats are |distinct keys| rows; pass
    ``broadcast_stats=False`` when key cardinality rivals the fact
    table, letting AQE pick the join). The fact side never shuffles in
    the broadcast regime. Group sums are exact decimal (order-
    independent), so te is bit-deterministic: one subtraction chain +
    one division per row, identical on any engine.
    """
    keys = list(key_cols)
    y = F.col(target_col).cast("double")
    stats = df.groupBy(*keys).agg(
        dsum(F.col(target_col)).alias("__gsum"),
        F.count(target_col).cast("bigint").alias("__gcnt"),
    )
    glob = df.agg(
        (dsum(F.col(target_col)) / F.count(target_col)).alias("__gmean")
    )
    if broadcast_stats:
        stats = F.broadcast(stats)
    # left join: NULL-key rows pass through with te=NULL instead of
    # silently vanishing from the training set
    j = df.join(stats, keys, "left").crossJoin(F.broadcast(glob))
    den = F.col("__gcnt").cast("double") - F.lit(1.0) + F.lit(float(prior_weight))
    num = (
        F.col("__gsum")
        - y
        + F.lit(float(prior_weight)) * F.col("__gmean")
    )
    te = F.when(den > 0, num / den).otherwise(F.lit(None).cast("double"))
    return j.withColumn(out, te).drop("__gsum", "__gcnt", "__gmean")


def equal_frequency_bins(
    df: DataFrame,
    col: str,
    n_bins: int,
    out: str = "bin",
) -> DataFrame:
    """Exact equal-frequency (quantile) binning: bin_i = floor(rows
    strictly below this value * n_bins / total rows). Equal values
    always share a bin (the assignment is a function of the value), and
    bin populations are as even as ties allow — the discretizer for
    tree features, calibration buckets, and monotone WoE encodings.

    Plan: value-level histogram (one groupBy on the value), then a
    DISTRIBUTED exact prefix sum over the distinct values — range
    repartition by value, per-range running counts, plus a P-row
    cumulative offset table (P = shuffle partitions) broadcast back —
    then integer bin arithmetic and a join back onto the rows. No
    single-partition sort at ANY value cardinality: until round 11 this
    op funnelled the whole histogram through one WindowExec task behind
    a 1e6-distinct guard, which the sf1 rehearsal tripped on 1.48M
    distinct order totals; the range-partitioned prefix sum removed
    both the bottleneck and the guard. The result is boundary-invariant
    (offset + within-range rank never depends on where sampling put the
    range splits), and all arithmetic is exact integers — no
    interpolation, no float edges — so bins are bit-identical
    cross-engine. NULLs are excluded from the distribution (they have
    no rank) and come back with a NULL bin via the left join — never
    silently dropped, never skewing __below/__total.
    """
    from pyspark.sql import Window

    v = F.col(col)
    vc = (
        df.filter(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    total = vc.agg(F.sum("__c").alias("__total"))
    from financial_data_lakehouse_pipeline__spark.session import (
        shuffle_partition_count,
    )

    n_ranges = shuffle_partition_count(df.sparkSession)
    # stage 1: range-partition the histogram by value; each range's
    # running count is a per-partition window (P parallel tasks, each
    # over ~|distinct|/P rows). __pid is NONDETERMINISTIC (the range
    # partitioner samples with an RDD-id-dependent seed), and vcr feeds
    # TWO subtrees (the offsets aggregate and the ranked window) —
    # without pinning, their agreement on range boundaries rests on
    # exchange reuse, an optimizer behavior, not a semantic contract.
    # A barrier materializes the (value, count, pid) histogram once so
    # both consumers read the SAME assignment; the cost is one
    # |distinct|-row materialization, metadata-scale vs the input.
    vcr = barrier(
        vc.repartitionByRange(n_ranges, F.col("__v"))
        .withColumn("__pid", F.spark_partition_id()),
        eager=True,
    )
    w_in = Window.partitionBy("__pid").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # stage 2: the cross-range offsets — one row per range, a
    # metadata-scale single-partition window (P rows, never data-scale)
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        vcr.groupBy("__pid")
        .agg(F.sum("__c").alias("__pc"))
        .select(
            "__pid",
            F.coalesce(F.sum("__pc").over(w_off), F.lit(0)).alias("__off"),
        )
    )
    ranked = (
        vcr.withColumn(
            "__within", F.coalesce(F.sum("__c").over(w_in), F.lit(0))
        )
        .join(F.broadcast(offsets), "__pid")
        .select(
            "__v", (F.col("__off") + F.col("__within")).alias("__below")
        )
        .crossJoin(F.broadcast(total))
    )
    # (below * n) DIV total: true integer floor division on both
    # engines (Spark `div`, DuckDB `//`) — never a double quotient
    # whose floor could misround, never a half-away CAST.
    binned = ranked.select(
        "__v",
        F.expr(f"CAST((__below * {int(n_bins)}) DIV __total AS INT)").alias(out),
    )
    # join strategy left to Catalyst/AQE: the value->bin map broadcasts
    # while it is small and degrades to a shuffle join at extreme value
    # cardinality instead of OOMing a forced broadcast
    return df.join(binned, df[col] == F.col("__v"), "left").drop("__v")


def feature_hash(
    df: DataFrame,
    id_col: str,
    tokens_col: Column,
    n_features: int = 64,
    salt: str = "feat",
) -> DataFrame:
    """The hashing trick: map each token to a fixed-size feature index
    via md5(salt:token) % n_features and count collisions-and-all — the
    bounded-vocabulary text featurizer (no vocab pass, no dictionary to
    ship, memory O(n_features) per row downstream).

    Output: (id, feature, weight) — the sparse COO representation.
    Plan: explode → project the hash (pure codegen string ops) → one
    groupBy (id, feature) with map-side partial counts. The md5-prefix
    integer idiom matches sampling.hash_bucket, so any SQL engine
    reproduces the indices exactly.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens_col).alias("__t")
    ).filter(F.length("__t") > 0)
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col("__t")))
    feat = (
        F.conv(F.substring(h, 1, 7), 16, 10).cast("bigint")
        % F.lit(int(n_features))
    ).cast("int")
    return (
        tok.select(F.col(id_col), feat.alias("feature"))
        .groupBy(id_col, "feature")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


def pmi_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """Pointwise mutual information over item pairs co-occurring in the
    same group: pmi(a,b) = ln(n_ab * N / (n_a * n_b)), N = group count
    — the association statistic under the item-independence null
    (collocations, co-purchase affinity, tag similarity), positive when
    a and b co-occur more than chance.

    Same support-pruned pair generation as the basket-rules operator
    (distinct (group, item), self-join a < b — fan-out bounded by group
    size squared, never cartesian), different statistic. All counts are
    exact integers and the ratio is one IEEE division chain; only the
    final ln is rounded (6 dp) per the corpus float convention.
    """
    gi = df.select(
        F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
    ).distinct()
    n_groups = gi.agg(F.countDistinct("__g").alias("__n"))
    item_counts = gi.groupBy("__i").agg(F.count(F.lit(1)).alias("__ci"))
    a = gi.select(F.col("__g"), F.col("__i").alias("item_a"))
    b = gi.select(F.col("__g").alias("__g2"), F.col("__i").alias("item_b"))
    pairs = (
        a.join(b, (a.__g == F.col("__g2")) & (F.col("item_a") < F.col("item_b")))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_count)
    )
    ca = item_counts.select(F.col("__i").alias("item_a"), F.col("__ci").alias("__ca"))
    cb = item_counts.select(F.col("__i").alias("item_b"), F.col("__ci").alias("__cb"))
    out = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_groups))
    )
    ratio = (
        F.col("pair_count").cast("double")
        * F.col("__n").cast("double")
        / (F.col("__ca").cast("double") * F.col("__cb").cast("double"))
    )
    return out.select(
        "item_a",
        "item_b",
        F.col("pair_count").cast("bigint").alias("pair_count"),
        F.round(F.log(ratio), 6).alias("pmi"),
    )


def walk_forward_splits(
    df: DataFrame,
    time_col: str,
    folds: Sequence[tuple[int, str, str]],
) -> DataFrame:
    """Rolling-origin (walk-forward) cross-validation splits for time
    series: each fold k = (fold_id, train_end, test_end) trains on
    everything before ``train_end`` and tests on [train_end, test_end)
    — the only leak-free CV scheme for temporal data (every test row is
    strictly in the training data's future).

    Output: the input rows fanned out per qualifying fold with
    ``fold`` and ``role`` ('train'/'test') columns. Plan: the fold spec
    is a tiny literal table broadcast into a range-condition join —
    fan-out is at most len(folds) per row, the scan streams once, and
    nothing shuffles. Timestamps compare exactly; no row appears in a
    fold it postdates.
    """
    spark = df.sparkSession
    fold_rows = [
        (int(k), str(tr), str(te)) for k, tr, te in folds
    ]
    fdf = spark.createDataFrame(
        fold_rows, "fold int, __train_end string, __test_end string"
    ).select(
        "fold",
        F.col("__train_end").cast("timestamp").alias("__train_end"),
        F.col("__test_end").cast("timestamp").alias("__test_end"),
    )
    t = F.col(time_col)
    j = df.join(F.broadcast(fdf), t < F.col("__test_end"))
    role = F.when(t < F.col("__train_end"), F.lit("train")).otherwise(
        F.lit("test")
    )
    return j.withColumn("role", role).drop("__train_end", "__test_end")
