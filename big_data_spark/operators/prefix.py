"""Distributed global prefix sum + greedy sequence packing.

A global running total (``SUM(x) OVER (ORDER BY k)``) is the classic
Spark scale trap: an ORDER BY window with no PARTITION BY funnels the
whole table through ONE task. The distributed form is the textbook
two-phase prefix sum:

1. range-partition on the order key (so partition p holds a
   contiguous key range, all keys in p < all keys in p+1);
2. within-partition running sum — an ordinary partitioned window,
   fully parallel;
3. per-partition totals to the driver (ONE row per partition —
   bounded metadata), cumulative offsets computed there and
   broadcast-joined back.

Every row's prefix = its partition's offset + its within-partition
running sum. Identical to the single-task window, at full cluster
parallelism; the only serial work is an O(#partitions) scan on the
driver.

On top sits ``pack_sequences`` — the training-data operator that
needs a global prefix: pack documents into fixed-token-budget
training examples. The policy is OFFSET BINNING: documents are laid
end-to-end in a deterministic order and example ``i`` takes the
documents whose starting offset falls in
``[i * capacity, (i+1) * capacity)``. Deterministic, one-pass,
embarrassingly parallel — and exactly expressible in ANSI SQL
(``FLOOR((cumsum - x) / capacity)``), so the oracle checks it row
for row. A document straddling a boundary overflows its example by
at most one document (the standard greedy-fill trade); a document
larger than the capacity gets an example to itself, with later bin
ids skipped (ids are offsets, not dense ranks — ``dense_ids`` them
if a consumer needs contiguity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def running_total(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    out_col: str = "running",
    n_partitions: int | None = None,
) -> DataFrame:
    """``df`` plus ``out_col`` = SUM(value_col) over rows up to and
    including this one in ``order_by`` order — the distributed global
    running sum. ``order_by`` must be a TOTAL order (unique key
    combinations); ties make the running value undefined between the
    tied rows, exactly as in SQL.
    """
    from big_data_spark.lineage import truncate_lineage

    # MATERIALIZE the range partitioning before branching: the range
    # partitioner SAMPLES its boundaries per execution, so without
    # this the totals job and the final join's stream job can split
    # the key space differently — offsets computed for one layout
    # applied to another, silently wrong prefixes (caught by the
    # sf0.1 A/B; invisible at toy sizes where the samples agree).
    ordered = truncate_lineage(
        df.repartitionByRange(
            *([n_partitions] if n_partitions else []), *order_by
        ).withColumn("_pid", F.spark_partition_id()),
        eager=True,
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = ordered.withColumn("_within", F.sum(value_col).over(w))
    totals = sorted(
        within.groupBy("_pid")
        .agg(F.sum(value_col).alias("_tot"))
        .collect(),
        key=lambda r: r["_pid"],
    )
    # Exclusive prefix of the per-partition totals, folded on the
    # driver (ONE row per partition — bounded metadata). The offset
    # column carries the window sum's own type: bigint for integral
    # measures, double for floats, widened decimal for decimals — a
    # fixed bigint would reject float measures.
    import decimal

    sum_type = dict(within.dtypes)["_within"]
    zero = (
        decimal.Decimal(0)
        if sum_type.startswith("decimal")
        else (0.0 if sum_type in ("double", "float") else 0)
    )
    offsets, acc = [], zero
    for r in totals:
        offsets.append((r["_pid"], acc))
        if r["_tot"] is not None:
            acc += r["_tot"]
    spark = df.sparkSession
    # ONE slice: the list form of createDataFrame parallelizes into
    # defaultParallelism slices, so the broadcast build below would
    # collect a 32-task job (thousands of tasks on a real cluster)
    # for one row per partition — bounded driver metadata that fits
    # one task by construction (same conversion machinery,
    # it just runs in the single task instead of eagerly).
    off = spark.createDataFrame(
        spark.sparkContext.parallelize(offsets, 1),
        f"_pid int, _off {sum_type}",
    )
    return (
        within.join(F.broadcast(off), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_within")))
        .drop("_pid", "_within", "_off")
    )


def pack_sequences(
    df: DataFrame,
    size_col: str,
    capacity: int,
    order_by: list[str],
    id_col: str | None = None,
) -> DataFrame:
    """Pack rows into fixed-budget examples by offset binning (module
    docstring): returns one row per example —
    (bin_id, n_docs, total_<size_col>, ids) with ``ids`` in pack
    order. ``id_col`` defaults to the first ``order_by`` column."""
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    id_col = id_col or order_by[0]
    pref = running_total(df, order_by, size_col, out_col="_run")
    # Integer `div`, not FLOOR(x / cap): bigint/int division goes
    # through a double, whose rounding can cross a bin boundary once
    # cumulative sums exceed ~2^53 — the exact path costs nothing.
    binned = pref.withColumn(
        "bin_id",
        F.expr(f"(_run - `{size_col}`) div {int(capacity)}"),
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(size_col).alias(f"total_{size_col}"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("_run", id_col))),
                lambda s: s[id_col],
            ).alias("ids"),
        )
        .orderBy("bin_id")
    )
