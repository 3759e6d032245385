"""Scale-safe global ranking — the replacement for `Window.orderBy(...)`
with no partitionBy (which Spark executes as a SINGLE-partition window:
one task holds every row — fine at |V|=10^3, an OOM at 10^9).

Two-stage renumber (the classic zipWithIndex decomposition, kept in
DataFrame land so Arrow/codegen still apply):
  1. range-repartition by the order columns (partition p's rows all sort
     before partition p+1's rows),
  2. per-partition local row_number (window PARTITIONED by
     spark_partition_id — parallel, no global exchange),
  3. exclusive prefix-sum of per-partition totals (≤ #partitions rows —
     driver metadata, not data), applied as a literal per-partition-id
     lookup: no join, no broadcast job.
The per-partition frame of step 2 feeds both the totals and the output, so
it is a localCheckpoint that the totals job fills: computed once, and
nothing is left in the cache manager.

Used by: components.renumber_dense_by_min_id, plp.compact_partition,
GraphDF.index_edges / compact_node_ids (VERDICT r1 "What's wrong" #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ranged_runs(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None,
    runs: dict,
    dtype: str,
) -> DataFrame:
    """The two stages every rank and prefix sum here shares. `runs` maps an
    output column to an aggregate; each output is the aggregate's running
    value within the row's range partition plus its totals over all
    partitions before it, cast to `dtype`."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    cols = [F.col(c) for c in order_cols]
    w = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .select("*", *[agg.over(w).alias(c) for c, agg in runs.items()])
        .localCheckpoint(eager=False)
    )
    totals = {
        r["_pid"]: r
        for r in local.groupBy("_pid")
        .agg(*[agg.alias(c) for c, agg in runs.items()])
        .collect()
    }  # ≤ num_partitions rows: partition METADATA, ordered here by pid
    out = local
    for c in runs:
        offs, acc = [], 0
        for pid in range(max(totals, default=-1) + 1):
            offs.append(acc)
            if pid in totals:
                acc += totals[pid][c] or 0
        lookup = F.array(*map(F.lit, offs)).cast(f"array<{dtype}>")
        out = out.withColumn(
            c, (F.element_at(lookup, F.col("_pid") + 1) + F.col(c)).cast(dtype)
        )
    return out.drop("_pid")


def global_row_numbers(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append `out_col`: 0-based global row number in `order_cols` order
    (ties between equal keys broken arbitrarily-but-consistently within a
    partition; pass a unique key set for deterministic output — every
    caller here does)."""
    runs = {"_rn": F.count("*")}  # running count over a ROWS frame = row number
    return (
        _ranged_runs(df, order_cols, num_partitions, runs, "long")
        .withColumn(out_col, F.col("_rn") - F.lit(1))
        .drop("_rn")
    )


def prefix_sums(
    df: DataFrame,
    order_col: str,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append exclusive/inclusive running sums of `value_col` in `order_col`
    order ([lo, hi) intervals — e.g. inverse-CDF sampling tables), with the
    same two-stage shape as global_row_numbers. No single-partition window."""
    runs = {hi_col: F.sum(value_col)}
    return _ranged_runs(
        df, [order_col], num_partitions, runs, "long"
    ).withColumn(lo_col, (F.col(hi_col) - F.col(value_col)).cast("long"))


def prefix_sums_multi(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    out_prefix: str = "cum_",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the INCLUSIVE running sum of each `value_cols` entry in
    `order_cols` order — the scale-safe `SUM(v) OVER (ORDER BY ...)` for
    several measures in ONE two-stage pass (used by the ROC / precision-
    recall threshold sweeps, whose input is the O(Σd²) candidate-pair set —
    far too big for a single-partition window)."""
    runs = {out_prefix + vc: F.sum(vc) for vc in value_cols}
    return _ranged_runs(df, order_cols, num_partitions, runs, "double")


def dense_rank_of_distinct(
    df: DataFrame,
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """(value_col, out_col): 0-based dense rank of the DISTINCT values of
    `value_col` — the scale-safe `dense_rank() OVER (ORDER BY value)`."""
    distinct = df.select(value_col).distinct()
    return global_row_numbers(
        distinct, [value_col], out_col=out_col, num_partitions=num_partitions
    )


def per_key_row_numbers(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based row number WITHIN each `key_cols` group in `order_cols`
    order — the scale-safe `row_number() OVER (PARTITION BY key ORDER BY
    ...)`. A per-key window sorts deg(key) rows in ONE task (a power-law
    hub's 10^8 neighbors); here the rank comes from the two-stage GLOBAL
    rank over (keys, order) minus a per-key base, so no task ever sorts
    more than a range partition (VERDICT r4 #6).

    `order_cols` entries may be column names or Column expressions
    (e.g. `-F.col("d")` for descending — all callers order numerics).
    Pass a tie-breaking unique suffix for deterministic output."""
    work = df
    names = []
    for i, oc in enumerate(order_cols):
        if isinstance(oc, str):
            names.append(oc)
        else:
            nm = f"_ord{i}"
            work = work.withColumn(nm, oc)
            names.append(nm)
    gp = global_row_numbers(
        work, key_cols + names, out_col="_gp", num_partitions=num_partitions
    )
    base = gp.groupBy(*key_cols).agg(F.min("_gp").alias("_base"))
    out = gp.join(base, key_cols).withColumn(
        out_col, (F.col("_gp") - F.col("_base") + F.lit(1)).cast("long")
    )
    drop = ["_gp", "_base"] + [n for n in names if n.startswith("_ord")]
    return out.drop(*drop)


def per_key_competition_ranks(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    descending: bool = True,
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based competition rank (`rank() OVER (PARTITION BY key ORDER BY
    value)`: ties share the MIN rank) — scale-safe: the per-key row
    number's minimum over each (key, value) tie group. Intra-tie order is
    arbitrary; the group-min makes the rank deterministic regardless."""
    order = [
        (-F.col(v) if descending else F.col(v)) for v in value_cols
    ]
    rn = per_key_row_numbers(
        df, key_cols, order, out_col="_rn", num_partitions=num_partitions
    )
    grp = rn.groupBy(*(key_cols + value_cols)).agg(
        F.min("_rn").alias("_cr")
    )
    return (
        rn.join(grp, key_cols + value_cols)
        .withColumn(out_col, F.col("_cr").cast("long"))
        .drop("_rn", "_cr")
    )
