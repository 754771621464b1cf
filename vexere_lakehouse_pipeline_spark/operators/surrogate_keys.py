"""Surrogate-key assignment.

The reference computes keys with ``row_number()`` over a GLOBAL window
(`convert/to_silver.py:130-131`) — an ``Exchange SinglePartition`` that
serializes the entire table through one task (SURVEY.md §7.4).  Two
replacements:

- :func:`assign_keys_distributed` (default): per-partition local ranks
  + a driver-side prefix-sum of partition counts (bytes of metadata),
  so no global shuffle ever happens.  Like the reference's, the
  assignment depends on physical row order — fine for append-only
  surrogate keys whose only contract is uniqueness + continuation
  above ``base``.
- :func:`assign_keys_ordered`: deterministic keys from an explicit
  business ordering.  Still windowed per partition-group, shuffling
  once on the high-order key — use when replayability matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pin_partition_counts(df: DataFrame) -> tuple[DataFrame, dict[int, int]]:
    """Pin ``df`` with a ``_pid`` column and count its rows per
    partition: the driver-side state :func:`key_pinned` offsets from,
    and (summed) the frame's row count, so a caller that keys a batch
    needs no separate ``count()`` job."""
    # localCheckpoint pins the row->partition assignment: the counts
    # job and the keyed output otherwise re-evaluate the (possibly
    # nondeterministic) upstream twice, which could both double the
    # work and make the per-partition offsets WRONG (key collisions).
    with_pid = df.withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)
    counts = {
        r["_pid"]: r["cnt"]
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    return with_pid, counts


def key_pinned(with_pid: DataFrame, counts: dict[int, int], key_col: str,
               base: int = 0, order: list[Column] | None = None) -> DataFrame:
    """Key a frame pinned by :func:`pin_partition_counts`: rows get
    ``base + 1 .. base + n`` — partition p's rows follow those of every
    lower partition, ordered within p by ``order`` (physical order by
    default)."""
    offsets, acc = {}, base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:  # empty input: no rows to key
        return with_pid.withColumn(key_col, F.lit(base).cast("long")).drop(
            "_pid"
        )
    # Array-literal + element_at is O(1) per row; a create_map literal
    # is a per-row LINEAR scan (GetMapValue over ArrayBasedMapData) —
    # measurable tax at thousands of partitions.  pids are dense
    # 0..P-1; gaps (empty partitions) hold 0 and are never read.
    offset_arr = F.array(
        *[F.lit(offsets.get(i, 0)) for i in range(max(offsets) + 1)]
    )
    w = Window.partitionBy("_pid").orderBy(
        *(order or [F.monotonically_increasing_id()])
    )
    return (
        with_pid.withColumn("_local", F.row_number().over(w))
        .withColumn(
            key_col,
            (
                F.element_at(offset_arr, F.col("_pid") + 1) + F.col("_local")
            ).cast("long"),
        )
        .drop("_pid", "_local")
    )


def assign_keys_distributed(df: DataFrame, key_col: str, base: int = 0) -> DataFrame:
    """Unique sequential-ish long keys > ``base`` without a global shuffle."""
    return key_pinned(*pin_partition_counts(df), key_col, base)


def assign_keys_range_ordered(df: DataFrame, key_col: str,
                              order_cols: list[str],
                              base: int = 0) -> DataFrame:
    """Deterministic keys in global ``order_cols`` order WITHOUT a
    single-partition exchange: range-partition on the order key, sort
    within partitions, then the same per-partition rank + driver
    prefix-sum as :func:`assign_keys_distributed`.

    Key property: the assignment equals :func:`assign_keys_ordered`'s
    global row_number REGARDLESS of where the range sampler places
    partition boundaries — partition p holds a contiguous sorted range,
    and the prefix sum walks partitions in range order, so every row's
    key is (global sorted position + base).  Deterministic first
    assignment (the advisor's requirement) at distributed cost (the
    scale requirement).  ``order_cols`` must be a unique key of ``df``
    for full determinism — with ties, tied rows may swap ids run-to-run
    (they stay within one partition, so keys remain unique).
    """
    arranged = (
        df.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)
    )
    with_pid, counts = pin_partition_counts(arranged)
    return key_pinned(with_pid, counts, key_col, base,
                      order=[F.col(c) for c in order_cols])


def assign_keys_ordered(df: DataFrame, key_col: str, order_cols: list[str],
                        base: int = 0) -> DataFrame:
    """Deterministic keys: row_number over an explicit total order.

    Compatibility mode for the reference's semantics; the global window
    is the documented cost (single partition) — callers at scale should
    prefer :func:`assign_keys_distributed`.
    """
    w = Window.orderBy(*order_cols)
    return df.withColumn(
        key_col, (F.row_number().over(w) + F.lit(base)).cast("long")
    )


def max_existing_key(existing: DataFrame | None, key_col: str) -> int:
    """Continuation watermark: max key in the target table, 0 if absent
    (`convert/to_silver.py:104-108` semantics, minus the bare except)."""
    if existing is None:
        return 0
    row = existing.agg(F.max(F.col(key_col).cast("long")).alias("m")).first()
    return int(row["m"] or 0)
