"""Incremental, idempotent table writes.

The reference appends blindly (`mode("append")`, to_silver.py:135) —
replays double-count (SURVEY.md §2.9).  The rebuild's default is
merge-style: only rows whose merge keys are absent from the target are
appended.  With delta-spark installed this uses a real ``MERGE``
(atomic); on plain parquet it is anti-join + append (idempotent w.r.t.
content, not concurrent writers — documented).

Zone layout mirrors the reference's bronze/silver/gold buckets but with
REAL date partitioning (``partitionBy("ingest_date")``) instead of
path-string convention (to_brz.py:13-14), so Catalyst prunes partitions
from date predicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # pragma: no cover - delta not present in this environment
    from delta.tables import DeltaTable

    _HAVE_DELTA = True
except ImportError:
    _HAVE_DELTA = False

DEFAULT_FORMAT = "delta" if _HAVE_DELTA else "parquet"


def table_exists(spark: SparkSession, path: str) -> bool:
    """Public-API existence probe (the reference reaches into py4j
    internals, audit_logger.py:24 — S11)."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return bool(fs.exists(jvm_path))


def read_table(spark: SparkSession, path: str,
               fmt: str = DEFAULT_FORMAT,
               merge_schema: bool = False) -> DataFrame | None:
    """``merge_schema=True`` reconciles files written under evolved
    schemas (columns added over time null-fill on old files) — the
    drift tolerance SURVEY §1.3 calls out as a real requirement
    (the reference's dual-type Facilities column)."""
    if not table_exists(spark, path):
        return None
    reader = spark.read.format(fmt)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.load(path)


def write_overwrite(df: DataFrame, path: str, fmt: str = DEFAULT_FORMAT,
                    partition_by: tuple[str, ...] = (),
                    dynamic: bool = False) -> None:
    """Overwrite the table at ``path``.  ``dynamic=True`` replaces ONLY
    the partitions present in ``df``; the mode is a writer option, never
    session conf, so concurrent writers on other driver threads keep
    their own mode."""
    w = df.write.format(fmt).mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def merge_append(df: DataFrame, path: str, merge_keys: list[str],
                 fmt: str = DEFAULT_FORMAT,
                 partition_by: tuple[str, ...] = ()) -> int:
    """Idempotent append: insert only rows whose ``merge_keys`` are not
    already present.  Returns the number of rows appended."""
    spark = df.sparkSession
    existing = read_table(spark, path, fmt)
    if existing is None:
        # single evaluation: count + write read the same materialized
        # blocks (a nondeterministic source otherwise double-executes
        # and can report a count differing from the written rows)
        df = df.localCheckpoint(eager=True)
        write_overwrite(df, path, fmt, partition_by)
        return df.count()
    if _HAVE_DELTA and fmt == "delta":  # stub-covered: tests/test_delta_wiring.py
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in merge_keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(df.alias("s"), cond)
            .whenNotMatchedInsertAll()
            .execute()
        )
        return -1  # delta does not report insert counts synchronously
    # Null-safe key equality (<=>): rows with null key components must
    # still match their replay twins, else every rerun re-appends them.
    seen, cond = _keys_and_cond(existing, merge_keys)
    # No broadcast hint: the existing-keys side grows with the table;
    # AQE picks broadcast when (and only when) it actually fits.
    # localCheckpoint: the anti-join executes ONCE — count() and the
    # write both read the materialized blocks instead of re-running the
    # scan+join (and a nondeterministic source can't diverge between
    # the counted and written rows).
    novel = df.join(seen, on=cond, how="left_anti").localCheckpoint(eager=True)
    n = novel.count()
    if n:
        w = novel.write.format(fmt).mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)
    return n


class ZoneCatalog:
    """bronze/silver/gold/audit zone registry over a base directory —
    the rebuild's equivalent of the reference's MinIO buckets
    (s3a://bronze/... etc.); works identically over s3a:// or file://."""

    def __init__(self, base: str, fmt: str = DEFAULT_FORMAT):
        self.base = base.rstrip("/")
        self.fmt = fmt

    def path(self, zone: str, table: str) -> str:
        return os.path.join(self.base, zone, table)

    def read(self, spark: SparkSession, zone: str, table: str) -> DataFrame | None:
        return read_table(spark, self.path(zone, table), self.fmt)

    def overwrite(self, df: DataFrame, zone: str, table: str,
                  partition_by: tuple[str, ...] = ()) -> None:
        write_overwrite(df, self.path(zone, table), self.fmt, partition_by)

    def overwrite_partitions(self, df: DataFrame, zone: str, table: str,
                             partition_by: tuple[str, ...]) -> None:
        """Dynamic partition overwrite: replace ONLY the partitions
        present in ``df``, keeping other dates' history — the correct
        verb for date-partitioned ingest zones (a static overwrite
        would wipe every previous ingest_date)."""
        write_overwrite(df, self.path(zone, table), self.fmt, partition_by,
                        dynamic=True)

    def merge(self, df: DataFrame, zone: str, table: str,
              merge_keys: list[str],
              partition_by: tuple[str, ...] = ()) -> int:
        return merge_append(
            df, self.path(zone, table), merge_keys, self.fmt, partition_by
        )


# The character set Spark/Hive percent-escape in partition DIRECTORY
# names (ExternalCatalogUtils.escapePathName / Hive FileUtils): without
# this, a reconstructed "k=v" path for a value containing ':' '/' '%'
# etc. (e.g. a timestamp) never matches the on-disk dir and a stale
# emptied partition silently survives the cleanup below.
_PATH_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\\x7f{[]^') | frozenset(
    chr(i) for i in range(0x20)
)


def _escape_path_name(s: str) -> str:
    if not any(c in _PATH_ESCAPE_CHARS for c in s):
        return s
    return "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE_CHARS else c for c in s
    )


def _keys_and_cond(df: DataFrame, merge_keys: list[str]):
    """Distinct key frame (renamed __k_*) + null-safe equality condition
    against it — shared by merge_append and upsert so the <=> semantics
    can't drift between them."""
    keys = df.select(
        *[F.col(k).alias(f"__k_{k}") for k in merge_keys]
    ).distinct()
    cond = None
    for k in merge_keys:
        c = F.col(k).eqNullSafe(F.col(f"__k_{k}"))
        cond = c if cond is None else (cond & c)
    return keys, cond


def compact_table(spark: SparkSession, path: str, fmt: str = DEFAULT_FORMAT,
                  target_rows_per_file: int = 1_000_000,
                  partition_by: tuple[str, ...] = ()) -> int:
    """Small-file compaction (the engine's OPTIMIZE): rewrite the table
    with files sized for scan efficiency.  Streaming/incremental
    appends accumulate small files; thousands of tiny parquet files
    turn a 100 TB scan into a metadata storm.  Returns the new file
    count target.  (With delta-spark installed, prefer OPTIMIZE /
    ZORDER; this is the format-agnostic fallback.)
    """
    df = spark.read.format(fmt).load(path)
    if partition_by:
        # repartition(n, *partition_by) would hash ONLY the partition
        # columns — every Hive partition collapses to a single task and
        # a single file regardless of target_rows_per_file.  Instead:
        # census each partition value (metadata-sized), derive its file
        # count, and salt rows into that many slices; range-partition
        # on (partition cols, salt) so each slice is its own task.
        census = df.groupBy(*partition_by).agg(F.count("*").alias("__cnt"))
        files = census.withColumn(
            "__files",
            F.expr(
                f"CAST((__cnt + {target_rows_per_file} - 1)"
                f" DIV {target_rows_per_file} AS INT)"
            ),
        ).drop("__cnt")
        n = max(
            1,
            sum(r["__files"] for r in files.collect()),
        )
        salted = df.join(F.broadcast(files), on=list(partition_by)).withColumn(
            "__salt",
            F.pmod(F.xxhash64(*df.columns), F.col("__files")).cast("int"),
        )
        compacted = salted.repartitionByRange(
            n, *partition_by, "__salt"
        ).drop("__files", "__salt")
    else:
        n = max(1, -(-df.count() // target_rows_per_file))  # ceiling:
        # files stay AT OR BELOW the target size, never up to 2x it
        compacted = df.repartition(n)
    # localCheckpoint TRUNCATES lineage (cache() does not): if a cached
    # block were lost mid-write, the overwrite job would recompute from
    # the source files it is deleting.  A rewrite-to-temp + swap would be
    # the object-store-safe variant; checkpointing suffices where rename
    # is atomic (local/HDFS).
    compacted = compacted.localCheckpoint(eager=True)
    w = compacted.write.format(fmt).mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
    return n


def incremental_rollup(delta: DataFrame, path: str, group_keys: list[str],
                       measures: dict[str, tuple[str, str]],
                       partition_key: str,
                       fmt: str = DEFAULT_FORMAT) -> None:
    """Maintain a pre-aggregated rollup table incrementally — the
    materialized-view pattern: fold a batch of new fact rows into an
    existing aggregate WITHOUT recomputing history.

    ``measures`` maps output column -> (combinable agg, input column),
    agg in {"sum", "count"} — the algebraic aggregates whose partials
    merge by addition (avg is derived downstream as sum/count; holistic
    aggs like median can't be maintained this way).

    Scale contract: the delta is aggregated first (small), only
    partitions of the rollup containing touched ``partition_key``
    values are read back, and the write uses dynamic partition
    overwrite, so cost is O(delta + touched partitions) — history never
    rewrites.  ``partition_key`` must be one of ``group_keys``.
    """
    if partition_key not in group_keys:
        raise ValueError("partition_key must be a group key")
    spark = delta.sparkSession

    def partials(df: DataFrame) -> DataFrame:
        aggs = []
        for out, (how, col) in measures.items():
            if how == "sum":
                aggs.append(F.sum(col).alias(out))
            elif how == "count":
                aggs.append(F.count(col).alias(out))
            else:
                raise ValueError(f"non-combinable aggregate: {how}")
        return df.groupBy(*group_keys).agg(*aggs)

    new_partials = partials(delta)
    existing = read_table(spark, path, fmt)
    if existing is None:
        write_overwrite(new_partials, path, fmt, (partition_key,))
        return

    touched = new_partials.select(partition_key).distinct()
    # Partition-pruned read-back: the IN-filter on the partition column
    # prunes directories, so untouched history is never scanned.  A NULL
    # partition key needs an explicit isNull arm — isin() never matches
    # null, which would silently drop that partition's history.
    keys = [r[0] for r in touched.collect()]
    non_null = [k for k in keys if k is not None]
    read_cond = (
        F.col(partition_key).isin(non_null) if non_null else F.lit(False)
    )
    if len(non_null) != len(keys):
        read_cond = read_cond | F.col(partition_key).isNull()
    relevant = existing.filter(read_cond)
    merged = partials_union_combine(
        relevant, new_partials, group_keys, measures
    # materialize BEFORE the overwrite: `merged` lazily reads the files
    # the dynamic overwrite is about to delete, so a task retry after
    # partial commit would re-scan deleted data (same
    # overwrite-with-read-self rule as upsert/compact_table).
    ).localCheckpoint(eager=True)

    # Dynamic mode replaces ONLY the partitions present in `merged`.
    write_overwrite(merged, path, fmt, (partition_key,), dynamic=True)


def partials_union_combine(a: DataFrame, b: DataFrame, group_keys: list[str],
                           measures: dict[str, tuple[str, str]]) -> DataFrame:
    """Combine two partial-aggregate frames: union then merge each
    measure by its algebra — sums and counts merge by addition,
    max/min by max/min.  (avg is derived downstream as sum/count;
    holistic aggs like median have no mergeable state.)"""
    _merge = {"sum": F.sum, "count": F.sum, "max": F.max, "min": F.min}
    aggs = []
    for out, (how, _col) in measures.items():
        if how not in _merge:
            raise ValueError(f"non-combinable aggregate: {how}")
        aggs.append(_merge[how](out).alias(out))
    return a.unionByName(b).groupBy(*group_keys).agg(*aggs)


def upsert(df: DataFrame, path: str, merge_keys: list[str],
           fmt: str = DEFAULT_FORMAT,
           partition_by: tuple[str, ...] = ()) -> None:
    """SCD1 upsert: new rows replace existing rows with the same
    ``merge_keys`` (whenMatchedUpdateAll + whenNotMatchedInsertAll
    semantics).  On Delta this is a true transactional MERGE; on plain
    parquet it rewrites as anti-join(existing) ∪ new — with
    ``partition_by`` set, dynamic partition overwrite limits the
    rewrite to partitions the batch touches (same scale contract as
    :func:`incremental_rollup`)."""
    spark = df.sparkSession
    # Intra-batch duplicate keys would BOTH survive the rewrite (and
    # Delta MERGE would error on multiple source matches) — reject
    # loudly so parquet and Delta behave identically.
    dup = (
        df.groupBy(*merge_keys).agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key = {k: dup[0][k] for k in merge_keys}
        raise ValueError(f"upsert batch has duplicate merge key(s): {key}")
    existing = read_table(spark, path, fmt)
    if existing is None:
        write_overwrite(df, path, fmt, partition_by)
        return
    if _HAVE_DELTA and fmt == "delta":  # stub-covered: tests/test_delta_wiring.py
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in merge_keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    keys, cond = _keys_and_cond(df, merge_keys)
    survivors = existing.join(keys, on=cond, how="left_anti")
    merged = survivors.unionByName(df)
    if partition_by:
        # Touched partitions = partitions the batch writes into PLUS the
        # partitions matched old rows currently live in — when a key's
        # partition value changes, the OLD partition must be rewritten
        # too or its stale row survives on disk (SCD1 would then hold
        # two rows for one key).
        new_parts = df.select(*partition_by).distinct()
        old_parts = existing.join(keys, on=cond, how="left_semi").select(
            *partition_by
        ).distinct()
        touched = new_parts.unionByName(old_parts).distinct().select(
            *[F.col(k).alias(f"__p_{k}") for k in partition_by]
        )
        _overwrite_touched_partitions(
            spark, path, fmt, partition_by, merged, touched
        )
    else:
        # full rewrite via staging dir would be needed for true atomicity
        # on plain files; Spark's overwrite-with-read-self is unsafe, so
        # materialize first.
        merged.localCheckpoint(eager=True).write.format(fmt).mode(
            "overwrite"
        ).save(path)


def _overwrite_touched_partitions(spark: SparkSession, path: str, fmt: str,
                                  partition_by: tuple[str, ...],
                                  dataset: DataFrame,
                                  touched: DataFrame) -> None:
    """Rewrite only the ``touched`` partitions of ``path`` with the rows
    of ``dataset`` that fall in them (shared by upsert and forget_keys —
    the same rewrite, touched-set computation differs per caller).

    ``touched`` carries one ``__p_{k}`` column per partition key.
    Handles the two dynamic-overwrite footguns: NULL partition values
    (null-safe semi join) and partitions whose last row disappeared
    (dynamic overwrite only rewrites partitions PRESENT in the output,
    so emptied ones are deleted explicitly, Hive-escaped)."""
    # Null-safe semi join: a NULL partition value must still count
    # as touched (plain column equality would drop those rows).
    tcond = None
    for k in partition_by:
        c = F.col(k).eqNullSafe(F.col(f"__p_{k}"))
        tcond = c if tcond is None else (tcond & c)
    dataset_touched = dataset.join(
        F.broadcast(touched), on=tcond, how="left_semi"
    ).localCheckpoint(eager=True)  # evaluated twice below
    # materialize the touched-partition list BEFORE the overwrite —
    # its plan reads the files the overwrite is about to delete
    touched_rows = touched.collect()
    write_overwrite(dataset_touched, path, fmt, partition_by, dynamic=True)
    # Dynamic overwrite only rewrites partitions PRESENT in the
    # output: a touched partition that ended up EMPTY (its only row
    # moved away or was deleted) would keep its stale files.  Delete
    # those directories explicitly (local/HDFS-mounted paths; Delta
    # MERGE handles this natively on clusters).
    import os as _os
    import shutil as _shutil

    remaining = {
        tuple(r) for r in dataset_touched.select(
            *[F.col(k) for k in partition_by]
        ).distinct().collect()
    }
    for t in touched_rows:
        vals = tuple(t[f"__p_{k}"] for k in partition_by)
        if vals in remaining:
            continue
        seg = "/".join(
            f"{k}={'__HIVE_DEFAULT_PARTITION__' if v is None else _escape_path_name(str(v))}"
            for k, v in zip(partition_by, vals)
        )
        _shutil.rmtree(_os.path.join(path, seg), ignore_errors=True)
    # invalidate cached file listings — readers created before this
    # rewrite would otherwise chase deleted part files
    spark.catalog.refreshByPath(path)


def forget_keys(spark: SparkSession, path: str, keys_df: DataFrame,
                merge_keys: list[str], fmt: str = DEFAULT_FORMAT,
                partition_by: tuple[str, ...] = ()) -> int:
    """Right-to-be-forgotten erasure: delete every row of the table at
    ``path`` whose ``merge_keys`` appear in ``keys_df``.

    Returns the number of rows erased (the audit figure an erasure
    request must report).  On Delta this is a transactional MERGE
    whenMatchedDelete; on plain parquet it rewrites partitions — with
    ``partition_by`` set, ONLY the partitions that actually hold
    matching rows are rewritten (the erasure-request key set is tiny,
    so the matched-partition probe is a broadcast semi join, and a
    100 TB table pays for a handful of partition rewrites, not a full
    pass).  Partitions left empty by the deletion are removed from
    disk, not left as stale directories.
    """
    existing = read_table(spark, path, fmt)
    if existing is None:
        return 0
    keys, cond = _keys_and_cond(
        keys_df.select(*merge_keys), merge_keys
    )
    # ONE probe pass over key + partition columns only (column-pruned
    # scan): matched count and the touched-partition set come from the
    # same job.  Everything after is partition-pruned — the rewrite
    # never re-scans partitions the erase set doesn't touch.
    probe_cols = list(partition_by) if partition_by else []
    matched = existing.join(F.broadcast(keys), on=cond, how="left_semi")
    if probe_cols:
        # positional access for the count: a partition column literally
        # named "count" would otherwise shadow the aggregate in Row
        # name lookup and corrupt the audit count (or skip the erase).
        probe = matched.groupBy(*probe_cols).agg(
            F.count("*").alias("__fk_cnt")
        ).collect()
        n_matched = sum(r[len(probe_cols)] for r in probe)
        touched_vals = [tuple(r[i] for i in range(len(probe_cols))) for r in probe]
    else:
        n_matched = matched.count()
        touched_vals = []
    if n_matched == 0:
        return 0
    if _HAVE_DELTA and fmt == "delta":  # stub-covered: tests/test_delta_wiring.py
        mcond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in merge_keys)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(keys_df.select(*merge_keys).distinct().alias("s"), mcond)
            .whenMatchedDelete()
            .execute()
        )
        return n_matched
    if partition_by:
        # Literal partition predicate (null-safe) from the collected
        # touched set — Catalyst prunes the survivor scan to exactly
        # the partitions being rewritten.
        pred = None
        for vals in touched_vals:
            c = None
            for k, v in zip(partition_by, vals):
                e = F.col(k).eqNullSafe(F.lit(v))
                c = e if c is None else (c & e)
            pred = c if pred is None else (pred | c)
        survivors = existing.filter(pred).join(
            F.broadcast(keys), on=cond, how="left_anti"
        )
        touched = spark.createDataFrame(
            touched_vals,
            existing.select(*partition_by).schema,
        ).select(*[F.col(k).alias(f"__p_{k}") for k in partition_by])
        _overwrite_touched_partitions(
            spark, path, fmt, partition_by, survivors, touched
        )
    else:
        survivors = existing.join(F.broadcast(keys), on=cond, how="left_anti")
        survivors.localCheckpoint(eager=True).write.format(fmt).mode(
            "overwrite"
        ).save(path)
        spark.catalog.refreshByPath(path)
    return n_matched


def apply_cdc_changes(base: DataFrame, changes: DataFrame,
                      keys: list[str], seq_col: str, op_col: str = "op",
                      delete_op: str = "D") -> DataFrame:
    """APPLY CHANGES semantics (the Delta CDC / DLT apply_changes
    contract) as a batch operator: fold a keyed change stream into a
    base snapshot.

    Per key, the change with the highest ``seq_col`` wins; a winning
    ``delete_op`` removes the key, any other op upserts the change
    row's payload.  Base rows whose key never appears in ``changes``
    pass through untouched.

    Schema contract (enforced): ``base``'s columns must equal
    ``changes``'s columns minus ``op_col`` — INCLUDING ``seq_col``
    (the base snapshot carries each row's last-applied sequence, which
    is what makes re-application idempotent).  A mismatch raises
    ValueError up front rather than an opaque AnalysisException from
    ``unionByName``.

    Determinism contract: ties on ``seq_col`` within a key make the
    winner nondeterministic (row_number over equal keys).  Callers with
    tie-prone sequences must pre-build a total-order column, e.g.
    ``F.struct("seq", "change_file", "change_offset")``, and pass that
    as ``seq_col``.

    Plan shape: ONE window (shuffle on keys) to pick each key's last
    change + ONE left-anti join of base against the change keys
    (shuffle on the same keys — co-partitioned with the window
    exchange, so AQE reuses the partitioning).  No iteration, no
    driver state; at 100 TB both exchanges are on the merge key,
    exactly the shape Delta's MERGE executes.
    """
    from pyspark.sql import Window

    expected = [c for c in changes.columns if c != op_col]
    if sorted(base.columns) != sorted(expected):
        raise ValueError(
            "apply_cdc_changes: base schema must be changes minus "
            f"{op_col!r} (incl. {seq_col!r}); base has "
            f"{sorted(base.columns)}, expected {sorted(expected)}"
        )

    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    last = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # Null-safe: a NULL op is "not the delete op" and must upsert (the
    # documented contract); plain != would null out and silently DROP
    # the key — neither upserted nor passed through.
    surviving = last.filter(
        ~F.col(op_col).eqNullSafe(delete_op)
    ).drop(op_col)
    # Anti join against the windowed per-key rows (already one row per
    # key, already shuffled on the keys) — a distinct() over the raw
    # change stream would add a second full scan + exchange for nothing:
    # left_anti ignores right-side duplicates anyway.
    untouched = base.join(last.select(*keys), on=keys, how="left_anti")
    return untouched.unionByName(surviving)
