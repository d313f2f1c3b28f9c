"""Warehouse: the engine's persisted-relation layer (SURVEY.md §2.1 S6-S8).

The reference persists to a SQLite table with an AUTOINCREMENT surrogate key
and TEXT-typed measure columns (housing.db DDL; load_save_sql.ipynb cells
5-10). That design has two flaws the engine fixes:

1. **Type erasure** — SQLite TEXT affinity loses the numeric types the
   cleaning pipeline established. The warehouse stores parquet: schema
   travels with the data.
2. **No idempotence** — re-running the append cell duplicates rows
   (load_save_sql.ipynb:228) and the apt_id question was never solved
   (0-ToDo.md:54 "How to keep track of apartment id across DB tables").
   The warehouse derives a *deterministic natural key* (sha2 of the business
   key) so `upsert` is idempotent, and works across tables and runs —
   unlike ``monotonically_increasing_id``, which is partition-relative.

JDBC (the literal SQLite path) is supported when a driver jar is present;
``jdbc_available`` gates it so environments without the jar fall back to
parquet transparently.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _staged_swap_write(
    df: DataFrame, path: str, block_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = None,
) -> None:
    """Write ``df`` to a staging sibling of ``path`` and swap via rename.

    The write pins ``parquet.block.size`` (the row-group size) explicitly:
    row groups are the unit of reader parallelism, so a maintenance
    rewrite must never emit a file whose whole payload is one row group
    (assert_rowgroup_layout — the r14 single-row-group finding). With
    ``partition_col`` the rewrite keeps a ``partitionBy(col)`` layout with
    one file per partition directory: repartition and sort on the column,
    one task per value.

    Safe overwrite-of-input: the plan may still be reading the files under
    ``path`` while the staging write runs (nothing is deleted), and the
    visible table flips in a single directory rename. A failed write
    removes its staging sibling and leaves ``path`` as it was; a crash
    between the two renames leaves the data recoverable under the
    ``.old-*`` sibling (unlike rmtree-then-move, which has a window where
    the table is simply gone). Staging lives next to the target so both
    renames stay on one filesystem.
    """
    token = uuid.uuid4().hex[:8]
    staging = f"{path}.staging-{token}"
    w = df.write
    if partition_col is not None:
        w = (df.repartition(partition_col).sortWithinPartitions(partition_col)
             .write.partitionBy(partition_col))
    try:
        w.mode("overwrite").option("parquet.block.size", int(block_bytes)).parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    swap_directory(staging, path)


def concurrent_writes(*thunks) -> None:
    """Run INDEPENDENT write actions concurrently from a small thread pool
    (r17, optimization guide §2.6 overlap independent jobs): an artifact
    build that writes N frames sequentially pays the SUM of the jobs while
    each job's scan/commit tail leaves most cores idle; submitted together
    the wall approaches the MAX. Each thunk is a zero-arg callable running
    one ``.write`` action to its OWN destination (separate directories ⇒
    separate committers — never point two thunks at one path). Spark job
    submission is thread-safe, and shared persisted sub-plans fill ONCE
    under per-partition block locks (a second thread blocks on the lock
    instead of recomputing — the concurrent_checkpoints argument). The
    first thunk failure propagates after all threads finish, so no write
    is abandoned mid-commit by a sibling's error."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) <= 1:
        for t in thunks:
            t()
        return
    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in futures:
            f.result()


def with_surrogate_key(df: DataFrame, business_cols: list[str], key_col: str = "row_key") -> DataFrame:
    """Stable surrogate key: sha2 over the business columns.

    Replaces SQLite AUTOINCREMENT (S8): deterministic across runs and
    executors, which autoincrement/monotonically_increasing_id are not.
    """
    return df.withColumn(
        key_col, F.sha2(F.concat_ws("", *[F.col(c).cast("string") for c in business_cols]), 256)
    )


class ParquetWarehouse:
    """Directory-of-parquet-tables warehouse with append/overwrite/upsert."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self._path(table))

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_cols: list[str] | None = None) -> None:
        w = df.write.mode(mode)
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self._path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self._path(table))

    def append(self, df: DataFrame, table: str) -> None:
        """The reference's if_exists='append' — intentionally non-idempotent."""
        df.write.mode("append").parquet(self._path(table))

    def upsert(self, df: DataFrame, table: str, key_cols: list[str]) -> None:
        """Idempotent MERGE: keep target rows whose key is absent from the
        update set (left-anti join), union the updates, rewrite.

        Plain-Spark equivalent of Delta/Iceberg ``MERGE INTO`` (SURVEY §2.1
        S13); at scale this is one shuffle on the key columns. The rewrite is
        staged: merged output lands in a staging directory next to the table
        and becomes visible via a directory rename, so the files being read
        are never deleted mid-plan and no cache residency is required (the
        old persist()+count() path could recompute over deleted files if
        cached partitions were evicted under memory pressure).
        """
        if not self.exists(table):
            self.write(df, table, mode="overwrite")
            return
        target = self.read(table)
        kept = target.join(df.select(*key_cols).distinct(), key_cols, "leftanti")
        merged = df.unionByName(kept)
        _staged_swap_write(merged, self._path(table))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows hash-partitioned into ``num_buckets``
    files by ``bucket_cols`` at write time.

    Two tables bucketed identically on their join key sort-merge-join with
    NO shuffle exchange on either side — the write pre-pays the exchange
    once, every subsequent join reads it for free (asserted in
    tests/test_scale_techniques.py). This is the 100 TB answer for a
    fact⋈fact join that repeats across pipelines.

    The repartition below pins ONE file per bucket (writer parallelism ×
    buckets files otherwise): Spark only trusts per-bucket sort order — and
    skips the sort-merge sort — when each bucket is a single file, and a
    multi-file bucket layout pays tiny-file scan overhead on every read.
    repartition's hash is the same Murmur3 the bucketing spec uses, so each
    output task holds exactly one bucket. At 100 TB, raise num_buckets so a
    bucket file stays ~1 GB rather than splitting buckets across files.
    """
    w = (
        df.repartition(num_buckets, *[df[c] for c in bucket_cols])
        .write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def jdbc_available(spark: SparkSession, driver_class: str = "org.sqlite.JDBC") -> bool:
    """True when a JDBC driver class is loadable in the JVM."""
    try:
        spark._jvm.java.lang.Class.forName(driver_class)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """``spark.read.jdbc`` wrapper (S6). Catalyst pushes projections and
    filters into the generated SQL, the optimization the reference performed
    by hand with its explicit column list (load_save_sql.ipynb:57-60)."""
    return spark.read.format("jdbc").option("url", url).option("dbtable", table).options(**options).load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """``df.write.jdbc`` append sink (S7)."""
    df.write.format("jdbc").option("url", url).option("dbtable", table).options(**options).mode(mode).save()


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    effective_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: versioned history maintenance.

    The reference's storage layer overwrites or duplicates on every run
    (load_save_sql.ipynb:228 append; no id tracking, 0-ToDo.md:54) — daily
    scrapes of the *same* apartment lose their history. SCD2 is the
    warehouse answer: each business key carries versions with
    ``[valid_from, valid_to)`` ranges and an ``is_current`` flag.

    Updates are full-snapshot rows and are deduplicated on ``key_cols``
    before merging (a snapshot carrying the same key twice would otherwise
    multiply matching current rows through the closing-key join); duplicate
    keys with *conflicting* tracked values have no well-defined winner, so
    callers should not rely on which survives.

    Semantics per update row (full-snapshot updates):
    - key exists and a tracked column changed → close the open version
      (``valid_to = effective_ts``) and insert a new open version;
    - key exists, nothing changed → untouched (idempotent re-merge);
    - new key → insert as a new open version.

    Plan shape: the change set is one equi-join of the *open* slice with
    updates (broadcast when the snapshot is dim-sized, SMJ otherwise) +
    two unions — no window, no driver loop. Closed history rows pass
    through untouched, so at 100 TB the cost is the open-slice join, not
    the archive scan. Delta/Iceberg ``MERGE INTO`` expresses the same
    thing; this is the plain-parquet form.
    """
    changed_flag = None
    for c in tracked_cols:
        ne = ~(F.col(f"cur.{c}").eqNullSafe(F.col(f"upd.{c}")))
        changed_flag = ne if changed_flag is None else (changed_flag | ne)

    updates = updates.dropDuplicates(key_cols)
    open_slice = current.filter(F.col(is_current)).alias("cur")
    # null-safe match detection: a literal marker column, so updates may
    # carry NULLs in tracked columns without breaking existence checks
    upd_marked = updates.withColumn("__upd_marker", F.lit(True)).alias("upd")
    joined = open_slice.join(upd_marked, key_cols, "full_outer")
    matched = F.col(f"cur.{valid_from}").isNotNull() & F.col("__upd_marker").isNotNull()

    eff = F.lit(effective_ts).cast(dict(current.dtypes)[valid_from])

    closing_keys = joined.filter(matched & changed_flag).select(*key_cols).distinct()
    inserts_changed = (
        joined.filter(matched & changed_flag)
        .select(*key_cols, *[F.col(f"upd.{c}").alias(c) for c in tracked_cols])
    )
    inserts_new = (
        joined.filter(F.col(f"cur.{valid_from}").isNull())
        .select(*key_cols, *[F.col(f"upd.{c}").alias(c) for c in tracked_cols])
    )
    inserts = (
        inserts_changed.unionByName(inserts_new)
        .withColumn(valid_from, eff)
        .withColumn(valid_to, F.lit(None).cast(dict(current.dtypes)[valid_from]))
        .withColumn(is_current, F.lit(True))
    )

    out_cols = current.columns
    kept = current.join(F.broadcast(closing_keys.withColumn("__close", F.lit(True))), key_cols, "left")
    kept = kept.select(
        *[
            F.when(F.col("__close") & F.col(is_current), _closed_value(c, eff, valid_to, is_current))
            .otherwise(F.col(c))
            .alias(c)
            if c in (valid_to, is_current)
            else F.col(c)
            for c in out_cols
        ]
    )
    return kept.unionByName(inserts.select(*out_cols))


def _closed_value(col_name: str, eff, valid_to: str, is_current: str):
    return eff if col_name == valid_to else F.lit(False)


def compact_table(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    block_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(rows / target_rows_per_file)`` files.

    Streaming/incremental sinks accrete a file per micro-batch per
    partition (the daily-CSV-per-city layout of the reference has the same
    disease, trulia_scrape.py:182-188); at scale the resulting
    metadata/open-file overhead dominates scan cost. Maintenance rewrite =
    read → repartition to the target file count → staged write next to the
    target + directory-rename swap (same discipline as
    ``_staged_swap_write``: no window where the table is deleted but not
    yet replaced). Returns the new file count. On a real deployment this is
    Delta/Iceberg OPTIMIZE; this is the plain-parquet form, sized by rows
    because testdata rows are fixed-width-ish — a byte-based target would
    use the input size.
    """
    import math

    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    _staged_swap_write(
        df.repartition(n_files), path.rstrip("/"), block_bytes=block_bytes
    )
    assert_rowgroup_layout(path.rstrip("/"), block_bytes=block_bytes)
    return n_files


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    partition_col: str,
    block_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Partition-PRESERVING small-files compaction: rewrite a
    partitionBy(col) parquet directory back to one file per partition
    directory, keeping the layout — and therefore the listing-time
    pruning contract — intact.

    Appends under partitionBy accrete one file per batch per touched
    partition directory (q_ann_index_append: each growth batch adds a
    file to every touched cell) — after B batches a probe opens B files
    per probed cell, and the file-listing/open cost was measured at ~10×
    the serving cost when the count ran away (the r15 one-file-per-cell
    finding). ``compact_table`` cannot fix this: it reads the partition
    column back as data and rewrites FLAT, destroying the directory
    layout PartitionFilters binds against. This rewrite repartitions ON
    the partition column (one task per value → one file per directory,
    the q_ann_index_serve write discipline), pins the row-group size,
    and swaps through ``_staged_swap_write``: a single-process
    maintenance pass (``swap_directory``), not a concurrent-reader
    protocol; Delta/Iceberg OPTIMIZE with a partition clause is the form
    that gives readers snapshot isolation. Returns the partition-dir count.
    """
    path = path.rstrip("/")
    _staged_swap_write(spark.read.parquet(path), path, block_bytes, partition_col)
    assert_rowgroup_layout(path, block_bytes=block_bytes)
    return len(
        [d for d in os.listdir(path) if d.startswith(f"{partition_col}=")]
    )


def swap_directory(staging: str, path: str) -> None:
    """Two-rename directory swap with rollback — the staged-swap
    discipline shared by ``_staged_swap_write`` (upsert and both
    compactions) and the index refit (a fully built
    replacement tree under ``staging`` replaces ``path``). Not atomic:
    there is a window between the renames where ``path`` does not exist
    (single-process maintenance contract); a crash between them leaves
    the data recoverable under the ``.old-*`` sibling."""
    token = uuid.uuid4().hex[:8]
    old = f"{path}.old-{token}"
    os.rename(path, old)
    try:
        os.rename(staging, path)
    except OSError:
        os.rename(old, path)  # roll back: restore the original table
        shutil.rmtree(staging, ignore_errors=True)
        raise
    shutil.rmtree(old, ignore_errors=True)


def assert_rowgroup_layout(
    path: str, block_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Row-group layout contract: no large parquet file may be a
    single-row-group monolith.

    The round-14 decade run found the anti-pattern the hard way: a
    multi-hundred-MB file written as ONE row group collapses every
    reader to a single task — Spark splits parquet work by row group, so
    the file's writer controls every future reader's parallelism (the
    sf10 exact fit ran one core for 70+ minutes until the relayout;
    341→77.9 s after). The bench routes its inputs through
    bench.ingest_layout; this check makes the ENGINE's writers unable to
    reproduce the disease: every file larger than 1.5× ``block_bytes``
    must contain more than one row group. Returns
    {files, large_files, max_rows_per_group}; raises ValueError naming
    offenders otherwise."""
    import pyarrow.parquet as pq

    files = [
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith("_")
    ]
    bad, large, max_rows = [], 0, 0
    for f in files:
        size = os.path.getsize(f)
        if size <= 1.5 * block_bytes:
            continue
        large += 1
        md = pq.ParquetFile(f).metadata
        max_rows = max(
            max_rows,
            max(md.row_group(i).num_rows for i in range(md.num_row_groups)),
        )
        if md.num_row_groups < 2:
            bad.append((f, size, md.num_row_groups))
    if bad:
        raise ValueError(
            "single-row-group monolith(s) — the writer controls the "
            f"reader's parallelism (SCALE.md r14): {bad}"
        )
    return {
        "files": len(files),
        "large_files": large,
        "max_rows_per_group": max_rows,
    }


def write_training_shards(
    df: DataFrame,
    path: str,
    split_col: str = "split",
    shard_col: str | None = None,
    num_shards: int = 16,
    max_records_per_file: int = 100_000,
) -> dict[str, int]:
    """Write a corpus as training shards: ``path/split=train/shard=03/…`` —
    the layout a data-loader fleet reads (each worker claims whole shard
    directories; file counts bounded by ``maxRecordsPerFile``).

    Sharding is a deterministic content hash (never ``rand()``): the same
    corpus produces the same shard assignment on every run, engine and
    cluster size, so resumed training jobs see identical shard contents.
    If ``shard_col`` is None the first column is hashed. Directory
    partitioning on (split, shard) gives partition pruning for free to any
    reader that filters either. Returns rows written per split.

    Scale shape: one write job, no pre-shuffle — Spark's
    ``partitionBy`` routes rows to directories within each task;
    ``maxRecordsPerFile`` caps file sizes without a repartition. For
    strictly-one-file-per-shard layouts add
    ``df.repartition(split_col, SHARD)`` first and accept that shuffle.
    """
    key = shard_col or df.columns[0]
    shard = F.pmod(F.abs(F.xxhash64(F.col(key).cast("string"))), F.lit(num_shards))
    out = df.withColumn("shard", shard)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(split_col, "shard")
        .parquet(path)
    )
    spark = df.sparkSession
    written = spark.read.parquet(path)
    return {
        r[split_col]: r["n"]
        for r in written.groupBy(split_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }


def zorder_key(x, y, bits: int = 10):
    """Morton/Z-order value of two non-negative integer columns — pure
    bit-shift arithmetic, codegen-only, identical in any engine.

    Interleaves the low ``bits`` of x (even positions) and y (odd
    positions): nearby z-values are nearby in BOTH dimensions, so sorting a
    table by z clusters it for min/max data skipping on x AND y
    simultaneously — a linear sort clusters only its leading column. This
    is Delta/Iceberg OPTIMIZE ZORDER's construction (public docs; the
    Morton curve itself is Morton 1966).
    """
    x = (F.col(x) if isinstance(x, str) else x).cast("long")
    y = (F.col(y) if isinstance(y, str) else y).cast("long")
    z = F.lit(0).cast("long")
    for j in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(x, j).bitwiseAND(F.lit(1)), 2 * j))
            .bitwiseOR(F.shiftleft(F.shiftright(y, j).bitwiseAND(F.lit(1)), 2 * j + 1))
        )
    return z


def sql_zorder_key(x: str, y: str, bits: int = 10) -> str:
    """The identical Morton construction as ANSI/DuckDB SQL."""
    terms = []
    for j in range(bits):
        terms.append(f"((({x} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({y} >> {j}) & 1) << {2 * j + 1})")
    return " | ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    x: str,
    y: str,
    bits: int = 10,
    n_files: int = 8,
) -> None:
    """Z-order-clustered parquet rewrite: range-partition by the Morton key,
    sort within partitions, drop the key from storage.

    Each output file then covers a compact z-range ⇒ a compact rectangle in
    (x, y) space ⇒ parquet footer min/max stats prune files for predicates
    on EITHER column. The maintenance-rewrite twin of compact_table; at
    100 TB this is the scheduled OPTIMIZE job, not a per-query step.
    """
    (
        df.withColumn("__z", zorder_key(x, y, bits))
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
