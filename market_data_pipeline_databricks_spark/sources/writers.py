"""Table sinks: overwrite, append, keyed upsert, erase and compaction
(SURVEY §2.1 S5-S9).

The reference materializes through Delta Lake: ``MERGE INTO`` for bronze
(reference 01_ingest_bronze.py:93-107), full overwrite for silver/gold
(02_transform_silver.py:136-137, 03_aggregate_gold.py:82-95), append for
the DQ log (04_data_quality_checks.py:147-156). Here every table is
hive-partitioned parquet, and the MERGE is :func:`upsert_by_key`: anti-join
the affected partitions' rows against the batch on the key, union the
batch, and rewrite only those partitions (not the whole table — at
100 TB a full rewrite per daily batch is unacceptable).

One partition rule for every rewrite (upsert, erase, compaction): a
partition value IS its directory name. The existing table is read with
each partition column pinned to ``StringType`` — the unescaped directory
name, NULL for ``__HIVE_DEFAULT_PARTITION__`` — and the incoming batch's
partition columns are cast to string, the cast the parquet writer names
directories with. Rows written back therefore land in the directory
they came from, whatever partition type inference would make of the name
(``007`` is not 7, ``1.0E16`` is not ``1e+16``, ``true`` is not ``True``).

Local-FS note: rewrites stage the new partitions to a temp dir and then
swap, because lazily re-reading a parquet dir while overwriting it
corrupts the scan. On a cluster with an object store use
:func:`overwrite_partitions_dynamic` (``partitionOverwriteMode=dynamic``),
which scopes the overwrite to partitions present in the incoming frame.
"""

from __future__ import annotations

import functools
import math
import operator
import shutil
import uuid
from pathlib import Path
from urllib.parse import unquote

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType


def _table_path(warehouse_dir: str, table: str) -> Path:
    return Path(warehouse_dir) / table


def overwrite_table(
    df: DataFrame, warehouse_dir: str, table: str, partition_cols: list[str] | None = None
) -> None:
    """Deterministic full rewrite (silver/gold pattern, S7/S8)."""
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(_table_path(warehouse_dir, table)))


def append_table(
    df: DataFrame, warehouse_dir: str, table: str, partition_cols: list[str] | None = None
) -> None:
    """Append-only audit-log sink (DQ pattern, S9)."""
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(_table_path(warehouse_dir, table)))


# Hive's directory name for a NULL (or empty-string) partition value.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _dirname_reader(
    spark: SparkSession, path: Path, partition_cols: list[str]
) -> tuple[DataFrameReader, list[str]]:
    """The one way the rewrite paths read an existing table: a reader
    with every partition column pinned to ``StringType``, so a value is
    its unescaped directory name (NULL for the hive default partition).
    ``basePath`` keeps the partition columns when the reader is given
    explicit leaf directories — the bounded read of a rewrite. Returns
    the reader and the table's column order."""
    inferred = spark.read.parquet(str(path)).schema
    pinned = StructType([
        StructField(f.name, StringType()) if f.name in partition_cols else f
        for f in inferred
    ])
    reader = spark.read.schema(pinned).option("basePath", str(path))
    return reader, pinned.fieldNames()


def _as_dirnames(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """``df`` with its partition columns cast to string — the cast the
    parquet writer renders directory names with."""
    return df.withColumns(
        {c: F.col(c).cast("string") for c in partition_cols if c in df.columns}
    )


def _touched(df: DataFrame, partition_cols: list[str]) -> set[tuple[str, ...]]:
    """Distinct partition tuples of a dirname-string frame, as the
    unescaped directory names they live under."""
    return {
        tuple(r[c] or _HIVE_NULL for c in partition_cols)
        for r in df.select(*partition_cols).distinct().collect()
    }


def _leaf_partition_dirs(
    root: Path, partition_cols: list[str]
) -> dict[tuple[str, ...], Path]:
    """Deepest ``col=value`` partition dirs under ``root``, keyed by
    their unescaped directory-name tuple."""
    level = [root]
    for col in partition_cols:
        level = [
            child
            for d in level
            for child in d.iterdir()
            if child.is_dir() and child.name.startswith(f"{col}=")
        ]
    return {
        tuple(unquote(p.split("=", 1)[1]) for p in leaf.relative_to(root).parts): leaf
        for leaf in level
    }


def _null_safe_join(
    df: DataFrame, small: DataFrame, cols: list[str], how: str
) -> DataFrame:
    """Join ``df`` to broadcast ``small`` on ``cols`` with NULL = NULL
    matching (a plain ``on=cols`` join never matches NULL, so NULL keys
    and the NULL partition would silently drop out). Keeps ``df``'s
    columns plus ``small``'s non-join columns.

    ``small``'s join columns are re-aliased to fresh names (and
    therefore fresh expression IDs) first: when ``small`` DERIVES from
    ``df``, ``df[c]`` and ``small[c]`` resolve to the SAME attribute, the
    condition degenerates to the trivially-true ``c <=> c`` and a semi
    join silently keeps every row."""
    fresh = small.select(
        *(F.col(c).alias(f"__nss_{c}") for c in cols),
        *(c for c in small.columns if c not in cols),
    )
    cond = functools.reduce(
        operator.and_, (df[c].eqNullSafe(F.col(f"__nss_{c}")) for c in cols)
    )
    return df.join(F.broadcast(fresh), cond, how).drop(
        *(f"__nss_{c}" for c in cols)
    )


def _null_safe_semi(df: DataFrame, small: DataFrame, cols: list[str]) -> DataFrame:
    return _null_safe_join(df, small, cols, "left_semi")


def _null_safe_anti(df: DataFrame, small: DataFrame, cols: list[str]) -> DataFrame:
    return _null_safe_join(df, small, cols, "left_anti")


def upsert_by_key(
    spark: SparkSession,
    updates: DataFrame,
    warehouse_dir: str,
    table: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    stable_partitions: bool = False,
    null_safe_keys: bool = False,
) -> None:
    """Idempotent MERGE-style upsert on ``key_cols`` (S6).

    Matched rows are fully replaced by the update row (the reference's
    WHEN MATCHED UPDATE SET <all cols>); unmatched rows are inserted.
    Re-running the same batch is a no-op on the final state.

    MATCHING defaults to ANSI MERGE semantics: a NULL key never
    matches, so upserting a NULL-key row INSERTS a second copy instead
    of replacing — exactly what ``MERGE ON a.k = b.k`` does. State
    tables whose key is a normal grouping column (where NULL is a
    legitimate group — e.g. the streaming aggregate maintenance state)
    must pass ``null_safe_keys=True`` to get eqNullSafe replacement;
    without it a NULL-key state row silently duplicates on every
    upsert and downstream reads double-count the group.

    Partitions follow the module's one rule: a partition value is its
    directory name. The touched set is the batch's partition values
    cast to string, collected once (one row per touched partition,
    never row-scaled). A key may arrive with a *different* partition
    value than the row it replaces (e.g. a corrected trade date on a
    date-partitioned table): by default the partitions where the
    batch's keys currently live join the touched set — one scan of the
    table's key/partition columns — so the stale row is removed. When
    partition columns are functionally determined by the key (symbol
    partitioning keyed on symbol — every table this pipeline ships),
    pass ``stable_partitions=True`` to skip that scan.

    Only the touched partitions that exist on disk are read, by their
    leaf directories, so the scan never lists an untouched partition's
    files. When none exists (a time-ordered stream appending new
    buckets — the common case) the existing-table scan, the key
    anti-join and the union drop out and the staged write is a pure
    write of ``updates``. ``updates`` itself is persisted for the
    call's duration: its plan feeds the touched-partition collect, the
    key anti-join and the staged write, and without the persist a
    caller's expensive update plan re-executes once per consumer.
    """
    path = _table_path(warehouse_dir, table)
    partition_cols = partition_cols or []

    if not path.exists():
        overwrite_table(updates, warehouse_dir, table, partition_cols)
        return

    updates = updates.persist()
    try:
        _upsert_staged(
            spark, updates, path, table, key_cols,
            partition_cols, stable_partitions, null_safe_keys,
        )
    finally:
        updates.unpersist()


def _upsert_staged(
    spark: SparkSession,
    updates: DataFrame,
    path: Path,
    table: str,
    key_cols: list[str],
    partition_cols: list[str],
    stable_partitions: bool,
    null_safe_keys: bool,
) -> None:
    reader, columns = _dirname_reader(spark, path, partition_cols)
    batch = _as_dirnames(updates, partition_cols).select(*columns)
    key_set = batch.select(*key_cols).distinct()
    touched: set[tuple[str, ...]] | None = None
    if partition_cols:
        scope = batch.select(*partition_cols)
        if not stable_partitions:
            # ...plus the partitions where updated keys CURRENTLY live,
            # so a key that moved partitions doesn't leave a duplicate
            # behind. Column-pruned scan: only key+partition columns.
            existing = reader.parquet(str(path))
            prior = (
                _null_safe_semi(existing, key_set, key_cols)
                if null_safe_keys
                else existing.join(F.broadcast(key_set), key_cols, "left_semi")
            )
            scope = scope.unionByName(prior.select(*partition_cols))
        touched = _touched(scope, partition_cols)
        leaves = [
            str(leaf)
            for vals, leaf in _leaf_partition_dirs(path, partition_cols).items()
            if vals in touched
        ]
        affected = reader.parquet(*leaves) if leaves else None
    else:
        affected = reader.parquet(str(path))

    merged = batch
    if affected is not None:
        kept = (
            _null_safe_anti(affected, key_set, key_cols)
            if null_safe_keys
            else affected.join(key_set, key_cols, "left_anti")
        )
        merged = kept.unionByName(batch)

    staging = path.parent / f".staging_{table}_{uuid.uuid4().hex[:8]}"
    writer = merged.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(staging))
    _swap_staged(staging, path, partition_cols, touched)


def _swap_staged(
    staging: Path,
    path: Path,
    partition_cols: list[str],
    touched: set[tuple[str, ...]] | None,
) -> None:
    """Swap staged partition dirs into the live table at the full
    partition-tuple granularity (or the whole table when
    unpartitioned). Swapping only the top level would delete sibling
    second-level partitions that share a first-level value but were not
    touched by this batch. The per-directory swap is not atomic across
    partitions: a crash mid-loop leaves some partitions updated and
    some not (each individual partition is still consistent, and
    re-running the same batch heals the table — asserted in tests); for
    transactional commits use ``sources/snapshots.py``."""
    if partition_cols:
        staged = _leaf_partition_dirs(staging, partition_cols)
        for leaf in staged.values():
            dest = path / leaf.relative_to(staging)
            if dest.exists():
                shutil.rmtree(dest)
            dest.parent.mkdir(parents=True, exist_ok=True)
            shutil.move(str(leaf), str(dest))
        shutil.rmtree(staging, ignore_errors=True)
        # A touched partition that ended up with zero rows (its only keys
        # moved elsewhere or were erased) produces no staging dir —
        # remove the stale one.
        for vals, leaf in _leaf_partition_dirs(path, partition_cols).items():
            if vals in (touched or set()) and vals not in staged:
                shutil.rmtree(leaf)
    else:
        shutil.rmtree(path)
        shutil.move(str(staging), str(path))

def cleanup_staging(warehouse_dir: str, older_than_s: float = 86400.0) -> list[str]:
    """Remove orphaned staging directories left by a crash mid-swap
    (``.staging_*`` / ``.erase_*`` / ``.compact_*``). Dot-prefixed dirs
    are invisible to Spark reads (hidden-path filter), so orphans never
    corrupt results — they only leak disk — which is why this runs as
    periodic maintenance rather than on the write path. Only dirs older
    than ``older_than_s`` are removed, so an in-flight writer's staging
    area is never yanked. Returns the removed paths."""
    import time

    root = Path(warehouse_dir)
    removed: list[str] = []
    if not root.exists():
        return removed
    cutoff = time.time() - older_than_s
    for d in root.iterdir():
        if not d.is_dir():
            continue
        if not d.name.startswith((".staging_", ".erase_", ".compact_")):
            continue
        if d.stat().st_mtime < cutoff:
            shutil.rmtree(d, ignore_errors=True)
            removed.append(str(d))
    return removed


def erase_keys(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    keys: DataFrame,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
) -> int:
    """Targeted hard delete (right-to-erasure / bad-record purge):
    remove every row whose ``key_cols`` match ``keys``, rewriting ONLY
    the partitions where those keys currently live. Returns the number
    of rows removed. Idempotent: erasing the same keys again removes 0
    rows and rewrites nothing.

    Scale shape: the key set broadcasts (an erasure batch is small by
    nature); locating affected partitions is one column-pruned semi-join
    over (key, partition) columns whose result is collected (one row per
    touched partition); the rewrite reads only those partitions' leaf
    directories, so it is bounded by their size, never the table's. The
    audit trail (how many rows were erased) comes from partition-local
    counts of the same frames the rewrite uses — no extra full scan.

    Every key comparison here is NULL-SAFE (eqNullSafe): with plain
    equality a row whose key columns contain NULL could never be erased
    — a silent no-op in a right-to-erasure operator. Partition values
    follow the module's one rule (a value is its directory name).
    """
    path = _table_path(warehouse_dir, table)
    partition_cols = partition_cols or []
    if not path.exists():
        return 0
    reader, _ = _dirname_reader(spark, path, partition_cols)
    existing = reader.parquet(str(path))
    key_set = _as_dirnames(keys.select(*key_cols), partition_cols).distinct()

    touched: set[tuple[str, ...]] | None = None
    affected = existing
    if partition_cols:
        touched = _touched(
            _null_safe_semi(existing, key_set, key_cols), partition_cols
        )
        if not touched:
            return 0
        affected = reader.parquet(*(
            str(leaf)
            for vals, leaf in _leaf_partition_dirs(path, partition_cols).items()
            if vals in touched
        ))

    kept = _null_safe_anti(affected, key_set, key_cols)
    removed = affected.count() - kept.count()
    if removed == 0:
        return 0

    staging = path.parent / f".erase_{table}_{uuid.uuid4().hex[:8]}"
    writer = kept.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(staging))
    _swap_staged(staging, path, partition_cols, touched)
    return removed


def compact_table(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> int:
    """Small-file compaction — the table-maintenance pass every
    long-running ingest needs: streaming/incremental writes accumulate
    tiny parquet files until scan planning and footer reads dominate
    query time. Rewrites each partition into ``ceil(bytes/target)``
    files and swaps the result in. Returns the file count after.

    Scale shape: current file sizes come from a driver-side listing —
    one entry per PARTITION, not per row — and the rewrite is one
    shuffle keyed on (partition cols, salt) where the salt width is
    each partition's target bucket count, so a 10-TB partition fans out
    to ~80 × 128 MB files while a 1-KB partition collapses to one, in
    the same job. Row content and partition directory names are
    preserved exactly; only file layout changes.
    """
    path = _table_path(warehouse_dir, table)
    partition_cols = partition_cols or []
    reader, columns = _dirname_reader(spark, path, partition_cols)
    df = reader.parquet(str(path))

    def _n_files(d: Path) -> int:
        size = sum(f.stat().st_size for f in d.rglob("*.parquet"))
        return max(1, math.ceil(size / target_file_bytes))

    staging = path.parent / f".compact_{table}_{uuid.uuid4().hex[:8]}"
    touched: set[tuple[str, ...]] | None = None
    if partition_cols:
        leaves = _leaf_partition_dirs(path, partition_cols)
        touched = set(leaves)
        bmap = spark.createDataFrame(
            [
                (*(None if v == _HIVE_NULL else v for v in vals), _n_files(leaf))
                for vals, leaf in leaves.items()
            ],
            StructType([
                *(StructField(c, StringType()) for c in partition_cols),
                StructField("__n_buckets__", LongType()),
            ]),
        )
        data_cols = [c for c in columns if c not in partition_cols]
        salted = (
            _null_safe_join(df, bmap, partition_cols, "inner")
            .withColumn(
                "__salt__",
                F.pmod(F.xxhash64(*data_cols), F.col("__n_buckets__")),
            )
            .repartition(*partition_cols, "__salt__")
            .drop("__n_buckets__", "__salt__")
        )
        salted.write.mode("overwrite").partitionBy(*partition_cols).parquet(
            str(staging)
        )
    else:
        df.repartition(_n_files(path)).write.mode("overwrite").parquet(
            str(staging)
        )

    _swap_staged(staging, path, partition_cols, touched)
    return len(list(path.rglob("*.parquet")))


def overwrite_partitions_dynamic(
    df: DataFrame,
    warehouse_dir: str,
    table: str,
    partition_cols: list[str],
) -> None:
    """Partition-scoped overwrite (``partitionOverwriteMode=dynamic``):
    replace ONLY the partitions present in ``df``, leave every other
    partition's files untouched — the standard backfill/restatement
    write (re-run one day or one symbol without rewriting the table).

    This is the built-in counterpart of :func:`upsert_by_key`'s manual
    partition swap for the whole-partition-replacement case: when the
    incoming frame IS the new truth for its partitions, no key
    anti-join is needed and the dynamic writer does the bounded
    rewrite natively (object-store safe; no read-own-table hazard
    because nothing is read). Keyed merges still need the upsert.

    The mode is passed as a per-write option so the session default
    (static) is untouched for other writers."""
    if not partition_cols:
        raise ValueError(
            "dynamic partition overwrite requires partition columns — "
            "for unpartitioned tables use overwrite_table"
        )
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(str(_table_path(warehouse_dir, table)))
    )


def append_with_schema_evolution(
    spark: SparkSession,
    df: DataFrame,
    warehouse_dir: str,
    table: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Append a batch whose schema may have EVOLVED (new columns) and
    return the merged-schema view of the table.

    Parquet appends are schema-per-file, so the write itself always
    succeeds; the contract this function adds on top:

    - REORDERED or MISSING columns in the batch are aligned to the
      existing schema by NAME (missing -> typed NULL), so a positional
      mismatch can never silently transpose values;
    - genuinely NEW columns are appended after the existing ones
      (evolution, not error) — old files simply lack them;
    - a column whose TYPE changed raises instead of writing a mixed
      column the scan would fail on later (ValueError now beats an
      unreadable table at 100 TB);
    - the returned frame reads with ``mergeSchema=true`` so old rows
      surface NULL for evolved columns.
    """
    path = _table_path(warehouse_dir, table)
    partition_cols = partition_cols or []
    if path.exists():
        existing = spark.read.parquet(str(path))
        ex_types = dict(existing.dtypes)
        new_types = dict(df.dtypes)
        clashes = {
            c: (ex_types[c], new_types[c])
            for c in new_types
            if c in ex_types and ex_types[c] != new_types[c]
        }
        if clashes:
            raise ValueError(
                f"append_with_schema_evolution: type change for {clashes} "
                "— evolve by adding columns, not by mutating types"
            )
        aligned = [
            F.col(c) if c in new_types
            else F.lit(None).cast(ex_types[c]).alias(c)
            for c in existing.columns
        ] + [F.col(c) for c in df.columns if c not in ex_types]
        df = df.select(*aligned)
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(str(path))
    return spark.read.option("mergeSchema", "true").parquet(str(path))
