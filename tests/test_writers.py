"""Upsert sink edge cases (S6): multi-level partition swap, keys that
move partitions, and crash-mid-swap recovery.

The production tables partition on a column that is also part of the
key (symbol), so these paths never fire there — which is exactly why
they need dedicated coverage.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

from market_data_pipeline_databricks_spark.sources.writers import upsert_by_key


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "sym string, region string, date date, px double"
    )


def _read(spark, wh):
    df = spark.read.parquet(f"{wh}/t")
    return sorted(
        (r["sym"], r["region"], str(r["date"]), r["px"]) for r in df.collect()
    )


D1, D2 = dt.date(2025, 1, 1), dt.date(2025, 1, 2)


def test_upsert_two_level_partition_siblings_survive(spark, tmp_path):
    """Batch touches one (region, date) tuple; the sibling date partition
    under the same region — absent from the batch — must survive the
    swap (regression for top-level-only partition replacement)."""
    wh = str(tmp_path)
    base = _rows(spark, [
        ("A", "us", D1, 1.0),
        ("B", "us", D2, 2.0),   # sibling: same region=us, other date
        ("C", "eu", D1, 3.0),
    ])
    upsert_by_key(spark, base, wh, "t", ["sym", "date"], ["region", "date"])
    batch = _rows(spark, [("A", "us", D1, 9.0)])  # touches only (us, D1)
    upsert_by_key(spark, batch, wh, "t", ["sym", "date"], ["region", "date"])
    assert _read(spark, wh) == [
        ("A", "us", str(D1), 9.0),
        ("B", "us", str(D2), 2.0),
        ("C", "eu", str(D1), 3.0),
    ]


def test_upsert_key_moving_partitions_leaves_no_stale_row(spark, tmp_path):
    """An update row carrying an existing key with a NEW partition value
    must remove the old row from the old partition (and delete the
    partition dir if that empties it)."""
    wh = str(tmp_path)
    base = _rows(spark, [("A", "us", D1, 1.0), ("B", "eu", D1, 2.0)])
    upsert_by_key(spark, base, wh, "t", ["sym"], ["region"])
    # key A moves us → eu; us partition becomes empty
    batch = _rows(spark, [("A", "eu", D1, 9.0)])
    upsert_by_key(spark, batch, wh, "t", ["sym"], ["region"])
    assert _read(spark, wh) == [
        ("A", "eu", str(D1), 9.0),
        ("B", "eu", str(D1), 2.0),
    ]
    assert not (Path(wh) / "t" / "region=us").exists()


def test_upsert_stable_partitions_fast_path(spark, tmp_path):
    """With ``stable_partitions=True`` (partition functionally determined
    by the key) results match the default path and no extra scan is
    needed for in-place updates."""
    wh = str(tmp_path)
    base = _rows(spark, [("A", "us", D1, 1.0), ("B", "eu", D1, 2.0)])
    upsert_by_key(spark, base, wh, "t", ["sym"], ["region"],
                  stable_partitions=True)
    batch = _rows(spark, [("A", "us", D1, 9.0), ("C", "eu", D1, 3.0)])
    upsert_by_key(spark, batch, wh, "t", ["sym"], ["region"],
                  stable_partitions=True)
    assert _read(spark, wh) == [
        ("A", "us", str(D1), 9.0),
        ("B", "eu", str(D1), 2.0),
        ("C", "eu", str(D1), 3.0),
    ]


def test_upsert_rerun_heals_partial_swap(spark, tmp_path):
    """The per-partition swap is not atomic; simulate a crash that left
    one partition un-swapped and assert that re-running the same batch
    converges to the correct state (each partition is individually
    consistent at all times, so the retry story is idempotent re-run)."""
    import shutil

    wh = str(tmp_path)
    base = _rows(spark, [("A", "us", D1, 1.0), ("C", "eu", D1, 3.0)])
    upsert_by_key(spark, base, wh, "t", ["sym"], ["region"])
    # snapshot the pre-update eu partition, run the real update, then
    # roll eu back to simulate the swap crashing before reaching it
    eu = Path(wh) / "t" / "region=eu"
    shutil.copytree(eu, Path(wh) / "eu_backup")
    batch = _rows(spark, [("A", "us", D1, 9.0), ("C", "eu", D1, 8.0)])
    upsert_by_key(spark, batch, wh, "t", ["sym"], ["region"])
    shutil.rmtree(eu)
    shutil.copytree(Path(wh) / "eu_backup", eu)
    # table is now half-updated but readable; re-running the batch heals
    upsert_by_key(spark, batch, wh, "t", ["sym"], ["region"])
    assert _read(spark, wh) == [
        ("A", "us", str(D1), 9.0),
        ("C", "eu", str(D1), 8.0),
    ]


def test_compact_unpartitioned_collapses_small_files(spark, tmp_path):
    from market_data_pipeline_databricks_spark.sources.writers import (
        compact_table,
    )

    wh = str(tmp_path)
    df = spark.range(1000).withColumnRenamed("id", "k")
    df.repartition(40).write.parquet(f"{wh}/t")
    before = len(list(Path(wh).glob("t/*.parquet")))
    assert before >= 40
    n_after = compact_table(spark, wh, "t")  # huge target -> 1 file
    assert n_after == 1
    assert sorted(r["k"] for r in spark.read.parquet(f"{wh}/t").collect()) == list(
        range(1000)
    )


def test_compact_partitioned_keeps_rows_and_bounds_files(spark, tmp_path):
    from market_data_pipeline_databricks_spark.sources.writers import (
        compact_table,
    )

    wh = str(tmp_path)
    base = _rows(
        spark,
        [("A", "us", D1, float(i)) for i in range(50)]
        + [("B", "eu", D1, float(i)) for i in range(5)],
    )
    base.repartition(20).write.partitionBy("region").parquet(f"{wh}/t")
    want = _read(spark, wh)
    n_after = compact_table(spark, wh, "t", partition_cols=["region"])
    assert n_after == 2  # one file per region at this size
    assert _read(spark, wh) == want
