"""Upsert staged-write behaviour (sources/writers.py):

- touched partitions with no live directory skip the merge entirely —
  the staged write is a pure write of updates and untouched partitions'
  files stay byte-identical (the bounded-rewrite contract, provable at
  file granularity for the all-new-partition batch);
- live touched partitions are read by their leaf directories — same
  merge result, including NULL partition values and day-grain values
  that partition type inference reads back as DATE;
- a partition value is its directory name on every rewrite path
  (upsert, key move, erase, compaction), whatever partition type
  inference would make of that name.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from market_data_pipeline_databricks_spark.sources.writers import (
    compact_table,
    erase_keys,
    upsert_by_key,
)


def _listing(tdir: Path) -> dict[str, tuple[int, int]]:
    return {
        str(p.relative_to(tdir)): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in tdir.rglob("*")
        if p.is_file() and not p.name.startswith(("_", "."))
    }


def _rows(spark, wh, table):
    # partition type inference may read day-grain strings back as DATE
    # and ints back as INT; normalize through a string cast
    return {
        tuple(r)
        for r in spark.read.parquet(str(Path(wh) / table))
        .select("k", "v", F.col("p").cast("string").alias("p"))
        .collect()
    }


def test_all_new_partitions_leave_live_files_untouched(spark, tmp_path):
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "k int, v string, p string"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    before = _listing(tmp_path / "t")
    # batch touches only a partition the table has never seen
    upd = spark.createDataFrame([(3, "c", "2024-01-03")], "k int, v string, p string")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    after = _listing(tmp_path / "t")
    kept = {f: s for f, s in after.items() if not f.startswith("p=2024-01-03")}
    assert kept == before, "live partitions must keep their exact files"
    assert _rows(spark, wh, "t") == {
        (1, "a", "2024-01-01"),
        (2, "b", "2024-01-02"),
        (3, "c", "2024-01-03"),
    }


def test_literal_pruned_merge_replaces_and_inserts(spark, tmp_path):
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"), (9, "z", None)],
        "k int, v string, p string",
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    # mix: replace k=1 in a live partition, insert into a new one,
    # and replace the NULL-partition row (hive default partition dir)
    upd = spark.createDataFrame(
        [(1, "a2", "2024-01-01"), (4, "d", "2024-01-04"), (9, "z2", None)],
        "k int, v string, p string",
    )
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    assert _rows(spark, wh, "t") == {
        (1, "a2", "2024-01-01"),
        (2, "b", "2024-01-02"),
        (4, "d", "2024-01-04"),
        (9, "z2", None),
    }


def test_untouched_live_partition_files_stable_under_merge(spark, tmp_path):
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "k int, v string, p string"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    before = _listing(tmp_path / "t")
    upd = spark.createDataFrame([(1, "a2", "2024-01-01")], "k int, v string, p string")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    after = _listing(tmp_path / "t")
    assert {f: s for f, s in after.items() if f.startswith("p=2024-01-02")} == {
        f: s for f, s in before.items() if f.startswith("p=2024-01-02")
    }
    assert _rows(spark, wh, "t") == {
        (1, "a2", "2024-01-01"),
        (2, "b", "2024-01-02"),
    }


def test_int_bucket_partition_literal_merge(spark, tmp_path):
    # int partition values — the agg sink's __p_bucket layout
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 3), (2, "b", 7)], "k int, v string, p int"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    upd = spark.createDataFrame([(1, "a2", 3), (5, "e", 11)], "k int, v string, p int")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    assert _rows(spark, wh, "t") == {(1, "a2", "3"), (2, "b", "7"), (5, "e", "11")}


def test_non_literal_partition_type_falls_back_and_merges(spark, tmp_path):
    # float partition values: the merge must be exact
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 0.5), (2, "b", 1.5)], "k int, v string, p double"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    upd = spark.createDataFrame([(1, "a2", 0.5)], "k int, v string, p double")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    assert _rows(spark, wh, "t") == {(1, "a2", "0.5"), (2, "b", "1.5")}


def test_key_moves_partition_unstable_path(spark, tmp_path):
    # stable_partitions=False: a key that moved partitions must have
    # its stale copy removed from the OLD partition (the prior-location
    # scan feeds the touched set)
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "k int, v string, p string"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    upd = spark.createDataFrame([(1, "a2", "2024-01-05")], "k int, v string, p string")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"], stable_partitions=False)
    assert _rows(spark, wh, "t") == {
        (1, "a2", "2024-01-05"),
        (2, "b", "2024-01-02"),
    }


def test_special_char_partition_values_literal_merge(spark, tmp_path):
    # hive escapes '=' in dirnames; the live-set listing unquotes
    # them, so the partition must still be located and merged
    wh = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "a", "x y=z"), (2, "b", "plain")], "k int, v string, p string"
    )
    upsert_by_key(spark, base, wh, "t", ["k"], ["p"])
    upd = spark.createDataFrame([(1, "a2", "x y=z")], "k int, v string, p string")
    upsert_by_key(spark, upd, wh, "t", ["k"], ["p"])
    assert _rows(spark, wh, "t") == {(1, "a2", "x y=z"), (2, "b", "plain")}


# (type, value in the touched partition P, its unescaped dir name, its
# escaped leaf dir, a plain value Q of the same type that is its own
# dir name, Q's leaf dir).
# Each first value renders differently under Python's str() or under
# partition type inference than under the writer's string cast.
_PARTITION_CASES = [
    ("double", "1e16", "1.0E16", "p=1.0E16", "2.5", "p=2.5"),
    ("boolean", "true", "true", "p=true", "false", "p=false"),
    # '8' keeps partition type inference on INT, which reads '007' as 7
    ("string", "007", "007", "p=007", "8", "p=8"),
    (
        "timestamp", "2024-01-05 10:30:00", "2024-01-05 10:30:00",
        "p=2024-01-05 10%3A30%3A00",
        "2024-01-06 00:00:00", "p=2024-01-06 00%3A00%3A00",
    ),
    ("string", None, None, "p=__HIVE_DEFAULT_PARTITION__", "q", "p=q"),
    ("string", "x y=z", "x y=z", "p=x y%3Dz", "q", "p=q"),
]


@pytest.mark.parametrize("op", ["upsert", "move", "erase", "compact"])
@pytest.mark.parametrize(
    "typ,pv,pname,pdir,qv,qdir",
    _PARTITION_CASES,
    ids=[f"{c[0]}-{c[1]}" for c in _PARTITION_CASES],
)
def test_partition_value_round_trip(spark, tmp_path, typ, pv, pname, pdir, qv, qdir, op):
    # keys 1 and 2 share partition P, key 3 lives in Q; every rewrite
    # path must keep P's rows under P's own directory
    wh = str(tmp_path)

    def frame(rows):
        return spark.createDataFrame(rows, "k int, v string, p string").withColumn(
            "p", F.col("p").cast(typ)
        )

    upsert_by_key(spark, frame([(1, "a", pv), (2, "b", pv), (3, "c", qv)]), wh, "t", ["k"], ["p"])
    want = {(1, "a", pname), (2, "b", pname), (3, "c", qv)}
    if op == "upsert":
        upsert_by_key(
            spark, frame([(1, "a2", pv)]), wh, "t", ["k"], ["p"], stable_partitions=True
        )
        want = {(1, "a2", pname), (2, "b", pname), (3, "c", qv)}
    elif op == "move":
        upsert_by_key(
            spark, frame([(1, "a2", qv)]), wh, "t", ["k"], ["p"], stable_partitions=False
        )
        want = {(1, "a2", qv), (2, "b", pname), (3, "c", qv)}
    elif op == "erase":
        keys = spark.createDataFrame([(1,)], "k int")
        assert erase_keys(spark, wh, "t", keys, ["k"], ["p"]) == 1
        want = {(2, "b", pname), (3, "c", qv)}
    else:
        compact_table(spark, wh, "t", partition_cols=["p"])

    tdir = tmp_path / "t"
    assert sorted(d.name for d in tdir.iterdir() if d.is_dir()) == sorted({pdir, qdir})
    # read every partition value back as its directory-name string
    got = [
        tuple(r)
        for r in spark.read.schema("k int, v string, p string").parquet(str(tdir)).collect()
    ]
    assert len(got) == len(want) and set(got) == want
