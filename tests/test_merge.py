from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    merge as M,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import TableSpec

SPEC = TableSpec(
    name="t",
    schema=StructType(
        [
            StructField("pk", IntegerType(), False),
            StructField("amt", DoubleType(), False),
            StructField("part", StringType(), False),
        ]
    ),
    primary_key="pk",
    partition_by=("part",),
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk int, amt double, part string")


def test_create_then_upsert(spark, tmp_path):
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, SPEC)
    assert M.table_exists(spark, path)
    # update pk=1, insert pk=3
    M.merge_upsert(spark, _df(spark, [(1, 10.0, "a"), (3, 3.0, "a")]), path, SPEC)
    got = {r["pk"]: r["amt"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 2.0, 3: 3.0}


def test_untouched_partitions_not_rewritten(spark, tmp_path):
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, SPEC)
    files_b_before = {
        f for f in os.listdir(f"{path}/part=b") if f.endswith(".parquet")
    }
    M.merge_upsert(spark, _df(spark, [(1, 99.0, "a")]), path, SPEC)
    files_b_after = {
        f for f in os.listdir(f"{path}/part=b") if f.endswith(".parquet")
    }
    # dynamic partition overwrite must leave partition b's files untouched
    assert files_b_before == files_b_after
    got = {r["pk"]: r["amt"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 99.0, 2: 2.0}


def test_idempotent_rerun(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = _df(spark, [(1, 1.0, "a"), (2, 2.0, "b")])
    M.merge_upsert(spark, batch, path, SPEC)
    M.merge_upsert(spark, batch, path, SPEC)  # retry-replay must converge
    assert spark.read.parquet(path).count() == 2


def test_duplicate_source_keys_raise(spark, tmp_path):
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a")]), path, SPEC)
    with pytest.raises(ValueError, match="duplicate"):
        M.merge_upsert(
            spark, _df(spark, [(2, 1.0, "a"), (2, 2.0, "a")]), path, SPEC
        )


def test_multi_column_partitioning(spark, tmp_path):
    spec = TableSpec(
        name="t2",
        schema=StructType(
            [
                StructField("pk", IntegerType(), False),
                StructField("amt", DoubleType(), False),
                StructField("y", StringType(), False),
                StructField("m", StringType(), False),
            ]
        ),
        primary_key="pk",
        partition_by=("y", "m"),
    )
    path = str(tmp_path / "t2")

    def df(rows):
        return spark.createDataFrame(rows, "pk int, amt double, y string, m string")

    M.merge_upsert(
        spark, df([(1, 1.0, "2025", "01"), (2, 2.0, "2025", "02")]), path, spec
    )
    M.merge_upsert(spark, df([(1, 9.0, "2025", "03")]), path, spec)  # moves
    import os

    assert not os.path.isdir(f"{path}/y=2025/m=01")  # emptied dir removed
    got = {r["pk"]: (r["amt"], r["m"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: (9.0, "03"), 2: (2.0, "02")}


def test_schema_evolution_additive(spark, tmp_path):
    from pyspark.sql.types import LongType

    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a")]), path, SPEC)
    evolved = TableSpec(
        name="t",
        schema=StructType(
            list(SPEC.schema.fields) + [StructField("extra", LongType(), True)]
        ),
        primary_key="pk",
        partition_by=("part",),
    )
    src = spark.createDataFrame(
        [(2, 2.0, "a", 42)], "pk int, amt double, part string, extra long"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        M.merge_upsert(spark, src, path, evolved)  # evolution must be opted in
    M.merge_upsert(spark, src, path, evolved, evolve_schema=True)
    got = {r["pk"]: r["extra"] for r in spark.read.parquet(path).collect()}
    assert got == {1: None, 2: 42}  # old rows backfilled with null


def test_rows_moving_between_partitions(spark, tmp_path):
    """A source row whose partition value changed: old-partition copy must
    not survive if the old partition is also affected by the batch."""
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "a")]), path, SPEC)
    # pk=1 moves a→b; pk=2 updated in place (partition a is affected)
    M.merge_upsert(spark, _df(spark, [(1, 5.0, "b"), (2, 9.0, "a")]), path, SPEC)
    got = {(r["pk"], r["part"]): r["amt"] for r in spark.read.parquet(path).collect()}
    assert got == {(1, "b"): 5.0, (2, "a"): 9.0}


def test_partition_move_with_otherwise_untouched_old_partition(spark, tmp_path):
    """The stale-copy hazard: pk=1 moves a→b and NOTHING else writes to a.
    The old copy in a must still be rewritten away (global key match)."""
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "c")]), path, SPEC)
    M.merge_upsert(spark, _df(spark, [(1, 5.0, "b")]), path, SPEC)
    rows = spark.read.parquet(path).collect()
    got = {(r["pk"], r["part"]): r["amt"] for r in rows}
    assert got == {(1, "b"): 5.0, (2, "c"): 2.0}
    assert len(rows) == 2  # no duplicate pk=1 left behind in partition a


def test_apply_changes_last_writer_wins(spark):
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.merge import (
        apply_changes,
    )

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", "U", 1),
            (1, None, "D", 2),   # later delete beats the update
            (2, "b2", "U", 5),
            (2, None, "D", 1),   # earlier delete loses to the update
            (9, "new", "I", 1),
        ],
        "k int, v string, op string, ts int",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_changes(target, changes, "k", ts_col="ts").collect()
    }
    assert got == {2: "b2", 3: "c", 9: "new"}
