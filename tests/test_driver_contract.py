"""Driver-contract guard: the failure class that cost round 3 its
scorecard (50-slot window overflow, an oracled query whose output the
driver hash cannot canonicalize, column-name drift between queries() and
oracle_sql()) must break CI, not the round.

Runs every query at sf0.001 (tiny) to get its SCHEMA and compares column
names against DuckDB's DESCRIBE of the oracle — no value comparison here
(tools/check_correctness.py and the driver do that at sf0.01)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import types as T

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# types the driver's pandas sort/hash canonicalization chokes on
_HOSTILE = (T.ArrayType, T.MapType, T.StructType, T.DateType, T.BinaryType)


def test_exactly_fifty_fully_oracled_queries():
    qs = entry.queries()
    sql = entry.oracle_sql()
    assert len(qs) == 50  # the driver scores only the first 50
    assert set(qs) == set(sql), (
        "queries() and oracle_sql() must carry identical key sets"
    )


def test_jvm_spread_never_shrinks_partitions(spark):
    target = min(16, spark.sparkContext.defaultParallelism)
    wide = spark.range(0, 320, numPartitions=32)
    assert entry._jvm_spread(spark, wide).rdd.getNumPartitions() == 32
    narrow = spark.range(0, 320, numPartitions=1)
    spread = entry._jvm_spread(spark, narrow)
    assert spread.rdd.getNumPartitions() == target
    assert sorted(r.id for r in spread.collect()) == list(range(320))


def test_entry_runs(spark):
    df = entry.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_schema_matches_oracle(spark, name):
    fn = entry.queries()[name]
    sdf = fn(spark, SF)
    cols = sorted(sdf.columns)
    for f in sdf.schema.fields:
        assert not isinstance(f.dataType, _HOSTILE), (
            f"{name}.{f.name}: {f.dataType.simpleString()} — the driver "
            "hash cannot canonicalize list/map/struct/date/binary columns"
        )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    ocols = sorted(
        r[0] for r in con.execute(f"DESCRIBE {entry.oracle_sql()[name]}").fetchall()
    )
    assert cols == ocols, f"{name}: spark {cols} vs oracle {ocols}"
