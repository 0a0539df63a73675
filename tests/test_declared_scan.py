"""Declared-schema lake scans: the footer check behind ``load_table`` must
agree with Spark's own parquet inference, building every table scan must
launch no Spark job, and a drifted table must fall back to inference."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_etl_microservice_redshift_datalake_spark.schemas import SCHEMAS
from aws_etl_microservice_redshift_datalake_spark.sources.io import (
    footer_schema,
    lake_sql,
    load_table,
    register_all,
    table_path,
)

from tests.conftest import SF_MED, SF_SMALL, TABLES, job_counter


@pytest.mark.parametrize("sf", [SF_SMALL, SF_MED], ids=["sf0.001", "sf0.01"])
@pytest.mark.parametrize("table", TABLES)
def test_footer_schema_agrees_with_spark_inference(spark, sf, table):
    path = table_path(sf, table)
    assert footer_schema(path) == spark.read.parquet(path).schema == SCHEMAS[table]


_TS = [dt.datetime(2020, 1, 2, 3, 4, 5)]
# one single-column file per parquet type: the mapped set must agree with
# Spark exactly; anything else must come back unknown (None)
_ZOO = {
    "bool": (pa.array([True]), True),
    "int8": (pa.array([1], pa.int8()), True),
    "int16": (pa.array([1], pa.int16()), True),
    "int32": (pa.array([1], pa.int32()), True),
    "int64": (pa.array([1], pa.int64()), True),
    "float": (pa.array([1.0], pa.float32()), True),
    "double": (pa.array([1.0], pa.float64()), True),
    "string": (pa.array(["x"]), True),
    "dict_string": (pa.array(["x"]).dictionary_encode(), True),
    "date": (pa.array([dt.date(2020, 1, 2)]), True),
    "ts_ms_ntz": (pa.array(_TS, pa.timestamp("ms")), True),
    "ts_us_ntz": (pa.array(_TS, pa.timestamp("us")), True),
    "ts_us_utc": (pa.array(_TS, pa.timestamp("us", tz="UTC")), True),
    "ts_ms_zoned": (pa.array(_TS, pa.timestamp("ms", tz="America/New_York")), True),
    "list_float": (pa.array([[1.0]], pa.list_(pa.float32())), True),
    "list_int64": (pa.array([[1]], pa.list_(pa.int64())), True),
    "uint32": (pa.array([1], pa.uint32()), False),
    "binary": (pa.array([b"x"]), False),
    "decimal": (pa.array([1], pa.decimal128(10, 2)), False),
    "struct": (pa.array([{"a": 1}]), False),
    "ts_ns_ntz": (pa.array(_TS, pa.timestamp("ns")), False),  # Spark rejects
}


@pytest.mark.parametrize("kind", sorted(_ZOO))
def test_footer_type_mapping_matches_spark(spark, tmp_path, kind):
    arr, mapped = _ZOO[kind]
    path = str(tmp_path / f"{kind}.parquet")
    pq.write_table(pa.table({"c": arr}), path)
    got = footer_schema(path)
    if not mapped:
        assert got is None
        return
    assert got == spark.read.parquet(path).schema


def test_footer_int96_maps_to_timestamp(spark, tmp_path):
    path = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"c": pa.array(_TS, pa.timestamp("ns"))}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    assert footer_schema(path) == spark.read.parquet(path).schema
    assert footer_schema(path).fields[0].dataType.simpleString() == "timestamp"


def test_footer_schema_unknown_for_unreadable_mixed_or_nested_layouts(tmp_path):
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), str(mixed / "part-0.parquet"))
    pq.write_table(pa.table({"a": pa.array([1], pa.int32())}), str(mixed / "part-1.parquet"))
    assert footer_schema(str(mixed)) is None
    hive = tmp_path / "hive" / "k=1"
    hive.mkdir(parents=True)
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), str(hive / "part-0.parquet"))
    assert footer_schema(str(tmp_path / "hive")) is None  # k is a partition column
    assert footer_schema(str(tmp_path / "missing")) is None
    garbage = tmp_path / "garbage.parquet"
    garbage.write_bytes(b"not parquet")
    assert footer_schema(str(garbage)) is None


def test_table_loads_and_register_all_launch_no_jobs(spark):
    with job_counter(spark, "declared-scan-loads") as jobs:
        for t in TABLES:
            assert load_table(spark, SF_MED, t).schema == SCHEMAS[t]
        register_all(spark, SF_MED)
        assert jobs() == 0


def test_lake_sql_registers_only_named_tables(spark):
    for t in TABLES:
        spark.catalog.dropTempView(t)
    df = lake_sql(spark, SF_SMALL, "SELECT COUNT(*) AS n FROM Nation JOIN region ON n_regionkey = r_regionkey")
    assert df.collect()[0].n == 25
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert {"nation", "region"} <= views
    assert not views & (set(TABLES) - {"nation", "region"})


def _drift(table: pa.Table, how: str) -> pa.Table:
    if how == "narrowed_type":
        i = table.schema.get_field_index("o_custkey")
        return table.set_column(i, "o_custkey", table["o_custkey"].cast(pa.int32()))
    if how == "extra_column":
        return table.append_column("o_comment", pa.array(["x"] * table.num_rows))
    if how == "missing_column":
        return table.drop(["o_orderpriority"])
    assert how == "reordered"
    return table.select(list(reversed(table.column_names)))


@pytest.mark.parametrize("how", ["narrowed_type", "extra_column", "missing_column", "reordered"])
def test_drifted_table_falls_back_to_inference(spark, tmp_path, how):
    path = table_path(str(tmp_path), "orders")
    pq.write_table(_drift(pq.read_table(table_path(SF_SMALL, "orders")), how), path)
    with job_counter(spark, f"declared-scan-drift-{how}") as jobs:
        df = load_table(spark, str(tmp_path), "orders")
        assert jobs() >= 1  # Spark's inference ran
    inferred = spark.read.parquet(path).schema
    assert df.schema == inferred != SCHEMAS["orders"]
    assert df.count() == pq.read_metadata(path).num_rows


def test_rewritten_table_is_rechecked(spark, tmp_path):
    path = table_path(str(tmp_path), "orders")
    shutil.copy(table_path(SF_SMALL, "orders"), path)
    assert load_table(spark, str(tmp_path), "orders").schema == SCHEMAS["orders"]
    pq.write_table(_drift(pq.read_table(path), "narrowed_type"), path + ".tmp")
    os.replace(path + ".tmp", path)
    got = load_table(spark, str(tmp_path), "orders").schema
    assert got["o_custkey"].dataType.simpleString() == "int"
