"""Declared schemas for the ten driver tables (SURVEY.md §1.2, FIXTURES.md).

This is the engine's DDL catalog and its read path: ``sources.io.load_table``
scans every table with ``SCHEMAS[name]`` once the table's parquet footers
match it, so a scan launches no schema-inference job — the way Redshift
COPY and Spectrum external tables read a lake through declared DDL (public
Redshift semantics; reference dir is empty — SURVEY.md §0). A table whose
footers drift from its declaration is read through Spark's own inference
instead. Tests assert each declaration equals what Spark infers from the
shipped parquet.
"""

from __future__ import annotations

from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _s(fields: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, T.StructType] = {
    "region": _s([
        ("r_regionkey", T.IntegerType()),
        ("r_name", T.StringType()),
    ]),
    "nation": _s([
        ("n_nationkey", T.IntegerType()),
        ("n_name", T.StringType()),
        ("n_regionkey", T.IntegerType()),
    ]),
    "customer": _s([
        ("c_custkey", T.LongType()),
        ("c_name", T.StringType()),
        ("c_nationkey", T.IntegerType()),
        ("c_acctbal", T.DoubleType()),
        ("c_mktsegment", T.StringType()),
    ]),
    "supplier": _s([
        ("s_suppkey", T.LongType()),
        ("s_name", T.StringType()),
        ("s_nationkey", T.IntegerType()),
        ("s_acctbal", T.DoubleType()),
    ]),
    "part": _s([
        ("p_partkey", T.LongType()),
        ("p_name", T.StringType()),
        ("p_brand", T.StringType()),
        ("p_type", T.StringType()),
        ("p_size", T.IntegerType()),
        ("p_retailprice", T.DoubleType()),
    ]),
    "orders": _s([
        ("o_orderkey", T.LongType()),
        ("o_custkey", T.LongType()),
        ("o_orderstatus", T.StringType()),
        ("o_totalprice", T.DoubleType()),
        # parquet isAdjustedToUTC=false → Spark 4 reads TIMESTAMP_NTZ
        ("o_orderdate", T.TimestampNTZType()),
        ("o_orderpriority", T.StringType()),
    ]),
    "lineitem": _s([
        ("l_orderkey", T.LongType()),
        ("l_partkey", T.LongType()),
        ("l_suppkey", T.LongType()),
        ("l_linenumber", T.IntegerType()),
        ("l_quantity", T.DoubleType()),
        ("l_extendedprice", T.DoubleType()),
        ("l_discount", T.DoubleType()),
        ("l_tax", T.DoubleType()),
        ("l_returnflag", T.StringType()),
        ("l_linestatus", T.StringType()),
        ("l_shipdate", T.TimestampNTZType()),  # see o_orderdate
    ]),
    "events": _s([
        ("event_id", T.LongType()),
        # parquet TIMESTAMP(NANOS), isAdjustedToUTC=false → Spark 4.1 reads
        # TIMESTAMP_NTZ natively, truncating ns → µs
        ("ts", T.TimestampNTZType()),
        ("user_id", T.LongType()),
        ("event_type", T.StringType()),
        ("value", T.DoubleType()),
        ("props", T.StringType()),  # JSON string: {"k": <int>}
    ]),
    "documents": _s([
        ("doc_id", T.LongType()),
        ("text", T.StringType()),
        ("lang", T.StringType()),
        ("source", T.StringType()),
        ("n_chars", T.LongType()),
    ]),
    "embeddings": _s([
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.FloatType())),  # dim 64, L2-normalized
        ("label", T.IntegerType()),
    ]),
}

EMBEDDING_DIM = 64
