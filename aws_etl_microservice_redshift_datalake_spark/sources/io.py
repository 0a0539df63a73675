"""Batch sources & sinks — SURVEY.md §2.1 S1-S8.

Reference parity (public Redshift ETL semantics; /root/reference is empty,
SURVEY.md §0): these are the Spark-native analogs of the COPY / UNLOAD /
Spectrum-external-table surface an ETL microservice drives:

- S1 load_table          <- lake table scan (Spectrum / COPY source)
- S2 ingest_csv          <- COPY ... FORMAT CSV (declared DDL, bad-row mode)
- S3 ingest_json         <- COPY ... FORMAT JSON
- S4 read_jdbc           <- warehouse pull (Redshift via JDBC)
- S5 write_jdbc          <- warehouse push
- S6 unload              <- UNLOAD ... PARTITION BY ... MAXFILESIZE
- S7 unload_csv          <- UNLOAD ... CSV GZIP
- S8 register_all        <- external-table/catalog registration

Scale notes: everything here is declarative `spark.read`/`df.write`, so the
same code drives s3a:// URIs on a cluster — Parquet scans get predicate
pushdown + row-group skipping (the zone-map analog) for free; `unload`'s
partitionBy + maxRecordsPerFile reproduces slice-parallel UNLOAD layout.
"""

from __future__ import annotations

import functools as _functools
import json
import os
import re

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import SCHEMAS, TABLES


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def normalize_epoch_ts(colname: str):
    """Magnitude-gated epoch-long → µs timestamp conversion (column expr).

    A parquet TIMESTAMP(NANOS) column that surfaces as a long may carry ns
    (legacy ``nanosAsLong`` readers) or µs (schema-coerced readers — Spark
    4.1's stream source with a declared LongType yields µs). Any plausible
    event time is < ~4e16 µs (year 3237) and > ~4e16 ns (mid-1971), so one
    column-level gate converts both correctly with no eager scan. Integer
    ``div``, not ``/``: a float quotient loses sub-µs exactness at 1e18 ns.
    """
    from pyspark.sql import functions as F

    return F.timestamp_micros(
        F.expr(
            f"CASE WHEN abs({colname}) > 40000000000000000 "
            f"THEN {colname} div 1000 ELSE {colname} END"
        )
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: Parquet lake scan through the declared DDL (``schemas.SCHEMAS``),
    the way COPY and Spectrum external tables read a lake.

    The table's parquet footers are checked against the declared schema
    first (pyarrow, cached per file-stat signature, so a rewritten table is
    re-checked); on a match the scan carries ``SCHEMAS[name]`` and building
    it launches no Spark job. Without a declared schema Spark infers one,
    and inference is a job per load. A table rewritten since this process
    last loaded it first has its cached relations refreshed, so no query
    over the lake is served stale data.

    On any drift (a column missing, extra, reordered, or of another or
    unknown type) the load falls back to Spark's own inference, so a
    drifted lake reads exactly as Spark reads it: never cast to the
    declared types, never NULL-filled. On that path, if ``events.ts``
    surfaces as a long (legacy ``nanosAsLong`` readers), a magnitude-gated
    conversion (``normalize_epoch_ts``) restores µs timestamps whether the
    long carries ns or µs.
    """
    path = table_path(sf_dir, name)
    _refresh_if_rewritten(spark, path)
    declared = SCHEMAS.get(name)
    if declared is not None and footer_schema(path) == declared:
        return spark.read.schema(declared).parquet(path)
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):  # pragma: no cover
        df = df.withColumn("ts", normalize_epoch_ts("ts"))
    return df


# file-stat signature of each lake path when this process last loaded it
_LOADED_SIGS: dict[str, tuple] = {}


def _refresh_if_rewritten(spark: SparkSession, path: str) -> None:
    """Refresh every cached relation read from ``path`` when its files changed
    since this process last loaded it. The CacheManager matches a rebuilt plan
    by the table's path, not its file state, so without this a relation
    cached before an in-place rewrite is served stale. The refresh re-caches
    lazily, and ``storageLevel`` still reads as cached meanwhile."""
    try:
        sig = _stat_sig(path)
    except FileNotFoundError:
        return
    if _LOADED_SIGS.setdefault(path, sig) != sig:
        spark.catalog.refreshByPath(path)
        _LOADED_SIGS[path] = sig


def persisted(df: DataFrame) -> DataFrame:
    """``df`` cached behind a count barrier, unless the CacheManager already
    holds an equal plan (``storageLevel`` is its canonical-plan lookup). The
    barrier matters: a lazy cache read by several stages of one action is
    computed by each of them."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist().count()
    return df


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan with a known schema: ``schema`` when the caller holds
    it, else the one the footers carry (:func:`footer_schema`). Spark's
    inference job runs only when neither is known."""
    schema = schema or footer_schema(path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def _parquet_files(path: str) -> list[str]:
    """Every parquet data file under ``path`` (recursively — nested and
    hive-partitioned `k=v/` layouts included). Raises on zero files: a
    silent 0 here would feed garbage into every size-adaptive parameter
    downstream (LSH banding from n=0, isqrt(0) IVF cells, log(0) IDF) with
    no error anywhere near the cause (ADVICE r3)."""
    if os.path.isdir(path):
        found = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet") or f.startswith("part-"):
                    found.append(os.path.join(root, f))
        if not found:
            raise FileNotFoundError(f"no parquet data files under {path}")
        return sorted(found)
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    return [path]


def _stat_sig(path: str) -> tuple:
    """Freshness fingerprint for the metadata caches: (file, size, mtime_ns)
    per data file. A rewrite/amplification at the same path changes the
    signature, so cached footer stats can never go stale within one process
    (ADVICE r3); stat calls are ~µs, footer parses are the part worth
    caching."""
    return tuple(
        (f, os.path.getsize(f), os.stat(f).st_mtime_ns) for f in _parquet_files(path)
    )


@_functools.lru_cache(maxsize=None)
def _rows_for(sig: tuple) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f, _sz, _mt in sig)


# Spark stores the DataFrame schema it wrote under this footer key and reads
# it back verbatim (ParquetFileFormat.readSchemaFromFooter); files without it
# go through Spark's parquet-type converter, mirrored by _PRIMITIVES.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# (physical type, logical-type JSON fields) -> Spark type, per Spark's
# ParquetToSparkSchemaConverter at its defaults (inferTimestampNTZ on,
# binaryAsString off). A leaf not listed here (unsigned ints, decimals,
# binary, TIMESTAMP(NANOS), ...) makes the schema unknown, which sends the
# read to Spark's own inference.
_PRIMITIVES = {
    ("BOOLEAN", "None"): T.BooleanType(),
    ("INT32", "None"): T.IntegerType(),
    ("INT32", "Int", 8, True): T.ByteType(),
    ("INT32", "Int", 16, True): T.ShortType(),
    ("INT32", "Int", 32, True): T.IntegerType(),
    ("INT32", "Date"): T.DateType(),
    ("INT64", "None"): T.LongType(),
    ("INT64", "Int", 64, True): T.LongType(),
    ("INT64", "Timestamp", False, "milliseconds"): T.TimestampNTZType(),
    ("INT64", "Timestamp", False, "microseconds"): T.TimestampNTZType(),
    ("INT64", "Timestamp", True, "milliseconds"): T.TimestampType(),
    ("INT64", "Timestamp", True, "microseconds"): T.TimestampType(),
    ("INT96", "None"): T.TimestampType(),
    ("FLOAT", "None"): T.FloatType(),
    ("DOUBLE", "None"): T.DoubleType(),
    ("BYTE_ARRAY", "String"): T.StringType(),
}


def _leaf_type(col) -> T.DataType | None:
    lt = json.loads(col.logical_type.to_json())
    key = (col.physical_type, lt["Type"])
    if lt["Type"] == "Int":
        key += (lt["bitWidth"], lt["isSigned"])
    elif lt["Type"] == "Timestamp":
        key += (lt["isAdjustedToUTC"], lt["timeUnit"])
    return _PRIMITIVES.get(key)


def _all_nullable(j):
    """A schema's JSON with every field, array element and map value made
    nullable — Spark reads file sources through ``dataSchema.asNullable``."""
    if isinstance(j, list):
        return [_all_nullable(v) for v in j]
    if not isinstance(j, dict):
        return j
    flags = ("nullable", "containsNull", "valueContainsNull")
    return {k: True if k in flags else _all_nullable(v) for k, v in j.items()}


def _file_schema(md) -> T.StructType | None:
    import pyarrow as pa

    written = (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if written is not None:
        return T.StructType.fromJson(_all_nullable(json.loads(written)))
    fields = []
    for i, f in enumerate(md.schema.to_arrow_schema()):
        # only single-leaf columns map, so up to a bail-out field i is leaf i
        t = _leaf_type(md.schema.column(i))
        if pa.types.is_list(f.type) or pa.types.is_large_list(f.type):
            nested = pa.types.is_nested(f.type.value_type)
            t = None if nested or t is None else T.ArrayType(t, True)
        elif pa.types.is_nested(f.type):
            t = None
        if t is None:
            return None
        fields.append(T.StructField(f.name, t, True))
    return T.StructType(fields)


@_functools.lru_cache(maxsize=None)
def _schema_for(sig: tuple) -> T.StructType | None:
    import pyarrow.parquet as pq

    try:
        schemas = [_file_schema(pq.read_metadata(f)) for f, _sz, _mt in sig]
    except (OSError, ValueError, KeyError, TypeError):
        # an unreadable footer or schema string: let Spark's reader report it
        return None
    first = schemas[0]
    return first if all(s == first for s in schemas) else None


def footer_schema(path: str) -> T.StructType | None:
    """The schema Spark would infer for the parquet data at ``path``, read
    from the file footers by pyarrow — no Spark job. Cached per file-stat
    signature like the row and split counts.

    ``None`` when it cannot be known without Spark: files whose schemas
    differ, a type outside the mapped set, a nested (e.g. hive-partitioned)
    layout whose directory names add partition columns, or no readable
    data at all."""
    try:
        sig = _stat_sig(path)
    except FileNotFoundError:
        return None
    root = os.path.normpath(path)
    for f, _sz, _mt in sig:
        f = os.path.normpath(f)
        if f != root and os.path.dirname(f) != root:
            return None
    return _schema_for(sig)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — free, no Spark job.

    This is the statistics pre-pass for size-adaptive operators (LSH
    parameter selection, IDF corpus constants): the same numbers a
    cost-based planner reads from catalog stats, obtained from the file
    footers the way ANALYZE does. Cached per file-stat fingerprint so
    repeated query construction never re-reads footers but a rewritten
    table is re-read; invisible to the query plan (no eager job before the
    first real stage)."""
    return _rows_for(_stat_sig(table_path(sf_dir, name)))


@_functools.lru_cache(maxsize=None)
def _splits_for(sig: tuple, max_partition_bytes: int, open_cost: int) -> int:
    import math

    import pyarrow.parquet as pq

    per_file = 0
    packed_bytes = 0
    for f, size, _mt in sig:
        rgs = pq.ParquetFile(f).metadata.num_row_groups
        per_file += max(1, min(math.ceil(size / max_partition_bytes), rgs))
        packed_bytes += size + open_cost
    # Spark packs small files into shared partitions (maxPartitionBytes
    # bins, openCostInBytes padding per file): for a many-small-files layout
    # the per-file sum overstates parallelism, so bound it by the packing
    # model — otherwise spread() would skip the repartition in exactly the
    # under-split case it exists for (ADVICE r3).
    packed = max(1, math.ceil(packed_bytes / max_partition_bytes))
    return min(per_file, packed)


def _scan_splits(path: str, max_partition_bytes: int = 128 << 20) -> int:
    """Effective scan parallelism from parquet metadata: Spark assigns one
    task per byte-range split (ceil(size / maxPartitionBytes)), a row group
    is readable by only one task (useful splits ≤ row_groups per file), and
    small files get PACKED into shared partitions (4 MiB openCostInBytes
    padding each) — the estimate models all three. Driver-side footer reads
    only — replaces the old ``df.rdd.getNumPartitions()`` probe, which cost
    an eager RDD conversion per load."""
    return _splits_for(_stat_sig(path), max_partition_bytes, 4 << 20)


def spread(df: DataFrame, spark: SparkSession, path: str | None = None) -> DataFrame:
    """Round-robin repartition a narrow scan up to the session's parallelism —
    but ONLY when the source actually under-splits (the sf* corpus tables ship
    as one single-row-group parquet file each, which pins every downstream
    pipeline to one core; measured 4-12× at sf0.1). On a many-file cluster
    corpus the scan already yields >= parallelism splits and this is a no-op —
    no gratuitous full shuffle ahead of every pipeline.

    With ``path`` the under-split check is pure parquet-footer metadata
    (cached, zero Spark jobs); without it, falls back to the RDD partition
    probe (eager plan conversion — avoid in queries())."""
    target = spark.sparkContext.defaultParallelism
    splits = _scan_splits(path) if path is not None else df.rdd.getNumPartitions()
    if splits >= target:
        return df
    return df.repartition(target)


def load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1 + spread: the standard entry for compute-heavy operators reading a
    corpus table — metadata-driven, no eager work at query-build time."""
    return spread(load_table(spark, sf_dir, name), spark, table_path(sf_dir, name))


def register_all(spark: SparkSession, sf_dir: str, sql: str | None = None) -> None:
    """S8: register driver tables as temp views (external-table analog),
    each read through its declared schema (:func:`load_table`).

    With ``sql``, only the tables that text names are registered — a view
    costs a footer check, so a query pays for the tables it reads and no
    more. Without it, all of ``TABLES``.
    """
    names = TABLES if sql is None else [
        t for t in TABLES if re.search(rf"\b{t}\b", sql, re.IGNORECASE)
    ]
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def lake_sql(spark: SparkSession, sf_dir: str, sql: str, **kwargs) -> DataFrame:
    """Run ``sql`` over the lake's tables, registering only the ones it
    names (``kwargs`` pass through to ``spark.sql``, e.g. ``args``)."""
    register_all(spark, sf_dir, sql)
    return spark.sql(sql, **kwargs)


def ingest_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    header: bool = True,
    delimiter: str = ",",
    corrupt_col: str | None = None,
) -> DataFrame:
    """S2: schema-enforced CSV ingest (COPY ... FORMAT CSV analog).

    ``mode='PERMISSIVE'`` + a corrupt-record column reproduces COPY's
    MAXERROR-style bad-row tolerance; ``mode='FAILFAST'`` reproduces strict
    loads. Declared schema, never inference — mirrors COPY's target DDL.
    """
    reader = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("mode", mode)
    )
    if corrupt_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.csv(path)


def ingest_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S3: newline-delimited JSON ingest (COPY ... FORMAT JSON analog)."""
    return spark.read.schema(schema).option("mode", mode).json(path)


def jdbc_read_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> dict[str, str]:
    """S4's option contract, separated from ``.load()`` so the partitioned-read
    construction is unit-testable without a live endpoint (the test container
    has none). Validates the partitioning triple the way Spark's JDBC relation
    would at runtime — catching a broken contract at build time instead."""
    opts: dict[str, str] = {"url": url, "dbtable": table}
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and upper_bound")
        if int(upper_bound) <= int(lower_bound):
            raise ValueError(
                f"upper_bound ({upper_bound}) must be > lower_bound ({lower_bound})"
            )
        if num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    opts.update(options)
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """S4: JDBC source (Redshift/warehouse pull).

    With a numeric ``partition_column`` Spark issues ``num_partitions``
    range-predicated queries in parallel — the slice-parallel UNLOAD-read
    analog. Option construction lives in :func:`jdbc_read_options` (unit
    tested); the ``.load()`` path itself runs END-TO-END in tests against
    in-process Derby (``jdbc:derby:memory:`` — the embedded driver ships in
    pyspark/jars), including the partitioned parallel read and JDBC filter
    pushdown (tests/test_jdbc.py). Only network/auth plumbing is
    cluster-only.
    """
    opts = jdbc_read_options(
        url, table, partition_column, lower_bound, upper_bound, num_partitions, **options
    )
    return spark.read.format("jdbc").options(**opts).load()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options: str) -> None:
    """S5: JDBC sink (warehouse push). ``.save()`` runs end-to-end in tests
    against in-process Derby — overwrite and append modes both verified
    (tests/test_jdbc.py)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def unload(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    compression: str = "snappy",
    mode: str = "overwrite",
) -> None:
    """S6: partitioned Parquet sink (UNLOAD ... PARTITION BY analog).

    partitionBy gives hive-style lake layout (enables partition pruning +
    dynamic partition pruning downstream); maxRecordsPerFile bounds file size
    like UNLOAD MAXFILESIZE.
    """
    writer = df.write.mode(mode).option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def unload_csv(df: DataFrame, path: str, codec: str = "gzip", header: bool = True,
               mode: str = "overwrite") -> None:
    """S7: compressed CSV sink (UNLOAD ... CSV GZIP analog)."""
    (
        df.write.mode(mode)
        .option("compression", codec)
        .option("header", str(header).lower())
        .csv(path)
    )


def write_sorted_table(
    df: DataFrame, path: str, dist_col: str, sort_cols: list[str], buckets: int | None = None
) -> None:
    """DISTKEY/SORTKEY analog: repartition by the distribution key and sort
    within partitions before writing, so Parquet row-group min/max stats act
    as zone maps for downstream scans (SURVEY.md §4.2)."""
    out = df.repartition(dist_col).sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(path)


def compact(
    spark: SparkSession, path: str, target_records_per_file: int = 1_000_000
) -> int:
    """VACUUM-style small-file compaction: rewrite a parquet directory into
    ⌈rows / target_records_per_file⌉ right-sized files and atomically swap
    it in. Returns the new file count.

    Why it exists at 100 TB: streaming sinks and per-partition writers leave
    thousands of KB-sized files; every downstream scan then pays one task +
    one footer-read per file, and the NameNode/listing layer pays the
    metadata. Periodic compaction (Redshift VACUUM / OPTIMIZE analog) is
    standard lake maintenance. The rewrite is one shuffle-free coalesce when
    shrinking (or a round-robin repartition when the source is a single
    oversized file), staged to a sibling ``<path>.compacting`` directory and
    swapped with two renames — readers see the old or the new layout, never
    a partial one. Hive-partitioned layouts compact per partition directory
    with the same routine.

    Sibling verb: ``sources.maintenance.compact`` plans by target BYTES
    (the maxPartitionBytes-aligned form) and rewrites to a destination the
    caller swaps; ``maintenance.clustered_write`` adds the SORTKEY-style
    sorted layout. This one stays records-based and in-place for
    streaming-sink upkeep. Both size the rewrite from parquet FOOTER
    metadata — no count() action over the data."""
    import math
    import shutil

    df = read_parquet(spark, path)
    n = _rows_for(_stat_sig(path))
    n_files = max(1, math.ceil(n / target_records_per_file))
    staged = path.rstrip("/") + ".compacting"
    old = path.rstrip("/") + ".old"
    shutil.rmtree(staged, ignore_errors=True)
    cur_files = len(_parquet_files(path))
    out = df.coalesce(n_files) if n_files <= cur_files else df.repartition(n_files)
    out.write.parquet(staged)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old, ignore_errors=True)
    return n_files
