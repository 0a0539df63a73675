"""Table-maintenance verbs for a parquet lake: small-file compaction and
clustered (sort-ordered) writes — SURVEY.md §2.1 extension.

Reference parity: Redshift runs these as VACUUM (re-sort + space reclaim)
and automatic table optimization of SORTKEY layouts; on a parquet lake the
same verbs are file-level rewrites (public semantics; /root/reference is
empty — SURVEY.md §0).

Why these are first-class at 100 TB:
- Streaming/incremental ingest produces thousands of KB-sized files per
  partition; every downstream scan then pays one task + one footer read +
  one open per file (Spark packs them ~4 MiB openCostInBytes apart, so
  parallelism collapses while task COUNT explodes). Compaction is the
  standard fix and the measured win behind every lakehouse's OPTIMIZE.
- A clustered write (range-partition by key, sort within files) gives each
  file a tight, non-overlapping min/max envelope on the cluster key, so
  predicate pushdown prunes whole files from the footer alone — the parquet
  analog of a Redshift SORTKEY. Without it every file's [min,max] spans the
  domain and pushdown inspects all of them.

Both verbs are metadata-driven (parquet footers via sources.io — no eager
Spark job to size the rewrite) and single-shuffle: compaction is one
round-robin repartition to the target file count; clustering is one range
exchange + in-partition sort.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import QTY_MAX, money_col, o_money_col, query, rnd
from .io import _parquet_files, load_table, read_parquet

DEFAULT_TARGET_FILE_BYTES = 128 << 20  # the maxPartitionBytes-aligned sweet spot


def table_bytes(path: str) -> int:
    """Total data bytes under a parquet path, from the filesystem (the same
    number a catalog's totalSize stat carries)."""
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def plan_compaction(
    path: str, target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES
) -> tuple[int, int]:
    """(n_files_now, n_files_target) for a compaction of ``path``.

    Target = ceil(total_bytes / target_file_bytes) — one task writes one
    output file, each ~target size. Pure footer/stat metadata; returns
    without any Spark work so callers can skip no-op compactions (already
    at or below target) — the idempotence check every OPTIMIZE scheduler
    needs."""
    files = _parquet_files(path)
    target = max(1, math.ceil(table_bytes(path) / target_file_bytes))
    return len(files), target


def compact(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    schema: T.StructType | None = None,
) -> tuple[int, int]:
    """Rewrite a many-small-files parquet table into ~target-sized files.

    One round-robin repartition to the planned file count (repartition, not
    coalesce: coalesce(n) would also CAP the read parallelism at n, making
    the rewrite itself single-threaded exactly when the input is one big
    file; the full shuffle costs one pass and buys even output sizes).
    Writes to ``dst_path`` then the caller swaps — never in place, so a
    failed rewrite leaves the table readable (the lakehouse OPTIMIZE
    protocol; true table formats make the swap atomic via their commit
    log, which plain parquet directories cannot express).
    ``schema`` is the table's schema when the caller holds it; otherwise
    the footers supply it, and Spark infers it only if they cannot.
    Returns (n_files_before, n_files_after)."""
    n_before, n_target = plan_compaction(src_path, target_file_bytes)
    df = read_parquet(spark, src_path, schema)
    df.repartition(n_target).write.mode("overwrite").parquet(dst_path)
    return n_before, len(_parquet_files(dst_path))


def clustered_write(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int
) -> None:
    """SORTKEY-style clustered write: range-partition rows across ``n_files``
    by ``cluster_cols`` and sort within each partition, so every output file
    covers a disjoint key range and its footer min/max prunes exactly.

    repartitionByRange samples the key distribution (reservoir per
    partition — one extra narrow pass) to place near-equal-sized range
    bounds, so skewed keys still yield balanced files. The in-file sort
    additionally gives page-level (row-group) min/max locality for readers
    that index into pages."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def file_ranges(path: str, col: str) -> list[tuple]:
    """Per-file (min, max) of ``col`` from parquet footer statistics — the
    evidence a clustered layout actually prunes (disjoint envelopes) and
    the exact metadata a reader's file-skipping consults."""
    import pyarrow.parquet as pq

    out = []
    for f in _parquet_files(path):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return out


from ..scratch import process_scratch


@query(
    "q_compact_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(SUM({o_money_col("l_quantity", QTY_MAX)}), 2) AS sum_qty,
           ROUND(SUM({o_money_col("l_extendedprice")}), 2) AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family maintenance: fragment lineitem into many small files (the
    streaming-ingest pathology, forced via tiny maxRecordsPerFile), compact
    to the footer-planned target, and aggregate the COMPACTED table. The
    hash match against the oracle on the ORIGINAL table proves the rewrite
    is lossless; tests/test_maintenance.py additionally asserts the file
    count collapses and clustered envelopes are disjoint."""
    tag = sf_dir.strip("/").replace("/", "-")
    frag = f"{process_scratch()}/frag-lineitem-{tag}"
    compacted = f"{process_scratch()}/compact-lineitem-{tag}"
    src = load_table(spark, sf_dir, "lineitem")
    # Parallelize the fragmentation fixture (r15, guide §6): lineitem at
    # sf0.1 is ONE parquet file → one scan task wrote all ~61 fragment
    # files serially (measured 2.6 s of the operator's 5.4 s; one write
    # task per ~8 planned fragments measures 1.7 s, and one per fragment
    # regresses on task overhead). The task count derives from the footer
    # row count (no Spark job), never from the core count; the round-robin
    # shuffle is deterministic (sort-before-repartition) and the fragment
    # multiset is unchanged — only which task writes which rows.
    from .io import table_rows

    n_frag = math.ceil(table_rows(sf_dir, "lineitem") / 10_000)
    (
        src.repartition(max(1, n_frag // 8))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 10_000)
        .parquet(frag)
    )
    # both rewrites keep lineitem's schema, so neither read-back infers it
    compact(spark, frag, compacted, schema=src.schema)
    back = spark.read.schema(src.schema).parquet(compacted)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        rnd(F.sum(money_col(F.col("l_quantity"), QTY_MAX))).alias("sum_qty"),
        rnd(F.sum(money_col(F.col("l_extendedprice")))).alias("sum_price"),
    )
