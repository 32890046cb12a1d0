"""Z-order (Morton) multi-dimensional clustering for data layout.

1-D sorting gives tight parquet min/max stats on ONE column
(tests/test_layout.py proves the row-group-skipping effect); Z-order
interleaves the bits of TWO filter columns so a sort by the Morton code
keeps BOTH columns' value ranges narrow within every file/row-group —
the standard layout trick (Delta/Iceberg `ZORDER BY`) for tables
filtered on either or both of two keys.

Everything here is integer bit arithmetic (8-bit quantization per
dimension, 16-bit Morton code, unrolled shift/mask expressions), so the
DuckDB oracle is exact. The query reports per-Z-bucket min/max spans of
both source columns: narrow spans == effective skipping.

Scale: the Morton code is a map-side expression; clustering a 100 TB
table is `repartitionByRange(zcode).sortWithinPartitions(zcode)` +
write — one range shuffle, after which scans filtered on either key
prune most files by footer stats alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import DAY_US, query
from ..tables import load

_BITS = 8  # per-dimension quantization
_BUCKET_SHIFT = 8  # z >> 8 → 256 buckets


def _morton_spark(a: str, b: str):
    """Interleave the low 8 bits of integer columns a (even positions)
    and b (odd positions) into a 16-bit Morton code."""
    z = F.lit(0)
    for i in range(_BITS):
        z = z + F.shiftleft(
            F.shiftright(F.col(a), i).bitwiseAND(F.lit(1)), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(F.col(b), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


def _morton_sql(a: str, b: str) -> str:
    terms = []
    for i in range(_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "layout_zorder_stats",
    oracle=f"""
    WITH q AS (
      SELECT l_partkey % 256 AS pk8, l_suppkey % 256 AS sk8
      FROM lineitem
    ),
    z AS (
      SELECT pk8, sk8,
             ({_morton_sql("pk8", "sk8")}) >> {_BUCKET_SHIFT} AS zbucket
      FROM q
    )
    SELECT zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(pk8) AS BIGINT) AS pk_min,
           CAST(MAX(pk8) AS BIGINT) AS pk_max,
           CAST(MIN(sk8) AS BIGINT) AS sk_min,
           CAST(MAX(sk8) AS BIGINT) AS sk_max
    FROM z
    GROUP BY zbucket
    ORDER BY zbucket
    """,
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code lineitem on (l_partkey, l_suppkey) quantized to 8
    bits each, bucket by the high byte of the 16-bit code, and report
    each bucket's min/max span on BOTH dimensions. Every bucket spans at
    most 16 consecutive values in each dimension (the Z-curve locality
    guarantee: the high byte fixes the top 4 bits of both coordinates) —
    the property that makes footer-stat pruning work on either filter
    column after a Z-sort."""
    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("pk8"),
        (F.col("l_suppkey") % 256).alias("sk8"),
    )
    z = li.withColumn(
        "zbucket",
        F.shiftright(_morton_spark("pk8", "sk8"), _BUCKET_SHIFT),
    )
    return (
        z.groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("pk8").alias("pk_min"),
            F.max("pk8").alias("pk_max"),
            F.min("sk8").alias("sk_min"),
            F.max("sk8").alias("sk_max"),
        )
        .orderBy("zbucket")
    )


# --- small-file compaction planning ----------------------------------------

_FILE_BYTES_PER_ROW = 1000  # synthetic manifest: day-file size proxy
_COMPACT_TARGET = 2_000_000  # bin capacity in bytes


def assign_compaction_bins(
    manifest: DataFrame, target_bytes: int = _COMPACT_TARGET
) -> DataFrame:
    """Sorted-greedy bin assignment over a (file_id, size_bytes)
    manifest: files ordered by (size desc, id), bin = running-bytes-
    before div target. Shared by the layout_compaction_plan query and
    any connector whose small-files problem needs a rewrite plan
    (e.g. the reffile directory source — tests/test_reffile_source.py).

    Integer `div` (not double `/` + cast): running bytes are
    non-negative so div == floor-div, and the bin stays exact past
    2^53 bytes — the oracle's `//` semantics at any manifest scale."""
    w = (
        W.orderBy(F.desc("size_bytes"), "file_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return manifest.withColumn(
        "running_bytes",
        F.coalesce(F.sum("size_bytes").over(w), F.lit(0).cast("long")),
    ).withColumn("bin", F.expr(f"running_bytes div {target_bytes}"))


@query(
    "layout_compaction_plan",
    oracle=f"""
    WITH manifest AS (
      SELECT epoch_us(ts) // {DAY_US} AS file_id,
             CAST(COUNT(*) * {_FILE_BYTES_PER_ROW} AS BIGINT) AS size_bytes
      FROM events GROUP BY file_id
    ),
    planned AS (
      SELECT file_id, size_bytes,
             CAST(COALESCE(SUM(size_bytes) OVER (
               ORDER BY size_bytes DESC, file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) // {_COMPACT_TARGET} AS BIGINT) AS bin
      FROM manifest
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(size_bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(file_id) AS BIGINT) AS first_file,
           CAST(MAX(file_id) AS BIGINT) AS last_file
    FROM planned GROUP BY bin ORDER BY bin
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the table-maintenance op every
    lakehouse runs: group undersized files into target-size rewrite
    bins. The manifest here derives deterministically from events (one
    file per day, size ∝ row count); the planner is sorted greedy fill —
    files ordered by (size desc, id), bin = floor(running-bytes-before /
    target) — a single window cumsum, fully deterministic, within 2× of
    optimal bin count (each bin except the last is ≥ half full by
    construction).

    Scale: the manifest is metadata (one row per FILE, not per data
    row) — millions of rows at 100 TB, so the single-partition cumsum
    window is safe; the actual rewrite jobs read each bin's file list
    independently. Integer epoch-us day math (TZ-free)."""
    ev = load(spark, sf_dir, "events").select("ts_us")
    manifest = (
        ev.groupBy(F.expr(f"ts_us div {DAY_US}").alias("file_id"))
        .agg(
            (F.count(F.lit(1)) * _FILE_BYTES_PER_ROW)
            .cast("long")
            .alias("size_bytes")
        )
    )
    return (
        assign_compaction_bins(manifest).groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("size_bytes").cast("long").alias("total_bytes"),
            F.min("file_id").cast("long").alias("first_file"),
            F.max("file_id").cast("long").alias("last_file"),
        )
        .orderBy("bin")
    )
