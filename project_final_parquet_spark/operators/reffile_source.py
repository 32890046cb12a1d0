"""The reference's encrypted columnar file format as a FIRST-CLASS Spark
connector, via the Python Data Source API (new in Spark 4.x):

    spark.dataSource.register(RefFileDataSource)
    spark.read.format("reffile")
         .option("master_key_hex", ...).load("/dir/of/*.ref")

This is the parity capstone for SURVEY.md §2.1 O1-O13: a user of the
reference can point Spark at the reference's OWN files (byte layout per
``encryption/reffile.py`` — [column blobs][AES-GCM footer][u64 length
trailer], reference src/parquet_writer.cpp:165-234) and query them with
the full DataFrame/SQL surface. Decryption runs EXECUTOR-SIDE through
the same pure-Python codec the driver reader uses
(``encryption/reffile.py::make_reffile_codec`` — no SparkSession needed
inside the reader), one partition per file, so a directory of reference
files scans in parallel like any other source.

Key cascade (reference src/parquet_reader.cpp:103-131 semantics):
per-column key wins, else KMS-unwrapped key (the reference's XOR-0xAA
stub contract), else the column is surfaced as ``[ENCRYPTED]`` —
masking, not failure, exactly like the reference.

Pickling note (the make_fake_decoder rule, hit for real here): data
source classes are cloudpickled to SEPARATE Python worker processes
that cannot import this package (the driver may run from any cwd with
a sys.path hack). Everything the class touches is therefore defined
INSIDE ``make_reffile_datasource()`` or returned by a factory
(``make_reffile_codec``) — a dynamically-created class or function
(``<locals>`` in its qualname) ships by value, module-level ones by
reference, and by-reference breaks with ModuleNotFoundError on the
data-source worker (tests/test_reffile_source.py runs that drill).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..encryption.cell import ENCRYPTED_PLACEHOLDER  # noqa: F401 (re-export)
from ..encryption.reffile import make_reffile_codec
from ..registry import query
from ..tables import load


def make_reffile_datasource():
    """Build the DataSource class with every dependency factory-local so
    cloudpickle ships the whole closure by value to the data-source
    workers (see module docstring)."""

    import json as _json
    import os as _os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )
    from pyspark.sql.types import StringType, StructField, StructType

    codec = make_reffile_codec()

    def _read_file(path: str, opts: dict):
        """One file → (row count, {column: values}); a column with no
        key reads [ENCRYPTED], a wrapped key unwraps by XOR 0xAA."""
        n, columns, _ = codec.decode_file(
            path,
            opts["master_key_hex"],
            requested=None,
            column_keys=_json.loads(opts.get("column_keys", "{}")),
            unwrap=codec.xor_aa,
            fallback_key_hex=opts.get("fallback_key_hex"),
        )
        return n, columns

    def _paths(path: str) -> list[str]:
        if _os.path.isdir(path):
            return sorted(
                _os.path.join(path, p)
                for p in _os.listdir(path)
                if p.endswith(".ref")
            )
        return [path]

    def file_rows(path: str, options: dict, fields: list[str]) -> list[tuple]:
        return codec.rows(*_read_file(path, options), fields)

    class RefFileReader(DataSourceReader):
        def __init__(self, options: dict, schema: StructType):
            self.options = dict(options)
            self.fields = [f.name for f in schema.fields]

        def partitions(self):
            # one partition per reference file — a directory of them
            # scans in parallel; the format itself is single-file
            return [InputPartition(p) for p in _paths(self.options["path"])]

        def read(self, partition):
            return iter(file_rows(partition.value, self.options, self.fields))

    class RefFileStreamReader(SimpleDataSourceStreamReader):
        """Streaming form: the offset is the count of (sorted) ``.ref``
        files consumed, so new reference files arriving in the directory
        feed micro-batches — file-arrival semantics like the built-in
        file stream source. The Simple reader fetches on the driver
        (fine for the format's small single files); a partition-parallel
        ``streamReader`` is the production upgrade path, same offset
        log."""

        def __init__(self, options: dict, fields: list[str]):
            self.options = dict(options)
            self.fields = fields

        def initialOffset(self) -> dict:
            return {"idx": 0}

        def _rows(self, paths: list[str]):
            # LIST iterator, not a generator: the prefetching cache
            # copy.copy()s iterators, which generators cannot survive
            out = []
            for p in paths:
                out += file_rows(p, self.options, self.fields)
            return iter(out)

        def read(self, start: dict):
            paths = _paths(self.options["path"])
            return self._rows(paths[start["idx"] :]), {"idx": len(paths)}

        def readBetweenOffsets(self, start: dict, end: dict):
            # replay for recovery: offsets name a stable sorted range
            paths = _paths(self.options["path"])
            return self._rows(paths[start["idx"] : end["idx"]])

    class RefFileDataSource(DataSource):
        """``spark.read.format("reffile")`` / ``spark.readStream`` —
        options: ``path``, ``master_key_hex`` (footer), optional
        ``column_keys`` (JSON name→hex), ``fallback_key_hex``. Schema =
        union of footer columns (all STRING, lexicographic), inferred
        from the first file."""

        read_file = staticmethod(_read_file)  # for read_ref_file below

        @classmethod
        def name(cls) -> str:
            return "reffile"

        def schema(self):
            # footer-only read (no blob decrypt needed for the schema)
            first = _paths(self.options["path"])[0]
            footer, _, _ = codec.open_footer(first, self.options["master_key_hex"])
            return StructType(
                [
                    StructField(c, StringType())
                    for c in sorted(footer["columns"])
                ]
            )

        def reader(self, schema: StructType) -> DataSourceReader:
            return RefFileReader(self.options, schema)

        def simpleStreamReader(self, schema: StructType):
            return RefFileStreamReader(
                self.options, [f.name for f in schema.fields]
            )

    return RefFileDataSource


RefFileDataSource = make_reffile_datasource()


def read_ref_file(path: str, opts: dict):
    """One file → (sorted column names, per-column value lists).
    Unresolvable keys mask the column with [ENCRYPTED] per row."""
    _, columns = RefFileDataSource.read_file(path, opts)
    return list(columns), list(columns.values())


# --- driver-gate query ------------------------------------------------------

_MASTER_HEX = "00112233445566778899aabbccddeeff" * 2  # 32B test master key
_SHARDS = 3
_KEY_LIMIT = 30


def staged_ref_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write customer (c_custkey < 30, string-projected) as 3 reference
    files sharded by custkey % 3 (once per sf) using the byte-layout
    writer, KMS-wrapped data key — the files any reference-format
    reader, including the reference itself, can decrypt."""
    import tempfile

    from ..encryption.config import EncryptionConfig
    from ..encryption.reffile import write_reference_format

    root = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_sources",
        os.path.basename(sf_dir.rstrip("/")),
        "ref_ds",
    )
    marker = os.path.join(root, "_SUCCESS")
    if not os.path.exists(marker):
        os.makedirs(root, exist_ok=True)
        cust = (
            load(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") < _KEY_LIMIT)
            .select(
                F.col("c_custkey").cast("string").alias("c_custkey"),
                "c_name",
                "c_mktsegment",
            )
        )
        cfg = EncryptionConfig(master_key_hex=_MASTER_HEX, use_kms=True)
        for s in range(_SHARDS):
            shard = cust.filter(
                F.col("c_custkey").cast("long") % _SHARDS == s
            )
            write_reference_format(shard, os.path.join(root, f"part{s}.ref"), cfg)
        open(marker, "w").close()
    return root


@query(
    "src_reffile_datasource",
    oracle=f"""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(c_custkey) AS BIGINT) AS min_key,
           CAST(MAX(c_custkey) AS BIGINT) AS max_key
    FROM customer WHERE c_custkey < {_KEY_LIMIT}
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def src_reffile_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end connector parity: customer rows round-trip through the
    reference's encrypted columnar FILE FORMAT (KMS-wrapped data key,
    exact byte layout) and come back through ``spark.read.format(
    "reffile")`` — the Python Data Source API reader decrypting
    executor-side, one partition per file — then aggregate in plain
    DataFrame code. Values must match the same aggregate computed from
    the parquet corpus directly, proving write → encrypt → scan →
    decrypt → decode loses nothing.

    Scale: each reference file is one partition (the format is
    single-file columnar); a directory of N files scans N-wide. The
    decrypt is per-blob (column-granular), so column pruning at the
    reader level would skip whole blobs — the same selective-decrypt
    property the reference's own reader has."""
    path = staged_ref_dir(spark, sf_dir)
    spark.dataSource.register(RefFileDataSource)
    df = (
        spark.read.format("reffile")
        .option("master_key_hex", _MASTER_HEX)
        .load(path)
    )
    return (
        df.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.min(F.col("c_custkey").cast("long")).alias("min_key"),
            F.max(F.col("c_custkey").cast("long")).alias("max_key"),
        )
        .orderBy("c_mktsegment")
    )
