"""Encrypted table write/read — the reference's O1/O2 on Spark.

Layout under ``<path>/``:
- ``data/``       — ordinary Parquet files holding the AES-GCM blobs
  (BinaryType columns). Parquet is columnar + footer-last, i.e. the
  format the reference hand-rolls (SURVEY.md §1.1), with real row
  groups, statistics, and parallel IO.
- ``footer.enc``  — the engine footer (row_count + per-column key_type /
  kms_encrypted_key), JSON, AES-GCM-encrypted with the master key —
  mirroring the reference's encrypted-footer design
  (src/parquet_writer.cpp:223-234; tail-first parse
  src/parquet_reader.cpp:45-78). The footer is sealed and opened on the
  driver by the reference-format codec (reffile.py,
  ``make_reffile_codec``), in the same [12B IV][ct][16B tag] layout as
  the column blobs that Spark's aes_encrypt writes, so neither the write
  nor the read of the footer runs a Spark job.

Scale: the data files are written/read by executors in parallel with
column pruning and predicate pushdown intact — selective decryption here
prunes IO too, which the reference never did (it always slurped the whole
file, src/parquet_reader.cpp:66-69).
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .cell import Footer, decrypt_columns, encrypt_columns
from .config import EncryptionConfig
from .kms import MockKMS
from .reffile import make_reffile_codec

_FOOTER_NAME = "footer.enc"
_DATA_DIR = "data"

_codec = make_reffile_codec()


def _aes_bytes(spark: SparkSession, payload: bytes | str, key_hex: str, encrypt: bool) -> bytes:
    """En/decrypt a small blob with Spark's own AES-GCM expression, one
    Spark job per call. The reference implementation the codec's
    footers are checked against (both emit [12B IV][ct][16B tag]);
    tables written before footers moved to the codec were sealed by
    it. No read or write path calls it."""
    if encrypt:
        expr = F.aes_encrypt(F.lit(payload), F.unhex(F.lit(key_hex)), F.lit("GCM"))
    else:
        expr = F.aes_decrypt(F.lit(payload), F.unhex(F.lit(key_hex)), F.lit("GCM"))
    return bytes(spark.range(1).select(expr.alias("b")).head()[0])


def write_encrypted_table(
    df: DataFrame,
    path: str,
    config: EncryptionConfig,
    kms: MockKMS | None = None,
) -> Footer:
    """Encrypt every column per the key cascade and persist table + footer.

    One Spark job: the row count is observed while the data is written."""
    if not config.master_key_hex:
        raise ValueError("master (footer) key required to write an encrypted table")
    if config.use_kms and kms is None:
        kms = MockKMS()
    # the footer's row count is unknown until the write has run
    enc_df, footer = encrypt_columns(df, config, kms, row_count=-1)
    rows = Observation()
    enc_df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        os.path.join(path, _DATA_DIR)
    )
    footer = dataclasses.replace(footer, row_count=rows.get["n"])
    blob = _codec.seal(config.master_key_hex, json.dumps(footer.to_dict()).encode())
    with open(os.path.join(path, _FOOTER_NAME), "wb") as f:
        f.write(blob)
    return footer


def read_footer(spark: SparkSession, path: str, config: EncryptionConfig) -> Footer:
    if not config.master_key_hex:
        raise ValueError("master (footer) key required to read an encrypted table")
    with open(os.path.join(path, _FOOTER_NAME), "rb") as f:
        blob = f.read()
    raw = _codec.unseal(config.master_key_hex, blob)
    return Footer.from_dict(json.loads(raw))


def read_encrypted_table(
    spark: SparkSession,
    path: str,
    config: EncryptionConfig,
    requested_columns: list[str] | None = None,
    kms: MockKMS | None = None,
) -> DataFrame:
    """Read + selectively decrypt; unrequested columns are masked
    ``[ENCRYPTED]`` (empty request = decrypt all, reference semantics)."""
    if config.use_kms and kms is None:
        kms = MockKMS()
    footer = read_footer(spark, path, config)
    df = spark.read.parquet(os.path.join(path, _DATA_DIR))
    return decrypt_columns(df, config, footer, requested_columns, kms)
