"""Cell-level AES-GCM column encryption inside DataFrame plans.

Capability parity with the reference writer/reader pipeline
(src/parquet_writer.cpp:26-238, src/parquet_reader.cpp:20-187):

- per-column AES-GCM with the key-resolution cascade
  (src/parquet_writer.cpp:77-143): ① column key → ② KMS envelope data
  key → ③ fallback key → ④ plaintext with a warning;
- selective decryption with ``[ENCRYPTED]`` placeholders for columns not
  requested (src/parquet_reader.cpp:92-101);
- all-string value model (include/parquet_writer.hpp:13-15) — columns are
  cast to string before encryption and come back as strings;
- missing cells round-trip as "" (src/parquet_writer.cpp:65-71).

Cells are sealed and opened by a JVM kernel registered as the SQL
functions ``cell_gcm_encrypt`` / ``cell_gcm_decrypt`` (jvm/GcmCell.java,
built and added by ``pme.ensure_pme_jar``). It emits the blob layout
[12B IV][ciphertext][16B tag] of Spark's ``aes_encrypt(..., 'GCM')`` and
of the reference (src/crypto_utils.cpp:63-95), so files produced here are
bit-compatible at the blob level, and tables sealed by Spark's
``aes_encrypt`` read back unchanged. Unlike Spark's function, which sets
up a new Cipher and key schedule per cell, the kernel keeps one Cipher
per (executor thread, key) and a fresh random IV per cell. Everything
stays a JVM-side expression inside the DataFrame plan — encryption and
decryption run on executors, no Python in the data path, which is what
makes this viable at 100 TB (the reference is single-threaded; here every
partition encrypts in parallel).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from . import pme
from .config import EncryptionConfig, is_valid_aes_key_hex
from .kms import MockKMS

log = logging.getLogger(__name__)

ENCRYPTED_PLACEHOLDER = "[ENCRYPTED]"  # reference src/parquet_reader.cpp:99
GCM = "GCM"
ENCRYPT_FN, DECRYPT_FN = "cell_gcm_encrypt", "cell_gcm_decrypt"
_KERNEL_FUNCTIONS = {
    ENCRYPT_FN: ("sparkgraft.cell.GcmCell$Encrypt", BinaryType()),
    DECRYPT_FN: ("sparkgraft.cell.GcmCell$Decrypt", BinaryType()),
}


@dataclass
class ColumnMeta:
    """Per-column footer entry (reference footer fields,
    src/parquet_writer.cpp:169-174,113,146 — mode/key_type/kms blob; the
    offset/size/iv/tag fields are owned by the Parquet format here)."""

    mode: str
    key_type: str  # 'column' | 'kms' | 'fallback' | 'plaintext'
    kms_encrypted_key_hex: str | None = None


@dataclass
class Footer:
    """Table-level metadata, stored AES-GCM-encrypted alongside the data
    (reference: encrypted JSON footer, src/parquet_writer.cpp:223-234)."""

    row_count: int
    columns: dict[str, ColumnMeta] = field(default_factory=dict)

    def to_dict(self) -> dict:
        return {
            "row_count": self.row_count,
            "columns": {
                c: {
                    "mode": m.mode,
                    "key_type": m.key_type,
                    **(
                        {"kms_encrypted_key": m.kms_encrypted_key_hex}
                        if m.kms_encrypted_key_hex
                        else {}
                    ),
                }
                for c, m in self.columns.items()
            },
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Footer":
        return cls(
            row_count=d["row_count"],
            columns={
                c: ColumnMeta(
                    mode=m["mode"],
                    key_type=m["key_type"],
                    kms_encrypted_key_hex=m.get("kms_encrypted_key"),
                )
                for c, m in d["columns"].items()
            },
        )


def resolve_write_keys(
    columns: list[str], config: EncryptionConfig, kms: MockKMS | None = None
) -> tuple[dict[str, str | None], dict[str, ColumnMeta]]:
    """Writer-side key cascade (src/parquet_writer.cpp:77-143).

    Returns (column → plaintext key hex or None-for-plaintext,
    column → footer metadata).
    """
    keys: dict[str, str | None] = {}
    meta: dict[str, ColumnMeta] = {}
    for col in columns:
        configured = config.column_keys.get(col)
        if configured is not None and is_valid_aes_key_hex(configured):
            keys[col] = configured
            meta[col] = ColumnMeta(mode=GCM, key_type="column")
            continue
        if configured is not None:
            log.warning("invalid AES key for column %s; falling through", col)
        if config.use_kms and kms is not None:
            plain, wrapped = kms.generate_data_key(config.kms_key_id)
            keys[col] = plain.hex()
            meta[col] = ColumnMeta(
                mode=GCM, key_type="kms", kms_encrypted_key_hex=wrapped.hex()
            )
            continue
        if config.fallback_key_hex and is_valid_aes_key_hex(config.fallback_key_hex):
            keys[col] = config.fallback_key_hex
            meta[col] = ColumnMeta(mode=GCM, key_type="fallback")
            continue
        log.warning("no usable key for column %s; writing PLAINTEXT", col)
        keys[col] = None
        meta[col] = ColumnMeta(mode="NONE", key_type="plaintext")
    return keys, meta


def resolve_read_key(
    col: str,
    config: EncryptionConfig,
    meta: ColumnMeta,
    kms: MockKMS | None = None,
) -> str | None:
    """Reader-side cascade (src/parquet_reader.cpp:119-143): column key →
    footer KMS blob → fallback. None => column stored plaintext."""
    if meta.key_type == "plaintext":
        return None
    configured = config.column_keys.get(col)
    if configured is not None and is_valid_aes_key_hex(configured):
        return configured
    if meta.kms_encrypted_key_hex and kms is not None:
        return kms.decrypt_data_key(
            bytes.fromhex(meta.kms_encrypted_key_hex), config.kms_key_id
        ).hex()
    if config.fallback_key_hex and is_valid_aes_key_hex(config.fallback_key_hex):
        return config.fallback_key_hex
    raise KeyError(f"no key available to decrypt column {col!r}")


def _enc_expr(col: str, key_hex: str) -> Column:
    return F.call_function(
        ENCRYPT_FN,
        F.coalesce(F.col(col).cast("string"), F.lit("")).cast("binary"),
        F.unhex(F.lit(key_hex)),
    )


def _dec_expr(col: str, key_hex: str) -> Column:
    return F.call_function(DECRYPT_FN, F.col(col), F.unhex(F.lit(key_hex))).cast(
        "string"
    )


def encrypt_columns(
    df: DataFrame,
    config: EncryptionConfig,
    kms: MockKMS | None = None,
    row_count: int | None = None,
) -> tuple[DataFrame, Footer]:
    """Encrypt every column of ``df`` per the key cascade.

    Values are cast to string first (the reference's single value type)
    and NULL becomes "" (missing-cell semantics). Returns the encrypted
    frame (BinaryType columns; plaintext columns stay string) and the
    footer to persist.
    """
    keys, meta = resolve_write_keys(df.columns, config, kms)
    pme.register_java_functions(df.sparkSession, _KERNEL_FUNCTIONS)
    exprs = []
    for c in df.columns:
        if keys[c] is None:
            exprs.append(F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c))
        else:
            exprs.append(_enc_expr(c, keys[c]).alias(c))
    n = row_count if row_count is not None else df.count()
    return df.select(*exprs), Footer(row_count=n, columns=meta)


def decrypt_columns(
    df: DataFrame,
    config: EncryptionConfig,
    footer: Footer,
    requested_columns: list[str] | None = None,
    kms: MockKMS | None = None,
) -> DataFrame:
    """Selective decryption with masking (src/parquet_reader.cpp:89-101).

    Empty/None ``requested_columns`` decrypts everything (reference
    semantics). Unrequested columns are returned as the literal
    ``[ENCRYPTED]`` placeholder — same arity, all-string schema.
    """
    requested = set(requested_columns or df.columns)
    pme.register_java_functions(df.sparkSession, _KERNEL_FUNCTIONS)
    exprs = []
    for c in df.columns:
        meta = footer.columns[c]
        if c not in requested:
            exprs.append(F.lit(ENCRYPTED_PLACEHOLDER).alias(c))
        elif meta.key_type == "plaintext":
            exprs.append(F.col(c).cast("string").alias(c))
        else:
            key = resolve_read_key(c, config, meta, kms)
            exprs.append(_dec_expr(c, key).alias(c))
    return df.select(*exprs)


def sparse_rows_df(spark, rows: list[dict[str, str]]) -> DataFrame:
    """Strict-parity constructor for dynamic sparse rows: schema is the
    lexicographic union of per-row column names and missing cells are ""
    (reference src/parquet_writer.cpp:55-71; an all-empty row is legal,
    src/main.cpp:123)."""
    from pyspark.sql import types as T

    cols = sorted({k for r in rows for k in r})
    schema = T.StructType([T.StructField(c, T.StringType(), False) for c in cols])
    data = [tuple(r.get(c, "") for c in cols) for r in rows]
    return spark.createDataFrame(data, schema)
