"""Per-column AES-GCM encryption of a table, on Parquet Modular Encryption.

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

The reference seals each column as one AES-GCM blob under its own key,
wraps data keys through a KMS and encrypts the footer: the model of
Parquet Modular Encryption (PME, pme.py). Every keyed column gets a PME
master key of its own, whose material is the key the cascade resolved;
the footer key is the table's master key; a plaintext column is not
listed. parquet-mr encrypts each column chunk page by page in the write
tasks, and a scan decrypts only the chunks it reads.

Columns are stored as ``c0..cN``: PME's column-key list cannot carry
``.``, ``,``, ``:`` or ``;`` in a name. io.py's ``footer.enc`` keeps the
real names in order, and the read aliases them back.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import pme
from .config import EncryptionConfig, is_valid_aes_key_hex
from .kms import MockKMS

log = logging.getLogger(__name__)

ENCRYPTED_PLACEHOLDER = "[ENCRYPTED]"  # reference src/parquet_reader.cpp:99
GCM = "GCM"
_FOOTER_KEY_ID = "footer"


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


def encrypt_columns(
    df: DataFrame,
    config: EncryptionConfig,
    kms: MockKMS | None = None,
) -> tuple[DataFrame, Footer, dict[str, str]]:
    """Resolve every column's key per the cascade.

    Returns the value-model frame (each column cast to string, NULL as
    "", under its positional name), the footer to persist (its row count
    is -1 until the write has run) and the PME writer options that
    encrypt the keyed columns and the Parquet footer."""
    keys, meta = resolve_write_keys(df.columns, config, kms)
    stored = [f"c{i}" for i in range(len(df.columns))]
    frame = df.toDF(*stored).select(
        *[F.coalesce(F.col(s).cast("string"), F.lit("")).alias(s) for s in stored]
    )
    column_keys = {
        s: bytes.fromhex(keys[c]) for s, c in zip(stored, df.columns) if keys[c] is not None
    }
    options = {}
    if column_keys:  # parquet-mr refuses an encrypted write with no column key
        pme.ensure_pme_jar(df.sparkSession)
        options = pme._crypto_options(
            {_FOOTER_KEY_ID: bytes.fromhex(config.master_key_hex), **column_keys},
            footer_key=_FOOTER_KEY_ID,
            column_keys={s: [s] for s in column_keys},
        )
    return frame, Footer(row_count=-1, columns=meta), options


def decrypt_columns(
    spark: SparkSession,
    data_path: str,
    config: EncryptionConfig,
    footer: Footer,
    requested_columns: list[str] | None = None,
    kms: MockKMS | None = None,
) -> DataFrame:
    """Read the table's data files, decrypting the requested columns only
    (src/parquet_reader.cpp:89-101).

    Empty/None ``requested_columns`` decrypts everything (reference
    semantics). Unrequested columns are returned as the literal
    ``[ENCRYPTED]`` placeholder — same arity, all-string schema. Keys,
    KMS unwraps included, are resolved for the requested encrypted
    columns only, and the scan reads no other column."""
    names = list(footer.columns)
    if not names:  # a table of empty rows stores no data files (io.py)
        return spark.range(footer.row_count).select()
    requested = set(requested_columns or names)
    stored = {c: f"c{i}" for i, c in enumerate(names)}
    keys = {
        stored[c]: bytes.fromhex(resolve_read_key(c, config, m, kms))
        for c, m in footer.columns.items()
        if c in requested and m.key_type != "plaintext"
    }
    pme.ensure_pme_jar(spark)
    options = pme._crypto_options({_FOOTER_KEY_ID: bytes.fromhex(config.master_key_hex), **keys})
    schema = T.StructType([T.StructField(s, T.StringType()) for s in stored.values()])
    df = spark.read.schema(schema).options(**options).parquet(data_path)
    masked = F.lit(ENCRYPTED_PLACEHOLDER)
    return df.select(*[(F.col(s) if c in requested else masked).alias(c) for c, s in stored.items()])


def sparse_rows_df(spark, rows: list[dict[str, str]]) -> DataFrame:
    """Strict-parity constructor for dynamic sparse rows: schema is the
    lexicographic union of per-row column names and missing cells are ""
    (reference src/parquet_writer.cpp:55-71; an all-empty row is legal,
    src/main.cpp:123)."""
    cols = sorted({k for r in rows for k in r})
    schema = T.StructType([T.StructField(c, T.StringType(), False) for c in cols])
    data = [tuple(r.get(c, "") for c in cols) for r in rows]
    return spark.createDataFrame(data, schema)
