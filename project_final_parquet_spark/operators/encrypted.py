"""Driver-gate queries exercising the encryption operators on the
documents corpus (reference O1-O3, O8-O12 — SURVEY.md §2.1).

Encrypted bytes are never hash-comparable (a random nonce per encrypted
module, as the reference draws a random IV per column,
src/crypto_utils.cpp:35-47,61), so — exactly like the reference's own
validator (src/main.cpp:61-97) — the oracle checks DECRYPTED results.
Each query writes its encrypted tables under a temp dir of its own at
construction and returns the lazy read.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..encryption import (
    EncryptionConfig,
    MockKMS,
    read_encrypted_table,
    write_encrypted_table,
)
from ..registry import query
from ..tables import load

_CONFIG = EncryptionConfig(
    column_keys={
        "text": "00112233445566778899AABBCCDDEEFF",
        "lang": "FFEEDDCCBBAA99887766554433221100",
    },
    master_key_hex="0123456789ABCDEF0123456789ABCDEF",
    fallback_key_hex="A1B2C3D4E5F60718293A4B5C6D7E8F90",
    use_kms=True,
    kms_key_id="example-kms-id",
)


def _encrypted_table(df: DataFrame, sf_dir: str, name: str, config=_CONFIG):
    """Write ``df`` as an encrypted table under ``config`` in the temp
    dir ``name``; returns its path and the KMS that wrapped its keys."""
    sf = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), "spark_graft_enc", sf, name)
    kms = MockKMS()
    write_encrypted_table(df, path, config, kms)
    return path, kms


def _lang_totals(docs: DataFrame) -> DataFrame:
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "enc_selective_mask",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           text,
           '[ENCRYPTED]' AS lang,
           '[ENCRYPTED]' AS source,
           '[ENCRYPTED]' AS n_chars
    FROM documents
    """,
)
def enc_selective_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encrypt documents per the key cascade, then selectively decrypt
    only {doc_id, text}: every other column must read back as the
    [ENCRYPTED] placeholder (reference golden-scenario semantics,
    src/main.cpp:130-141)."""
    path, kms = _encrypted_table(load(spark, sf_dir, "documents"), sf_dir, "enc_selective_mask")
    return read_encrypted_table(spark, path, _CONFIG, ["doc_id", "text"], kms)


@query(
    "enc_roundtrip_agg",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def enc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full encrypt→decrypt round-trip composed with a downstream
    aggregation — decryption happens in the scan tasks, so the aggregate
    runs in the same stage as the decrypting scan."""
    path, kms = _encrypted_table(load(spark, sf_dir, "documents"), sf_dir, "enc_roundtrip_agg")
    return _lang_totals(read_encrypted_table(spark, path, _CONFIG, None, kms))


@query(
    "enc_pme_roundtrip",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_text_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def enc_pme_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-native Parquet Modular Encryption round-trip: documents are
    written with ``df.write.parquet`` + PropertiesDrivenCryptoFactory
    (per-column master keys for text/lang, footer key for the rest —
    reference O1/O11/O13 in their format-standard form,
    src/parquet_writer.cpp:223-234) and read back with
    ``spark.read.parquet``; encryption and decryption both run in
    EXECUTOR tasks, partition-parallel. The aggregate over the decrypted
    frame must match the plaintext oracle exactly; a keyless session
    fails the same read at the first scan task (tests/test_pme.py)."""
    from ..encryption.pme import read_pme_distributed, write_pme_distributed

    docs = load(spark, sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_pme",
        os.path.basename(sf_dir.rstrip("/")),
    )
    write_pme_distributed(
        docs,
        path,
        column_keys={"key-text": ["text"], "key-meta": ["lang"]},
        footer_key="footer-master-key",
    )
    back = read_pme_distributed(
        spark, path, ["footer-master-key", "key-text", "key-meta"]
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.sum(F.length("text").cast("long")).alias("total_text_chars"),
        )
        .orderBy("lang")
    )


_ROTATED_CONFIG = EncryptionConfig(
    column_keys={
        "text": "112233445566778899AABBCCDDEEFF00",
        "lang": "EEDDCCBBAA998877665544332211000F",
    },
    master_key_hex="123456789ABCDEF0123456789ABCDEF0",
    fallback_key_hex="B1C2D3E4F5061728394A5B6C7D8E9F00",
    use_kms=True,
    kms_key_id="example-kms-id-v2",
)


@query(
    "enc_key_rotation",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def enc_key_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key rotation: decrypt under the v1 key set, re-encrypt every
    protected column under a DISJOINT v2 key set (new column keys, new
    master, new KMS key id), then decrypt under v2 and aggregate — the
    operational path for retiring a compromised or aged key (reference
    key-cascade semantics O8–O12 applied twice; the reference itself
    has no rotation flow — this is the capability its key cascade
    exists to enable). The rotation is one Spark job: the v1 scan
    decrypts in the same tasks that re-encrypt under v2, with no
    intermediate materialization."""
    path, kms = _encrypted_table(load(spark, sf_dir, "documents"), sf_dir, "enc_key_rotation")
    dec_v1 = read_encrypted_table(spark, path, _CONFIG, None, kms)
    path, kms = _encrypted_table(dec_v1, sf_dir, "enc_key_rotation_v2", _ROTATED_CONFIG)
    return _lang_totals(read_encrypted_table(spark, path, _ROTATED_CONFIG, None, kms))
