"""Encrypted columnar storage — the reference repo's core capability,
re-expressed Spark-first.

The reference (Shruti27272727/project-final-parquet) implements a
hand-rolled encrypted columnar format: per-column AES-GCM blobs + an
encrypted JSON footer + KMS envelope keys, with selective per-column
decryption (see SURVEY.md §1.5, §2.1 O1-O15). Here the same capabilities
are built on Spark primitives:

- cell-level: the ``cell_gcm_encrypt/cell_gcm_decrypt`` JVM kernel
  (jvm/GcmCell.java; byte layout identical to the reference blobs and to
  Spark's ``aes_encrypt``: [12B IV][ciphertext][16B tag]) over
  BinaryType columns inside ordinary DataFrame plans;
- storage: real Parquet (columnar, footer-last by design) with an
  AES-GCM-encrypted JSON footer sidecar mirroring the reference footer
  fields (key_type, kms_encrypted_key, row_count);
- key management: the reference's resolution cascade (column key → KMS
  envelope data key → fallback → plaintext-with-warning) as engine-level
  config logic, and a mock KMS honoring the GenerateDataKey /
  DecryptDataKey contract.
"""

from .config import EncryptionConfig
from .kms import MockKMS
from .cell import decrypt_columns, encrypt_columns, resolve_write_keys
from .io import read_encrypted_table, write_encrypted_table

__all__ = [
    "EncryptionConfig",
    "MockKMS",
    "encrypt_columns",
    "decrypt_columns",
    "resolve_write_keys",
    "read_encrypted_table",
    "write_encrypted_table",
]
