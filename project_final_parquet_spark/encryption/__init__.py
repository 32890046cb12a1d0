"""Encrypted columnar storage — the reference repo's core capability,
re-expressed Spark-first.

The reference (Shruti27272727/project-final-parquet) implements a
hand-rolled encrypted columnar format: per-column AES-GCM blobs + an
encrypted JSON footer + KMS envelope keys, with selective per-column
decryption (see SURVEY.md §1.5, §2.1 O1-O15). Here the same capabilities
are built on Spark primitives:

- column-level: Parquet Modular Encryption (parquet-mr, driven by
  ``df.write``/``spark.read`` options; pme.py), each keyed column under
  a master key of its own (cell.py maps the key cascade onto it);
- storage: real Parquet (columnar, footer-last by design) with an
  AES-GCM-encrypted JSON footer sidecar mirroring the reference footer
  fields (key_type, kms_encrypted_key, row_count; io.py), sealed in the
  reference's [12B IV][ciphertext][16B tag] blob layout (reffile.py);
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
