"""Reference FILE-FORMAT layer: the one codec for the reference's
hand-rolled encrypted columnar format, plus the driver-side writer and
reader built on it.

Layout (SURVEY.md §1.1/§3; reference src/parquet_writer.cpp:165-234,
src/parquet_reader.cpp:45-78):

    [column blob 0][column blob 1]...[encrypted JSON footer][u64 LE footer length]

- each column blob: AES-GCM over the text encoding ``"<col>: <value>\\n"``
  repeated per row (missing cell → empty value), blob = [12B IV][ct][16B tag]
  (src/parquet_writer.cpp:61-75; src/crypto_utils.cpp:17-18,63-95);
- footer JSON: ``row_count`` + per-column ``{offset, size, mode, iv, tag,
  cipher_size, key_type, kms_encrypted_key?}`` (src/parquet_writer.cpp:
  169-174,113,146), AES-GCM-encrypted with the master key;
- key cascade and ``[ENCRYPTED]`` masking identical to cell.py.

This layer exists for FORMAT parity — the format is single-file by
construction (one blob per column, offsets in one footer), so the writer
pivots via the driver exactly like the reference's single process; the
scalable path for real data is io.py / pme.py. Cell values (cell.py)
are sealed by Spark's aes_encrypt/aes_decrypt expressions inside the
query plan. Blobs sealed or opened outside a plan go through one codec,
``make_reffile_codec``, on ``cryptography``'s AESGCM: this format's
column blobs and footer (the driver writer/reader here and the
``reffile`` Data Source, operators/reffile_source.py) and the cell
path's ``footer.enc`` (io.py). Both implementations emit the same
[12B IV][ct][16B tag] layout.

Note: the reference repo's committed ``test_kms.parquet`` artifact does
NOT authenticate against any key in its current main.cpp config (footer
GCM tag mismatch for master/column/fallback keys in both hex-decoded and
raw forms) — it predates the current code, matching the bit-rot of the
reference's tests (SURVEY.md §5.1 item 3). Round-trip fidelity is
therefore proven against this module's own writer, which follows the
documented layout exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cell import ENCRYPTED_PLACEHOLDER, resolve_write_keys
from .config import EncryptionConfig, is_valid_aes_key_hex


def make_reffile_codec():
    """The reference format's encode/decode, pure Python and Spark-free.

    Returns a namespace of closures. Nothing in them refers to a
    module-level name of this package, so cloudpickle ships them by
    value to Data Source workers that cannot import the package (see
    operators/reffile_source.py)."""

    import json
    import os
    import struct
    from types import SimpleNamespace

    placeholder = ENCRYPTED_PLACEHOLDER  # captured constant, not module ref

    def aes(key_hex: str):
        # imported per call: a captured AESGCM (a Rust-backed class) does
        # not survive cloudpickle to the workers
        from cryptography.hazmat.primitives.ciphers.aead import AESGCM

        return AESGCM(bytes.fromhex(key_hex))

    def seal(key_hex: str, plain: bytes) -> bytes:
        # [12B IV][ct][16B tag] (src/crypto_utils.cpp:63-95);
        # AESGCM returns ct||tag
        iv = os.urandom(12)
        return iv + aes(key_hex).encrypt(iv, plain, None)

    def unseal(key_hex: str, blob: bytes) -> bytes:
        return aes(key_hex).decrypt(blob[:12], blob[12:], None)

    def xor_aa(key: bytes) -> bytes:
        # the reference's KMS stub contract: wrap == unwrap == XOR 0xAA
        # (src/kms.cpp:8-30)
        return bytes(b ^ 0xAA for b in key)

    def encode_column(col: str, values) -> bytes:
        # "col: value\n" per row; missing → "" (src/parquet_writer.cpp:65-71)
        plain = "".join(f"{col}: {'' if v is None else v}\n" for v in values)
        if plain.count("\n") != len(values):
            raise ValueError(
                f"column {col!r} holds a newline, which the reference "
                f"'col: value\\n' encoding cannot represent"
            )
        return plain.encode()

    def decode_column(col: str, plain: bytes, n: int) -> list[str]:
        # split on \n, take substring after the first ": "; malformed → ""
        # (src/parquet_reader.cpp:152-159). A short column pads with ""
        # (src/parquet_reader.cpp:162-164); a long one cannot be aligned
        # with the footer's row count, so it fails.
        out = []
        for line in plain.decode().split("\n")[:-1]:
            idx = line.find(": ")
            out.append(line[idx + 2 :] if idx >= 0 else "")
        if len(out) > n:
            raise ValueError(
                f"column {col!r} decoded {len(out)} rows, footer says {n}"
            )
        return out + [""] * (n - len(out))

    def encode_file(n: int, columns: dict, master_key_hex: str) -> bytes:
        """``columns``: name → (values, key hex or None for plaintext,
        extra footer fields). Blobs are laid out in lexicographic column
        order (std::set semantics)."""
        body, entries = [], {}
        offset = 0
        for col in sorted(columns):
            values, key_hex, fields = columns[col]
            plain = encode_column(col, values)
            if key_hex is None:
                blob = plain
                # the reference writer spells the plaintext (key-failure)
                # case mode='PLAINTEXT', key_type='none'
                # (src/parquet_writer.cpp:146)
                entry = {"mode": "PLAINTEXT", "key_type": "none"}
            else:
                blob = seal(key_hex, plain)
                # IV/tag are embedded in the blob; the footer carries hex
                # copies for parity (informational — the reference reader
                # only uses the embedded ones, src/parquet_reader.cpp:149-150)
                entry = {
                    "mode": "AES_GCM",
                    **fields,
                    "iv": blob[:12].hex(),
                    "tag": blob[-16:].hex(),
                    "cipher_size": len(blob) - 28,
                }
            entries[col] = {**entry, "offset": offset, "size": len(blob)}
            offset += len(blob)
            body.append(blob)
        footer = json.dumps({"row_count": n, "columns": entries}).encode()
        enc_footer = seal(master_key_hex, footer)
        return b"".join(body) + enc_footer + struct.pack("<Q", len(enc_footer))

    def open_footer(path: str, master_key_hex: str):
        """Tail-first parse (src/parquet_reader.cpp:45-78) →
        (footer dict, file bytes, end of the column-blob body)."""
        with open(path, "rb") as f:
            data = f.read()
        if len(data) < 8:
            raise ValueError(f"file too short for trailer ({len(data)}B)")
        (footer_len,) = struct.unpack("<Q", data[-8:])
        if footer_len > len(data) - 8:
            raise ValueError(f"footer length {footer_len} exceeds file body")
        footer = json.loads(unseal(master_key_hex, data[-8 - footer_len : -8]))
        return footer, data, len(data) - 8 - footer_len

    def resolve_key(col, entry, column_keys, unwrap, fallback_key_hex):
        """Read cascade (src/parquet_reader.cpp:103-131, cell.py
        resolve_read_key) → "" for a plaintext blob, else the configured
        column key (it wins over a stale wrapped key), else the footer's
        wrapped key through ``unwrap``, else the fallback, else None."""
        # plaintext is spelled mode='PLAINTEXT', key_type='none' by the
        # reference, mode='NONE', key_type='plaintext' by older files
        plain_types = ("plaintext", "none")
        if entry.get("mode") != "AES_GCM" or entry.get("key_type") in plain_types:
            return ""
        if column_keys.get(col):
            return column_keys[col]
        if entry.get("kms_encrypted_key") and unwrap is not None:
            return unwrap(bytes.fromhex(entry["kms_encrypted_key"])).hex()
        return fallback_key_hex or None

    def decode_file(path, master_key_hex, requested, column_keys, unwrap, fallback_key_hex):
        """One file → (row count, {column: values} in lexicographic
        order, requested columns with no key). Columns outside
        ``requested`` (None = all) or with no key read ``[ENCRYPTED]``."""
        footer, data, body_end = open_footer(path, master_key_hex)
        n = footer["row_count"]
        columns, unkeyed = {}, []
        for col in sorted(footer["columns"]):
            entry = footer["columns"][col]
            key = None
            if requested is None or col in requested:
                key = resolve_key(col, entry, column_keys, unwrap, fallback_key_hex)
                if key is None:
                    unkeyed.append(col)
            if key is None:
                columns[col] = [placeholder] * n
                continue
            off, size = entry["offset"], entry["size"]
            # hostile-manifest guard: a crafted offset must fail loudly,
            # not decode garbage or fake an empty column
            if not (0 <= off and 0 <= size and off + size <= body_end):
                raise ValueError(
                    f"column {col!r} blob [{off}, {off}+{size}) outside "
                    f"body [0, {body_end})"
                )
            blob = data[off : off + size]
            columns[col] = decode_column(col, unseal(key, blob) if key else blob, n)
        return n, columns, unkeyed

    def rows(n: int, columns: dict, fields: list[str]) -> list[tuple]:
        """Row tuples in ``fields`` order; a field the file lacks is None."""
        lists = [columns[f] if f in columns else [None] * n for f in fields]
        return list(zip(*lists)) if lists else [()] * n

    return SimpleNamespace(
        seal=seal, unseal=unseal, xor_aa=xor_aa, encode_file=encode_file,
        open_footer=open_footer, decode_file=decode_file, rows=rows,
    )


_codec = make_reffile_codec()


class ReferenceCompatKMS:
    """The reference's KMS stub CONTRACT (src/kms.cpp:8-30): a fixed
    16-byte data key whose wrapped form is an XOR with 0xAA. Re-stated
    from the SURVEY's behavioral description so files written here can
    be unwrapped by any reader honoring that contract."""

    DATA_KEY = bytes(range(1, 17))

    def generate_data_key(self, kms_key_id: str) -> tuple[bytes, bytes]:
        return self.DATA_KEY, _codec.xor_aa(self.DATA_KEY)

    def decrypt_data_key(self, wrapped: bytes, kms_key_id: str) -> bytes:
        return _codec.xor_aa(wrapped)


# The reference format is ONE sequential file with a trailing footer
# (src/parquet_writer.cpp:223-234), so writing it requires a driver-side
# materialization — exactly as the reference itself is RAM-bound
# (src/parquet_reader.cpp:66-69). The cap keeps that explicit: parity
# below it, a loud redirect to the distributed PME path above it.
_WRITE_ROW_CAP = 100_000


def write_reference_format(
    df: DataFrame,
    path: str,
    config: EncryptionConfig,
    kms=None,
) -> None:
    """Write ``df`` (all-string columns) in the reference's file layout.

    Byte-parity layer for SMALL frames only (row cap above): the format
    is inherently single-file/single-pass. For real data volumes use
    ``encryption.pme`` (Spark's native Parquet Modular Encryption) —
    distributed, columnar, and KMS-integrated. A value containing a
    newline raises ``ValueError``: the encoding cannot represent it."""
    if not config.master_key_hex:
        raise ValueError("master key required (footer is always encrypted)")
    kms = kms or (ReferenceCompatKMS() if config.use_kms else None)
    cols = sorted(df.columns)  # lexicographic, std::set semantics
    # Arrow batches cost the driver less CPU than collect()'s Row objects.
    # A zero-column Arrow table has no rows, so an empty select keeps a
    # stand-in column.
    table = df.select(*(cols or [F.lit("")])).limit(_WRITE_ROW_CAP + 1).toArrow()
    if table.num_rows > _WRITE_ROW_CAP:
        raise ValueError(
            f"write_reference_format materializes rows on the driver and "
            f"is capped at {_WRITE_ROW_CAP} rows (the reference format is "
            f"one sequential file + trailing footer); for large frames "
            f"use project_final_parquet_spark.encryption.pme "
            f"(write_pme_distributed), the distributed encrypted-parquet "
            f"path"
        )
    keys, meta = resolve_write_keys(cols, config, kms)
    columns = {}
    for col in cols:
        fields = {"key_type": meta[col].key_type}
        if meta[col].kms_encrypted_key_hex:
            fields["kms_encrypted_key"] = meta[col].kms_encrypted_key_hex
        columns[col] = (table.column(col).to_pylist(), keys[col], fields)
    data = _codec.encode_file(table.num_rows, columns, config.master_key_hex)
    with open(path, "wb") as f:
        f.write(data)


def read_reference_format(
    spark: SparkSession,
    path: str,
    config: EncryptionConfig,
    requested_columns: list[str] | None = None,
    kms=None,
) -> DataFrame:
    """Read a reference-layout file with selective decryption + masking.

    Unrequested columns come back as the ``[ENCRYPTED]`` literal; empty
    request decrypts everything. A requested column with no resolvable
    key raises ``KeyError``."""
    kms = kms or (ReferenceCompatKMS() if config.use_kms else None)
    unwrap = (
        (lambda wrapped: kms.decrypt_data_key(wrapped, config.kms_key_id))
        if kms is not None
        else None
    )
    n, columns, unkeyed = _codec.decode_file(
        path,
        config.master_key_hex,
        requested=set(requested_columns) if requested_columns else None,
        column_keys={
            c: k for c, k in config.column_keys.items() if is_valid_aes_key_hex(k)
        },
        unwrap=unwrap,
        fallback_key_hex=config.fallback_key_hex,
    )
    if unkeyed:
        raise KeyError(f"no key for column {unkeyed[0]!r}")
    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType(), False) for c in columns])
    if not columns:  # a zero-column Arrow table has no rows
        return spark.createDataFrame([()] * n, schema)
    # Hand the rows to the JVM as Arrow: a frame built from a Python list
    # is evaluated in Python workers, and each Python task costs about
    # 0.2 CPU-s before user code runs (CPython 3.11, 4-vCPU VM).
    # pyspark.worker_util.setup_spark_files calls importlib.invalidate_caches(),
    # which re-reads the pyspark.zip directory once per zipimporter.
    table = pa.table({c: pa.array(v, pa.string()) for c, v in columns.items()})
    return spark.createDataFrame(table, schema)
