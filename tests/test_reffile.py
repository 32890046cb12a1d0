"""Byte-layout and round-trip tests for the reference file format layer."""

from __future__ import annotations

import json
import struct

import pytest

from project_final_parquet_spark.encryption import EncryptionConfig
from project_final_parquet_spark.encryption.cell import sparse_rows_df
from project_final_parquet_spark.encryption.io import _aes_bytes
from project_final_parquet_spark.encryption.reffile import (
    ReferenceCompatKMS,
    read_reference_format,
    write_reference_format,
)
from tests.test_encryption import ALL_COLS, CONFIG, EMPLOYEE_ROWS, expected_rows


@pytest.fixture(scope="module")
def ref_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("reffmt") / "employees.bin")
    write_reference_format(sparse_rows_df(spark, EMPLOYEE_ROWS), path, CONFIG)
    return path


@pytest.mark.parametrize(
    "requested",
    [ALL_COLS, ["Salary", "Department"], ["Location"], ["Name"]],
    ids=lambda r: "+".join(r),
)
def test_golden_scenarios_through_reference_format(spark, ref_path, requested):
    got = read_reference_format(spark, ref_path, CONFIG, requested).collect()
    exp = expected_rows(requested)
    assert sorted(tuple(r[c] for c in ALL_COLS) for r in got) == sorted(
        tuple(r[c] for c in ALL_COLS) for r in exp
    )


def test_file_layout_matches_spec(spark, ref_path):
    data = open(ref_path, "rb").read()
    (flen,) = struct.unpack("<Q", data[-8:])
    footer = json.loads(
        _aes_bytes(
            spark, data[-8 - flen : -8], CONFIG.master_key_hex, encrypt=False
        ).decode()
    )
    assert footer["row_count"] == len(EMPLOYEE_ROWS)
    # columns laid out contiguously from offset 0, footer directly after
    offset = 0
    for col in sorted(footer["columns"]):
        meta = footer["columns"][col]
        assert meta["offset"] == offset
        offset += meta["size"]
        # GCM blob overhead: 12B IV + 16B tag around the ciphertext
        if meta["mode"] == "AES_GCM":
            assert meta["size"] == meta["cipher_size"] + 28
            assert bytes.fromhex(meta["iv"]) == data[meta["offset"]:meta["offset"]+12]
    assert offset == len(data) - 8 - flen
    # KMS-keyed column persists only the WRAPPED key
    assert "kms_encrypted_key" in footer["columns"]["Location"]


def test_kms_contract_roundtrip():
    kms = ReferenceCompatKMS()
    plain, wrapped = kms.generate_data_key("example-kms-id")
    assert wrapped != plain
    assert kms.decrypt_data_key(wrapped, "example-kms-id") == plain


def test_wrong_master_key_rejected(spark, ref_path):
    bad = EncryptionConfig(
        column_keys=CONFIG.column_keys,
        master_key_hex="00000000000000000000000000000000",
        use_kms=True,
        kms_key_id=CONFIG.kms_key_id,
    )
    with pytest.raises(Exception):
        read_reference_format(spark, ref_path, bad, ["Name"])


REF_ARTIFACT = "/root/reference/test_kms.parquet"

# every key in the reference's current config (src/main.cpp:104-111)
_REF_CONFIG_KEYS = [
    "0123456789ABCDEF0123456789ABCDEF",  # master_key
    "00112233445566778899AABBCCDDEEFF",  # fallback + Name column
    "FFEEDDCCBBAA99887766554433221100",  # Salary column
    "A1B2C3D4E5F60718293A4B5C6D7E8F90",  # Department column
]


def test_reference_artifact_predates_current_config(spark):
    """Executable form of the forensics note in reffile.py: the committed
    ``test_kms.parquet`` artifact's footer fails AES-GCM tag
    authentication under EVERY key in the reference's current config —
    in both plausible key encodings (the 32-hex-char strings decoded to
    16 key bytes, and used raw as 32 ASCII key bytes) — proving the
    artifact predates the current code rather than witnessing a working
    round-trip (SURVEY.md §5.1 item 3)."""
    import pyspark.errors

    data = open(REF_ARTIFACT, "rb").read()
    (flen,) = struct.unpack("<Q", data[-8:])
    assert 0 < flen < len(data)  # the layout itself parses fine
    enc_footer = data[-8 - flen : -8]
    attempted = 0
    for key in _REF_CONFIG_KEYS:
        for key_hex in (key, key.encode().hex()):
            attempted += 1
            with pytest.raises(pyspark.errors.PySparkException):
                _aes_bytes(spark, enc_footer, key_hex, encrypt=False)
    assert attempted == 8


def test_writer_row_cap_redirects_to_pme(spark, tmp_path, monkeypatch):
    """The reference-format writer materializes rows on the driver (the
    format is one sequential file + trailing footer, exactly as the
    RAM-bound reference); above the row cap it must refuse LOUDLY and
    point at the distributed PME path instead of OOMing the driver."""
    import project_final_parquet_spark.encryption.reffile as rf

    monkeypatch.setattr(rf, "_WRITE_ROW_CAP", 5)
    big = spark.range(6).selectExpr("CAST(id AS STRING) AS Name")
    with pytest.raises(ValueError, match="write_pme_distributed"):
        rf.write_reference_format(big, str(tmp_path / "x.bin"), CONFIG)
    # at the cap: writes fine (parity layer unaffected below the cap)
    ok = spark.range(5).selectExpr("CAST(id AS STRING) AS Name")
    rf.write_reference_format(ok, str(tmp_path / "ok.bin"), CONFIG)


def test_writer_rejects_newline_in_value(spark, tmp_path):
    """The ``"col: value\\n"`` encoding cannot represent a newline inside
    a value: written as-is it would split the row and misalign every
    later row of the column, so the writer refuses and names the column."""
    df = spark.createDataFrame(
        [("1", "a\nb"), ("2", "c")], "Name string, Location string"
    )
    with pytest.raises(ValueError, match="'Location'"):
        write_reference_format(df, str(tmp_path / "nl.bin"), CONFIG)


def _plaintext_file(path, blob: bytes, entry: dict, row_count: int) -> str:
    """One PLAINTEXT column ``c`` (footer fields overridden by ``entry``)
    under a footer sealed with the suite's master key."""
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    footer = {
        "row_count": row_count,
        "columns": {
            "c": {"mode": "PLAINTEXT", "key_type": "none", "offset": 0,
                  "size": len(blob), **entry}
        },
    }
    iv = b"\x01" * 12
    key = AESGCM(bytes.fromhex(CONFIG.master_key_hex))
    enc = iv + key.encrypt(iv, json.dumps(footer).encode(), None)
    path.write_bytes(blob + enc + struct.pack("<Q", len(enc)))
    return str(path)


def test_driver_reader_rejects_out_of_body_offset(spark, tmp_path):
    """A footer offset pointing past the column blobs must fail loudly in
    the driver reader too, not come back as empty rows."""
    path = _plaintext_file(
        tmp_path / "hostile.bin", b"c: x\n" * 3, {"offset": 1000}, 3
    )
    with pytest.raises(ValueError, match="outside body"):
        read_reference_format(spark, path, CONFIG)


@pytest.mark.parametrize("rows_written", [2, 4], ids=["short", "long"])
def test_row_count_rule_shared_by_both_readers(spark, tmp_path, rows_written):
    """Both readers apply one rule against the footer's row_count: a
    column that decodes short pads with "" (reference
    src/parquet_reader.cpp:162-164), one that decodes long raises."""
    from project_final_parquet_spark.operators.reffile_source import (
        read_ref_file,
    )

    path = _plaintext_file(
        tmp_path / "rows.bin", b"c: v\n" * rows_written, {}, 3
    )
    opts = {"master_key_hex": CONFIG.master_key_hex}
    if rows_written > 3:
        with pytest.raises(ValueError, match="footer says 3"):
            read_reference_format(spark, path, CONFIG)
        with pytest.raises(ValueError, match="footer says 3"):
            read_ref_file(path, opts)
        return
    padded = ["v", "v", ""]
    assert [r.c for r in read_reference_format(spark, path, CONFIG).collect()] == padded
    assert read_ref_file(path, opts) == (["c"], [padded])


@pytest.mark.parametrize("case", ["full", "masked", "empty"])
def test_reader_schema_is_pinned(spark, ref_path, tmp_path, case):
    """Every read returns the lexicographic all-string schema with
    non-nullable fields, whether full, masked or of an empty file."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path, requested = ref_path, None
    if case == "masked":
        requested = ["Location"]
    elif case == "empty":
        path = str(tmp_path / "empty.bin")
        df = sparse_rows_df(spark, EMPLOYEE_ROWS).filter(F.col("Name") == "nobody")
        write_reference_format(df, path, CONFIG)
    got = read_reference_format(spark, path, CONFIG, requested)
    assert got.schema == T.StructType(
        [T.StructField(c, T.StringType(), False) for c in ALL_COLS]
    )
    assert got.count() == (0 if case == "empty" else len(EMPLOYEE_ROWS))


def test_zero_column_frame_keeps_its_rows(spark, tmp_path):
    """A frame of all-empty rows (no columns at all) round-trips its row
    count, although a zero-column Arrow table carries none."""
    path = str(tmp_path / "zero.bin")
    write_reference_format(sparse_rows_df(spark, [{}, {}, {}]), path, CONFIG)
    got = read_reference_format(spark, path, CONFIG)
    assert got.columns == [] and got.count() == 3
