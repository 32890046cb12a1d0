"""Reference-parity tests for the encryption module.

Mirrors the reference's self-validating harness: the employees fixture
(/root/reference/src/main.cpp:114-123), its encryption config
(:100-112), and the 4 golden selective-decryption scenarios (:130-141)
validated in both directions (:61-97): requested columns round-trip to
original values, unrequested read back as the literal "[ENCRYPTED]".
"""

from __future__ import annotations

import pytest

from project_final_parquet_spark.encryption import (
    EncryptionConfig,
    MockKMS,
    read_encrypted_table,
    write_encrypted_table,
)
from project_final_parquet_spark.encryption.cell import (
    ENCRYPTED_PLACEHOLDER,
    decrypt_columns,
    encrypt_columns,
    sparse_rows_df,
)
from project_final_parquet_spark.encryption.io import read_footer

# FIXTURES.md §1 — keep verbatim: sparse rows, 5000-char value, empty row.
EMPLOYEE_ROWS = [
    {"Name": "Shruti", "Salary": "90000", "Department": "IT"},
    {"Name": "Alex", "Salary": "75000"},
    {"Name": "John", "Salary": "80000", "Department": "Finance", "Location": "NY"},
    {"Name": "Emma", "Location": "CA"},
    {
        "Name": "X" * 5000,
        "Salary": "1234567890",
        "Department": "Engineering",
    },
    {},
]

CONFIG = EncryptionConfig(
    column_keys={
        "Name": "00112233445566778899AABBCCDDEEFF",
        "Salary": "FFEEDDCCBBAA99887766554433221100",
        "Department": "A1B2C3D4E5F60718293A4B5C6D7E8F90",
        # Location: no column key -> KMS envelope key
    },
    master_key_hex="0123456789ABCDEF0123456789ABCDEF",
    fallback_key_hex="00112233445566778899AABBCCDDEEFF",
    use_kms=True,
    kms_key_id="example-kms-id",
)

ALL_COLS = ["Department", "Location", "Name", "Salary"]  # lexicographic union

GOLDEN_SCENARIOS = [
    ["Department", "Location", "Name", "Salary"],  # full decryption
    ["Salary", "Department"],
    ["Location"],  # the KMS-keyed column
    ["Name"],
]


def expected_rows(requested: list[str]) -> list[dict[str, str]]:
    out = []
    for r in EMPLOYEE_ROWS:
        out.append(
            {
                c: (r.get(c, "") if c in requested else ENCRYPTED_PLACEHOLDER)
                for c in ALL_COLS
            }
        )
    return out


@pytest.fixture(scope="module")
def table_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("enc") / "employees")
    df = sparse_rows_df(spark, EMPLOYEE_ROWS)
    assert df.columns == ALL_COLS  # schema union, lexicographic
    write_encrypted_table(df, path, CONFIG)
    return path


@pytest.mark.parametrize("requested", GOLDEN_SCENARIOS, ids=lambda r: "+".join(r))
def test_golden_selective_decryption(spark, table_path, requested):
    got = read_encrypted_table(spark, table_path, CONFIG, requested).collect()
    exp = expected_rows(requested)
    got_sorted = sorted([tuple(r[c] for c in ALL_COLS) for r in got])
    exp_sorted = sorted([tuple(r[c] for c in ALL_COLS) for r in exp])
    assert got_sorted == exp_sorted


def test_empty_request_decrypts_all(spark, table_path):
    # empty set => all columns (reference src/parquet_reader.cpp:92-94)
    got = read_encrypted_table(spark, table_path, CONFIG, None).collect()
    exp = expected_rows(ALL_COLS)
    assert sorted(tuple(r[c] for c in ALL_COLS) for r in got) == sorted(
        tuple(r[c] for c in ALL_COLS) for r in exp
    )


def test_footer_records_key_types(spark, table_path):
    footer = read_footer(spark, table_path, CONFIG)
    assert footer.row_count == len(EMPLOYEE_ROWS)
    assert footer.columns["Name"].key_type == "column"
    assert footer.columns["Location"].key_type == "kms"
    assert footer.columns["Location"].kms_encrypted_key_hex  # wrapped blob persisted


def test_wrong_master_key_fails(spark, table_path):
    bad = EncryptionConfig(
        column_keys=CONFIG.column_keys,
        master_key_hex="00000000000000000000000000000000",
        use_kms=True,
        kms_key_id=CONFIG.kms_key_id,
    )
    with pytest.raises(Exception):  # GCM tag mismatch surfaces from the JVM
        read_footer(spark, table_path, bad)


def test_wrong_column_key_fails(spark, table_path):
    bad = EncryptionConfig(
        column_keys={**CONFIG.column_keys, "Name": "11111111111111111111111111111111"},
        master_key_hex=CONFIG.master_key_hex,
        use_kms=True,
        kms_key_id=CONFIG.kms_key_id,
    )
    with pytest.raises(Exception):
        read_encrypted_table(spark, table_path, bad, ["Name"]).collect()


def test_kms_envelope_roundtrip():
    kms = MockKMS()
    plain, wrapped = kms.generate_data_key("example-kms-id")
    assert plain != wrapped
    assert kms.decrypt_data_key(wrapped, "example-kms-id") == plain
    # a different key id must not unwrap to the same data key
    assert kms.decrypt_data_key(wrapped, "other-id") != plain


def test_fallback_and_plaintext_cascade(spark):
    # no column keys, no KMS: fallback key used; without fallback: plaintext
    df = sparse_rows_df(spark, [{"A": "1", "B": "2"}])
    fb = EncryptionConfig(
        master_key_hex="0123456789ABCDEF0123456789ABCDEF",
        fallback_key_hex="00112233445566778899AABBCCDDEEFF",
    )
    enc, footer = encrypt_columns(df, fb)
    assert footer.columns["A"].key_type == "fallback"
    assert decrypt_columns(enc, fb, footer, ["A"]).collect()[0]["A"] == "1"

    pt = EncryptionConfig(master_key_hex="0123456789ABCDEF0123456789ABCDEF")
    enc2, footer2 = encrypt_columns(df, pt)
    assert footer2.columns["A"].key_type == "plaintext"
    # plaintext columns survive decryption pass-through
    assert decrypt_columns(enc2, pt, footer2, ["A"]).collect()[0]["A"] == "1"


def test_blob_layout_parity(spark):
    """Spark's AES-GCM blob is [12B IV][ct][16B tag] — byte-layout parity
    with the reference (src/crypto_utils.cpp:17-18,63-66,93-95)."""
    from pyspark.sql import functions as F

    plain = "hello"
    key = "00112233445566778899AABBCCDDEEFF"
    blob = bytes(
        spark.range(1)
        .select(
            F.aes_encrypt(F.lit(plain), F.unhex(F.lit(key)), F.lit("GCM")).alias("b")
        )
        .head()[0]
    )
    assert len(blob) == 12 + len(plain.encode()) + 16


@pytest.mark.parametrize("master", [None, ""], ids=["none", "empty"])
def test_read_footer_requires_master_key(spark, table_path, master):
    """Mirrors the writer: no master key is a plain ValueError, not an
    error from deep inside the cipher."""
    cfg = EncryptionConfig(column_keys=CONFIG.column_keys, master_key_hex=master)
    with pytest.raises(ValueError, match="master \\(footer\\) key required"):
        read_footer(spark, table_path, cfg)


def test_write_runs_one_job_and_footer_read_none(spark, tmp_path, jobs_run_by):
    """The row count is observed during the write and the footer is
    sealed and opened on the driver, so the write is one Spark job and
    opening the footer runs none."""
    path = str(tmp_path / "t")
    df = sparse_rows_df(spark, EMPLOYEE_ROWS)
    jobs, footer = jobs_run_by(lambda: write_encrypted_table(df, path, CONFIG))
    assert jobs == 1
    assert footer.row_count == len(EMPLOYEE_ROWS)
    jobs, read = jobs_run_by(lambda: read_footer(spark, path, CONFIG))
    assert jobs == 0
    assert read == footer


def test_footer_opens_with_spark_aes(spark, table_path):
    """A footer written by the table writer opens with Spark's own
    aes_decrypt: the [12B IV][ct][16B tag] layout is unchanged."""
    import json

    from project_final_parquet_spark.encryption.io import _aes_bytes

    blob = open(f"{table_path}/footer.enc", "rb").read()
    raw = _aes_bytes(spark, blob, CONFIG.master_key_hex, encrypt=False)
    assert json.loads(raw) == read_footer(spark, table_path, CONFIG).to_dict()


def test_spark_sealed_footer_still_reads(spark, tmp_path):
    """Tables whose footer Spark's aes_encrypt sealed stay readable."""
    import json

    from project_final_parquet_spark.encryption.io import _aes_bytes

    path = str(tmp_path / "t")
    footer = write_encrypted_table(sparse_rows_df(spark, EMPLOYEE_ROWS), path, CONFIG)
    blob = _aes_bytes(
        spark, json.dumps(footer.to_dict()), CONFIG.master_key_hex, encrypt=True
    )
    with open(f"{path}/footer.enc", "wb") as f:
        f.write(blob)
    assert read_footer(spark, path, CONFIG) == footer
    got = read_encrypted_table(spark, path, CONFIG, ["Name"]).collect()
    assert sorted(r["Name"] for r in got) == sorted(r.get("Name", "") for r in EMPLOYEE_ROWS)


@pytest.mark.parametrize("shape", ["no_partitions", "filtered_empty"])
def test_empty_frame_roundtrip(spark, tmp_path, shape):
    """An empty frame, with no partitions or filtered down to no rows,
    writes a footer with row_count 0 and reads back no rows."""
    from pyspark.sql import functions as F

    if shape == "no_partitions":
        df = spark.createDataFrame([], "Name string, Salary string")
    else:
        df = sparse_rows_df(spark, EMPLOYEE_ROWS).filter(F.col("Name") == "nobody")
    path = str(tmp_path / "t")
    assert write_encrypted_table(df, path, CONFIG).row_count == 0
    assert read_footer(spark, path, CONFIG).row_count == 0
    assert read_encrypted_table(spark, path, CONFIG).count() == 0
