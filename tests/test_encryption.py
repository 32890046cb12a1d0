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


# --- the cell AES-GCM kernel (jvm/GcmCell.java) ------------------------------

KEY_A = "00112233445566778899AABBCCDDEEFF"
KEY_B = "FFEEDDCCBBAA99887766554433221100"
COLUMN_KEY_CONFIG = EncryptionConfig(
    column_keys={"a": KEY_A, "b": KEY_B},
    master_key_hex="0123456789ABCDEF0123456789ABCDEF",
)


def _read_keys(footer):
    from project_final_parquet_spark.encryption.cell import resolve_read_key

    return {c: resolve_read_key(c, CONFIG, m, MockKMS()) for c, m in footer.columns.items()}


def test_cells_open_with_spark_aes_and_python_codec(spark, table_path):
    """Cells the kernel sealed open with Spark's aes_decrypt and with the
    reference-format codec (``cryptography``'s AESGCM)."""
    from pyspark.sql import functions as F

    from project_final_parquet_spark.encryption.reffile import make_reffile_codec

    keys = _read_keys(read_footer(spark, table_path, CONFIG))
    raw = spark.read.parquet(f"{table_path}/data")
    want = sorted(tuple(r.get(c, "") for c in ALL_COLS) for r in EMPLOYEE_ROWS)
    by_spark = raw.select(
        *[F.aes_decrypt(c, F.unhex(F.lit(keys[c])), F.lit("GCM")).cast("string").alias(c)
          for c in ALL_COLS]
    ).collect()
    assert sorted(tuple(r) for r in by_spark) == want
    codec = make_reffile_codec()
    by_codec = [
        tuple(codec.unseal(keys[c], bytes(r[c])).decode() for c in ALL_COLS)
        for r in raw.collect()
    ]
    assert sorted(by_codec) == want


def test_spark_sealed_cells_still_read(spark, tmp_path):
    """A table whose cells Spark's aes_encrypt sealed (every table written
    before the kernel) reads back through read_encrypted_table."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = sparse_rows_df(spark, EMPLOYEE_ROWS)
    keys = _read_keys(write_encrypted_table(df, path, CONFIG))
    df.select(
        *[F.aes_encrypt(F.col(c), F.unhex(F.lit(keys[c])), F.lit("GCM")).alias(c)
          for c in ALL_COLS]
    ).write.mode("overwrite").parquet(f"{path}/data")
    got = read_encrypted_table(spark, path, CONFIG).collect()
    assert sorted(tuple(r[c] for c in ALL_COLS) for r in got) == sorted(
        tuple(r.get(c, "") for c in ALL_COLS) for r in EMPLOYEE_ROWS
    )


def test_every_iv_is_fresh(spark):
    """2000 identical cells over 4 partitions, one key per column: no IV
    repeats, within a column or across them."""
    from pyspark.sql import functions as F

    df = spark.range(1000).repartition(4).select(
        F.lit("same").alias("a"), F.lit("same").alias("b")
    )
    enc, footer = encrypt_columns(df, COLUMN_KEY_CONFIG, row_count=1000)
    rows = enc.collect()
    ivs = [bytes(r[c])[:12] for r in rows for c in ("a", "b")]
    assert len(ivs) == 2000 and len(set(ivs)) == 2000
    dec = decrypt_columns(enc, COLUMN_KEY_CONFIG, footer).collect()
    assert {(r["a"], r["b"]) for r in dec} == {("same", "same")}


def _sealed(spark, plain: str) -> bytes:
    df = spark.createDataFrame([(plain,)], "a string")
    enc, _ = encrypt_columns(df, COLUMN_KEY_CONFIG, row_count=1)
    return bytes(enc.head()["a"])


def _open(spark, blob, config=COLUMN_KEY_CONFIG):
    from project_final_parquet_spark.encryption.cell import ColumnMeta, Footer

    df = spark.createDataFrame([(blob,)], "a binary")
    footer = Footer(row_count=1, columns={"a": ColumnMeta(mode="GCM", key_type="column")})
    return decrypt_columns(df, config, footer).collect()


@pytest.mark.parametrize("damage", ["flipped_byte", "wrong_key", "short_blob"])
def test_damaged_cell_fails_the_read(spark, damage):
    """A tag mismatch, a wrong key or a blob shorter than IV + tag fails
    the read; it never yields NULL or wrong text."""
    blob = _sealed(spark, "secret value")
    assert _open(spark, blob)[0]["a"] == "secret value"
    config = COLUMN_KEY_CONFIG
    if damage == "flipped_byte":
        blob = blob[:14] + bytes([blob[14] ^ 0x01]) + blob[15:]
    elif damage == "wrong_key":
        config = EncryptionConfig(column_keys={"a": KEY_B}, master_key_hex=config.master_key_hex)
    else:
        blob = blob[:27]
    with pytest.raises(Exception):
        _open(spark, blob, config)


def test_null_cell_decrypts_to_null(spark):
    from pyspark.sql import functions as F

    assert _open(spark, None)[0]["a"] is None
    spark_null = spark.range(1).select(
        F.aes_decrypt(F.lit(None).cast("binary"), F.unhex(F.lit(KEY_A)), F.lit("GCM"))
    ).head()[0]
    assert spark_null is None


def test_more_keys_than_the_cipher_cache_holds(spark):
    """One task seals and opens 40 columns, each under its own key: more
    keys than a thread's Cipher cache holds, so entries are evicted and
    re-created while the rows round-trip."""
    from pyspark.sql import functions as F

    cols = [f"c{i:02d}" for i in range(40)]
    config = EncryptionConfig(
        column_keys={c: f"{i:032X}" for i, c in enumerate(cols, start=1)},
        master_key_hex="0123456789ABCDEF0123456789ABCDEF",
    )
    df = spark.range(50).coalesce(1).select(
        *[F.concat(F.lit(f"{c}:"), F.col("id").cast("string")).alias(c) for c in cols]
    )
    enc, footer = encrypt_columns(df, config, row_count=50)
    dec = decrypt_columns(enc, config, footer)
    assert dec.rdd.getNumPartitions() == 1
    got = sorted(tuple(r) for r in dec.collect())
    assert got == sorted(tuple(f"{c}:{i}" for c in cols) for i in range(50))


@pytest.fixture(scope="module")
def orders_table(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("enc") / "orders")
    footer = write_encrypted_table(spark.read.parquet(f"{sf_dir}/orders.parquet"), path, CONFIG)
    return path, footer


@pytest.mark.parametrize(
    "requested, decrypts", [(["o_custkey", "o_orderdate"], 2), (None, 6)], ids=["masked", "full"]
)
def test_executed_plan_decrypts_only_requested_columns(spark, orders_table, requested, decrypts):
    """Selective decryption, read from the plan that ran: one decrypt per
    requested column, none for masked ones."""
    from project_final_parquet_spark.encryption.cell import DECRYPT_FN

    path, footer = orders_table
    df = read_encrypted_table(spark, path, CONFIG, requested)
    assert len(df.collect()) == footer.row_count
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count(f"{DECRYPT_FN}(") == decrypts


def test_vanilla_session_roundtrip_survives_restart(tmp_path):
    """A plain session from a cwd outside the checkout round-trips a table;
    after ``spark.stop()`` a new session in the same process registers the
    kernel again and round-trips once more."""
    import os
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from project_final_parquet_spark.encryption import (
            EncryptionConfig, read_encrypted_table, write_encrypted_table,
        )
        cfg = EncryptionConfig(
            column_keys={{"a": {KEY_A!r}}}, master_key_hex={KEY_B!r},
            fallback_key_hex={KEY_A!r},
        )
        for attempt in range(2):
            spark = (SparkSession.builder.master("local[2]")
                     .config("spark.ui.enabled", "false").getOrCreate())
            spark.sparkContext.setLogLevel("ERROR")
            df = spark.createDataFrame([("x", "1"), ("y", None)], "a string, b string")
            write_encrypted_table(df, f"t{{attempt}}", cfg)
            got = sorted(tuple(r) for r in read_encrypted_table(spark, f"t{{attempt}}", cfg).collect())
            print("ROUNDTRIP", attempt, got)
            spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    log = out.stdout + out.stderr
    for attempt in range(2):
        assert f"ROUNDTRIP {attempt} [('x', '1'), ('y', '')]" in out.stdout, log
