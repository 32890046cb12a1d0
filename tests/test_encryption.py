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


def test_fallback_and_plaintext_cascade(spark, tmp_path):
    # no column keys, no KMS: fallback key used; without fallback: plaintext
    df = sparse_rows_df(spark, [{"A": "1", "B": "2"}])
    fb = EncryptionConfig(
        master_key_hex="0123456789ABCDEF0123456789ABCDEF",
        fallback_key_hex="00112233445566778899AABBCCDDEEFF",
    )
    footer = write_encrypted_table(df, str(tmp_path / "fb"), fb)
    assert footer.columns["A"].key_type == "fallback"
    got = read_encrypted_table(spark, str(tmp_path / "fb"), fb, ["A"]).collect()
    assert [tuple(r) for r in got] == [("1", ENCRYPTED_PLACEHOLDER)]

    pt = EncryptionConfig(master_key_hex="0123456789ABCDEF0123456789ABCDEF")
    footer2 = write_encrypted_table(df, str(tmp_path / "pt"), pt)
    assert footer2.columns["A"].key_type == "plaintext"
    # plaintext columns survive decryption pass-through
    got = read_encrypted_table(spark, str(tmp_path / "pt"), pt, ["A"]).collect()
    assert [tuple(r) for r in got] == [("1", ENCRYPTED_PLACEHOLDER)]


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


def test_codec_iv_is_fresh_per_seal():
    """The footer codec draws a new IV for every seal: 2000 seals of one
    payload under one key share no IV."""
    from project_final_parquet_spark.encryption.reffile import make_reffile_codec

    codec = make_reffile_codec()
    ivs = {codec.seal(KEY_A, b"same")[:12] for _ in range(2000)}
    assert len(ivs) == 2000


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


def test_table_of_empty_rows_roundtrip(spark, tmp_path):
    """Rows with no cells at all (legal in the reference, src/main.cpp:123)
    keep their count: the footer holds it, as no Parquet file can."""
    path = str(tmp_path / "t")
    assert write_encrypted_table(sparse_rows_df(spark, [{}, {}]), path, CONFIG).row_count == 2
    got = read_encrypted_table(spark, path, CONFIG)
    assert got.columns == [] and got.count() == 2


# --- tables on Parquet Modular Encryption ------------------------------------

KEY_A = "00112233445566778899AABBCCDDEEFF"
KEY_B = "FFEEDDCCBBAA99887766554433221100"


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("damage", ["flipped_byte", "truncated", "wrong_key"])
def test_damaged_data_file_fails_the_read(spark, tmp_path, damage):
    """One flipped byte inside a ``data/`` part file fails GCM
    authentication, a truncated part file fails too, and so does an intact
    part file opened under a wrong key for one of its columns: the read
    raises, it never yields wrong text."""
    path = tmp_path / "t"
    write_encrypted_table(sparse_rows_df(spark, EMPLOYEE_ROWS), str(path), CONFIG)
    read = lambda config=CONFIG: read_encrypted_table(  # noqa: E731
        spark, str(path), config
    ).collect()
    assert len(read()) == len(EMPLOYEE_ROWS)
    if damage == "wrong_key":
        bad = EncryptionConfig(
            column_keys={**CONFIG.column_keys, "Salary": "22222222222222222222222222222222"},
            master_key_hex=CONFIG.master_key_hex,
            use_kms=True,
            kms_key_id=CONFIG.kms_key_id,
        )
        with pytest.raises(Exception):
            read(bad)
        return
    part = max((path / "data").glob("part-*.parquet"), key=lambda p: p.stat().st_size)
    raw = bytearray(part.read_bytes())
    if damage == "flipped_byte":
        raw[len(raw) // 2] ^= 0x01
    else:
        raw = raw[: len(raw) // 2]
    part.write_bytes(bytes(raw))
    with pytest.raises(Exception):
        read()


class _CountingKMS(MockKMS):
    def __init__(self):
        self.unwraps = 0

    def decrypt_data_key(self, wrapped: bytes, kms_key_id: str) -> bytes:
        self.unwraps += 1
        return super().decrypt_data_key(wrapped, kms_key_id)


@pytest.mark.parametrize(
    "requested, unwraps",
    [(["Name"], 0), (["Location"], 1), (["Department", "Name", "Salary"], 2), (None, 3)],
    ids=["Name", "Location", "Department+Name+Salary", "all"],
)
def test_read_unwraps_only_requested_kms_keys(spark, tmp_path, requested, unwraps):
    """A read asks the KMS for the data key of each requested KMS-keyed
    column, and for no other."""
    config = EncryptionConfig(
        column_keys={"Name": KEY_A}, master_key_hex=CONFIG.master_key_hex,
        use_kms=True, kms_key_id=CONFIG.kms_key_id,
    )
    path = str(tmp_path / "t")
    kms = _CountingKMS()
    write_encrypted_table(sparse_rows_df(spark, EMPLOYEE_ROWS), path, config, kms)
    got = read_encrypted_table(spark, path, config, requested, kms)
    assert kms.unwraps == unwraps
    assert _sorted_rows(got, ALL_COLS) == sorted(
        tuple(r[c] for c in ALL_COLS) for r in expected_rows(requested or ALL_COLS)
    )


def test_names_outside_the_pme_key_syntax_roundtrip(spark, tmp_path):
    """Column names holding ``.``, ``,``, ``:`` or ``;`` cannot be written
    into PME's column-key list; the table stores positional names and
    the read restores the real ones."""
    names = ["a.b", "c,d", "e:f", "g;h"]
    df = spark.createDataFrame(
        [("1", "2", "3", None), ("5", "6", "7", "8")],
        ", ".join(f"`{n}` string" for n in names),
    )
    config = EncryptionConfig(
        column_keys={n: KEY_A for n in names[:2]} | {n: KEY_B for n in names[2:]},
        master_key_hex=CONFIG.master_key_hex,
    )
    path = str(tmp_path / "t")
    write_encrypted_table(df, path, config)
    got = read_encrypted_table(spark, path, config)
    assert got.columns == names
    assert _sorted_rows(got, names) == [("1", "2", "3", ""), ("5", "6", "7", "8")]
    masked = read_encrypted_table(spark, path, config, ["e:f"])
    assert _sorted_rows(masked, names) == [
        (ENCRYPTED_PLACEHOLDER, ENCRYPTED_PLACEHOLDER, v, ENCRYPTED_PLACEHOLDER)
        for v in ("3", "7")
    ]


def test_read_under_a_new_key_list_builds_with_no_job(spark, tmp_path, jobs_run_by):
    """A read whose key list the JVM has never seen builds with no Spark
    job (the schema comes from the footer) and its scan tasks still load
    the KmsClient from the session's jar."""
    import os

    cols = ["a", "b"]
    config = EncryptionConfig(
        column_keys={c: os.urandom(16).hex() for c in cols},
        master_key_hex=os.urandom(16).hex(),
    )
    path = str(tmp_path / "t")
    df = spark.createDataFrame([("x", "1"), ("y", "2")], "a string, b string")
    write_encrypted_table(df, path, config)
    # the writer's key list holds both column keys; this one holds one
    jobs, got = jobs_run_by(lambda: read_encrypted_table(spark, path, config, ["b"]))
    assert jobs == 0
    assert _sorted_rows(got, cols) == [(ENCRYPTED_PLACEHOLDER, "1"), (ENCRYPTED_PLACEHOLDER, "2")]


def test_more_keys_than_the_cipher_cache_holds(spark, tmp_path):
    """One task writes and reads 40 columns, each under its own key."""
    from pyspark.sql import functions as F

    cols = [f"c{i:02d}" for i in range(40)]
    config = EncryptionConfig(
        column_keys={c: f"{i:032X}" for i, c in enumerate(cols, start=1)},
        master_key_hex="0123456789ABCDEF0123456789ABCDEF",
    )
    df = spark.range(50).coalesce(1).select(
        *[F.concat(F.lit(f"{c}:"), F.col("id").cast("string")).alias(c) for c in cols]
    )
    path = str(tmp_path / "t")
    footer = write_encrypted_table(df, path, config)
    assert {m.key_type for m in footer.columns.values()} == {"column"}
    dec = read_encrypted_table(spark, path, config)
    assert dec.rdd.getNumPartitions() == 1
    assert _sorted_rows(dec, cols) == sorted(tuple(f"{c}:{i}" for c in cols) for i in range(50))


@pytest.fixture(scope="module")
def orders_table(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("enc") / "orders")
    footer = write_encrypted_table(spark.read.parquet(f"{sf_dir}/orders.parquet"), path, CONFIG)
    return path, footer


@pytest.mark.parametrize(
    "requested", [["o_custkey", "o_orderdate"], None], ids=["masked", "full"]
)
def test_executed_plan_decrypts_only_requested_columns(spark, orders_table, requested):
    """Selective decryption, read from the plan that ran: the scan reads
    the requested columns only, so it never fetches or decrypts the
    masked ones."""
    import re

    path, footer = orders_table
    df = read_encrypted_table(spark, path, CONFIG, requested)
    assert len(df.collect()) == footer.row_count
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(read_schema) == 1, plan
    names = list(footer.columns)
    want = [f"c{names.index(c)}:string" for c in (requested or names)]
    assert sorted(read_schema[0].split(",")) == sorted(want)


def test_stored_bytes_near_plain_parquet(spark, sf_dir, orders_table):
    """Encryption adds little to the stored table: ``data/`` is at most
    1.2x the plain Parquet of the same value-model frame."""
    from project_final_parquet_spark.encryption.cell import encrypt_columns

    path, _ = orders_table
    plain = f"{path}_plain"
    frame, _, _ = encrypt_columns(spark.read.parquet(f"{sf_dir}/orders.parquet"), CONFIG, MockKMS())
    frame.write.mode("overwrite").parquet(plain)

    def size(d):
        from pathlib import Path

        return sum(p.stat().st_size for p in Path(d).glob("part-*"))

    assert size(f"{path}/data") <= 1.2 * size(plain)


def test_no_key_material_in_plan_text(spark, tmp_path):
    """Keys travel as per-operation options: neither the read's plans nor
    the plans the status store keeps of the write and the read (which the
    SQL UI and the event log show) print a key, hex or base64."""
    import base64
    import os

    config = EncryptionConfig(
        column_keys={"Name": os.urandom(16).hex()}, master_key_hex=os.urandom(16).hex()
    )
    path = str(tmp_path / "t")
    write_encrypted_table(sparse_rows_df(spark, EMPLOYEE_ROWS), path, config)
    df = read_encrypted_table(spark, path, config)
    df.collect()
    qe = df._jdf.queryExecution()
    store = spark._jsparkSession.sharedState().statusStore()
    recent = store.executionsList(max(0, store.executionsCount() - 10), 10)
    texts = [qe.toString(), qe.executedPlan().toString()]
    texts += [recent.apply(i).physicalPlanDescription() for i in range(recent.size())]
    text = "\n".join(texts)
    assert "InsertIntoHadoopFsRelationCommand" in text
    for key in [*config.column_keys.values(), config.master_key_hex]:
        assert key.lower() not in text.lower()
        assert base64.b64encode(bytes.fromhex(key)).decode() not in text


def test_vanilla_session_roundtrip_survives_restart(tmp_path):
    """A plain session from a cwd outside the checkout round-trips a table;
    after ``spark.stop()`` a new session in the same process adds the jar
    again and round-trips once more."""
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
