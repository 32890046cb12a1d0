"""Property-based encryption round-trip: arbitrary sparse string tables
(unicode, empty strings, missing cells, absent columns) must round-trip
through an encrypted table write and read with masking semantics
intact."""

from __future__ import annotations

import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

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

_COLS = ["alpha", "beta", "gamma"]

_CONFIG = EncryptionConfig(
    column_keys={"alpha": "00112233445566778899AABBCCDDEEFF"},
    master_key_hex="0123456789ABCDEF0123456789ABCDEF",
    fallback_key_hex="A1B2C3D4E5F60718293A4B5C6D7E8F90",
    use_kms=True,
    kms_key_id="prop-kms",
)

# text incl. unicode, newlines, the placeholder string itself
_value = st.text(max_size=60)
_row = st.dictionaries(st.sampled_from(_COLS), _value, max_size=3)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=1, max_size=6), request_alpha=st.booleans())
def test_roundtrip_arbitrary_sparse_tables(spark, rows, request_alpha):
    df = sparse_rows_df(spark, rows)
    cols = df.columns
    kms = MockKMS()
    requested = [c for c in cols if (c == "alpha") == request_alpha] or cols
    with tempfile.TemporaryDirectory() as path:
        write_encrypted_table(df, path, _CONFIG, kms)
        dec = read_encrypted_table(spark, path, _CONFIG, requested, kms)
        got = sorted(tuple(r[c] for c in cols) for r in dec.collect())
    exp = sorted(
        tuple(
            (r.get(c, "") if c in requested else ENCRYPTED_PLACEHOLDER)
            for c in cols
        )
        for r in rows
    )
    assert got == exp
