"""Format-level Parquet Modular Encryption tests (the JVM-native
distributed path)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from project_final_parquet_spark.encryption import pme


@pytest.fixture(scope="module")
def jvm_pme_dir(spark, tmp_path_factory, sf_dir):
    path = str(tmp_path_factory.mktemp("jvm_pme") / "documents_pme")
    df = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).repartition(4)
    pme.write_pme_distributed(
        df,
        path,
        column_keys={"key-text": ["text"], "key-meta": ["lang", "source"]},
        footer_key="footer-master-key",
    )
    return path, df


def test_jvm_pme_roundtrip_matches_source(spark, jvm_pme_dir):
    path, df = jvm_pme_dir
    got = pme.read_pme_distributed(
        spark, path, ["footer-master-key", "key-text", "key-meta"]
    )
    assert sorted(map(tuple, got.select(*df.columns).collect())) == sorted(
        map(tuple, df.collect())
    )


def test_jvm_pme_writes_many_encrypted_parts(jvm_pme_dir):
    # executor-parallel: multiple part files, each one PME-encrypted
    path, _ = jvm_pme_dir
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) > 1
    # PME files carry the PARE magic instead of PAR1 when the footer is
    # encrypted — check the raw bytes, no reader involved
    with open(os.path.join(path, parts[0]), "rb") as f:
        assert f.read(4) == b"PARE"


def test_jvm_pme_keyless_session_cannot_read(jvm_pme_dir):
    """A FRESH session (separate JVM — in-process KEK caches would
    defeat the point) without the crypto confs must fail the scan."""
    path, _ = jvm_pme_dir
    script = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        try:
            spark.read.parquet({path!r}).count()
            print("READ_OK")
        except Exception as e:
            # Emit the exception chain so the asserting side can verify
            # the failure is FOOTER DECRYPTION, not startup/path/OOM.
            seen, cur = [], e
            while cur is not None and len(seen) < 8:
                seen.append(f"{{type(cur).__name__}}: {{cur}}")
                cur = cur.__cause__
            print("READ_FAILED :: " + " | ".join(seen))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300,
    )
    assert "READ_FAILED" in out.stdout, out.stdout + out.stderr
    # The denial must come from parquet-mr's crypto layer (encrypted
    # footer without keys), not from any incidental failure.
    failure = out.stdout[out.stdout.index("READ_FAILED") :]
    assert (
        "ParquetCrypto" in failure
        or "encrypted footer" in failure.lower()
        or "no encryption key list" in failure.lower()
    ), failure


def _pme_orders(spark, sf_dir, tmp_path, tag):
    """sf orders as PME under ``footer-{tag}`` with ``k-cust-{tag}`` on
    o_custkey and ``k-price-{tag}`` on o_totalprice; returns the path
    and the three key ids."""
    keys = (f"footer-{tag}", f"k-cust-{tag}", f"k-price-{tag}")
    path = str(tmp_path / f"orders_{tag}")
    pme.write_pme_distributed(
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet")),
        path,
        column_keys={keys[1]: ["o_custkey"], keys[2]: ["o_totalprice"]},
        footer_key=keys[0],
    )
    return path, keys


def _denied(spark, path, key_ids, column):
    with pytest.raises(Exception) as err:
        pme.read_pme_distributed(spark, path, key_ids).select(column).collect()
    assert "unknown master key" in str(err.value), str(err.value)[:2000]


def test_jvm_pme_key_lists_stay_apart_in_one_session(spark, sf_dir, tmp_path):
    """Parquet caches KMS clients JVM-wide by access token; every key
    list must still get exactly its own keys, whichever came first in
    the session."""
    # restricted after full: the full-key client must not serve it
    path, (footer, cust, price) = _pme_orders(spark, sf_dir, tmp_path, "a")
    full = pme.read_pme_distributed(spark, path, [footer, cust, price])
    assert full.select("o_custkey").count() > 0
    restricted = pme.read_pme_distributed(spark, path, [footer, price])
    assert restricted.select("o_totalprice").count() > 0
    _denied(spark, path, [footer, price], "o_custkey")

    # full after restricted: a reader given every key (plus one it does
    # not need) reads, after a restricted reader was denied
    path, (footer, cust, price) = _pme_orders(spark, sf_dir, tmp_path, "b")
    _denied(spark, path, [footer, price], "o_custkey")
    full = pme.read_pme_distributed(spark, path, [footer, price, cust, "spare"])
    assert full.select("o_custkey", "o_totalprice").count() > 0


def test_jvm_pme_encrypts_unlisted_columns(spark, tmp_path):
    """A column that no key lists is encrypted under the footer key: its
    values never appear in the raw bytes of an uncompressed write."""
    df = spark.range(2000).selectExpr(
        "id", "concat('plainmarker-', id) AS note"
    )
    out = tmp_path / "unlisted"
    path = str(out)
    codec = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(codec)
    spark.conf.set(codec, "uncompressed")
    try:
        pme.write_pme_distributed(
            df, path, column_keys={"k-id": ["id"]}, footer_key="k-footer"
        )
    finally:
        spark.conf.set(codec, old)
    raw = b"".join(p.read_bytes() for p in out.glob("*.parquet"))
    assert raw.count(b"plainmarker-") == 0
    got = pme.read_pme_distributed(spark, path, ["k-footer", "k-id"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def test_jvm_pme_read_takes_its_schema_from_the_encrypted_footer(
    spark, jvm_pme_dir, jobs_run_by
):
    """Building a PME read runs no Spark job: the schema comes from one
    encrypted footer opened on the driver with the reader's keys, and it
    equals the schema Spark's inference job reads. A wrong footer key
    still raises while the frame is built."""
    path, _ = jvm_pme_dir
    key_ids = ["footer-master-key", "key-text", "key-meta"]
    jobs, df = jobs_run_by(lambda: pme.read_pme_distributed(spark, path, key_ids))
    assert jobs == 0
    keys = {kid: pme._master_key(kid) for kid in key_ids}
    inferred = spark.read.options(**pme._crypto_options(keys)).parquet(path)
    assert df.schema == inferred.schema
    with pytest.raises(Exception, match="unknown master key"):
        pme.read_pme_distributed(spark, path, ["wrong-footer", "key-text", "key-meta"])
