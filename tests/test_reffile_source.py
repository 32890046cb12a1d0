"""Python Data Source for the reference file format (reffile_source).

Parity target: reference src/parquet_reader.cpp — selective decrypt,
[ENCRYPTED] masking on unresolvable keys, KMS XOR-0xAA stub contract.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

from pyspark.sql import functions as F

from project_final_parquet_spark.operators.reffile_source import (
    ENCRYPTED_PLACEHOLDER,
    RefFileDataSource,
    _MASTER_HEX,
    _SHARDS,
    read_ref_file,
    staged_ref_dir,
)


def test_pure_python_reader_roundtrip(spark, sf_dir):
    root = staged_ref_dir(spark, sf_dir)
    files = sorted(p for p in os.listdir(root) if p.endswith(".ref"))
    assert len(files) == _SHARDS
    cols, values = read_ref_file(
        os.path.join(root, files[0]), {"master_key_hex": _MASTER_HEX}
    )
    assert cols == ["c_custkey", "c_mktsegment", "c_name"]
    n = len(values[0])
    assert n > 0 and all(len(v) == n for v in values)
    # KMS-wrapped key resolves via the XOR contract: values are REAL
    assert all(v != ENCRYPTED_PLACEHOLDER for v in values[0])


def test_masking_when_kms_key_stripped(spark, sf_dir, tmp_path):
    """Without the wrapped key (and no fallback), the column must come
    back masked — the reference's masking-not-failure semantics."""
    import json
    import struct as st

    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    root = staged_ref_dir(spark, sf_dir)
    src = os.path.join(
        root, sorted(p for p in os.listdir(root) if p.endswith(".ref"))[0]
    )
    data = open(src, "rb").read()
    (flen,) = st.unpack("<Q", data[-8:])
    enc = data[-8 - flen : -8]
    footer = json.loads(
        AESGCM(bytes.fromhex(_MASTER_HEX)).decrypt(enc[:12], enc[12:], None)
    )
    for entry in footer["columns"].values():
        entry.pop("kms_encrypted_key", None)
    key = bytes.fromhex(_MASTER_HEX)
    iv = b"\x00" * 12
    enc = iv + AESGCM(key).encrypt(iv, json.dumps(footer).encode(), None)
    out = tmp_path / "stripped.ref"
    out.write_bytes(data[: -8 - flen] + enc + st.pack("<Q", len(enc)))

    cols, values = read_ref_file(str(out), {"master_key_hex": _MASTER_HEX})
    assert all(
        v == ENCRYPTED_PLACEHOLDER for col in values for v in col
    )


def test_column_key_overrides_kms_wrapped(spark, sf_dir, tmp_path):
    """User-supplied column_keys must WIN over the footer's KMS-wrapped
    key (reference cascade: config.column_keys first, then KMS — and
    encryption/cell.py resolve_read_key). Regression for the inverted
    order: we corrupt the wrapped key in the footer (a stale/rotated
    entry) and supply the true key via column_keys; the column must
    decrypt, not fail with InvalidTag or come back masked."""
    import json
    import struct as st

    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    root = staged_ref_dir(spark, sf_dir)
    src = os.path.join(
        root, sorted(p for p in os.listdir(root) if p.endswith(".ref"))[0]
    )
    data = open(src, "rb").read()
    (flen,) = st.unpack("<Q", data[-8:])
    enc = data[-8 - flen : -8]
    footer = json.loads(
        AESGCM(bytes.fromhex(_MASTER_HEX)).decrypt(enc[:12], enc[12:], None)
    )
    # recover the true per-column keys (XOR-0xAA KMS stub contract),
    # then corrupt every wrapped key in the footer
    true_keys = {}
    for col, entry in footer["columns"].items():
        wrapped = entry.get("kms_encrypted_key")
        if wrapped:
            true_keys[col] = bytes(
                b ^ 0xAA for b in bytes.fromhex(wrapped)
            ).hex()
            entry["kms_encrypted_key"] = "00" * (len(wrapped) // 2)
    assert true_keys, "fixture should have KMS-wrapped columns"
    key = bytes.fromhex(_MASTER_HEX)
    iv = b"\x00" * 12
    enc = iv + AESGCM(key).encrypt(iv, json.dumps(footer).encode(), None)
    out = tmp_path / "stale_kms.ref"
    out.write_bytes(data[: -8 - flen] + enc + st.pack("<Q", len(enc)))

    # baseline sanity: with no override, the corrupted wrapped key must
    # NOT silently decrypt (InvalidTag surfaces as an exception)
    import pytest

    with pytest.raises(Exception):
        read_ref_file(str(out), {"master_key_hex": _MASTER_HEX})

    # with the override, every column decrypts to the pristine values
    ref_cols, ref_values = read_ref_file(
        src, {"master_key_hex": _MASTER_HEX}
    )
    cols, values = read_ref_file(
        str(out),
        {
            "master_key_hex": _MASTER_HEX,
            "column_keys": json.dumps(true_keys),
        },
    )
    assert cols == ref_cols and values == ref_values


def test_spark_scan_parallel_partitions(spark, sf_dir):
    root = staged_ref_dir(spark, sf_dir)
    spark.dataSource.register(RefFileDataSource)
    df = (
        spark.read.format("reffile")
        .option("master_key_hex", _MASTER_HEX)
        .load(root)
    )
    assert df.rdd.getNumPartitions() == _SHARDS
    n = df.count()
    direct = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_custkey") < 30)
        .count()
    )
    assert n == direct


def _write_tiny_ref(path, rows: dict[str, list[str]]):
    """Minimal valid reffile: PLAINTEXT column blobs + AES-GCM footer —
    the layout encryption/reffile.py writes, built without a Spark job
    so hundreds of fixture files stage in milliseconds."""
    import json
    import struct as st

    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    body, footer_cols = b"", {}
    n = len(next(iter(rows.values())))
    for col in sorted(rows):
        blob = "".join(f"{col}: {v}\n" for v in rows[col]).encode()
        footer_cols[col] = {
            "mode": "PLAINTEXT",
            "key_type": "none",
            "offset": len(body),
            "size": len(blob),
        }
        body += blob
    footer = json.dumps({"row_count": n, "columns": footer_cols}).encode()
    iv = b"\x00" * 12
    enc = iv + AESGCM(bytes.fromhex(_MASTER_HEX)).encrypt(iv, footer, None)
    with open(path, "wb") as f:
        f.write(body + enc + st.pack("<Q", len(enc)))


def test_many_files_scan_width_and_compaction(spark, tmp_path):
    """The small-files regime: a directory of 240 tiny reference files
    must (a) scan one-partition-per-file — the connector's parallelism
    tracks file count, the property that makes a 1000-file feed scan
    1000-wide on a cluster — and (b) feed its file manifest straight
    into the shared compaction planner (assign_compaction_bins), whose
    bins must each stay under target and cover every file exactly once:
    the format's answer to its own small-files problem."""
    from pyspark.sql import functions as F

    from project_final_parquet_spark.operators.layout import (
        assign_compaction_bins,
    )

    n_files, rows_per = 240, 5
    root = tmp_path / "many"
    root.mkdir()
    for i in range(n_files):
        vals = [str(i * rows_per + r) for r in range(rows_per)]
        _write_tiny_ref(
            root / f"f{i:04d}.ref",
            {"doc_id": vals, "body": [f"text-{v}" for v in vals]},
        )

    spark.dataSource.register(RefFileDataSource)
    df = (
        spark.read.format("reffile")
        .option("master_key_hex", _MASTER_HEX)
        .schema("body string, doc_id string")
        .load(str(root))
    )
    assert df.rdd.getNumPartitions() == n_files
    assert df.count() == n_files * rows_per
    # spot-check decode fidelity across the file boundary
    got = {r.doc_id for r in df.filter(F.col("doc_id").isin("0", "1199")).collect()}
    assert got == {"0", "1199"}

    # manifest → shared planner: bins under target, files partitioned
    files = sorted(root.glob("*.ref"))
    manifest = spark.createDataFrame(
        [(i, p.stat().st_size) for i, p in enumerate(files)],
        "file_id long, size_bytes long",
    )
    target = 4096
    planned = assign_compaction_bins(manifest, target_bytes=target).collect()
    assert len(planned) == n_files
    per_bin: dict[int, int] = {}
    for row in planned:
        per_bin[row.bin] = per_bin.get(row.bin, 0) + row.size_bytes
    assert len(per_bin) > 1  # genuinely compacts many files into fewer bins
    # greedy-fill invariant: every bin's fill < target + its largest file
    max_size = max(r.size_bytes for r in planned)
    assert all(v < target + max_size for v in per_bin.values())


def test_reffile_stream_restart_resumes_offset(spark, tmp_path):
    """Offset-replay across a stream restart: run the reffile stream to
    exhaustion (availableNow), land MORE reference files, restart from
    the SAME checkpoint — the second run must emit ONLY the new files'
    rows (the sorted-file-count offset resumes; nothing re-read, nothing
    skipped). This is the recovery contract the SimpleDataSourceStream
    Reader's initialOffset/latestOffset pair exists for."""
    from pyspark.sql import functions as F

    root = tmp_path / "stream_src"
    root.mkdir()
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def land(lo, hi):
        for i in range(lo, hi):
            vals = [str(i * 10 + r) for r in range(10)]
            _write_tiny_ref(root / f"f{i:04d}.ref", {"doc_id": vals})

    def run_once():
        q = (
            spark.readStream.format("reffile")
            .option("master_key_hex", _MASTER_HEX)
            .schema("doc_id string")
            .load(str(root))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False WITHOUT raising when
        # the clock runs out — under full-suite CPU contention the 120 s
        # budget was once missed and the test then read a PARTIAL sink
        # (flaked once at the 404-query suite state). Poll in short
        # slices so a query that DIES raises immediately, while a loaded
        # box gets a long total budget as long as the stream is still
        # making progress (micro-batch id advancing between slices).
        import time

        deadline = time.monotonic() + 600
        last_batch = -1
        stalled_since = time.monotonic()
        while q.isActive and time.monotonic() < deadline:
            q.awaitTermination(10)  # raises if the query failed
            p = q.lastProgress
            batch = p["batchId"] if p else -1
            if batch != last_batch:
                last_batch = batch
                stalled_since = time.monotonic()
            elif time.monotonic() - stalled_since > 180:
                break  # no batch progress for 3 min — genuinely stuck
        if q.isActive:
            p = q.lastProgress
            q.stop()
            raise AssertionError(
                f"availableNow stream did not finish (lastProgress={p})"
            )

    spark.dataSource.register(RefFileDataSource)
    land(0, 6)
    run_once()
    first = spark.read.parquet(sink).count()
    assert first == 60
    land(6, 10)
    run_once()
    sunk = spark.read.parquet(sink)
    assert sunk.count() == 100  # 40 new rows, zero re-reads
    assert sunk.select("doc_id").distinct().count() == 100
    assert sunk.agg(F.max(F.col("doc_id").cast("long"))).first()[0] == 99


def test_streaming_reader_batch_equivalence(spark, sf_dir, tmp_path):
    """readStream over the reference-format directory (availableNow)
    must produce exactly the batch read's rows — the repo's established
    stream ≡ batch proof pattern, applied to the custom connector."""
    root = staged_ref_dir(spark, sf_dir)
    spark.dataSource.register(RefFileDataSource)
    batch = set(
        map(
            tuple,
            spark.read.format("reffile")
            .option("master_key_hex", _MASTER_HEX)
            .load(root)
            .collect(),
        )
    )
    stream_df = (
        spark.readStream.format("reffile")
        .option("master_key_hex", _MASTER_HEX)
        .load(root)
    )
    q = (
        stream_df.writeStream.format("memory")
        .queryName("reffile_stream_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = set(
        map(tuple, spark.sql("SELECT * FROM reffile_stream_sink").collect())
    )
    assert got == batch and len(got) > 0


def test_datasource_ships_by_value_from_neutral_cwd(sf_dir, tmp_path):
    """Drill for the pickling note in the module docstring: a fresh
    vanilla session started from a cwd outside the checkout, with the
    checkout on the DRIVER's sys.path only. Its Python workers cannot
    import this package, so the scan only works if the Data Source and
    the codec it calls reach them by value."""
    repo = str(Path(__file__).resolve().parent.parent)
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from project_final_parquet_spark.operators.reffile_source import (
            RefFileDataSource, _MASTER_HEX, staged_ref_dir,
        )

        def worker_sees_package(_):
            import importlib.util
            return importlib.util.find_spec("project_final_parquet_spark") is not None

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        sees = spark.sparkContext.parallelize([0], 1).map(worker_sees_package).first()
        print("WORKER_SEES_PACKAGE", sees)
        root = staged_ref_dir(spark, {sf_dir!r})
        spark.dataSource.register(RefFileDataSource)
        got = (spark.read.format("reffile").option("master_key_hex", _MASTER_HEX)
               .load(root).count())
        want = (spark.read.parquet({sf_dir!r} + "/customer.parquet")
                .filter("c_custkey < 30").count())
        print("COUNTS", got, want)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp_path)  # stage fresh files with this checkout's writer
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    log = out.stdout + out.stderr
    assert "WORKER_SEES_PACKAGE False" in out.stdout, log
    assert "COUNTS 30 30" in out.stdout, log
