"""Multimodal (binary) column operators: images, audio and video carried
as opaque ``binary`` payloads plus typed metadata. Blobs stay columnar
in Parquet, metadata columns drive pruning, and decoding runs as
Arrow-batched ``mapInPandas`` over partitions.

The corpus has no real media, so there are two payload tiers:

- ``media_frame`` synthesizes payloads from ``documents.text`` bytes
  (deterministic, so oracle-checkable); ``fake_decode_features`` and
  ``mm_frame_sample`` exercise the codec plumbing (schema contract,
  Arrow batching, partition mapping) over them.
- ``mm_real_decode_stats`` and the queries after it generate real media
  (binary PPM P6 images and RIFF/WAVE PCM16 audio, deterministic from
  doc_id) and decode them with pure-numpy parsers (magic bytes, header
  and RIFF chunk walk, ``np.frombuffer``). The oracles recompute the
  features in closed form from doc_id.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

_KINDS = ["image", "audio", "video"]


def media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → multimodal frame: (doc_id, kind, payload binary,
    meta struct<n_bytes,checksum>)."""
    docs = load(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


def _make_parsers():
    """Pure-numpy decoders for PPM(P6) and WAV(PCM16) — nested so
    cloudpickle ships them by value to executors (see make_fake_decoder
    note). Both parse the actual byte format: magic check, header walk,
    ``np.frombuffer`` payload; malformed input raises ValueError."""

    import numpy as _np

    def parse_ppm(buf: bytes):
        """P6 binary PPM → (width, height, exact pixel-byte sum).
        Header: ``P6 <ws> width <ws> height <ws> maxval <single-ws>``
        then width*height*3 raw RGB bytes."""
        if buf[:2] != b"P6":
            raise ValueError("not a P6 PPM (bad magic)")
        # tokenize the ASCII header: 3 integers after the magic,
        # whitespace-separated (comments not generated by our encoder)
        pos, vals = 2, []
        while len(vals) < 3:
            while pos < len(buf) and buf[pos : pos + 1].isspace():
                pos += 1
            start = pos
            while pos < len(buf) and buf[pos : pos + 1].isdigit():
                pos += 1
            if start == pos:
                raise ValueError("malformed PPM header")
            vals.append(int(buf[start:pos]))
        pos += 1  # the single whitespace byte terminating the header
        w, h, maxval = vals
        if maxval != 255:
            raise ValueError(f"unsupported maxval {maxval}")
        px = _np.frombuffer(buf, dtype=_np.uint8, offset=pos)
        if px.size != 3 * w * h:
            raise ValueError(
                f"pixel payload {px.size} != 3*{w}*{h}"
            )
        return w, h, int(px.astype(_np.int64).sum())

    def parse_wav(buf: bytes):
        """RIFF/WAVE PCM16 mono → (n_samples, sample_rate, exact sample
        sum). Walks the chunk list; requires fmt(PCM,16-bit) + data."""
        import struct as _struct

        if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE file")
        pos, sr, bits, channels, data = 12, None, None, None, None
        while pos + 8 <= len(buf):
            cid, size = _struct.unpack_from("<4sI", buf, pos)
            body = buf[pos + 8 : pos + 8 + size]
            if len(body) != size:
                # the slice clamps at EOF; a later unpack_from would
                # escape as struct.error, breaking the ValueError-only
                # contract of the fuzz test
                raise ValueError(
                    f"truncated {cid!r} chunk: {len(body)} < {size}"
                )
            if cid == b"fmt ":
                if len(body) < 16:
                    raise ValueError(f"fmt chunk too short ({len(body)})")
                fmt_tag, channels, sr = _struct.unpack_from("<HHI", body, 0)
                bits = _struct.unpack_from("<H", body, 14)[0]
                if fmt_tag != 1:
                    raise ValueError(f"not PCM (fmt tag {fmt_tag})")
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if sr is None or data is None:
            raise ValueError("missing fmt/data chunk")
        if bits != 16 or channels != 1:
            raise ValueError(f"expected 16-bit mono, got {bits}/{channels}")
        samples = _np.frombuffer(data, dtype="<i2")
        return samples.size, sr, int(samples.astype(_np.int64).sum())

    return parse_ppm, parse_wav


# driver-side handles (unit tests); executors get fresh by-value copies
parse_ppm, parse_wav = _make_parsers()


def _make_encoders():
    """Deterministic blob generators (doc_id → real media bytes)."""

    import numpy as _np

    def encode_ppm(doc_id: int) -> bytes:
        w, h = 4 + doc_id % 5, 3 + doc_id % 3
        i = _np.arange(3 * w * h, dtype=_np.int64)
        px = ((doc_id * 7 + i) % 256).astype(_np.uint8)
        return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()

    def encode_wav(doc_id: int) -> bytes:
        import struct as _struct

        n = 64 + doc_id % 64
        i = _np.arange(n, dtype=_np.int64)
        samples = (((doc_id * 31 + i * 17) % 2003) - 1001).astype("<i2")
        data = samples.tobytes()
        fmt = _struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
        dat = _struct.pack("<4sI", b"data", len(data)) + data
        riff = _struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(dat), b"WAVE")
        return riff + fmt + dat

    return encode_ppm, encode_wav


encode_ppm, encode_wav = _make_encoders()


def make_fake_decoder():
    """Deterministic stand-in decoder with the real operator's shape:
    consumes Arrow batches of (doc_id, kind, payload), emits per-item
    byte-level features. Swapping in a real codec changes only the body
    — schema, batching and distribution are identical.

    Built as a NESTED function on purpose: cloudpickle serializes nested
    functions by value, so executors never need this package importable
    (the driver may run from any cwd — module-level functions pickle by
    reference and break with ModuleNotFoundError on the workers)."""

    def fake_decode_features(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            payloads = pdf["payload"]
            # features are computed over decoded CODEPOINTS, not raw
            # UTF-8 bytes: byte-level len()/b[0] would diverge from the
            # character-based oracle (length()/ascii()) on any non-ASCII
            # text. A real media decoder would parse codec structures
            # here instead.
            texts = payloads.map(lambda b: b.decode("utf-8"))
            # empty-payload sentinels follow the oracle's SQL semantics:
            # ascii('') is 0 and sum-over-empty / 0 is NULL in DuckDB, so
            # emit first_cp=0 and mean_cp=NULL (None → Arrow null) rather
            # than inventing a Python-only -1/0.0 convention.
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_units": texts.map(len).astype("int32"),
                    "first_cp": texts.map(
                        lambda s: ord(s[0]) if s else 0
                    ).astype("int32"),
                    "mean_cp": _pd.Series(
                        [
                            (float(sum(map(ord, s))) / len(s)) if s else None
                            for s in texts
                        ],
                        index=pdf.index,
                        dtype="object",
                    ),
                }
            )

    return fake_decode_features


fake_decode_features = make_fake_decoder()


_DECODE_SCHEMA = (
    "doc_id long, kind string, n_units int, first_cp int, mean_cp double"
)


@query(
    "mm_metadata_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT kind, COUNT(*) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(n_bytes) AS BIGINT) AS min_bytes,
           CAST(MAX(n_bytes) AS BIGINT) AS max_bytes
    FROM m GROUP BY kind ORDER BY kind
    """,
)
def mm_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over the multimodal frame: blob sizes per kind.
    The payload column is pruned out of the parquet scan entirely —
    exactly how a 100 TB blob table should answer metadata queries."""
    mf = media_frame(spark, sf_dir)
    return (
        mf.select("kind", F.col("meta.n_bytes").alias("n_bytes"))
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
            F.min(F.col("n_bytes").cast("long")).alias("min_bytes"),
            F.max(F.col("n_bytes").cast("long")).alias("max_bytes"),
        )
        .orderBy("kind")
    )


@query(
    "mm_decode_features",
    oracle="""
    SELECT doc_id,
           ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
           CAST(length(text) AS INT) AS n_units,
           CAST(ascii(substr(text, 1, 1)) AS INT) AS first_cp,
           CAST(list_aggregate(list_transform(range(length(text)),
                i -> ascii(substr(text, i+1, 1))), 'sum') AS DOUBLE)
             / length(text) AS mean_cp
    FROM documents
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas — the sanctioned Python path for codec work the JVM
    can't express. The stub decoder computes byte statistics; the
    oracle reproduces them from the (ASCII) source text."""
    mf = media_frame(spark, sf_dir).select("doc_id", "kind", "payload")
    return mf.mapInPandas(fake_decode_features, schema=_DECODE_SCHEMA)


@query(
    "mm_arrow_features",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
             octet_length(encode(text)) AS n_bytes,
             ascii(substr(text, 1, 1)) AS first_byte
      FROM documents
    )
    SELECT kind,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(MIN(first_byte) AS BIGINT) AS min_first_byte,
           CAST(MAX(first_byte) AS BIGINT) AS max_first_byte
    FROM m GROUP BY kind ORDER BY kind
    """,
)
def mm_arrow_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction through ``mapInArrow`` — the
    zero-copy tier of the UDF surface (below pandas UDFs: no
    Arrow→pandas conversion at all; batches stay as RecordBatches, the
    right level for codec-style byte work that pandas would only slow
    down). Features: payload byte length (vectorized Arrow kernel) and
    first byte (0 sentinel for empty payloads). The corpus is ASCII, so
    the first-byte equals the oracle's ascii() of the first character —
    asserted in bulk by the gate, byte-vs-codepoint caveat documented
    where it matters (make_fake_decoder).

    Scale: same Arrow batch dataflow as mapInPandas (pipeline-parallel,
    no shuffle), minus the pandas materialization per batch."""
    mf = media_frame(spark, sf_dir).select("doc_id", "kind", "payload")

    def make_arrow_mapper():
        # nested: cloudpickle serializes by value (see make_fake_decoder)
        def mapper(batches):
            import pyarrow as _pa
            import pyarrow.compute as _pc

            for batch in batches:
                payload = batch.column("payload")
                n_bytes = _pc.cast(
                    _pc.binary_length(payload), _pa.int64()
                )
                first = _pa.array(
                    [b[0] if len(b) else 0 for b in payload.to_pylist()],
                    type=_pa.int64(),
                )
                yield _pa.RecordBatch.from_arrays(
                    [batch.column("doc_id"), batch.column("kind"),
                     n_bytes, first],
                    names=["doc_id", "kind", "n_bytes", "first_byte"],
                )

        return mapper

    feats = mf.mapInArrow(
        make_arrow_mapper(),
        schema="doc_id long, kind string, n_bytes long, first_byte long",
    )
    return (
        feats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("first_byte").alias("min_first_byte"),
            F.max("first_byte").alias("max_first_byte"),
        )
        .orderBy("kind")
    )


def make_blob_encoder():
    """mapInPandas stage: doc_id → real media blob (even ids get a PPM
    image, odd ids a WAV clip). Nested for by-value pickling."""
    import numpy as _np  # noqa: F401  (parity with executor imports)

    enc_ppm, enc_wav = _make_encoders()

    def encode_blobs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield _pd.DataFrame(
                {
                    "doc_id": ids,
                    "fmt": ids.map(lambda d: "ppm" if d % 2 == 0 else "wav"),
                    "payload": ids.map(
                        lambda d: enc_ppm(int(d))
                        if d % 2 == 0
                        else enc_wav(int(d))
                    ),
                }
            )

    return encode_blobs


def make_real_decoder():
    """mapInPandas stage: REAL decode of the media payloads. Dispatches
    on the format tag, parses the actual bytes (header + payload), and
    emits (n_units, unit_rate, mean_val) — pixels/mean-pixel for images,
    samples/sample-rate/mean-amplitude for audio. The mean divides an
    EXACT integer sum by the unit count, so it is bit-reproducible."""
    p_ppm, p_wav = _make_parsers()

    def real_decode_features(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = {"doc_id": [], "fmt": [], "n_units": [], "unit_rate": [],
                   "mean_val": []}
            for doc_id, fmt, payload in zip(
                pdf["doc_id"], pdf["fmt"], pdf["payload"]
            ):
                if fmt == "ppm":
                    w, h, px_sum = p_ppm(bytes(payload))
                    n, rate = w * h, 0
                    mean = float(px_sum) / (3 * w * h)
                else:
                    n, rate, s_sum = p_wav(bytes(payload))
                    mean = float(s_sum) / n
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["n_units"].append(n)
                out["unit_rate"].append(rate)
                out["mean_val"].append(mean)
            yield _pd.DataFrame(out)

    return real_decode_features


@query(
    "mm_real_decode_stats",
    oracle="""
    WITH params AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'wav' END AS fmt,
             4 + CAST(doc_id % 5 AS INT) AS w,
             3 + CAST(doc_id % 3 AS INT) AS h,
             64 + CAST(doc_id % 64 AS INT) AS n
      FROM documents
    )
    SELECT doc_id, fmt,
      CASE WHEN fmt = 'ppm' THEN CAST(w * h AS BIGINT)
           ELSE CAST(n AS BIGINT) END AS n_units,
      CASE WHEN fmt = 'ppm' THEN CAST(0 AS BIGINT)
           ELSE CAST(8000 AS BIGINT) END AS unit_rate,
      CASE WHEN fmt = 'ppm' THEN
        CAST(list_aggregate(list_transform(range(3 * w * h),
               i -> (doc_id * 7 + i) % 256), 'sum') AS DOUBLE)
          / (3 * w * h)
      ELSE
        CAST(list_aggregate(list_transform(range(n),
               i -> ((doc_id * 31 + i * 17) % 2003) - 1001), 'sum')
             AS DOUBLE) / n
      END AS mean_val
    FROM params
    ORDER BY doc_id
    """,
)
def mm_real_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end: generate genuine PPM(P6) / WAV
    (PCM16 mono) blobs per document, then parse them back — magic bytes,
    ASCII header / RIFF chunk walk, np.frombuffer — all inside two
    Arrow-batched mapInPandas stages (no codec libraries needed for
    these classic uncompressed formats). The oracle recomputes each
    feature in closed form from doc_id, so any header/offset/endianness
    mistake in the parser shows up as a hash mismatch.

    Scale: blobs never leave the executors; both stages are
    pipeline-parallel with zero shuffles — the pattern a 100 TB
    media-ingest (decode → feature-extract → filter) runs with the
    payloads read from columnar storage instead of generated."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    blobs = docs.mapInPandas(
        make_blob_encoder(), schema="doc_id long, fmt string, payload binary"
    )
    feats = blobs.mapInPandas(
        make_real_decoder(),
        schema=(
            "doc_id long, fmt string, n_units long, unit_rate long,"
            " mean_val double"
        ),
    )
    return feats.orderBy("doc_id")


# --- perceptual-hash image dedup --------------------------------------------


def make_phash_stage():
    """mapInPandas stage: doc_id → 16x16 PPM blob → REAL parse → 64-bit
    average-hash as a bit-string. Nested for by-value pickling; the
    pixel parser repeats parse_ppm's header walk but returns the pixel
    array (the 3-tuple stats contract of _make_parsers is left
    untouched)."""
    import numpy as _np

    def encode(doc_id: int) -> bytes:
        # base pattern g (doc_id % 17) + per-doc brightness b: aHash
        # must collapse the brightness variants (no clipping: <= 200)
        g, b = doc_id % 17, doc_id % 3
        i = _np.arange(3 * 256, dtype=_np.int64)
        px = ((g * 7 + i) % 199 + b).astype(_np.uint8)
        return b"P6\n16 16\n255\n" + px.tobytes()

    def parse_pixels(buf: bytes):
        if buf[:2] != b"P6":
            raise ValueError("not a P6 PPM (bad magic)")
        pos, vals = 2, []
        while len(vals) < 3:
            while pos < len(buf) and buf[pos : pos + 1].isspace():
                pos += 1
            start = pos
            while pos < len(buf) and buf[pos : pos + 1].isdigit():
                pos += 1
            if start == pos:
                raise ValueError("malformed PPM header")
            vals.append(int(buf[start:pos]))
        pos += 1
        w, h, maxval = vals
        if maxval != 255:
            raise ValueError(f"unsupported maxval {maxval}")
        px = _np.frombuffer(buf, dtype=_np.uint8, offset=pos)
        if px.size != 3 * w * h:
            raise ValueError(f"pixel payload {px.size} != 3*{w}*{h}")
        return w, h, px.astype(_np.int64)

    def ahash(buf: bytes) -> str:
        w, h, px = parse_pixels(buf)
        lum = px.reshape(w * h, 3).sum(1).reshape(h, w)  # int luminance x3
        blocks = lum.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
        total = int(lum.sum())
        # integer cross-multiply, never a float mean: bit = block mean
        # above global mean, exact at any image size
        bits = blocks.flatten() * 64 > total
        return "".join("1" if x else "0" for x in bits)

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": pdf["doc_id"].map(
                        lambda d: ahash(encode(int(d)))
                    ),
                }
            )

    return stage


@query(
    "mm_phash_dedup",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT doc_id % 3) AS BIGINT) AS n_variants
    FROM documents GROUP BY doc_id % 17 ORDER BY rep
    """,
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup: every document gets a REAL 16x16
    PPM render of its base pattern (doc_id % 17) shifted by a per-doc
    brightness (doc_id % 3); the pipeline re-parses the bytes and
    computes the classic 8x8 average hash, then clusters by exact hash.
    Average-hash is provably brightness-invariant here in EXACT integer
    arithmetic: a +b shift adds 4*3b to every block sum and 256*3b to
    the total, and (blocksum+12b)*64 > total+768b <=> blocksum*64 >
    total — so the 3 brightness variants of each base MUST collapse to
    one cluster, and the oracle can state the expected clustering in
    closed form (17 clusters keyed by min doc_id, all brightness
    variants present). Any decode offset / block indexing / threshold
    bug breaks the collapse and the hash mismatch surfaces it.

    Scale: encode+hash is one Arrow-batched mapInPandas sweep (blobs
    never leave executors, never shuffle); the cluster step shuffles
    only (doc_id, 64-bit hash) pairs — the image-dedup analog of
    dedup_exact's hash-groupBy, with Hamming-near variants handled the
    way SimHash does it (band the 64 bits into 4x16-bit keys) if
    byte-exact equality is too strict — dedup_near_simhash is the
    in-repo primitive for that."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    hashed = docs.mapInPandas(
        make_phash_stage(), schema="doc_id long, phash string"
    )
    return (
        hashed.groupBy("phash")
        .agg(
            F.min("doc_id").cast("long").alias("rep"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct(F.col("doc_id") % 3).cast("long").alias(
                "n_variants"
            ),
        )
        .select("rep", "n_docs", "n_variants")
        .orderBy("rep")
    )


# --- energy-based voice-activity segmentation -------------------------------


def make_vad_stage():
    """mapInPandas stage: doc_id → real WAV blob → RIFF parse to the
    full PCM16 sample array → frame energies → VAD flags → segment
    runs. Nested for by-value pickling (same reason as the other
    stages). The RIFF walk repeats parse_wav's full chunk discipline —
    including the fmt validation (PCM/16-bit/mono) — but keeps the
    samples (parse_wav's 3-tuple stats contract stays untouched)."""
    import struct as _struct

    import numpy as _np

    _, enc_wav = _make_encoders()

    def parse_samples(buf: bytes) -> _np.ndarray:
        if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
            raise ValueError("not a RIFF/WAVE file")
        pos, data = 12, None
        fmt_ok = False
        while pos + 8 <= len(buf):
            cid, size = buf[pos : pos + 4], _struct.unpack_from("<I", buf, pos + 4)[0]
            body = buf[pos + 8 : pos + 8 + size]
            if len(body) != size:
                raise ValueError("truncated chunk body")
            if cid == b"fmt ":
                # same contract as parse_wav: PCM, 16-bit, mono — a
                # stereo or non-PCM data chunk must be rejected, not
                # misread as int16 mono
                if len(body) < 16:
                    raise ValueError(f"fmt chunk too short ({len(body)})")
                fmt_tag, channels, _sr = _struct.unpack_from("<HHI", body, 0)
                bits = _struct.unpack_from("<H", body, 14)[0]
                if fmt_tag != 1 or bits != 16 or channels != 1:
                    raise ValueError(
                        f"expected PCM 16-bit mono, got "
                        f"tag={fmt_tag} bits={bits} ch={channels}"
                    )
                fmt_ok = True
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)
        if data is None or not fmt_ok:
            raise ValueError("missing fmt/data chunk")
        return _np.frombuffer(data, dtype="<i2").astype(_np.int64)

    def vad(batches):
        import pandas as _pd

        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "n_speech": [],
                "n_segments": [], "peak_energy": [],
            }
            for doc_id in pdf["doc_id"]:
                smp = parse_samples(enc_wav(int(doc_id)))
                nf = smp.size // 16
                frames = smp[: nf * 16].reshape(nf, 16)
                en = (frames * frames).sum(axis=1)  # exact int64
                tot = int(en.sum())
                flags = en * nf > tot  # integer cross-multiply mean test
                starts = flags & ~_np.concatenate(([False], flags[:-1]))
                out["doc_id"].append(int(doc_id))
                out["n_frames"].append(nf)
                out["n_speech"].append(int(flags.sum()))
                out["n_segments"].append(int(starts.sum()))
                out["peak_energy"].append(int(en.max()))
            yield _pd.DataFrame(out)

    vad.parse_samples = parse_samples  # exposed for the hostile-input test
    return vad


@query(
    "mm_audio_vad_segments",
    oracle="""
    WITH p AS (
      SELECT doc_id, 64 + doc_id % 64 AS n,
             (64 + doc_id % 64) // 16 AS nf
      FROM documents WHERE doc_id % 2 = 1
    ),
    s AS (
      SELECT doc_id, nf,
             list_transform(range(n),
               i -> CAST(((doc_id * 31 + i * 17) % 2003) - 1001
                         AS BIGINT)) AS smp
      FROM p
    ),
    e AS (
      SELECT doc_id, nf,
             list_transform(range(nf),
               f -> list_aggregate(
                      list_transform(
                        list_slice(smp, f * 16 + 1, f * 16 + 16),
                        x -> x * x),
                      'sum')) AS en
      FROM s
    ),
    t AS (
      SELECT doc_id, nf, en,
             list_aggregate(en, 'sum') AS tot,
             list_aggregate(en, 'max') AS peak
      FROM e
    )
    SELECT doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(list_aggregate(list_transform(en,
                  x -> CASE WHEN x * nf > tot THEN 1 ELSE 0 END), 'sum')
                AS BIGINT) AS n_speech,
           CAST(list_aggregate(list_transform(range(nf),
                  f -> CASE WHEN en[f + 1] * nf > tot
                            AND (f = 0 OR NOT (en[f] * nf > tot))
                       THEN 1 ELSE 0 END), 'sum')
                AS BIGINT) AS n_segments,
           CAST(peak AS BIGINT) AS peak_energy
    FROM t ORDER BY doc_id
    """,
)
def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection over REAL decoded audio: every odd-id
    document's WAV clip (the same RIFF/WAVE PCM16 blobs
    mm_real_decode_stats generates) is parsed back to its sample array,
    cut into 16-sample frames, and each frame classified speech/silence
    by energy against the clip's mean frame energy — then consecutive
    speech frames merge into segments. This is the first signal-
    PROCESSING (not just header-stats) operator on the decode path:
    frame energies, activity ratio, and segment counts are what an
    audio-corpus pipeline uses to drop silence-only clips and to chunk
    long recordings for transcription.

    All arithmetic is exact int64 (energies are sums of int16², the
    speech test is the integer cross-multiply energy*n_frames >
    total — never a float mean), so the closed-form oracle recomputes
    the identical numbers from doc_id; any parser offset/endianness
    slip or off-by-one in the frame slicing breaks the hash.

    Scale: blobs and sample arrays never leave the executor — one
    Arrow-batched mapInPandas with zero shuffles before the final
    orderBy; at 100 TB the stage reads payloads from columnar storage
    and the per-clip work is independent (pipeline-parallel), with
    frame math vectorized in numpy across the whole batch."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 2 == 1)
    )
    feats = docs.mapInPandas(
        make_vad_stage(),
        schema=(
            "doc_id long, n_frames long, n_speech long, n_segments long,"
            " peak_energy long"
        ),
    )
    return feats.orderBy("doc_id")


# --- video scene-cut detection ----------------------------------------------


def make_video_stage():
    """mapInPandas stage: doc_id → multi-frame PPM stream (the MJPEG
    idiom: P6 images back-to-back, one per frame) → REAL repeated
    header-walk parse → circular frame-diff energies → scene cuts.
    Nested for by-value pickling. Each generated clip embeds one true
    scene change at frame F//2 (different pixel generator), so cut
    detection has signal to find; everything is exact int64."""
    import numpy as _np

    def encode_video(doc_id: int) -> bytes:
        w, h = 4 + doc_id % 4, 3 + doc_id % 3
        nfr, s, npix = 4 + doc_id % 5, (4 + doc_id % 5) // 2, 3 * w * h
        out = []
        i = _np.arange(npix, dtype=_np.int64)
        for f in range(nfr):
            if f < s:
                px = (doc_id * 7 + f + 3 * i) % 256
            else:
                px = (doc_id * 11 + 5 * f + 7 * i + 97) % 256
            out.append(
                f"P6\n{w} {h}\n255\n".encode()
                + px.astype(_np.uint8).tobytes()
            )
        return b"".join(out)

    def parse_frames(buf: bytes):
        frames, pos, dims = [], 0, None
        while pos < len(buf):
            if buf[pos : pos + 2] != b"P6":
                raise ValueError("bad frame magic")
            p, vals = pos + 2, []
            while len(vals) < 3:
                while p < len(buf) and buf[p : p + 1].isspace():
                    p += 1
                start = p
                while p < len(buf) and buf[p : p + 1].isdigit():
                    p += 1
                if start == p:
                    raise ValueError("malformed frame header")
                vals.append(int(buf[start:p]))
            p += 1
            w, h, maxval = vals
            if maxval != 255:
                raise ValueError(f"unsupported maxval {maxval}")
            if dims is None:
                dims = (w, h)
            elif dims != (w, h):
                raise ValueError("frame dimension change mid-stream")
            npix = 3 * w * h
            px = _np.frombuffer(buf, dtype=_np.uint8, offset=p, count=npix)
            if px.size != npix:
                raise ValueError("truncated frame payload")
            frames.append(px.astype(_np.int64))
            pos = p + npix
        if len(frames) < 2:
            raise ValueError("need >= 2 frames")
        return frames

    def scene_cuts(batches):
        import pandas as _pd

        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "n_cuts": [],
                "first_cut": [], "max_diff": [], "total_diff": [],
            }
            for doc_id in pdf["doc_id"]:
                frames = parse_frames(encode_video(int(doc_id)))
                nfr = len(frames)
                diffs = []
                for f in range(1, nfr):
                    d = _np.abs(frames[f] - frames[f - 1])
                    diffs.append(int(_np.minimum(d, 256 - d).sum()))
                en = _np.array(diffs, dtype=_np.int64)
                tot = int(en.sum())
                cuts = en * (nfr - 1) > 2 * tot
                idx = _np.nonzero(cuts)[0]
                out["doc_id"].append(int(doc_id))
                out["n_frames"].append(nfr)
                out["n_cuts"].append(int(cuts.sum()))
                out["first_cut"].append(int(idx[0]) + 1 if idx.size else -1)
                out["max_diff"].append(int(en.max()))
                out["total_diff"].append(tot)
            yield _pd.DataFrame(out)

    # exposed for the replay / hostile-input tests
    scene_cuts.encode_video = encode_video
    scene_cuts.parse_frames = parse_frames
    return scene_cuts


@query(
    "mm_video_scene_cuts",
    oracle="""
    WITH p AS (
      SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
             4 + doc_id % 5 AS nfr, (4 + doc_id % 5) // 2 AS s,
             3 * (4 + doc_id % 4) * (3 + doc_id % 3) AS npix
      FROM documents WHERE doc_id % 3 = 2
    ),
    fr AS (
      SELECT doc_id, nfr,
             list_transform(range(nfr), f ->
               list_transform(range(npix), i ->
                 CASE WHEN f < s
                      THEN (doc_id * 7 + f + 3 * i) % 256
                      ELSE (doc_id * 11 + 5 * f + 7 * i + 97) % 256
                 END)) AS frames
      FROM p
    ),
    d AS (
      SELECT doc_id, nfr,
             list_transform(range(nfr - 1), f ->
               list_aggregate(list_transform(range(
                   len(frames[1])), i ->
                 LEAST(abs(frames[f + 2][i + 1] - frames[f + 1][i + 1]),
                       256 - abs(frames[f + 2][i + 1]
                                 - frames[f + 1][i + 1]))),
                 'sum')) AS diffs
      FROM fr
    ),
    t AS (
      SELECT doc_id, nfr, diffs,
             list_aggregate(diffs, 'sum') AS tot,
             list_aggregate(diffs, 'max') AS mx
      FROM d
    )
    SELECT doc_id,
           CAST(nfr AS BIGINT) AS n_frames,
           CAST(list_aggregate(list_transform(range(nfr - 1), f ->
                  CASE WHEN diffs[f + 1] * (nfr - 1) > 2 * tot
                       THEN 1 ELSE 0 END), 'sum') AS BIGINT) AS n_cuts,
           CAST(COALESCE(list_aggregate(list_transform(range(nfr - 1),
                  f -> CASE WHEN diffs[f + 1] * (nfr - 1) > 2 * tot
                            THEN f + 1 END), 'min'), -1) AS BIGINT)
             AS first_cut,
           CAST(mx AS BIGINT) AS max_diff,
           CAST(tot AS BIGINT) AS total_diff
    FROM t ORDER BY doc_id
    """,
)
def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over REAL multi-frame video streams — the
    video leg of the multimodal triple (image: mm_phash_dedup, audio:
    mm_audio_vad_segments). Every video-kind document (doc_id % 3 = 2,
    media_frame's kind assignment) gets a generated clip of 4-8 frames
    as back-to-back P6 images (the MJPEG idiom); the decoder re-walks
    every frame header, enforces constant dimensions, and computes
    CIRCULAR per-pixel frame diffs (min(|d|, 256-|d|) — wrap-safe);
    a frame is a cut when its diff energy exceeds 2x the clip mean
    (integer cross-multiply, never a float mean). Scene detection is
    what a video-corpus pipeline runs to pick representative frames
    for captioning and to split clips at shot boundaries.

    Each clip embeds one true scene change at frame F//2 (the pixel
    generator switches), so the detector has real signal; all
    arithmetic is exact int64 and the closed-form oracle replays
    generator + diffs + threshold per doc_id — any header-walk or
    off-by-one slip breaks the hash.

    Scale: identical to the other real-decode stages — one
    Arrow-batched mapInPandas, blobs never leave the executor, zero
    shuffles before the final orderBy; at 100 TB payloads come from
    columnar storage and per-clip work is independent."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 2)
    )
    feats = docs.mapInPandas(
        make_video_stage(),
        schema=(
            "doc_id long, n_frames long, n_cuts long, first_cut long,"
            " max_diff long, total_diff long"
        ),
    )
    return feats.orderBy("doc_id")


# --- aspect-ratio bucketing (image-training batch prep) ---------------------

# (name, p, q): target aspect p/q — the bucket ladder an image trainer
# groups samples by so each batch resizes to ONE canvas. Index order is
# the deterministic tie-break.
_ASPECT_LADDER = [
    ("3:4", 3, 4),
    ("1:1", 1, 1),
    ("4:3", 4, 3),
    ("16:9", 16, 9),
    ("2:1", 2, 1),
]


def make_wh_stage():
    """mapInPandas stage: doc_id → real PPM blob → REAL header parse →
    (width, height). Nested for by-value pickling (driver may run from
    any cwd — registry contract note)."""
    import numpy as _np

    def encode(doc_id: int) -> bytes:
        w, h = 4 + doc_id % 5, 3 + doc_id % 3
        i = _np.arange(3 * w * h, dtype=_np.int64)
        px = ((doc_id * 7 + i) % 256).astype(_np.uint8)
        return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()

    def parse_wh(buf: bytes):
        if buf[:2] != b"P6":
            raise ValueError("not a P6 PPM (bad magic)")
        pos, vals = 2, []
        while len(vals) < 3:
            while pos < len(buf) and buf[pos : pos + 1].isspace():
                pos += 1
            start = pos
            while pos < len(buf) and buf[pos : pos + 1].isdigit():
                pos += 1
            if start == pos:
                raise ValueError("malformed PPM header")
            vals.append(int(buf[start:pos]))
        return vals[0], vals[1]

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            wh = pdf["doc_id"].map(lambda d: parse_wh(encode(int(d))))
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "w": wh.map(lambda t: t[0]).astype("int64"),
                    "h": wh.map(lambda t: t[1]).astype("int64"),
                }
            )

    return stage


@query(
    "mm_aspect_bucket",
    oracle=f"""
    WITH imgs AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS BIGINT) AS w,
             CAST(3 + doc_id % 3 AS BIGINT) AS h
      FROM documents WHERE doc_id % 2 = 0
    ),
    ladder AS (
      SELECT * FROM (VALUES {", ".join(
          f"('{name}', {p}, {q}, {i})"
          for i, (name, p, q) in enumerate(_ASPECT_LADDER)
      )}) AS t(bucket, p, q, tgt_idx)
    ),
    scored AS (
      SELECT imgs.doc_id, imgs.w, imgs.h, ladder.bucket,
             ROW_NUMBER() OVER (
               PARTITION BY imgs.doc_id
               ORDER BY CAST(abs(imgs.w * ladder.q - ladder.p * imgs.h)
                             AS DOUBLE) / ladder.q,
                        ladder.tgt_idx) AS rn
      FROM imgs CROSS JOIN ladder
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(w * h) AS BIGINT) AS total_px,
           {{DSUM}} / COUNT(*) AS mean_ratio
    FROM scored WHERE rn = 1
    GROUP BY bucket ORDER BY bucket
    """.replace(
        "{DSUM}",
        "CAST(CAST(SUM(CAST(CAST(w AS DOUBLE) / h AS DECIMAL(38,10)))"
        " AS VARCHAR) AS DOUBLE)",
    ),
)
def mm_aspect_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketing for image-training batch prep: decode
    each image's (width, height) — real PPM header parse inside an
    Arrow-batched mapInPandas stage, same tier as mm_real_decode_stats
    — and assign it to the nearest bucket of a fixed aspect ladder
    (3:4, 1:1, 4:3, 16:9, 2:1), the standard trick that lets a
    diffusion/vision trainer batch variable-shape images without
    destructive square cropping. Per bucket: image count, total pixel
    load (the batch-cost proxy), and mean aspect ratio.

    Determinism: nearest-bucket distance |w/h − p/q| is compared as
    |w·q − p·h| / q — numerator an exact integer, one small-int double
    division — with the ladder index as tie-break, via an identical
    ROW_NUMBER in both engines; the oracle recomputes (w, h) in closed
    form from doc_id (the mm_real_decode_stats contract, so any header
    parse bug is a hash mismatch); mean ratio uses the DSUM convention.

    Scale: blobs never leave the executors and never shuffle — the
    decode stage is pipeline-parallel; the ladder is STATIC, so the
    argmin is unrolled into a map-side ``array_min`` over 5 inline
    (metric, idx, bucket) structs — no join, no window, ZERO exchanges
    before the final 5-group aggregate with map-side combine (the
    oracle's ROW_NUMBER-over-cross-join is the relational spec of the
    same (metric, idx) minimum)."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 2 == 0)
    )
    wh = docs.mapInPandas(make_wh_stage(), schema="doc_id long, w long, h long")
    # struct comparison is field-order lexicographic: (metric, tgt_idx)
    # — identical to the oracle's ROW_NUMBER ordering
    candidates = F.array(
        *[
            F.struct(
                (
                    F.abs(F.col("w") * q - p * F.col("h")).cast("double") / q
                ).alias("metric"),
                F.lit(i).alias("tgt_idx"),
                F.lit(name).alias("bucket"),
            )
            for i, (name, p, q) in enumerate(_ASPECT_LADDER)
        ]
    )
    scored = wh.withColumn("best", F.array_min(candidates))
    from ..registry import dsum as _dsum

    return (
        scored.select(
            F.col("best.bucket").alias("bucket"), "w", "h"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum(F.col("w") * F.col("h")).cast("long").alias("total_px"),
            (
                _dsum(F.col("w").cast("double") / F.col("h"))
                / F.count(F.lit(1))
            ).alias("mean_ratio"),
        )
        .orderBy("bucket")
    )


# --- RMS loudness gate over real WAV decode ----------------------------------

# keep if RMS > 580 (PCM16 units) — the median of the synthetic
# clips' RMS distribution, so the gate genuinely splits the corpus;
# decided by integer cross-multiply
_LOUDNESS_THR = 580


@query(
    "mm_wav_loudness_gate",
    oracle=f"""
    WITH params AS (
      SELECT doc_id, 64 + CAST(doc_id % 64 AS INT) AS n
      FROM documents WHERE doc_id % 2 = 1
    ),
    feats AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
             CAST(list_aggregate(list_transform(range(n),
                    i -> (((doc_id * 31 + i * 17) % 2003) - 1001)
                         * (((doc_id * 31 + i * 17) % 2003) - 1001)),
                  'sum') AS BIGINT) AS sum_sq
      FROM params
    )
    SELECT doc_id, n_samples, sum_sq,
           sqrt(CAST(sum_sq AS DOUBLE) / n_samples) AS rms,
           sum_sq > CAST({_LOUDNESS_THR} AS BIGINT)
                    * {_LOUDNESS_THR} * n_samples AS kept
    FROM feats ORDER BY doc_id
    """,
)
def mm_wav_loudness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio loudness gate over REAL WAV decode: generate the PCM16
    blobs, parse them with the genuine RIFF chunk walk (the
    mm_real_decode_stats tier), compute each clip's RMS energy, and
    gate on it — the silence/near-silence filter an audio-training
    pipeline runs before paying for transcription or embedding. The
    oracle recomputes the sample sum-of-squares in closed form from
    doc_id, so a decode bug (offset, endianness, chunk padding) is a
    hash mismatch.

    Determinism: sum_sq is an exact BIGINT (samples are ints); the
    keep decision is a PURE-INTEGER cross-multiplication
    (sum_sq > thr²·n — never a float RMS compared to a float
    threshold); the reported rms is one IEEE division + sqrt of exact
    integers.

    Scale: blobs never leave the executors (mapInPandas,
    pipeline-parallel, zero shuffles before the trivially bounded
    ORDER BY); the gate column makes the downstream filter a pushed
    predicate on this stage's output at 100 TB."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 2 == 1)
    )

    def make_stage():
        import numpy as _np

        def encode_local(doc_id: int) -> bytes:
            import struct as _struct

            n = 64 + doc_id % 64
            i = _np.arange(n, dtype=_np.int64)
            samples = (((doc_id * 31 + i * 17) % 2003) - 1001).astype("<i2")
            data = samples.tobytes()
            fmt = _struct.pack(
                "<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16
            )
            dat = _struct.pack("<4sI", b"data", len(data)) + data
            riff = _struct.pack(
                "<4sI4s", b"RIFF", 4 + len(fmt) + len(dat), b"WAVE"
            )
            return riff + fmt + dat

        def parse_sumsq(buf: bytes):
            import struct as _struct

            if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
                raise ValueError("not a RIFF/WAVE file")
            pos, data = 12, None
            while pos + 8 <= len(buf):
                cid, size = _struct.unpack_from("<4sI", buf, pos)
                body = buf[pos + 8 : pos + 8 + size]
                if cid == b"data":
                    data = body
                pos += 8 + size + (size & 1)
            if data is None:
                raise ValueError("missing data chunk")
            s = _np.frombuffer(data, dtype="<i2").astype(_np.int64)
            return s.size, int((s * s).sum())

        def stage(batches):
            import pandas as _pd

            for pdf in batches:
                out = pdf["doc_id"].map(
                    lambda d: parse_sumsq(encode_local(int(d)))
                )
                yield _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_samples": out.map(lambda t: t[0]).astype(
                            "int64"
                        ),
                        "sum_sq": out.map(lambda t: t[1]).astype("int64"),
                    }
                )

        return stage

    feats = docs.mapInPandas(
        make_stage(), schema="doc_id long, n_samples long, sum_sq long"
    )
    thr2 = _LOUDNESS_THR * _LOUDNESS_THR
    return feats.select(
        "doc_id",
        "n_samples",
        "sum_sq",
        F.sqrt(
            F.col("sum_sq").cast("double") / F.col("n_samples")
        ).alias("rms"),
        (F.col("sum_sq") > F.lit(thr2) * F.col("n_samples")).alias("kept"),
    ).orderBy("doc_id")


_CHUNK_SAMPLES = 50  # fixed featurizer window


def make_wav_length_stage():
    """mapInPandas stage: doc_id → real WAV blob → REAL parse →
    (doc_id, n_samples, sample_rate). Everything nested so executors
    get by-value pickles (the round-4 ModuleNotFoundError lesson)."""

    _, encode_wav = _make_encoders()
    _, parse_wav = _make_parsers()

    def wav_lengths(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = {"doc_id": [], "n_samples": [], "sample_rate": []}
            for doc_id in pdf["doc_id"]:
                n, sr, _ = parse_wav(encode_wav(int(doc_id)))
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["sample_rate"].append(sr)
            yield _pd.DataFrame(out)

    return wav_lengths


@query(
    "mm_audio_chunk_plan",
    oracle=f"""
    WITH params AS (
      SELECT doc_id, 64 + CAST(doc_id % 64 AS INT) AS n
      FROM documents WHERE doc_id % 2 = 1
    ),
    plan AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples, i AS chunk_idx,
             (n + {_CHUNK_SAMPLES - 1}) // {_CHUNK_SAMPLES} AS n_chunks
      FROM params
      CROSS JOIN (SELECT unnest(range(
        (127 + {_CHUNK_SAMPLES - 1}) // {_CHUNK_SAMPLES})) AS i)
      WHERE i < (n + {_CHUNK_SAMPLES - 1}) // {_CHUNK_SAMPLES}
    )
    SELECT doc_id, n_samples, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * {_CHUNK_SAMPLES} AS BIGINT) AS start_sample,
           CAST(least(n_samples, (chunk_idx + 1) * {_CHUNK_SAMPLES})
                AS BIGINT) AS end_sample,
           CAST(CASE WHEN chunk_idx = n_chunks - 1
                     THEN n_chunks * {_CHUNK_SAMPLES} - n_samples
                     ELSE 0 END AS BIGINT) AS pad_samples
    FROM plan ORDER BY doc_id, chunk_idx
    """,
)
def mm_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window audio batching plan: every audio clip (odd doc_ids,
    the corpus's WAV modality) is decoded FOR REAL (RIFF walk on the
    generated PCM16 bytes — never trusting metadata) and split into
    {_CHUNK_SAMPLES}-sample featurizer windows; each chunk row carries
    its sample range and the final chunk's zero-pad amount. This is the
    work list a Whisper-style encoder or VAD fans out over — the
    Spark-side plumbing (blob → Arrow decode stage → exploded plan) is
    the real operator; only the model call is out of scope here.

    Determinism: the oracle recomputes clip lengths in closed form from
    doc_id, so any decode or ceil-division bug is a hash mismatch; all
    arithmetic is integer.

    Scale: blobs stay on executors (mapInPandas, zero shuffle); the
    plan explode is map-side sequence arithmetic — output is
    Σ ceil(len/chunk) rows, written straight to the featurizer's queue
    with no aggregation at all."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 2 == 1)
    )
    lens = docs.mapInPandas(
        make_wav_length_stage(),
        schema="doc_id long, n_samples long, sample_rate long",
    )
    n_chunks = F.expr(
        f"(n_samples + {_CHUNK_SAMPLES - 1}) div {_CHUNK_SAMPLES}"
    )
    plan = lens.select(
        "doc_id",
        "n_samples",
        n_chunks.alias("n_chunks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    return plan.select(
        "doc_id",
        "n_samples",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * _CHUNK_SAMPLES).cast("long").alias(
            "start_sample"
        ),
        F.least(
            F.col("n_samples"), (F.col("chunk_idx") + 1) * _CHUNK_SAMPLES
        )
        .cast("long")
        .alias("end_sample"),
        F.when(
            F.col("chunk_idx") == F.col("n_chunks") - 1,
            F.col("n_chunks") * _CHUNK_SAMPLES - F.col("n_samples"),
        )
        .otherwise(0)
        .cast("long")
        .alias("pad_samples"),
    ).orderBy("doc_id", "chunk_idx")


_TILE = 2  # featurizer patch size (pixels per side)


def make_ppm_dims_stage():
    """mapInPandas stage: doc_id → real PPM blob → REAL parse →
    (doc_id, width, height). Nested for by-value pickling."""

    encode_ppm, _ = _make_encoders()
    parse_ppm, _ = _make_parsers()

    def ppm_dims(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": []}
            for doc_id in pdf["doc_id"]:
                w, h, _sum = parse_ppm(encode_ppm(int(doc_id)))
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
            yield _pd.DataFrame(out)

    return ppm_dims


@query(
    "mm_image_tile_grid",
    oracle=f"""
    WITH params AS (
      SELECT doc_id,
             4 + CAST(doc_id % 5 AS INT) AS w,
             3 + CAST(doc_id % 3 AS INT) AS h
      FROM documents WHERE doc_id % 2 = 0
    ),
    grid AS (
      SELECT doc_id, w, h, tx, ty,
             (w + {_TILE - 1}) // {_TILE} AS nx,
             (h + {_TILE - 1}) // {_TILE} AS ny
      FROM params
      CROSS JOIN (SELECT unnest(range(4)) AS tx)
      CROSS JOIN (SELECT unnest(range(3)) AS ty)
      WHERE tx < (w + {_TILE - 1}) // {_TILE}
        AND ty < (h + {_TILE - 1}) // {_TILE}
    )
    SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(tx AS BIGINT) AS tile_x, CAST(ty AS BIGINT) AS tile_y,
           CAST(tx * {_TILE} AS BIGINT) AS x0,
           CAST(ty * {_TILE} AS BIGINT) AS y0,
           CAST(least(w, (tx + 1) * {_TILE}) AS BIGINT) AS x1,
           CAST(least(h, (ty + 1) * {_TILE}) AS BIGINT) AS y1,
           CAST(nx * {_TILE} - w AS BIGINT) * CAST(tx = nx - 1 AS BIGINT)
             + CAST(ny * {_TILE} - h AS BIGINT) * CAST(ty = ny - 1 AS BIGINT)
             AS pad_px_axes
    FROM grid ORDER BY doc_id, tile_y, tile_x
    """,
)
def mm_image_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image patching plan (the ViT-style tile grid): every image clip
    (even doc_ids, the corpus's PPM modality) is decoded FOR REAL
    (ASCII header walk on the generated P6 bytes) and split into
    {_TILE}×{_TILE} patches; each tile row carries its pixel bounds and
    the edge tiles' pad amount (right/bottom overhang, summed per
    axis). The audio sibling is mm_audio_chunk_plan; together they are
    the fan-out work lists a multimodal featurizer consumes.

    Determinism: the oracle recomputes dimensions in closed form from
    doc_id; any header/offset decode bug is a hash mismatch; all
    arithmetic is integer.

    Scale: blobs stay on executors (mapInPandas, zero shuffle); the
    grid explode is a bounded map-side sequence product — output is
    Σ ceil(w/t)·ceil(h/t) rows, no aggregation."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 2 == 0)
    )
    dims = docs.mapInPandas(
        make_ppm_dims_stage(), schema="doc_id long, width long, height long"
    )
    nx = F.expr(f"(width + {_TILE - 1}) div {_TILE}")
    ny = F.expr(f"(height + {_TILE - 1}) div {_TILE}")
    grid = dims.select(
        "doc_id",
        "width",
        "height",
        nx.alias("nx"),
        ny.alias("ny"),
        F.explode(F.sequence(F.lit(0), nx - 1)).alias("tile_x"),
    ).select(
        "*", F.explode(F.sequence(F.lit(0), F.col("ny") - 1)).alias("tile_y")
    )
    pad = (
        (F.col("nx") * _TILE - F.col("width"))
        * (F.col("tile_x") == F.col("nx") - 1).cast("long")
        + (F.col("ny") * _TILE - F.col("height"))
        * (F.col("tile_y") == F.col("ny") - 1).cast("long")
    )
    return grid.select(
        "doc_id",
        "width",
        "height",
        F.col("tile_x").cast("long").alias("tile_x"),
        F.col("tile_y").cast("long").alias("tile_y"),
        (F.col("tile_x") * _TILE).cast("long").alias("x0"),
        (F.col("tile_y") * _TILE).cast("long").alias("y0"),
        F.least(F.col("width"), (F.col("tile_x") + 1) * _TILE)
        .cast("long")
        .alias("x1"),
        F.least(F.col("height"), (F.col("tile_y") + 1) * _TILE)
        .cast("long")
        .alias("y1"),
        pad.cast("long").alias("pad_px_axes"),
    ).orderBy("doc_id", "tile_y", "tile_x")


# --- multimodal frame sampling ---------------------------------------------

_FRAME_STRIDE = 8


def make_frame_sampler(stride: int):
    """Stride sampler with the real frame-sampling operator's shape:
    Arrow batches of (doc_id, kind, payload) in, per-item sampled-frame
    stats out. A real video path would seek key frames here; the
    deterministic stand-in takes every ``stride``-th codepoint so the
    DuckDB oracle can reproduce it exactly. Nested closure on purpose —
    cloudpickle ships it by value, executors never import this module."""

    def sample_frames(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            texts = pdf["payload"].map(lambda b: b.decode("utf-8"))
            frames = texts.map(lambda s: s[::stride])
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_frames": frames.map(len).astype("int32"),
                    "frame_cp_sum": frames.map(
                        lambda s: sum(map(ord, s))
                    ).astype("int64"),
                }
            )

    return sample_frames


@query(
    "mm_frame_sample",
    oracle=f"""
    SELECT doc_id,
           ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
           CAST((length(text) + {_FRAME_STRIDE - 1}) // {_FRAME_STRIDE}
                AS INT) AS n_frames,
           CAST(COALESCE(list_aggregate(
                 list_transform(range((length(text) + {_FRAME_STRIDE - 1})
                                      // {_FRAME_STRIDE}),
                   i -> ascii(substr(text, i * {_FRAME_STRIDE} + 1, 1))),
                 'sum'), 0) AS BIGINT) AS frame_cp_sum
    FROM documents
    ORDER BY doc_id
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over multimodal payloads: every {_FRAME_STRIDE}-th
    unit of each blob via Arrow-batched ``mapInPandas`` — the decode/
    sample/extract plumbing of a video pipeline with a deterministic
    stand-in sampler (real codecs aren't in this container; the Spark
    side — schema, batching, partition mapping — is the production
    shape)."""
    mf = media_frame(spark, sf_dir).select("doc_id", "kind", "payload")
    return mf.mapInPandas(
        make_frame_sampler(_FRAME_STRIDE),
        schema="doc_id long, kind string, n_frames int, frame_cp_sum long",
    ).orderBy("doc_id")
