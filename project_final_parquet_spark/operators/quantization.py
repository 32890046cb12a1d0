"""Compressed embedding codes for similarity search: int8 scalar, 1-bit
binary and Matryoshka-prefix quantization, ±1 random projection, and
product quantization (PQ, with a seeded and a trained codebook, and
IVF-PQ), plus the PQ recall audit.

- Scalar: q[j] = floor(127·x[j] / max|x|), exact integer scoring. floor,
  not round: Spark's double→int CAST truncates and DuckDB's rounds
  half-even; floor is the one spelling both agree on.
- Binary: 64 sign bits packed into two 32-bit words, ranked by
  XOR+popcount; a 128× cut of the candidate-scan bytes, re-ranked
  exactly afterwards. All integer arithmetic.
- Random projection: Johnson–Lindenstrauss with an md5-derived ±1
  matrix inlined into both engines, 64 → 16 dims, then exact cosine in
  the projected space.
- PQ (Jégou et al., TPAMI 2011): M=4 subvectors of 16 dims, K=8
  codewords each, ranked by asymmetric distance (ADC). The seeded
  codebook is the K vectors with the smallest md5(vec_id), so the oracle
  reproduces it; ``sim_pq_trained`` runs one per-subspace Lloyd round
  on the driver over scaled-integer partial sums.

Scale: encoding and scoring are map-side; codebooks and query codes are
tiny broadcasts; only the top-k merge leaves the map side.
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

from .ann import IVF_SCALE, NPROBE
from .similarity import DIM
from .vecmath import dot, double_array_lit, norm

_MAXABS_SQL = (
    "list_max(list_transform({a}, x -> abs(CAST(x AS DOUBLE))))"
)
_QUANT_SQL = (
    "list_transform({a}, x -> CAST(floor("
    "CAST(x AS DOUBLE) * 127.0 / {m}) AS BIGINT))"
)


def _maxabs(a):
    return F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))


def _quant(a, m):
    return F.transform(
        a,
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / m).cast("long"),
    )


@query(
    "sim_scalar_quant",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             {_QUANT_SQL.format(a='embedding',
                                m=_MAXABS_SQL.format(a='embedding'))} AS q
      FROM embeddings
    ),
    qv AS (SELECT q AS qq FROM e WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           CAST(list_aggregate(list_transform(range({DIM}),
                j -> e.q[j+1] * qv.qq[j+1]), 'sum') AS BIGINT) AS qscore
    FROM e CROSS JOIN qv
    WHERE e.vec_id <> 0
    ORDER BY qscore DESC, e.vec_id
    LIMIT 10
    """,
)
def sim_scalar_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized top-10 against the vec_id=0 query: quantize every
    embedding to 64 ints, score with an exact integer dot product
    against the broadcast quantized query, TakeOrderedAndProject the
    top 10. Map-side scoring over a 4×-smaller representation; the
    integer score makes the result engine-exact (no float epsilon) —
    the production pattern is quantized candidate generation + float
    re-ranking of the short list (re-ranking is sim_topk_cosine)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        _quant(F.col("embedding"), _maxabs(F.col("embedding"))).alias("q"),
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("q").alias("qq"))
    qscore = F.aggregate(
        F.zip_with(F.col("q"), F.col("qq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", qscore.alias("qscore"))
        .orderBy(F.col("qscore").desc(), F.col("vec_id"))
        .limit(10)
    )


_PDIM = 16


def _sign(t: int, j: int) -> int:
    h = hashlib.md5(f"rp:{t}:{j}".encode()).hexdigest()
    return 1 if h[0] < "8" else -1


# ±1 matrix, _PDIM rows of _DIM signs — importable constants, same
# values baked into the oracle SQL below
_R = [[_sign(t, j) for j in range(DIM)] for t in range(_PDIM)]


def _project(emb):
    """The 16-dim projection of ``emb``: one left-fold dot per ±1 row."""
    return F.array(*[dot(emb, double_array_lit(row)) for row in _R])


def _proj_sql(a: str, t: int) -> str:
    lits = ", ".join(str(float(s)) for s in _R[t])
    return (
        f"list_aggregate(list_transform(range({DIM}), "
        f"j -> CAST({a}[j+1] AS DOUBLE) * ([{lits}])[j+1]), 'sum')"
    )


def _pdot_sql(pa: str, pb: str) -> str:
    return (
        f"list_aggregate(list_transform(range({_PDIM}), "
        f"t -> {pa}[t+1] * {pb}[t+1]), 'sum')"
    )


def _pnorm_sql(pa: str) -> str:
    return (
        f"sqrt(list_aggregate(list_transform(range({_PDIM}), "
        f"t -> {pa}[t+1] * {pa}[t+1]), 'sum'))"
    )


@query(
    "sim_random_projection",
    oracle=f"""
    WITH p AS (
      SELECT vec_id, label,
             [{", ".join(_proj_sql("embedding", t) for t in range(_PDIM))}]
               AS pv
      FROM embeddings
    ),
    q AS (SELECT pv AS qv FROM p WHERE vec_id = 0)
    SELECT p.vec_id, p.label,
           {_pdot_sql("p.pv", "q.qv")}
             / ({_pnorm_sql("p.pv")} * {_pnorm_sql("q.qv")}) AS pcosine
    FROM p CROSS JOIN q
    WHERE p.vec_id <> 0
    ORDER BY pcosine DESC, p.vec_id
    LIMIT 10
    """,
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 dims (deterministic ±1 signs), then
    exact cosine top-10 in the projected space against the vec_id=0
    query. Projection and scoring are both map-side over the broadcast
    1-row projected query; TakeOrderedAndProject keeps k rows per
    partition. The 4× dimension cut is the JL trade: pairwise angles
    survive within ~1/sqrt(16) distortion, enough for candidate
    generation feeding exact re-ranking (sim_topk_cosine)."""
    emb = load(spark, sf_dir, "embeddings")
    # the vec_id = 0 filter sits below the projection, so it still
    # pushes down to the parquet scan: the query side reads one row
    q = emb.filter(F.col("vec_id") == 0).select(
        _project(F.col("embedding")).alias("qv")
    ).select("qv", norm(F.col("qv")).alias("nq"))
    p = emb.select(
        "vec_id", "label", _project(F.col("embedding")).alias("pv")
    ).select("vec_id", "label", "pv", norm(F.col("pv")).alias("npv"))
    return (
        p.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            (
                dot(F.col("pv"), F.col("qv")) / (F.col("npv") * F.col("nq"))
            ).alias("pcosine"),
        )
        .orderBy(F.col("pcosine").desc(), F.col("vec_id"))
        .limit(10)
    )


_M = 4  # subspaces
_SUB = DIM // _M  # dims per subspace
_K = 8  # codewords per subspace


def _sq_sub(a, b, t: int):
    """Squared L2 between 16-dim subvectors t of full vectors a, b."""
    sa = F.slice(a, t * _SUB + 1, _SUB)
    sb = F.slice(b, t * _SUB + 1, _SUB)
    return F.aggregate(
        F.zip_with(
            sa,
            sb,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sq_sub_sql(a: str, b: str, t: int) -> str:
    off = t * _SUB
    d = f"(CAST({a}[{off}+j+1] AS DOUBLE) - CAST({b}[{off}+j+1] AS DOUBLE))"
    return (
        f"list_aggregate(list_transform(range({_SUB}), "
        f"j -> {d} * {d}), 'sum')"
    )


_PQ_ORACLE = f"""
WITH cbrows AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, embedding
  FROM embeddings ORDER BY h, vec_id LIMIT {_K}
),
cb AS (SELECT list(embedding ORDER BY h, vec_id) AS cbs FROM cbrows),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
enc AS (
  SELECT e.vec_id, e.label, e.embedding, cb.cbs, q.qv
  FROM embeddings e CROSS JOIN cb CROSS JOIN q
  WHERE e.vec_id <> 0
),
coded AS (
  SELECT vec_id, label, cbs, qv,
    {", ".join(
        f"list_transform(cbs, cw -> {_sq_sub_sql('embedding', 'cw', t)})"
        f" AS dt{t}"
        for t in range(_M)
    )}
  FROM enc
),
codes AS (
  SELECT vec_id, label, cbs, qv,
    {", ".join(
        f"CAST(list_position(dt{t}, list_aggregate(dt{t}, 'min')) - 1"
        f" AS INTEGER) AS c{t}"
        for t in range(_M)
    )}
  FROM coded
)
SELECT vec_id, label,
  concat_ws('-', {", ".join(f"c{t}" for t in range(_M))}) AS pq_code,
  {" + ".join(_sq_sub_sql("qv", f"cbs[c{t}+1]", t) for t in range(_M))}
    AS adc
FROM codes
ORDER BY adc, vec_id
LIMIT 10
"""


@query("sim_pq_adc", oracle=_PQ_ORACLE)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode (M=4 subspaces × K=8 codewords, seeded-sample
    codebook) + ADC top-10 against the vec_id=0 query. Encoding is
    argmin over per-subspace squared L2 (first-index tie-break via
    array_position of the min — both engines take the first hit); ADC
    sums the 4 query-to-assigned-codeword distances in a fixed textual
    order so the doubles match the oracle bit-for-bit."""
    emb = load(spark, sf_dir, "embeddings")

    cbrows = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(_K)
    )
    cb = cbrows.agg(
        F.array_sort(
            F.collect_list(F.struct("h", "vec_id", "embedding"))
        ).alias("s")
    ).select(F.transform("s", lambda r: r["embedding"]).alias("cbs"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )

    enc = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(q))
    )

    def _code_col(t: int):
        # closure factory: a 2-arg lambda would receive the array INDEX
        # as its second argument (transform's (element, index) form)
        dists = F.transform(
            F.col("cbs"), lambda cw: _sq_sub(F.col("embedding"), cw, t)
        )
        return (
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"c{t}")
        )

    codes = enc.select(
        "vec_id", "label", "cbs", "qv", *[_code_col(t) for t in range(_M)]
    )

    adc = None
    for t in range(_M):
        term = _sq_sub(
            F.col("qv"), F.element_at(F.col("cbs"), F.col(f"c{t}") + 1), t
        )
        adc = term if adc is None else adc + term

    return (
        codes.select(
            "vec_id",
            "label",
            F.concat_ws(
                "-", *[F.col(f"c{t}").cast("string") for t in range(_M)]
            ).alias("pq_code"),
            adc.alias("adc"),
        )
        .orderBy("adc", "vec_id")
        .limit(10)
    )


# --- trained-codebook PQ ----------------------------------------------------

_TSCALE = 1_000_000_000  # codeword-mean fixed-point quantum (ml_kmeans conv.)


def _trained_oracle() -> str:
    """One per-subspace k-means round on top of the seeded init, then
    encode + ADC with the TRAINED codebook (init codeword kept for any
    empty cell)."""
    parts = [f"""
WITH cbrows AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, embedding
  FROM embeddings ORDER BY h, vec_id LIMIT {_K}
),
cb AS (SELECT list(embedding ORDER BY h, vec_id) AS cbs FROM cbrows),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
enc AS (
  SELECT e.vec_id, e.label, e.embedding, cb.cbs, q.qv
  FROM embeddings e CROSS JOIN cb CROSS JOIN q
  WHERE e.vec_id <> 0
),
assign0 AS (
  SELECT vec_id, label, embedding, cbs, qv,
    {", ".join(
        f"CAST(list_position(list_transform(cbs, "
        f"cw -> {_sq_sub_sql('embedding', 'cw', t)}), "
        f"list_aggregate(list_transform(cbs, "
        f"cw -> {_sq_sub_sql('embedding', 'cw', t)}), 'min')) - 1 "
        f"AS INTEGER) AS a{t}"
        for t in range(_M)
    )}
  FROM enc
)"""]
    for t in range(_M):
        off = t * _SUB
        parts.append(f""",
mean{t} AS (
  SELECT a{t} AS code, d,
         (CAST(SUM(CAST(floor(CAST(embedding[{off} + d + 1] AS DOUBLE)
              * {_TSCALE}.0) AS BIGINT)) AS DOUBLE) / {_TSCALE}.0)
           / COUNT(*) AS cd
  FROM assign0 CROSS JOIN (SELECT unnest(range({_SUB})) AS d) dims
  GROUP BY a{t}, d
),
tr{t} AS (
  SELECT code, list(cd ORDER BY d) AS cw FROM mean{t} GROUP BY code
),
book{t} AS (
  SELECT list(COALESCE(tr{t}.cw,
           list_transform(range({_SUB}),
             j -> CAST(cb.cbs[k.k + 1][{off} + j + 1] AS DOUBLE)))
         ORDER BY k.k) AS tcb
  FROM (SELECT unnest(range({_K})) AS k) k
  LEFT JOIN tr{t} ON tr{t}.code = k.k
  CROSS JOIN cb
)""")
    subsq = []
    for t in range(_M):
        off = t * _SUB
        d = (
            f"(CAST(embedding[{off}+j+1] AS DOUBLE) - tcb{t}[j+1])"
        )
        subsq.append(
            f"list_transform(book{t}.tcb, tcb{t} -> "
            f"list_aggregate(list_transform(range({_SUB}), "
            f"j -> {d} * {d}), 'sum'))"
        )
    qsq = []
    for t in range(_M):
        off = t * _SUB
        d = f"(CAST(qv[{off}+j+1] AS DOUBLE) - tcb{t}_keep[c{t}+1][j+1])"
        qsq.append(
            f"list_aggregate(list_transform(range({_SUB}), "
            f"j -> {d} * {d}), 'sum')"
        )
    parts.append(f""",
coded AS (
  SELECT vec_id, label, qv,
    {", ".join(f"book{t}.tcb AS tcb{t}_keep" for t in range(_M))},
    {", ".join(
        f"CAST(list_position({subsq[t]}, "
        f"list_aggregate({subsq[t]}, 'min')) - 1 AS INTEGER) AS c{t}"
        for t in range(_M)
    )}
  FROM assign0 {" ".join(f"CROSS JOIN book{t}" for t in range(_M))}
)
SELECT vec_id, label,
  concat_ws('-', {", ".join(f"c{t}" for t in range(_M))}) AS pq_code,
  {" + ".join(qsq)} AS adc
FROM coded
ORDER BY adc, vec_id
LIMIT 10""")
    return "".join(parts)


def _collect_pq_init(emb: DataFrame) -> list[list[float]]:
    """Seeded init codebook, driver-side: the K=8 vectors with the
    smallest md5(vec_id), ordered by (hash, vec_id) — K×64 doubles.
    float32→float64 is exact, so these equal the oracle's
    CAST(... AS DOUBLE) of the same rows."""
    rows = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(_K)
        .select("h", "vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: (r["h"], r["vec_id"]))
    return [[float(x) for x in r["embedding"]] for r in rows]


def _make_seqfold(sub: int):
    """Sequential left-fold of (v_j − c_j)² over ``sub`` dims starting
    at ``off``, vectorized across rows. The loop order makes every
    per-row add happen in index order from a 0.0 seed — bitwise the
    engines' list_aggregate / F.aggregate fold, which numpy's pairwise
    ``.sum(axis=1)`` would NOT reproduce.

    FACTORY (r13 fix): the fold is built NESTED so the worker stages
    that call it pickle it BY VALUE — a module-level function would be
    pickled by reference to this package, which does not exist on the
    driver's Python workers (the round-4 vanilla-session lesson; found
    again here by the r13 gate-window vanilla drive)."""
    import numpy as _np

    def seqfold(vmat, off: int, cw):
        acc = _np.zeros(vmat.shape[0], dtype=_np.float64)
        for j in range(sub):
            d = vmat[:, off + j] - cw[j]
            acc = acc + d * d
        return acc

    return seqfold


def _pq_stats_stage(init_books: list[list[list[float]]]):
    """mapInPandas training stage (the ml_kmeans treeAggregate shape):
    per Arrow batch, assign every vector's M subvectors to their nearest
    INIT codeword (same sequential-fold distances + first-min argmin as
    the oracle's list_position-of-min) and emit per-(subspace, code,
    dim) partials — at most M×K×16 = 512 long rows per batch regardless
    of batch size. Nested for by-value pickling."""
    import numpy as _np
    import pandas as _pd

    books = [_np.array(b, dtype=_np.float64) for b in init_books]
    tscale = float(_TSCALE)
    seqfold = _make_seqfold(_SUB)  # nested => pickled by value

    def stage(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = _np.stack(pdf["embedding"].to_numpy()).astype(
                _np.float64
            )
            out = {"t": [], "code": [], "d": [], "sv": [], "n": []}
            for t in range(_M):
                off = t * _SUB
                dists = _np.empty((vmat.shape[0], _K), dtype=_np.float64)
                for k in range(_K):
                    dists[:, k] = seqfold(vmat, off, books[t][k])
                assign = _np.argmin(dists, axis=1)  # first min == oracle
                sv = _np.floor(
                    vmat[:, off : off + _SUB] * tscale
                ).astype(_np.int64)
                for k in range(_K):
                    mask = assign == k
                    n = int(mask.sum())
                    if n == 0:
                        continue
                    sums = sv[mask].sum(axis=0)  # exact int64 per dim
                    out["t"].extend([t] * sums.size)
                    out["code"].extend([k] * sums.size)
                    out["d"].extend(range(sums.size))
                    out["sv"].extend(int(x) for x in sums)
                    out["n"].extend([n] * sums.size)
            yield _pd.DataFrame(out)

    return stage


def _train_books(
    emb_train: DataFrame, init: list[list[float]]
) -> list[list[list[float]]]:
    """One Lloyd update per subspace, driver-side: ONE mapInPandas pass
    emits (subspace, code, dim) integer partials, one tiny aggregation
    ships M×K×16 rows to the driver, and the trained codeword means use
    the engines' exact cast order ((double(sum) / S) / n). Empty cells
    keep their init codeword. The partial sums aggregate in
    DECIMAL(38,0) — Spark's integral SUM overflows int64 silently, and
    at 100 TB the per-(code,dim) scaled sums clear the int64 ceiling."""
    init_books = [
        [init[k][t * _SUB : (t + 1) * _SUB] for k in range(_K)]
        for t in range(_M)
    ]
    partials = emb_train.select("embedding").mapInPandas(
        _pq_stats_stage(init_books),
        schema="t int, code int, d int, sv long, n long",
    )
    rows = (
        partials.groupBy("t", "code", "d")
        .agg(
            F.sum(F.col("sv").cast("decimal(38,0)")).alias("sv"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    merged: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
    for r in rows:
        merged.setdefault((int(r["t"]), int(r["code"])), {})[int(r["d"])] = (
            int(r["sv"]),
            int(r["n"]),
        )
    books = []
    for t in range(_M):
        book = []
        for k in range(_K):
            cell = merged.get((t, k))
            if cell is None:
                book.append(list(init_books[t][k]))  # empty cell: init
            else:
                book.append(
                    [
                        (float(cell[d][0]) / float(_TSCALE))
                        / float(cell[d][1])
                        for d in range(_SUB)
                    ]
                )
        books.append(book)
    return books


def _pq_encode_stage(tbooks: list[list[list[float]]], qv: list[float]):
    """mapInPandas encode + ADC stage: argmin over the trained books per
    subspace (sequential-fold distances, first-min ties), then ADC via a
    driver-precomputed M×K lookup table — the actual PQ serving trick
    (Jégou §III.C): the query-to-codeword distances are computed once,
    scan rows only LOOK UP. The LUT entries use the same pure-Python
    sequential fold and the ADC adds in fixed t order, so the doubles
    match the oracle's textual sum bit-for-bit."""
    import numpy as _np
    import pandas as _pd

    books = [_np.array(b, dtype=_np.float64) for b in tbooks]
    seqfold = _make_seqfold(_SUB)  # nested => pickled by value
    luts = []
    for t in range(_M):
        off = t * _SUB
        lut = []
        for k in range(_K):
            acc = 0.0
            for j in range(_SUB):
                d = qv[off + j] - tbooks[t][k][j]
                acc = acc + d * d
            lut.append(acc)
        luts.append(_np.array(lut, dtype=_np.float64))

    def stage(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = _np.stack(pdf["embedding"].to_numpy()).astype(
                _np.float64
            )
            codes = []
            for t in range(_M):
                off = t * _SUB
                dists = _np.empty((vmat.shape[0], _K), dtype=_np.float64)
                for k in range(_K):
                    dists[:, k] = seqfold(vmat, off, books[t][k])
                codes.append(_np.argmin(dists, axis=1))
            adc = luts[0][codes[0]]
            for t in range(1, _M):  # left-assoc, the oracle's text order
                adc = adc + luts[t][codes[t]]
            pq_code = [
                "-".join(str(int(codes[t][i])) for t in range(_M))
                for i in range(vmat.shape[0])
            ]
            yield _pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "pq_code": pq_code,
                    "adc": adc,
                }
            )

    return stage


@query("sim_pq_trained", oracle=_trained_oracle())
def sim_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with a TRAINED codebook: one per-subspace k-means update
    round (assign to the seeded init codewords, recompute each codeword
    as the per-dimension mean of its assigned subvectors — empty cells
    keep their init codeword), then encode + ADC top-10 exactly as
    sim_pq_adc. This is real Jégou-style PQ training, cross-engine
    exact via the scaled-integer mean convention (ml_kmeans'), compared
    bit-for-bit against a DuckDB replica of the whole train+encode
    chain.

    Scale (the ml_kmeans shape — round-7 rework of the round-4
    crossJoin/localCheckpoint training loop, which paid M subspace
    aggregation jobs and re-broadcast per book; measured 85.7 s under
    suite memory pressure vs ~8 s isolated): codebook state is M×K×16
    doubles on the DRIVER. Training is ONE mapInPandas pass emitting
    constant-size integer partials (≤512 rows/batch) + one tiny
    aggregation; encode+ADC is one lazy Arrow-vectorized pass with ADC
    as an M×K lookup table — the paper's actual serving layout. No
    crossJoin, no checkpoint blocks, no vector shuffle anywhere; the
    only construction-time work is two tiny collects (init rows, M×K×16
    stats)."""
    emb = load(spark, sf_dir, "embeddings")
    init = _collect_pq_init(emb)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .collect()[0]["embedding"]
    ]
    train = emb.filter(F.col("vec_id") != 0)
    tbooks = _train_books(train, init)
    res = train.select("vec_id", "label", "embedding").mapInPandas(
        _pq_encode_stage(tbooks, qv),
        schema="vec_id long, label int, pq_code string, adc double",
    )
    return res.orderBy("adc", "vec_id").limit(10)


# --- IVF-PQ: coarse probe + ADC ranking ------------------------------------

_IVFPQ_ORACLE = f"""
WITH cent AS (
  SELECT label, j,
         (CAST(SUM(CAST(floor(CAST(embedding[j+1] AS DOUBLE)
               * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0)
           / COUNT(*) AS c
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) dims
  GROUP BY label, j
),
qd AS (
  SELECT j, CAST(embedding[j+1] AS DOUBLE) AS qv
  FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) dims
  WHERE vec_id = 0
),
dist AS (
  SELECT cent.label,
         SUM(CAST(floor((cent.c - qd.qv) * (cent.c - qd.qv)
             * {IVF_SCALE}.0) AS BIGINT)) AS d2
  FROM cent JOIN qd ON cent.j = qd.j
  GROUP BY cent.label
),
best AS (SELECT label FROM dist ORDER BY d2, label LIMIT {NPROBE}),
cbrows AS (
  SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, embedding
  FROM embeddings ORDER BY h, vec_id LIMIT {_K}
),
cb AS (SELECT list(embedding ORDER BY h, vec_id) AS cbs FROM cbrows),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
enc AS (
  SELECT e.vec_id, e.label, e.embedding, cb.cbs, q.qv
  FROM embeddings e CROSS JOIN cb CROSS JOIN q
  WHERE e.vec_id <> 0 AND e.label IN (SELECT label FROM best)
),
coded AS (
  SELECT vec_id, label, cbs, qv,
    {", ".join(
        f"list_transform(cbs, cw -> {_sq_sub_sql('embedding', 'cw', t)})"
        f" AS dt{t}"
        for t in range(_M)
    )}
  FROM enc
),
codes AS (
  SELECT vec_id, label, cbs, qv,
    {", ".join(
        f"CAST(list_position(dt{t}, list_aggregate(dt{t}, 'min')) - 1"
        f" AS INTEGER) AS c{t}"
        for t in range(_M)
    )}
  FROM coded
)
SELECT vec_id, label,
  {" + ".join(_sq_sub_sql("qv", f"cbs[c{t}+1]", t) for t in range(_M))}
    AS adc
FROM codes
ORDER BY adc, vec_id
LIMIT 10
"""


@query("sim_ivf_pq", oracle=_IVFPQ_ORACLE)
def sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production billion-vector ANN stack (Jégou et al.
    2011 §IV; FAISS's IndexIVFPQ): a coarse inverted-file probe cuts
    the candidate set to nprobe={_NPROBE} cells, then PQ ADC ranks the
    shortlist with table lookups instead of full-dimension math. The
    two stages compose exactly as their standalone queries
    (sim_ivf_multiprobe's scaled-integer centroid distances;
    sim_pq_adc's seeded codebook + fixed-order ADC sums), so the oracle
    is the composition of both proven CTE chains.

    Scale: centroids and codebook broadcast; the corpus is touched once
    map-side for cell membership (at rest the cells ARE the partition
    layout, so probing reads nprobe/k of the data), and ADC touches
    only the probed cells. No shuffle of vector data anywhere —
    the sum of both components' scale stories."""
    emb = load(spark, sf_dir, "embeddings")
    # coarse probe (sim_ivf_multiprobe conventions)
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("j", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = dims.groupBy("label", "j").agg(
        (
            (F.sum(F.floor(F.col("val") * 1e9)).cast("double") / 1e9)
            / F.count(F.lit(1))
        ).alias("c")
    )
    qdims = dims.filter(F.col("vec_id") == 0).select(
        F.col("j").alias("qj"), F.col("val").alias("qv0")
    )
    dist = (
        cent.join(F.broadcast(qdims), cent.j == qdims.qj)
        .groupBy("label")
        .agg(
            F.sum(
                F.floor(
                    (F.col("c") - F.col("qv0"))
                    * (F.col("c") - F.col("qv0"))
                    * IVF_SCALE
                )
            ).alias("d2")
        )
    )
    best = (
        dist.orderBy("d2", "label")
        .limit(NPROBE)
        .select(F.col("label").alias("best_label"))
    )
    # PQ encode + ADC on the probed cells (sim_pq_adc conventions)
    cbrows = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(_K)
    )
    cb = cbrows.agg(
        F.array_sort(
            F.collect_list(F.struct("h", "vec_id", "embedding"))
        ).alias("s")
    ).select(F.transform("s", lambda r: r["embedding"]).alias("cbs"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    enc = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(best), emb.label == F.col("best_label"))
        .crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(q))
    )

    def _code_col(t: int):
        dists = F.transform(
            F.col("cbs"), lambda cw: _sq_sub(F.col("embedding"), cw, t)
        )
        return (
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"c{t}")
        )

    codes = enc.select(
        "vec_id", "label", "cbs", "qv", *[_code_col(t) for t in range(_M)]
    )
    adc = None
    for t in range(_M):
        term = _sq_sub(
            F.col("qv"), F.element_at(F.col("cbs"), F.col(f"c{t}") + 1), t
        )
        adc = term if adc is None else adc + term
    return (
        codes.select("vec_id", "label", adc.alias("adc"))
        .orderBy("adc", "vec_id")
        .limit(10)
    )


_HALF = 32


def _pack_spark(emb, lo: int):
    """Sign-bit word over dims [lo, lo+32)."""
    terms = [
        F.when(emb[lo + i] >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(_HALF)
    ]
    return reduce(lambda a, b: a + b, terms).cast("long")


def _pack_sql(col: str, lo: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col}[{lo + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_HALF)
    )
    return f"CAST({terms} AS BIGINT)"


@query(
    "sim_binary_quant",
    oracle=f"""
    WITH packed AS (
      SELECT vec_id, label,
             {_pack_sql("embedding", 0)} AS h1,
             {_pack_sql("embedding", _HALF)} AS h2
      FROM embeddings
    ),
    q AS (SELECT h1 AS q1, h2 AS q2 FROM packed WHERE vec_id = 0)
    SELECT p.vec_id, p.label,
           CAST(bit_count(xor(p.h1, q.q1))
                + bit_count(xor(p.h2, q.q2)) AS BIGINT) AS hamming
    FROM packed p CROSS JOIN q
    WHERE p.vec_id <> 0
    ORDER BY hamming, p.vec_id
    LIMIT 10
    """,
)
def sim_binary_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign quantization of 64-dim embeddings into two 32-bit
    words; top-10 nearest to the vec_id=0 query by Hamming distance
    (XOR + popcount, vec_id tiebreak)."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    packed = emb.select(
        "vec_id",
        "label",
        _pack_spark(e, 0).alias("h1"),
        _pack_spark(e, _HALF).alias("h2"),
    )
    q = packed.filter(F.col("vec_id") == 0).select(
        F.col("h1").alias("q1"), F.col("h2").alias("q2")
    )
    hamming = (
        F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
        + F.bit_count(F.col("h2").bitwiseXOR(F.col("q2")))
    ).cast("long")
    return (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", "label", hamming.alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(10)
    )


_PFX = 16


@query(
    "sim_matryoshka_prefix",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             list_aggregate(list_transform(range({_PFX}),
               j -> CAST(e.embedding[j+1] AS DOUBLE)
                    * CAST(q.qv[j+1] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(range({_PFX}),
                    j -> CAST(e.embedding[j+1] AS DOUBLE)
                         * CAST(e.embedding[j+1] AS DOUBLE)), 'sum'))
                  * sqrt(list_aggregate(list_transform(range({_PFX}),
                    j -> CAST(q.qv[j+1] AS DOUBLE)
                         * CAST(q.qv[j+1] AS DOUBLE)), 'sum')))
               AS prefix_cosine,
             list_aggregate(list_transform(range(64),
               j -> CAST(e.embedding[j+1] AS DOUBLE)
                    * CAST(q.qv[j+1] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(range(64),
                    j -> CAST(e.embedding[j+1] AS DOUBLE)
                         * CAST(e.embedding[j+1] AS DOUBLE)), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(64),
                    j -> CAST(q.qv[j+1] AS DOUBLE)
                         * CAST(q.qv[j+1] AS DOUBLE)), 'sum')))
               AS full_cosine
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, prefix_cosine, full_cosine
    FROM scored
    ORDER BY prefix_cosine DESC, vec_id
    LIMIT 10
    """,
)
def sim_matryoshka_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix retrieval: rank by cosine over only the
    FIRST 16 of 64 dims (MRL-trained embeddings pack the coarse
    semantics into the prefix), carrying the full-dim cosine alongside
    so prefix-vs-full agreement is inspectable row by row. The scan
    reads ¼ of the vector bytes at ranking time and the exact full-dim
    score re-ranks the short list — the third compression axis beside
    quantization (int8/PQ/1-bit) and projection (JL): truncation."""
    emb = load(spark, sf_dir, "embeddings")

    def cos(a, b, dims: int):
        sa, sb = F.slice(a, 1, dims), F.slice(b, 1, dims)
        return dot(sa, sb) / (norm(sa) * norm(sb))

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    e, qv = F.col("embedding"), F.col("qv")
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cos(e, qv, _PFX).alias("prefix_cosine"),
            cos(e, qv, 64).alias("full_cosine"),
        )
        .orderBy(F.desc("prefix_cosine"), "vec_id")
        .limit(10)
    )


# --- PQ quantization-loss audit ----------------------------------------------

_PQ_KS = [5, 10, 20]


def _pq_recall_oracle() -> str:
    exact = " + ".join(
        _sq_sub_sql("e.embedding", "q.qv", t) for t in range(_M)
    )
    return f"""
    WITH cbrows AS (
      SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, embedding
      FROM embeddings ORDER BY h, vec_id LIMIT {_K}
    ),
    cb AS (SELECT list(embedding ORDER BY h, vec_id) AS cbs FROM cbrows),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    enc AS (
      SELECT e.vec_id, e.embedding, cb.cbs, q.qv, {exact} AS exact_d2
      FROM embeddings e CROSS JOIN cb CROSS JOIN q
      WHERE e.vec_id <> 0
    ),
    coded AS (
      SELECT vec_id, exact_d2, cbs, qv,
        {", ".join(
            f"list_transform(cbs, cw -> "
            f"{_sq_sub_sql('embedding', 'cw', t)}) AS dt{t}"
            for t in range(_M)
        )}
      FROM enc
    ),
    scored AS (
      SELECT vec_id, exact_d2,
        {" + ".join(
            f"list_aggregate(list_transform(range({_SUB}), j -> "
            f"(CAST(qv[{t * _SUB}+j+1] AS DOUBLE) - "
            f"CAST(cbs[CAST(list_position(dt{t}, "
            f"list_aggregate(dt{t}, 'min')) AS INTEGER)]"
            f"[{t * _SUB}+j+1] AS DOUBLE)) * "
            f"(CAST(qv[{t * _SUB}+j+1] AS DOUBLE) - "
            f"CAST(cbs[CAST(list_position(dt{t}, "
            f"list_aggregate(dt{t}, 'min')) AS INTEGER)]"
            f"[{t * _SUB}+j+1] AS DOUBLE))), 'sum')"
            for t in range(_M)
        )} AS adc
      FROM coded
    ),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _PQ_KS)}]) AS k),
    truth AS (
      SELECT k.k, s.vec_id
      FROM ks k, (SELECT vec_id,
                    ROW_NUMBER() OVER (ORDER BY exact_d2, vec_id) AS rn
                  FROM scored) s
      WHERE s.rn <= k.k
    ),
    approx AS (
      SELECT k.k, s.vec_id
      FROM ks k, (SELECT vec_id,
                    ROW_NUMBER() OVER (ORDER BY adc, vec_id) AS rn
                  FROM scored) s
      WHERE s.rn <= k.k
    )
    SELECT CAST(a.k AS BIGINT) AS k,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((1000000 * SUM(CASE WHEN t.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END)) // a.k AS BIGINT)
             AS recall_ppm
    FROM approx a
    LEFT JOIN truth t ON t.k = a.k AND t.vec_id = a.vec_id
    GROUP BY a.k ORDER BY k
    """


@query("sim_pq_recall_audit", oracle=_pq_recall_oracle())
def sim_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quantization-loss audit: recall@k (k=5/10/20) of the ADC
    ranking against the EXACT squared-L2 ranking, on the same seeded
    codebook and query as sim_pq_adc — the number that tells you what
    the 64x compression costs in ranking quality (the Jégou paper's
    Figure-of-merit, measured as a gated query). Together with
    sim_ann_recall_curve this closes the ANN eval loop: one audit per
    approximation stage (hash pruning, code quantization).

    Determinism: exact_d2 and every ADC term are the shared
    sequential-fold sums in fixed textual order; both rankings are
    totally ordered by (distance, vec_id); recall is exact-integer ppm.

    Scale: ONE corpus pass computes exact distance and ADC side by side
    (map-side against the broadcast codebook + query); both top-k sets
    are TakeOrdereds; the hit probe joins two <=20-row broadcast sets.
    In production the exact column exists only for the sampled audit
    slice — the audit runs on a fixed-size sample, same shape."""
    emb = load(spark, sf_dir, "embeddings")
    cbrows = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(_K)
    )
    cb = cbrows.agg(
        F.array_sort(
            F.collect_list(F.struct("h", "vec_id", "embedding"))
        ).alias("s")
    ).select(F.transform("s", lambda r: r["embedding"]).alias("cbs"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    enc = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(q))
    )
    exact = None
    for t in range(_M):
        term = _sq_sub(F.col("embedding"), F.col("qv"), t)
        exact = term if exact is None else exact + term

    def _code_col(t: int):
        dists = F.transform(
            F.col("cbs"), lambda cw: _sq_sub(F.col("embedding"), cw, t)
        )
        return (
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"c{t}")
        )

    coded = enc.select(
        "vec_id",
        "cbs",
        "qv",
        exact.alias("exact_d2"),
        *[_code_col(t) for t in range(_M)],
    )
    adc = None
    for t in range(_M):
        term = _sq_sub(
            F.col("qv"), F.element_at(F.col("cbs"), F.col(f"c{t}") + 1), t
        )
        adc = term if adc is None else adc + term
    scored = coded.select("vec_id", "exact_d2", adc.alias("adc"))

    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _PQ_KS])).alias("k")
    )
    t_rn = F.row_number().over(W.orderBy("exact_d2", "vec_id"))
    a_rn = F.row_number().over(W.orderBy("adc", "vec_id"))
    truth = (
        scored.select("vec_id", t_rn.alias("rn"))
        .filter(F.col("rn") <= max(_PQ_KS))
        .crossJoin(F.broadcast(ks))
        .filter(F.col("rn") <= F.col("k"))
        .select(F.col("k").alias("tk"), F.col("vec_id").alias("t_vec"))
    )
    approx = (
        scored.select("vec_id", a_rn.alias("rn"))
        .filter(F.col("rn") <= max(_PQ_KS))
        .crossJoin(F.broadcast(ks))
        .filter(F.col("rn") <= F.col("k"))
        .select("k", "vec_id")
    )
    return (
        approx.join(
            F.broadcast(truth),
            (F.col("tk") == F.col("k")) & (F.col("t_vec") == F.col("vec_id")),
            "left",
        )
        .groupBy(F.col("k").cast("long").alias("k"))
        .agg(
            F.sum(F.when(F.col("t_vec").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hits"),
            F.expr(
                "CAST(1000000 * sum(CASE WHEN t_vec IS NOT NULL THEN 1 "
                "ELSE 0 END) div k AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("k")
    )
