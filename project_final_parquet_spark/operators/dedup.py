"""Deduplication over ``documents`` and ``embeddings``: exact and
fingerprint dedup, MinHash-LSH (fixed and corpus-adaptive banding),
SimHash, blocked n-gram Jaccard, fuzzy Levenshtein, connected components
and cluster canonicalization, semantic (SemDeDup-style) dedup, and the
recall and band-tuning audits.

Hashing is md5, which Spark and DuckDB implement identically, so the
oracles are exact; set math is array functions and nothing leaves the
JVM. The tokenizers (``text_tokens``, ``ngrams``) are shared with the
text operators.

Scale:
- exact dedup: one shuffle on the text hash, map-side partial aggregates.
- MinHash-LSH: signatures are map-side; the only shuffle is the
  band-bucket self-join, whose fan-out (bands, rows) controls. Adaptive
  banding picks rows per band from the corpus size (``tables.row_count``):

      r(n) = 2 if bit_length(n−1) ≤ 12, 4 if ≤ 20, else 8;  b = K / r

  so background collisions fall geometrically (s̄^r) as the corpus grows,
  and at the test scales r = 2 reproduces the fixed pipeline's pairs.
- blocked Jaccard: the blocking key bounds each block's pair count; hot
  blocks are tile-salted.
- clustering: pointer-doubling connected components, then one survivor
  per cluster (richest document, lowest doc_id), a total order.
- semantic dedup: one assignment pass against fixed seed centroids
  (floor-scaled integer distances), then exact cosine within each
  cluster; a vector is a duplicate iff a lower vec_id cluster-mate has
  cosine ≥ τ. The pair join's cost is Σ|cluster|², which K controls.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ckpt import checkpoint, release
from ..registry import DSUM_SQL, dsum, query
from ..tables import load, row_count

from .similarity import DIM, DOT_SQL, NORM_SQL
from .vecmath import norm, with_pair_cosine


# --- shared shingling helpers ---------------------------------------------


def text_tokens():
    """The tokens of ``documents.text``, which is space-separated."""
    return F.split(F.col("text"), " ")


def ngrams(toks, n: int):
    """Distinct n-token shingles via slice + arrays_zip.

    NOT the obvious transform(sequence, i -> element_at(toks, i+k)...):
    Catalyst does no common-subexpression elimination inside
    higher-order-function lambdas, so that form re-evaluates the
    underlying split() for every element_at — O(tokens²) per row
    (measured: 9s → 0.7s on the LSH query at sf0.1). Slices evaluate
    the token array a constant number of times."""
    size = F.size(toks)
    cnt = F.greatest(size - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, k + 1, cnt) for k in range(n)])
    return F.array_distinct(
        F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)])
        )
    )


def _shingles3(toks):
    """Distinct 3-token shingles (word n-grams)."""
    return ngrams(toks, 3)


_SH3_SQL = """list_distinct(list_transform(range(len(toks) - 2),
      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))"""


# --- exact dedup -----------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, text, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content, keep the lowest doc_id as survivor.

    (Grouping directly on text is equivalent to grouping on sha2(text)
    and lets the oracle express it; at scale, group on the hash so the
    shuffle key is 32 bytes instead of the document.)"""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("doc_id", "text", "n_copies")


@query(
    "dedup_fingerprint_prefix",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             concat_ws(' ', string_split(text,' ')[1], string_split(text,' ')[2],
                       string_split(text,' ')[3], string_split(text,' ')[4],
                       string_split(text,' ')[5]) AS fp
      FROM documents
    )
    SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS survivor_id, COUNT(*) AS n_docs
    FROM t GROUP BY fp
    HAVING COUNT(*) > 1
    ORDER BY fp
    """,
)
def dedup_fingerprint_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup on the first-5-token prefix — catches the
    template-duplicate clusters exact hashing misses."""
    docs = load(spark, sf_dir, "documents")
    toks = text_tokens()
    # slice+concat_ws, not element_at(1..5): under Spark 4's default ANSI
    # mode element_at throws on out-of-bounds (short docs), while the
    # oracle's toks[i] yields NULL and concat_ws skips it — slice matches
    # that semantics and never errors
    fp = F.concat_ws(" ", F.slice(toks, 1, 5))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


# --- MinHash + LSH near-dup ------------------------------------------------

_MINHASH_K = 8  # signature length
_LSH_BANDS = 4  # bands of R = K/B = 2 rows
_JACCARD_T = 0.5
# Universal-hash permutations over one md5 base hash (8× fewer md5 calls
# than hashing every shingle per seed). P = 2^31-1; (h%P)*a + b < 2^62
# so the BIGINT multiply can't overflow (DuckDB errors on overflow).
_MH_P = 2_147_483_647
_MH_A = [769, 1543, 3079, 6151, 12289, 24593, 49157, 98317]
_MH_B = [12582917, 25165843, 50331653, 100663319, 201326611, 402653189, 805306457, 1610612741]

_MH_SIG_SQL = (
    "list_transform(range(8), s -> list_min(list_transform(bh, "
    f"h -> ((h % {_MH_P}) * [{','.join(map(str, _MH_A))}][s+1] "
    f"+ [{','.join(map(str, _MH_B))}][s+1]) % {_MH_P})))"
)


@query(
    "dedup_near_minhash_lsh",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, {_SH3_SQL} AS sh FROM tok),
    base AS (
      SELECT doc_id, sh,
             list_transform(sh,
               x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS bh
      FROM sh
    ),
    sig AS (SELECT doc_id, sh, {_MH_SIG_SQL} AS sig FROM base),
    bands AS (
      SELECT doc_id, b, sig[2*b + 1] AS v1, sig[2*b + 2] AS v2
      FROM sig CROSS JOIN (SELECT unnest(range({_LSH_BANDS})) AS b) t
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.v1 = b.v1 AND a.v2 = b.v2 AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(x.sh || y.sh)) AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(x.sh || y.sh)) >= {_JACCARD_T}
    ORDER BY c.doc_a, c.doc_b
    """,
)
def dedup_near_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) signatures → 4-band LSH bucketing → candidate pairs →
    exact-Jaccard verification at 0.5.

    One md5 base hash per shingle + K universal-hash permutations
    ((h%P)*a+b mod P) is the classic MinHash construction — 8× fewer
    md5 calls than per-seed hashing. Banding keeps the self-join to
    bucket-mates. Candidate recall is 1-(1-j^R)^B — ≈1 for the
    ~0.99-Jaccard clusters in this corpus.

    Signature frame checkpointed once (optimization r14, see
    _minhash_sig_materialized): EXECUTES the signature pass at
    construction."""
    docs = load(spark, sf_dir, "documents")
    sig = _minhash_sig_materialized(docs)
    cand = _minhash_cand_from_sig(sig)
    x = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_T)
        .orderBy("doc_a", "doc_b")
    )


def _minhash_sig_materialized(docs: DataFrame) -> DataFrame:
    """Checkpointed signature frame (doc_id, sh, sig) for the one-shot
    pair pipelines. Their plans reference the sig tree FOUR times (both
    sides of the band-bucket self-join + both exact-Jaccard verify
    sides), and the column-pruned subtrees are not structurally
    identical, so AQE exchange reuse never serves them — the
    shingle→md5→minhash tree was evaluated 4× per query. Re-measured
    r14 (interleaved same-session A/B at sf0.1, min of 4):
    lazy 2.55 s vs sig-checkpointed 1.42 s for the
    dedup_near_minhash_lsh shape, 2.63 vs 2.13 for the adaptive-bands
    shape — the r2 'pipelined one-shot beats materialization' decision
    inverted once the tree had four consumers instead of three.
    Queries built on this helper EXECUTE the signature pass at
    construction (registry contract note); the blocks back the
    returned plan, so they are not released here."""
    return checkpoint(_minhash_sig(docs))


def _minhash_sig(docs: DataFrame) -> DataFrame:
    """Lazy signature frame (doc_id, sh, sig) over a docs frame."""
    sh = docs.select("doc_id", _shingles3(text_tokens()).alias("sh"))
    base = sh.select(
        "doc_id",
        "sh",
        F.transform(
            "sh",
            lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"),
        ).alias("bh"),
    )
    def _perm(s: int):
        # one-arg lambda on purpose: a second parameter would make
        # F.transform pass the element INDEX into it
        return lambda h: ((h % _MH_P) * _MH_A[s] + _MH_B[s]) % _MH_P

    return base.select(
        "doc_id",
        "sh",
        F.array(
            *[F.array_min(F.transform("bh", _perm(s))) for s in range(_MINHASH_K)]
        ).alias("sig"),
    )


def _minhash_candidates(docs: DataFrame, persist: bool = False):
    """Signature + banding + candidate stages over an arbitrary docs
    frame (doc_id, text). Returns (sig, cand): the signature frame
    (doc_id, sh, sig) and the UNVERIFIED candidate pairs — split out so
    dedup_eval_recall can measure the candidate stage against exact
    ground truth on the same universe. (The eager multi-pass-consumer
    form lives in _minhash_pairs_materialized, which checkpoints the
    sig frame itself — kept OUT of this function so the registry lint's
    call-graph analysis classifies the one-shot consumers as lazy.)"""
    sig = _minhash_sig(docs)
    if persist:
        sig = sig.persist()
    return sig, _minhash_cand_from_sig(sig)


def _minhash_cand_from_sig(sig: DataFrame) -> DataFrame:
    """Banding + bucket self-join candidate pairs from a sig frame."""
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.col("sig")[2 * b].alias("v1"),
                        F.col("sig")[2 * b + 1].alias("v2"),
                    )
                    for b in range(_LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.b", "band.v1", "band.v2")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return cand


def minhash_pairs_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed verified (doc_a, doc_b) pairs for the multi-pass
    consumers (the connected-components clustering queries). The
    signature frame is checkpointed FIRST: its three column-pruned
    consumers (the banding explode and both verify sides) are not
    structurally identical, so AQE exchange reuse never serves them and
    the shingle→md5→minhash expression tree was evaluated three times
    inside the pair materialization (the laspeyres finding, applied
    here — measured 2.6 s → 1.4 s at sf0.1, identical pairs;
    optimization r13). Sig blocks are released as soon as the pair
    frame is materialized, so peak resident state is unchanged. (The
    one-shot pair queries now go through _minhash_sig_materialized for
    the same reason — the r2 'pipelined beats materialized' decision
    was re-measured and inverted in r14.)"""
    docs = load(spark, sf_dir, "documents")
    sig = checkpoint(_minhash_sig(docs))
    cand = _minhash_cand_from_sig(sig)
    x = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    pairs = checkpoint(
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _JACCARD_T)
        .select("doc_a", "doc_b")
    )
    release(sig)
    return pairs


# --- SimHash near-dup ------------------------------------------------------

_SIMHASH_BITS = 60  # 15 hex chars of md5 → < 2^60, sign-safe in a BIGINT
_SIM_BAND_BITS = 15
_HAMMING_T = 10


def _simhash_sql() -> str:
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(_SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(_SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM tok
    ),
    bitsum AS (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id
    ),
    sim AS (SELECT doc_id, {bits} AS sim FROM bitsum),
    banded AS (
      SELECT doc_id, sim, b, (sim >> (b * {_SIM_BAND_BITS})) & 32767 AS bv
      FROM sim CROSS JOIN (SELECT unnest(range(4)) AS b) bands
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.sim AS sim_a,
             b.doc_id AS doc_b, b.sim AS sim_b
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {_HAMMING_T}
    ORDER BY doc_a, doc_b
    """


@query("dedup_near_simhash", oracle=_simhash_sql())
def dedup_near_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit signatures from token-hash bit votes,
    candidate pairing via four 15-bit bands, Hamming-distance ≤ 10.

    Banding gives exact recall for Hamming ≤ 3 (pigeonhole: some band is
    untouched) and probabilistic recall above — identical determinism in
    the oracle, which runs the same construction. Candidates come from an
    exploded (band_idx, band_value) EQUI-join — an OR of band equalities
    would plan as a nested-loop O(n²) comparison."""
    docs = load(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", F.explode(text_tokens()).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    bitsum = h.groupBy("doc_id").agg(*bit_sums)
    sim_expr = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(1, _SIMHASH_BITS),
        F.when(F.col("b0") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    banded = bitsum.select("doc_id", sim_expr.alias("sim")).select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("sim"), b * _SIM_BAND_BITS)
                        .bitwiseAND(F.lit(32767))
                        .alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "sim", "band.b", "band.bv")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= _HAMMING_T)
        .orderBy("doc_a", "doc_b")
    )


# --- near-dup cluster resolution (connected components) --------------------

def minhash_pairs_sql() -> str:
    """The minhash oracle as a nested subquery (DuckDB allows WITH inside
    a derived table)."""
    from ..registry import _REGISTRY

    return _REGISTRY["dedup_near_minhash_lsh"].oracle


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({minhash_pairs_sql()}) p),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, label) AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges) n
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS doc_id, CAST(MIN(label) AS BIGINT) AS component_id
    FROM reach GROUP BY u
    ORDER BY doc_id
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve near-dup pairs into duplicate CLUSTERS: connected
    components by min-label propagation WITH pointer doubling,
    iterating UNTIL THE FIXED POINT (``connected_components_converged``
    — a round that changes no label is exact convergence, so the result
    equals the oracle's exact min-reachable-label regardless of round
    count; this corpus needs 2 rounds where the round-2 fixed form
    always ran 4). The survivor of each cluster is its component_id
    (lowest doc_id). Oracle: DuckDB recursive CTE computing the exact
    min reachable label.

    At 100 TB this is the standard large-graph CC pattern: each round is
    two joins + a min-aggregate, iteration count logarithmic in the
    diameter thanks to the doubling step, and the convergence probe
    (one anti-join count per round) means no diameter assumption is
    baked in — a 2^4-diameter chain can't be silently split."""
    # checkpoint the PAIR LIST once (the expensive minhash pipeline runs
    # exactly one pass, unordered, nothing stays cached); the union then
    # reads the materialized pairs twice for free. Lineage truncation per
    # round below is what keeps the loop from re-nesting the upstream
    # plan 2^iters times (observed as driver-heap exhaustion from the
    # duplicated concurrent broadcast builds). Eager localCheckpoint is
    # the local form; cluster jobs use checkpoint() on fault-tolerant
    # storage. NOTE: this query therefore executes during construction
    # (see registry.py on iterative queries).
    # sig-checkpointed pair materialization (optimization r13 — the
    # shingle→minhash tree is evaluated once, not three times)
    pairs = minhash_pairs_materialized(spark, sf_dir)
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).withColumnsRenamed({"doc_a": "u", "doc_b": "v"})
    labels, _rounds = connected_components_converged(edges)
    # the final label frame is materialized; the pair list no longer
    # backs the returned plan — free its blocks now (ckpt.py)
    release(pairs)
    return labels.select(
        F.col("u").alias("doc_id"), F.col("label").alias("component_id")
    ).orderBy("doc_id")


def _cc_round(
    edges: DataFrame, labels: DataFrame, carry_prev: bool = False
) -> DataFrame:
    """One pointer-doubling round: hop one edge, then jump
    label := min(label, label(label)). Returns a checkpointed frame.

    ``carry_prev`` additionally carries the round's INPUT label as a
    ``prev`` column, so the convergence probe is a filter over the
    already-checkpointed output blocks instead of a join of two label
    frames (optimization r13 — one fewer shuffle join + job per round;
    the label values themselves are untouched)."""
    neighbor_min = (
        edges.join(labels.select("u", "label").withColumnRenamed("u", "v"), "v")
        .groupBy("u")
        .agg(F.min("label").alias("nlabel"))
    )
    hop_cols = [
        F.col("u"),
        F.least(
            F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
        ).alias("label"),
    ]
    if carry_prev:
        hop_cols.append(F.col("label").alias("prev"))
    hopped = labels.select("u", "label").join(
        neighbor_min, "u", "left"
    ).select(*hop_cols)
    via = hopped.select(
        F.col("u").alias("lbl_node"), F.col("label").alias("lbl_label")
    )
    out_cols = [
        F.col("u"),
        F.least(
            F.col("label"),
            F.coalesce(F.col("lbl_label"), F.col("label")),
        ).alias("label"),
    ]
    if carry_prev:
        out_cols.append(F.col("prev"))
    return checkpoint(
        hopped.join(via, hopped.label == via.lbl_node, "left").select(
            *out_cols
        )
    )


def connected_components(edges: DataFrame, iters: int) -> DataFrame:
    """Min-label propagation with pointer doubling over a symmetric edge
    list (u, v) → (u, label). Each round: hop one edge, then jump
    label := min(label, label(label)); effective propagation distance
    doubles per round, so ``iters`` rounds cover diameter ≤ 2^iters.
    Lineage is truncated per round (eager localCheckpoint).

    Fixed iteration count is the cross-engine-comparable (oracle) form;
    ``connected_components_converged`` is the production form that stops
    at the fixed point and cannot silently split large-diameter
    components."""
    labels = edges.select("u").distinct().withColumn("label", F.col("u"))
    for _ in range(iters):
        prev = labels
        labels = _cc_round(edges, labels)
        release(prev)
    return labels


def _cc_hop(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label HOP as union-combine (optimization r14): neighbor
    messages (u, label(v)) from one edge join UNION the identity rows,
    folded by ONE map-side-combinable min aggregate. The r13 form
    combined self and neighbor minima with an extra labels⋈neighbor_min
    join — two joins + one agg per hop where one join + one agg
    suffices; the aggregate also carries ``prev`` (the ROUND's input
    label, riding only on the identity rows — exactly one per u) so the
    convergence probe stays a filter over the checkpointed output."""
    lbl_t = labels.schema["label"].dataType
    msgs = edges.join(
        labels.select(F.col("u").alias("v"), "label"), "v"
    ).select("u", "label", F.lit(None).cast(lbl_t).alias("prev"))
    return (
        msgs.unionByName(labels.select("u", "label", "prev"))
        .groupBy("u")
        .agg(F.min("label").alias("label"), F.max("prev").alias("prev"))
    )


def connected_components_converged(
    edges: DataFrame, max_iters: int = 32, hops_per_round: int = 1
) -> tuple[DataFrame, int]:
    """Convergence-detecting connected components: iterate until a round
    changes NO label (labels only ever decrease under min-propagation, so
    an unchanged round is a fixed point = exact components), bounded by
    ``max_iters`` rounds. Returns (labels, rounds_executed).

    Each round is ``hops_per_round`` min-label hops (union-combine, see
    ``_cc_hop``) followed by one pointer-doubling jump
    (label := min(label, label(label))), checkpointed once per ROUND.
    The r14 measurement behind the knob: on the co-purchase graph the
    jump is nearly idle (labels point at LOCAL minima whose own labels
    improve only by edge propagation — simulated on the real sf0.1
    graph, extra jumps leave the round count at 7), so the round count
    is governed by edge hops: 1 hop/round = 7 rounds, 3 hops/round = 3
    rounds with FEWER total joins (12 vs 21) and 3 checkpoints +
    probes instead of 7. Iterative round latency (scheduling, barrier,
    materialization) is the dominant cost class locally and a real
    barrier cost at any scale, so callers with non-trivial-diameter
    graphs pass hops_per_round=3; the near-dup clustering callers
    (diameter ≤ ~2 pair clusters) keep 1. Convergence detection makes
    every setting exact — hops_per_round trades per-round work against
    round count, never correctness.

    The per-round convergence probe is a filter over the round's OWN
    checkpointed output (each round carries its input label as ``prev``
    — optimization r13; previously a join of consecutive label frames,
    one extra shuffle join + job per round) — negligible next to the
    round's edge joins at any scale, and what prevents the fixed-
    iteration variant's silent-split failure mode on diameter > 2^iters
    graphs."""
    labels: DataFrame | None = None
    rounds = 0
    for _ in range(max_iters):
        if labels is None:
            # round 1, hop 1 on identity labels: label(v) IS v, so the
            # hop collapses to one aggregate over the edge list — no
            # join, and it subsumes the old select(u).distinct() init
            cur = (
                edges.groupBy("u")
                .agg(F.min("v").alias("_nm"))
                .select(
                    "u",
                    F.least(F.col("u"), F.col("_nm")).alias("label"),
                    F.col("u").alias("prev"),
                )
            )
            extra_hops = hops_per_round - 1
        else:
            cur = labels.select(
                "u", "label", F.col("label").alias("prev")
            )
            extra_hops = hops_per_round
        for _h in range(extra_hops):
            cur = _cc_hop(edges, cur)
        # pointer-doubling jump on the freshest table, then materialize
        via = cur.select(
            F.col("u").alias("lbl_node"), F.col("label").alias("lbl_label")
        )
        new_labels = checkpoint(
            cur.join(via, cur.label == via.lbl_node, "left").select(
                "u",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("lbl_label"), F.col("label")),
                ).alias("label"),
                "prev",
            )
        )
        rounds += 1
        converged = new_labels.filter(
            F.col("label") != F.col("prev")
        ).isEmpty()
        release(labels)  # round N-1 superseded (probe above consumed it)
        labels = new_labels
        if converged:
            break
    return labels.select("u", "label"), rounds


# --- blocked n-gram Jaccard ------------------------------------------------

_TILE_CAP = 64  # max a-side rows per (block, tile) join bucket


def tiled_block_pairs(t: DataFrame, cap: int = _TILE_CAP) -> DataFrame:
    """Candidate pairs from a blocked self-join of ``t`` (doc_id, block,
    sh) — output-identical to ``a JOIN b ON block AND doc_a < doc_b`` but
    with each block's quadratic pair space SPLIT ACROSS TASKS.

    A block of m docs produces m² candidate pairs; naively that entire
    grid lands in the single task owning the block's join key, so one hot
    prefix (boilerplate header shared by millions of docs at 100 TB) is
    an unbounded straggler. Here each block gets ntiles = ⌈m / cap⌉
    salts: the a-side takes a deterministic hash salt in [0, ntiles), the
    b-side is replicated to every salt, and the join key becomes
    (block, salt) — so each task holds ≈ cap × m pairs (linear in m,
    capped fan-in) instead of m². A pair (x, y) with doc_a < doc_b
    appears exactly once: x sits on the a-side in exactly one salt.

    Small blocks (m ≤ cap) get ntiles = 1 — the plan degenerates to the
    plain blocked join with zero replication."""
    sizes = t.groupBy("block").agg(F.count(F.lit(1)).alias("__bn"))
    # plain equi-join on block (AQE broadcasts it when small); the block
    # cardinality can be huge at scale, so no forced broadcast here
    tt = t.join(sizes, "block")
    ntiles = F.greatest(
        F.ceil(F.col("__bn") / F.lit(cap)).cast("int"), F.lit(1)
    )
    a = tt.select(
        F.col("doc_id").alias("doc_a"),
        "block",
        F.col("sh").alias("sh_a"),
        F.pmod(F.xxhash64("doc_id"), ntiles).cast("int").alias("__tile"),
    )
    b = tt.select(
        F.col("doc_id").alias("doc_b"),
        F.col("block").alias("block_b"),
        F.col("sh").alias("sh_b"),
        F.explode(F.sequence(F.lit(0), ntiles - F.lit(1))).alias("__tile_b"),
    )
    return a.join(
        b,
        (a.block == b.block_b)
        & (F.col("__tile") == F.col("__tile_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    t AS (
      SELECT doc_id,
             concat_ws(' ', toks[1], toks[2]) AS block,
             list_distinct(list_transform(range(len(toks) - 1),
               i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS sh
      FROM tok
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(a.sh || b.sh)) AS jaccard
    FROM t a JOIN t b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(a.sh || b.sh)) >= {_JACCARD_T}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-Jaccard near-dup with first-2-token blocking: the
    quadratic comparison never leaves a block (LSH above is the
    unblocked companion), and oversized blocks are tile-salted so a hot
    prefix spreads over ⌈m/cap⌉ tasks instead of one straggler."""
    docs = load(spark, sf_dir, "documents")
    toks = text_tokens()
    sh2 = ngrams(toks, 2)
    t = docs.select(
        "doc_id",
        # slice, not element_at: ANSI-safe for single-token docs
        F.concat_ws(" ", F.slice(toks, 1, 2)).alias("block"),
        sh2.alias("sh"),
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        tiled_block_pairs(t)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_T)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             string_split(text, ' ')[1] AS t1,
             length(text) // 20 AS lb
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
                AS INT) AS prefix_dist
    FROM d a JOIN d b
      ON a.t1 = b.t1 AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 10
    ORDER BY doc_a, doc_b
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching within blocks: candidate pairs share a
    (first-token, length-bucket) block — an equi-join, never n² — and
    survive if the edit distance of their 40-char prefixes is ≤ 10.
    Levenshtein is O(k²) per pair, so the block bound + prefix cap is
    what keeps this feasible at scale (same blocking discipline as
    dedup_ngram_jaccard; LSH is the unblocked alternative)."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "text",
        F.split(F.col("text"), " ").getItem(0).alias("t1"),
        F.expr("length(text) div 20").alias("lb"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("ta"),
        "t1",
        "lb",
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("tb"),
        "t1",
        "lb",
    )
    dist = F.levenshtein(
        F.substring("ta", 1, 40), F.substring("tb", 1, 40)
    )
    return (
        a.join(b, ["t1", "lb"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.cast("int").alias("prefix_dist"))
        .filter(F.col("prefix_dist") <= 10)
        .orderBy("doc_a", "doc_b")
    )


_EST_MATCH_SQL = " + ".join(
    f"(CASE WHEN x.sig[{s+1}] = y.sig[{s+1}] THEN 1 ELSE 0 END)"
    for s in range(_MINHASH_K)
)


@query(
    "dedup_minhash_estimate_error",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, {_SH3_SQL} AS sh FROM tok),
    base AS (
      SELECT doc_id, sh,
             list_transform(sh,
               x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS bh
      FROM sh
    ),
    sig AS (SELECT doc_id, sh, {_MH_SIG_SQL} AS sig FROM base),
    bands AS (
      SELECT doc_id, b, sig[2*b + 1] AS v1, sig[2*b + 2] AS v2
      FROM sig CROSS JOIN (SELECT unnest(range({_LSH_BANDS})) AS b) t
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.v1 = b.v1 AND a.v2 = b.v2 AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST({_EST_MATCH_SQL} AS DOUBLE) / {_MINHASH_K} AS est,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(x.sh || y.sh)) AS exact
      FROM cand c
      JOIN sig x ON x.doc_id = c.doc_a
      JOIN sig y ON y.doc_id = c.doc_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {DSUM_SQL.format(expr="est")} / COUNT(*) AS mean_est,
           {DSUM_SQL.format(expr="exact")} / COUNT(*) AS mean_exact,
           {DSUM_SQL.format(expr="abs(est - exact)")} / COUNT(*)
             AS mean_abs_err,
           MAX(abs(est - exact)) AS max_abs_err,
           CAST(SUM(CASE WHEN abs(est - exact) > 0.25 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_err_over_quarter
    FROM scored
    """,
)
def dedup_minhash_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash ESTIMATOR-error audit: over the LSH candidate pairs, the
    signature-agreement estimate (matching components / K) next to the
    exact shingle Jaccard — mean/max absolute error and the count of
    pairs off by more than 0.25. With K=8 the estimator's per-pair
    std is ~sqrt(j(1-j)/8) ≈ 0.17 at j=0.5, so a healthy audit shows
    mean_abs_err near that and few quarter-misses; a broken hash
    family (correlated permutations) shows up here long before recall
    curves move. Complements dedup_eval_recall (candidate RECALL vs
    truth) with estimate ACCURACY on the pairs the index actually
    surfaces — the two failure axes of sketch-based dedup.

    Determinism: est is an exact rational (match count / 8); exact
    Jaccard uses the same set ops as the gated pair query; rollups are
    DSUM folds.

    Scale: rides the minhash pipeline exactly (one md5 per shingle,
    K universal hashes, band-bucket self-join); the audit adds one
    8-term integer comparison per candidate pair and a 1-row fold.

    Signature frame checkpointed once (optimization r14, see
    _minhash_sig_materialized): EXECUTES the signature pass at
    construction."""
    docs = load(spark, sf_dir, "documents")
    sig = _minhash_sig_materialized(docs)
    cand = _minhash_cand_from_sig(sig)
    x = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    y = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    match = sum(
        F.when(
            F.col("sig_a").getItem(s) == F.col("sig_b").getItem(s), 1
        ).otherwise(0)
        for s in range(_MINHASH_K)
    )
    est = match.cast("double") / _MINHASH_K
    exact = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    scored = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(est.alias("est"), exact.alias("exact"))
    )
    err = F.abs(F.col("est") - F.col("exact"))
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (dsum(F.col("est")) / F.count(F.lit(1))).alias("mean_est"),
        (dsum(F.col("exact")) / F.count(F.lit(1))).alias("mean_exact"),
        (dsum(err) / F.count(F.lit(1))).alias("mean_abs_err"),
        F.max(err).alias("max_abs_err"),
        F.sum(F.when(err > 0.25, 1).otherwise(0))
        .cast("long")
        .alias("n_err_over_quarter"),
    )


@query(
    "dedup_canonicalize",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({minhash_pairs_sql()}) p
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, label) AS (
      SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges) n
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ),
    labels AS (
      SELECT u AS doc_id, CAST(MIN(label) AS BIGINT) AS component_id
      FROM reach GROUP BY u
    ),
    ranked AS (
      SELECT l.component_id, l.doc_id, d.n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY l.component_id
               ORDER BY d.n_chars DESC, l.doc_id) AS rn
      FROM labels l JOIN documents d ON l.doc_id = d.doc_id
    )
    SELECT component_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS rep_doc_id,
           CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS rep_n_chars,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM ranked
    GROUP BY component_id
    ORDER BY component_id
    """,
)
def dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: size, surviving representative (max
    n_chars, tie → min doc_id), and how many members get dropped.
    Executes the CC iterations at construction (see registry contract
    note on iterative queries). CC runs to the FIXED POINT
    (``connected_components_converged``, the dedup_cluster_components
    form — exact min-reachable labels regardless of round count; this
    corpus converges in 2 rounds where the fixed form always paid 4,
    r12 sweep finding)."""
    # sig-checkpointed pair materialization (optimization r13 — the
    # shingle→minhash tree is evaluated once, not three times)
    pairs = minhash_pairs_materialized(spark, sf_dir)
    edges = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).withColumnsRenamed({"doc_a": "u", "doc_b": "v"})
    cc_labels, _rounds = connected_components_converged(edges)
    labels = cc_labels.select(
        F.col("u").alias("doc_id"), F.col("label").alias("component_id")
    )
    release(pairs)  # final CC frame is materialized; pairs superseded

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = labels.join(docs, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component_id").orderBy(
                F.desc("n_chars"), "doc_id"
            )
        ),
    )
    return (
        ranked.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "rep_doc_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias(
                "rep_n_chars"
            ),
            (F.count(F.lit(1)) - F.lit(1)).alias("n_dropped"),
        )
        .orderBy("component_id")
    )


# --- candidate-generation quality measurement ------------------------------

# ABSOLUTE truth-universe cap: the all-pairs ground truth runs on the
# EVAL_TRUTH_CAP docs with the lowest md5(doc_id:ev) — a deterministic
# top-k (TakeOrderedAndProject), so the truth stage is O(CAP²) pairs at
# ANY corpus size. A fixed *fraction* (the round-2 form: 1/4 hash
# sample) still explodes quadratically at 100 TB; a fixed count never
# does. CAP=256 binds even at sf0.01 (500 docs), so the capped path is
# what tests exercise.
EVAL_TRUTH_CAP = 256

_EV_UNIVERSE_SQL = (
    "SELECT doc_id, text FROM documents "
    "ORDER BY md5(CAST(doc_id AS VARCHAR) || ':ev'), doc_id "
    f"LIMIT {EVAL_TRUTH_CAP}"
)


def _eval_oracle() -> str:

    jac = (
        "CAST(len(list_intersect({a}.sh, {b}.sh)) AS DOUBLE)"
        " / len(list_distinct({a}.sh || {b}.sh))"
    )
    return f"""
    WITH universe AS (
      {_EV_UNIVERSE_SQL}
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM universe),
    sh AS (SELECT doc_id, {_SH3_SQL} AS sh FROM tok),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE {jac.format(a='a', b='b')} >= {_JACCARD_T}
    ),
    base AS (
      SELECT doc_id, sh,
             list_transform(sh,
               x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS bh
      FROM sh
    ),
    sig AS (SELECT doc_id, sh, {_MH_SIG_SQL} AS sig FROM base),
    bands AS (
      SELECT doc_id, b, sig[2*b + 1] AS v1, sig[2*b + 2] AS v2
      FROM sig CROSS JOIN (SELECT unnest(range({_LSH_BANDS})) AS b) t
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.v1 = b.v1 AND a.v2 = b.v2
           AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b
      WHERE {jac.format(a='x', b='y')} >= {_JACCARD_T}
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM cand) AS n_cand,
             (SELECT COUNT(*) FROM verified) AS n_cand_true
    )
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_cand_true AS BIGINT) AS n_cand_true,
           CAST(CASE WHEN n_true > 0
                     THEN (1000 * n_cand_true) // n_true END AS BIGINT)
             AS recall_x1000,
           CAST(CASE WHEN n_cand > 0
                     THEN (1000 * n_cand_true) // n_cand END AS BIGINT)
             AS cand_precision_x1000
    FROM counts
    """


@query("dedup_eval_recall", oracle=_eval_oracle())
def dedup_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality of the MinHash+LSH candidate stage vs exact
    all-pairs Jaccard ground truth, on the ``EVAL_TRUTH_CAP`` (=256)
    docs with the lowest eval-hash — the "measure, don't guess" eval
    harness for the dedup family. Emits candidate-stage recall and
    precision (×1000, integer floor) against truth = pairs with
    Jaccard ≥ 0.5.

    The all-pairs ground truth is confined to an ABSOLUTE-size sampled
    universe: the truth stage is O(CAP²) pairs regardless of corpus
    size (a fractional sample would still be quadratic at 100 TB),
    selected by deterministic hash order so the sample is unbiased and
    stable across runs/cluster sizes; the top-k itself is a
    TakeOrderedAndProject, no global sort. Verified candidates are a
    subset of truth by construction (same threshold, same Jaccard), so
    recall is verified/truth and the candidate stage's precision is
    verified/candidates."""

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    universe = (
        docs.orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ev"))),
            "doc_id",
        )
        .limit(EVAL_TRUTH_CAP)
    )

    sh = universe.select("doc_id", _shingles3(text_tokens()).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= _JACCARD_T)
        .select("doc_a", "doc_b")
    )

    sig, cand = _minhash_candidates(universe)
    x = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(x, "doc_a").join(y, "doc_b").filter(jac >= _JACCARD_T)
    ).select("doc_a", "doc_b")

    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(verified.agg(F.count(F.lit(1)).alias("n_cand_true")))
    )
    return counts.select(
        "n_true",
        "n_cand",
        "n_cand_true",
        F.when(
            F.col("n_true") > 0,
            F.expr("1000 * n_cand_true div n_true"),
        ).alias("recall_x1000"),
        F.when(
            F.col("n_cand") > 0,
            F.expr("1000 * n_cand_true div n_cand"),
        ).alias("cand_precision_x1000"),
    )


def _containment_oracle() -> str:

    return f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, {_SH3_SQL} AS sh FROM tok),
    base AS (
      SELECT doc_id, sh,
             list_transform(sh,
               x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS bh
      FROM sh
    ),
    sig AS (SELECT doc_id, sh, {_MH_SIG_SQL} AS sig FROM base),
    bands AS (
      SELECT doc_id, b, sig[2*b + 1] AS v1, sig[2*b + 2] AS v2
      FROM sig CROSS JOIN (SELECT unnest(range({_LSH_BANDS})) AS b) t
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.v1 = b.v1 AND a.v2 = b.v2
           AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(x.sh) AS containment_ab,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(y.sh) AS containment_ba
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, containment_ab, containment_ba
    FROM scored
    WHERE containment_ab >= 0.5 OR containment_ba >= 0.5
    ORDER BY doc_a, doc_b
    """


@query("dedup_containment", oracle=_containment_oracle())
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup scoring: Jaccard CONTAINMENT |A∩B|/|A| in
    both directions over the MinHash+LSH candidate pairs. Containment
    catches what symmetric Jaccard misses — a short document embedded
    inside a longer one (quote, boilerplate, partial copy), the shape
    decontamination actually hunts for: benchmark items are near-fully
    CONTAINED in training docs whose overall Jaccard is small. Same
    bucketed candidate generation as the dedup family (never all-pairs);
    scoring adds two divisions per candidate.

    Signature frame checkpointed once (optimization r14, see
    dedup._minhash_sig_materialized): EXECUTES the signature pass at
    construction."""

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sig = _minhash_sig_materialized(docs)
    cand = _minhash_cand_from_sig(sig)
    x = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cab = (inter / F.size("sh_a")).alias("containment_ab")
    cba = (inter / F.size("sh_b")).alias("containment_ba")
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", cab, cba)
        .filter(
            (F.col("containment_ab") >= 0.5)
            | (F.col("containment_ba") >= 0.5)
        )
        .orderBy("doc_a", "doc_b")
    )


# --- LSH band-parameter tuning curve ----------------------------------------

# (bands, rows-per-band) configurations sharing the K=8 signature budget.
_BAND_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]


def _pow_chain_sql(x: str, n: int) -> str:
    """Left-associated explicit multiply chain — no pow(), whose
    cross-engine bit behavior is unspecified for non-integer results."""
    e = x
    for _ in range(n - 1):
        e = f"({e} * {x})"
    return e


def _band_curve_oracle() -> str:

    jac = (
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        " / len(list_distinct(a.sh || b.sh))"
    )
    agg_cols = []
    for b, r in _BAND_CONFIGS:
        s_pow_r = _pow_chain_sql("s", r)
        p = f"(1.0 - {_pow_chain_sql(f'(1.0 - {s_pow_r})', b)})"
        agg_cols.append(
            f"CAST(CAST(SUM(CAST(CASE WHEN s >= {_JACCARD_T} THEN {p} "
            f"ELSE 0.0 END AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS et{b}"
        )
        agg_cols.append(
            f"CAST(CAST(SUM(CAST(CASE WHEN s < {_JACCARD_T} THEN {p} "
            f"ELSE 0.0 END AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS ef{b}"
        )
    rows = " UNION ALL ".join(
        f"SELECT CAST({b} AS BIGINT) AS n_bands, "
        f"CAST({r} AS BIGINT) AS rows_per_band, n_true, n_below, "
        f"et{b} AS exp_caught_true, ef{b} AS exp_caught_false, "
        f"et{b} / n_true AS exp_recall FROM agg"
        for b, r in _BAND_CONFIGS
    )
    return f"""
    WITH universe AS (
      {_EV_UNIVERSE_SQL}
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM universe),
    sh AS (SELECT doc_id, {_SH3_SQL} AS sh FROM tok),
    pairs AS (
      SELECT {jac} AS s
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN s >= {_JACCARD_T} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN s < {_JACCARD_T} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_below,
             {', '.join(agg_cols)}
      FROM pairs
    )
    {rows}
    ORDER BY n_bands DESC
    """


@query("dedup_band_tuning_curve", oracle=_band_curve_oracle())
def dedup_band_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter tuning report: for each (bands, rows) split
    of the K=8 signature budget, the EXPECTED number of ≥0.5-Jaccard
    pairs caught (recall mass) and of <0.5 pairs caught (candidate
    false-positive load), from the S-curve P(catch)=1-(1-s^r)^b applied
    to the measured pair-Jaccard distribution of the capped eval
    universe. This is how the (B, R) knob of dedup_near_minhash_lsh is
    chosen at 100 TB — from a fixed-size measured sample, before
    committing a corpus-scale banding pass.

    Determinism: the S-curve is evaluated as explicit left-associated
    multiply chains (no pow()), so both engines produce bit-identical
    doubles; sums use the DECIMAL(38,10) convention. Scale: the pair
    stage is the same O(CAP²) absolute-capped universe as
    dedup_eval_recall — constant work at any corpus size."""

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    universe = docs.orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ev"))),
        "doc_id",
    ).limit(EVAL_TRUTH_CAP)
    sh = universe.select("doc_id", _shingles3(text_tokens()).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b_ = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    s = inter.cast("double") / F.size(F.array_union("sh_a", "sh_b"))
    pairs = (
        a.crossJoin(b_)
        .filter((F.col("doc_a") < F.col("doc_b")) & (inter > 0))
        .select(s.alias("s"))
    )

    def pw(col, n: int):
        e = col
        for _ in range(n - 1):
            e = e * col
        return e

    aggs = [
        F.sum(F.when(F.col("s") >= _JACCARD_T, 1).otherwise(0))
        .cast("long")
        .alias("n_true"),
        F.sum(F.when(F.col("s") < _JACCARD_T, 1).otherwise(0))
        .cast("long")
        .alias("n_below"),
    ]
    for b, r in _BAND_CONFIGS:
        p = F.lit(1.0) - pw(F.lit(1.0) - pw(F.col("s"), r), b)
        aggs.append(
            F.sum(
                F.when(F.col("s") >= _JACCARD_T, p)
                .otherwise(F.lit(0.0))
                .cast("decimal(38,10)")
            )
            .cast("double")
            .alias(f"et{b}")
        )
        aggs.append(
            F.sum(
                F.when(F.col("s") < _JACCARD_T, p)
                .otherwise(F.lit(0.0))
                .cast("decimal(38,10)")
            )
            .cast("double")
            .alias(f"ef{b}")
        )
    agg = pairs.agg(*aggs)
    stack = ", ".join(
        f"CAST({b} AS BIGINT), CAST({r} AS BIGINT), et{b}, ef{b}"
        for b, r in _BAND_CONFIGS
    )
    return (
        agg.select(
            F.expr(
                f"stack({len(_BAND_CONFIGS)}, {stack}) AS "
                "(n_bands, rows_per_band, exp_caught_true, exp_caught_false)"
            ),
            "n_true",
            "n_below",
        )
        .select(
            "n_bands",
            "rows_per_band",
            "n_true",
            "n_below",
            "exp_caught_true",
            "exp_caught_false",
            (F.col("exp_caught_true") / F.col("n_true")).alias("exp_recall"),
        )
        .orderBy(F.desc("n_bands"))
    )


_K = 16  # seed clusters (vec_id < _K); production: ml_kmeans_converged.
# SemDeDup's cost knob: the pair join is Σ|cluster|² ≈ N²/K, so K scales
# with √N (K=16 ≈ √(2000) at the bench SF; at 100 TB K is 10⁴-10⁵).
_DSCALE = 1_000_000_000_000  # (v-c)^2 ~ 1e-4 → integer-exact argmin
_TAU = 0.35  # intra-cluster cosine above which the junior vector drops


def _sq_dist_int(vec, cent):
    """Σ_d floor((v_d - c_d)² · S) as BIGINT — bit-deterministic
    cross-engine distance (ml_kmeans convention)."""
    return F.aggregate(
        F.zip_with(
            vec,
            cent,
            lambda x, c: F.floor(
                (x.cast("double") - c.cast("double"))
                * (x.cast("double") - c.cast("double"))
                * F.lit(float(_DSCALE))
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


_SQL_DIST = f"""list_aggregate(list_transform(range({DIM}),
  d -> CAST(floor((CAST({{v}}[d+1] AS DOUBLE) - CAST({{c}}[d+1] AS DOUBLE))
       * (CAST({{v}}[d+1] AS DOUBLE) - CAST({{c}}[d+1] AS DOUBLE))
       * {_DSCALE}.0) AS BIGINT)), 'sum')"""

_SQL_COS = (
    DOT_SQL.format(dim=DIM, a="a.embedding", b="b.embedding")
    + f""" / ({NORM_SQL.format(dim=DIM, a='a.embedding')}
         * {NORM_SQL.format(dim=DIM, a='b.embedding')})"""
)


@query(
    "dedup_semantic",
    oracle=f"""
    WITH assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c0.vec_id AS cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_DIST.format(v='e.embedding',
                                            c='c0.embedding')},
                          c0.vec_id
               ) AS rn
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id < {_K}) c0
      ) ranked WHERE rn = 1
    ),
    dup_pairs AS (
      SELECT b.vec_id AS vec_id, a.cid AS cluster,
             a.vec_id AS dup_of, {_SQL_COS} AS cosine
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_SQL_COS} >= {_TAU}
    )
    SELECT vec_id, cluster, dup_of, cosine FROM (
      SELECT vec_id, cluster, dup_of, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dup_of)
               AS rn
      FROM dup_pairs
    ) t WHERE rn = 1
    ORDER BY vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-scoped cosine near-dup removal. Returns the
    DROPPED vectors — (vec_id, cluster, dup_of, cosine) where dup_of is
    the lowest-id cluster-mate above τ (the survivor it duplicates);
    `anti-join this against the corpus` is the keep-side of the
    pipeline (same shape as dedup_exact → dedup_canonicalize)."""
    emb = load(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    # broadcast K centroids; map-side integer argmin — no shuffle
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        "cid",
        _sq_dist_int(F.col("embedding"), F.col("cvec")).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    # norm is a pure per-vector function — compute it ONCE here rather
    # than per candidate pair (the oracle recomputes it per pair; the
    # double value is identical, only the work is hoisted). At Σ|c|²
    # pairs this removes 2 of the 3 O(dim) folds from the hot join.
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "embedding",
            "cid",
            norm(F.col("embedding")).alias("nrm"),
        )
    )
    a = assign.select(
        F.col("vec_id").alias("dup_of"),
        F.col("embedding").alias("ea"),
        F.col("cid").alias("cluster"),
        F.col("nrm").alias("na"),
    )
    b = assign.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("eb"),
        F.col("cid").alias("cid_b"),
        F.col("nrm").alias("nb"),
    )

    pairs = with_pair_cosine(
        a.join(
            b,
            (a.cluster == b.cid_b) & (F.col("dup_of") < F.col("vec_id")),
        ),
        keep=["vec_id", "cluster", "dup_of"],
    ).filter(F.col("cosine") >= _TAU)
    wb = Window.partitionBy("vec_id").orderBy("dup_of")
    return (
        pairs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster", "dup_of", "cosine")
        .orderBy("vec_id")
    )


# --- exact duplicated substrings (suffix-array-style span dedup) -------------

_SUB_K = 32  # window chars
_SUB_STRIDE = 8


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, source,
             unnest(list_transform(
               generate_series(1, greatest(1, length(text) - {_SUB_K - 1}),
                               {_SUB_STRIDE}),
               i -> substr(text, CAST(i AS INT), {_SUB_K}))) AS gram
      FROM documents
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT g.source,
           CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_windows,
           CAST(SUM(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_windows,
           CAST(COUNT(DISTINCT CASE WHEN dup.gram IS NOT NULL
                                    THEN g.doc_id END)
                AS BIGINT) AS docs_with_dup,
           CAST(SUM(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) / COUNT(*) AS dup_ratio
    FROM g LEFT JOIN dup ON g.gram = dup.gram
    GROUP BY g.source ORDER BY g.source
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SUBSTRING detection (the suffix-array dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally): slide a 32-char window at
    stride 8 over every document, find windows whose exact text occurs
    in >= 2 distinct documents, and report the duplicated-span load per
    source (window counts, affected docs, ratio). Unlike MinHash (whole
    -doc similarity) this catches long verbatim spans embedded in
    otherwise-different documents — licence blocks, quoted articles,
    templated boilerplate — the spans a span-removal pass would cut.

    Scale: windows are one map-side explode (no pairwise compare
    anywhere); the per-gram document-frequency agg and the gram join
    shuffle on the gram key with map-side partials. At 100 TB the gram
    TEXT key (32 B) is replaced by its 64-bit rolling hash
    (text_rolling_hash is the in-repo primitive) and the DF table by a
    bloom/count-min prefilter, shrinking shuffle width ~4x with a
    one-in-2^64 collision risk per pair; the text key is kept here so
    the DuckDB oracle can replay the join exactly. Stride trades recall
    for cost exactly as in the paper (a stride-s scan catches any
    duplicated span >= K + s - 1 chars)."""
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(1, length(text) - {_SUB_K - 1}),"
                f" {_SUB_STRIDE}), i -> substring(text, i, {_SUB_K}))"
            )
        ).alias("gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram", F.lit(1).alias("is_dup"))
    )
    marked = grams.join(dup, "gram", "left")
    agg = marked.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("total_windows"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
        .cast("long")
        .alias("dup_windows"),
        F.countDistinct(
            F.when(F.col("is_dup").isNotNull(), F.col("doc_id"))
        )
        .cast("long")
        .alias("docs_with_dup"),
    )
    return agg.withColumn(
        "dup_ratio", F.col("dup_windows") / F.col("total_windows")
    ).orderBy("source")


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH mk AS (SELECT MAX(doc_id) AS m FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(1, length(text) - {_SUB_K - 1}),
                               {_SUB_STRIDE}),
               i -> substr(text, CAST(i AS INT), {_SUB_K}))) AS gram
      FROM documents
    ),
    f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
    j AS (
      SELECT g.doc_id,
             CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
      FROM g JOIN f ON g.gram = f.gram
    )
    SELECT CAST(j.doc_id * 10 // ((SELECT m FROM mk) + 1) AS BIGINT)
             AS decile,
           CAST(COUNT(DISTINCT j.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_windows,
           CAST(SUM(novel) AS BIGINT) AS novel_windows,
           CAST(SUM(novel) AS BIGINT) / COUNT(*) AS novelty_ratio
    FROM j GROUP BY decile ORDER BY decile
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: treating doc_id as ingestion order, the
    fraction of each decile's 32-char windows whose gram text was NEVER
    seen in an earlier document (first-occurrence attribution via
    min(doc_id) per gram). The crawl-cutoff signal: when marginal
    novelty flattens, more ingestion buys duplication, not data — the
    measured counterpart of the dedup family's removal rates.

    Scale: shares the span-dedup gram machinery (one map-side explode,
    gram-key shuffles); the decile is a PURE MAP expression —
    doc_id*10 div (max+1) against one broadcast max — deliberately not
    ntile(), whose global ordered window would funnel the corpus
    through one task at 100 TB. First-occurrence via min-aggregate is
    order-free and restatement-stable: re-running after an append
    keeps every old gram's first doc."""
    docs = load(spark, sf_dir, "documents")
    mk = docs.agg(F.max("doc_id").alias("m"))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(1, length(text) - {_SUB_K - 1}),"
                f" {_SUB_STRIDE}), i -> substring(text, i, {_SUB_K}))"
            )
        ).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    j = grams.join(first, "gram").select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("first_doc"), 1)
        .otherwise(0)
        .alias("novel"),
    )
    agg = (
        j.crossJoin(F.broadcast(mk))
        .groupBy(
            F.expr("doc_id * 10 div (m + 1)").cast("long").alias("decile")
        )
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("total_windows"),
            F.sum("novel").cast("long").alias("novel_windows"),
        )
    )
    return agg.withColumn(
        "novelty_ratio", F.col("novel_windows") / F.col("total_windows")
    ).orderBy("decile")


def adaptive_rows_per_band(n: int) -> int:
    """Rows-per-band ladder from the corpus size (module note).
    Integer-only: agrees with the oracle's CASE on LENGTH(BIN(n-1))
    at every n ≥ 1."""
    bl = (n - 1).bit_length()
    return 2 if bl <= 12 else (4 if bl <= 20 else 8)


# 1-row CTE ``nb`` (column ``r``): the adaptive rows-per-band from the
# corpus count.
_NB_SQL = """SELECT CASE WHEN LENGTH(BIN(COUNT(*) - 1)) <= 12 THEN 2
                         WHEN LENGTH(BIN(COUNT(*) - 1)) <= 20 THEN 4
                         ELSE 8 END AS r
             FROM documents"""


def _bands_sql(r: int) -> str:
    """One band construction at a fixed r (b = K/r bands), keyed by
    the ':'-joined signature slice — selected by the nb.r CASE."""
    b = _MINHASH_K // r
    return f"""
      SELECT doc_id, t.b,
             array_to_string(sig[{r}*t.b + 1 : {r}*t.b + {r}], ':') AS bk
      FROM sig CROSS JOIN (SELECT unnest(range({b})) AS b) t
      WHERE (SELECT r FROM nb) = {r}
    """


@query(
    "dedup_minhash_adaptive_bands",
    oracle=f"""
    WITH nb AS ({_NB_SQL}),
    tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (SELECT doc_id, {_SH3_SQL} AS sh FROM tok),
    base AS (
      SELECT doc_id, sh,
             list_transform(sh,
               x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS bh
      FROM sh
    ),
    sig AS (SELECT doc_id, sh, {_MH_SIG_SQL} AS sig FROM base),
    bands AS (
      {_bands_sql(2)}
      UNION ALL
      {_bands_sql(4)}
      UNION ALL
      {_bands_sql(8)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT (SELECT CAST(r AS BIGINT) FROM nb) AS rows_per_band,
           (SELECT CAST({_MINHASH_K} // r AS BIGINT) FROM nb) AS n_bands,
           c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(x.sh || y.sh)) AS jaccard
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(x.sh || y.sh)) >= {_JACCARD_T}
    ORDER BY c.doc_a, c.doc_b
    """,
)
def dedup_minhash_adaptive_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MinHash near-dup pairs through CORPUS-ADAPTIVE banding: the
    shared MinHash(8) signatures banded as b × r with r from the
    corpus-size ladder (module note), candidates verified by exact
    Jaccard ≥ 0.5. (rows_per_band, n_bands) are emitted so every gated
    row pins which banding answered — the dedup-tier sibling of
    n_planes/cell_bits. At the driver SFs r = 2 and the pair set is
    identical to dedup_near_minhash_lsh.

    Scale: signatures are map-side (one md5 per shingle + K universal
    hashes); the band explode is ×b ≤ 4; the ONLY shuffle is the
    band-key self-join, whose background collision volume shrinks
    geometrically in r — the knob that keeps candidate count
    ~linear-in-n where fixed 2-row bands go quadratic past ~1M docs.
    Verification touches candidate pairs only."""
    docs = load(spark, sf_dir, "documents")
    r = adaptive_rows_per_band(row_count(sf_dir, "documents"))
    b = _MINHASH_K // r
    # signature frame checkpointed once (optimization r14, see
    # dedup._minhash_sig_materialized; interleaved A/B at sf0.1:
    # lazy 2.63 s vs 2.13 s min-of-4): EXECUTES the signature pass at
    # construction (registry contract note)
    sig = _minhash_sig_materialized(docs)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col("sig")[i * r + j].cast("string")
                                for j in range(r)
                            ],
                        ).alias("bk"),
                    )
                    for i in range(b)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.b", "band.bk")
    aa, bb = bands.alias("a"), bands.alias("b")
    cand = (
        aa.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    x = sig.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = sig.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            F.lit(r).cast("long").alias("rows_per_band"),
            F.lit(b).cast("long").alias("n_bands"),
            "doc_a",
            "doc_b",
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= _JACCARD_T)
        .orderBy("doc_a", "doc_b")
    )
