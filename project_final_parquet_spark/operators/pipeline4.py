"""LLM-pipeline operators, fifth tranche: incremental corpus dedup,
dictionary-encoding storage profiling, and DoReMi-style domain
reweighting.

Not in the reference (its query surface is selective encrypted-column
reads, ``src/parquet_reader.cpp:92-101``); these extend the mandated
LLM-pipeline families: dedup (dedup.py), layout/profiling
(layout.py, profiling.py), and sampling/mixing (pipeline.py,
pipeline3.py).

Determinism: integer counts stay BIGINT end-to-end; doubles are only
ever produced by the DECIMAL(38,10) order-independent sum convention
(registry docstring, rule 2) followed by IEEE division/multiplication
(deterministic); dictionary index width is computed with ``bin()``
string length — exact integer arithmetic, no libm ``log2`` whose last
ulp could differ across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import DSUM_SQL, dsum, query
from ..tables import load

# --- incremental dedup: new crawl vs historical corpus ---------------------

# Deterministic ~20% batch split via the Knuth multiplicative hash of
# doc_id (same exact-integer recipe as sample_temperature_mix; a plain
# doc_id % 5 residue would correlate with the corpus's id-derived
# source labels). Fingerprint = first-5-token prefix, the template-
# cluster fingerprint dedup_fingerprint_prefix established.
INC_HASH = 2_654_435_761
INC_MOD = 65_536
INC_THRESH = 13_107  # floor(0.2 * 2^16)

_INC_FP_SQL = """concat_ws(' ', string_split(text,' ')[1],
      string_split(text,' ')[2], string_split(text,' ')[3],
      string_split(text,' ')[4], string_split(text,' ')[5])"""


@query(
    "dedup_incremental",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_INC_FP_SQL} AS fp,
             ((doc_id % {INC_MOD}) * {INC_HASH}) % {INC_MOD}
               < {INC_THRESH} AS is_batch
      FROM documents
    ),
    batch AS (
      SELECT doc_id, source, fp,
             MIN(doc_id) OVER (PARTITION BY fp) AS first_id
      FROM t WHERE is_batch
    ),
    hist AS (SELECT DISTINCT fp FROM t WHERE NOT is_batch),
    tagged AS (
      SELECT b.doc_id, b.source, b.first_id,
             (h.fp IS NOT NULL) AS in_hist
      FROM batch b LEFT JOIN hist h ON b.fp = h.fp
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_new,
      CAST(SUM(CASE WHEN in_hist THEN 1 ELSE 0 END) AS BIGINT)
        AS n_dup_vs_history,
      CAST(SUM(CASE WHEN NOT in_hist AND doc_id = first_id
               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN NOT in_hist AND doc_id <> first_id
               THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_in_batch
    FROM tagged GROUP BY source ORDER BY source
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new crawl batch against the historical
    corpus — the continuous-ingest production pattern (dedup the new
    ~20%, never re-shuffle the settled 80%). A new doc is dropped if
    its fingerprint (the first-5-token template prefix, per
    dedup_fingerprint_prefix) already exists in history; among the
    remainder the lowest doc_id per fingerprint survives; per-source
    counts summarize the batch's novelty.

    Scale: at 100 TB the history side is stored as a FINGERPRINT-ONLY
    table (32-byte hashes, ~1000x smaller than the corpus) bucketed by
    fingerprint, so the probe is bucket-local with no history shuffle;
    the bloom-style semi-join prefilter (operators/runtime_filter.py)
    drops non-colliding batch rows before the shuffle. Here both the
    within-batch window and the history probe key on the same column,
    so the batch is shuffled ONCE and the exchange is reused. The batch
    membership hash is exact BIGINT on both engines (operands reduced
    mod 2^16 before the multiply — see sample_temperature_mix).
    """
    docs = load(spark, sf_dir, "documents")
    fp = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5))
    is_batch = (
        (F.col("doc_id") % INC_MOD) * F.lit(INC_HASH)
    ) % F.lit(INC_MOD) < F.lit(INC_THRESH)
    t = docs.select(
        "doc_id", "source", fp.alias("fp"), is_batch.alias("is_batch")
    )
    batch = (
        t.filter("is_batch")
        .select("doc_id", "source", "fp")
        .withColumn(
            "first_id", F.min("doc_id").over(Window.partitionBy("fp"))
        )
    )
    hist = (
        t.filter(~F.col("is_batch"))
        .select("fp")
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    tagged = batch.join(hist, "fp", "left").withColumn(
        "in_hist", F.coalesce("in_hist", F.lit(False))
    )
    not_hist = ~F.col("in_hist")
    kept = not_hist & (F.col("doc_id") == F.col("first_id"))
    dup_batch = not_hist & (F.col("doc_id") != F.col("first_id"))
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.sum(F.when(F.col("in_hist"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_vs_history"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(dup_batch, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_in_batch"),
        )
        .orderBy("source")
    )


# --- dictionary-encoding storage advisor -----------------------------------

_DICT_COLUMNS = ("p_brand", "p_name", "p_type")


def _dict_profile_sql(col: str) -> str:
    return f"""
    SELECT '{col}' AS column_name,
      CAST(SUM(cnt) AS BIGINT) AS n_values,
      CAST(COUNT(*) AS BIGINT) AS n_distinct,
      CAST(SUM(length(v) * cnt) AS BIGINT) AS plain_bytes,
      CAST(SUM(length(v)) AS BIGINT) AS dict_value_bytes
    FROM (
      SELECT v, COUNT(*) AS cnt
      FROM (SELECT {col} AS v FROM part) GROUP BY v
    )
    """


@query(
    "profile_dict_encoding",
    oracle=f"""
    WITH prof AS (
      {" UNION ALL ".join(_dict_profile_sql(c) for c in _DICT_COLUMNS)}
    ),
    bits AS (
      SELECT *, CAST(length(bin(n_distinct - 1)) AS BIGINT) AS index_bits
      FROM prof
    ),
    sized AS (
      SELECT column_name, n_values, n_distinct, plain_bytes, index_bits,
             CAST(dict_value_bytes + (n_values * index_bits + 7) // 8
                  AS BIGINT) AS dict_bytes
      FROM bits
    )
    SELECT *, dict_bytes < plain_bytes AS use_dict
    FROM sized ORDER BY column_name
    """,
)
def profile_dict_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encodability advisor: per string column, measure the
    plain-encoded size against a dictionary encoding (distinct values
    once + a minimal-width index per row) and recommend the cheaper
    one. This is the decision parquet writers make per column chunk;
    surfacing it corpus-wide drives layout planning at 100 TB (a
    mis-encoded high-cardinality column can double scan bytes).

    Scale: each column profile is a two-stage aggregate — groupBy value
    with map-side partial counts, then a scalar rollup — so the shuffle
    carries one row per DISTINCT value, not per row. Index width is
    ``length(bin(n_distinct-1))`` (exact integer bit count on both
    engines; no libm log2) and byte sizes use integer floor division —
    exact past 2^53.
    """
    part = load(spark, sf_dir, "part")

    def profile(col: str) -> DataFrame:
        per_value = (
            part.select(F.col(col).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return per_value.agg(
            F.sum("cnt").cast("long").alias("n_values"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.length("v") * F.col("cnt")).cast("long").alias("plain_bytes"),
            F.sum(F.length("v")).cast("long").alias("dict_value_bytes"),
        ).select(F.lit(col).alias("column_name"), "*")

    prof = profile(_DICT_COLUMNS[0])
    for c in _DICT_COLUMNS[1:]:
        prof = prof.unionByName(profile(c))
    sized = prof.withColumn(
        "index_bits", F.length(F.bin(F.col("n_distinct") - 1)).cast("long")
    ).withColumn(
        "dict_bytes",
        (
            F.col("dict_value_bytes")
            + F.expr("(n_values * index_bits + 7) div 8")
        ).cast("long"),
    )
    return (
        sized.select(
            "column_name",
            "n_values",
            "n_distinct",
            "plain_bytes",
            "index_bits",
            "dict_bytes",
            (F.col("dict_bytes") < F.col("plain_bytes")).alias("use_dict"),
        ).orderBy("column_name")
    )


# --- DoReMi-style domain reweighting ---------------------------------------


@query(
    "sample_domain_reweight",
    oracle=f"""
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             {DSUM_SQL.format(expr="n_chars")} AS sum_chars
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             {DSUM_SQL.format(expr="n_chars")} AS sum_chars_g
      FROM documents
    ),
    scored AS (
      SELECT source, n_docs,
             sum_chars / CAST(n_docs AS DOUBLE) AS avg_len,
             (sum_chars / CAST(n_docs AS DOUBLE))
               / (sum_chars_g / CAST(n_total AS DOUBLE)) AS excess,
             (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
               * ((sum_chars / CAST(n_docs AS DOUBLE))
                  / (sum_chars_g / CAST(n_total AS DOUBLE))) AS u_raw
      FROM src CROSS JOIN tot
    ),
    norm AS (SELECT {DSUM_SQL.format(expr="u_raw")} AS z FROM scored)
    SELECT source, n_docs, avg_len, excess, u_raw / z AS weight
    FROM scored CROSS JOIN norm ORDER BY source
    """,
)
def sample_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, arXiv
    2305.10429): start from each domain's natural share and multiply by
    its excess score over the corpus mean (here the public proxy is
    mean document length — the real pipeline plugs in proxy-model
    excess loss), then renormalize to a sampling distribution. Domains
    that outperform the mean get upweighted; the output feeds
    mix_source_weights / sample_temperature_mix as the target recipe.

    Scale: one map-side-combined groupBy(source) — partials carry
    (count, decimal sum) only; the global row and the normalizer are
    broadcast singleton cross joins. Every double is produced by the
    DECIMAL(38,10) order-independent sum followed by IEEE
    division/multiplication, so the weights are bit-identical on both
    engines at any row order.
    """
    docs = load(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        dsum(F.col("n_chars")).alias("sum_chars"),
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        dsum(F.col("n_chars")).alias("sum_chars_g"),
    )
    avg_len = F.col("sum_chars") / F.col("n_docs").cast("double")
    avg_g = F.col("sum_chars_g") / F.col("n_total").cast("double")
    excess = avg_len / avg_g
    share = F.col("n_docs").cast("double") / F.col("n_total").cast("double")
    scored = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        avg_len.alias("avg_len"),
        excess.alias("excess"),
        (share * excess).alias("u_raw"),
    )
    norm = scored.agg(dsum(F.col("u_raw")).alias("z"))
    return (
        scored.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            "avg_len",
            "excess",
            (F.col("u_raw") / F.col("z")).alias("weight"),
        )
        .orderBy("source")
    )


# --- ingest distribution drift ---------------------------------------------


@query(
    "dq_distribution_drift",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             ((doc_id % {INC_MOD}) * {INC_HASH}) % {INC_MOD}
               < {INC_THRESH} AS is_batch
      FROM documents
    ),
    per AS (
      SELECT lang,
        CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS n_hist,
        CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
      FROM t GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n_hist) AS BIGINT) AS t_hist,
             CAST(SUM(n_batch) AS BIGINT) AS t_batch
      FROM per
    )
    SELECT lang, n_hist, n_batch,
      CAST(n_hist AS DOUBLE) / t_hist AS p_hist,
      CAST(n_batch AS DOUBLE) / t_batch AS p_batch,
      CASE WHEN n_hist = 0 THEN NULL
           ELSE (CAST(n_batch AS DOUBLE) / t_batch
                 - CAST(n_hist AS DOUBLE) / t_hist)
                * (CAST(n_batch AS DOUBLE) / t_batch
                   - CAST(n_hist AS DOUBLE) / t_hist)
                / (CAST(n_hist AS DOUBLE) / t_hist)
      END AS chi2_term
    FROM per CROSS JOIN tot ORDER BY lang
    """,
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest drift monitor: chi-square distance terms between the new
    batch's language distribution and the settled corpus's — the check
    a continuous pipeline runs before merging a crawl (a drifted
    language mix upstream of temperature mixing silently reweights the
    training recipe). Chi-square, not PSI/KL: the statistic is a
    RATIONAL function of the counts (no ln), so it is bit-identical
    across engines — the same trade text_index.py makes for BM25's idf.

    Scale: one conditional-aggregate pass over the corpus (map-side
    combined, one row per language), a broadcast singleton for the two
    totals, then per-row arithmetic. The batch split is the exact-
    integer Knuth hash shared with dedup_incremental.
    """
    docs = load(spark, sf_dir, "documents")
    is_batch = (
        (F.col("doc_id") % INC_MOD) * F.lit(INC_HASH)
    ) % F.lit(INC_MOD) < F.lit(INC_THRESH)
    per = docs.groupBy("lang").agg(
        F.sum(F.when(is_batch, 0).otherwise(1)).cast("long").alias("n_hist"),
        F.sum(F.when(is_batch, 1).otherwise(0)).cast("long").alias("n_batch"),
    )
    tot = per.agg(
        F.sum("n_hist").cast("long").alias("t_hist"),
        F.sum("n_batch").cast("long").alias("t_batch"),
    )
    p_hist = F.col("n_hist").cast("double") / F.col("t_hist")
    p_batch = F.col("n_batch").cast("double") / F.col("t_batch")
    chi2 = F.when(
        F.col("n_hist") == 0, F.lit(None).cast("double")
    ).otherwise((p_batch - p_hist) * (p_batch - p_hist) / p_hist)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_hist",
            "n_batch",
            p_hist.alias("p_hist"),
            p_batch.alias("p_batch"),
            chi2.alias("chi2_term"),
        )
        .orderBy("lang")
    )


# --- join fan-out prediction from key histograms ---------------------------


@query(
    "profile_join_fanout",
    oracle="""
    WITH fan AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(f * COUNT(*) AS BIGINT) AS rows_out
      FROM (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS f
        FROM lineitem GROUP BY l_orderkey
      ) GROUP BY f
    )
    SELECT f AS fanout, n_keys, rows_out,
      CAST(SUM(rows_out) OVER (ORDER BY f DESC) AS BIGINT)
        AS cum_rows_from_top,
      CAST(SUM(rows_out) OVER () AS BIGINT) AS total_rows
    FROM fan ORDER BY fanout
    """,
)
def profile_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out prediction from the probe side's key histogram:
    for the orders⋈lineitem key, the fanout-class histogram (how many
    keys repeat f times, and how many output rows each class feeds)
    states the join's shuffle output size and skew profile WITHOUT
    running the join — orders' key is unique, so predicted output =
    Σ f·n_keys exactly. cum_rows_from_top is the planner's skew read:
    if the top classes feed most rows, pre-salt or let AQE split them.

    Scale: the key histogram is one map-side-combined aggregate (one
    row per distinct key), the class rollup shrinks it to |distinct
    fanout values| rows (~tens even at 100 TB), and only THAT
    metadata-scale frame crosses the single-partition window. This is
    the same statistic a cost-based optimizer keeps as a column
    histogram, computed on demand.
    """
    li = load(spark, sf_dir, "lineitem")
    fan = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            (F.col("f") * F.count(F.lit(1))).cast("long").alias("rows_out"),
        )
    )
    w_top = Window.orderBy(F.desc("f"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        fan.select(
            F.col("f").alias("fanout"),
            "n_keys",
            "rows_out",
            F.sum("rows_out").over(w_top).cast("long").alias("cum_rows_from_top"),
            F.sum("rows_out").over(w_all).cast("long").alias("total_rows"),
        )
        .orderBy("fanout")
    )
