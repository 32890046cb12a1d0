"""Corpus-distribution diagnostics: per-source divergence from the
corpus token distribution, and vocabulary coverage curves — the
mixture-health checks a pretraining pipeline runs when deciding source
weights and tokenizer vocab size.

Determinism: divergence uses the chi-square statistic (pure rational
arithmetic — no log/KL, whose libm evaluations aren't guaranteed
bit-identical across engines); coverage accumulates INTEGER token
counts in the window (exact) and divides once at the end. Per-term
double sums use the DECIMAL(38,10)+VARCHAR convention.

Scale: token counts are one explode + one token shuffle (map-side
combined); the (source × vocab) grid and the global distribution are
tiny and broadcast; the coverage window runs over the vocab-sized
aggregate, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import DSUM_SQL, dsum, query
from ..tables import load


def _tok_sql(src: str) -> str:
    return (
        f"SELECT doc_id, source, unnest(string_split(text, ' ')) AS token "
        f"FROM {src}"
    )


@query(
    "text_source_divergence",
    oracle=f"""
    WITH tok AS ({_tok_sql("documents")}),
    t2 AS (SELECT source, token FROM tok WHERE token <> ''),
    g AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c
      FROM t2 GROUP BY token
    ),
    gt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM g),
    s AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cs
      FROM t2 GROUP BY source, token
    ),
    st AS (
      SELECT source, CAST(SUM(cs) AS BIGINT) AS tots
      FROM s GROUP BY source
    ),
    grid AS (
      SELECT st.source, st.tots, g.token, g.c, gt.tot,
             COALESCE(s.cs, 0) AS cs
      FROM st CROSS JOIN g CROSS JOIN gt
      LEFT JOIN s ON s.source = st.source AND s.token = g.token
    ),
    terms AS (
      SELECT source, tots,
        (CAST(cs AS DOUBLE) / CAST(tots AS DOUBLE)
         - CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
        * (CAST(cs AS DOUBLE) / CAST(tots AS DOUBLE)
           - CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
        / (CAST(c AS DOUBLE) / CAST(tot AS DOUBLE)) AS term
      FROM grid
    )
    SELECT source, CAST(MAX(tots) AS BIGINT) AS n_tokens,
           {DSUM_SQL.format(expr="term")} AS chi_square
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square divergence of each source's token distribution from
    the whole-corpus distribution — the mixture diagnostic that flags a
    source whose text is statistically unlike the rest (or a dup-heavy
    source whose distribution collapsed). Zero-count cells contribute
    p_t (the (0−p)²/p term), so the full (source × vocab) grid is
    materialized — vocab-sized, broadcast, never corpus-sized."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    t2 = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")

    g = t2.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    gt = g.agg(F.sum("c").alias("tot"))
    s = t2.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cs"))
    st = s.groupBy("source").agg(F.sum("cs").alias("tots"))

    grid = (
        st.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(gt))
        .join(F.broadcast(s), ["source", "token"], "left")
        .withColumn("cs", F.coalesce(F.col("cs"), F.lit(0)))
    )
    ps = F.col("cs").cast("double") / F.col("tots").cast("double")
    pg = F.col("c").cast("double") / F.col("tot").cast("double")
    terms = grid.select(
        "source", "tots", ((ps - pg) * (ps - pg) / pg).alias("term")
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("tots").alias("n_tokens"),
            dsum(F.col("term")).alias("chi_square"),
        )
        .orderBy("source")
    )


@query(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    g AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE token <> '' GROUP BY token
    ),
    gt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM g),
    r AS (
      SELECT token, c, tot,
             ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rank,
             SUM(c) OVER (ORDER BY c DESC, token
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM g CROSS JOIN gt
    )
    SELECT rank, token, c,
           CAST(cum AS BIGINT) AS cum_count,
           CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share
    FROM r
    WHERE rank <= 20
    ORDER BY rank
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: cumulative share of corpus tokens
    covered by the top-k vocabulary entries (k ≤ 20) — the tokenizer
    vocab-size trade-off made visible. The running total is an INTEGER
    window sum (exact, order fixed by (count desc, token)); the share
    division happens once per row on identical operands."""
    docs = load(spark, sf_dir, "documents").select("text")
    g = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gt = g.agg(F.sum("c").alias("tot"))
    w = W.orderBy(F.desc("c"), "token")
    r = (
        g.crossJoin(F.broadcast(gt))
        .withColumn("rank", F.row_number().over(w))
        .withColumn("cum", F.sum("c").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    return (
        r.filter(F.col("rank") <= 20)
        .select(
            "rank",
            "token",
            "c",
            F.col("cum").alias("cum_count"),
            (F.col("cum").cast("double") / F.col("tot").cast("double")).alias(
                "cum_share"
            ),
        )
        .orderBy("rank")
    )


@query(
    "text_bigram_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(len(toks) - 1),
                    i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS bigram
      FROM tok
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    WHERE bigram NOT LIKE ' %' AND bigram NOT LIKE '% ' 
          AND bigram NOT LIKE '%  %'
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 15
    """,
)
def text_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token bigram counts, top 15 — the pair-counting step at
    the heart of BPE merge learning and collocation mining. Bigrams are
    built with the slice+zip construction (NOT element_at inside a HOF
    lambda — Catalyst re-evaluates the split per element, the measured
    O(tokens²) trap documented at dedup.ngrams), WITHOUT the
    per-document dedup the shingle path applies: counts here are
    occurrences, not document frequencies. One token shuffle after a
    map-side explode."""
    docs = load(spark, sf_dir, "documents").select("text")
    toks = F.split(F.col("text"), " ")
    cnt = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(toks, 1, cnt).alias("a"), F.slice(toks, 2, cnt).alias("b")
    )
    bigrams = F.transform(zipped, lambda s: F.concat_ws(" ", s["a"], s["b"]))
    pairs = docs.select(F.explode(bigrams).alias("bigram")).filter(
        ~F.col("bigram").startswith(" ")
        & ~F.col("bigram").endswith(" ")
        & ~F.col("bigram").contains("  ")
    )
    return (
        pairs.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(15)
    )


# --- term burstiness (Fano factor) ------------------------------------------


@query(
    "text_burstiness",
    oracle=f"""
    WITH t2 AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tok AS (SELECT doc_id, token FROM t2 WHERE token <> ''),
    pc AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    top AS (
      SELECT token, CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_docs_with,
             CAST(SUM(c * c) AS BIGINT) AS sum_sq
      FROM pc GROUP BY token
      ORDER BY total DESC, token LIMIT 15
    )
    SELECT token, total AS corpus_count, n_docs_with,
           CAST(total AS DOUBLE) / n AS mean_per_doc,
           CAST(n * sum_sq - total * total AS DOUBLE) / (n * total)
             AS fano
    FROM top CROSS JOIN nd
    ORDER BY corpus_count DESC, token
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor — variance-to-mean ratio of the per-doc
    count, zeros included) for the 15 highest-frequency corpus terms:
    function words occur uniformly (Fano ≈ 1, Poisson-like) while
    content/boilerplate terms clump into few documents (Fano >> 1) —
    the classic signal separating stopword candidates from topical or
    template vocabulary, complementing text_top_terms (which ranks by
    raw count alone) and the tf-idf family.

    Determinism: with n docs, per-term Σc and Σc² over occurring docs
    equal the zero-inclusive sums, so Fano = (n·Σc² − (Σc)²)/(n·Σc) is
    a ratio of exact BIGINTs — one double division, bit-identical.
    Top-15 selection is (count DESC, token) — total order.

    Scale: one tokenize pass → per-(doc, term) counts (map-side
    combined on the doc-local grain), one term-grain aggregate with
    map-side combine, then a TakeOrdered top-15 and a broadcast 1-row
    count frame; nothing after the term aggregate is corpus-sized.
    Int64 headroom: Σc² caps at (max per-doc count)·Σc — overflow needs
    a trillion-token term with 1e6-token docs; the DECIMAL(38,0) form
    swaps in past that."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    pc = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    top = (
        pc.groupBy("token")
        .agg(
            F.sum("c").cast("long").alias("total"),
            F.count(F.lit(1)).cast("long").alias("n_docs_with"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
        )
        .orderBy(F.desc("total"), "token")
        .limit(15)
    )
    return (
        top.crossJoin(F.broadcast(nd))
        .select(
            "token",
            F.col("total").alias("corpus_count"),
            "n_docs_with",
            (F.col("total").cast("double") / F.col("n")).alias(
                "mean_per_doc"
            ),
            (
                (
                    F.col("n") * F.col("sum_sq")
                    - F.col("total") * F.col("total")
                ).cast("double")
                / (F.col("n") * F.col("total"))
            ).alias("fano"),
        )
        .orderBy(F.desc("corpus_count"), "token")
    )


# --- pairwise source vocabulary overlap --------------------------------------


@query(
    "text_source_jaccard",
    oracle="""
    WITH st AS (
      SELECT DISTINCT source, token FROM (
        SELECT source, unnest(string_split(text, ' ')) AS token
        FROM documents
      ) WHERE token <> ''
    ),
    sz AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st
      GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT inter.src_a, inter.src_b, sa.n AS n_a, sb.n AS n_b,
           inter.n_common,
           CAST(inter.n_common AS DOUBLE)
             / (sa.n + sb.n - inter.n_common) AS jaccard
    FROM inter
    JOIN sz sa ON sa.source = inter.src_a
    JOIN sz sb ON sb.source = inter.src_b
    ORDER BY jaccard DESC, src_a, src_b
    LIMIT 20
    """,
)
def text_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard: which ingest sources write
    with the same vocabulary — the corpus-mixture diagnostic that
    flags mirror/scraper pairs BEFORE document-level dedup has to pay
    for them (two sources with vocab Jaccard near 1 are candidates for
    source-level dedup), complementing text_source_divergence (each
    source vs the global mix) with the source×source structure.
    Top-20 most-overlapping pairs, oriented a < b.

    Determinism: set sizes and intersections are exact integers from
    one (source, token) distinct; Jaccard is one double division;
    ordering ties break on the pair names.

    Scale: the token-key self-join is co-partitioned on token (the
    inverted-list shape — each token's posting is |sources|-bounded,
    ≤ 20 here, so the pair fan-out per token is bounded by the source
    count squared, NOT corpus-sized); the pair aggregate is
    |sources|²-bounded with map-side combine."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    st = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    sz = st.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = st.select(F.col("source").alias("src_a"), "token")
    b = st.select(F.col("source").alias("src_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "src_a", "src_b")
        .limit(20)
    )
