"""Text operators for LLM data pipelines over ``documents``: token and
length statistics, quality scoring and gates, language ID, fingerprints
and rolling hashes, BPE token counts and merge pairs, chunking and
sequence packing, decontamination, PII redaction, repetition filters,
deterministic sampling, source-mixture weights, and the curation
decision tables (chunk-dedup impact, threshold sweeps, vocabulary
contribution).

Everything is built-in ``pyspark.sql.functions``: tokenization is
``split``, set operations are array functions, hashes are md5. Keep and
filter decisions and weights are integer arithmetic in both engines,
and sampling is content-hash based, so both engines select the same rows
under any partitioning.

Scale: per-document operators are map-side; aggregates shuffle only
partially aggregated groups; explode-and-count steps are bounded by the
vocabulary after map-side aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

from .dedup import ngrams, text_tokens
from .pipeline3 import CHUNK_TOK


STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

_STOP_SQL = "['" + "','".join(STOPWORDS) + "']"


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT)
             AS n_distinct_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + distinct-token and length statistics."""
    docs = load(spark, sf_dir, "documents")
    toks = text_tokens()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_intersect(list_distinct(toks), {_STOP_SQL})) AS INT)
             AS n_stopword_kinds,
           CAST(len(list_filter(toks, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
             / n AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / n AS uniq_ratio,
           CASE
             WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / n >= 0.60 THEN 'high'
             WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / n >= 0.35 THEN 'mid'
             ELSE 'low'
           END AS quality_bucket
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: stopword ratio, uniqueness ratio, bucket."""
    docs = load(spark, sf_dir, "documents")
    toks = text_tokens()
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    return docs.select(
        "doc_id",
        F.size(F.array_intersect(F.array_distinct(toks), stop)).alias(
            "n_stopword_kinds"
        ),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(stop, x))).cast(
                "double"
            )
            / n
        ).alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        F.when(uniq_ratio >= 0.60, "high")
        .when(uniq_ratio >= 0.35, "mid")
        .otherwise("low")
        .alias("quality_bucket"),
    )


# Tiny per-language marker vocabularies for the n-gram/keyword language-ID
# heuristic. (The synthetic corpus shares one vocabulary across langs, so
# accuracy is meaningless here — the operator and its determinism are
# what's oracle-checked.)
_LANG_MARKERS = {
    "en": ["the", "fast", "key"],
    "de": ["der", "und", "schnell"],
    "es": ["el", "la", "rapido"],
    "fr": ["le", "et", "rapide"],
    "zh": ["de", "kuai", "jian"],
}


def _marker_sql(lang: str) -> str:
    return "['" + "','".join(_LANG_MARKERS[lang]) + "']"


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 {_marker_sql('de')})) AS s_de,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 {_marker_sql('en')})) AS s_en,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 {_marker_sql('es')})) AS s_es,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 {_marker_sql('fr')})) AS s_fr,
             len(list_intersect(list_distinct(string_split(text, ' ')),
                 {_marker_sql('zh')})) AS s_zh
      FROM documents
    ),
    pred AS (
      SELECT doc_id, lang,
             CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
               WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
               WHEN s_fr THEN 'fr' ELSE 'zh'
             END AS predicted
      FROM scored
    )
    SELECT lang, predicted, COUNT(*) AS n
    FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-overlap language ID; returns the (actual, predicted)
    confusion counts. Ties break lexicographically (de<en<es<fr<zh)."""
    docs = load(spark, sf_dir, "documents")
    uniq = F.array_distinct(text_tokens())
    scores = {
        lang: F.size(
            F.array_intersect(uniq, F.array(*[F.lit(m) for m in markers]))
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    predicted = (
        F.when(scores["de"] == best, "de")
        .when(scores["en"] == best, "en")
        .when(scores["es"] == best, "es")
        .when(scores["fr"] == best, "fr")
        .otherwise("zh")
    )
    return (
        docs.select("doc_id", "lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_content,
           list_min(list_transform(range(len(toks) - 2),
             i -> md5(concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))))
             AS fp_min_shingle
    FROM t
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: order-insensitive content hash + winnowing-
    style minimum shingle hash (the md5-min is a 1-permutation MinHash)."""
    from .dedup import ngrams

    docs = load(spark, sf_dir, "documents")
    toks = text_tokens()
    # _ngrams (slice+zip) avoids the quadratic lambda-inlining trap; the
    # reference fingerprint is over ALL shingles incl. duplicates, but
    # md5-min over distinct shingles is identical (min ignores repeats).
    shingle_hashes = F.transform(ngrams(toks, 3), lambda s: F.md5(s))
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "fp_content"
        ),
        F.array_min(shingle_hashes).alias("fp_min_shingle"),
    )


@query(
    "text_bpe_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS INT) AS bpe_ish_tokens,
           CAST(len(regexp_extract_all(text, '[aeiou]+')) AS INT)
             AS vowel_groups
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex segmenter
    (letter runs / digit runs / single punctuation — the pre-tokenizer
    shape GPT-style BPE vocabularies assume). Both are map-side
    expressions; the regex path is the honest proxy for estimating LLM
    token budgets over 100 TB of text."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(text_tokens()).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0
            )
        ).alias("bpe_ish_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[aeiou]+"), 0)).alias(
            "vowel_groups"
        ),
    )


# Polynomial rolling hash: h = (h*B + byte) mod P, the Rabin-Karp form.
# B/P chosen so (P-1)*B + 255 < 2^63 — no overflow in either engine.
_RH_B = 257
_RH_P = 1_000_000_007


@query(
    "text_rolling_hash",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(range(length(text)),
                            i -> ascii(substr(text, i + 1, 1))) AS bytes
      FROM documents
    )
    SELECT doc_id,
           CAST(list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                               list_transform(bytes, b -> CAST(b AS BIGINT))),
                  (h, b) -> (h * {_RH_B} + b) % {_RH_P}) AS BIGINT)
             AS rolling_hash
    FROM t
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling hash over document bytes — the classic
    content-defined fingerprint (and the primitive for content-defined
    chunking). A sequential integer fold, identical in both engines."""
    docs = load(spark, sf_dir, "documents")
    bytes_arr = F.transform(
        F.split(F.col("text"), ""),
        lambda ch: F.ascii(ch).cast("long"),
    )
    return docs.select(
        "doc_id",
        F.aggregate(
            bytes_arr,
            F.lit(0).cast("long"),
            lambda h, b: (h * _RH_B + b) % _RH_P,
        ).alias("rolling_hash"),
    )


_CHUNK = 16  # tokens per chunk (small so the corpus yields multi-chunk docs)


@query(
    "text_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           CAST(len(toks[ci*{_CHUNK}+1 : (ci+1)*{_CHUNK}]) AS INT)
             AS n_chunk_tokens,
           md5(array_to_string(toks[ci*{_CHUNK}+1 : (ci+1)*{_CHUNK}], ' '))
             AS chunk_hash
    FROM t CROSS JOIN LATERAL (
      SELECT unnest(range(CAST(ceil(len(toks) / {_CHUNK}.0) AS INT))) AS ci
    ) c
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking — the context-window splitter of a
    pretraining pipeline. Declarative: explode over chunk indices +
    array slice; no UDTF needed, fully distributed, last chunk ragged."""
    docs = load(spark, sf_dir, "documents")
    toks = text_tokens()
    n_chunks = F.ceil(F.size(toks) / F.lit(float(_CHUNK))).cast("int")
    t = docs.select("doc_id", toks.alias("toks"), n_chunks.alias("nc"))
    exploded = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * _CHUNK + 1, _CHUNK)
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


_PACK_BUDGET = 256  # tokens per packed sequence


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT lang,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM c
    GROUP BY lang, pack_id
    ORDER BY lang, pack_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (per lang, in id order) to
    ~fixed-token-budget packs via a cumulative-sum window — the
    offset-based approximation of greedy packing that stays one window
    pass instead of a sequential loop (the 100 TB-compatible form)."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(text_tokens()).cast("long").alias("n_tokens")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.select(
            "lang",
            ((F.col("cum") - F.col("n_tokens")) / _PACK_BUDGET)
            .cast("bigint")
            .alias("pack_id"),
            "n_tokens",
        )
        .groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .orderBy("lang", "pack_id")
    )


@query(
    "text_top_terms",
    oracle="""
    SELECT term, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term
    ORDER BY freq DESC, term
    LIMIT 20
    """,
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide term frequency top-20 (explode → partial agg → top-k)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(text_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term"))
        .limit(20)
    )


# --- benchmark decontamination ---------------------------------------------

_DECON_N = 3  # n-gram order for contamination matching
_DECON_T = 0.3  # overlap fraction that flags a training doc
_DECON_MOD = 10  # doc_id % MOD == 0 stands in for the benchmark suite

_DECON_GRAMS_SQL = """list_distinct(list_transform(range(len(toks) - 2),
      i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))"""


@query(
    "text_decontaminate",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
      SELECT doc_id, unnest({_DECON_GRAMS_SQL}) AS gram FROM tok
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_DECON_MOD} = 0),
    cand AS (SELECT * FROM g WHERE doc_id % {_DECON_MOD} <> 0),
    n AS (SELECT doc_id, COUNT(*) AS n_grams FROM cand GROUP BY doc_id),
    m AS (SELECT c.doc_id, COUNT(*) AS n_matched
          FROM cand c JOIN bench b USING (gram) GROUP BY c.doc_id)
    SELECT n.doc_id, n.n_grams, m.n_matched,
           CAST(m.n_matched AS DOUBLE) / n.n_grams AS overlap
    FROM n JOIN m USING (doc_id)
    WHERE CAST(m.n_matched AS DOUBLE) / n.n_grams >= {_DECON_T}
    ORDER BY doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — THE pretraining hygiene op: flag
    training documents whose distinct 3-gram overlap with a benchmark
    set (here: doc_id % 10 == 0 stands in for the eval suite) reaches
    0.3 — on this corpus that surfaces the genuine near-duplicates of
    benchmark docs (overlaps up to 1.0), not noise. The benchmark gram
    set is orders of magnitude smaller than the corpus, so the match is
    a BROADCAST semi-join against map-side exploded grams — the 100 TB
    corpus is touched once, shuffled only for the tiny per-doc count
    aggregation. (At real scale, grams travel as xxhash64 fingerprints
    instead of strings — same plan, 8-byte keys.)"""
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(ngrams(text_tokens(), _DECON_N)).alias("gram")
    )
    bench = (
        grams.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select("gram")
        .distinct()
    )
    cand = grams.filter(F.col("doc_id") % _DECON_MOD != 0)
    n = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    m = (
        cand.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    overlap = F.col("n_matched").cast("double") / F.col("n_grams")
    return (
        n.join(m, "doc_id")
        .select("doc_id", "n_grams", "n_matched", overlap.alias("overlap"))
        .filter(F.col("overlap") >= _DECON_T)
        .orderBy("doc_id")
    )


# --- PII redaction ----------------------------------------------------------

# one pattern dialect-safe in BOTH Java regex (Spark) and RE2 (DuckDB)
_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"


@query(
    "text_pii_redact",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact: user' || CAST(doc_id AS VARCHAR)
                       || '@example.com'
                  ELSE text END AS text2
      FROM documents
    ),
    r AS (
      SELECT lang,
             len(regexp_extract_all(text2, '{_EMAIL_RE}')) AS n_emails,
             length(text2) AS len_before,
             length(regexp_replace(text2, '{_EMAIL_RE}', '<EMAIL>', 'g'))
               AS len_after
      FROM w
    )
    SELECT lang,
           CAST(SUM(n_emails) AS BIGINT) AS total_emails,
           CAST(count_if(n_emails > 0) AS BIGINT) AS docs_with_pii,
           CAST(SUM(len_before) AS BIGINT) AS chars_before,
           CAST(SUM(len_after) AS BIGINT) AS chars_after
    FROM r GROUP BY lang ORDER BY lang
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: detect + replace email addresses
    (deterministically injected into 10% of docs so the assertion bites)
    and account the char-count delta per language. Pure JVM regex
    expressions — redaction at 100 TB is a map-only pass, no shuffle
    before the final small aggregate."""
    docs = load(spark, sf_dir, "documents")
    text2 = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(F.col("text"))
    w = docs.select("doc_id", "lang", text2.alias("text2"))
    r = w.select(
        "lang",
        F.size(F.regexp_extract_all("text2", F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.length("text2").alias("len_before"),
        F.length(
            F.regexp_replace("text2", _EMAIL_RE, "<EMAIL>")
        ).alias("len_after"),
    )
    return (
        r.groupBy("lang")
        .agg(
            F.sum(F.col("n_emails").cast("long")).alias("total_emails"),
            F.count_if(F.col("n_emails") > 0).alias("docs_with_pii"),
            F.sum(F.col("len_before").cast("long")).alias("chars_before"),
            F.sum(F.col("len_after").cast("long")).alias("chars_after"),
        )
        .orderBy("lang")
    )


# --- Gopher-style repetition filter ----------------------------------------

# Gopher rules (Rae et al. 2021, table A1) use fractional thresholds
# (top-2-gram fraction > 0.20, duplicate-word fraction > 0.30). Both are
# rescaled to integer cross-multiplications below so the two engines
# can't disagree on a borderline document.


@query(
    "text_repetition_filter",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    w AS (SELECT doc_id, unnest(t) AS w FROM tok),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
    ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                  CAST(COUNT(*) AS BIGINT) AS n_distinct
           FROM wc GROUP BY doc_id),
    bgx AS (SELECT doc_id,
                   unnest(list_transform(range(len(t) - 1),
                          i -> t[i+1] || ' ' || t[i+2])) AS bg
            FROM tok),
    bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgx GROUP BY doc_id, bg),
    bgs AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_bg_cnt
            FROM bgc GROUP BY doc_id)
    SELECT ws.doc_id, ws.n_words, ws.n_distinct,
           CAST(greatest(ws.n_words - 1, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(bgs.max_bg_cnt, 0) AS BIGINT) AS max_bg_cnt,
           NOT (5 * COALESCE(bgs.max_bg_cnt, 0)
                  > greatest(ws.n_words - 1, 0)
                OR 10 * (ws.n_words - ws.n_distinct) > 3 * ws.n_words)
             AS kept
    FROM ws LEFT JOIN bgs ON ws.doc_id = bgs.doc_id
    ORDER BY ws.doc_id
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: a document is dropped
    when its most frequent bigram exceeds 1/5 of all bigrams or its
    duplicate-word fraction exceeds 3/10 — both evaluated as integer
    cross-multiplications. Two map-side-combined aggregations (word
    counts, bigram counts) shuffled on doc_id, then a co-partitioned
    join: at 100 TB this is two passes over the corpus with partial
    aggregation doing the heavy lifting before any shuffle."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # non-distinct bigrams via the slice+zip form (dedup._ngrams
    # rationale: no CSE inside higher-order-function lambdas)
    cnt = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.transform(
        F.arrays_zip(F.slice(toks, 1, cnt), F.slice(toks, 2, cnt)),
        lambda s: F.concat_ws(" ", s["0"], s["1"]),
    )

    words = docs.select("doc_id", F.explode(toks).alias("w"))
    ws = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
        )
    )
    bgs = (
        docs.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg_cnt"))
    )
    n_bigrams = F.greatest(F.col("n_words") - 1, F.lit(0)).cast("long")
    max_bg = F.coalesce(F.col("max_bg_cnt"), F.lit(0)).cast("long")
    kept = ~(
        (5 * max_bg > n_bigrams)
        | (10 * (F.col("n_words") - F.col("n_distinct")) > 3 * F.col("n_words"))
    )
    return (
        ws.join(bgs, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            n_bigrams.alias("n_bigrams"),
            max_bg.alias("max_bg_cnt"),
            kept.alias("kept"),
        )
        .orderBy("doc_id")
    )


# --- deterministic hash sampling -------------------------------------------


@query(
    "sample_stratified_hash",
    oracle="""
    SELECT doc_id, lang, source,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hp
    FROM documents
    WHERE CASE WHEN lang = 'en'
               THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
               ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' END
    ORDER BY doc_id
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling by content hash: 'en' documents kept
    at 2/16, every other language at 1/16, decided by the first hex
    digit of md5(doc_id). Map-only (no shuffle, no RNG state): the same
    rows are selected on any cluster size, any retry, and in the DuckDB
    oracle — the property TABLESAMPLE/rand() cannot give. This is how a
    pretraining mixture downsamples an over-represented language at
    100 TB: a predicate the scan evaluates, nothing more."""
    docs = load(spark, sf_dir, "documents")
    hp = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.when(F.col("lang") == "en", hp.isin("0", "1")).otherwise(
        hp == "0"
    )
    return (
        docs.withColumn("hp", hp)
        .filter(keep)
        .select("doc_id", "lang", "source", "hp")
        .orderBy("doc_id")
    )


@query(
    "sample_uniform_topk",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':u') AS h
    FROM documents
    ORDER BY h, doc_id
    LIMIT 64
    """,
)
def sample_uniform_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample: the 64 documents with the smallest
    salted content hash — a deterministic 'reservoir'. Executes as
    TakeOrderedAndProject (per-partition top-64, tiny final merge), so
    the k-row sample costs one scan at any corpus size; growing the
    corpus changes WHICH rows win but never the cost shape."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":u")))
    return (
        docs.select("doc_id", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(64)
    )


# --- pretraining source-mixture weights ------------------------------------


@query(
    "mix_source_weights",
    oracle="""
    WITH s AS (
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           CAST((1000000 * n_tokens) // SUM(n_tokens) OVER () AS BIGINT)
             AS weight_ppm
    FROM s ORDER BY source, lang
    """,
)
def mix_source_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture table: token counts per (source, lang) and
    each cell's share of the corpus in parts-per-million — integer
    division, so both engines produce identical weights. Token counting
    is map-side (size of the split array, no explode); the global-total
    window runs over the tiny (source × lang) aggregate, not the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_tokens"),
    )
    return (
        s.withColumn(
            "weight_ppm",
            F.expr(
                "CAST((1000000 * n_tokens) DIV SUM(n_tokens) OVER () AS BIGINT)"
            ),
        )
        .select("source", "lang", "n_docs", "n_tokens", "weight_ppm")
        .orderBy("source", "lang")
    )


# --- rare-token density scoring --------------------------------------------


@query(
    "text_rare_token_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY w),
    scored AS (
      SELECT w.doc_id,
             COUNT(*) AS n_tokens,
             SUM(64 - length(bin(cnt.c))) AS rarity_sum
      FROM w JOIN cnt USING (w) GROUP BY w.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(rarity_sum AS BIGINT) AS rarity_sum,
           CAST((100 * rarity_sum) // n_tokens AS BIGINT)
             AS avg_rarity_x100
    FROM scored ORDER BY doc_id
    """,
)
def text_rare_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token density — an integer stand-in for unigram surprisal:
    each token scores 64 − bitwidth(corpus_count), i.e. ~−log2 of its
    corpus frequency, summed per document (transcendental log2 would
    not be bit-reproducible across engines; the bin()-length form is
    exact integer math on both). Two corpus passes: the term-count
    aggregation, then a co-partitioned-on-token join back — both with
    map-side partial aggregation; no vocabulary ever sits on one node
    (contrast text_oov_rate, which broadcasts a top-K vocab — this is
    the unbounded-vocabulary variant of the same scoring template)."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    cnt = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    rarity = F.lit(64) - F.length(F.bin(F.col("c")))
    scored = (
        words.join(cnt, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(rarity).cast("long").alias("rarity_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "rarity_sum",
        F.expr("CAST((100 * rarity_sum) DIV n_tokens AS BIGINT)").alias(
            "avg_rarity_x100"
        ),
    ).orderBy("doc_id")


# --- boilerplate n-gram detection ------------------------------------------


@query(
    "text_boilerplate_ngrams",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(len(t) - 4),
               i -> concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4], t[i+5]))))
               AS gram
      FROM tok
    )
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM grams
    GROUP BY gram
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, gram
    LIMIT 50
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: word 5-grams shared by ≥2 documents
    (counted once per doc — document frequency, not raw frequency), top
    50. The CommonCrawl-style cleaning primitive: shared headers /
    footers / license blocks surface as high-document-frequency long
    n-grams, and the result set drives a removal pass (semi-join back
    on the gram). On this corpus the hits are exactly the near-dup
    cluster overlaps.

    Scale: per-doc distinct 5-grams via the slice+arrays_zip shingle
    pattern (dedup.py:_ngrams — no quadratic HOF re-evaluation), one
    explode, one count-by-gram with map-side partials, top-k via
    TakeOrdered. Document frequency means hot grams count once per doc,
    bounding skew by corpus doc count, not token count."""
    from .dedup import ngrams, text_tokens

    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(ngrams(text_tokens(), 5)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "gram")
        .limit(50)
    )


# --- one BPE merge round ----------------------------------------------------


@query(
    "text_bpe_merge_pairs",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    words AS (SELECT unnest(t) AS w FROM tok),
    pairs AS (
      SELECT unnest(list_transform(range(len(w) - 1),
               i -> substr(w, CAST(i + 1 AS INT), 2))) AS pair
      FROM words
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One byte-pair-encoding merge round: corpus-wide counts of
    adjacent symbol pairs inside words (every occurrence, not distinct)
    — the argmax pair is BPE's next merge; top 20 shown. Iterating this
    count→merge→recount loop IS tokenizer vocabulary induction, and
    each round is exactly this shape.

    Scale: explode to (pair) and count with map-side combine — the
    classic word-count plan; no vocabulary table materializes anywhere,
    and the per-word pair list is length-bounded by word length. The
    empty-sequence guard matters: single-char words yield no pairs
    (Spark's sequence() DESCENDS when stop < start — guarded with
    when())."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
    pair_arr = F.when(
        F.length("w") >= 2,
        F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select(F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# --- deterministic Poisson bootstrap ---------------------------------------

# Poisson(1) inverse-CDF thresholds on a 32-bit hash (floor(cdf·2^32)):
# weight w = #{thresholds <= h32}, so P(w=k) matches Poisson(1) to
# 2^-32. Shared literals keep both engines bit-identical.
_POIS_T = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373]
_N_BOOT = 16


@query(
    "bootstrap_token_stats",
    oracle=f"""
    WITH reps AS (
      SELECT d.doc_id,
             len(string_split(d.text, ' ')) AS n_tok,
             b.b,
             CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || ':bs:'
                  || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT) AS h32
      FROM documents d
      CROSS JOIN (SELECT unnest(range({_N_BOOT})) AS b) b
    ),
    weighted AS (
      SELECT b, n_tok,
             {" + ".join(f"CASE WHEN h32 >= {t} THEN 1 ELSE 0 END"
                         for t in _POIS_T)} AS w
      FROM reps
    )
    SELECT CAST(b AS INT) AS replicate,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * n_tok) AS BIGINT) AS tok_sum,
           CAST((1000 * SUM(w * n_tok)) // SUM(w) AS BIGINT)
             AS mean_tok_x1000
    FROM weighted
    GROUP BY b
    ORDER BY replicate
    """,
)
def bootstrap_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap: {_N_BOOT} resampling replicates
    of the corpus token-count mean, each document drawn Poisson(1)
    times per replicate via inverse-CDF on a content hash — the
    distributed bootstrap (Chamandy et al., "Estimating uncertainty for
    massive data streams", Google 2012): no replicate ever
    materializes, resampling is a per-row integer weight, and the
    spread of the 16 means IS the standard error of the corpus mean.

    Scale: one pass, map-side weights, one {_N_BOOT}-group partial agg;
    hash-derived weights make every replicate reproducible on any
    cluster size (rand() would be none of this). Integer-only output
    (mean ×1000, floor) per the determinism conventions."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    reps = docs.select(
        "doc_id",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BOOT - 1))).alias("b"),
    )
    h32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":bs:"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = sum(
        F.when(h32 >= t, 1).otherwise(0) for t in _POIS_T
    )
    weighted = reps.select(F.col("b"), "n_tok", w.alias("w"))
    return (
        weighted.groupBy(F.col("b").cast("int").alias("replicate"))
        .agg(
            F.sum("w").alias("n_eff"),
            F.sum(F.col("w") * F.col("n_tok")).alias("tok_sum"),
        )
        .select(
            "replicate",
            "n_eff",
            "tok_sum",
            F.expr("CAST((1000 * tok_sum) DIV n_eff AS BIGINT)").alias(
                "mean_tok_x1000"
            ),
        )
        .orderBy("replicate")
    )


# --- collocation mining: token-pair lift (PMI surrogate) -------------------

_PMI_VOCAB = 40  # restrict pairs to the top-40 tokens — bounds the join
_PMI_TOPK = 20


@query(
    "text_cooccurrence_lift",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    t2 AS (SELECT DISTINCT doc_id, token FROM tok WHERE token <> ''),
    vocab AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM t2
      GROUP BY token ORDER BY df DESC, token LIMIT {_PMI_VOCAB}
    ),
    tv AS (SELECT t2.doc_id, t2.token, v.df
           FROM t2 JOIN vocab v USING (token)),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM t2),
    pairs AS (
      SELECT a.token AS tok_a, b.token AS tok_b,
             a.df AS df_a, b.df AS df_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM tv a JOIN tv b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token, a.df, b.df
    )
    SELECT tok_a, tok_b, n_ab,
           CAST((1000 * n_ab * n.n_docs) // (df_a * df_b) AS BIGINT)
             AS lift_x1000
    FROM pairs CROSS JOIN n
    ORDER BY n_ab DESC, tok_a, tok_b
    LIMIT {_PMI_TOPK}
    """,
)
def text_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: document-level co-occurrence lift (the
    rational PMI surrogate N·n_ab / (df_a·df_b), ×1000 floor — integer
    exact) for pairs of high-frequency tokens. The pair join is bounded
    BY CONSTRUCTION: only the top-{_PMI_VOCAB} vocabulary participates,
    so each document contributes at most C({_PMI_VOCAB},2) pairs
    regardless of corpus size — the vocab broadcast + within-doc
    equi-join shape every bounded co-occurrence pass uses at 100 TB.

    Scale: vocab is a corpus-wide token groupBy (map-side combined) cut
    to {_PMI_VOCAB} rows and broadcast; pairs shuffle once on the
    (tok_a, tok_b) key with partial aggregation."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    t2 = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    vocab = (
        t2.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.desc("df"), "token")
        .limit(_PMI_VOCAB)
    )
    tv = t2.join(F.broadcast(vocab), "token")
    n = t2.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    a = tv.select(
        F.col("doc_id").alias("k"),
        F.col("token").alias("tok_a"),
        F.col("df").alias("df_a"),
    )
    b = tv.select(
        F.col("doc_id").alias("k"),
        F.col("token").alias("tok_b"),
        F.col("df").alias("df_b"),
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "df_a", "df_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.expr("1000 * n_ab * n_docs div (df_a * df_b)")
            .cast("long")
            .alias("lift_x1000"),
        )
        .orderBy(F.desc("n_ab"), "tok_a", "tok_b")
        .limit(_PMI_TOPK)
    )


# --- composite quality gate (bitmask reasons) ------------------------------

_Q_MIN_TOK = 20
_Q_MAX_TOK = 90
_Q_MAX_WORD = 15
_Q_MIN_STOP_KINDS = 2

_Q_STOP_SQL = "['the','a','of','and','to','in','is','it']"


@query(
    "text_quality_gate",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    flags AS (
      SELECT doc_id,
        CASE WHEN len(toks) < {_Q_MIN_TOK} THEN 1 ELSE 0 END
        + CASE WHEN len(toks) > {_Q_MAX_TOK} THEN 2 ELSE 0 END
        + CASE WHEN len(list_filter(toks,
                    x -> length(x) > {_Q_MAX_WORD})) > 0 THEN 4 ELSE 0 END
        + CASE WHEN len(list_intersect(list_distinct(toks), {_Q_STOP_SQL}))
                    < {_Q_MIN_STOP_KINDS} THEN 8 ELSE 0 END
          AS reasons
      FROM s
    )
    SELECT reasons, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM flags GROUP BY reasons ORDER BY reasons
    """,
)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pretraining quality gate: every document is scored
    against four independent heuristics — too short (<{_Q_MIN_TOK}
    tokens, bit 1), too long (>{_Q_MAX_TOK}, bit 2), over-long word
    (>{_Q_MAX_WORD} chars, bit 4: mojibake/URL smell), too few distinct
    stopwords (<{_Q_MIN_STOP_KINDS}, bit 8: non-prose smell) — and the
    REASON BITMASK is reported per combination, the diagnostic view a
    filter-tuning loop needs (reasons=0 is the keep set). All integer
    comparisons (no float thresholds to drift cross-engine).

    Scale: pure map-side row scoring; the shuffle carries at most 16
    (reasons, partial) rows per task. Composing the bits here instead
    of running 4 filter passes reads the corpus ONCE — at 100 TB the
    scan is the cost, so one pass at 4 signals beats 4 passes at 1."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(s) for s in
                     ["the", "a", "of", "and", "to", "in", "is", "it"]])
    reasons = (
        F.when(F.size(toks) < _Q_MIN_TOK, 1).otherwise(0)
        + F.when(F.size(toks) > _Q_MAX_TOK, 2).otherwise(0)
        + F.when(
            F.size(F.filter(toks, lambda x: F.length(x) > _Q_MAX_WORD)) > 0, 4
        ).otherwise(0)
        + F.when(
            F.size(F.array_intersect(F.array_distinct(toks), stop))
            < _Q_MIN_STOP_KINDS,
            8,
        ).otherwise(0)
    )
    return (
        docs.select("doc_id", reasons.alias("reasons"))
        .groupBy("reasons")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("example_doc"),
        )
        .orderBy("reasons")
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT d.lang, t.term
      FROM documents d,
           unnest(string_split(d.text, ' ')) AS t(term)
    ),
    tf AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM tok GROUP BY lang, term
    )
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS hapax_share,
           CAST((1000000 * COUNT(*)) // SUM(freq) AS BIGINT) AS ttr_ppm
    FROM tf GROUP BY lang ORDER BY lang
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lexical-richness profile: token count, vocabulary
    size (types), hapax legomena (terms occurring exactly once), hapax
    share, and type-token ratio as exact ppm. The corpus-linguistics
    vitality signal: a synthetically templated or heavily duplicated
    slice shows a collapsing hapax share and TTR long before dedup
    metrics move, and a noisy OCR slice shows the opposite spike —
    complementing text_oov_rate (closed-vocab view) with the
    open-vocab view. Same whitespace tokenization as text_top_terms.

    Scale: explode → ONE (lang, term) keyed shuffle with map-side
    combine (the term-frequency shape every text op here uses), then a
    per-lang fold over the tf frame — bounded by vocabulary size, never
    corpus size. Counts are exact BIGINTs; hapax_share is one
    bigint→double division; TTR is floor-ppm on nonnegative ints."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = tok.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    hapax = F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).cast("long")
    return (
        tf.groupBy("lang")
        .agg(
            F.sum("freq").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            hapax.alias("n_hapax"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_types",
            "n_hapax",
            (F.col("n_hapax").cast("double") / F.col("n_types")).alias(
                "hapax_share"
            ),
            F.expr("1000000 * n_types div n_tokens")
            .cast("long")
            .alias("ttr_ppm"),
        )
        .orderBy("lang")
    )


# --- bigram transition surprisal (integer LM-score proxy) -------------------


@query(
    "text_bigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, t[u.i + 1] AS w1, t[u.i + 2] AS w2
      FROM tok, LATERAL (SELECT unnest(range(len(t) - 1)) AS i) u
    ),
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
    ),
    scored AS (
      SELECT bg.doc_id,
             COUNT(*) AS n_bigrams,
             SUM(length(bin(c1.c1)) - length(bin(c12.c12)))
               AS surprisal_sum
      FROM bg
      JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
      JOIN c1 ON bg.w1 = c1.w1
      GROUP BY bg.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(surprisal_sum AS BIGINT) AS surprisal_sum,
           CAST((100 * surprisal_sum) // n_bigrams AS BIGINT)
             AS avg_surprisal_x100
    FROM scored ORDER BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram surprisal — the integer stand-in for an
    n-gram LM score: each transition w1→w2 costs
    bitwidth(c(w1·)) − bitwidth(c(w1 w2)) ≈ −log2 p(w2|w1), summed per
    document (the bin()-length trick of text_rare_token_score extended
    from unigram rarity to TRANSITION probability — what a KenLM-style
    quality filter scores, minus the transcendental log that would not
    be bit-reproducible across engines). High average surprisal flags
    incoherent/shuffled text; low flags templated boilerplate.

    Determinism: all counts exact BIGINTs; the per-transition score is
    a bitwidth difference (c12 ≤ c1 ⇒ score ≥ 0); the x100 average is
    floor integer division. Bigrams follow text_repetition_filter's
    raw-split-adjacency convention.

    Scale: one bigram pass → (w1,w2) counts (map-side combined); the
    continuation totals c1 derive from the ALREADY-aggregated c12 frame
    (vocab²-bounded, not corpus-bounded); the score join back is
    co-partitioned on the bigram key; final per-doc aggregate is
    map-side combinable. No vocabulary ever sits on one node — the
    unbounded-vocab template of text_rare_token_score."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    zipped = F.arrays_zip(
        F.slice(F.col("t"), 1, F.size("t") - 1),
        F.slice(F.col("t"), 2, F.size("t") - 1),
    )
    bg = tok.filter(F.size("t") >= 2).select(
        "doc_id", F.explode(zipped).alias("z")
    ).select(
        "doc_id",
        F.col("z").getField("0").alias("w1"),
        F.col("z").getField("1").alias("w2"),
    )
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    score = F.length(F.bin(F.col("c1"))) - F.length(F.bin(F.col("c12")))
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(score).cast("long").alias("surprisal_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "surprisal_sum",
        F.expr("(100 * surprisal_sum) div n_bigrams").alias(
            "avg_surprisal_x100"
        ),
    ).orderBy("doc_id")


_SWEEP_TAUS = ("0.35", "0.45", "0.55", "0.65")
_MAX_CHUNKS = 16  # same cap as text_chunk_dedup (docs here are short)


@query(
    "text_chunk_dedup_impact",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, source, i AS chunk_idx,
             md5(array_to_string(
               list_slice(toks, i * {CHUNK_TOK} + 1,
                          (i + 1) * {CHUNK_TOK}), ' ')) AS chunk_hash
      FROM tok
      CROSS JOIN (SELECT unnest(range({_MAX_CHUNKS})) AS i)
      WHERE len(toks) >= (i + 1) * {CHUNK_TOK}
    ),
    first_site AS (
      SELECT chunk_hash,
             MIN(doc_id * 1000 + chunk_idx) AS first_site
      FROM chunks GROUP BY chunk_hash
    ),
    marked AS (
      SELECT c.source,
             (c.doc_id * 1000 + c.chunk_idx) <> f.first_site AS removed
      FROM chunks c JOIN first_site f ON f.chunk_hash = c.chunk_hash
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) * {CHUNK_TOK}
                AS BIGINT) AS tokens_removed,
           CAST(COUNT(*) - SUM(CASE WHEN removed THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS kept_frac
    FROM marked GROUP BY source ORDER BY source
    """,
)
def text_chunk_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What sub-document (chunk-level) dedup would DELETE, per source:
    every fixed {_CHUNK_TOK}-token window is hashed (the text_chunk_dedup
    convention), the globally-first occurrence (min doc_id·1000+idx) is
    the keeper, and every other occurrence counts as removed — reported
    as chunk and token counts plus the surviving fraction per source.
    text_chunk_dedup lists the worst boilerplate; THIS is the budget
    table that says which sources a chunk-dedup pass actually shrinks
    (a source at kept_frac 0.6 is 40%% templated).

    Scale: chunking is map-side; the only shuffles are the chunk-hash
    aggregate (map-side combinable, same shape as dedup_exact) and the
    hash-key join back — candidate sets bounded by occurrence counts,
    never pairwise. Source-grain output."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    chunks = docs.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_MAX_CHUNKS - 1)),
                lambda i: F.when(
                    F.size("toks") >= (i + 1) * CHUNK_TOK,
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.slice(
                                F.col("toks"), i * CHUNK_TOK + 1, CHUNK_TOK
                            ),
                        )
                    ),
                ),
            )
        ).alias("chunk_idx", "chunk_hash"),
    ).filter(F.col("chunk_hash").isNotNull())
    site = F.col("doc_id") * 1000 + F.col("chunk_idx")
    first = chunks.groupBy("chunk_hash").agg(
        F.min(F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("first_site")
    )
    marked = chunks.join(first, "chunk_hash").select(
        "source", (site != F.col("first_site")).alias("removed")
    )
    rem = F.sum(F.when(F.col("removed"), 1).otherwise(0))
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            rem.cast("long").alias("n_removed"),
            (rem * CHUNK_TOK).cast("long").alias("tokens_removed"),
            (
                (F.count(F.lit(1)) - rem).cast("double") / F.count(F.lit(1))
            ).alias("kept_frac"),
        )
        .orderBy("source")
    )


@query(
    "text_quality_threshold_sweep",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS uniq_ratio
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS total_tokens FROM scored),
    taus AS (
      SELECT CAST(unnest([{", ".join(_SWEEP_TAUS)}]) AS DOUBLE) AS tau
    )
    SELECT tau,
           CAST(SUM(CASE WHEN uniq_ratio >= tau THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_kept,
           CAST(SUM(CASE WHEN uniq_ratio >= tau THEN n_toks ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN uniq_ratio >= tau THEN n_toks ELSE 0 END)
                AS DOUBLE) / total_tokens AS token_share
    FROM scored CROSS JOIN taus CROSS JOIN tot
    GROUP BY tau, total_tokens ORDER BY tau
    """,
)
def text_quality_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The filter-threshold curve: for each candidate quality cutoff τ
    (over the shared uniqueness-ratio score of text_quality_score), the
    documents and tokens a "keep uniq_ratio ≥ τ" gate retains and the
    retained token share. Data teams pick τ by reading THIS table —
    the point where quality gain stops being worth the token budget —
    rather than re-running the pipeline per candidate.

    Determinism: the score is one double division of exact integers;
    the τ grid is shared literals; every comparison and rollup is
    engine-identical.

    Scale: scoring is map-side; the sweep is a 4-row broadcast cross
    join folded into ONE conditional aggregate — the corpus is scanned
    once for all thresholds, not once per threshold."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        F.size(toks).alias("n_toks"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "uniq_ratio"
        ),
    )
    tot = scored.agg(F.sum("n_toks").cast("long").alias("total_tokens"))
    taus = spark.range(1).select(
        F.explode(
            F.array(*[F.expr(t).cast("double") for t in _SWEEP_TAUS])
        ).alias("tau")
    )
    kept = F.col("uniq_ratio") >= F.col("tau")
    return (
        scored.crossJoin(F.broadcast(taus))
        .crossJoin(F.broadcast(tot))
        .groupBy("tau", "total_tokens")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias(
                "n_docs_kept"
            ),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
            (
                F.sum(F.when(kept, F.col("n_toks")).otherwise(0)).cast(
                    "double"
                )
                / F.col("total_tokens")
            ).alias("token_share"),
        )
        .select("tau", "n_docs_kept", "tokens_kept", "token_share")
        .orderBy("tau")
    )


@query(
    "text_vocab_contribution",
    oracle="""
    WITH flat AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    per_src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
      FROM flat GROUP BY source
    ),
    first AS (SELECT tok, MIN(doc_id) AS fd FROM flat GROUP BY tok),
    owner AS (
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS vocab_owned
      FROM first f JOIN documents d ON d.doc_id = f.fd
      GROUP BY d.source
    )
    SELECT p.source, p.n_tokens, p.vocab_size,
           CAST(COALESCE(o.vocab_owned, 0) AS BIGINT) AS vocab_owned,
           CAST(COALESCE(o.vocab_owned, 0) AS DOUBLE) / p.vocab_size
             AS owned_frac
    FROM per_src p LEFT JOIN owner o ON o.source = p.source
    ORDER BY p.source
    """,
)
def text_vocab_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources CONTRIBUTE vocabulary: per source, token volume,
    in-source vocabulary size, and the number of corpus terms whose
    globally-first occurrence (min doc_id — the deterministic corpus
    order) lands in that source. A source with high volume but near-
    zero owned vocabulary is re-treading the corpus (candidate for
    down-weighting in the mix); the long-tail sources that own
    disproportionate vocabulary are what Heaps-law growth
    (text_heaps_law) is made of.

    Scale: one explode + two token-key aggregates (map-side combined)
    and a doc_id-key join for ownership attribution — the token
    aggregate is the same shuffle text_top_terms pays; no pairwise
    shapes. Source-grain output."""
    docs = load(spark, sf_dir, "documents")
    flat = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    per_src = flat.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("vocab_size"),
    )
    first = flat.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    owner = (
        first.join(
            docs.select(F.col("doc_id").alias("fd"), "source"), "fd"
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_owned"))
    )
    return (
        per_src.join(owner, "source", "left")
        .select(
            "source",
            "n_tokens",
            "vocab_size",
            F.coalesce(F.col("vocab_owned"), F.lit(0))
            .cast("long")
            .alias("vocab_owned"),
            (
                F.coalesce(F.col("vocab_owned"), F.lit(0)).cast("double")
                / F.col("vocab_size")
            ).alias("owned_frac"),
        )
        .orderBy("source")
    )


@query(
    "text_bpe_fertility_by_lang",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             len(string_split(text, ' ')) AS ws,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS bpe,
             n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(bpe) AS DOUBLE) / SUM(ws) AS fertility,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(bpe) AS chars_per_token
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def text_bpe_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word and characters per token (the text_bpe_token_count regex
    tokenizer, rolled up by lang). Fertility is THE cross-lingual
    tokenizer-fairness metric — a language at 2× fertility pays 2× the
    sequence length (and 2× the compute bill) for the same content, so
    this table drives vocabulary re-balancing before a multilingual
    training run.

    Scale: per-doc token counting is map-side regex work; one
    |langs|-key rollup with map-side combine; ratios divide exact
    BIGINTs."""
    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.size(F.split("text", " ")).alias("ws"),
        F.size(
            F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).alias("bpe"),
        "n_chars",
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
            # try_divide (r13 division audit): a language bucket of
            # all-empty documents zeroes the token sums (legal input);
            # NULL, not an ANSI abort (DuckDB double /0 is natively
            # NULL).
            F.try_divide(F.sum("bpe").cast("double"), F.sum("ws")).alias(
                "fertility"
            ),
            F.try_divide(
                F.sum("n_chars").cast("double"), F.sum("bpe")
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )
