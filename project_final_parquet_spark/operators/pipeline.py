"""Dataset-assembly operators: reproducible splits, vocabulary-based
quality scoring, and CDC-style snapshot merge.

These are the glue ops of a training-data pipeline: after filtering
(llm_text*.py) and dedup (dedup.py), the corpus gets split, scored
against a learned vocabulary, and periodically reconciled against
change feeds. All decisions are content-hash or integer based — the
same split assignment and the same scores on any cluster size, any
retry, and in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ckpt import checkpoint, release
from ..registry import query
from ..tables import load

# --- reproducible train/val/test split -------------------------------------

# split by the first two hex digits of a salted content hash, compared
# LEXICOGRAPHICALLY (hex strings order consistently in both engines):
# 'e6' = 230/256 ≈ 90% train, 'f3' = 243/256 ≈ 5% val, rest test.
_TRAIN_HI = "e6"
_VAL_HI = "f3"


@query(
    "split_train_val_test",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tok,
             substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) AS hp
      FROM documents
    )
    SELECT lang,
           CASE WHEN hp < '{_TRAIN_HI}' THEN 'train'
                WHEN hp < '{_VAL_HI}' THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM s GROUP BY lang, split ORDER BY lang, split
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~90/5/5 train/val/test split: assignment is a pure
    function of the salted document hash, so re-running the pipeline —
    on more executors, after a retry, next month on a grown corpus —
    never moves an existing document across splits (the leakage
    guarantee rand() splits cannot give). Map-side assignment; the
    shuffle moves only the (lang × split) aggregate."""
    docs = load(spark, sf_dir, "documents")
    hp = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2
    )
    split = (
        F.when(hp < _TRAIN_HI, "train")
        .when(hp < _VAL_HI, "val")
        .otherwise("test")
    )
    return (
        docs.select(
            "lang",
            split.alias("split"),
            F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .orderBy("lang", "split")
    )


# --- out-of-vocabulary rate vs a learned corpus vocabulary -----------------

_VOCAB_K = 1000


@query(
    "text_oov_rate",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM w GROUP BY w
      ) ORDER BY c DESC, w LIMIT {_VOCAB_K}
    ),
    scored AS (
      SELECT w.doc_id,
             COUNT(*) AS n_tokens,
             COUNT(*) FILTER (WHERE v.w IS NULL) AS n_oov
      FROM w LEFT JOIN vocab v USING (w) GROUP BY w.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           10 * n_oov > n_tokens AS oov_flagged
    FROM scored ORDER BY doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary quality signal: learn the top-{_VOCAB_K} corpus
    vocabulary (total-ordered: count desc, term asc), then score every
    document's OOV token fraction against it; flag docs with >10% OOV.
    The vocabulary is tiny and BROADCAST — the corpus-side scan is
    joined map-side, and the only big shuffles are the two word-count
    aggregations with map-side partial combine. This is the distributed
    form of every 'score against a learned artifact' pipeline stage
    (vocab, classifier weights, centroids): learn small, broadcast,
    score map-side."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(_VOCAB_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    scored = (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count_if(F.col("in_vocab").isNull()).alias("n_oov"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (10 * F.col("n_oov") > F.col("n_tokens")).alias("oov_flagged"),
    ).orderBy("doc_id")


# --- CDC-style snapshot merge ----------------------------------------------


@query(
    "upsert_snapshot",
    oracle="""
    WITH delta AS (
      SELECT o_custkey AS k,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                  AS DECIMAL(38,10)) AS d
      FROM orders WHERE o_orderdate >= DATE '1997-01-01'
      GROUP BY o_custkey
    ),
    changes AS (
      SELECT k, d FROM delta
      UNION ALL
      SELECT o_custkey + 10000000 AS k,
             CAST(CAST(o_totalprice AS DECIMAL(38,10)) AS DECIMAL(38,10)) AS d
      FROM orders WHERE o_orderkey % 1000 = 0
    ),
    merged AS (
      SELECT COALESCE(c.c_custkey, ch.k) AS k,
             CASE WHEN c.c_custkey IS NULL THEN 'insert'
                  WHEN ch.k IS NULL THEN 'keep'
                  ELSE 'update' END AS op,
             CAST(COALESCE(CAST(c.c_acctbal AS DECIMAL(38,10)), 0)
                  + COALESCE(ch.d, 0) AS DECIMAL(38,10)) AS new_bal
      FROM customer c FULL OUTER JOIN changes ch ON c.c_custkey = ch.k
    )
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(new_bal) AS VARCHAR) AS DOUBLE) AS total_balance
    FROM merged GROUP BY op ORDER BY op
    """,
)
def upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics on plain parquet: reconcile a customer
    snapshot with a change feed (recent-order balance deltas, plus
    synthetic never-seen keys to exercise the insert path) via FULL
    OUTER JOIN — rows classify as insert / update / keep exactly as a
    SQL MERGE would. The join shuffles both sides on the key (the
    change feed is normally << snapshot, and AQE will broadcast it when
    small enough); balances accumulate in DECIMAL(38,10) per the
    cross-engine float convention."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    dec = lambda c: F.col(c).cast("decimal(38,10)")  # noqa: E731
    delta = (
        orders.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(dec("o_totalprice")).cast("decimal(38,10)").alias("d"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_custkey") + 10000000).alias("k"),
        dec("o_totalprice").cast("decimal(38,10)").alias("d"),
    )
    changes = delta.unionByName(inserts)
    merged = customer.join(
        changes, customer.c_custkey == changes.k, "full_outer"
    ).select(
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("k").isNull(), "keep")
        .otherwise("update")
        .alias("op"),
        (
            F.coalesce(dec("c_acctbal"), F.lit(0).cast("decimal(38,10)"))
            + F.coalesce(F.col("d"), F.lit(0).cast("decimal(38,10)"))
        )
        .cast("decimal(38,10)")
        .alias("new_bal"),
    )
    return (
        merged.groupBy("op")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("new_bal").cast("double").alias("total_balance"),
        )
        .orderBy("op")
    )


@query(
    "sample_rebalance_classes",
    oracle="""
    WITH t AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total
      FROM documents GROUP BY lang
    ),
    tgt AS (SELECT MIN(n_total) AS target FROM t),
    rk AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':rb'), doc_id
             ) AS rn
      FROM documents
    ),
    kept AS (
      SELECT lang, doc_id FROM rk CROSS JOIN tgt WHERE rn <= tgt.target
    )
    SELECT t.lang, t.n_total,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
           CAST(SUM(k.doc_id) AS BIGINT) AS kept_checksum
    FROM t JOIN kept k ON t.lang = k.lang
    GROUP BY t.lang, t.n_total
    ORDER BY t.lang
    """,
)
def sample_rebalance_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing: downsample every language to the size of the
    SMALLEST language (uniform class distribution for a training mix),
    selecting members by salted-hash order — deterministic on any
    cluster size, no RNG state. Emits per-class totals plus an exact
    integer checksum of the kept ids so the oracle verifies WHICH rows
    survived, not just how many.

    Scale: exact per-class top-`target` needs a per-class ordered rank
    (one reducer per class — fine for 10s of classes, skewed for few
    huge ones); the constant-factor scale path is the pure-predicate
    hash filter (sample_stratified_hash), trading exact counts for
    map-only selection. This op is the exact-count complement."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    target = totals.agg(F.min("n_total").alias("target"))
    rk = docs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rb"))),
                "doc_id",
            )
        ),
    )
    kept = rk.crossJoin(F.broadcast(target)).filter(
        F.col("rn") <= F.col("target")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("kept_checksum"),
        )
        .join(F.broadcast(totals), "lang")
        .select("lang", "n_total", "n_kept", "kept_checksum")
        .orderBy("lang")
    )


@query(
    "scd2_build",
    oracle="""
    SELECT user_id,
           epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS valid_to_us,
           event_id AS version_event_id,
           value,
           CASE WHEN lead(epoch_us(ts)) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                ) IS NULL THEN TRUE ELSE FALSE END AS is_current
    FROM events
    WHERE user_id < 10
    ORDER BY user_id, valid_from_us, version_event_id
    """,
)
def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream: each
    change event becomes a version row with a [valid_from, valid_to)
    interval — valid_to = next change's timestamp (lead), NULL + flag
    for the open current version. The complement of upsert_snapshot
    (latest-state CDC): SCD2 keeps full history for as-of joins.

    One user_id shuffle + one window; at 100 TB the dimension is
    partitioned by key and each key's history is a bounded window
    partition. Restricted to 10 users for the gate."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    valid_to = F.lead("ts_us").over(w)
    return (
        ev.select(
            "user_id",
            F.col("ts_us").alias("valid_from_us"),
            valid_to.alias("valid_to_us"),
            F.col("event_id").alias("version_event_id"),
            "value",
            valid_to.isNull().alias("is_current"),
        )
        .orderBy("user_id", "valid_from_us", "version_event_id")
    )


@query(
    "cdc_tombstone_merge",
    oracle="""
    WITH ops AS (
      SELECT user_id AS k,
             epoch_us(ts) AS t,
             event_id,
             CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op,
             value
      FROM events
    ),
    last_op AS (
      SELECT k, op, value
      FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY k ORDER BY t DESC, event_id DESC) AS rn
        FROM ops
      ) WHERE rn = 1
    ),
    survivors AS (SELECT k, value FROM last_op WHERE op = 'U'),
    stats AS (
      SELECT (SELECT COUNT(*) FROM last_op) AS n_keys,
             (SELECT COUNT(*) FROM survivors) AS n_live,
             (SELECT COUNT(*) FROM last_op WHERE op = 'D') AS n_deleted
    )
    SELECT CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_live AS BIGINT) AS n_live,
           CAST(n_deleted AS BIGINT) AS n_deleted,
           (SELECT {dsum} FROM survivors) AS live_value_sum
    FROM stats
    """.format(dsum="CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"),
)
def cdc_tombstone_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction WITH DELETE TOMBSTONES: the change stream carries
    upserts and deletes (here: 'click' events act as delete markers,
    everything else upserts); last-writer-wins per key by (ts,
    event_id), and a key whose final operation is a delete vanishes
    from the snapshot — the log-compaction semantics of a Kafka
    compacted topic / Delta MERGE WHEN MATCHED DELETE. Emits snapshot
    stats: total keys seen, live keys, tombstoned keys, live value sum.

    One key shuffle (window) — same cost shape as upsert_snapshot's
    merge; at 100 TB the ops log is partitioned by key and compaction
    is embarrassingly parallel across keys."""
    ev = load(spark, sf_dir, "events")
    ops = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts_us").alias("t"),
        "event_id",
        F.when(F.col("event_type") == "click", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    w = Window.partitionBy("k").orderBy(F.desc("t"), F.desc("event_id"))
    last_op = (
        ops.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "op", "value")
    )
    survivors = last_op.filter(F.col("op") == "U")
    stats = (
        last_op.agg(F.count(F.lit(1)).alias("n_keys"))
        .crossJoin(survivors.agg(F.count(F.lit(1)).alias("n_live")))
        .crossJoin(
            last_op.filter(F.col("op") == "D").agg(
                F.count(F.lit(1)).alias("n_deleted")
            )
        )
        .crossJoin(
            survivors.agg(
                F.sum(F.col("value").cast("decimal(38,10)"))
                .cast("double")
                .alias("live_value_sum")
            )
        )
    )
    return stats.select("n_keys", "n_live", "n_deleted", "live_value_sum")


@query(
    "sample_negatives",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    anchors AS (SELECT doc_id FROM documents WHERE doc_id < 20),
    raw AS (
      SELECT a.doc_id AS anchor_id, k.k AS neg_idx,
             CAST(concat('0x', substr(md5(
               CAST(a.doc_id AS VARCHAR) || ':neg' || CAST(k.k AS VARCHAR)
             ), 1, 15)) AS BIGINT) % n.n_docs AS neg_raw,
             n.n_docs
      FROM anchors a
      CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
      CROSS JOIN n
    ),
    picked AS (
      SELECT anchor_id, neg_idx,
             CASE WHEN neg_raw = anchor_id
                  THEN (neg_raw + 1) % n_docs ELSE neg_raw END AS neg_id
      FROM raw
    )
    SELECT p.anchor_id, p.neg_idx, p.neg_id, d.lang AS neg_lang
    FROM picked p JOIN documents d ON p.neg_id = d.doc_id
    ORDER BY p.anchor_id, p.neg_idx
    """,
)
def sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: 3
    negatives per anchor, drawn by salted hash modulo the corpus size
    (doc_ids are dense 0..N-1), anchor-collision bumped to the next id.
    No RNG state, so the same (anchor, idx) → negative mapping on any
    cluster size, any retry, and in the oracle — resumable sampling for
    a 100 TB corpus is exactly this property. The negative lookup is a
    join against the docs table on the sampled id (shuffle or broadcast
    per AQE; map-only before it)."""
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    anchors = docs.filter(F.col("doc_id") < 20).select("doc_id")
    ks = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("neg_idx")
    raw = (
        anchors.select(F.col("doc_id").alias("anchor_id"))
        .select("anchor_id", ks)
        .crossJoin(F.broadcast(n))
        .select(
            "anchor_id",
            "neg_idx",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("anchor_id").cast("string"),
                                F.lit(":neg"),
                                F.col("neg_idx").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n_docs")
            ).alias("neg_raw"),
            "n_docs",
        )
    )
    picked = raw.select(
        "anchor_id",
        "neg_idx",
        F.when(
            F.col("neg_raw") == F.col("anchor_id"),
            (F.col("neg_raw") + 1) % F.col("n_docs"),
        )
        .otherwise(F.col("neg_raw"))
        .alias("neg_id"),
    )
    return (
        picked.join(
            docs.select(
                F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang")
            ),
            "neg_id",
        )
        .select("anchor_id", "neg_idx", "neg_id", "neg_lang")
        .orderBy("anchor_id", "neg_idx")
    )


@query(
    "ivm_merge_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS VARCHAR)
                AS DOUBLE) AS sum_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ivm_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the materialized aggregate over
    yesterday's data (events with even ids) is MERGED with the delta
    batch's partial aggregate (odd ids) — count adds, decimal sums add,
    max takes max — and must equal the full recompute (the oracle).
    This algebraic-merge property is what lets a 100 TB rollup absorb a
    new partition by aggregating ONLY the delta: the merge runs over
    two group-count-sized frames, never re-reading history. (The
    DECIMAL sum is the order-independent representation that makes the
    merge exact; a double running sum would drift.)"""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("s"),
            F.max("value").alias("mx"),
        )

    old = partial(ev.filter(F.col("event_id") % 2 == 0))
    delta = partial(ev.filter(F.col("event_id") % 2 == 1))
    merged = (
        old.select("event_type", "n", "s", "mx")
        .unionByName(delta.select("event_type", "n", "s", "mx"))
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").cast("double").alias("sum_value"),
            F.max("mx").alias("max_value"),
        )
    )
    return merged.orderBy("event_type")


def _e2e_oracle() -> str:
    from .dedup import minhash_pairs_sql

    return f"""
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
      SELECT l.doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY l.component_id
               ORDER BY d.n_chars DESC, l.doc_id) AS rn
      FROM labels l JOIN documents d ON l.doc_id = d.doc_id
    ),
    kept AS (
      SELECT doc_id FROM ranked WHERE rn = 1
      UNION ALL
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM labels)
    ),
    filtered AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN kept k ON d.doc_id = k.doc_id
      WHERE d.n_chars BETWEEN 80 AND 520
    ),
    assigned AS (
      SELECT lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                              1, 2) < 'e6' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                              1, 2) < 'f3' THEN 'val'
                  ELSE 'test' END AS split,
             len(string_split(text, ' ')) AS n_tok
      FROM filtered
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM assigned
    GROUP BY split, lang
    ORDER BY split, lang
    """


@query("pipeline_e2e_pretrain", oracle=_e2e_oracle())
def pipeline_e2e_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining data pipeline as one composition:
    near-dup clustering (MinHash+LSH → connected components) →
    canonical-survivor selection (richest doc per cluster, singletons
    pass through) → quality filter (length band) → leakage-proof hash
    split → per-(split, lang) manifest counts. Every stage is one of
    this repo's gated operators; composing them is a plain DataFrame
    expression — the plan fuses the filter and split into the
    post-dedup scan, and only the tiny manifest aggregate reaches the
    driver. This is the lifecycle a 100 TB corpus actually runs, end to
    end in one lazy job (iterative CC executes at construction, per the
    registry contract)."""
    from .dedup import (
        connected_components_converged,
        minhash_pairs_materialized,
    )

    docs = load(spark, sf_dir, "documents")

    # sig-checkpointed pair materialization (optimization r13 — the
    # shingle→minhash tree is evaluated once, not three times)
    pairs = minhash_pairs_materialized(spark, sf_dir)
    edges = pairs.union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).withColumnsRenamed({"doc_a": "u", "doc_b": "v"})
    # fixed-point CC (the dedup_cluster_components form): exact
    # min-reachable labels, 2 rounds at this corpus vs the fixed
    # form's always-4 (r12 sweep finding)
    cc_labels, _cc_rounds = connected_components_converged(edges)
    labels = cc_labels.select(
        F.col("u").alias("doc_id"), F.col("label").alias("component_id")
    )
    release(pairs)  # final CC frame is materialized; pairs superseded

    ranked = labels.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component_id").orderBy(
                F.desc("n_chars"), "doc_id"
            )
        ),
    )
    # keep-set inverted to a DROP-set (optimization r14): kept =
    # survivors ∪ (docs ∖ labels) is exactly docs ∖ {cluster members
    # with rn > 1} — labels ⊆ docs, every cluster keeps its rn=1 row —
    # so the manifest needs TWO passes over documents (the light
    # (doc_id, n_chars) ranking pass and the full filter pass) instead
    # of three, and the dropped side of the anti-join is only the
    # duplicate rows, far smaller than the keep-set at any scale.
    dropped = ranked.filter(F.col("rn") > 1).select("doc_id")
    filtered = docs.join(dropped, "doc_id", "left_anti").filter(
        F.col("n_chars").between(80, 520)
    )
    hp = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2
    )
    split = (
        F.when(hp < _TRAIN_HI, "train")
        .when(hp < _VAL_HI, "val")
        .otherwise("test")
    )
    return (
        filtered.select(
            split.alias("split"),
            "lang",
            F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )
